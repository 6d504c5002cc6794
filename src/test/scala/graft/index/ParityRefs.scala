package graft.index

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextOps}
import graft.ops.Dedup.{HashMode, Md5Portable, Xx64}
import graft.query.Bm25

/** Parity references: the relational (Column) forms of the signature ops,
  * whose shapes the DuckDB oracles mirror, and the row-per-posting salted
  * sort the SPIMI run build replaced. Production runs the typed passes;
  * the specs assert those are byte-identical to these forms. The object
  * lives in `graft.index` so the sort can reach the build's package-private
  * helpers. (`Dedup.minhashColumnar` and `Similarity.annBucketsColumnar`
  * stay in main code.) */
object ParityRefs {

  private def md5s(c: Column): Column = md5(c.cast("binary"))

  /** Relational [[Dedup.lshBands]]: a groupBy over the Column signature. */
  def lshBandsColumnar(docs: DataFrame, nSeeds: Int = 8, rowsPerBand: Int = 2,
                       hash: HashMode = Md5Portable): DataFrame = {
    val bandCol = array_join(
      transform(array_sort(collect_list(struct(col("seed"), col("minhash")))),
        x => x.getField("minhash")), ",")
    val bandHash = hash match {
      case Md5Portable => md5s(bandCol) // full digest (pinned oracle shape)
      case Xx64 => Dedup.hashHex(bandCol, Xx64)
    }
    Dedup.minhashColumnar(docs, nSeeds, hash)
      .withColumn("band", (col("seed") / rowsPerBand).cast("long"))
      .groupBy(col("doc_id"), col("band"))
      .agg(bandHash.as("band_hash"))
  }

  /** Relational [[Dedup.simhash]]: tf aggregation, then a (doc, bit) vote
    * aggregation over a 32-way row multiplication. */
  def simhashColumnar(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val tf = TextOps.termFreq(docs)
      .withColumn("hx", md5s(col("term")))
    val pj = spark.range(1, 9).toDF("p")
      .crossJoin(spark.range(0, 4).toDF("j"))
    tf.crossJoin(broadcast(pj))
      .withColumn("v",
        conv(col("hx").substr(col("p").cast("int"), lit(1)), 16, 10).cast("int"))
      .withColumn("bit", ((col("p") - 1) * 4 + col("j")).cast("int"))
      .withColumn("vote", col("tf") *
        (expr("shiftright(v, cast(j as int))").bitwiseAND(1) * 2 - 1))
      .groupBy(col("doc_id"), col("bit"))
      .agg(sum(col("vote")).as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("s") > 0,
        expr("shiftleft(cast(1 as bigint), bit)")).otherwise(0L)).as("simhash"))
  }

  /** Column-slide [[Dedup.shingles]]: windows of n concatenated with
    * `transform` over a `sequence` of start offsets, then `array_distinct`. */
  def shinglesColumnar(docs: DataFrame, n: Int = 3): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    docs.select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(0), size(col("toks")) - n),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(n)))))).as("shingle"))
  }

  /** Relational [[Dedup.fingerprint]]: min md5 over the shingle relation. */
  def fingerprintColumnar(docs: DataFrame): DataFrame =
    shinglesColumnar(docs).groupBy(col("doc_id"))
      .agg(min(md5s(col("shingle"))).as("fingerprint"))

  /** Relational [[Dedup.weightedMinhash]]: tf via groupBy + sequence
    * explode (the DuckDB twin's generate-series expansion), then a
    * signature groupBy. */
  def weightedMinhashColumnar(docs: DataFrame, nSeeds: Int = 8,
                              hash: HashMode = Md5Portable): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val tf = docs.select(col("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val reps = tf.select(col("doc_id"), col("term"),
      explode(sequence(lit(0L), col("tf") - 1)).as("rep"))
    val minima = (0 until nSeeds).map { sd =>
      min(Dedup.hashHex(concat(lit(s"$sd:"), col("rep").cast("string"), lit(":"),
        col("term")), hash)).as(s"m$sd")
    }
    reps.groupBy(col("doc_id")).agg(minima.head, minima.tail: _*)
      .select(col("doc_id"), posexplode(array((0 until nSeeds).map(sd => col(s"m$sd")): _*)))
      .select(col("doc_id"), col("pos").cast("long").as("seed"),
        col("col").as("minhash"))
  }

  /** Relational query signatures (query_id, seed, minhash) over a
    * (query_id, term) relation — the construction of
    * `Dedup.minhashColumnar` as a crossJoin + groupBy. */
  def querySignatures(qt: DataFrame, nSeeds: Int): DataFrame =
    qt.crossJoin(broadcast(qt.sparkSession.range(nSeeds).toDF("seed")))
      .groupBy(col("query_id"), col("seed"))
      .agg(min(substring(md5s(
        concat(col("seed").cast("string"), lit(":"), col("term"))), 1, 16))
        .as("minhash"))

  /** Signature prefix hashes for every depth r = 1..nSeeds: ph(r) =
    * md5(minhash_0, …, minhash_{r−1}) — the relational form of
    * [[Dedup.minhashPrefixes]] and of the driver-side query prefixes. */
  def prefixes(sig: DataFrame, idCol: String, nSeeds: Int): DataFrame =
    sig.crossJoin(broadcast(sig.sparkSession.range(1, nSeeds + 1).toDF("r")))
      .filter(col("seed") < col("r"))
      .groupBy(col(idCol), col("r"))
      .agg(md5s(array_join(
        transform(array_sort(collect_list(struct(col("seed"), col("minhash")))),
          x => x.getField("minhash")), ",")).as("ph"))

  // ---- the row-per-posting salted sort ---------------------------------

  /** The shuffled value of the salted sort: doc_id plus (tf, dl) packed
    * into one long. */
  private[index] case class RunValue(doc_id: Long, tfdl: Long)

  /** Encode one doc_id-sorted run of [[RunValue]]s into blocks of ≤
    * blockSize MERGED postings. Consecutive rows with equal doc_id are
    * merged by summing tf BEFORE a posting is appended (a doc's merged
    * posting therefore never splits across blocks), so the raw
    * token-instance feed (tf=1 per occurrence) needs no separate
    * (term, doc_id) aggregation. */
  private def encodeRunValues(shard: Int, term: String, salt: Int,
                              rvs: Iterator[RunValue], blockSize: Int,
                              avgdl: Double): Iterator[PostingBlock] =
    new Iterator[PostingBlock] {
      private val buf = rvs.buffered
      private val docs = new Array[Long](blockSize)
      private val tfs = new Array[Long](blockSize)
      private val dls = new Array[Long](blockSize)
      private var blockId = 0
      def hasNext: Boolean = buf.hasNext
      def next(): PostingBlock = {
        var n = 0
        var maxTf = 0
        var maxSat = 0.0
        while (buf.hasNext && n < blockSize) {
          val v = buf.next()
          val docId = v.doc_id
          var tf = (v.tfdl >>> 32).toInt
          val dl = v.tfdl.toInt
          while (buf.hasNext && buf.head.doc_id == docId)
            tf += (buf.next().tfdl >>> 32).toInt
          docs(n) = docId; tfs(n) = tf.toLong; dls(n) = dl.toLong
          if (tf > maxTf) maxTf = tf
          val s = Bm25.tfSat(tf, dl, avgdl)
          if (s > maxSat) maxSat = s
          n += 1
        }
        val blk = PostingBlock(
          shard, term, salt, blockId, docs(0), docs(n - 1), n,
          maxTf, maxSat,
          VarByte.encodeDeltas(java.util.Arrays.copyOf(docs, n)),
          VarByte.encode(java.util.Arrays.copyOf(tfs, n)),
          VarByte.encode(java.util.Arrays.copyOf(dls, n)))
        blockId += 1
        blk
      }
    }

  /** The row-per-posting salted sort that [[IndexBuild.saltedRuns]]
    * replaced: one shuffled row per posting, grouped by (shard|salt, term)
    * and sorted by doc_id. */
  def saltedRunsSortShuffle(
      tf: Dataset[ShardPosting], hotDf: Map[String, Long],
      p: BuildParams, avgdl: Double): Dataset[PostingBlock] = {
    val spark = tf.sparkSession
    import spark.implicits._
    val hotSalts: Map[String, Int] = hotDf.map { case (t, df) =>
      t -> IndexBuild.saltCount(df, p.targetPerSalt)
    }
    val bcHot = spark.sparkContext.broadcast(hotSalts)
    val blockSize = p.blockSize
    tf
      .groupByKey { pp =>
        val n = bcHot.value.getOrElse(pp.term, 1)
        ((pp.shard.toLong << 32) | (IndexBuild.rangeSalt(pp.doc_id, n) & 0xFFFFFFFFL), pp.term)
      }
      .mapValues(pp => RunValue(pp.doc_id, (pp.tf.toLong << 32) | pp.dl))
      .flatMapSortedGroups($"doc_id") { case ((gk, term), it) =>
        encodeRunValues((gk >>> 32).toInt, term, gk.toInt, it,
          blockSize, avgdl)
      }
  }
}
