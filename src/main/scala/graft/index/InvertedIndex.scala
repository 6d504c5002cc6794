package graft.index

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Observation, SaveMode,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.data.Page

/** On-disk index layout (Iceberg-shaped: partitioned Parquet behind a
  * `TableIO`-style seam — in production these directories are Iceberg
  * tables and every write below becomes `writeTo(...).createOrReplace()`/
  * `append()`; no other code changes):
  *
  *   <dir>/postings/shard=<s>/bucket=<b>/   (Parquet PostingBlock rows,
  *        sorted by term within files → Parquet min-max prunes term lookups;
  *        bucket = pmod(xxhash64(term), nTermBuckets) → directory pruning)
  *   <dir>/docstats/shard=<s>/                        (doc_id, url, doclen)
  *   <dir>/corpus/shard=<s>/                          (n_docs, sum_dl) per shard
  *   <dir>/manifest/                                  (append-only commit log)
  *   <dir>/params/                                    (layout BuildParams)
  *
  * Manifest, params and corpus are read in one place, [[snapshot]], with
  * their declared schemas; builds, segment appends and query handles all
  * start from its committed view.
  *
  * Resumability (north rule): the shard is the unit of work; a shard is
  * done iff the manifest holds a committed row for it. `build` skips
  * committed shards, so a killed build resumes exactly where it stopped —
  * the analog of the reference's checkpoint manager (models/api.py:60-78)
  * realized as data-level commit markers.
  */
object InvertedIndex {

  /** Per-shard corpus stats. `avgdl_build` is the corpus avgdl that this
    * shard's blocks were encoded with (their max_tfsat bounds assume it);
    * query-time WAND inflates stale bounds by
    * `Bm25.driftFactor(avgdl_now, avgdl_build)` — tfsat grows with avgdl by
    * at most their ratio, and the factor adds a margin for rounding — so
    * bounds stay safe when later appends (resume waves, streaming segments)
    * shift the global avgdl. */
  case class CorpusShard(shard: Int, n_docs: Long, sum_dl: Long,
                         avgdl_build: Double)

  def manifestPath(dir: String) = s"$dir/manifest"

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  /** Declared read schemas of the tables the engine writes itself. Reading
    * with them skips Parquet schema inference, which is a Spark job per read
    * (a footer scan). Partition columns (`shard`, `bucket`) are typed by the
    * declared schema too. */
  private val postingsSchema: StructType =
    Encoders.product[PostingBlock].schema.add("bucket", IntegerType)
  private val docStatSchema: StructType = Encoders.product[DocStat].schema

  /** Every row of a small engine-written table (manifest, params, corpus),
    * read with its row type's declared schema: one Spark job, no schema
    * inference. A table that does not exist yet has no rows. (Hadoop
    * FS API — works on HDFS/object stores, not just file://.) */
  private def readTable[T <: Product: TypeTag](spark: SparkSession,
                                               path: String): Seq[T] =
    if (!exists(spark, path)) Seq.empty
    else {
      val enc = Encoders.product[T]
      spark.read.schema(enc.schema).parquet(path).as(enc).collect().toSeq
    }

  private def committedIn(manifest: Seq[ManifestRow]): Set[Int] =
    manifest.filter(_.committed).map(_.partition_id).toSet

  /** The committed state of an index directory: the committed shard set
    * (build shards and streaming segments), the persisted layout params,
    * the corpus rows of the committed shards only — leftovers of a torn
    * wave or a crashed segment are dropped — and `postings`, the committed
    * posting total (Σ manifest `rows` of the committed shards; a torn
    * segment's files have no committed row, so they do not count). */
  case class Snapshot(committed: Set[Int], params: Option[BuildParams],
                      corpus: Seq[CorpusShard], postings: Long) {
    def nDocs: Long = corpus.map(_.n_docs).sum
    def sumDl: Long = corpus.map(_.sum_dl).sum

    /** Reconcile caller-passed params with the persisted layout: a
      * resume/append invoked with a different `nTermBuckets` than the index
      * was created with would write postings under bucket directories the
      * reader (which trusts <dir>/params) never probes — terms silently
      * dropped. Layout fields are ADOPTED from disk (with a warning);
      * non-layout knobs (salting, block size, shards) stay the caller's. */
    def adoptLayout(dir: String, p: BuildParams): BuildParams = params match {
      case Some(d) if d.nTermBuckets != p.nTermBuckets =>
        System.err.println(s"[build] $dir was created with nTermBuckets=" +
          s"${d.nTermBuckets}; adopting it over the caller's ${p.nTermBuckets}")
        p.copy(nTermBuckets = d.nTermBuckets)
      case _ => p
    }
  }

  /** The one reader of an index's metadata, shared by [[build]],
    * `StreamingIndex.appendSegment` and `Bm25.open`. Manifest, params and
    * corpus are read with their declared schemas (no schema-inference job)
    * and CONCURRENTLY: each is a one-job read of a few rows whose wall time
    * is per-job latency, so the three overlap into one. */
  def snapshot(spark: SparkSession, dir: String): Snapshot = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val manifestF = Future(readTable[ManifestRow](spark, manifestPath(dir)))
    val paramsF = Future(readTable[BuildParams](spark, s"$dir/params"))
    val corpusF = Future(readTable[CorpusShard](spark, s"$dir/corpus"))
    val manifest = Await.result(manifestF, Duration.Inf)
    val committed = committedIn(manifest)
    Snapshot(committed, Await.result(paramsF, Duration.Inf).headOption,
      Await.result(corpusF, Duration.Inf).filter(c => committed(c.shard)),
      manifest.filter(_.committed).map(_.rows).sum)
  }

  /** Shards already committed according to the manifest (the manifest
    * read of [[snapshot]] alone). */
  def committedShards(spark: SparkSession, dir: String): Set[Int] =
    committedIn(readTable[ManifestRow](spark, manifestPath(dir)))

  /** Layout-affecting build params are persisted with the index (a one-row
    * parquet at <dir>/params) so readers never have to guess nTermBuckets
    * etc. — an index opened with mismatched layout params would silently
    * drop postings for every term whose directory bucket differs. */
  def writeParamsIfAbsent(spark: SparkSession, dir: String, p: BuildParams): Unit = {
    import spark.implicits._
    if (!exists(spark, s"$dir/params"))
      Seq(p).toDS().coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/params")
  }

  /** A shard's manifest `bytes`: the on-disk size of `postings/shard=<s>`
    * from the file system (a shard's directory holds exactly its own
    * wave's or segment's files). Free — no Spark job — and one definition
    * for build shards and streaming segments alike. */
  private[graft] def shardBytes(spark: SparkSession, dir: String, shard: Int): Long = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/postings/shard=$shard")
    val f = fs(spark, path.toString)
    if (f.exists(path)) f.getContentSummary(path).getLength else 0L
  }

  /** Fraction-denominator of the deterministic hot-term sample: docs with
    * xxhash64(doc_id) ≡ 0 (mod SampleMod) — a 1/SampleMod sample that is a
    * pure function of the data (stable under any partitioning/resume). */
  final val SampleMod = 20

  /** Per-phase wall-clock trace of the last build (stderr + inspectable) —
    * the feedback loop for the scaling-efficiency work: fixed (non-scaling)
    * phases show up directly here. */
  private def phaseTimed[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    System.err.println(f"[build] $name%-18s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
    r
  }

  /** Declared schema of the tokenize scratch: [[IndexBuild.TokDoc]]'s
    * columns plus the `smp` partition int (`shard` is the other partition
    * column). Declaring it skips the Parquet schema-inference job. */
  private val scratchSchema: StructType =
    Encoders.product[IndexBuild.TokDoc].schema.add("smp", IntegerType)

  /** Build (or resume) the index over `pages` into `dir`. Returns the number
    * of shards built in this invocation.
    *
    * Pass structure (minimizing full-corpus scans AND driver-blocking jobs —
    * both dominate at 100 TB):
    *   1. tokenize (narrow) → scratch Parquet, partitioned by shard. The
    *      only full scan of the raw corpus.
    *   2. two LIGHT jobs off the scratch: per-shard (n_docs, sum_dl) for the
    *      corpus-global avgdl (column-pruned — never touches the tokens
    *      column), and the hot-term sketch over a deterministic 1/20 doc
    *      sample scaled back up (heavy hitters ≥ saltThreshold have <3%
    *      sampling error; a missed borderline term just sorts unsalted,
    *      which the spilling shuffle absorbs).
    *   3. per wave of shards (the resume unit): [[writeShards]], the writer
    *      segment appends use too — docstats, then the corpus rows and the
    *      postings (per-doc pre-merged (term, tf) rows → ONE skew-bounded
    *      run shuffle → layout repartition → sorted partitioned write)
    *      concurrently, and LAST the manifest commit marker, so readers
    *      filtering by committed shards (Bm25.open) never see a torn wave.
    *      The manifest totals are observed on the wave's own writes; nothing
    *      the wave wrote is read back. No termstats table exists: term
    *      stats are block-metadata scans at query time.
    */
  def build(spark: SparkSession, pages: Dataset[Page], dir: String,
            params: BuildParams = BuildParams()): Int = {
    import spark.implicits._

    // A resume/append must write under the layout the index was CREATED
    // with: readers trust <dir>/params, so postings bucketed by a different
    // caller-passed nTermBuckets would be silently invisible to every query.
    val snap = snapshot(spark, dir)
    val p = snap.adoptLayout(dir, params)
    val done = snap.committed
    val todo = (0 until p.numShards).filterNot(done)
    if (todo.isEmpty) return 0

    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global

    // params land ASYNC — nothing in this build reads them back (p is
    // already reconciled above); they are awaited before the first wave
    // commits, because readers only open the index after a manifest marker
    // exists. Keeps a fixed one-row-parquet Spark job off the critical path.
    val paramsF = Future(writeParamsIfAbsent(spark, dir, p))

    // Never .persist() here: Spark's columnar cache serializer
    // (dictionary/RLE stats per value) costs ~85µs/row on string-heavy data
    // — measured 6× the cost of re-running the typed tokenizer. Reused
    // intermediates are materialized to scratch Parquet instead (also the
    // only pattern that works at 100 TB).
    // The scratch is partitioned by (shard, smp) where smp marks the
    // deterministic 1/SampleMod hot-term sample docs: the sketch job below
    // then PRUNES to the sample files instead of decoding the tokens column
    // of the whole corpus to keep 5% of it — one full tokens-column read
    // saved per build, at the cost of one extra directory level. smp uses
    // the same xxhash64(doc_id) expression as the filter used to, so the
    // sampled doc set — hence the sketch, the salting, and every block —
    // is unchanged.
    // The leading underscore is deliberate: Hadoop/Spark path filters hide
    // `_`-prefixed children, so no glob or recursive listing of $dir can
    // ever pick the scratch up as data. Reading it EXPLICITLY still works
    // (root paths are exempt from the hidden-path filter); the one
    // "All paths were ignored" WARN Spark logs at that read is this
    // existence-check quirk, not a failure — every build's corpus-agg
    // numbers come from this read.
    val scratch = s"$dir/_scratch_tok"
    phaseTimed("tokenize+scratch")(IndexBuild.tokenize(pages, p)
      .filter($"shard".isin(todo: _*))
      .withColumn("smp",
        (pmod(xxhash64($"doc_id"), lit(SampleMod)) === 0).cast("int"))
      .write.mode(SaveMode.Overwrite).partitionBy("shard", "smp").parquet(scratch))
    val tokenized = spark.read.schema(scratchSchema).parquet(scratch)

    // Corpus stats over ALL shards (done + todo) — avgdl must be
    // corpus-global and identical on resume. Todo shards from a column-
    // pruned scratch agg; done shards from their committed corpus rows.
    // The corpus agg and the hot-term sketch (per-term token counts over
    // the deterministic 1/SampleMod doc sample, scaled back up — Σtf ≥ df
    // upper-bounds the posting count, which is what salting must bound;
    // the smp filter partition-prunes to the sample files) are UNIONED
    // into ONE action: both are small driver-blocking jobs dominated by
    // per-job scheduling latency, and inside one job their scans run as
    // independent concurrent stages — one latency instead of two.
    val comb = phaseTimed("corpus-agg+hot")(
      tokenized.groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"dl").as("sum_dl"))
        .select(lit(0).as("kind"), $"shard".cast("string").as("k"),
          $"n_docs", $"sum_dl")
      .unionAll(tokenized
        .filter($"smp" === 1) // partition-pruned: reads only the sample files
        .select(explode($"tokens").as("term"))
        .groupBy($"term")
        .agg((count(lit(1)) * SampleMod / todo.size).cast("long").as("n_per_shard"))
        .filter($"n_per_shard" > p.saltThreshold)
        .select(lit(1).as("kind"), $"term".as("k"),
          $"n_per_shard", lit(0L).as("sum_dl")))
      .as[(Int, String, Long, Long)].collect())

    val hotDf: Map[String, Long] =
      comb.collect { case (1, t, n, _) => t -> n }.toMap
    val nDocs = comb.collect { case (0, _, n, _) => n }.sum + snap.nDocs
    val avgdl = (comb.collect { case (0, _, _, sd) => sd }.sum + snap.sumDl)
      .toDouble / math.max(nDocs, 1L)

    // Waves. A wave of shards is ONE shuffle + ONE set of writes; its
    // shards commit together (all-or-nothing), so waveShards trades resume
    // granularity against per-job overhead. Default: all todo in one wave.
    val waveSize = if (p.waveShards > 0) p.waveShards else todo.size
    Await.result(paramsF, Duration.Inf)
    for (wave <- todo.grouped(waveSize))
      phaseTimed(s"wave ${wave.mkString(",")}")(writeShards(spark, dir,
        tokenized.filter($"shard".isin(wave: _*)), wave, p, hotDf,
        s"wave=${wave.mkString(",")} params=$p hotTerms=${hotDf.size}")((_, _) => avgdl))
    deleteDir(scratch, spark)
    todo.size
  }

  /** Write `shards` — a build wave, or one streaming segment — from their
    * tokenized rows (`doc_id`, `url`, `shard`, `dl`, `tokens`; every row in
    * `shards`), and commit them. The one write sequence of the engine:
    *   1. docstats (1 job), observed per shard for (n_docs, sum_dl);
    *   2. `avgdl(n_docs, sum_dl)` of the written shards' totals gives the
    *      avgdl their blocks are encoded with: a build passes its
    *      corpus-global avgdl, an append its snapshot's totals plus the
    *      segment's;
    *   3. CONCURRENTLY, the corpus rows (1 job) and the postings (3 jobs
    *      with AQE: the run shuffle and the bucket shuffle as map stages,
    *      then the result stage that writes), observed per shard for
    *      (rows, blocks);
    *   4. the manifest commit rows (1 job), strictly LAST, after every other
    *      write has landed: a crash anywhere before it leaves the shards
    *      invisible to readers (which filter by committed shards), and the
    *      resumed wave or replayed batch rewrites them (Iceberg analog:
    *      REPLACE PARTITIONS + last commit). `bytes` is [[shardBytes]].
    * Both observe nodes sit after their write's last exchange, in the
    * result stage. Observed metrics are accumulators: result-task updates
    * are applied once per partition, but a retried shuffle-map stage would
    * apply its tasks' updates again and double-count n_docs / sum_dl —
    * hence avgdl — or rows / blocks. `tokenized` is read twice (docstats
    * and postings); a caller whose rows are costly to recompute persists
    * them. */
  private[graft] def writeShards(spark: SparkSession, dir: String,
                                 tokenized: DataFrame, shards: Seq[Int],
                                 p: BuildParams, hotDf: Map[String, Long],
                                 lineage: String)(
                                 avgdlOf: (Long, Long) => Double): Unit = {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val t0 = System.nanoTime()

    val docsObs = Observation("docstats")
    tokenized.select($"doc_id", $"url", $"dl".as("doclen"), $"shard")
      .observe(docsObs, perShard(shards, "n_docs" -> lit(1L), "sum_dl" -> $"doclen"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard")
      .parquet(s"$dir/docstats")
    val docs = observed(docsObs)
    val sumDl = shards.map(s => docs(s"sum_dl_$s")).sum
    val avgdl = avgdlOf(shards.map(s => docs(s"n_docs_$s")).sum, sumDl)

    // narrow, so the shuffle conf of the concurrent postings write below
    // does not affect its plan
    val corpusF = Future(
      shards.map(s => CorpusShard(s, docs(s"n_docs_$s"), docs(s"sum_dl_$s"), avgdl))
        .toDS().write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard")
        .parquet(s"$dir/corpus"))

    // Per-doc pre-merged (term, tf) postings — one shuffle row per DISTINCT
    // term per doc, not per token (IndexBuild.docTermFreqs). There is
    // deliberately NO corpus-wide (term, doc_id) aggregation: its group
    // count ≈ corpus size degenerates hash agg into an external sort.
    // sum_dl upper-bounds the posting count (the pre-merge only shrinks it).
    val postingsObs = Observation("postings")
    withShufflePartitions(spark, sumDl)(
      IndexBuild.saltedRuns(IndexBuild.docTermFreqs(tokenized), hotDf, p, avgdl)
        .withColumn("bucket",
          pmod(xxhash64($"term"), lit(p.nTermBuckets)).cast("int"))
        .repartition(col("shard"), col("bucket"))
        // the partitioned write requires its input ordered by (shard,
        // bucket) and adds that sort itself unless the existing ordering
        // starts with it — a (term, …)-only sort would be replaced and
        // the files left unsorted by term, defeating min-max pruning
        .sortWithinPartitions($"shard", $"bucket", $"term", $"salt", $"block_id")
        .observe(postingsObs, perShard(shards, "rows" -> $"n_docs", "blocks" -> lit(1L)))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard", "bucket")
        .parquet(s"$dir/postings"))
    Await.result(corpusF, Duration.Inf)
    val postings = observed(postingsObs)

    val sec = (System.nanoTime() - t0) / 1e9
    shards.map { s =>
      ManifestRow(s, postings(s"rows_$s"), postings(s"blocks_$s"),
        shardBytes(spark, dir, s), committed = true,
        s"shard=$s $lineage avgdl=$avgdl write_sec=$sec")
    }.toDS().write.mode(SaveMode.Append).parquet(manifestPath(dir))
  }

  /** Per-shard sums observed on a write: metric `<name>_<shard>` is the sum
    * of `e` over the shard's rows, 0 for a shard without rows (coalesce: an
    * empty sum is NULL). */
  private def perShard(shards: Seq[Int], sums: (String, Column)*): Column = {
    val ms = for (s <- shards; (name, e) <- sums)
      yield coalesce(sum(when(col("shard") === s, e)), lit(0L)).as(s"${name}_$s")
    struct(ms: _*).as("per_shard")
  }

  /** An observation's (Long) metrics. They arrive through the listener bus
    * once the observed write has finished — normally within milliseconds;
    * the bound turns a lost event into a failed (uncommitted, resumable)
    * write instead of a hung one. */
  private def observed(obs: Observation): Map[String, Long] = {
    val r = scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(5, "min")).getStruct(0)
    r.schema.fieldNames.map(f => f -> r.getAs[Long](f)).toMap
  }

  /** Run `write` with its shuffles sized ∝ data, whatever the session
    * default: ~0.75M postings per partition at most (`postings` bounds
    * them from above), rounded to the cores; the conf is restored after —
    * a write-scoped setting, the moral equivalent of a per-job shuffle
    * hint.
    * Measured cliff this guards: 16 partitions × ~14M postings at 2.2M
    * docs spilled the salted sort into a 47× blowup (1074 s vs a
    * linear-profile 290 s). Scale-adaptive BOTH ways (the session value is
    * a cluster-width default, not a data-derived one): RAISE above it, and
    * DROP below it when the write is so small that the default would mean
    * dozens of near-empty sort tasks of pure fixed overhead (one partition
    * per ~50k postings, floor 1) — a small segment is one partition. The
    * run-merge reduce holds only one (term, salt) group's decoded arrays at
    * a time, so the 0.75M floor is scheduling granularity, not spill —
    * finer partitions smooth the 2-waves-of-cores tail (measured below
    * 16 → 32 partitions at 24M postings / local[8]). */
  private def withShufflePartitions(spark: SparkSession, postings: Long)(
      write: => Unit): Unit = {
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val rawParts = math.max(math.min(prevShuffle.toLong,
      (postings + 49999) / 50000L), postings / 750000L)
    // Straggler-tail guard (a data-derived count like 21 runs as waves
    // of cores with a fractional last wave — e.g. 21 tasks on 8 cores =
    // 8+8+5, idling 3/8 of the machine for a third of the sort): when
    // the count exceeds the session's core count, round it UP to a
    // multiple of it. Blocks are per-(term,salt) groups — partition
    // count never changes content.
    val cores = math.max(1, spark.sparkContext.defaultParallelism)
    val balanced =
      if (rawParts > cores) ((rawParts + cores - 1) / cores) * cores
      else rawParts
    val parts = math.max(1L, math.min(20000L, balanced)).toInt
    // AQE partition coalescing must sit out the write: the run shuffle's
    // rows are varbyte-COMPRESSED posting runs, so their byte size
    // underrepresents reduce work (decode + merge + block encode
    // of ~125 postings per wire byte) by ~2 orders of magnitude, and the
    // byte-based advisory target coalesces the data-derived partition
    // count ~8× below the cores (measured: postings-build 13.2 s
    // coalesced vs 7.6 s at the derived count, 300k docs / local[8]).
    // The count above IS the data-derived sizing AQE would be trying to
    // recover.
    val prevCoalesce =
      spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try write
    finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle.toString)
    }
  }

  /** Recursive delete via the Hadoop FS API (HDFS/object-store safe). The
    * no-session overload builds a bare local-FS config (test/bench helper
    * on file:// paths). */
  def deleteDir(dir: String, spark: SparkSession): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    fs(spark, dir).delete(path, true)
  }

  def deleteDir(dir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    path.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(path, true)
  }

  // ------------------------------ read side ------------------------------

  /** The postings table with its partition column `bucket`. Creating the
    * DataFrame lists the files once; later appends are not in it. */
  def postingsTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(postingsSchema).parquet(s"$dir/postings")

  def postings(spark: SparkSession, dir: String): Dataset[PostingBlock] = {
    import spark.implicits._
    postingsTable(spark, dir).drop("bucket").as[PostingBlock]
  }

  /** The docstats table, listed once like [[postingsTable]]. */
  def docStats(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(docStatSchema).parquet(s"$dir/docstats")
}
