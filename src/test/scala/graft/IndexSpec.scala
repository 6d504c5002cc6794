package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.core.TextExtract
import graft.data.Synth
import graft.index.{BuildParams, IndexBuild, InvertedIndex, ManifestRow, ParityRefs}
import graft.query.Bm25
import graft.streaming.StreamingIndex

/** End-to-end: build → query → oracle rank-identity → WAND identity →
  * resume round-trip → salting identity (SURVEY.md §5 plan). */
class IndexSpec extends SparkSpec {
  import spark.implicits._

  private val N = 1200
  private val Seed = 42L
  private val params = BuildParams(numShards = 2, blockSize = 16,
    saltThreshold = 20, targetPerSalt = 25, nTermBuckets = 8)

  // ---- driver-side brute-force BM25 oracle (independent of the engine's
  // aggregation/compression path; shares only the tokenizer, which has its
  // own golden fixtures) ----
  case class ODoc(docId: Long, tokens: Array[String])
  lazy val oracleCorpus: Seq[ODoc] = {
    val urls = (0L until N).map(i => Synth.genRow(Seed, i)).map(_.url)
    val ids = urls.toDF("url")
      .select($"url", IndexBuild.docIdCol($"url").as("id"))
      .as[(String, Long)].collect().toMap
    (0L until N).flatMap { i =>
      val p = Synth.genRow(Seed, i)
      val toks = TextExtract.tokenizeFull(TextExtract.cleanText(p.text))
      if (toks.isEmpty) None else Some(ODoc(ids(p.url), toks))
    }
  }
  lazy val oracleAvgdl: Double =
    oracleCorpus.map(_.tokens.length.toLong).sum.toDouble / oracleCorpus.size
  lazy val oracleDf: Map[String, Long] =
    oracleCorpus.flatMap(_.tokens.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.length.toLong }

  def oracleTopk(q: String, k: Int): Seq[(Long, Double)] = {
    val qts = Bm25.queryTerms(q)
    val scored = oracleCorpus.flatMap { d =>
      val score = qts.map { qt =>
        val tf = d.tokens.count(_ == qt.term)
        if (tf == 0 || !oracleDf.contains(qt.term)) 0.0
        else qt.qtf * Bm25.idf(oracleCorpus.size.toLong, oracleDf(qt.term)) *
          Bm25.tfSat(tf.toDouble, d.tokens.length.toDouble, oracleAvgdl)
      }.sum
      if (score > 0) Some((d.docId, score)) else None
    }
    scored.sortBy { case (id, s) => (-s, id) }.take(k)
  }

  lazy val indexDir: String = {
    val dir = tmpDir("idx")
    val built = InvertedIndex.build(spark, Synth.pages(spark, N, Seed, 4), dir, params)
    assert(built == 2)
    dir
  }

  test("extraction invariant: text == stripHtml(html) for every row") {
    val pages = Synth.pages(spark, 500, Seed, 4)
    val bad = pages.toDF()
      .withColumn("ext", TextExtract.stripHtmlCol($"html"))
      .filter($"ext" =!= $"text").count()
    assert(bad == 0)
  }

  test("build commits all shards; rebuild is a no-op (resume contract)") {
    indexDir // force
    val manifest = spark.read.parquet(s"$indexDir/manifest")
    assert(manifest.filter($"committed").count() == 2)
    assert(InvertedIndex.build(spark, Synth.pages(spark, N, Seed, 4), indexDir, params) == 0)
    // manifest carries metrics + lineage
    val row = manifest.head()
    assert(row.getAs[Long]("rows") > 0 && row.getAs[Long]("bytes") > 0)
    assert(row.getAs[String]("lineage").contains("shard="))
    // a shard no doc hashes to commits a zero row, so its rebuild is a
    // no-op too
    val sparse = tmpDir("idx-empty-shards")
    val few = params.copy(numShards = 16)
    assert(InvertedIndex.build(spark, Synth.pages(spark, 3, Seed, 4), sparse, few) == 16)
    assert(InvertedIndex.build(spark, Synth.pages(spark, 3, Seed, 4), sparse, few) == 0)
  }

  test("planted reference titles are retrieved as top hit") {
    val h = Bm25.open(spark, indexDir, params.nTermBuckets)
    // distinctive planted docs: their tokens don't collide with the w<k> vocab
    for ((q, seq) <- Seq(("numpy python matrix", 8L), ("maple story good game", 9L))) {
      val url = Synth.genRow(Seed, seq).url
      val docId = Seq(url).toDF("url")
        .select(IndexBuild.docIdCol($"url")).as[Long].head()
      val top = h.topk(q, 3).as[(Long, Double)].collect().toSeq
      assert(top.head._1 == docId, s"query '$q' top hit: $top, want $docId")
    }
  }

  test("rank-identical top-k vs brute-force oracle on the reference query set") {
    val h0 = Bm25.open(spark, indexDir, params.nTermBuckets)
    // the driver scorer and the Spark plan (localPostings = 0 forces it)
    for ((h, path) <- Seq(h0 -> "driver", h0.copy(localPostings = 0L) -> "spark");
         q <- Synth.refTitles) {
      val got = h.topk(q, 10).as[(Long, Double)].collect().toSeq
      assertRankIdentical(got, oracleTopk(q, 10), s"$path topk '$q'")
    }
  }

  test("build postings files are sorted by term") {
    // an appended segment's files come from the same writer and must be
    // sorted too
    val segDir = tmpDir("idx-segment")
    val pages = Synth.pages(spark, 600, Seed, 4).collect()
    InvertedIndex.build(spark, pages.take(300).toSeq.toDS(), segDir,
      params.copy(numShards = 1))
    StreamingIndex.appendSegment(spark, pages.drop(300).toSeq.toDS(), segDir, 0L, params)
    for (postings <- Seq(s"$indexDir/postings",
                         s"$segDir/postings/shard=${StreamingIndex.SegmentBase}")) {
      // a file's rows come back contiguous and in file order: each file is
      // one split, read front to back
      val files = spark.read.parquet(postings)
        .select(input_file_name(), $"term").as[(String, String)].collect()
        .groupBy(_._1)
      assert(files.size > 1, postings)
      for ((f, rows) <- files; Array(a, b) <- rows.map(_._2).sliding(2))
        assert(a <= b, s"$f: '$a' before '$b'")
    }
  }

  test("driver-side term bucket is bit-identical to the Column form") {
    val terms = (1 to 200).map(i => Synth.word(i)) ++
      Seq("the0", "timezone", "ütf8", "", "a b", "ñ", "中文")
    val got = terms.map(t => Bm25.termBucket(t, params.nTermBuckets))
    val want = terms.toDF("t")
      .select(pmod(xxhash64($"t"), lit(params.nTermBuckets)).cast("int"))
      .as[Int].collect().toSeq
    assert(got == want)
  }

  test("WAND path is result-identical to exhaustive path") {
    // wandCutoff = 0 forces the theta-pruning path even on this tiny index
    val h0 = Bm25.open(spark, indexDir, params.nTermBuckets).copy(wandCutoff = 0L)
    val queries = Synth.refTitles.toSeq ++ Seq(
      "w1 w2 w3", "the0 w5 w40", "w1 the0", "w7", "w100 w200 w3000",
      "w1 w1 w2" /* duplicate query term → qtf=2 */)
    // the driver scorer and the Spark plans (localPostings = 0 forces them)
    for ((h, path) <- Seq(h0 -> "driver", h0.copy(localPostings = 0L) -> "spark");
         q <- queries; k <- Seq(1, 5, 10)) {
      val ex = h.topk(q, k).as[(Long, Double)].collect().toSeq
      val wd = h.topkWand(q, k).as[(Long, Double)].collect().toSeq
      assertRankIdentical(wd, ex, s"$path wand '$q' k=$k")
    }
  }

  test("resume from checkpoint: partial manifest → identical final index") {
    indexDir // force full build first
    val dir2 = tmpDir("idx-resume")
    // simulate a build killed after shard 0: copy shard 0 outputs + its
    // manifest row only
    def copyTree(from: Path, to: Path): Unit = {
      Files.walk(from).forEach { p =>
        val t = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    for (sub <- Seq("postings", "docstats", "corpus")) {
      copyTree(Paths.get(s"$indexDir/$sub/shard=0"),
        Paths.get(s"$dir2/$sub/shard=0"))
    }
    val m0 = spark.read.parquet(s"$indexDir/manifest")
      .filter($"partition_id" === 0)
    m0.write.parquet(s"$dir2/manifest")
    assert(InvertedIndex.committedShards(spark, dir2) == Set(0))

    val built = InvertedIndex.build(spark, Synth.pages(spark, N, Seed, 4), dir2, params)
    assert(built == 1)
    val h1 = Bm25.open(spark, indexDir, params.nTermBuckets)
    val h2 = Bm25.open(spark, dir2, params.nTermBuckets)
    assert(h1.nDocs == h2.nDocs && math.abs(h1.avgdl - h2.avgdl) < 1e-12)
    for (q <- Synth.refTitles.take(4)) {
      val a = h1.topk(q, 10).as[(Long, Double)].collect().toSeq
      val b = h2.topk(q, 10).as[(Long, Double)].collect().toSeq
      assertRankIdentical(b, a, s"resume '$q'")
    }
  }

  test("salted build produces identical postings to unsalted; block " +
    "invariants hold with per-task state bounded by targetPerSalt") {
    val nSmall = 400
    val pagesDs = Synth.pages(spark, nSmall, Seed, 4)
    val dirSalted = tmpDir("idx-salt")
    val dirPlain = tmpDir("idx-plain")
    // targetPerSalt = 10 is deliberately TINY: a hot term here fans out to
    // dozens of range-salt runs, the configuration that would have OOM'd a
    // buffering merge — the build must stay correct with per-task encode
    // state of ~10 postings.
    val pSalt = BuildParams(numShards = 1, blockSize = 8,
      saltThreshold = 5, targetPerSalt = 10, nTermBuckets = 4)
    val pPlain = pSalt.copy(saltThreshold = Long.MaxValue)
    InvertedIndex.build(spark, pagesDs, dirSalted, pSalt)
    InvertedIndex.build(spark, pagesDs, dirPlain, pPlain)

    def decoded(dir: String): Set[(String, Long, Int, Int)] =
      InvertedIndex.postings(spark, dir)
        .flatMap(IndexBuild.decodeBlock _)
        .as[(String, Long, Int, Int)].collect().toSet

    assert(decoded(dirSalted) == decoded(dirPlain))

    // salting is exercised: the salted index really has multi-salt terms
    val salts = InvertedIndex.postings(spark, dirSalted)
      .groupBy($"term").agg(countDistinct($"salt").as("ns"))
      .agg(max($"ns")).as[Long].head()
    assert(salts > 1, s"expected salted terms, max salt count = $salts")

    // block invariants (block layout is salt-dependent by design — range
    // salting replaces the merge stage — so instead of byte-identical
    // blocks we assert everything queries rely on):
    val blocks = InvertedIndex.postings(spark, dirSalted).collect()
    for (b <- blocks) {
      val ps = IndexBuild.decodeBlock(b).toSeq
      assert(ps.length == b.n_docs && b.n_docs <= pSalt.blockSize)
      assert(ps.head.doc_id == b.first_doc && ps.last.doc_id == b.last_doc)
      assert(ps.map(_.doc_id) == ps.map(_.doc_id).sorted)
      assert(ps.map(_.tf).max == b.max_tf)
    }
    // per-term: block doc ranges are pairwise disjoint and ordered by
    // (salt, block_id) — the layout property that makes merge free
    for ((_, bs) <- blocks.groupBy(b => (b.shard, b.term))) {
      val ordered = bs.sortBy(b => (b.salt, b.block_id))
      for (Seq(x, y) <- ordered.toSeq.sliding(2) if ordered.length > 1)
        assert(x.last_doc < y.first_doc,
          s"overlap: ${x.term} [${x.salt}/${x.block_id}] ${x.last_doc} >= ${y.first_doc}")
    }
  }

  test("SPIMI run shuffle emits byte-identical blocks to the sorted-shuffle" +
    " path (salted, multi-shard, instance-level duplicates across partitions)") {
    import graft.index.ShardPosting
    // adversarial feed: 3 shards, a hot term ("hot") fanning out to many
    // range salts, and INSTANCE-level rows (tf=1 per occurrence) with the
    // same (term, doc) repeated — split across partitions by a round-robin
    // repartition so the k-way merge must combine equal doc_ids across runs
    val rows = (0L until 3000L).flatMap { i =>
      val docId = (i * 0x9E3779B97F4A7C15L) & Long.MaxValue
      val shard = (docId % 3).toInt
      val dl = 3 + (i % 7).toInt
      val hot = Seq.fill(1 + (i % 3).toInt)(
        ShardPosting(shard, "hot", docId, 1, dl))
      val cold = Seq(ShardPosting(shard, s"w${i % 97}", docId, 1, dl),
        ShardPosting(shard, s"w${(i * 31) % 97}", docId, 1, dl))
      hot ++ cold
    }
    val feed = rows.toDS().repartition(7)
    val hotDf = Map("hot" -> 3000L)
    val p = BuildParams(numShards = 3, blockSize = 8,
      saltThreshold = 50, targetPerSalt = 100)
    def canon(ds: org.apache.spark.sql.Dataset[graft.index.PostingBlock]) =
      ds.collect().map(b => (b.shard, b.term, b.salt, b.block_id,
        b.first_doc, b.last_doc, b.n_docs, b.max_tf, b.max_tfsat,
        b.doc_gaps_vb.toSeq, b.tfs_vb.toSeq, b.dls_vb.toSeq)).toSet
    val fast = canon(IndexBuild.saltedRuns(feed, hotDf, p, 5.0))
    val ref = canon(ParityRefs.saltedRunsSortShuffle(feed, hotDf, p, 5.0))
    assert(fast.nonEmpty && fast == ref)
  }

  test("hot-term sample scan partition-prunes to the smp=1 files") {
    // replicate the build's scratch shape (tokenize step writes
    // partitionBy(shard, smp); the sketch job filters smp === 1): the
    // filter must land in PartitionFilters — directory pruning — NOT as a
    // row filter that still decodes every file's tokens column.
    val dir = tmpDir("scratch-prune")
    spark.range(500).select($"id".as("doc_id"),
        array(lit("a"), lit("b")).as("tokens"),
        pmod($"id", lit(2)).as("shard"),
        (pmod(xxhash64($"id"), lit(InvertedIndex.SampleMod)) === 0)
          .cast("int").as("smp"))
      .write.mode("overwrite").partitionBy("shard", "smp").parquet(dir)
    val scan = spark.read.parquet(dir).filter($"smp" === 1)
      .select(explode($"tokens").as("term"))
    val plan = scan.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(scanLine.exists(_.contains("smp")),
      s"smp not in PartitionFilters:\n$plan")
    // pruned row count matches the deterministic sample the build expects
    val expect = spark.range(500)
      .filter(pmod(xxhash64($"id"), lit(InvertedIndex.SampleMod)) === 0).count()
    assert(expect > 0 && scan.count() == expect * 2)
  }
}
