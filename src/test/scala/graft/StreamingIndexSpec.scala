package graft

import org.apache.spark.sql.functions._

import graft.data.Synth
import graft.index.{BuildParams, InvertedIndex, ManifestRow}
import graft.query.Bm25
import graft.streaming.StreamingIndex

/** Streaming segments must converge to the same search results as a batch
  * build over the same pages (modulo block layout), including WAND safety
  * under avgdl drift between segments. */
class StreamingIndexSpec extends SparkSpec {
  import spark.implicits._

  private val N = 600
  private val Seed = 7L

  test("streamed segments answer queries like a batch build; WAND stays identical") {
    val src = tmpDir("stream-src")
    val idxDir = tmpDir("stream-idx")
    val batchDir = tmpDir("stream-batch")
    val p = BuildParams(numShards = 1, blockSize = 16)

    // two waves with very different doc-length mixes → avgdl drifts
    val all = Synth.pages(spark, N, Seed, 4).collect()
    val (wave1, wave2) = all.splitAt(N / 3)
    wave1.toSeq.toDS().write.mode("append").parquet(src)

    val q = StreamingIndex.start(spark, src, idxDir, p)
    try {
      q.processAllAvailable()
      wave2.toSeq.toDS().write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()

    // all docs indexed exactly once
    val manifest = spark.read.parquet(s"${idxDir}/manifest")
    assert(manifest.filter($"committed").count() >= 2)
    val h = Bm25.open(spark, idxDir)
    assert(h.nDocs == all.length)

    // batch reference over the same pages
    InvertedIndex.build(spark, all.toSeq.toDS(), batchDir, p)
    val hb = Bm25.open(spark, batchDir)
    assert(math.abs(h.avgdl - hb.avgdl) < 1e-9)

    for (query <- Synth.refTitles.take(5) ++ Seq("w1 w3 the0", "w7 w20")) {
      val streamed = h.topk(query, 10).as[(Long, Double)].collect().toSeq
      val batch = hb.topk(query, 10).as[(Long, Double)].collect().toSeq
      assert(streamed.map(_._1) == batch.map(_._1), s"'$query': $streamed vs $batch")
      // WAND over drifted segments must still equal exhaustive (cutoff 0
      // forces the pruning path on this tiny index)
      val wand = h.copy(wandCutoff = 0L)
        .topkWand(query, 10).as[(Long, Double)].collect().toSeq
      assert(wand == streamed, s"wand drift for '$query'")
    }

    // replaying a committed segment id is a no-op (exactly-once)
    val before = spark.read.parquet(s"$idxDir/manifest").count()
    StreamingIndex.appendSegment(spark, wave1.toSeq.toDS(), idxDir, 0L, p)
    assert(spark.read.parquet(s"$idxDir/manifest").count() == before)

    // an EMPTY micro-batch (all-empty docs tokenize to nothing) commits a
    // zero-row segment without disturbing corpus stats or results: avgdl is
    // derived from committed corpus rows + the segment's own aggregate, and
    // an empty aggregate must not zero or NaN it
    val empty = Seq(graft.data.Page("e://1", new java.sql.Timestamp(0L),
      Array.empty[Byte], "", "en")).toDS()
    StreamingIndex.appendSegment(spark, empty, idxDir, 7L, p)
    val h2 = Bm25.open(spark, idxDir)
    assert(h2.nDocs == all.length && math.abs(h2.avgdl - hb.avgdl) < 1e-9)
    // scores rounded to 6 dp: the two indexes sum per-doc scores in
    // different partition orders, so raw doubles differ in the last ulp
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double)].collect().toSeq
        .map { case (d, s) => (d, math.round(s * 1e6)) }.toSet
    assert(canon(h2.topk("w1 w3 the0", 10)) ==
      canon(hb.topk("w1 w3 the0", 10)))
  }

  test("append with mismatched nTermBuckets adopts the persisted layout " +
    "(no silently-invisible terms)") {
    val idxDir = tmpDir("layout-idx")
    val all = Synth.pages(spark, 300, Seed, 4).collect()
    val (w1, w2) = all.splitAt(150)
    val created = BuildParams(numShards = 1, blockSize = 16, nTermBuckets = 8)
    InvertedIndex.build(spark, w1.toSeq.toDS(), idxDir, created)
    val h0 = Bm25.open(spark, idxDir) // snapshot BEFORE the append
    // a restarted appender configured with a DIFFERENT bucket count must
    // not write into directories the reader (which trusts <dir>/params)
    // never probes
    StreamingIndex.appendSegment(spark, w2.toSeq.toDS(), idxDir, 5L,
      created.copy(nTermBuckets = 4))
    // handle semantics: h0 stays a consistent pre-append snapshot; reopen()
    // picks up the new segment
    assert(h0.nDocs == w1.length && h0.reopen().nDocs == all.length)
    val h = Bm25.open(spark, idxDir)
    assert(h.nDocs == all.length)
    assert(h.nTermBuckets == 8, "reader must keep the creating layout")
    // decisive visibility check vs a same-layout batch control over ALL
    // docs: postings written under the wrong bucket layout would make the
    // appended docs' term contributions vanish → df and top-k diverge
    val ctrlDir = tmpDir("layout-ctrl")
    InvertedIndex.build(spark, all.toSeq.toDS(), ctrlDir, created)
    val hc = Bm25.open(spark, ctrlDir)
    for (q <- Synth.refTitles.take(3) ++ Seq("w1 w3 the0", "w7 w20")) {
      val dfA = h.termInfos(q).map(ti => ti.term -> ti.df).toMap
      val dfB = hc.termInfos(q).map(ti => ti.term -> ti.df).toMap
      assert(dfA == dfB, s"df diverged for '$q': $dfA vs $dfB")
      val a = h.topk(q, 10).as[(Long, Double)].collect().toSeq.map(_._1)
      val b = hc.topk(q, 10).as[(Long, Double)].collect().toSeq.map(_._1)
      assert(a == b, s"top-k diverged for '$q': $a vs $b")
    }
  }

  /** A 2-shard base build plus three appends: two 100-doc segments and
    * one whose only doc tokenizes to nothing (a zero-row segment). */
  private lazy val appended: String = {
    val dir = tmpDir("bookkeeping-idx")
    val p = BuildParams(numShards = 2, blockSize = 16)
    val all = Synth.pages(spark, 400, Seed, 4).collect()
    InvertedIndex.build(spark, all.take(200).toSeq.toDS(), dir, p)
    StreamingIndex.appendSegment(spark, all.slice(200, 300).toSeq.toDS(), dir, 0L, p)
    StreamingIndex.appendSegment(spark, Seq(graft.data.Page("e://2",
      new java.sql.Timestamp(0L), Array.empty[Byte], "", "en")).toDS(), dir, 1L, p)
    StreamingIndex.appendSegment(spark, all.drop(300).toSeq.toDS(), dir, 2L, p)
    dir
  }

  private def manifestRows(dir: String): Seq[ManifestRow] =
    spark.read.parquet(s"$dir/manifest").as[ManifestRow].collect().toSeq
      .filter(_.committed)

  test("append bookkeeping: manifest and corpus rows equal the written tables") {
    val dir = appended
    val segs = StreamingIndex.SegmentBase + 0 to StreamingIndex.SegmentBase + 2
    val manifest = manifestRows(dir).map(r => r.partition_id -> r).toMap
    assert(segs.forall(manifest.contains), s"segments missing: ${manifest.keys}")
    val postings = spark.read.parquet(s"$dir/postings")
      .groupBy($"shard").agg(sum($"n_docs"), count(lit(1)))
      .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val docstats = spark.read.parquet(s"$dir/docstats")
      .groupBy($"shard").agg(count(lit(1)), sum($"doclen"))
      .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val corpus = spark.read.parquet(s"$dir/corpus").as[InvertedIndex.CorpusShard]
      .collect().map(c => c.shard -> c).toMap

    // the zero-row segment commits zeros and writes no postings or docs
    assert(postings.get(segs(1)).isEmpty && docstats.get(segs(1)).isEmpty)
    for (s <- segs) {
      val m = manifest(s)
      assert((m.rows, m.blocks) == postings.getOrElse(s, (0L, 0L)), s"manifest of $s")
      val c = corpus(s)
      assert((c.n_docs, c.sum_dl) == docstats.getOrElse(s, (0L, 0L)), s"corpus of $s")
    }
    // each segment is encoded with the running corpus avgdl: every shard
    // committed before it plus itself
    var (n, dl) = (0L, 0L)
    for (s <- 0 until 2) { n += corpus(s).n_docs; dl += corpus(s).sum_dl }
    for (s <- segs) {
      n += corpus(s).n_docs; dl += corpus(s).sum_dl
      assert(math.abs(corpus(s).avgdl_build - dl.toDouble / n) < 1e-12,
        s"avgdl_build of $s: ${corpus(s).avgdl_build} vs ${dl.toDouble / n}")
    }
  }

  test("manifest bytes is the on-disk postings size, for build shards and segments") {
    val dir = appended
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val rows = manifestRows(dir)
    assert(rows.map(_.partition_id).toSet.size == 5)
    for (r <- rows) {
      val path = new org.apache.hadoop.fs.Path(s"$dir/postings/shard=${r.partition_id}")
      val onDisk = if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
      assert(r.bytes == onDisk, s"shard ${r.partition_id}: ${r.bytes} vs $onDisk on disk")
      assert((r.bytes > 0) == (r.rows > 0))
    }
  }

  test("withUrls answers from the handle's snapshot, not later segments") {
    val dir = tmpDir("urls-idx")
    val p = BuildParams(numShards = 1, blockSize = 16)
    val base = Synth.pages(spark, 200, Seed, 4).collect()
    InvertedIndex.build(spark, base.toSeq.toDS(), dir, p)
    val h0 = Bm25.open(spark, dir)
    val q = "w1 w3 the0"
    val top = h0.topk(q, 10).as[(Long, Double)].collect().map(_._1).toSet
    // a segment that re-adds the URLs of h0's top hits (same doc_ids)
    val readded = base.filter(pg => top(graft.index.IndexBuild.docId(pg.url)))
    assert(readded.length == top.size)
    StreamingIndex.appendSegment(spark, readded.toSeq.toDS(), dir, 0L, p)

    val ids = h0.withUrls(h0.topk(q, 10)).select($"doc_id").as[Long].collect().toSeq
    assert(ids.sorted == top.toSeq.sorted, s"withUrls rows: $ids")
  }
}
