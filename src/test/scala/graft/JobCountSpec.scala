package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.data.Synth
import graft.index.{BuildParams, InvertedIndex}
import graft.query.Bm25
import graft.streaming.StreamingIndex

/** Spark-job budgets of the small paths, where per-job latency, not data
  * volume, is the cost: a segment append, an index open, a small build, a
  * served query and a forced block-max query. */
class JobCountSpec extends SparkSpec {
  import spark.implicits._

  private val MarkerKey = "graft.test.marker"
  private val markers = new AtomicInteger()

  /** Every job start on the session while registered: (marker tag or
    * null, call site). */
  private val started = new ConcurrentLinkedQueue[(String, String)]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      started.add((Option(e.properties).map(_.getProperty(MarkerKey)).orNull, site))
    }
  }

  private def marker(tag: String): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(MarkerKey, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
  }

  /** Call sites of the jobs `f` runs, bracketed by two marker jobs. Jobs
    * start in submission order on the listener bus, so once the closing
    * marker's start has been delivered every job of `f` has been too. */
  private def jobsOf(f: => Unit): Seq[String] = {
    val id = markers.incrementAndGet()
    val (open, close) = (s"open-$id", s"close-$id")
    spark.sparkContext.addSparkListener(listener)
    try {
      marker(open)
      f
      marker(close)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!started.asScala.exists(_._1 == close) && System.nanoTime() < deadline)
        Thread.sleep(10)
    } finally spark.sparkContext.removeSparkListener(listener)
    val seen = started.asScala.toSeq
    val from = seen.indexWhere(_._1 == open)
    val to = seen.indexWhere(_._1 == close)
    assert(from >= 0 && to > from, "marker jobs were not observed")
    seen.slice(from + 1, to).map(_._2)
  }

  test("a warm segment append runs at most 9 Spark jobs; open infers no schema") {
    val dir = tmpDir("jobs-idx")
    val p = BuildParams(numShards = 2, blockSize = 16)
    val all = Synth.pages(spark, 400, 11L, 4).collect()
    InvertedIndex.build(spark, all.take(300).toSeq.toDS(), dir, p)
    // warm-up append: JIT and Spark's lazy set-up of the append path
    StreamingIndex.appendSegment(spark, all.slice(300, 350).toSeq.toDS(), dir, 0L, p)

    val batch = all.drop(350).toSeq.toDS()
    val appendJobs = jobsOf(StreamingIndex.appendSegment(spark, batch, dir, 1L, p))
    info(s"append: ${appendJobs.size} jobs — ${appendJobs.mkString("; ")}")
    assert(appendJobs.size <= 9,
      s"append ran ${appendJobs.size} jobs:\n${appendJobs.mkString("\n")}")

    // Bm25.open reads manifest, params and corpus with declared schemas:
    // no job is started by the Parquet reader itself (schema inference),
    // only the three snapshot reads
    val openJobs = jobsOf(Bm25.open(spark, dir))
    info(s"open: ${openJobs.size} jobs — ${openJobs.mkString("; ")}")
    assert(!openJobs.exists(_.startsWith("parquet at")) && openJobs.size <= 3,
      s"open ran ${openJobs.size} jobs:\n${openJobs.mkString("\n")}")
  }

  test("a build runs at most 11 Spark jobs") {
    val jobs = jobsOf(InvertedIndex.build(spark, Synth.pages(spark, 300, 11L, 4),
      tmpDir("jobs-build"), BuildParams(numShards = 2, blockSize = 16)))
    info(s"build: ${jobs.size} jobs — ${jobs.mkString("; ")}")
    assert(jobs.size <= 11, s"build ran ${jobs.size} jobs:\n${jobs.mkString("\n")}")
  }

  test("a warm served query with URLs runs at most 2 Spark jobs") {
    val dir = tmpDir("jobs-serve")
    InvertedIndex.build(spark, Synth.pages(spark, 300, 11L, 4), dir,
      BuildParams(numShards = 2, blockSize = 16))
    val h = Bm25.open(spark, dir)
    val q = "w1 w13"
    h.withUrls(h.topkWand(q, 10)).collect() // warm-up
    // one pruned block collect (scored on the driver), one docstats lookup
    val jobs = jobsOf(h.withUrls(h.topkWand(q, 10)).collect())
    info(s"served query: ${jobs.size} jobs — ${jobs.mkString("; ")}")
    assert(jobs.size <= 2, s"served query ran ${jobs.size} jobs:\n${jobs.mkString("\n")}")
  }

  test("a warm forced block-max WAND query below the budget runs 1 Spark job") {
    val dir = tmpDir("jobs-wand")
    InvertedIndex.build(spark, Synth.pages(spark, 300, 11L, 4), dir,
      BuildParams(numShards = 2, blockSize = 16))
    val h = Bm25.open(spark, dir).copy(wandCutoff = 0L)
    assert(h.onDriver)
    val hot = Bm25.WandAllHotFrac * h.nDocs
    // below the budget both take the one block collect of topk; above it
    // (the Spark termInfos of a separate handle tells which) one runs the
    // bound jobs (a term at most 15% of the corpus) and one the all-hot
    // bail (every term above it)
    for ((q, allHot) <- Seq("w7 w300 w2000" -> false, "w1 w3 the0" -> true)) {
      assert(h.copy(localPostings = 0L).termInfos(q).forall(_.df > hot) == allHot, q)
      h.topkWand(q, 10).collect() // warm-up
      // a fresh copy starts with an empty term-stats cache
      val fresh = h.copy()
      val jobs = jobsOf(fresh.topkWand(q, 10).collect())
      info(s"forced WAND '$q': ${jobs.size} jobs — ${jobs.mkString("; ")}")
      assert(jobs.size == 1, s"forced WAND '$q' ran ${jobs.size} jobs:\n${jobs.mkString("\n")}")
    }
  }
}
