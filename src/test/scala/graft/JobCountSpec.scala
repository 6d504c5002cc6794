package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.data.Synth
import graft.index.{BuildParams, InvertedIndex}
import graft.query.Bm25
import graft.streaming.StreamingIndex

/** Spark-job budgets of the small-write paths, where per-job latency, not
  * data volume, is the cost: a segment append and an index open. */
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

  test("a warm segment append runs at most 10 Spark jobs; open infers no schema") {
    val dir = tmpDir("jobs-idx")
    val p = BuildParams(numShards = 2, blockSize = 16)
    val all = Synth.pages(spark, 400, 11L, 4).collect()
    InvertedIndex.build(spark, all.take(300).toSeq.toDS(), dir, p)
    // warm-up append: JIT and Spark's lazy set-up of the append path
    StreamingIndex.appendSegment(spark, all.slice(300, 350).toSeq.toDS(), dir, 0L, p)

    val batch = all.drop(350).toSeq.toDS()
    val appendJobs = jobsOf(StreamingIndex.appendSegment(spark, batch, dir, 1L, p))
    info(s"append: ${appendJobs.size} jobs — ${appendJobs.mkString("; ")}")
    assert(appendJobs.size <= 10,
      s"append ran ${appendJobs.size} jobs:\n${appendJobs.mkString("\n")}")

    // Bm25.open reads manifest, params and corpus with declared schemas:
    // no job is started by the Parquet reader itself (schema inference),
    // only the three snapshot reads
    val openJobs = jobsOf(Bm25.open(spark, dir))
    info(s"open: ${openJobs.size} jobs — ${openJobs.mkString("; ")}")
    assert(!openJobs.exists(_.startsWith("parquet at")) && openJobs.size <= 3,
      s"open ran ${openJobs.size} jobs:\n${openJobs.mkString("\n")}")
  }
}
