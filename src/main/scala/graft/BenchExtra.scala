package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.index.InvertedIndex

/** Optimization-round instrumentation main (guide §1: measure first) —
  * NOT the driver bench. [[Bench]] stays the frozen measurement harness;
  * this main exists so query-level work can be timed, plan-dumped and
  * regression-hashed, and build scaling measured, without touching it.
  *
  * Modes (first arg):
  *   time [pattern...]    — per-query wall seconds via the same
  *                          `.count()` action and session conf the bench
  *                          suite uses; each query runs twice (cold, then
  *                          warm) and per-query Spark-job counts/time come
  *                          from a listener, so driver-side planning time
  *                          (wall − job) is visible.
  *   hash [pattern...]    — order-insensitive md5 of each query's collected
  *                          rows → stdout + /tmp/graft_qhash.txt; any
  *                          restructured query must keep its hash.
  *   explain <tag> [pat…] — `.explain("formatted")` of each query to
  *                          plans/r06/<query>_<tag>.txt.
  *   jobs [pattern...]    — duration and call site of every Spark job of
  *                          each query's warm pass.
  *   scale <docs> <lo> <hi> [reps]
  *                        — Bench phase 2 (`timedBuild`) at `lo` and `hi`
  *                          cores: same per-level session conf, same pages
  *                          parquet input, same warm build and params; prints
  *                          the scaling efficiency t_lo / (t_hi · hi/lo).
  *
  * The query modes read the tables of env SPARK_GRAFT_SF_DIR at env
  * SPARK_GRAFT_CPUS cores.
  */
object BenchExtra {

  private val Shm = "/dev/shm/graft_bextra"

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Bench.session(cores)'s conf — the suite's environment. */
  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-benchextra-$cores")
      .config("spark.local.dir", s"$Shm/spark_local")
      .config("spark.sql.shuffle.partitions", 2 * cores)
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("time")
    InvertedIndex.deleteDir(Shm)
    new java.io.File(s"$Shm/tmp").mkdirs()
    sys.props("java.io.tmpdir") = s"$Shm/tmp"
    // the scratch root is tmpfs (memory): leave nothing behind
    try { if (mode == "scale") scale(args.drop(1)) else queries(mode, args) }
    finally InvertedIndex.deleteDir(Shm)
  }

  private def queries(mode: String, args: Array[String]): Unit = {
    val pats = args.drop(if (mode == "explain") 2 else 1)
    val tag = if (mode == "explain") args(1) else ""
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val s = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // per-query job accounting: jobs started while a query is the active
    // one are attributed to it (single-threaded driver loop, so no races)
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val jobNanos = new java.util.concurrent.atomic.AtomicLong(0)
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); jobStart.put(e.jobId, System.nanoTime())
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val t0 = jobStart.remove(e.jobId)
        if (t0 != 0L) jobNanos.addAndGet(System.nanoTime() - t0)
      }
    })

    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      pats.isEmpty || pats.exists(n.contains)
    }

    mode match {
      case "time" =>
        var total1 = 0.0
        var total2 = 0.0
        println(f"${"query"}%-20s cold_s  warm_s  jobs  job_s")
        selected.foreach { case (name, fn) =>
          val (_, sec1) = time(fn(s, sfDir).count())
          val j0 = jobs.get(); val jn0 = jobNanos.get()
          val (_, sec2) = time(fn(s, sfDir).count())
          val dj = jobs.get() - j0
          val djs = (jobNanos.get() - jn0) / 1e9
          total1 += sec1; total2 += sec2
          println(f"$name%-20s $sec1%6.2f  $sec2%6.2f  $dj%4d  $djs%6.2f")
        }
        println(f"TOTAL cold=$total1%.2f warm=$total2%.2f")
      case "hash" =>
        val out = new StringBuilder
        selected.foreach { case (name, fn) =>
          val line = try {
            val rows = fn(s, sfDir).collect()
              .map(_.toSeq.map {
                case d: Double => java.lang.Double.doubleToLongBits(d).toString
                case x => String.valueOf(x)
              }.mkString("")).sorted
            val md = java.security.MessageDigest.getInstance("MD5")
            rows.foreach(r => md.update(r.getBytes("UTF-8")))
            val hex = md.digest().map(b => f"$b%02x").mkString
            s"$name rows=${rows.length} $hex"
          } catch { case e: Throwable => s"$name FAILED ${e.getMessage}" }
          println(line); out ++= line += '\n'
        }
        Files.writeString(Paths.get("/tmp/graft_qhash.txt"), out.toString)
      case "explain" =>
        Files.createDirectories(Paths.get("plans/r06"))
        selected.foreach { case (name, fn) =>
          val plan = fn(s, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"plans/r06/${name}_$tag.txt"), plan)
          println(s"wrote plans/r06/${name}_$tag.txt")
        }
      case "jobs" =>
        // per-job trace: duration + call site of each Spark job a query
        // submits (finds the fixed-overhead chain in orchestration-bound
        // queries)
        val trace = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
        s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            trace.put(e.jobId, (System.nanoTime(),
              e.stageInfos.lastOption.map(_.name).getOrElse("?")))
          override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val st = trace.remove(e.jobId)
            if (st != null)
              println(f"    job ${e.jobId}%4d ${(System.nanoTime() - st._1) / 1e9}%6.2f s  ${st._2.take(90)}")
          }
        })
        selected.foreach { case (name, fn) =>
          fn(s, sfDir).count() // warm pass
          println(s"== $name (warm pass below) ==")
          val (_, sec) = time(fn(s, sfDir).count())
          Thread.sleep(300)
          println(f"== $name total $sec%.2f s ==")
        }
      case other => sys.error(s"unknown mode $other")
    }
    s.stop()
  }

  private def scale(args: Array[String]): Unit = {
    val docs = args.headOption.map(_.toLong).getOrElse(300000L)
    val lo = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val hi = args.drop(2).headOption.map(_.toInt).getOrElse(8)
    val reps = args.drop(3).headOption.map(_.toInt).getOrElse(2)
    val tmp = s"$Shm/tmp"
    val pagesPath = s"$Shm/pages_$docs"

    locally {
      val s = session(hi)
      graft.data.Synth.pages(s, docs, 42L, 64)
        .write.mode("overwrite").parquet(pagesPath)
      s.stop()
    }

    def timedBuild(cores: Int, warm: Boolean): Double = {
      val s = session(cores)
      import s.implicits._
      val pages = s.read.parquet(pagesPath).as[graft.data.Page]
      if (warm) {
        val warmDir = s"$tmp/graft_scale_warm_$cores"
        InvertedIndex.deleteDir(warmDir)
        InvertedIndex.build(s, pages.limit(5000), warmDir,
          graft.index.BuildParams(numShards = 1))
      }
      val idxDir = s"$tmp/graft_scale_idx_$cores"
      InvertedIndex.deleteDir(idxDir)
      val t0 = System.nanoTime()
      InvertedIndex.build(s, pages, idxDir, graft.index.BuildParams(numShards = 4))
      val sec = (System.nanoTime() - t0) / 1e9
      s.stop()
      sec
    }

    val tl = scala.collection.mutable.ArrayBuffer.empty[Double]
    val th = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (rep <- 0 until reps) {
      tl += timedBuild(lo, warm = rep == 0)
      th += timedBuild(hi, warm = rep == 0)
      val eff = tl.min / (th.min * (hi.toDouble / lo))
      println(f"[scale] rep $rep: t$lo=${tl.last}%.2f t$hi=${th.last}%.2f " +
        f"min t$lo=${tl.min}%.2f t$hi=${th.min}%.2f eff(min)=$eff%.3f " +
        f"eff(pair)=${tl.last / (th.last * (hi.toDouble / lo))}%.3f")
    }
  }
}
