package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.data.{Page, Synth}
import graft.index.{BuildParams, IndexBuild, InvertedIndex}
import graft.query.Bm25
import graft.streaming.{EventStream, StreamingIndex}

/** The two workloads. Sizes are fixed here (never derived from the host),
  * so every run of a workload does the same work. Both report the same
  * end-to-end names; what op1/op2/op3 time per workload is listed in
  * perfbench/README.md. */
object Workloads {

  final val BaseDocs = 2000L
  final val AppendDocs = 300
  /** Steps per cycle: one per WAND probe shape, so every cycle sends each
    * shape once and the window holds whole cycles. */
  final val Cycle = 5
  /** Steps of a cycle that a segment append precedes. */
  final val AppendSteps = Set(1, 3)
  final val SetupReps = 3
  /** Warm passes the ops window holds at least. Two is also the count at
    * `--seconds 10` while a pass takes over 3.3 s, so a faster pass does
    * not change how many passes a run averages. */
  final val MinPasses = 2
  final val K = 10

  /** `BuildParams(numShards = 4)` with the hot-term salting thresholds
    * scaled from the 200k-doc design size down to `docs`, so the same four
    * hottest terms get salted and the skew path runs at benchmark size. */
  private def params(docs: Long) = BuildParams(numShards = 4,
    saltThreshold = 100000L * docs / 200000L, targetPerSalt = 50000L * docs / 200000L)

  private def deadline(seconds: Double): Long = System.nanoTime() + (seconds * 1e9).toLong

  /** True while another step of `stepS` seconds still fits before `d`, so
    * a run overshoots its window by less than one step. */
  private def fits(d: Long, stepS: Double): Boolean =
    System.nanoTime() + (stepS * 1e9).toLong <= d

  private def writePages(spark: SparkSession, n: Long, seed: Long, dir: String): Unit =
    Synth.pages(spark, n, seed, 8).write.mode("overwrite").parquet(dir)

  private def readPages(spark: SparkSession, dir: String): Dataset[Page] = {
    import spark.implicits._
    spark.read.parquet(dir).as[Page]
  }

  private def manifestTotals(spark: SparkSession, dir: String): (Long, Long, Long) = {
    val r = spark.read.parquet(InvertedIndex.manifestPath(dir))
      .filter(col("committed"))
      .agg(sum("rows"), sum("blocks"), sum("bytes")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def topRows(df: DataFrame): Seq[(Long, Double)] =
    df.select(col("doc_id"), col("score")).collect().toSeq
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, s) => (-s, id) }

  /** The three timed operations of a workload, each as one per-run value.
    * The serve window sends a fixed mix (five reference titles, five WAND
    * shapes), so its figures are means, the mix's average latency; a median
    * would jump between the mix's members from run to run. The ops passes
    * all do the same work, so its figures are medians over passes. */
  private def e2e(run: Run, op1: Double, op2: Double, op3: Double): Unit = {
    run.e2e("op1_s") = (op1, "s")
    run.e2e("op2_s") = (op2, "s")
    run.e2e("op3_s") = (op3, "s")
  }

  // ------------------------------------------------------------------ serve

  /** Searching while ingesting, on one base index. Each step sends one
    * served query — `withUrls(topkWand(q, 10))` on the default handle, the
    * single-pass plan below the 2M-doc cutoff (op1) — then one block-max
    * WAND query of the five probe shapes on a `copy(wandCutoff = 0)` of the
    * same snapshot (op3). Before the AppendSteps of each cycle one segment
    * is appended with StreamingIndex.appendSegment and both handles reopen
    * (op2). The window holds whole cycles of Cycle steps (at least one).
    * Set-up: the base corpus written SetupReps times (median), the base
    * index build, and the warm-up. */
  def serve(run: Run): Unit = {
    val spark = run.session(run.o.cores)
    val cs = run.inputs.corpusSeed
    val gen = (0 until SetupReps).map { r =>
      Stats.time(run.trace.span("data.synth")(
        writePages(spark, BaseDocs, cs, run.path(s"base_pages_$r"))))._2
    }
    val dir = run.path("base_idx")
    val (_, once) = Stats.time {
      run.trace.span("index.build.base")(InvertedIndex.build(spark,
        readPages(spark, run.path("base_pages_0")), dir, params(BaseDocs)))
    }
    val expectedRows = Oracle.postingCount(cs, 0L, BaseDocs)
    val base = run.trace.span("check")(manifestTotals(spark, dir))
    // warm-up, also part of set-up: segment 0 is appended and one served
    // and one WAND query run, so JIT and Spark's lazy set-up of those paths
    // are paid before the window opens
    val (_, warm) = Stats.time(run.trace.span("warmup") {
      StreamingIndex.appendSegment(spark, run.inputs.appendBatch(spark, BaseDocs, 0, AppendDocs),
        dir, 0L, params(BaseDocs))
      val h = Bm25.open(spark, dir)
      h.withUrls(h.topkWand("w1 w13", K)).collect()
      h.copy(wandCutoff = 0L).topkWand("w7 w300 w2000", K).collect()
    })
    run.e2e("setup_s") = (Stats.median(gen) + once + warm, "s")
    run.ledger.check("build_check", base._1 == expectedRows,
      s"base index holds ${base._1} postings, expected $expectedRows")
    run.checks("base_manifest") = Map("postings" -> base._1, "blocks" -> base._2,
      "bytes" -> base._3)

    val served = run.inputs.serveQueries(2000)
    val probes = run.inputs.wandQueries(2000)
    val qTimes = mutable.ArrayBuffer.empty[Double]
    val wTimes = mutable.ArrayBuffer.empty[Double]
    val aTimes = mutable.ArrayBuffer.empty[Double]
    val rTimes = mutable.ArrayBuffer.empty[Double]
    // (kind, shape, query, segments visible, rows (doc_id, score, url))
    val results = mutable.ArrayBuffer.empty[(String, Int, String, Int, Seq[(Long, Double, String)])]
    var h = run.trace.span("query.open")(Bm25.open(spark, dir))
    var hw = h.copy(wandCutoff = 0L)
    var segs = 1
    var i = 0
    val t0 = System.nanoTime()
    val end = deadline(run.o.seconds)
    var cycleS = 0.0
    while (i == 0 || (i % Cycle != 0) || fits(end, cycleS)) {
      val s0 = System.nanoTime()
      if (AppendSteps(i % Cycle)) {
        val batch = run.inputs.appendBatch(spark, BaseDocs, segs, AppendDocs)
        run.ledger.attempt("append") {
          val (_, sec) = Stats.time(run.trace.span("streaming.append") {
            StreamingIndex.appendSegment(spark, batch, dir, segs.toLong, params(BaseDocs))
          })
          aTimes += sec
          segs += 1
          val ((h2, hw2), rs) = Stats.time(run.trace.span("query.reopen")((h.reopen(), hw.reopen())))
          rTimes += rs
          h = h2; hw = hw2
        }
      }
      val q = served(i % served.size)
      run.ledger.attempt("query") {
        val (rows, sec) = run.measure("query.urls") {
          h.withUrls(h.topkWand(q, K)).select("doc_id", "score", "url").collect()
        }
        qTimes += sec
        results += (("served", -1, q, segs,
          rows.toSeq.map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))))
      }
      if (run.trace.enabled) Layers.servedDetail(run, h, q)
      val (shape, pq) = probes(i % probes.size)
      run.ledger.attempt("wand_query") {
        val (rows, sec) = run.measure("query.topk")(topRows(hw.topkWand(pq, K)))
        wTimes += sec
        results += (("wand", shape, pq, segs, rows.map(r => (r._1, r._2, ""))))
      }
      if (run.trace.enabled) Layers.wandDetail(run, hw, shape, pq)
      i += 1
      cycleS = math.max(cycleS, (System.nanoTime() - s0) / 1e9 * Cycle)
    }
    val window = (System.nanoTime() - t0) / 1e9
    e2e(run, Stats.mean(qTimes.toSeq), Stats.mean(aTimes.toSeq), Stats.mean(wTimes.toSeq))

    // ---- untimed checks: brute-force BM25 over the exact snapshot each
    // query saw (so WAND ≡ exhaustive ≡ oracle), and every URL maps back to
    // its doc id
    val oracle = new Oracle(results.flatMap(r => Bm25.queryTerms(r._3).map(_.term)).toSet)
    oracle.addChunk(cs, 0L, BaseDocs)
    (0 until segs).foreach { b =>
      val from = BaseDocs + b.toLong * AppendDocs
      oracle.addChunk(cs, from, from + AppendDocs)
    }
    results.foreach { case (kind, _, q, nSeg, rows) =>
      // withUrls is a join: its rows come back unordered
      val got = rows.map(r => (r._1, r._2)).sortBy { case (id, sc) => (-sc, id) }
      val want = oracle.topk(q, K, 1 + nSeg)
      run.ledger.check(s"${kind}_check", Oracle.sameRanking(got, want),
        s"$kind query '$q' (segments=$nSeg): got ${got.take(3)} want ${want.take(3)}")
      if (kind == "served")
        run.ledger.check("served_check", rows.forall(r => IndexBuild.docId(r._3) == r._1),
          s"query '$q': a URL does not hash to its doc_id")
    }
    for (kind <- Seq("served", "wand"))
      run.checks(s"${kind}_digest") = Oracle.digest(results.toSeq.filter(_._1 == kind)
        .zipWithIndex.flatMap { case (r, j) => r._5.map(x => (x._1 ^ j.toLong, x._2)) })
    run.diag("serve") = Map("base_docs" -> BaseDocs, "append_docs" -> AppendDocs,
      "queries" -> qTimes.size, "wand_queries" -> wTimes.size, "appends" -> aTimes.size,
      "query_p50_s" -> Stats.median(qTimes.toSeq), "query_p90_s" -> Stats.pct(qTimes.toSeq, 0.9),
      "wand_p50_s" -> Stats.median(wTimes.toSeq), "wand_p90_s" -> Stats.pct(wTimes.toSeq, 0.9),
      "append_p50_s" -> Stats.median(aTimes.toSeq),
      "reopen_p50_s" -> Stats.median(rTimes.toSeq), "setup_gen_s" -> gen,
      "setup_base_s" -> once, "setup_warm_s" -> warm, "op1_s" -> qTimes, "op2_s" -> aTimes,
      "op3_s" -> wTimes,
      "wand_p50_s_by_shape" -> results.filter(_._1 == "wand").map(_._2).zip(wTimes)
        .groupBy(_._1).toSeq.sortBy(_._1).map { case (sh, xs) =>
          sh.toString -> Stats.median(xs.map(_._2).toSeq) }.toMap)
    if (run.trace.enabled) {
      Layers.serve(run, segs, t0, window)
      Layers.overhead(run)
      buildLayers(run, base)
    }
  }

  /** Traced runs only: the index layer's phases, from a warm rebuild of the
    * base corpus at local[N] and one at local[1] (whose ratio is the
    * scaling efficiency). Both builds must reproduce the base index's
    * posting and block totals. */
  private def buildLayers(run: Run, base: (Long, Long, Long)): Unit = {
    val cores = run.o.cores
    val secs = Seq(cores, 1).map { c =>
      val s = run.session(c)
      val dir = run.path(s"rebuild_p$c")
      val (_, sec) = run.trace.span(s"index.build.p$c") {
        Stats.time(InvertedIndex.build(s, readPages(s, run.path("base_pages_1")), dir,
          params(BaseDocs)))
      }
      val t = run.trace.span("check")(manifestTotals(s, dir))
      run.ledger.check("build_check", t._1 == base._1 && t._2 == base._2,
        s"local[$c] rebuild totals $t differ from the base index's $base")
      c -> sec
    }.toMap
    Layers.build(run, cores)
    run.layer("index.scaling_eff_p1_p4", secs(1) / (cores * secs(cores)), "ratio")
    run.layer("index.bytes_per_doc", base._3.toDouble / BaseDocs, "bytes")
    run.layer("index.postings.blocks", base._2.toDouble, "count")
    run.diag("traced_builds_s") = secs.map { case (c, v) => s"local$c" -> v }
  }

  // -------------------------------------------------------------------- ops

  /** The events table with `ts` as TIMESTAMP: the sf tables store
    * TIMESTAMP_NTZ, which the event-stream operators do not take (the
    * session is UTC, so the instants are the same). */
  private def events(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/events.parquet").withColumn("ts", col("ts").cast("timestamp"))

  /** The event-stream windowed counts in batch form; not a SparkEntry
    * query, so the suite adds it here. */
  private def eventStreamOps: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "es_windowed_counts" -> ((s, d) => EventStream.windowedCountsBatch(events(s, d))))

  /** The operators the ops workload runs (Layers.OpGroups), in sorted
    * order. */
  def suite: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val chosen = Layers.OpGroups.flatMap(_._2).toSet
    (SparkEntry.queries.toSeq ++ eventStreamOps).filter(x => chosen(x._1)).sortBy(_._1)
  }

  /** The suite's operators that join a table with itself (ROADMAP's
    * self-join item): op2 of the ops workload is their share of a pass. */
  final val SelfJoins = Set("q_embed_neardups", "q_lsh_pairs")

  /** The operator suite over the fixed sf0.1 tables (`--data`). op1: one
    * warm pass (`.count()` per operator, in sorted order; whole passes,
    * at least MinPasses), the sum of its operator times; op2: the
    * self-join operators' share of a pass; op3: the Dedup operators'
    * share; each the median over the window's passes. Set-up: the cold pass, which dumps every
    * operator's rows for the DuckDB oracle compare run.py does, and one
    * warm-up pass. */
  def ops(run: Run): Unit = {
    val spark = run.session(run.o.cores)
    val data = run.o.data
    val out = run.path("ops_out")
    val coldOp = mutable.LinkedHashMap.empty[String, Double]
    val (_, cold) = Stats.time(suite.foreach { case (name, fn) =>
      run.ledger.attempt("op_cold") {
        coldOp(name) = Stats.time(run.trace.span(s"ops.cold.$name")(
          fn(spark, data).write.mode("overwrite").parquet(s"$out/$name")))._2
      }
    })
    // the first warm pass of a JVM is still JIT-compiling and varies more
    // than later ones, so it is a warm-up and counts as set-up
    val (_, warmup) = Stats.time(run.trace.span("ops.warmup")(suite.foreach { case (_, fn) =>
      run.ledger.attempt("op_warmup")(fn(spark, data).count())
    }))
    run.e2e("setup_s") = (cold + warmup, "s")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      Json.render(SparkEntry.oracleSql.filter(x => suite.exists(_._1 == x._1))))

    val dedup = Layers.OpGroups.toMap.apply("Dedup").toSet
    val perOp = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val passes = mutable.ArrayBuffer.empty[Double]
    val selfJoinS = mutable.ArrayBuffer.empty[Double]
    val dedupS = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val end = deadline(run.o.seconds)
    var passWall = 0.0
    while (passes.size < MinPasses || fits(end, passWall)) {
      val times = mutable.LinkedHashMap.empty[String, Double]
      val (_, wall) = Stats.time(run.trace.span("ops.pass")(suite.foreach { case (name, fn) =>
        run.ledger.attempt("op") {
          times(name) = run.measure(s"ops.$name")(fn(spark, data).count())._2
          perOp.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += times(name)
        }
      }))
      passWall = math.max(passWall, wall)
      passes += times.values.sum
      selfJoinS += times.filter(x => SelfJoins(x._1)).values.sum
      dedupS += times.filter(x => dedup(x._1)).values.sum
    }
    val window = (System.nanoTime() - t0) / 1e9
    e2e(run, Stats.median(passes.toSeq), Stats.median(selfJoinS.toSeq),
      Stats.median(dedupS.toSeq))

    // untimed check inside the JVM: the event-stream operator against its
    // relational twin (the SparkEntry operators are compared with their
    // DuckDB oracles by run.py)
    run.trace.span("check")(esChecks(run, spark, data))

    run.diag("ops") = Map("data" -> "perfbench/data/sf0.1", "operators" -> suite.size,
      "passes" -> passes, "cold_pass_s" -> cold, "warmup_pass_s" -> warmup,
      "self_join_s" -> selfJoinS, "dedup_s" -> dedupS, "cold_op_s" -> coldOp,
      "warm_op_p50_s" -> perOp.map { case (k, v) => k -> Stats.median(v.toSeq) })
    if (run.trace.enabled) {
      Layers.ops(run, perOp.map { case (k, v) => k -> v.toSeq }, t0, window)
      Layers.overhead(run)
    }
  }

  private def esChecks(run: Run, spark: SparkSession, data: String): Unit = {
    import spark.implicits._
    val win = eventStreamOps.head._2(spark, data)
      .select((unix_micros($"w_start") / 300000000L).cast("long"), $"event_type", $"n", $"sum_value")
      .collect().map(_.toString).toSet
    val q = SparkEntry.queries("q_events_window")(spark, data)
      .select($"bucket", $"event_type", $"n", $"sum_value").collect().map(_.toString).toSet
    run.ledger.check("es_check", win == q, "es_windowed_counts differs from q_events_window")
  }
}
