package perfbench

import scala.collection.mutable

import graft.query.Bm25

/** Per-layer metrics of a traced run. Spans come from the benchmark's own
  * calls (Workloads); jobs are attributed by the Trace listener. Every name
  * in [[Names]] is reported on every traced run; a layer the workload does
  * not exercise reads 0. */
object Layers {

  /** Operator → module of the ops layer, for the operators the ops
    * workload runs: one or more per module, the Dedup kernels that have
    * md5/xx64 twins (ROADMAP item 4) and two self-joins. Left out for run
    * time (cold + warm seconds on sf0.1, 4 vCPUs): Evaluate's q_eval_hitrate
    * (12 + 10), the BM25 operators (q_index_bm25 9 + 6, q_pages_bm25
    * 10 + 3, q_bm25_topk 4 + 1.6, all three also build or score an index
    * the serve workload measures), Multimodal's q_multimodal (codec work,
    * 2.2 + 1.5), EventStream's sessionization es_sessions (8 + 0.9),
    * MinHashSearch's q_minhash_search (3 + 1.9) and every operator a kept
    * one already stands for. */
  val OpGroups: Seq[(String, Seq[String])] = Seq(
    "TextOps" -> Seq("q_token_count"),
    "Dedup" -> Seq("q_minhash", "q_lsh_bands", "q_lsh_pairs", "q_fingerprint", "q_wminhash"),
    "PostsXml" -> Seq("q_xml_ingest"),
    "Similarity" -> Seq("q_embed_neardups"),
    "EventStream" -> Seq("es_windowed_counts"))

  private val S = "s"; private val B = "bytes"; private val C = "count"; private val R = "ratio"

  val Names: Seq[(String, String)] =
    Seq("tokenize", "corpus_agg", "postings", "docstats", "manifest").map(p => s"index.$p.wall_s" -> S) ++
    Seq("index.tokenize.cpu_s" -> S, "index.tokenize.gc_s" -> S, "index.postings.cpu_s" -> S,
      "index.postings.gc_s" -> S, "index.cpu_util" -> R,
      "index.postings.shuffle_write_bytes" -> B, "index.postings.shuffle_write_records" -> C,
      "index.postings.spill_bytes" -> B, "index.postings.fetch_wait_s" -> S,
      "index.postings.task_skew" -> R, "index.driver_serial_s" -> S,
      "index.tokenize.write_bytes" -> B, "index.postings.blocks" -> C,
      "index.bytes_per_doc" -> B, "index.scaling_eff_p1_p4" -> R,
      "query.topk_s" -> S, "query.urls_s" -> S, "query.jobs_per_query" -> C,
      "query.tasks_per_query" -> C, "query.records_read_per_query" -> C,
      "query.reopen_s" -> S, "streaming.segments" -> C,
      "streaming.append.wall_s" -> S, "streaming.append.postings_s" -> S,
      "streaming.append.docstats_s" -> S, "streaming.append.manifest_s" -> S,
      "streaming.append.jobs" -> C,
      "query.terminfos_s" -> S, "query.bound_s" -> S, "query.blocks_scanned" -> C,
      "query.blocks_survived" -> C, "query.block_skip_ratio" -> R,
      "query.path_bound" -> C, "query.path_bail" -> C) ++
    OpGroups.flatMap { case (g, _) =>
      Seq(s"ops.$g.s" -> S, s"ops.$g.jobs" -> C, s"ops.$g.shuffle_bytes" -> B) } ++
    OpGroups.flatMap(_._2).sorted.map(op => s"ops.${op}_s" -> S) ++
    Seq("trace.overhead_share" -> R, "trace.unattributed_share" -> R, "trace.span_coverage" -> R)

  /** Puts the run's per-layer metrics in [[Names]] order, with 0 for every
    * name the workload did not set. */
  def complete(run: Run): Unit = {
    val got = run.layers.clone()
    run.layers.clear()
    Names.foreach { case (n, u) => run.layers(n) = got.getOrElse(n, (0.0, u)) }
  }

  // ------------------------------------------------------------ aggregation

  final case class Agg(wallS: Double, cpuS: Double, gcS: Double, swBytes: Double,
                       swRecords: Double, spill: Double, fetchWaitS: Double,
                       skew: Double, writeBytes: Double, jobs: Int, tasks: Long,
                       recordsRead: Double)

  def agg(t: Trace, js: Seq[Job]): Agg = {
    val stages = js.flatMap(j => j.stageIds.zip(t.stageAgg(j))).toMap.values.toSeq
    val heaviest = if (stages.isEmpty) None else Some(stages.maxBy(_.runMs))
    val skew = heaviest.filter(_.taskMs.size > 1).map { a =>
      val ms = a.synchronized(a.taskMs.toSeq.map(_.toDouble))
      ms.max / math.max(1.0, Stats.median(ms))
    }.getOrElse(1.0)
    Agg(Trace.unionMs(js.map(j => (j.startMs, j.endMs))) / 1e3,
      stages.map(_.cpuNs).sum / 1e9, stages.map(_.gcMs).sum / 1e3,
      stages.map(_.shuffleWriteBytes).sum.toDouble, stages.map(_.shuffleWriteRecords).sum.toDouble,
      stages.map(_.spillBytes).sum.toDouble, stages.map(_.fetchWaitMs).sum / 1e3, skew,
      stages.map(_.writeBytes).sum.toDouble, js.size, stages.map(_.tasks).sum,
      stages.map(_.recordsRead).sum.toDouble)
  }

  /** The theta job sorts one term's partial scores, column `s`; the cell
    * bound job aggregates max(_3) over (term, cell). */
  private val ThetaSort = """\[s#\d+ DESC""".r

  private def classify(span: String, plan: String): String =
    if (span.startsWith("index.build") || span == "streaming.append") Trace.buildPhase(plan)
    else if (span == "query.detail") {
      if (plan.contains("max(max_tfsat")) "terminfos"
      else if (plan.contains("max(_3") || ThetaSort.findFirstIn(plan).isDefined) "bound"
      else "score"
    } else "op"

  /** Trace-wide shares: how much of the measured window (from
    * `windowT0Ns`, `windowS` long) the top-level spans cover, and how much
    * of all job time no span or named phase claims. */
  private def shares(run: Run, jobs: Seq[Job], windowT0Ns: Long, windowS: Double): Unit = {
    val t = run.trace
    val windowEndNs = windowT0Ns + (windowS * 1e9).toLong
    val top = t.allSpans.filter(s => s.parent < 0 && s.t0Ns >= windowT0Ns &&
      s.t1Ns >= 0 && s.t1Ns <= windowEndNs)
    run.layer("trace.span_coverage", top.map(_.wallS).sum / math.max(windowS, 1e-9), R)
    val all = Trace.unionMs(jobs.map(j => (j.startMs, j.endMs)))
    val un = Trace.unionMs(jobs.filter(j => j.span == null || j.phase == "other")
      .map(j => (j.startMs, j.endMs)))
    run.layer("trace.unattributed_share", un.toDouble / math.max(all, 1L), R)
  }

  /** Each measured operation of a traced run also ran once with the
    * listener detached, in alternating order (Run.measure). The share is
    * the geometric mean of traced ÷ detached, minus 1, taken per operation
    * and order and then averaged with equal weights: a run-order effect
    * scales one order's ratios up and the other's down by the same factor,
    * so it cancels even when an operation ran an odd number of times. */
  def overhead(run: Run): Unit = if (run.pairs.nonEmpty) {
    val logs = run.pairs.groupBy(p => (p._1, p._4)).values
      .map(g => Stats.mean(g.map(p => math.log(p._2 / p._3)).toSeq)).toSeq
    run.layer("trace.overhead_share", math.exp(Stats.mean(logs)) - 1.0, R)
    run.diag("trace_pairs") = run.pairs.map(p => Seq(p._1, p._2, p._3, p._4))
  }

  // ------------------------------------------------------------------ build

  def build(run: Run, cores: Int): Unit = {
    val t = run.trace
    val jobs = t.attributedJobs(classify)
    val builds = t.allSpans.filter(_.name == s"index.build.p$cores")
    val per = builds.map { sp =>
      val js = jobsOf(jobs, sp)
      val phases = Seq("tokenize", "corpus_agg", "postings", "docstats", "manifest")
        .map(p => p -> agg(t, js.filter(_.phase == p))).toMap
      val all = agg(t, js)
      (sp, phases, all)
    }.filter(_._3.jobs > 0)
    def m(f: ((Span, Map[String, Agg], Agg)) => Double) = Stats.mean(per.map(f))
    Seq("tokenize", "corpus_agg", "postings", "docstats", "manifest").foreach { p =>
      run.layer(s"index.$p.wall_s", m(_._2(p).wallS), S)
    }
    run.layer("index.tokenize.cpu_s", m(_._2("tokenize").cpuS), S)
    run.layer("index.tokenize.gc_s", m(_._2("tokenize").gcS), S)
    run.layer("index.postings.cpu_s", m(_._2("postings").cpuS), S)
    run.layer("index.postings.gc_s", m(_._2("postings").gcS), S)
    run.layer("index.cpu_util", m(x => x._3.cpuS / (x._1.wallS * cores)), R)
    run.layer("index.postings.shuffle_write_bytes", m(_._2("postings").swBytes), B)
    run.layer("index.postings.shuffle_write_records", m(_._2("postings").swRecords), C)
    run.layer("index.postings.spill_bytes", m(_._2("postings").spill), B)
    run.layer("index.postings.fetch_wait_s", m(_._2("postings").fetchWaitS), S)
    run.layer("index.postings.task_skew", m(_._2("postings").skew), R)
    run.layer("index.driver_serial_s", m(x => x._1.wallS - x._3.wallS), S)
    run.layer("index.tokenize.write_bytes", m(_._2("tokenize").writeBytes), B)
  }

  // ------------------------------------------------------------------ serve

  /** Extra traced call after a measured served query: the same top-k
    * without the URL join, so the join's share can be told apart. */
  def servedDetail(run: Run, h: Bm25.IndexHandle, q: String): Unit =
    run.trace.span("query.topk_only")(h.topkWand(q, Workloads.K).collect())

  private val wandCounts = mutable.ArrayBuffer.empty[(Int, Long, Long)]

  /** Extra traced calls after a measured WAND query, on a fresh copy of
    * the handle (empty term-stats cache): termInfos alone, the pruned top-k
    * again (its bound jobs are told apart by their plans), and wandStats
    * for the block counts. */
  def wandDetail(run: Run, h: Bm25.IndexHandle, shape: Int, q: String): Unit = {
    val fresh = h.copy()
    run.trace.span("query.terminfos")(fresh.termInfos(q))
    run.trace.span("query.detail")(fresh.topkWand(q, Workloads.K).collect())
    val (scanned, survived, _) = run.trace.span("query.wandstats")(fresh.wandStats(q, Workloads.K))
    wandCounts += ((shape, scanned, survived))
  }

  private def jobsOf(jobs: Seq[Job], sp: Span): Seq[Job] =
    jobs.filter(j => j.span != null && j.span.id == sp.id)

  private def medianSpan(run: Run, name: String): Double = {
    val xs = run.trace.allSpans.filter(s => s.name == name && s.t1Ns >= 0).map(_.wallS)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  def serve(run: Run, segments: Int, windowT0Ns: Long, windowS: Double): Unit = {
    val t = run.trace
    val jobs = t.attributedJobs(classify)
    // served queries (with the URL join), traced ones only
    val per = t.allSpans.filter(_.name == "query.urls").map(sp => agg(t, jobsOf(jobs, sp)))
      .filter(_.jobs > 0)
    run.layer("query.jobs_per_query", Stats.mean(per.map(_.jobs.toDouble)), C)
    run.layer("query.tasks_per_query", Stats.mean(per.map(_.tasks.toDouble)), C)
    run.layer("query.records_read_per_query", Stats.mean(per.map(_.recordsRead)), C)
    val topk = medianSpan(run, "query.topk_only")
    run.layer("query.topk_s", topk, S)
    run.layer("query.urls_s", medianSpan(run, "query.urls") - topk, S)
    run.layer("query.reopen_s", medianSpan(run, "query.reopen"), S)
    run.layer("streaming.segments", segments.toDouble, C)

    val appends = t.allSpans.filter(_.name == "streaming.append")
      .map(sp => (sp, jobsOf(jobs, sp))).filter(_._2.nonEmpty).map { case (sp, js) =>
        (sp.wallS, agg(t, js.filter(_.phase == "postings")).wallS,
          agg(t, js.filter(_.phase == "docstats")).wallS,
          agg(t, js.filter(j => j.phase != "postings" && j.phase != "docstats")).wallS,
          js.size.toDouble)
      }
    run.layer("streaming.append.wall_s", Stats.mean(appends.map(_._1)), S)
    run.layer("streaming.append.postings_s", Stats.mean(appends.map(_._2)), S)
    run.layer("streaming.append.docstats_s", Stats.mean(appends.map(_._3)), S)
    run.layer("streaming.append.manifest_s", Stats.mean(appends.map(_._4)), S)
    run.layer("streaming.append.jobs", Stats.mean(appends.map(_._5)), C)

    // block-max WAND probe queries
    run.layer("query.terminfos_s", medianSpan(run, "query.terminfos"), S)
    val details = t.allSpans.filter(_.name == "query.detail").map { sp =>
      Trace.unionMs(jobsOf(jobs, sp).filter(_.phase == "bound").map(j => (j.startMs, j.endMs))) / 1e3
    }
    val bound = details.filter(_ > 0)
    run.layer("query.bound_s", if (bound.isEmpty) 0.0 else Stats.median(bound), S)
    run.layer("query.path_bound", bound.size.toDouble, C)
    run.layer("query.path_bail", (details.size - bound.size).toDouble, C)
    val scanned = wandCounts.map(_._2).sum
    val survived = wandCounts.map(_._3).sum
    run.layer("query.blocks_scanned", scanned.toDouble / math.max(1, wandCounts.size), C)
    run.layer("query.blocks_survived", survived.toDouble / math.max(1, wandCounts.size), C)
    run.layer("query.block_skip_ratio", survived.toDouble / math.max(1L, scanned), R)
    run.diag("wand_survival_by_shape") = wandCounts.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (sh, xs) => sh.toString -> xs.map(_._3).sum.toDouble / math.max(1L, xs.map(_._2).sum)
    }.toMap
    shares(run, jobs, windowT0Ns, windowS)
  }

  // -------------------------------------------------------------------- ops

  def ops(run: Run, perOp: collection.Map[String, Seq[Double]], windowT0Ns: Long,
          windowS: Double): Unit = {
    val t = run.trace
    val jobs = t.attributedJobs(classify)
    val known = OpGroups.flatMap(_._2).toSet
    perOp.foreach { case (op, xs) =>
      if (known(op)) run.layer(s"ops.${op}_s", Stats.median(xs), S)
    }
    val traced = t.allSpans.filter(_.name.startsWith("ops.")).groupBy(_.name)
    OpGroups.foreach { case (g, members) =>
      run.layer(s"ops.$g.s", members.flatMap(perOp.get).map(Stats.median).sum, S)
      val sps = members.flatMap(m => traced.getOrElse(s"ops.$m", Nil))
      val ids = sps.map(_.id).toSet
      val js = jobs.filter(j => j.span != null && ids(j.span.id))
      val a = agg(t, js)
      val tracedPasses = math.max(1, members.flatMap(perOp.get).map(_.size).maxOption.getOrElse(1))
      run.layer(s"ops.$g.jobs", a.jobs.toDouble / tracedPasses, C)
      run.layer(s"ops.$g.shuffle_bytes", a.swBytes / tracedPasses, B)
    }
    shares(run, jobs, windowT0Ns, windowS)
  }
}
