package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <serve|ops> --seed <n>
  * --seconds <s> --trace <0|1> --scratch <dir> --cores <n> --data <dir>`,
  * where `--data` holds the ops workload's tables.
  *
  * The run sets up its inputs, measures its workload for `--seconds` in a
  * closed loop with one client, checks every output in an untimed pass, and
  * writes `<scratch>/result.json` (end-to-end metrics, per-layer metrics,
  * attempted/failed counts, errors and diagnostics). `run.py` launches it
  * and prints the final line. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        scratch: String, cores: Int, data: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("scratch"), m.getOrElse("cores", "4").toInt, need("data"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val run = new Run(o)
    val t0 = System.nanoTime()
    try {
      run.diag("probe_before") = Map("spin_ms" -> Probe.spinMs(), "memcpy_gbps" -> Probe.memcpyGBps())
      run.ledger.attempt("workload") {
        o.workload match {
          case "serve" => Workloads.serve(run)
          case "ops" => Workloads.ops(run)
          case other => sys.error(s"unknown workload $other")
        }
      }
      if (o.trace) {
        Layers.complete(run)
        // the spans themselves, summarised per name
        run.diag("trace_spans") = run.trace.allSpans.groupBy(_.name).map { case (n, ss) =>
          n -> Map("count" -> ss.size, "total_s" -> ss.map(_.wallS).sum)
        }
      }
      run.diag("probe_after") = Map("spin_ms" -> Probe.spinMs(), "memcpy_gbps" -> Probe.memcpyGBps())
    } finally {
      run.stopSession()
      run.diag("run_wall_s") = (System.nanoTime() - t0) / 1e9
      run.diag("peak_rss_mb") = Probe.peakRssMb()
      run.writeResult()
    }
  }
}

/** Mutable state of one run: session, ledger, trace and the metric maps. */
final class Run(val o: Main.Opts) {
  val ledger = new Ledger
  val trace = new Trace(o.trace)
  val inputs = new Inputs(o.seed)
  val e2e: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val layers: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val diag: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  val checks: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  private var current: SparkSession = null
  private var currentCores = 0

  def path(name: String): String = s"${o.scratch}/$name"

  /** The run's session at `local[cores]`; the conf matches the frozen suite
    * harness (shuffle partitions 2×cores, 16 MiB splits, AQE on). Switching
    * core counts stops the previous context first. */
  def session(cores: Int): SparkSession = {
    if (current != null && currentCores == cores) return current
    stopSession()
    val (s, sec) = Stats.time(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.local.dir", path("spark_local"))
      .config("spark.sql.warehouse.dir", path("warehouse"))
      .config("spark.sql.shuffle.partitions", 2 * cores)
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    trace.bind(s.sparkContext)
    diag(s"session_start_s_local$cores") = sec
    diag(s"spark_local$cores") = Map(
      "master" -> s"local[$cores]",
      "shuffle_partitions" -> s.conf.get("spark.sql.shuffle.partitions"),
      "default_parallelism" -> s.sparkContext.defaultParallelism)
    current = s; currentCores = cores
    s
  }

  def stopSession(): Unit = if (current != null) {
    trace.drain()
    trace.unbind()
    current.stop(); current = null; currentCores = 0
  }

  /** Times one measured operation, which must be repeatable (a query or an
    * operator). In a traced run it also runs once with the listener
    * detached, so the tracing overhead compares the same work done both
    * ways (`pairs`). Which of the two goes first alternates from call to
    * call of a span name, and the first call of each new name starts with
    * the other order than the name before: a repeated call runs faster
    * than the first, and the alternation lets that cancel. Returns the
    * traced (result, seconds). */
  val pairs: mutable.ArrayBuffer[(String, Double, Double, Boolean)] = mutable.ArrayBuffer.empty
  private val pairCalls = mutable.Map.empty[String, Int]
  def measure[A](spanName: String)(f: => A): (A, Double) =
    if (!trace.enabled) Stats.time(f)
    else {
      val n = pairCalls.getOrElse(spanName, pairCalls.size)
      pairCalls(spanName) = n + 1
      val detachedFirst = n % 2 == 1
      def untraced() = trace.untraced(Stats.time(f))._2
      val u0 = if (detachedFirst) untraced() else 0.0
      val r = Stats.time(trace.span(spanName)(f))
      pairs += ((spanName, r._2, if (detachedFirst) u0 else untraced(), detachedFirst))
      r
    }

  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  def writeResult(): Unit = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val doc = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "cores" -> o.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "correct" -> (ledger.mismatches == 0 && ledger.checks > 0 && ledger.totalFailed == 0),
      "attempted" -> ledger.totalAttempted, "failed" -> ledger.totalFailed,
      "attempted_by_kind" -> ledger.attempted, "failed_by_kind" -> ledger.failed,
      "errors" -> ledger.errors, "checks" -> checks,
      "end_to_end" -> metrics(e2e), "per_layer" -> metrics(layers), "diagnostics" -> diag)
    Files.writeString(Paths.get(path("result.json")), Json.render(doc))
  }
}
