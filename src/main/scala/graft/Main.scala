package graft

import org.apache.spark.sql.SparkSession

import graft.data.Synth
import graft.index.{BuildParams, InvertedIndex}
import graft.query.Bm25

/** spark-submit entry point for the engine (the north rule's cluster
  * surface; in the sandbox it runs under local[N]).
  *
  * Usage:
  *   graft.Main build    <indexDir> <nDocs> [seed] [numShards] [waveShards]
  *   graft.Main query    <indexDir> <k> <query words...>
  *   graft.Main wand     <indexDir> <k> <query words...>
  *   graft.Main wandstat <indexDir> <k> <query words...>
  *   graft.Main explain  <sfDir> <indexDir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", 2 * cpus.toInt)
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  private def run(spark: SparkSession, args: Array[String]): Unit = args.toList match {
    case "build" :: dir :: n :: rest =>
      val seed = rest.headOption.map(_.toLong).getOrElse(42L)
      val shards = rest.drop(1).headOption.map(_.toInt).getOrElse(4)
      val waves = rest.drop(2).headOption.map(_.toInt).getOrElse(0)
      val t0 = System.nanoTime()
      val built = InvertedIndex.build(spark, Synth.pages(spark, n.toLong, seed),
        dir, BuildParams(numShards = shards, waveShards = waves))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"built $built shards over $n docs in $sec%.2f s " +
        f"(${n.toLong / math.max(sec, 1e-9)}%.0f docs/sec)")
      spark.read.parquet(s"$dir/manifest").orderBy("partition_id").show(false)
    case "wandstat" :: dir :: k :: qw if qw.nonEmpty =>
      // pruning telemetry + both paths timed, per query
      val h = Bm25.open(spark, dir).tuneForPointQueries().copy(wandCutoff = 0L)
      val q = qw.mkString(" ")
      h.topkWand("w1 w2", 3).collect(); h.topk("w1 w2", 3).collect() // warm
      val (tot, sur, theta) = h.wandStats(q, k.toInt)
      def t(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val tw = math.min(t(h.topkWand(q, k.toInt).collect()),
        t(h.topkWand(q, k.toInt).collect()))
      val te = math.min(t(h.topk(q, k.toInt).collect()),
        t(h.topk(q, k.toInt).collect()))
      println(f"wandstat \"$q\": blocks $sur/$tot survived " +
        f"(${100.0 * (tot - sur) / math.max(tot, 1)}%.1f%% skipped) theta=$theta%.4f " +
        f"wand=$tw%.3f s exhaustive=$te%.3f s")
      // plan audit: the bound jobs' scan must be metadata-only (ReadSchema
      // carries no *_vb payload column)
      println("bound-scan plan (metadata-only ReadSchema expected):")
      h.boundPlanString(q).linesIterator
        .filter(l => l.contains("ReadSchema") || l.contains("Scan parquet") ||
          l.contains("PushedFilters"))
        .foreach(l => println("  " + l.trim))
    case verb :: dir :: k :: qw if (verb == "query" || verb == "wand") && qw.nonEmpty =>
      val h = Bm25.open(spark, dir)
      val q = qw.mkString(" ")
      val t0 = System.nanoTime()
      val res = if (verb == "wand") h.topkWand(q, k.toInt) else h.topk(q, k.toInt)
      // withUrls keeps the result rows' order: the top-k contract's
      // (score desc, doc_id asc)
      val rows = h.withUrls(res).collect()
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"query: \"$q\"  (n_docs=${h.nDocs}, avgdl=${h.avgdl})")
      rows.foreach(r => println(f"  ${r.getAs[Double]("score")}%12.6f  " +
        s"${r.getAs[Long]("doc_id")}  ${r.getAs[String]("url")}"))
      println(f"$verb took $sec%.3f s, ${rows.length} results")
    case "explain" :: sfDir :: idxDir :: Nil =>
      // plan audit: the physical plans the engine's hot paths actually get
      def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        println(s"\n===== $name =====")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
      val h = Bm25.open(spark, idxDir)
      dump("bm25_topk (pruned block scan -> decode -> score -> TakeOrdered)",
        h.topkWand("regex pull substring tags string", 10))
      dump("doc_fetch (predicate pushdown to parquet)",
        spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(org.apache.spark.sql.functions.col("doc_id").isin(3L, 7L, 11L))
          .select("doc_id", "lang"))
      dump("lsh_pairs (bucket-capped self-join)",
        graft.ops.Dedup.lshPairs(
          spark.read.parquet(s"$sfDir/documents.parquet")))
      dump("jaccard_pairs (map-only shingle pass; no join before the " +
        "shingle equi-join itself)",
        graft.ops.Dedup.jaccardPairs(
          spark.read.parquet(s"$sfDir/documents.parquet")))
      dump("cosine_topk (broadcast Q x stream N)",
        graft.ops.Similarity.cosineTopK(
          spark.read.parquet(s"$sfDir/embeddings.parquet")))
    case _ =>
      System.err.println("usage: build <dir> <nDocs> [seed] [shards] [waves] | " +
        "query|wand|wandstat <dir> <k> <terms...> | explain <sfDir> <indexDir>")
      sys.exit(2)
  }
}
