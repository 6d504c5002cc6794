package graft

import org.apache.spark.sql.SparkSession

import graft.data.Synth
import graft.index.{BuildParams, InvertedIndex}
import graft.query.Bm25

/** spark-submit entry point for the engine (the north rule's cluster
  * surface; in the sandbox it runs under local[N]).
  *
  * Usage:
  *   graft.Main build <indexDir> <nDocs> [seed] [numShards]
  *   graft.Main query <indexDir> <k> <query words...>
  *   graft.Main wand  <indexDir> <k> <query words...>
  */
object Main {
  /** Shuffled value of the profile CLI's dictionary-upper-bound variant. */
  case class DictV(d: Long, m: Long)

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
    case "hashbench" :: n :: Nil =>
      // minhash md5 vs xx64 over n synthetic pages (narrow, zero-shuffle)
      import org.apache.spark.sql.functions._
      val docs = Synth.pages(spark, n.toLong, 42L, 64)
        .select(xxhash64(col("url")).bitwiseAND(lit(Long.MaxValue)).as("doc_id"),
          col("text"))
      docs.write.mode("overwrite").parquet("/tmp/graft_hashbench")
      val d = spark.read.parquet("/tmp/graft_hashbench")
      val modes: Seq[(String, () => Long)] = Seq(
        "md5" -> (() => graft.ops.Dedup.minhash(d).count()),
        "x64c" -> (() => graft.ops.Dedup.minhashColumnar(d, hash = graft.ops.Dedup.Xx64).count()),
        "xx64" -> (() => graft.ops.Dedup.minhash(d, hash = graft.ops.Dedup.Xx64).count()),
        // weighted variants: columnar (two shuffles) vs typed zero-shuffle
        "wx64c" -> (() => graft.ops.Dedup.weightedMinhashColumnar(d, hash = graft.ops.Dedup.Xx64).count()),
        "wxx64" -> (() => graft.ops.Dedup.weightedMinhash(d, hash = graft.ops.Dedup.Xx64).count()))
      for (tag <- Seq("warm", "timed"); (name, f) <- modes) {
        val t0 = System.nanoTime()
        val c = f()
        println(f"[hashbench] $tag $name%4s rows=$c ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    case "shinglebench" :: n :: Nil =>
      // shingle-set generation: Column slide vs typed pass, warmed
      val docs = Synth.pages(spark, n.toLong, 42L, 64)
        .select(org.apache.spark.sql.functions.xxhash64(
            org.apache.spark.sql.functions.col("url"))
            .bitwiseAND(org.apache.spark.sql.functions.lit(Long.MaxValue)).as("doc_id"),
          org.apache.spark.sql.functions.col("text"))
      docs.write.mode("overwrite").parquet("/tmp/graft_shinglebench")
      val d = spark.read.parquet("/tmp/graft_shinglebench")
      for (tag <- Seq("warm", "timed"); (name, f) <- Seq[(String, () => Long)](
        "col" -> (() => graft.ops.Dedup.shinglesColumnar(d).count()),
        "fast" -> (() => graft.ops.Dedup.shinglesFast(d).count()))) {
        val t0 = System.nanoTime()
        val c = f()
        println(f"[shinglebench] $tag $name%4s rows=$c ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
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
    case "build2" :: dir :: n :: Nil =>
      // warmed fixed-overhead measurement: two full builds, same session
      for (i <- 1 to 2) {
        val d = s"$dir-$i"
        graft.index.InvertedIndex.deleteDir(d)
        val t0 = System.nanoTime()
        InvertedIndex.build(spark, Synth.pages(spark, n.toLong, 42L), d,
          BuildParams(numShards = 4))
        println(f"[build2] run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
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
      dump("jaccard_pairs (narrow shingle slide; no join before the " +
        "shingle equi-join itself)",
        graft.ops.Dedup.jaccardPairs(
          spark.read.parquet(s"$sfDir/documents.parquet")))
      dump("cosine_topk (broadcast Q x stream N)",
        graft.ops.Similarity.cosineTopK(
          spark.read.parquet(s"$sfDir/embeddings.parquet")))

    case "qbench" :: dir :: Nil =>
      // query-latency experiment: same handle, conf toggles at runtime
      val h = Bm25.open(spark, dir)
      def run(tag: String): Unit = {
        h.topkWand("w1 w2", 10).collect() // warm
        val times = Synth.refTitles.map { q =>
          val t0 = System.nanoTime()
          h.topkWand(q, 10).collect()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[qbench] $tag%-28s avg=${times.sum / times.length}%.3f max=${times.max}%.3f")
      }
      run("baseline (AQE on)")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      run("AQE off")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      run("AQE off + shuffle=4")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      run("AQE on + shuffle=4")

    case "profile" :: n :: Nil =>
      // stage-by-stage timing of the build pipeline, plus the head-to-head
      // that motivated the per-doc pre-merge: token-instance feed (tf=1 per
      // occurrence) vs docTermFreqs (one row per distinct term per doc)
      // into the SAME salted sort, with REAL shuffle-write bytes from a
      // SparkListener — the number a 100 TB cluster bills for.
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val p = BuildParams(numShards = 1)
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
      val shuffleRecs = new java.util.concurrent.atomic.AtomicLong(0L)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val m = s.stageInfo.taskMetrics
            if (m != null) {
              shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
              shuffleRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
            }
          }
        })
      def gcMs: Long = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .asScala.map(_.getCollectionTime).sum
      }
      def t[A](name: String)(f: => A): A = {
        val g0 = gcMs; val t0 = System.nanoTime()
        val b0 = shuffleBytes.get; val r0 = shuffleRecs.get
        val r = f
        Thread.sleep(400) // let the listener bus drain stage-completed events
        val db = shuffleBytes.get - b0; val dr = shuffleRecs.get - r0
        println(f"[profile] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
          f"  (driver-gc ${(gcMs - g0) / 1000.0}%6.1f s" +
          f", shuffle ${db / 1048576.0}%8.1f MiB / $dr%,d rows)"); r
      }
      val scratch = s"${sys.props("java.io.tmpdir")}/graft_profile"
      val pages = Synth.pages(spark, n.toLong, 42L)
      t("gen+count")(pages.count())
      t("tokenize+write")(graft.index.IndexBuild.tokenize(pages, p)
        .write.mode("overwrite").parquet(s"$scratch/tok"))
      val tok = spark.read.parquet(s"$scratch/tok")
      val avgdl = t("avgdl")(tok.agg(avg($"dl")).head.getDouble(0))
      val instances = tok.select($"shard".cast("int").as("shard"),
        explode($"tokens").as("term"), $"doc_id", lit(1).as("tf"), $"dl")
        .as[graft.index.ShardPosting]
      val premerged = graft.index.IndexBuild.docTermFreqs(tok)
      t("salted-encode[instances]")(
        graft.index.IndexBuild.saltedRuns(instances, Map.empty, p, avgdl)
          .write.mode("overwrite").parquet(s"$scratch/runs_inst"))
      t("salted-encode[sortshuf]")(
        graft.index.IndexBuild.saltedRunsSortShuffle(premerged, Map.empty, p, avgdl)
          .write.mode("overwrite").parquet(s"$scratch/runs_old"))
      t("salted-encode[premerge]")(
        graft.index.IndexBuild.saltedRuns(premerged, Map.empty, p, avgdl)
          .write.mode("overwrite").parquet(s"$scratch/runs"))
      // Dictionary-encoding UPPER BOUND: ship a 64-bit term hash instead of
      // the term string through the same salted sort. This is the floor on
      // shuffle bytes ANY dictionary scheme (hot-term ints, global dict)
      // could reach — if the gap to [premerge] is small, no dictionary
      // variant can pay for its added complexity (and a pure-hash key would
      // additionally risk silent posting-list merges on 64-bit collisions,
      // which the string-keyed production path cannot have).
      t("salted-encode[dict-ub]")(
        premerged.groupByKey(pp => {
          val tb = pp.term.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val th = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
            tb, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, tb.length, 42L)
          (pp.shard.toLong << 32, th)
        })
          .mapValues(pp => DictV(pp.doc_id, (pp.tf.toLong << 32) | pp.dl))
          .flatMapSortedGroups($"d") { case ((gk, th), it) =>
            var n = 0L; var last = Long.MinValue
            while (it.hasNext) { val v = it.next(); if (v.d != last) n += 1; last = v.d }
            Iterator.single((gk, th, n))
          }
          .write.mode("overwrite").parquet(s"$scratch/runs_dict"))
      t("layout-repartition+write")(
        spark.read.parquet(s"$scratch/runs")
          .withColumn("bucket", pmod(xxhash64($"term"), lit(p.nTermBuckets)).cast("int"))
          .repartition(col("shard"), col("bucket"))
          .sortWithinPartitions($"term", $"salt", $"block_id")
          .write.mode("overwrite").partitionBy("shard", "bucket")
          .parquet(s"$scratch/laidout"))
    case _ =>
      System.err.println("usage: build <dir> <nDocs> [seed] [shards] | query|wand <dir> <k> <terms...> | profile <nDocs>")
      sys.exit(2)
  }
}
