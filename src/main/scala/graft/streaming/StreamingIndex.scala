package graft.streaming

import org.apache.spark.sql.{Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.data.Page
import graft.index.{BuildParams, IndexBuild, InvertedIndex, ManifestRow}

/** Incremental (streaming) index maintenance — the Structured-Streaming
  * analog of the reference's one-document-at-a-time `index.insert`
  * (reference: index/index.py:55-57, index_new.py:58-63): micro-batches of
  * pages are appended as independent, immutable posting SEGMENTS that reuse
  * the batch index's on-disk layout (a segment is just a shard with id
  * ≥ 1000), so the whole read/query path — Bm25.open, topk, topkWand,
  * corpus/term stats — works on a streamed index unchanged.
  *
  * Consistency under growth: each segment's blocks embed the avgdl at its
  * append time (corpus row `avgdl_build`); queries inflate stale max_tfsat
  * bounds by max(1, avgdl_now/avgdl_build), keeping WAND result-identical
  * while the corpus drifts.
  *
  * Exactly-once: foreachBatch + a manifest commit row per (segment) batch;
  * a replayed batch id that is already committed is skipped, so restart
  * after failure never double-indexes a segment.
  */
object StreamingIndex {

  final val SegmentBase = 1000

  val pageSchema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = true),
    StructField("html", BinaryType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)))

  /** Append one micro-batch of pages as segment (SegmentBase + batchId).
    * Public so batch jobs can append segments too (idempotent by id).
    *
    * Spark jobs, in order (9 for a non-empty batch on an existing index):
    *   1. [[InvertedIndex.snapshot]]: manifest, params and corpus reads, 3
    *      jobs run concurrently — the committed check, the persisted layout
    *      and the previous corpus totals (summed on the driver from the
    *      committed corpus rows: O(shards), never a docstats scan). A new
    *      index also writes its params here (1 more job).
    *   2. docstats write (1 job). It fills the tokenized cache, and an
    *      observation on it yields the segment's (n_docs, sum_dl), hence
    *      the avgdl the segment's blocks are encoded with.
    *   3. postings write (3 jobs with AQE: the run shuffle and the bucket
    *      shuffle as map stages, then the result stage that writes); an
    *      observation on it yields the manifest's (rows, blocks).
    *      CONCURRENTLY, the segment's corpus row write (1 job).
    *   4. the manifest commit row (1 job), strictly LAST, after every other
    *      write has landed: a crash anywhere before it leaves the segment
    *      invisible to readers (which filter by committed shards), and the
    *      replayed batch rewrites it. `bytes` is the segment's on-disk
    *      postings size ([[InvertedIndex.shardBytes]]), as for build shards.
    *
    * Both observe nodes sit after their write's last exchange, in the
    * result stage. Observed metrics are accumulators: result-task updates
    * are applied once per partition, but a retried shuffle-map stage would
    * apply its tasks' updates again and double-count n_docs / sum_dl —
    * hence avgdl — or rows / blocks. */
  def appendSegment(spark: SparkSession, batch: Dataset[Page], dir: String,
                    batchId: Long, params: BuildParams): Unit = {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val seg = SegmentBase + batchId.toInt
    val snap = InvertedIndex.snapshot(spark, dir)
    if (snap.committed.contains(seg)) return
    // appends must keep the CREATING build's bucket layout (readers trust
    // <dir>/params) — a restarted stream configured differently would
    // otherwise write terms into buckets no query ever probes
    val p = snap.adoptLayout(dir, params)
    if (snap.params.isEmpty) InvertedIndex.writeParamsIfAbsent(spark, dir, p)

    // every doc in this segment lands in this segment's shard id
    val tokenized = IndexBuild.tokenize(batch, p.copy(numShards = 1))
      .withColumn("shard", lit(seg))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // coalesce: an empty segment (all docs in the batch tokenize to
    // nothing) must observe zeros, not the NULL sum of an empty aggregate
    val segObs = Observation("segment")
    tokenized.select($"doc_id", $"url", $"dl".as("doclen"), $"shard")
      .observe(segObs, count(lit(1)).as("n_docs"),
        coalesce(sum($"doclen"), lit(0L)).as("sum_dl"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard").parquet(s"$dir/docstats")
    val segStats = observed(segObs)

    // avgdl over everything committed so far plus this segment — never
    // counting leftovers of a crashed, uncommitted segment (the snapshot's
    // corpus rows are the committed shards' only)
    val (segN, segDl) = (segStats("n_docs"), segStats("sum_dl"))
    val avgdl = (snap.sumDl + segDl).toDouble / math.max(snap.nDocs + segN, 1L)
    val corpusF = Future(Seq(InvertedIndex.CorpusShard(seg, segN, segDl, avgdl))
      .toDS().write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard").parquet(s"$dir/corpus"))

    // per-doc map-side pre-merge (same feed as the batch build): one row
    // per distinct term per doc, NO (term, doc) aggregation exchange — the
    // streaming append previously paid a full groupBy shuffle per
    // micro-batch for tf that run-length/pre-merge semantics give for free
    val postingsObs = Observation("postings")
    try IndexBuild.buildShardPostings(IndexBuild.docTermFreqs(tokenized), Map.empty, p, avgdl)
      .withColumn("bucket", pmod(xxhash64($"term"), lit(p.nTermBuckets)).cast("int"))
      .repartition(col("bucket")).sortWithinPartitions($"term", $"salt", $"block_id")
      .observe(postingsObs, coalesce(sum($"n_docs"), lit(0L)).as("rows"),
        count(lit(1)).as("blocks"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard", "bucket")
      .parquet(s"$dir/postings")
    finally tokenized.unpersist()
    Await.result(corpusF, Duration.Inf)
    val stats = observed(postingsObs)

    Seq(ManifestRow(seg, stats("rows"), stats("blocks"),
        InvertedIndex.shardBytes(spark, dir, seg), committed = true,
        s"segment=$seg batchId=$batchId avgdl=$avgdl params=$p"))
      .toDS().write.mode(SaveMode.Append)
      .parquet(InvertedIndex.manifestPath(dir))
  }

  /** An observation's (Long) metrics. They arrive through the listener bus
    * once the observed write has finished — normally within milliseconds;
    * the bound turns a lost event into a failed (uncommitted, replayable)
    * append instead of a hung one. */
  private def observed(obs: Observation): Map[String, Long] = {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val r = Await.result(obs.future, 5.minutes)
    r.schema.fieldNames.map(f => f -> r.getAs[Long](f)).toMap
  }

  /** Start a streaming index build over a directory of page parquet files.
    * New files become new segments; query with Bm25.open(indexDir) at any
    * time. */
  def start(spark: SparkSession, sourceDir: String, indexDir: String,
            p: BuildParams = BuildParams()): StreamingQuery = {
    import spark.implicits._
    spark.readStream.schema(pageSchema).parquet(sourceDir).as[Page]
      .writeStream
      .option("checkpointLocation", s"$indexDir/_checkpoint")
      .foreachBatch { (batch: Dataset[Page], batchId: Long) =>
        appendSegment(batch.sparkSession, batch, indexDir, batchId, p)
      }
      .start()
  }
}
