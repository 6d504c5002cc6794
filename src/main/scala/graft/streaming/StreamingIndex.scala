package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.data.Page
import graft.index.{BuildParams, IndexBuild, InvertedIndex}

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
  * bounds by `Bm25.driftFactor(avgdl_now, avgdl_build)` (avgdl_now /
  * avgdl_build with a rounding margin, 1 when avgdl did not rise), keeping
  * WAND result-identical while the corpus drifts.
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
    *   2. [[InvertedIndex.writeShards]] with the segment as a one-shard
    *      wave, the build's own writer: the docstats write (1 job), which
    *      fills the tokenized cache and observes the segment's (n_docs,
    *      sum_dl), hence the avgdl its blocks are encoded with (the
    *      snapshot's totals plus the segment's); then the postings write
    *      (3 jobs: the run shuffle, the bucket shuffle, the write) and,
    *      concurrently, the segment's corpus row (1 job); strictly LAST the
    *      manifest commit row (1 job), so a crash anywhere before it leaves
    *      the segment invisible and the replayed batch rewrites it.
    * The tokenized batch is cached for the two reads of step 2 and
    * released however the append ends. */
  def appendSegment(spark: SparkSession, batch: Dataset[Page], dir: String,
                    batchId: Long, params: BuildParams): Unit = {
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
    // avgdl over everything committed so far plus this segment — never
    // counting leftovers of a crashed, uncommitted segment (the snapshot's
    // corpus rows are the committed shards' only)
    try InvertedIndex.writeShards(spark, dir, tokenized, Seq(seg), p, Map.empty,
        s"segment batchId=$batchId params=$p") { (n, dl) =>
      (snap.sumDl + dl).toDouble / math.max(snap.nDocs + n, 1L)
    }
    finally tokenized.unpersist()
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
