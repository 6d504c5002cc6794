package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's own search modality, re-expressed relationally
  * (reference: index/index_new.py:65-72): query → MinHash signature → LSH
  * band probe → candidate union → EXACT token-Jaccard re-rank → top-k.
  *
  * Signatures/bands reuse the Dedup primitives (same md5-hex minima), so
  * query bands are directly joinable against document bands, and the whole
  * path has an exact DuckDB oracle twin (SparkEntry.q_minhash_search).
  *
  * Scale shape: the probe is an equi-join on (band, band_hash) — the LSH
  * bucket lookup — followed by a candidate-only Jaccard join; the corpus is
  * never scanned per query. The QUERY side (a handful of rows) is computed
  * DRIVER-SIDE by the same signature functions the document passes use
  * (Dedup.minima / bands / prefixHashes, md5 kernel) — zero Spark jobs —
  * and enters the plan as broadcast local relations; the document side runs
  * the zero-shuffle passes Dedup.lshBands / minhashPrefixes. SearchOpsSpec
  * asserts that a query's rows equal the doc pass's rows for the same
  * tokens, and both equal their relational forms.
  */
object MinHashSearch {

  /** Simple query tokenizer for the documents table's pre-clean text:
    * lowercase + whitespace split + distinct (set semantics, like the
    * reference's MinHash update). */
  def queryTokens(q: String): Seq[String] =
    q.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
      .distinct.toSeq

  /** (query_id, term) relation for a fixed query set. */
  def queryTermsDF(spark: SparkSession, queries: Seq[(Int, String)]): DataFrame = {
    import spark.implicits._
    queries.flatMap { case (id, q) =>
      queryTokens(q).map(t => (id.toLong, t))
    }.toDF("query_id", "term")
  }

  // ---- driver-side query signatures: the doc passes' functions on the
  // query tokens, md5 kernel (the oracle shape) ------------------------------

  /** Per-query minhash minima in seed order (unsigned longs; their 16-hex
    * renders are the doc side's `minhash` strings) — [[Dedup.minima]] over
    * [[queryTokens]], zero Spark jobs. Queries with no tokens have no
    * signature, like empty docs. */
  private[graft] def querySigLocal(queries: Seq[(Int, String)],
                                   nSeeds: Int): Seq[(Long, Array[Long])] = {
    val k = Dedup.kernel(Dedup.Md5Portable)
    queries.flatMap { case (id, q) =>
      Option(Dedup.minima(queryTokens(q).toArray, nSeeds, k)).map(id.toLong -> _)
    }
  }

  /** Driver-side band rows (query_id, band, band_hash) — [[Dedup.bands]]
    * of [[querySigLocal]], the rows Dedup.lshBands emits for a doc with the
    * query's tokens. */
  private[graft] def queryBandsLocal(queries: Seq[(Int, String)], nSeeds: Int,
                                     rowsPerBand: Int): Seq[(Long, Long, String)] = {
    val k = Dedup.kernel(Dedup.Md5Portable)
    querySigLocal(queries, nSeeds).flatMap { case (id, mins) =>
      Dedup.bands(mins, rowsPerBand, k).toSeq.zipWithIndex
        .map { case (bh, b) => (id, b.toLong, bh) }
    }
  }

  /** Driver-side prefix rows (query_id, r, ph), r = 1..nSeeds —
    * [[Dedup.prefixHashes]] of [[querySigLocal]], the rows
    * Dedup.minhashPrefixes emits for a doc with the query's tokens. */
  private[graft] def queryPrefixesLocal(queries: Seq[(Int, String)],
                                        nSeeds: Int): Seq[(Long, Long, String)] = {
    val k = Dedup.kernel(Dedup.Md5Portable)
    querySigLocal(queries, nSeeds).flatMap { case (id, mins) =>
      Dedup.prefixHashes(mins, k).toSeq.zipWithIndex
        .map { case (ph, r) => (id, r + 1L, ph) }
    }
  }

  /** Exact token-Jaccard of each (query_id, doc_id) candidate pair, with
    * candidates' extra columns carried through. The corpus side is joined
    * only on candidate doc ids — never scanned per query; the per-doc
    * distinct-token relation and set sizes come from the typed zero-shuffle
    * passes (set semantics are per-doc — no corpus-wide distinct()
    * exchange). */
  private def withJaccard(docs: DataFrame, qt: DataFrame, qsizes: Seq[(Long, Long)],
                          cand: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val dtok = TextOps.distinctTokens(docs)
    val dsize = TextOps.tokenSetSizes(docs)
      .select(col("doc_id"), col("n").as("dn"))
    val qsize = broadcast(qsizes.toDF("query_id", "qn"))
    val inter = cand.select(col("query_id"), col("doc_id"))
      .join(dtok, "doc_id")
      .join(broadcast(qt), Seq("query_id", "term"))
      .groupBy(col("query_id"), col("doc_id")).agg(count(lit(1)).as("i"))
    cand
      .join(inter, Seq("query_id", "doc_id"), "left")
      .na.fill(0L, Seq("i"))
      .join(dsize, "doc_id").join(qsize, "query_id")
      .withColumn("jaccard",
        round(col("i") * lit(1.0) / (col("qn") + col("dn") - col("i")), 6))
  }

  /** Distinct-token count per query — the driver-side `qsize` input of
    * [[withJaccard]] (count over [[queryTokens]], which already dedups). */
  private def querySizesLocal(queries: Seq[(Int, String)]): Seq[(Long, Long)] =
    queries.map { case (id, q) => (id.toLong, queryTokens(q).length.toLong) }

  /** Top-k per query: LSH-band candidates re-ranked by exact Jaccard
    * (reference: index/index_new.py:65-72, fixed-band LSH).
    * Output: (query_id, rank, doc_id, jaccard). */
  def search(docs: DataFrame, queries: Seq[(Int, String)], k: Int = 10,
             nSeeds: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = queryTermsDF(spark, queries)
    val qbands = queryBandsLocal(queries, nSeeds, rowsPerBand)
      .toDF("query_id", "band", "band_hash")

    val cand = Dedup.lshBands(docs, nSeeds, rowsPerBand)
      .join(broadcast(qbands), Seq("band", "band_hash"))
      .select(col("query_id"), col("doc_id")).distinct()

    withJaccard(docs, qt, querySizesLocal(queries), cand)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("jaccard").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("jaccard"))
  }

  /** LSH FOREST top-k (reference: index/index.py:55-62 —
    * MinHashLSHForest.query): candidates are matched by their LONGEST shared
    * signature prefix with the query (prefix trees in the reference;
    * here one prefix-hash relation per depth, equi-joined, max depth per
    * pair), then ranked by (depth desc, exact Jaccard desc, doc_id asc).
    * Unlike fixed bands, shorter prefixes keep recall when no deep prefix
    * matches — the forest's different recall profile.
    * Output: (query_id, rank, doc_id, depth, jaccard). */
  def forestTopK(docs: DataFrame, queries: Seq[(Int, String)], k: Int = 10,
                 nSeeds: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = queryTermsDF(spark, queries)
    val qpre = queryPrefixesLocal(queries, nSeeds).toDF("query_id", "r", "ph")
    val dpre = Dedup.minhashPrefixes(docs, nSeeds)
    val cand = dpre.join(broadcast(qpre), Seq("r", "ph"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(max(col("r")).as("depth"))
    withJaccard(docs, qt, querySizesLocal(queries), cand)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("depth").desc, col("jaccard").desc, col("doc_id").asc))
        .cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("depth"),
        col("jaccard"))
  }
}
