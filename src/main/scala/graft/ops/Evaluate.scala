package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Evaluation harness — the Spark form of the reference's results.py:
  * per-document self-retrieval with exact and word-dropped (perturbed)
  * queries across engine variants, aggregated into hit rates
  * (reference: results.py:161-201 compare_searches, :267 hit-rate agg).
  *
  * The reference perturbs with an unseeded RNG (results.py:183 —
  * non-reproducible); here drops are a pure function of (seed, doc, word
  * position) — positions ordered by md5("seed:docId:i") — so every
  * evaluation is replayable AND the whole harness has an exact DuckDB
  * oracle twin (SparkEntry.q_eval_hitrate derives the identical query set
  * in SQL).
  */
object Evaluate {

  case class EvalQuery(query_id: Long, expect_doc: Long, variant: String,
                       query: String)

  /** Build the (exact + perturbed) self-retrieval query set from the first
    * `n` docs of the corpus: query = the doc's first `width` tokens; the
    * perturbed variant drops `nDrop` of those words, seeded. */
  def selfQueries(docs: DataFrame, n: Int = 20, width: Int = 8,
                  nDrop: Int = 2, seed: Long = 42L): Seq[EvalQuery] = {
    import docs.sparkSession.implicits._
    // hex MD5 is the portable ordering key for seeded drops (DuckDB's md5()
    // produces the identical hex)
    val digest = Dedup.kernel(Dedup.Md5Portable)
    val rows = docs.select($"doc_id", $"text").orderBy($"doc_id").limit(n)
      .as[(Long, String)].collect()
    rows.zipWithIndex.flatMap { case ((docId, text), qi) =>
      val toks = text.split("\\s+").filter(_.nonEmpty).take(width)
      if (toks.length < 3) Nil
      else {
        val exact = EvalQuery(qi * 2L, docId, "exact", toks.mkString(" "))
        val keep = toks.indices.sortBy(i => digest.hexDigest(s"$seed:$docId:$i"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          .drop(nDrop).sorted
        val perturbed = EvalQuery(qi * 2L + 1, docId, "perturbed",
          keep.map(toks).mkString(" "))
        Seq(exact, perturbed)
      }
    }.toSeq
  }

  /** Hit@k rates per (engine, variant) for the BM25-over-documents engine
    * and the MinHash-LSH engine — the reference's multi-index comparison
    * (results.py J5) with its two retrieval paradigms. */
  def hitRates(docs: DataFrame, k: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qs = selfQueries(docs)
    val qset = qs.map(q => (q.query_id.toInt, q.query))

    // engine 1: MinHash-LSH (fixed bands) + Jaccard re-rank
    val mh = MinHashSearch.search(docs, qset, k)
      .select($"query_id", $"doc_id").withColumn("engine", lit("minhash_lsh"))

    // engine 1b: MinHash-LSH FOREST (longest-prefix probe; reference
    // index.py:55-62) — the reference's other index variant
    val forest = MinHashSearch.forestTopK(docs, qset, k)
      .select($"query_id", $"doc_id").withColumn("engine", lit("minhash_forest"))

    // engine 2: brute BM25 over the documents table (per-query term scoring)
    val qterms = qs.flatMap(q =>
      MinHashSearch.queryTokens(q.query).map(t => (q.query_id, t)))
      .toDF("query_id", "qterm")
    val toks = TextOps.tokens(docs)
    // per-doc token counts are a map-only pass (byte-identical to the
    // groupBy form — long counts, exact sums), not a token-relation shuffle
    val dl = TextOps.docLengths(docs)
    val stats = dl.agg(count(lit(1)).as("n"), avg($"dl").as("avgdl"))
    val tf = toks.join(broadcast(qterms), $"term" === $"qterm")
      .groupBy($"query_id", $"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.select($"term", $"doc_id").distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val bm = tf.join(df, "term").join(dl, "doc_id").crossJoin(broadcast(stats))
      .withColumn("part",
        log(lit(1.0) + ($"n" - $"df" + 0.5) / ($"df" + 0.5)) *
          $"tf" * 2.2 / ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl")))
      .groupBy($"query_id", $"doc_id").agg(round(sum($"part"), 6).as("score"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
          .orderBy($"score".desc, $"doc_id".asc)))
      .filter($"rank" <= k)
      .select($"query_id", $"doc_id").withColumn("engine", lit("bm25"))

    val expect = qs.map(q => (q.query_id, q.expect_doc, q.variant))
      .toDF("query_id", "expect_doc", "variant")
    // denominator = the full query count per variant, NOT the queries that
    // happened to return results (a zero-candidate query is a miss)
    val nq = expect.groupBy($"variant").agg(count(lit(1)).as("n_queries"))
    mh.union(forest).union(bm)
      .join(broadcast(expect), "query_id")
      .groupBy($"engine", $"variant")
      .agg(sum(when($"doc_id" === $"expect_doc", 1).otherwise(0)).as("hits"))
      .join(broadcast(nq), "variant")
      .withColumn("hit_rate",
        round($"hits" * lit(1.0) / $"n_queries", 6))
      .select($"engine", $"variant", $"n_queries", $"hits", $"hit_rate")
  }
}
