package graft.ops

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Text-analysis operators over a `documents(doc_id, text, ...)` table whose
  * text is space-separated clean tokens. Every operator here is expressed in
  * built-in (codegen'd, pushdown-friendly) column functions and has an exact
  * DuckDB-SQL oracle twin in SparkEntry.oracleSql — so the relational shape
  * (and any rounding) is chosen to be engine-portable and deterministic.
  *
  * Scale notes: all of these are narrow maps or single hash aggregations on
  * (doc_id[, term]) — they partition by the natural key and hit map-side
  * partial aggregation; nothing here collects to the driver.
  */
object TextOps {

  /** Token table (doc_id, term, ord) — ord is 1-based like SQL ordinality. */
  def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(split(col("text"), " ")))
      .filter(col("col") =!= "")
      .select(col("doc_id"), col("col").as("term"),
        (col("pos") + 1).cast("long").as("ord"))

  /** The typed passes' one split-and-filter: each doc's non-empty
    * space-separated tokens, handed to `rows` with its doc_id — one map-only
    * pass, no shuffle. */
  private def perDoc[T <: Product: TypeTag](docs: DataFrame)(
      rows: (Long, Array[String]) => Iterator[T]): Dataset[T] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        rows(id, if (text == null) Array.empty[String]
          else text.split(' ').filter(_.nonEmpty))
      })(Encoders.product[T])
  }

  /** Typed zero-shuffle DISTINCT (doc_id, term) relation — byte-identical
    * to `tokens(docs).select(doc_id, term).distinct()` (set semantics are
    * PER-DOC, so a per-doc HashSet replaces the corpus-wide distinct()
    * exchange; docs with no tokens emit nothing, like the explode). */
  def distinctTokens(docs: DataFrame): DataFrame =
    perDoc(docs) { (id, toks) =>
      val seen = new java.util.HashSet[String](math.max(8, toks.length * 2))
      toks.iterator.filter(seen.add).map(t => (id, t))
    }.toDF("doc_id", "term")

  /** Typed zero-shuffle per-doc distinct-token counts (doc_id, n) — the
    * map-only form of `distinctTokens.groupBy(doc_id).count`. */
  def tokenSetSizes(docs: DataFrame): DataFrame =
    perDoc(docs) { (id, toks) =>
      if (toks.isEmpty) Iterator.empty
      else Iterator.single((id, toks.distinct.length.toLong))
    }.toDF("doc_id", "n")

  /** Typed zero-shuffle per-doc token counts WITH multiplicity (doc_id, dl)
    * — the map-only form of `tokens.groupBy(doc_id).count` (empty docs
    * emit nothing, like the explode). */
  def docLengths(docs: DataFrame): DataFrame =
    perDoc(docs) { (id, toks) =>
      if (toks.isEmpty) Iterator.empty else Iterator.single((id, toks.length.toLong))
    }.toDF("doc_id", "dl")

  /** Whitespace + regex ("BPE-ish" [a-z0-9]+ word pieces) token counts. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(filter(split(col("text"), " "), t => t =!= "")).cast("long").as("n_ws"),
      size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).cast("long").as("n_re"))

  /** (term, doc_id) frequencies. */
  def termFreq(docs: DataFrame): DataFrame =
    tokens(docs).groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Document frequency per term. */
  def docFreq(docs: DataFrame): DataFrame =
    termFreq(docs).groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** Single-row corpus stats (per-doc lengths from the map-only pass —
    * long counts, so the avg is exact and byte-identical either way). */
  def corpusStats(docs: DataFrame): DataFrame =
    docLengths(docs)
      .agg(count(lit(1)).as("n_docs"), round(avg(col("dl")), 6).as("avgdl"))

  /** BM25 top-k over the documents table for a fixed term set (k1=1.2,
    * b=0.75; Lucene idf). Ranking happens on the 6-dp-rounded score with
    * doc_id tiebreak so the result is bit-stable across engines. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val toks = tokens(docs)
    val dl = docLengths(docs) // map-only; exact long counts either way
    val stats = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val tf = toks.filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term").join(dl, "doc_id").crossJoin(broadcast(stats))
      .withColumn("part",
        log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * 2.2 /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id")).agg(round(sum(col("part")), 6).as("score"))
    // top-k via TakeOrderedAndProject (partial per-partition top-k, merged
    // on the driver) — the global-window form would sort the ENTIRE scored
    // relation on one partition. Rank is then derived over the ≤k
    // survivors; the single-partition window over k rows is the intent.
    // The partition key must be a NON-FOLDABLE constant (pmod(id, 1) = 0
    // per row): a literal is stripped by EliminateWindowPartitions, which
    // re-empties the partitionSpec and brings back the global-sort warning.
    scored
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(col("doc_id"), lit(1)))
          .orderBy(col("score").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("score"), col("rank").cast("long").as("rank"))
  }

  /** The pinned function-word list for the language-ID heuristic. */
  val enFunctionWords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** n-gram-free language-ID heuristic: English function-word ratio. */
  def langId(docs: DataFrame): DataFrame =
    tokens(docs).groupBy(col("doc_id")).agg(
      round(sum(when(col("term").isin(enFunctionWords: _*), 1).otherwise(0))
        .cast("double") / count(lit(1)), 6).as("en_ratio"))
      .withColumn("pred_lang",
        when(col("en_ratio") >= 0.05, "en").otherwise("other"))

  /** Quality scoring: type-token ratio, stopword ratio, mean token length,
    * length saturation — combined into one [0,1] score. */
  def quality(docs: DataFrame): DataFrame =
    tokens(docs).groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_tokens"),
      countDistinct(col("term")).as("n_distinct"),
      round(avg(length(col("term"))), 6).as("avg_token_len"),
      (sum(when(col("term").isin(enFunctionWords: _*), 1).otherwise(0))
        .cast("double") / count(lit(1))).as("stop_ratio_raw"),
      (countDistinct(col("term")).cast("double") / count(lit(1))).as("ttr_raw"))
      .withColumn("quality", round(
        lit(0.4) * col("ttr_raw") + lit(0.3) * (lit(1.0) - col("stop_ratio_raw")) +
          lit(0.3) * least(lit(1.0), col("n_tokens") / lit(100.0)), 6))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("avg_token_len"), round(col("stop_ratio_raw"), 6).as("stop_ratio"),
        round(col("ttr_raw"), 6).as("ttr"), col("quality"))
}
