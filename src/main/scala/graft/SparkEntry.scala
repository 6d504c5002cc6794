package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.{PostsXml, Synth}
import graft.index.{BuildParams, IndexBuild, InvertedIndex}
import graft.ops.{Dedup, Similarity, TextOps}
import graft.query.Bm25

/** Driver contract — see /root/repo/SURVEY.md §7 + FIXTURES.md.
  *
  * Every SQL-expressible operator has a DuckDB oracle in [[oracleSql]] with
  * byte-matching column names and deterministic values (scores/ratios are
  * rounded to 6 dp *before* any ranking; ranking ties break on the id).
  * The inverted-index/BM25 flagship path is oracled twice: q_index_bm25
  * (DuckDB tokenizes the documents table independently) and q_pages_*
  * (oracles over an exported tokenized-pages parquet verify the salting,
  * block chunking, and BM25 scoring relationally); IndexSpec adds the
  * in-repo brute-force oracle. q_multimodal follows the same export
  * pattern: its binary codec work is spec-verified against independent
  * oracles (javax.imageio pixel parity, codec round-trips) and the
  * aggregation over the exported decode rows has a DuckDB twin — no
  * rows-only entries remain.
  */
object SparkEntry {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
  private def events(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")

  /** Flagship: build (resume-aware) a small synthetic web-page index and
    * answer a reference query via block-max WAND BM25. */
  def entry(spark: SparkSession): DataFrame = {
    // layout-versioned scratch name: a stale index from an older on-disk
    // layout must trigger a fresh build, not a read error
    val dir = s"${sys.props("java.io.tmpdir")}/graft_entry_idx_v2"
    InvertedIndex.build(spark, Synth.pages(spark, 2000, 42L), dir,
      BuildParams(numShards = 2))
    val h = Bm25.open(spark, dir)
    h.withUrls(h.topkWand("regex pull substring tags string", 10))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- text analysis -------------------------------------------------
    "q_token_count" -> ((s, d) => TextOps.tokenCounts(docs(s, d))),
    "q_tf" -> ((s, d) => TextOps.termFreq(docs(s, d))),
    "q_df" -> ((s, d) => TextOps.docFreq(docs(s, d))),
    "q_corpus_stats" -> ((s, d) => TextOps.corpusStats(docs(s, d))),
    "q_bm25_topk" -> ((s, d) =>
      TextOps.bm25TopK(docs(s, d), Seq("data", "join", "fast", "window"), 20)),
    "q_langid" -> ((s, d) => TextOps.langId(docs(s, d))),
    "q_quality" -> ((s, d) => TextOps.quality(docs(s, d))),
    // --- dedup ----------------------------------------------------------
    "q_dedup_exact" -> ((s, d) => Dedup.exact(docs(s, d))),
    "q_minhash" -> ((s, d) => Dedup.minhash(docs(s, d))),
    "q_lsh_bands" -> ((s, d) => Dedup.lshBands(docs(s, d))),
    "q_lsh_pairs" -> ((s, d) => Dedup.lshPairs(docs(s, d))),
    "q_simhash" -> ((s, d) => Dedup.simhash(docs(s, d))),
    "q_jaccard_pairs" -> ((s, d) => Dedup.jaccardPairs(docs(s, d))),
    "q_fingerprint" -> ((s, d) => Dedup.fingerprint(docs(s, d))),
    "q_wminhash" -> ((s, d) => Dedup.weightedMinhash(docs(s, d))),
    "q_wjaccard_pairs" -> ((s, d) => Dedup.weightedJaccardPairs(docs(s, d))),
    // --- Posts.xml ingest (round-trip through the XML source) -----------
    "q_xml_ingest" -> ((s, d) => xmlRoundTrip(s, d)),
    "q_xml_questions" -> ((s, d) => xmlQuestions(s, d)),
    // --- similarity search ---------------------------------------------
    "q_cosine_topk" -> ((s, d) => Similarity.cosineTopK(emb(s, d))),
    "q_ann_buckets" -> ((s, d) => Similarity.annBuckets(emb(s, d))),
    "q_ann_topk" -> ((s, d) => Similarity.annTopK(emb(s, d))),
    "q_embed_neardups" -> ((s, d) => Similarity.embeddingNearDups(emb(s, d), 0.2)),
    // --- events (windowed aggregation + ranking window) ------------------
    "q_events_window" -> ((s, d) =>
      events(s, d).groupBy(col("event_type"),
        floor(unix_micros(col("ts").cast("timestamp")).cast("double") / 1e6 / 300)
          .cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))),
    "q_events_topuser" -> ((s, d) => {
      val sdf = events(s, d).groupBy(col("event_type"), col("user_id"))
        .agg(round(sum(col("value")), 6).as("total"))
      sdf.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
          .orderBy(col("total").desc, col("user_id").asc)))
        .filter(col("rn") === 1).select("event_type", "user_id", "total")
    }),
    // --- deterministic train/test split (reference S2 range slicing) -----
    "q_split_counts" -> ((s, d) =>
      graft.data.TableIO.withSplit(docs(s, d), "doc_id")
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n"))),
    // --- JSON sidecar extraction (events.props) --------------------------
    "q_events_json" -> ((s, d) =>
      events(s, d)
        .withColumn("k_val", get_json_object(col("props"), "$.k"))
        .groupBy(col("k_val"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))),
    // --- ordered nested collect (reference S3/J4 answers-under-question) —
    //     ONE windowed pass: the groupBy reuses the window's user_id
    //     partitioning (no second shuffle over events); n_events counts all
    //     rows while seq collects only rn≤20 (when-without-otherwise rows
    //     are nulls, which collect_list skips) ---------------------------
    "q_user_sessions" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      events(s, d)
        .withColumn("rn", row_number().over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          array_join(transform(
            array_sort(collect_list(
              when(col("rn") <= 20, struct(col("rn"), col("event_type"))))),
            x => x.getField("event_type")), ",").as("seq"))
        .select(col("user_id"), col("n_events"), col("seq"))
    }),
    // --- the reference's own search modality: LSH probe + Jaccard re-rank
    "q_minhash_search" -> ((s, d) =>
      graft.ops.MinHashSearch.search(docs(s, d), mhQueries, 10)),
    // --- the reference's forest variant: longest-prefix LSH probe + rerank
    "q_forest_topk" -> ((s, d) =>
      graft.ops.MinHashSearch.forestTopK(docs(s, d), mhQueries, 10)),
    // --- evaluation harness (reference results.py): hit rates per engine
    //     and query variant; the md5-seeded perturbation makes the whole
    //     query-set derivation SQL-expressible → full DuckDB twin ---------
    "q_eval_hitrate" -> ((s, d) => graft.ops.Evaluate.hitRates(docs(s, d))),
    // --- multimodal: real PNG/WAV/AVI-DIB codecs; the query exports its
    //     per-media decode rows and the oracle re-aggregates them ---------
    "q_multimodal" -> ((s, _) => graft.ops.Multimodal.summary(s, 2000)),
    // --- T6: early-exit limited scan (reference: index/hash_index.py:81-90
    //     brute_force_search with result_size_limit — deterministic analog:
    //     ordered-by-key first-n; Spark plans it as TakeOrderedAndProject) --
    "q_limited_scan" -> ((s, d) =>
      docs(s, d).filter(col("lang") === "en" && col("n_chars") > 200)
        .orderBy(col("doc_id")).limit(25)
        .select(col("doc_id"), col("lang"), col("n_chars"))),
    // --- J3: single-doc fetch by id (reference: results.py:149-158) —
    //     the predicate reaches the parquet scan as PushedFilters ---------
    "q_doc_fetch" -> ((s, d) =>
      docs(s, d).filter(col("doc_id").isin(3L, 7L, 11L))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))),
    // --- FLAGSHIP, driver-verified: build the inverted index over the sf
    //     documents table, answer a fixed query via block-max WAND, map the
    //     internal hashed doc ids back to the table's ids through docstats.
    //     Oracle: brute-force BM25 in SQL with the identical tokenizer
    //     (whitespace split minus the pinned stopword list) and identical
    //     FP association. -------------------------------------------------
    "q_index_bm25" -> ((s, d) => {
      import s.implicits._
      val dir = s"${sys.props("java.io.tmpdir")}/graft_docs_idx_v3_" +
        Integer.toHexString(d.hashCode)
      InvertedIndex.deleteDir(dir)
      val pages = docs(s, d).select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          graft.data.Page(s"doc://$id", new java.sql.Timestamp(0L),
            Array.empty[Byte], text, "en")
        }
      InvertedIndex.build(s, pages, dir, BuildParams(numShards = 2))
      val h = Bm25.open(s, dir)
      // over-fetch (40 > k=20) so re-ranking on the ROUNDED score with the
      // ORIGINAL id as tiebreak can never lose a boundary tie
      val res = h.withUrls(h.topkWand(indexQueryTerms.mkString(" "), 40))
        .select(regexp_replace(col("url"), "^doc://", "").cast("long").as("doc_id"),
          round(col("score"), 6).as("score"))
      // rank over the 40 over-fetched rows only — single-partition window
      // over ≤40 rows is the intent. Non-foldable constant partition key
      // (a literal is stripped by EliminateWindowPartitions, re-emptying
      // the partitionSpec and bringing back the global-sort warning).
      res.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(pmod(col("doc_id"), lit(1)))
            .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("doc_id"), col("score"), col("rank"))
    }),
    // --- inverted-index flagship over synthetic pages, now DuckDB-oracled:
    //     both queries first export the Spark-tokenized pages (doc_id, url,
    //     term, tf, dl) to a fixed parquet path; the oracles recompute
    //     salting + block chunking (q_pages_postings) and brute BM25 +
    //     re-rank (q_pages_bm25) from that export in SQL. The tokenizer
    //     itself is covered by its golden fixtures and by q_index_bm25's
    //     independently-tokenizing oracle. -------------------------------
    "q_pages_postings" -> ((s, _) => {
      exportPagesTokens(s)
      val p = BuildParams(numShards = 1, saltThreshold = 50, targetPerSalt = 100)
      val tok = IndexBuild.tokenize(Synth.pages(s, 1000, 42L), p)
      val stats = tok.agg(count(lit(1)), avg(col("dl"))).collect()(0)
      val avgdl = stats.getDouble(1)
      // per-doc (term, tf) pre-merge — zero-shuffle, identical rows to a
      // corpus-wide (term, doc_id) aggregation (one row per distinct term per
      // doc), so the hot-term counts and every encoded block are unchanged
      val tf = IndexBuild.docTermFreqs(tok)
      val hot = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .filter(col("df") > p.saltThreshold)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      IndexBuild.saltedRuns(tf, hot, p, avgdl)
        .groupBy(col("term"))
        .agg(count(lit(1)).as("n_blocks"), sum(col("n_docs")).as("n_postings"))
    }),
    "q_pages_bm25" -> ((s, _) => {
      exportPagesTokens(s)
      val dir = s"${sys.props("java.io.tmpdir")}/graft_pages_idx_v2"
      InvertedIndex.build(s, Synth.pages(s, 1000, 42L), dir,
        BuildParams(numShards = 2))
      val h = Bm25.open(s, dir)
      // over-fetch (40 > k=10) then re-rank on the ROUNDED score with
      // doc_id tiebreak — same bit-stable reshaping as q_index_bm25
      val res = h.withUrls(h.topkWand(pagesQueryTerms.mkString(" "), 40))
        .select(col("doc_id"), round(col("score"), 6).as("score"), col("url"))
      res.withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(pmod(col("doc_id"), lit(1)))
            .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("doc_id"), col("score"), col("rank"), col("url"))
    })
  )

  /** Fixed query for the pages-index path (vocabulary words of mixed
    * document frequency plus one rare planted-title term, none a stopword
    * — the oracle pins the same terms). Mixed df makes the top-10 a real
    * multi-term ranking, not a single-hit lookup. */
  val pagesQueryTerms: Seq[String] = Seq("w13", "w40", "w120", "timezone")

  /** Per-process parquet export of the Spark-tokenized 1000-page synthetic
    * corpus — the shared input of the q_pages_* DuckDB oracles.
    * Deterministic (pure function of seed 42), idempotent overwrite;
    * PID-suffixed via [[graft.core.ExportRoot]] so concurrent sessions
    * cannot race on one directory. */
  private val PagesExportDir = graft.core.ExportRoot.dir("pages_export")
  private def exportPagesTokens(s: SparkSession): Unit = {
    import s.implicits._
    // ONE narrow pass: per-doc (term, tf) from a per-doc hash map (the
    // docTermFreqs pattern) with url/dl riding along — row-identical to
    // the old termFreqs ⋈ url join, without its two exchanges
    IndexBuild.tokenize(Synth.pages(s, 1000, 42L), BuildParams(numShards = 1))
      .select(col("doc_id"), col("url"), col("dl"), col("tokens"))
      .as[(Long, String, Int, Array[String])]
      .mapPartitions { it =>
        it.flatMap { case (id, url, dl, toks) =>
          val counts = new java.util.HashMap[String, Integer](
            math.max(8, toks.length * 2))
          var i = 0
          while (i < toks.length) {
            counts.merge(toks(i), 1, (a: Integer, b: Integer) => a + b)
            i += 1
          }
          val out = new Array[(Long, String, String, Int, Int)](counts.size)
          val eit = counts.entrySet().iterator()
          var j = 0
          while (eit.hasNext) {
            val e = eit.next()
            out(j) = (id, url, e.getKey, e.getValue.intValue(), dl)
            j += 1
          }
          out
        }
      }.toDF("doc_id", "url", "term", "tf", "dl")
      // repartition(1), NOT coalesce(1): the plan is now all-narrow and
      // coalesce would run tokenize single-threaded (see Multimodal.summary)
      .repartition(1).write.mode("overwrite").parquet(PagesExportDir)
  }

  /** Per-process exports of the documents table rendered as Posts.xml
    * lines — the q_xml_* round-trip inputs (same export contract as
    * [[PagesExportDir]]). */
  private val XmlExportDir = graft.core.ExportRoot.dir("xml_export")
  private val XmlQExportDir = graft.core.ExportRoot.dir("xmlq_export")

  /** Render every document as a question `<row/>`, re-ingest through
    * [[PostsXml.read]], and emit per-row identity evidence (lengths +
    * md5 of the body). The oracle computes the same rows straight from
    * the parquet, so any escape/parse divergence hash-mismatches. */
  private def xmlRoundTrip(s: SparkSession, d: String): DataFrame = {
    val posts = docs(s, d).select(
      col("doc_id").as("id"), lit(1L).as("post_type_id"),
      lit(null).cast("long").as("parent_id"), col("n_chars").as("score"),
      concat_ws(" ", col("lang"), col("source")).as("title"),
      col("text").as("body"))
    PostsXml.render(posts).coalesce(1).write.mode("overwrite").text(XmlExportDir)
    PostsXml.read(s, XmlExportDir).toDF()
      .select(col("id"), col("post_type_id"), col("score"), col("title"),
        length(col("body")).cast("long").as("text_len"),
        md5(col("body").cast("binary")).as("h"))
  }

  /** Mixed question/answer dump: doc_id % 5 == 0 renders as a question,
    * the other four docs of each block as its answers (ParentId = the
    * block head). Parsed back through [[PostsXml.questions]] — exercises
    * attribute omission, the ParentId attach, and the cleanString pass
    * end-to-end under the driver gate. */
  private def xmlQuestions(s: SparkSession, d: String): DataFrame = {
    val posts = docs(s, d).select(
      col("doc_id").as("id"),
      when(col("doc_id") % 5 === 0, 1L).otherwise(2L).as("post_type_id"),
      when(col("doc_id") % 5 === 0, lit(null).cast("long"))
        .otherwise(col("doc_id") - (col("doc_id") % 5)).as("parent_id"),
      col("n_chars").as("score"),
      when(col("doc_id") % 5 === 0,
        concat_ws(" ", col("lang"), col("source"))).as("title"),
      col("text").as("body"))
    PostsXml.render(posts).coalesce(1).write.mode("overwrite").text(XmlQExportDir)
    // clean = false: the oracle compares RAW lengths, so the round-trip
    // must not normalize bodies (ADVICE r5: on this corpus cleanString is
    // an identity, but any punctuated corpus would fail the gate for a
    // non-bug reason). The cleaning pass itself stays covered by
    // PostsXmlSpec and the default `questions` path.
    PostsXml.questions(PostsXml.read(s, XmlQExportDir), clean = false)
      .select(col("id"), col("title"), col("n_answers"),
        coalesce(col("answer_ids")(0), lit(-1L)).as("first_aid"),
        length(col("body")).cast("long").as("body_len"),
        coalesce(aggregate(col("answers"), lit(0L),
          (acc, x) => acc + length(x)), lit(0L)).as("ans_len"))
  }

  // ------------------------------------------------------------------
  // DuckDB oracle SQL (validated against DuckDB v1.0; same column names,
  // same rounding, same tie-breaks as the Spark twins above).
  // ------------------------------------------------------------------

  private val TOKS =
    """toks AS (
      |  SELECT doc_id, term, ord FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS term,
      |           generate_subscripts(string_split(text, ' '), 1) AS ord
      |    FROM documents)
      |  WHERE term <> '')""".stripMargin

  private val MH =
    """mh AS (
      |  SELECT t.doc_id, s.seed,
      |         min(substr(md5(s.seed::VARCHAR || ':' || t.term), 1, 16)) AS minhash
      |  FROM toks t CROSS JOIN (SELECT unnest(range(8)) AS seed) s
      |  GROUP BY 1, 2)""".stripMargin

  /** tf-weighted minhash: integer-weight replication (rep 0..tf-1), hash
    * input "$seed:$rep:$term" — the exact twin of Dedup.weightedMinhash. */
  private val WMH =
    """wtf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |wreps AS (SELECT doc_id, term, unnest(range(tf)) AS rep FROM wtf),
      |wmh AS (
      |  SELECT r.doc_id, s.seed,
      |         min(substr(md5(s.seed::VARCHAR || ':' || r.rep::VARCHAR || ':' || r.term),
      |                    1, 16)) AS minhash
      |  FROM wreps r CROSS JOIN (SELECT unnest(range(8)) AS seed) s
      |  GROUP BY 1, 2)""".stripMargin

  private val BANDS =
    """bands AS (
      |  SELECT doc_id, seed // 2 AS band,
      |         md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
      |  FROM mh GROUP BY 1, 2)""".stripMargin

  private val SH =
    """sh AS (
      |  SELECT DISTINCT t1.doc_id, t1.term || ' ' || t2.term || ' ' || t3.term AS shingle
      |  FROM toks t1
      |  JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.ord = t1.ord + 1
      |  JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.ord = t1.ord + 2)""".stripMargin

  private val E =
    """e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
      |       generate_subscripts(embedding, 1) AS i FROM embeddings)""".stripMargin
  private val NRM =
    "nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nv FROM e GROUP BY 1)"
  private val PL =
    """pl AS (
      |  SELECT j, i, strpos('0123456789abcdef',
      |         substr(md5(j::VARCHAR || ':' || i::VARCHAR), 1, 1)) - 1 - 7.5 AS w
      |  FROM (SELECT unnest(range(8)) AS j) CROSS JOIN (SELECT unnest(range(1, 65)) AS i))""".stripMargin
  private val BUCK =
    """bk AS (
      |  SELECT e.vec_id, pl.j, round(sum(e.x * pl.w), 6) AS d
      |  FROM e JOIN pl ON pl.i = e.i GROUP BY 1, 2),
      |buckets AS (
      |  SELECT vec_id, sum(CASE WHEN d > 0 THEN (1::BIGINT << j::INT) ELSE 0 END)::BIGINT AS bucket
      |  FROM bk GROUP BY 1)""".stripMargin

  private val STOP = "('the','a','of','and','to','in','is','on','for','with')"

  /** Fixed query for the driver-verified index path (terms from the
    * documents vocabulary; none is a stopword). */
  val indexQueryTerms: Seq[String] = Seq("data", "join", "fast", "window")

  /** The engine's pinned stopword list as a SQL IN-list — the oracle must
    * tokenize EXACTLY like the index build (whitespace split minus these). */
  private def stopSqlList: String =
    graft.core.Stopwords.englishSorted
      .map(w => "'" + w.replace("'", "''") + "'").mkString(", ")

  /** Fixed query set for the MinHash-LSH search operator (terms from the
    * documents vocabulary). */
  val mhQueries: Seq[(Int, String)] = Seq(
    0 -> "data join fast window",
    1 -> "spark group query row",
    2 -> "the fast key order sort merge")

  private def mhQueryValues: String =
    mhQueries.flatMap { case (id, q) =>
      graft.ops.MinHashSearch.queryTokens(q).map(t => s"($id, '$t')")
    }.mkString(", ")

  def oracleSql: Map[String, String] = Map(
    "q_token_count" ->
      """SELECT doc_id,
        |  len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_ws,
        |  len(regexp_extract_all(text, '[a-z0-9]+'))::BIGINT AS n_re
        |FROM documents""".stripMargin,
    "q_tf" -> s"WITH $TOKS SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2",
    "q_df" ->
      s"""WITH $TOKS,
         |tf AS (SELECT doc_id, term FROM toks GROUP BY 1, 2)
         |SELECT term, count(*) AS df FROM tf GROUP BY 1""".stripMargin,
    "q_corpus_stats" ->
      s"""WITH $TOKS,
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1)
         |SELECT count(*) AS n_docs, round(avg(dl), 6) AS avgdl FROM dl""".stripMargin,
    "q_bm25_topk" ->
      s"""WITH $TOKS,
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
         |       WHERE term IN ('data', 'join', 'fast', 'window') GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT tf.doc_id,
         |         round(sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
         |             tf.tf * 2.2 /
         |             (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 6) AS score
         |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
         |  GROUP BY 1)
         |SELECT doc_id, score, rank FROM (
         |  SELECT doc_id, score,
         |         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM scored)
         |WHERE rank <= 20""".stripMargin,
    "q_langid" ->
      s"""WITH $TOKS,
         |r AS (SELECT doc_id,
         |      round(sum(CASE WHEN term IN $STOP THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS en_ratio
         |      FROM toks GROUP BY 1)
         |SELECT doc_id, en_ratio,
         |       CASE WHEN en_ratio >= 0.05 THEN 'en' ELSE 'other' END AS pred_lang
         |FROM r""".stripMargin,
    "q_quality" ->
      s"""WITH $TOKS,
         |agg AS (SELECT doc_id, count(*) AS n_tokens, count(DISTINCT term) AS n_distinct,
         |        round(avg(length(term)), 6) AS avg_token_len,
         |        sum(CASE WHEN term IN $STOP THEN 1 ELSE 0 END) * 1.0 / count(*) AS sr,
         |        count(DISTINCT term) * 1.0 / count(*) AS tr
         |        FROM toks GROUP BY 1)
         |SELECT doc_id, n_tokens, n_distinct, avg_token_len,
         |       round(sr, 6) AS stop_ratio, round(tr, 6) AS ttr,
         |       round(0.4 * tr + 0.3 * (1.0 - sr) + 0.3 * least(1.0, n_tokens / 100.0), 6) AS quality
         |FROM agg""".stripMargin,
    "q_dedup_exact" ->
      "SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keep_id FROM documents GROUP BY 1",
    "q_minhash" -> s"WITH $TOKS, $MH SELECT doc_id, seed, minhash FROM mh",
    "q_lsh_bands" -> s"WITH $TOKS, $MH, $BANDS SELECT doc_id, band, band_hash FROM bands",
    "q_lsh_pairs" ->
      s"""WITH $TOKS, $MH, $BANDS,
         |b2 AS (SELECT doc_id, band, band_hash FROM bands
         |       QUALIFY count(*) OVER (PARTITION BY band, band_hash) <= 50)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM b2 a
         |JOIN b2 b ON a.band = b.band AND a.band_hash = b.band_hash
         |            AND a.doc_id < b.doc_id""".stripMargin,
    "q_simhash" ->
      s"""WITH $TOKS,
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         |h AS (SELECT doc_id, tf, md5(term) AS hx FROM tf),
         |pj AS (SELECT p.p, j.j FROM (SELECT unnest(range(1, 9)) AS p) p
         |       CROSS JOIN (SELECT unnest(range(4)) AS j) j),
         |votes AS (
         |  SELECT doc_id, ((p - 1) * 4 + j)::INT AS bit,
         |         sum(tf * ((((strpos('0123456789abcdef', substr(hx, p::INT, 1)) - 1)
         |             >> (j::INT)) & 1) * 2 - 1)) AS s
         |  FROM h CROSS JOIN pj GROUP BY 1, 2)
         |SELECT doc_id,
         |       sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
         |FROM votes GROUP BY 1""".stripMargin,
    "q_jaccard_pairs" ->
      s"""WITH $TOKS, $SH,
         |shf AS (SELECT doc_id, shingle FROM sh
         |        QUALIFY count(*) OVER (PARTITION BY shingle) <= 50),
         |sz AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY 1),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |          FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT doc_a, doc_b, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
         |FROM inter
         |JOIN sz sa ON sa.doc_id = doc_a
         |JOIN sz sb ON sb.doc_id = doc_b
         |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.2""".stripMargin,
    "q_fingerprint" ->
      s"""WITH $TOKS, $SH
         |SELECT doc_id, min(md5(shingle)) AS fingerprint FROM sh GROUP BY 1""".stripMargin,
    "q_wminhash" ->
      s"WITH $TOKS, $WMH SELECT doc_id, seed, minhash FROM wmh",
    "q_wjaccard_pairs" ->
      s"""WITH $TOKS, $WMH,
         |wcap AS (SELECT doc_id, seed, minhash FROM wmh
         |         QUALIFY count(*) OVER (PARTITION BY seed, minhash) <= 50),
         |wcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM wcap a JOIN wcap b
         |          ON a.seed = b.seed AND a.minhash = b.minhash AND a.doc_id < b.doc_id),
         |wagr AS (SELECT c.doc_a, c.doc_b,
         |                sum(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END) AS agree
         |         FROM wcand c
         |         JOIN wmh a ON a.doc_id = c.doc_a
         |         JOIN wmh b ON b.doc_id = c.doc_b AND b.seed = a.seed
         |         GROUP BY 1, 2)
         |SELECT doc_a, doc_b, round(agree / 8.0, 6) AS wjaccard
         |FROM wagr WHERE agree / 8.0 >= 0.25""".stripMargin,
    "q_xml_ingest" ->
      """SELECT doc_id AS id, 1::BIGINT AS post_type_id, n_chars AS score,
        |       lang || ' ' || source AS title, length(text)::BIGINT AS text_len,
        |       md5(text) AS h
        |FROM documents""".stripMargin,
    "q_xml_questions" ->
      """SELECT q.doc_id AS id, q.lang || ' ' || q.source AS title,
        |       count(a.doc_id)::BIGINT AS n_answers,
        |       coalesce(min(a.doc_id), -1)::BIGINT AS first_aid,
        |       length(q.text)::BIGINT AS body_len,
        |       coalesce(sum(length(a.text)), 0)::BIGINT AS ans_len
        |FROM documents q
        |LEFT JOIN documents a
        |  ON a.doc_id % 5 <> 0 AND a.doc_id - (a.doc_id % 5) = q.doc_id
        |WHERE q.doc_id % 5 = 0
        |GROUP BY 1, 2, 5""".stripMargin,
    "q_cosine_topk" ->
      s"""WITH $E, $NRM,
         |dots AS (SELECT q.vec_id AS query_id, c.vec_id AS cid, sum(q.x * c.x) AS dot
         |         FROM e q JOIN e c ON q.i = c.i AND q.vec_id < 5 AND c.vec_id <> q.vec_id
         |         GROUP BY 1, 2),
         |scored AS (SELECT query_id, cid, round(dot / (nq.nv * nc.nv), 6) AS cos
         |           FROM dots JOIN nrm nq ON nq.vec_id = query_id
         |                     JOIN nrm nc ON nc.vec_id = cid),
         |ranked AS (SELECT query_id, cid, cos,
         |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cid) AS rank
         |           FROM scored)
         |SELECT query_id, rank, cid AS vec_id, cos FROM ranked WHERE rank <= 10""".stripMargin,
    "q_ann_buckets" -> s"WITH $E, $PL, $BUCK SELECT vec_id, bucket FROM buckets",
    "q_ann_topk" ->
      s"""WITH $E, $NRM, $PL, $BUCK,
         |q AS (SELECT vec_id AS query_id, bucket FROM buckets WHERE vec_id < 5),
         |cand AS (SELECT q.query_id, b.vec_id AS cid FROM q
         |         JOIN buckets b ON b.bucket = q.bucket AND b.vec_id <> q.query_id),
         |dots AS (SELECT c.query_id, c.cid, sum(eq.x * ec.x) AS dot
         |         FROM cand c
         |         JOIN e eq ON eq.vec_id = c.query_id
         |         JOIN e ec ON ec.vec_id = c.cid AND ec.i = eq.i
         |         GROUP BY 1, 2),
         |scored AS (SELECT query_id, cid, round(dot / (nq.nv * nc.nv), 6) AS cos
         |           FROM dots JOIN nrm nq ON nq.vec_id = query_id
         |                     JOIN nrm nc ON nc.vec_id = cid),
         |ranked AS (SELECT query_id, cid, cos,
         |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cid) AS rank
         |           FROM scored)
         |SELECT query_id, rank, cid AS vec_id, cos FROM ranked WHERE rank <= 10""".stripMargin,
    "q_embed_neardups" ->
      s"""WITH $E, $NRM, $PL, $BUCK,
         |b2 AS (SELECT vec_id, bucket FROM buckets
         |       QUALIFY count(*) OVER (PARTITION BY bucket) <= 50),
         |pairs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |          FROM b2 a JOIN b2 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |dots AS (SELECT p.vec_a, p.vec_b, sum(ea.x * eb.x) AS dot
         |         FROM pairs p
         |         JOIN e ea ON ea.vec_id = p.vec_a
         |         JOIN e eb ON eb.vec_id = p.vec_b AND eb.i = ea.i
         |         GROUP BY 1, 2)
         |SELECT vec_a, vec_b, round(dot / (na.nv * nb.nv), 6) AS cos
         |FROM dots JOIN nrm na ON na.vec_id = vec_a JOIN nrm nb ON nb.vec_id = vec_b
         |WHERE round(dot / (na.nv * nb.nv), 6) >= 0.2""".stripMargin,
    "q_split_counts" ->
      """SELECT CASE WHEN (('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::INT % 10) < 8
        |            THEN 'train' ELSE 'test' END AS split,
        |       lang, count(*) AS n
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "q_limited_scan" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'en' AND n_chars > 200
        |ORDER BY doc_id LIMIT 25""".stripMargin,
    "q_doc_fetch" ->
      "SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id IN (3, 7, 11)",
    "q_index_bm25" ->
      s"""WITH itoks AS (
         |  SELECT doc_id, term FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
         |  WHERE term <> '' AND term NOT IN ($stopSqlList)),
         |dl AS (SELECT doc_id, count(*) AS dl FROM itoks GROUP BY 1),
         |stats AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM itoks
         |       WHERE term IN (${indexQueryTerms.map("'" + _ + "'").mkString(", ")})
         |       GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (
         |  SELECT tf.doc_id,
         |         round(sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
         |             (tf.tf * 2.2 /
         |              (tf.tf + 1.2 * (0.25 + (0.75 / stats.avgdl) * dl.dl)))), 6) AS score
         |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
         |  GROUP BY 1)
         |SELECT doc_id, score, rank FROM (
         |  SELECT doc_id, score,
         |         row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |  FROM scored)
         |WHERE rank <= 20""".stripMargin,
    "q_events_json" ->
      """SELECT json_extract_string(props, '$.k') AS k_val,
        |       count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1""".stripMargin,
    "q_user_sessions" ->
      """WITH ranked AS (
        |  SELECT user_id, event_type,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |seqs AS (SELECT user_id, string_agg(event_type, ',' ORDER BY rn) AS seq
        |         FROM ranked WHERE rn <= 20 GROUP BY 1),
        |counts AS (SELECT user_id, count(*) AS n_events FROM ranked GROUP BY 1)
        |SELECT c.user_id, c.n_events, s.seq FROM counts c JOIN seqs s USING (user_id)""".stripMargin,
    "q_minhash_search" ->
      s"""WITH $TOKS, $MH, $BANDS,
         |qt AS (SELECT query_id::BIGINT AS query_id, term
         |       FROM (VALUES $mhQueryValues) t(query_id, term)),
         |qsig AS (SELECT query_id, s.seed,
         |         min(substr(md5(s.seed::VARCHAR || ':' || qt.term), 1, 16)) AS minhash
         |         FROM qt CROSS JOIN (SELECT unnest(range(8)) AS seed) s GROUP BY 1, 2),
         |qbands AS (SELECT query_id, seed // 2 AS band,
         |           md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
         |           FROM qsig GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT q.query_id, d.doc_id
         |         FROM qbands q JOIN bands d ON d.band = q.band AND d.band_hash = q.band_hash),
         |dtok AS (SELECT DISTINCT doc_id, term FROM toks),
         |dsize AS (SELECT doc_id, count(*) AS dn FROM dtok GROUP BY 1),
         |qsize AS (SELECT query_id, count(*) AS qn FROM qt GROUP BY 1),
         |inter AS (SELECT c.query_id, c.doc_id, count(*) AS i
         |          FROM cand c
         |          JOIN dtok d ON d.doc_id = c.doc_id
         |          JOIN qt ON qt.query_id = c.query_id AND qt.term = d.term
         |          GROUP BY 1, 2),
         |jac AS (SELECT c.query_id, c.doc_id,
         |        round(coalesce(i.i, 0) * 1.0 / (qs.qn + ds.dn - coalesce(i.i, 0)), 6) AS jaccard
         |        FROM cand c
         |        LEFT JOIN inter i ON i.query_id = c.query_id AND i.doc_id = c.doc_id
         |        JOIN dsize ds ON ds.doc_id = c.doc_id
         |        JOIN qsize qs ON qs.query_id = c.query_id),
         |ranked AS (SELECT query_id, doc_id, jaccard,
         |           row_number() OVER (PARTITION BY query_id ORDER BY jaccard DESC, doc_id) AS rank
         |           FROM jac)
         |SELECT query_id, rank, doc_id, jaccard FROM ranked WHERE rank <= 10""".stripMargin,
    "q_forest_topk" ->
      s"""WITH $TOKS, $MH,
         |rr AS (SELECT unnest(range(1, 9)) AS r),
         |pref AS (SELECT doc_id, rr.r, md5(string_agg(minhash, ',' ORDER BY seed)) AS ph
         |         FROM mh CROSS JOIN rr WHERE mh.seed < rr.r GROUP BY 1, 2),
         |qt AS (SELECT query_id::BIGINT AS query_id, term
         |       FROM (VALUES $mhQueryValues) t(query_id, term)),
         |qsig AS (SELECT query_id, s.seed,
         |         min(substr(md5(s.seed::VARCHAR || ':' || qt.term), 1, 16)) AS minhash
         |         FROM qt CROSS JOIN (SELECT unnest(range(8)) AS seed) s GROUP BY 1, 2),
         |qpref AS (SELECT query_id, rr.r, md5(string_agg(minhash, ',' ORDER BY seed)) AS ph
         |          FROM qsig CROSS JOIN rr WHERE qsig.seed < rr.r GROUP BY 1, 2),
         |cand AS (SELECT q.query_id, d.doc_id, max(q.r) AS depth
         |         FROM qpref q JOIN pref d ON d.r = q.r AND d.ph = q.ph
         |         GROUP BY 1, 2),
         |dtok AS (SELECT DISTINCT doc_id, term FROM toks),
         |dsize AS (SELECT doc_id, count(*) AS dn FROM dtok GROUP BY 1),
         |qsize AS (SELECT query_id, count(*) AS qn FROM qt GROUP BY 1),
         |inter AS (SELECT c.query_id, c.doc_id, count(*) AS i
         |          FROM cand c
         |          JOIN dtok d ON d.doc_id = c.doc_id
         |          JOIN qt ON qt.query_id = c.query_id AND qt.term = d.term
         |          GROUP BY 1, 2),
         |jac AS (SELECT c.query_id, c.doc_id, c.depth,
         |        round(coalesce(i.i, 0) * 1.0 / (qs.qn + ds.dn - coalesce(i.i, 0)), 6) AS jaccard
         |        FROM cand c
         |        LEFT JOIN inter i ON i.query_id = c.query_id AND i.doc_id = c.doc_id
         |        JOIN dsize ds ON ds.doc_id = c.doc_id
         |        JOIN qsize qs ON qs.query_id = c.query_id),
         |ranked AS (SELECT query_id, doc_id, depth, jaccard,
         |           row_number() OVER (PARTITION BY query_id
         |             ORDER BY depth DESC, jaccard DESC, doc_id) AS rank
         |           FROM jac)
         |SELECT query_id, rank, doc_id, depth, jaccard FROM ranked WHERE rank <= 10""".stripMargin,
    // The evaluation harness, end-to-end in SQL: the SAME seeded query set
    // (first 20 docs' first 8 tokens; perturbed = drop the 2 positions that
    // sort first by md5("42:docId:i")) is derived from the documents table,
    // then all three engines (fixed-band LSH, LSH forest, brute BM25) and
    // the hit-rate aggregation run relationally — the CTE shapes are the
    // already-verified q_minhash_search / q_forest_topk / q_bm25_topk twins.
    "q_eval_hitrate" ->
      s"""WITH $TOKS, $MH, $BANDS,
         |d20 AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS qi
         |        FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 20)),
         |q8 AS (SELECT doc_id, qi, term, pos FROM (
         |         SELECT d.doc_id, d.qi, t.term,
         |                row_number() OVER (PARTITION BY d.doc_id ORDER BY t.ord) AS pos
         |         FROM d20 d JOIN toks t ON t.doc_id = d.doc_id)
         |       WHERE pos <= 8),
         |eligible AS (SELECT doc_id FROM q8 GROUP BY 1 HAVING count(*) >= 3),
         |qv AS (
         |  SELECT qi * 2 AS query_id, doc_id AS expect_doc, 'exact' AS variant, term
         |  FROM q8 WHERE doc_id IN (SELECT doc_id FROM eligible)
         |  UNION ALL
         |  SELECT qi * 2 + 1, doc_id, 'perturbed', term
         |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
         |          ORDER BY md5('42:' || doc_id::VARCHAR || ':' || (pos - 1)::VARCHAR)) AS dr
         |        FROM q8 WHERE doc_id IN (SELECT doc_id FROM eligible))
         |  WHERE dr > 2),
         |eqt AS (SELECT DISTINCT query_id, term FROM qv),
         |expq AS (SELECT DISTINCT query_id, expect_doc, variant FROM qv),
         |nq AS (SELECT variant, count(*) AS n_queries FROM expq GROUP BY 1),
         |qsig AS (SELECT query_id, s.seed,
         |         min(substr(md5(s.seed::VARCHAR || ':' || eqt.term), 1, 16)) AS minhash
         |         FROM eqt CROSS JOIN (SELECT unnest(range(8)) AS seed) s GROUP BY 1, 2),
         |qbands AS (SELECT query_id, seed // 2 AS band,
         |           md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
         |           FROM qsig GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT q.query_id, d.doc_id
         |         FROM qbands q JOIN bands d ON d.band = q.band AND d.band_hash = q.band_hash),
         |dtok AS (SELECT DISTINCT doc_id, term FROM toks),
         |dsize AS (SELECT doc_id, count(*) AS dn FROM dtok GROUP BY 1),
         |qsize AS (SELECT query_id, count(*) AS qn FROM eqt GROUP BY 1),
         |inter AS (SELECT c.query_id, c.doc_id, count(*) AS i
         |          FROM cand c JOIN dtok d ON d.doc_id = c.doc_id
         |          JOIN eqt ON eqt.query_id = c.query_id AND eqt.term = d.term
         |          GROUP BY 1, 2),
         |mh_top AS (
         |  SELECT query_id, doc_id FROM (
         |    SELECT c.query_id, c.doc_id,
         |           row_number() OVER (PARTITION BY c.query_id
         |             ORDER BY round(coalesce(i.i, 0) * 1.0 / (qs.qn + ds.dn - coalesce(i.i, 0)), 6) DESC,
         |                      c.doc_id) AS rank
         |    FROM cand c
         |    LEFT JOIN inter i ON i.query_id = c.query_id AND i.doc_id = c.doc_id
         |    JOIN dsize ds ON ds.doc_id = c.doc_id
         |    JOIN qsize qs ON qs.query_id = c.query_id)
         |  WHERE rank <= 10),
         |rr AS (SELECT unnest(range(1, 9)) AS r),
         |pref AS (SELECT doc_id, rr.r, md5(string_agg(minhash, ',' ORDER BY seed)) AS ph
         |         FROM mh CROSS JOIN rr WHERE mh.seed < rr.r GROUP BY 1, 2),
         |qpref AS (SELECT query_id, rr.r, md5(string_agg(minhash, ',' ORDER BY seed)) AS ph
         |          FROM qsig CROSS JOIN rr WHERE qsig.seed < rr.r GROUP BY 1, 2),
         |fcand AS (SELECT q.query_id, d.doc_id, max(q.r) AS depth
         |          FROM qpref q JOIN pref d ON d.r = q.r AND d.ph = q.ph GROUP BY 1, 2),
         |finter AS (SELECT c.query_id, c.doc_id, count(*) AS i
         |           FROM fcand c JOIN dtok d ON d.doc_id = c.doc_id
         |           JOIN eqt ON eqt.query_id = c.query_id AND eqt.term = d.term
         |           GROUP BY 1, 2),
         |forest_top AS (
         |  SELECT query_id, doc_id FROM (
         |    SELECT c.query_id, c.doc_id,
         |           row_number() OVER (PARTITION BY c.query_id
         |             ORDER BY c.depth DESC,
         |                      round(coalesce(i.i, 0) * 1.0 / (qs.qn + ds.dn - coalesce(i.i, 0)), 6) DESC,
         |                      c.doc_id) AS rank
         |    FROM fcand c
         |    LEFT JOIN finter i ON i.query_id = c.query_id AND i.doc_id = c.doc_id
         |    JOIN dsize ds ON ds.doc_id = c.doc_id
         |    JOIN qsize qs ON qs.query_id = c.query_id)
         |  WHERE rank <= 10),
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
         |btf AS (SELECT e.query_id, t.doc_id, t.term, count(*) AS tf
         |        FROM toks t JOIN eqt e ON e.term = t.term GROUP BY 1, 2, 3),
         |bdf AS (SELECT term, count(DISTINCT doc_id) AS df FROM btf GROUP BY 1),
         |bm_top AS (
         |  SELECT query_id, doc_id FROM (
         |    SELECT query_id, doc_id,
         |           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |    FROM (SELECT btf.query_id, btf.doc_id,
         |                 round(sum(ln(1 + (stats.n - bdf.df + 0.5) / (bdf.df + 0.5)) *
         |                     btf.tf * 2.2 /
         |                     (btf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 6) AS score
         |          FROM btf JOIN bdf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
         |          GROUP BY 1, 2))
         |  WHERE rank <= 10),
         |allhits AS (
         |  SELECT 'minhash_lsh' AS engine, query_id, doc_id FROM mh_top
         |  UNION ALL SELECT 'minhash_forest', query_id, doc_id FROM forest_top
         |  UNION ALL SELECT 'bm25', query_id, doc_id FROM bm_top)
         |SELECT h.engine, e.variant, nq.n_queries,
         |       sum(CASE WHEN h.doc_id = e.expect_doc THEN 1 ELSE 0 END)::BIGINT AS hits,
         |       round(sum(CASE WHEN h.doc_id = e.expect_doc THEN 1 ELSE 0 END) * 1.0
         |             / nq.n_queries, 6) AS hit_rate
         |FROM allhits h
         |JOIN expq e USING (query_id)
         |JOIN nq ON nq.variant = e.variant
         |GROUP BY 1, 2, 3""".stripMargin,
    // q_multimodal: the query exports its per-media decode/feature rows
    // (media_id, kind, width, height, valid, fsum) to a fixed parquet —
    // the decode itself is spec-verified against independent oracles
    // (javax.imageio pixel parity, codec round-trips); this twin verifies
    // the aggregation relationally, exactly like the q_pages_* pattern.
    "q_multimodal" ->
      s"""SELECT kind, count(*) AS n,
         |       sum(CASE WHEN valid THEN 1 ELSE 0 END)::BIGINT AS n_valid,
         |       round(avg(width), 6) AS avg_w,
         |       round(avg(height), 6) AS avg_h,
         |       round(avg(fsum), 6) AS avg_fsum
         |FROM read_parquet('${graft.ops.Multimodal.ExportDir}/*.parquet')
         |GROUP BY 1""".stripMargin,
    "q_events_window" ->
      """SELECT event_type, (floor(epoch(ts) / 300))::BIGINT AS bucket,
        |       count(*) AS n, round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_events_topuser" ->
      """WITH s AS (SELECT event_type, user_id, round(sum(value), 6) AS total
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, user_id, total,
        |      row_number() OVER (PARTITION BY event_type ORDER BY total DESC, user_id) AS rn
        |      FROM s)
        |SELECT event_type, user_id, total FROM r WHERE rn = 1""".stripMargin,
    // q_pages_*: oracles over the exported Spark-tokenized pages corpus
    // (written by the queries themselves before the driver's DuckDB pass).
    // q_pages_postings recomputes the engine's EXACT salting + block
    // chunking relationally: a term with df > 50 is range-salted into
    // max(2, ceil(df/100)) buckets of doc_id // (Long.Max // n + 1), and
    // each (term, salt) run is chunked into ceil(run/128) blocks.
    "q_pages_postings" ->
      s"""WITH tf AS (SELECT doc_id, term FROM $PagesExportSql),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |salted AS (SELECT t.term,
         |  CASE WHEN d.df > 50 THEN
         |    t.doc_id // (9223372036854775807 //
         |      GREATEST(2, CAST(ceil(d.df / 100.0) AS BIGINT)) + 1)
         |  ELSE 0 END AS salt
         |  FROM tf t JOIN df d USING (term)),
         |blocks AS (SELECT term, salt, ceil(count(*) / 128.0)::BIGINT AS nb,
         |                  count(*)::BIGINT AS np
         |           FROM salted GROUP BY 1, 2)
         |SELECT term, sum(nb)::BIGINT AS n_blocks, sum(np)::BIGINT AS n_postings
         |FROM blocks GROUP BY 1""".stripMargin,
    "q_pages_bm25" ->
      s"""WITH pe AS (SELECT * FROM $PagesExportSql),
         |pdocs AS (SELECT doc_id, any_value(url) AS url, any_value(dl) AS dl
         |          FROM pe GROUP BY 1),
         |stats AS (SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM pdocs),
         |qtf AS (SELECT doc_id, term, tf, dl FROM pe
         |        WHERE term IN (${pagesQueryTerms.map("'" + _ + "'").mkString(", ")})),
         |df AS (SELECT term, count(*) AS df FROM qtf GROUP BY 1),
         |scored AS (
         |  SELECT qtf.doc_id,
         |         round(sum(ln(1 + (stats.n - df.df + 0.5) / (df.df + 0.5)) *
         |             (qtf.tf * 2.2 /
         |              (qtf.tf + 1.2 * (0.25 + (0.75 / stats.avgdl) * qtf.dl)))), 6) AS score
         |  FROM qtf JOIN df USING (term) CROSS JOIN stats
         |  GROUP BY 1),
         |ranked AS (SELECT doc_id, score,
         |           row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |           FROM scored)
         |SELECT r.doc_id, r.score, r.rank, d.url
         |FROM ranked r JOIN pdocs d USING (doc_id) WHERE rank <= 10""".stripMargin
  )

  /** DuckDB reader of [[PagesExportDir]] (glob over Spark part files). */
  private def PagesExportSql =
    s"read_parquet('$PagesExportDir/*.parquet')"
}
