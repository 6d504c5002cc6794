package graft.query

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TextExtract
import graft.index.{IndexBuild, InvertedIndex, Posting, PostingBlock, TermStat}

/** BM25 top-k over the inverted index (k1=1.2, b=0.75 per BASELINE.json).
  *
  * score(d, q) = Σ_{t ∈ distinct(q)} qtf(t) · idf(t) · tfsat(t, d)
  *   idf(t)      = ln(1 + (N − df + 0.5) / (df + 0.5))          (Lucene form)
  *   tfsat(t, d) = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *
  * Deterministic tiebreak everywhere: (score desc, doc_id asc).
  *
  * The probe is the Spark-native form of the reference's bucket probe +
  * re-rank (reference: index/index_new.py:65-72): query terms → pruned
  * posting-block scan (bucket directory pruning + Parquet min-max on term)
  * → decode → codegen'd score arithmetic → groupBy(doc_id) sum →
  * TakeOrderedAndProject (partial per-partition top-k, merged on driver).
  *
  * [[IndexHandle.topkWand]] adds block-max pruning (Ding & Suel, SIGIR 2011
  * "Faster top-k document retrieval using block-max indexes"): a block of
  * term t is skipped when
  *   qtf_t·idf_t·max_tfsat(block) + Σ_{t'≠t} qtf·idf·max_tfsat_global(t') < θ
  * with θ a lower bound on the k-th best total score, taken from the single
  * most-impactful term's partial scores. Result identity with the exhaustive
  * path: a doc with true score ≥ θ has every one of its blocks bounded below
  * by its true score, so none is pruned and its final score is exact; a doc
  * that loses contributions to pruning had total upper bound < θ ≤ k-th
  * best, so it cannot displace a top-k member. Property-tested in
  * IndexSpec (WAND-vs-exhaustive identity).
  */
object Bm25 {

  /** Fixed doc_id-range grid for the range-aware WAND bound (cells =
    * rangeSalt(doc_id, WandGrid); same arithmetic as the build's salt, so
    * block ranges map to contiguous cell spans). 64 cells keep the
    * per-query (term × cell) bound table tiny while giving hot-term blocks
    * (which span 1-2 cells at salted density) sharp other-term bounds. */
  final val WandGrid = 64

  /** Adaptive bail for ALL-HOT queries: when every query term's df exceeds
    * this fraction of the corpus, the pruning attempt is skipped entirely
    * and the query takes the single-pass plan. Rationale: pruning a block
    * needs some OTHER term's cell bound to be ~0 in the block's doc-range
    * cells, i.e. some term absent from whole grid cells — but a term with
    * df ≥ 0.15·N has ~df/64 ≥ thousands of postings per cell at hash-
    * uniform doc ids, so every cell holds every term, every cell max equals
    * the global max, and no bound can drop below theta (measured: the
    * all-hot `w1 w3 the0` query skips 0.0% of blocks by nature while paying
    * the two bound jobs). Decided driver-side from termInfos — zero extra
    * Spark jobs. [[IndexHandle.wandStats]] ignores the bail (telemetry
    * must measure the bound itself). */
  final val WandAllHotFrac = 0.15

  case class QueryTerm(term: String, qtf: Int)
  case class TermInfo(term: String, qtf: Int, df: Long, idf: Double, gmax: Double)

  /** Posting-block METADATA row — the bound jobs' shape. Never carries the
    * varbyte payload columns: at the design point a 30%-df term's payloads
    * are ~10^11 bytes, and the bound computation needs none of them. */
  case class BlockMeta(shard: Int, term: String, salt: Int, block_id: Int,
                       first_doc: Long, last_doc: Long, n_docs: Int,
                       max_tfsat: Double)

  /** The computed block-max bound: theta (lower bound on the k-th best
    * total score) plus the per-(term, doc-range-cell) score ceilings.
    * Broadcast once per query; [[keeps]] runs inside the block scan's
    * filter, so non-surviving blocks are dropped BEFORE payload decode. */
  case class WandBound(theta: Double, weights: Map[String, Double],
                       terms: Seq[String], cellMax: Map[(String, Int), Double]) {
    def keeps(term: String, firstDoc: Long, lastDoc: Long,
              maxTfsat: Double): Boolean = {
      val c0 = IndexBuild.rangeSalt(firstDoc, WandGrid)
      val c1 = IndexBuild.rangeSalt(lastDoc, WandGrid)
      var bound = weights(term) * maxTfsat
      for (t <- terms if t != term) {
        var m = 0.0
        var c = c0
        while (c <= c1) {
          val v = cellMax.getOrElse((t, c), 0.0)
          if (v > m) m = v
          c += 1
        }
        bound += weights(t) * m
      }
      bound >= theta
    }
  }

  def idf(n: Long, df: Long): Double =
    math.log(1.0 + (n - df + 0.5) / (df + 0.5))

  def tfSat(tf: Double, dl: Double, avgdl: Double): Double =
    tf * (IndexBuild.BM25_K1 + 1.0) /
      (tf + IndexBuild.BM25_K1 * (1.0 - IndexBuild.BM25_B +
        IndexBuild.BM25_B * dl / avgdl))

  /** Column form of tfsat — keeps per-posting scoring in codegen. */
  def tfSatCol(tf: Column, dl: Column, avgdl: Double): Column =
    tf * lit(IndexBuild.BM25_K1 + 1.0) /
      (tf + lit(IndexBuild.BM25_K1) * (lit(1.0 - IndexBuild.BM25_B) +
        lit(IndexBuild.BM25_B / avgdl) * dl))

  /** Parse + weight the query with the reference query tokenizer (uncapped,
    * stopword-filtered; reference: cleaners.py:38-41). Duplicate terms
    * become qtf multiplicity. */
  def queryTerms(q: String): Seq[QueryTerm] =
    TextExtract.tokenizeQuery(q).groupBy(identity).toSeq
      .map { case (t, xs) => QueryTerm(t, xs.length) }
      .sortBy(_.term)

  /** xxhash64-of-UTF8 twin of the Column form `pmod(xxhash64(term), n)` —
    * computes a term's directory bucket driver-side with NO Spark job
    * (parity property-tested in IndexSpec). */
  def termBucket(term: String, nTermBuckets: Int): Int = {
    val b = term.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        b.length, 42L)
    (((h % nTermBuckets) + nTermBuckets) % nTermBuckets).toInt
  }

  /** Open an index directory. One [[InvertedIndex.snapshot]] (manifest,
    * params and corpus, read concurrently with declared schemas — no
    * schema-inference job) gives the committed-shard set, the corpus
    * scalars, the per-shard avgdl-drift factors, and the layout params
    * (persisted at build, <dir>/params). Everything else a query needs is a
    * pruned scan of the postings DataFrame, or for URLs of the docstats
    * DataFrame; both are listed once here, not per query. There is no
    * termstats table at all: per-term (df, max_tfsat) comes from
    * posting-block metadata columns under the same pruning (blocks of a term
    * are doc-range disjoint, so Σ n_docs = df). Uncommitted shards (a torn
    * build wave, a segment mid-append) are invisible. */
  def open(spark: SparkSession, dir: String, nTermBuckets: Int = 16): IndexHandle = {
    import spark.implicits._
    val snap = InvertedIndex.snapshot(spark, dir)
    val p = snap.params.getOrElse(graft.index.BuildParams(nTermBuckets = nTermBuckets))
    val avgdl = snap.sumDl.toDouble / math.max(snap.nDocs, 1L)
    val factors = snap.corpus.map(c => c.shard -> math.max(1.0, avgdl / c.avgdl_build)).toMap
    IndexHandle(spark, dir, snap.nDocs, avgdl, p.nTermBuckets, snap.committed, factors,
      InvertedIndex.postingsTable(spark, dir),
      InvertedIndex.docStats(spark, dir)
        .filter($"shard".isin(snap.committed.toSeq: _*))
        .select($"doc_id", $"url", $"doclen"))
  }

  /** A handle is a SNAPSHOT of the index at [[Bm25.open]] time: the
    * committed-shard set, the postings and docstats file listings, the
    * corpus scalars, and the per-term stats cache are all frozen then.
    * Segments appended later (StreamingIndex, resume waves) are invisible to
    * this handle — call [[IndexHandle.reopen]] to pick them up. That is the intended
    * serving semantics: a query set runs against one consistent snapshot. */
  case class IndexHandle(spark: SparkSession, dir: String, nDocs: Long,
                         avgdl: Double, nTermBuckets: Int,
                         committed: Set[Int], factors: Map[Int, Double],
                         postingsDF: DataFrame,
                         /** (doc_id, url, doclen) of the committed shards. */
                         docStatsDF: DataFrame,
                         /** Exhaustive-path cutoff in INDEX DOCUMENTS: below
                           * it a query runs as one driver-blocking action
                           * (see singlePassTopk) — result-identical, lower
                           * latency. Above it, block-max WAND's extra
                           * round-trips pay for themselves. Tests set 0 to
                           * force the pruning path. */
                         wandCutoff: Long = 2000000L) {
    import spark.implicits._

    /** Tune the session for point-query latency: AQE's per-exchange
      * re-planning rounds and wide shuffles are throughput features — for a
      * top-k probe that touches a few pruned blocks they just add fixed
      * stage latency (measured on a 300k-doc index: 0.91 s avg with AQE +
      * 16 shuffle partitions → 0.29 s with neither). Opt-in because it
      * mutates session conf; call it on a session dedicated to serving. */
    /** Fresh snapshot of the same index directory: re-reads the manifest,
      * corpus scalars, params, and the postings and docstats file listings,
      * and starts an empty term-stats cache. Use after StreamingIndex
      * appends (or another build wave) to make new segments visible. Serving knobs customized
      * on THIS handle (wandCutoff) carry over — reopening refreshes the
      * snapshot, it must not silently reset tuning. */
    def reopen(): IndexHandle =
      Bm25.open(spark, dir, nTermBuckets).copy(wandCutoff = wandCutoff)

    def tuneForPointQueries(): IndexHandle = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      this
    }

    /** Per-term stats cache: a query set hits the same vocabulary over and
      * over; one pruned termstats job per NEW term set, zero for repeats. */
    private val tsCache =
      scala.collection.concurrent.TrieMap.empty[String, Option[TermStat]]

    /** Per-term (df, max_tfsat) from posting-block METADATA columns — the
      * same bucket-dir + Parquet term-min-max pruning the block scan uses,
      * but reading only the three small metadata columns (never the varbyte
      * payload: Parquet is columnar). Blocks of a term are doc-range
      * disjoint (range salting), so Σ n_docs = df exactly. Aggregated to
      * (term, shard) in Spark (block counts of a hot term can be huge at
      * the design point), combined driver-side; cached per term. */
    def termInfos(q: String): Seq[TermInfo] = {
      val qts = queryTerms(q)
      if (qts.isEmpty) return Nil
      val missing = qts.map(_.term).filterNot(tsCache.contains)
      if (missing.nonEmpty) {
        val buckets = missing.map(termBucket(_, nTermBuckets)).distinct
        val rows = postingsDF
          .filter($"shard".isin(committed.toSeq: _*) &&
            $"bucket".isin(buckets: _*) && $"term".isin(missing: _*))
          .groupBy($"term", $"shard".cast("int").as("shard"))
          .agg(sum($"n_docs").as("df"), max($"max_tfsat").as("max_tfsat"))
          .select($"term", $"shard", $"df", $"max_tfsat")
          .as[(String, Int, Long, Double)].collect()
        val found = rows.groupBy(_._1).map { case (t, rs) =>
          t -> TermStat(t, rs.map(_._3).sum,
            rs.map(r => r._4 * factors.getOrElse(r._2, 1.0)).max)
        }
        missing.foreach(t => tsCache.put(t, found.get(t)))
      }
      qts.flatMap { qt =>
        tsCache(qt.term).map(ts =>
          TermInfo(qt.term, qt.qtf, ts.df, idf(nDocs, ts.df), ts.max_tfsat))
      }
    }

    /** Pruned posting-block scan: bucket dirs + term min-max row groups —
      * the bucket set is computed driver-side (no job). Each block's
      * max_tfsat is inflated by its shard's avgdl-drift factor so WAND
      * pruning stays safe on indexes appended under an older avgdl
      * (resume waves, streaming segments). */
    private def prunedScan(terms: Seq[String]): DataFrame = {
      val buckets = terms.map(termBucket(_, nTermBuckets)).distinct
      val fMap = map(factors.toSeq.flatMap { case (sh, f) =>
        Seq(lit(sh), lit(f))
      }: _*)
      postingsDF
        .filter($"shard".isin(committed.toSeq: _*) &&
          $"bucket".isin(buckets: _*) && $"term".isin(terms: _*))
        .withColumn("max_tfsat",
          $"max_tfsat" * coalesce(element_at(fMap, $"shard".cast("int")), lit(1.0)))
    }

    private def loadBlocks(terms: Seq[String]): Dataset[PostingBlock] =
      prunedScan(terms)
        .select($"shard".cast("int").as("shard"), $"term", $"salt", $"block_id",
          $"first_doc", $"last_doc", $"n_docs", $"max_tf", $"max_tfsat",
          $"doc_gaps_vb", $"tfs_vb", $"dls_vb")
        .as[PostingBlock]

    /** Metadata-only projection of the pruned block scan — the bound jobs'
      * input. Column pruning reaches the Parquet reader (ReadSchema carries
      * no `*_vb` payload column — the same trick termInfos uses), so
      * computing bounds over a hot term's 10^4 blocks reads kilobytes of
      * metadata, not the payload bytes the bound exists to skip. */
    private def loadBlockMeta(terms: Seq[String]): Dataset[BlockMeta] =
      prunedScan(terms)
        .select($"shard".cast("int").as("shard"), $"term", $"salt", $"block_id",
          $"first_doc", $"last_doc", $"n_docs", $"max_tfsat")
        .as[BlockMeta]

    /** Formatted physical plan of the metadata-only bound scan — plan-audit
      * evidence (Main.wandstat prints it; PLANS.md records it). */
    def boundPlanString(q: String): String =
      loadBlockMeta(queryTerms(q).map(_.term)).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

    /** Decode + score + aggregate + top-k. Scoring weights enter as a
      * literal map so the whole per-posting path after decode is codegen. */
    private def scoreBlocks(blocks: Dataset[PostingBlock],
                            infos: Seq[TermInfo], k: Int): DataFrame = {
      val wPairs = infos.flatMap(ti =>
        Seq(lit(ti.term), lit(ti.qtf * ti.idf)))
      val wMap = map(wPairs: _*)
      blocks
        .flatMap(IndexBuild.decodeBlock _)
        .toDF()
        .withColumn("score",
          element_at(wMap, $"term") * tfSatCol($"tf", $"dl", avgdl))
        .groupBy($"doc_id")
        .agg(sum($"score").as("score"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(k)
    }

    /** ONE-action exhaustive top-k: df (and so idf) is aggregated from
      * block metadata INSIDE the scoring plan and broadcast-joined back
      * onto the decoded postings — no separate term-stats round-trip, no
      * theta job; a whole query is a single driver-blocking action over the
      * pruned block scan. FP-identical to the TermInfo path: the weight is
      * qtf·ln(1+(N−df+0.5)/(df+0.5)) with the same association either way. */
    private def singlePassTopk(qts: Seq[QueryTerm], k: Int): DataFrame = {
      val qtfMap = map(qts.flatMap(qt =>
        Seq(lit(qt.term), lit(qt.qtf.toDouble))): _*)
      val blocks = loadBlocks(qts.map(_.term))
      val termW = blocks.groupBy($"term")
        .agg(sum($"n_docs").as("df"))
        .select($"term", (element_at(qtfMap, $"term") *
          log(lit(1.0) + (lit(nDocs.toDouble) - $"df" + 0.5) / ($"df" + 0.5)))
          .as("w"))
      blocks
        .flatMap(IndexBuild.decodeBlock _)
        .toDF()
        .join(broadcast(termW), "term")
        .withColumn("score", $"w" * tfSatCol($"tf", $"dl", avgdl))
        .groupBy($"doc_id")
        .agg(sum($"score").as("score"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(k)
    }

    /** Exhaustive scoring: always correct; WAND must equal it. */
    def topk(q: String, k: Int): DataFrame = {
      val qts = queryTerms(q)
      if (qts.isEmpty) emptyResult(spark)
      else singlePassTopk(qts, k)
    }

    /** Block-max pruned top-k — result-identical to [[topk]].
      *
      * Adaptive: below `wandCutoff` DOCUMENTS in the index, the two extra
      * driver round-trips WAND needs (term stats for bounds, then the
      * theta-bounding scan) cost more wall-clock than block skipping can
      * save — the pruned block scan is already small — so the query runs
      * the one-action exhaustive plan (identical results: WAND with
      * theta = −inf prunes nothing). Above it, block-max pruning pays. */
    def topkWand(q: String, k: Int): DataFrame = {
      val qts = queryTerms(q)
      if (qts.isEmpty) return emptyResult(spark)
      if (nDocs < wandCutoff) return singlePassTopk(qts, k)
      val infos = termInfos(q)
      if (infos.isEmpty) return emptyResult(spark)
      // all-hot bail (see WandAllHotFrac): no rare term → the grid bound
      // provably-by-measurement skips nothing; take the single-action plan
      // with zero bound jobs instead of two wasted ones
      if (infos.forall(_.df.toDouble > WandAllHotFrac * nDocs))
        return scoreBlocks(loadBlocks(infos.map(_.term)), infos, k)
      computeBound(loadBlockMeta(infos.map(_.term)), infos, k) match {
        case None => scoreBlocks(loadBlocks(infos.map(_.term)), infos, k)
        case Some(bd) =>
          val bc = spark.sparkContext.broadcast(bd)
          scoreBlocks(loadBlocks(infos.map(_.term)).filter(b =>
            bc.value.keeps(b.term, b.first_doc, b.last_doc, b.max_tfsat)),
            infos, k)
      }
    }

    /** The block-max bound: theta (a lower bound on the k-th best score,
      * from the most impactful term's partial scores) and the per-cell
      * score ceilings, packaged as a [[WandBound]] the block scan filters
      * with. Shared by [[topkWand]] and [[wandStats]]. Returns None when no
      * theta can form (no term has df ≥ k) — the caller then scores all
      * blocks, which is exactly what a −inf theta would keep.
      *
      * Both bound jobs avoid the payload problem: cellMax aggregates the
      * METADATA-ONLY projection ([[loadBlockMeta]] — nothing here ever
      * materializes a hot term's ~10^11 payload bytes, let alone caches
      * them), and theta decodes ONE term's postings from a fresh pruned
      * scan (bucket dir + term min-max narrow that scan to the best term's
      * own blocks).
      *
      * The other-terms bound is RANGE-AWARE: doc_id space is cut into
      * [[Bm25.WandGrid]] fixed cells, and one small aggregation over the
      * block METADATA yields each term's max saturated score per cell it
      * has postings in. Because range salting makes
      * blocks doc-range disjoint, a block's upper bound adds, for every
      * other term, only that term's max over the CELLS THE BLOCK SPANS —
      * zero where the term has no postings. This is what makes block-max
      * WAND actually skip: with a global other-terms bound, any strong
      * query term keeps every block of every other term alive (a hot
      * term's 10^4 blocks all survive because SOME doc somewhere scores
      * high on the rare term); with the grid, the hot term's blocks
      * survive only where the rare term's docs actually live.
      *
      * theta needs the best term's k-th partial to EXIST: terms with
      * df < k are skipped when choosing it (their partials can't bound
      * anything); if no term qualifies, theta is −inf and nothing prunes
      * (correct, and only possible for queries whose every term is rarer
      * than k — those scans are tiny anyway).
      *
      * Safety: cellMax(t', c) ≥ tfsat of every posting of t' in any doc of
      * cell c (stale-avgdl inflation applied by the shared pruned scan
      * under both projections), so the per-block bound still dominates
      * every true document score in the block — the topk≡topkWand
      * identity argument is unchanged. */
    private def computeBound(meta: Dataset[BlockMeta], infos: Seq[TermInfo],
                             k: Int): Option[WandBound] = {
      val eligible = infos.filter(_.df >= k)
      if (eligible.isEmpty) return None
      val best = eligible.maxBy(ti => ti.qtf * ti.idf * ti.gmax)
      val bw = best.qtf * best.idf
      // theta and the cell-bound table are both small jobs — submitted
      // CONCURRENTLY (they dominate the pruning path's fixed latency;
      // overlapping them halves it)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val thetaF = Future {
        val partials = loadBlocks(Seq(best.term))
          .flatMap(IndexBuild.decodeBlock _)
          .select((lit(bw) * tfSatCol($"tf", $"dl", avgdl)).as("s"))
          .orderBy(desc("s")).limit(k).as[Double].collect()
        if (partials.length < k) Double.NegativeInfinity else partials.last
      }
      // per-(term, grid-cell) max_tfsat from the metadata-only scan. Cell
      // arithmetic is the SAME typed rangeSalt used in WandBound.keeps
      // (bit-identical integer division — a SQL `/` would go through
      // double and could disagree at cell boundaries, silently
      // under-bounding).
      val cellMaxF = Future {
        meta
          .flatMap { b =>
            (IndexBuild.rangeSalt(b.first_doc, Bm25.WandGrid) to
              IndexBuild.rangeSalt(b.last_doc, Bm25.WandGrid)).iterator
              .map(c => (b.term, c, b.max_tfsat))
          }
          .groupBy($"_1", $"_2").agg(max($"_3").as("m"))
          .as[(String, Int, Double)].collect()
          .map(r => (r._1, r._2) -> r._3).toMap
      }
      val theta = Await.result(thetaF, Duration.Inf)
      val cellMax = Await.result(cellMaxF, Duration.Inf)
      if (theta == Double.NegativeInfinity) None
      else Some(WandBound(theta,
        infos.map(ti => ti.term -> ti.qtf * ti.idf).toMap,
        infos.map(_.term), cellMax))
    }

    /** Pruning telemetry for one query: (blocks in the pruned term scan,
      * blocks surviving the block-max bound, theta). Runs the same bound
      * computation as [[topkWand]] — but forcing it, regardless of the
      * adaptive cutoff and the all-hot bail (telemetry must measure the
      * bound itself) — without scoring; the bench uses it to show skipping
      * is actually engaged at scale. Counts run on the metadata projection
      * only: telemetry never touches a payload byte either. */
    def wandStats(q: String, k: Int): (Long, Long, Double) = {
      val infos = termInfos(q)
      if (infos.isEmpty) return (0L, 0L, 0.0)
      val meta = loadBlockMeta(infos.map(_.term))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val total = meta.count()
        computeBound(meta, infos, k) match {
          case None => (total, total, Double.NegativeInfinity)
          case Some(bd) =>
            val bc = spark.sparkContext.broadcast(bd)
            (total, meta.filter(m =>
              bc.value.keeps(m.term, m.first_doc, m.last_doc, m.max_tfsat))
              .count(), bd.theta)
        }
      } finally meta.unpersist()
    }

    /** Candidate doc metadata lookup (the reference's title-cache probe,
      * index_new.py:69). The top-k result set is the tiny side — broadcast
      * IT, never the doc table (docstats is corpus-sized: 10^12 rows at the
      * design point). INNER join, deliberately: a right-outer cannot
      * broadcast its preserved (right) side — Spark logs "build right for
      * right outer join" and silently drops the hint, leaving a
      * corpus-sized docstats shuffle at scale — and every result doc_id
      * exists in docstats by construction (both come from the same
      * committed-shard snapshot), so the join types agree row-for-row.
      * The docstats side is this handle's: listed at open and pruned to its
      * committed shards, so a segment appended (or mid-append) since then
      * can neither add rows for a re-added URL nor cost a listing here. */
    def withUrls(results: DataFrame): DataFrame =
      docStatsDF
        .join(broadcast(results), Seq("doc_id"))
        .select(results.columns.map(col) :+ $"url" :+ $"doclen": _*)
  }

  private def emptyResult(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Double)].toDF("doc_id", "score")
  }
}
