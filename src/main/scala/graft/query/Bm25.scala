package graft.query

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.TextExtract
import graft.index.{IndexBuild, InvertedIndex, Posting, PostingBlock, TermStat}

/** BM25 top-k over the inverted index (k1=1.2, b=0.75 per BASELINE.json).
  *
  * score(d, q) = Σ_{t ∈ distinct(q)} qtf(t) · idf(t) · tfsat(t, d)
  *   idf(t)      = ln(1 + (N − df + 0.5) / (df + 0.5))          (Lucene form)
  *   tfsat(t, d) = (tf·(k1+1)) / (tf + k1·((1 − b) + (b/avgdl)·dl))
  *
  * tfsat is written once, in that operation order: [[tfSat]], with
  * [[tfSatCol]] its codegen twin (pinned bit for bit by Bm25ScorerSpec).
  * The build's per-block `max_tfsat` calls [[tfSat]] too, so a block's
  * stored bound is exactly the largest tfsat any scorer computes for it —
  * floating-point rounding cannot sink it below a score it must bound.
  *
  * Deterministic tiebreak everywhere: (score desc, doc_id asc).
  *
  * The probe is the Spark-native form of the reference's bucket probe +
  * re-rank (reference: index/index_new.py:65-72): query terms → pruned
  * posting-block scan (bucket directory pruning + Parquet min-max on term)
  * → decode → score → per-doc sum → top-k. Two scorers run that pipeline
  * after the scan, with the same per-posting arithmetic:
  *   - the DRIVER scorer ([[IndexHandle]]'s `localTopk`): one `collect` of
  *     the pruned blocks, then decode, score with [[tfSat]], sum into a
  *     primitive doc_id → score table and a bounded top-k heap in driver
  *     code. At small sizes a query's time is per-Spark-job latency, not
  *     posting work, so one job beats a plan of several.
  *   - the SPARK plans: decode → codegen'd score ([[tfSatCol]]) →
  *     groupBy(doc_id) sum → TakeOrderedAndProject (partial per-partition
  *     top-k, merged on the driver). They scale past what one driver
  *     should hold.
  * A query takes the driver scorer when a bound on its postings fits the
  * budget [[LocalPostings]] (a handle's `localPostings`). The gate needs no
  * Spark job: it reads the snapshot's committed posting total, a bound on
  * any query's postings ([[graft.index.InvertedIndex.Snapshot]]`.postings`,
  * known at open). Below it, a forced block-max query is the exhaustive
  * driver query too. Above it, the block-max path reads Σ df of the query
  * terms from the termInfos its Spark bound jobs need anyway.
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
  * IndexSpec (WAND-vs-exhaustive identity) and Bm25ScorerSpec (driver ≡
  * Spark ≡ brute force).
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
    * and every block of the query's terms is scored — on the driver or by
    * the Spark plan, as the posting budget ([[LocalPostings]]) decides.
    * Rationale: pruning a block
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

  /** Posting budget of the driver scorer: a query whose gate input fits it
    * is scored by one block `collect` and driver code instead of a Spark
    * plan. When the snapshot's whole posting total fits it, a forced
    * block-max query is that same one-job query: block-max pruning there
    * would save only decode and scoring, since the one collect reads the
    * query terms' payloads anyway. At 10^6 postings the driver holds a
    * 2^21-slot score table (32 MB) plus the collected blocks' payloads.
    *
    * Measured at local[4] on a 4-vCPU host (Synth indexes of 2k–512k docs,
    * ~81 postings a doc, medians of 5, queries of 3 to 7.4·10^6 postings):
    * the driver scorer was faster in 69 of 72 (query, path) pairs. The
    * Spark plans won 3, all forced block-max and 0.7% to 16% apart, at
    * 3.9·10^3, 1.2·10^6 and 4.9·10^6 query postings (Σ df). No speed
    * crossover showed in that range, so 10^6 is a driver-memory bound
    * with margin, not a measured crossover. More cores would favour the
    * Spark plans' parallel decode; that is unmeasured.
    *
    * The exhaustive path gates on the WHOLE index's posting total, so on
    * an index above 10^6 postings (~12k Synth docs) every exhaustive query
    * takes the Spark plan, even a one-rare-term query the driver scores
    * faster, and every forced block-max query runs termInfos and the Spark
    * bound jobs. */
  final val LocalPostings = 1000000L

  /** doc_id → summed score over primitive arrays, open addressing with
    * linear probing (no boxing per posting). Sized once for `maxDocs`
    * distinct docs at load ≤ 1/2, so it never grows. Doc ids are ≥ 0
    * (63-bit masked hashes), so −1 marks an empty slot. */
  private final class DocScores(maxDocs: Int) {
    private val cap = {
      var c = 2
      while (c < 2L * maxDocs) c <<= 1
      c
    }
    private val keys = Array.fill(cap)(-1L)
    private val vals = new Array[Double](cap)

    def add(doc: Long, s: Double): Unit = {
      var i = ((doc * 0x9E3779B97F4A7C15L) >>> 33).toInt & (cap - 1)
      while (keys(i) != doc && keys(i) != -1L) i = (i + 1) & (cap - 1)
      keys(i) = doc
      vals(i) += s
    }

    /** The k best (doc_id, score), ordered (score desc, doc_id asc), via a
      * k-bounded heap whose head is the weakest kept doc. */
    def top(k: Int): Seq[(Long, Double)] = {
      if (k <= 0) return Nil
      val heap = new java.util.PriorityQueue[(Long, Double)](k,
        (a: (Long, Double), b: (Long, Double)) => {
          val c = java.lang.Double.compare(a._2, b._2)
          if (c != 0) c else java.lang.Long.compare(b._1, a._1)
        })
      var i = 0
      while (i < cap) {
        val d = keys(i)
        val s = vals(i)
        if (d != -1L) {
          if (heap.size < k) heap.add((d, s))
          else {
            val w = heap.peek()
            if (s > w._2 || (s == w._2 && d < w._1)) { heap.poll(); heap.add((d, s)) }
          }
        }
        i += 1
      }
      heap.asScala.toSeq.sortBy { case (d, s) => (-s, d) }
    }
  }

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

  final val K1 = 1.2
  final val B = 0.75

  /** Saturated term frequency — the one definition (see the header for
    * why its operation order is fixed). */
  def tfSat(tf: Double, dl: Double, avgdl: Double): Double =
    tf * (K1 + 1.0) / (tf + K1 * ((1.0 - B) + (B / avgdl) * dl))

  /** Inflation of a shard's stored block maxima once appends have moved
    * avgdl: the shard's blocks were encoded at `avgdlBuild`, and for every
    * tf, dl ≥ 1 and f = driftFactor(avgdl, avgdlBuild),
    *   fl(fl(tfSat(tf, dl, avgdlBuild)) · f) ≥ fl(tfSat(tf, dl, avgdl)),
    * so `max_tfsat · f` still bounds every score of the block.
    *
    * avgdl ≤ avgdlBuild gives exactly 1.0: tfsat falls with avgdl, and
    * every IEEE operation in [[tfSat]] is monotone, so the rounded tfsat
    * cannot rise either.
    *
    * avgdl > avgdlBuild: the exact tfsat grows by at most the ratio
    * r = avgdl/avgdlBuild (its denominator is c + e/avgdl with c, e ≥ 0).
    * [[tfSat]] rounds seven times, each by a relative error of at most
    * u = 2^-53, and its five denominator roundings act on sums of
    * non-negative terms, so a computed tfsat lies within the factors
    * (1−u)^2/(1+u)^5 and (1+u)^2/(1−u)^5 of the exact one. Counting the
    * roundings of r, of r·(1 + 2^-48) and of the product max_tfsat · f, the
    * bound holds when (1 + 2^-48)·(1−u)^10 ≥ (1+u)^7, i.e. 32u ≥ 17u to
    * first order. A bare r is not enough: at tf 4, dl 7955 and avgdl
    * 224.4005433114935 → 224.4005433114936 (four ulps up), r = 1 + 4u, yet
    * the inflated bound lands one ulp under the new tfsat (pinned in
    * Bm25ScorerSpec). */
  def driftFactor(avgdl: Double, avgdlBuild: Double): Double =
    if (avgdl <= avgdlBuild) 1.0 else avgdl / avgdlBuild * DriftMargin

  /** 1 + 2^-48, exact in a double: see [[driftFactor]]. */
  private final val DriftMargin = 1.0 + java.lang.Math.scalb(1.0, -48)

  /** Column form of [[tfSat]], the same operations in the same order —
    * keeps per-posting scoring in codegen. */
  def tfSatCol(tf: Column, dl: Column, avgdl: Double): Column =
    tf * lit(K1 + 1.0) / (tf + lit(K1) * (lit(1.0 - B) + lit(B / avgdl) * dl))

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
    val factors = snap.corpus.map(c => c.shard -> driftFactor(avgdl, c.avgdl_build)).toMap
    IndexHandle(spark, dir, snap.nDocs, avgdl, p.nTermBuckets, snap.committed, factors,
      InvertedIndex.postingsTable(spark, dir),
      InvertedIndex.docStats(spark, dir)
        .filter($"shard".isin(snap.committed.toSeq: _*))
        .select($"doc_id", $"url", $"doclen"),
      nPostings = snap.postings)
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
                           * round-trips pay for themselves. Tests set 0,
                           * with localPostings 0, to force the pruning
                           * path. */
                         wandCutoff: Long = 2000000L,
                         /** Driver-scorer budget in POSTINGS (see
                           * [[Bm25.LocalPostings]]): a query whose gate
                           * input fits it is scored on the driver —
                           * result-identical up to summation order, fewer
                           * jobs. Tests set 0 to force the Spark plans. */
                         localPostings: Long = Bm25.LocalPostings,
                         /** Committed posting total of the snapshot
                           * (Snapshot.postings, set by [[Bm25.open]]): the
                           * input of the [[onDriver]] gate. */
                         nPostings: Long = 0L) {
    import spark.implicits._

    /** Fresh snapshot of the same index directory: re-reads the manifest,
      * corpus scalars, params, and the postings and docstats file listings,
      * and starts an empty term-stats cache. Use after StreamingIndex
      * appends (or another build wave) to make new segments visible. Serving
      * knobs customized on THIS handle (wandCutoff, localPostings) carry
      * over — reopening refreshes the snapshot, it must not silently reset
      * tuning. */
    def reopen(): IndexHandle =
      Bm25.open(spark, dir, nTermBuckets)
        .copy(wandCutoff = wandCutoff, localPostings = localPostings)

    /** Tune the session for point-query latency: AQE's per-exchange
      * re-planning rounds and wide shuffles are throughput features — for a
      * top-k probe that touches a few pruned blocks they just add fixed
      * stage latency (measured on a 300k-doc index: 0.91 s avg with AQE +
      * 16 shuffle partitions → 0.29 s with neither). Opt-in because it
      * mutates session conf; call it on a session dedicated to serving. */
    def tuneForPointQueries(): IndexHandle = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      this
    }

    /** Whether the snapshot's committed posting total (`nPostings`, read at
      * open — no job) fits `localPostings`. No query can exceed it, so every
      * query, forced block-max included, is then scored on the driver from
      * one block `collect`. */
    def onDriver: Boolean = nPostings <= localPostings

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

    /** The Spark plans' one scoring tail: decoded postings carrying their
      * term's weight `w` (qtf·idf) → w·tfsat in codegen → per-doc sum →
      * top k by (score desc, doc_id asc). */
    private def sumTopk(postings: DataFrame, k: Int): DataFrame =
      postings
        .withColumn("score", $"w" * tfSatCol($"tf", $"dl", avgdl))
        .groupBy($"doc_id")
        .agg(sum($"score").as("score"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(k)

    /** The Spark scorer of block-max survivors. Scoring weights (term →
      * qtf·idf) enter as a literal map so the whole per-posting path after
      * decode is codegen. */
    private def scoreBlocks(blocks: Dataset[PostingBlock],
                            weights: Map[String, Double], k: Int): DataFrame = {
      val wMap = map(weights.toSeq.flatMap { case (t, w) => Seq(lit(t), lit(w)) }: _*)
      sumTopk(blocks.flatMap(IndexBuild.decodeBlock _).toDF()
        .withColumn("w", element_at(wMap, $"term")), k)
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
      sumTopk(blocks.flatMap(IndexBuild.decodeBlock _).toDF()
        .join(broadcast(termW), "term"), k)
    }

    /** The driver scorer: decode `blocks`, score each posting with
      * [[Bm25.tfSat]], sum per doc into a primitive table and
      * keep the top k by (score desc, doc_id asc). Returns a local
      * DataFrame (doc_id, score) — collecting it runs no job.
      *
      * Blocks are visited in the canonical order (term, shard, salt,
      * block_id), so every doc's terms are summed in one fixed order. A
      * block-max survivor set is a subset of the exhaustive block set that
      * keeps every block of every top-k doc, so both paths sum each top-k
      * doc's score exactly alike: driver [[topk]] ≡ driver [[topkWand]]
      * bit for bit, not just up to summation order. */
    private def localTopk(blocks: Array[PostingBlock],
                          weights: Map[String, Double], k: Int): DataFrame = {
      val scores = new DocScores(blocks.iterator.map(_.n_docs).sum)
      for (b <- blocks.sortBy(b => (b.term, b.shard, b.salt, b.block_id))) {
        val w = weights(b.term)
        IndexBuild.decodeBlock(b).foreach(p =>
          scores.add(p.doc_id, w * tfSat(p.tf, p.dl, avgdl)))
      }
      scores.top(k).toDF("doc_id", "score")
    }

    /** Exhaustive scoring: always correct; WAND must equal it.
      *
      * [[onDriver]]: the pruned blocks are collected in ONE job, df per term
      * is Σ n_docs of the collected blocks, and [[localTopk]] scores them.
      * Otherwise the one-action Spark plan ([[singlePassTopk]]) runs. */
    def topk(q: String, k: Int): DataFrame = {
      val qts = queryTerms(q)
      if (qts.isEmpty) emptyResult(spark)
      else if (onDriver) {
        val blocks = loadBlocks(qts.map(_.term)).collect()
        val df = blocks.groupMapReduce(_.term)(_.n_docs.toLong)(_ + _)
        localTopk(blocks, qts.collect {
          case qt if df.contains(qt.term) => qt.term -> qt.qtf * idf(nDocs, df(qt.term))
        }.toMap, k)
      } else singlePassTopk(qts, k)
    }

    /** Block-max pruned top-k — result-identical to [[topk]].
      *
      * Adaptive: below `wandCutoff` DOCUMENTS in the index, the two extra
      * driver round-trips WAND needs (term stats for bounds, then the
      * theta-bounding scan) cost more wall-clock than block skipping can
      * save — the pruned block scan is already small — so the query IS
      * [[topk]] (identical results: WAND with theta = −inf prunes nothing).
      * [[onDriver]], the query is [[topk]] as well: its one block `collect`
      * reads every payload of the query terms, so a bound could save only
      * decode and scoring of a few dozen blocks, and computing it on the
      * driver measured no faster than [[topk]]. Otherwise block-max pruning
      * pays; the blocks that survive the bound are scored on the driver
      * ([[localTopk]]) when Σ df of the query terms (from termInfos, which
      * the bound needs anyway) fits `localPostings`, else by the Spark plan
      * ([[scoreBlocks]]). */
    def topkWand(q: String, k: Int): DataFrame = {
      if (nDocs < wandCutoff || onDriver) return topk(q, k)
      val infos = termInfos(q)
      if (infos.isEmpty) return emptyResult(spark)
      val terms = infos.map(_.term)
      val weights = infos.map(ti => ti.term -> ti.qtf * ti.idf).toMap
      val local = infos.map(_.df).sum <= localPostings
      def score(blocks: Dataset[PostingBlock]): DataFrame =
        if (local) localTopk(blocks.collect(), weights, k)
        else scoreBlocks(blocks, weights, k)
      // all-hot bail (see WandAllHotFrac): no rare term → the grid bound
      // provably-by-measurement skips nothing; score every block with zero
      // bound jobs instead of two wasted ones
      if (infos.forall(_.df.toDouble > WandAllHotFrac * nDocs))
        return score(loadBlocks(terms))
      computeBound(loadBlockMeta(terms), infos, k) match {
        case None => score(loadBlocks(terms))
        case Some(bd) =>
          val bc = spark.sparkContext.broadcast(bd)
          score(loadBlocks(terms).filter(b =>
            bc.value.keeps(b.term, b.first_doc, b.last_doc, b.max_tfsat)))
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
      * cell c (stale-avgdl inflation, [[Bm25.driftFactor]], applied by the
      * shared pruned scan under both projections), so the per-block bound
      * still dominates every true document score in the block — the
      * topk≡topkWand identity argument is unchanged. */
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
      * is actually engaged at scale. It runs the Spark bound also where
      * [[topkWand]] runs none ([[onDriver]]). Counts run on the metadata
      * projection only: telemetry never touches a payload byte either. */
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
      * index_new.py:69): `results` (a top-k, so at most k rows) gains the
      * columns `url` and `doclen`. The result rows are collected, ONE
      * `doc_id IN (…)` scan of the docstats side fetches their docs, and
      * the two are joined on the driver into a local DataFrame, in the
      * result rows' order — no broadcast join plan. An empty result runs
      * no docstats job. INNER-join semantics: a doc with two docstats rows
      * (a URL re-added by a later segment, on a reopened handle) gives two
      * rows. The docstats side is this handle's: listed at open and pruned
      * to its committed shards, so a segment appended (or mid-append)
      * since then can neither add rows for a re-added URL nor cost a
      * listing here. */
    def withUrls(results: DataFrame): DataFrame = {
      val rows = results.collect()
      val idAt = results.schema.fieldIndex("doc_id")
      val ids = rows.map(_.getLong(idAt)).distinct
      val docs =
        if (ids.isEmpty) Map.empty[Long, Array[Row]]
        else docStatsDF.filter($"doc_id".isin(ids.toSeq: _*)).collect()
          .groupBy(_.getAs[Long]("doc_id"))
      val joined = rows.toSeq.flatMap(r => docs.getOrElse(r.getLong(idAt), Array.empty[Row])
        .map(d => Row.fromSeq(r.toSeq :+ d.getAs[String]("url") :+ d.getAs[Int]("doclen"))))
      spark.createDataFrame(joined.asJava, StructType(results.schema.fields ++
        Seq(docStatsDF.schema("url"), docStatsDF.schema("doclen"))))
    }
  }

  private def emptyResult(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Double)].toDF("doc_id", "score")
  }
}
