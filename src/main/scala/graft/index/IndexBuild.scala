package graft.index

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.core.TextExtract
import graft.data.Page
import graft.query.Bm25

/** One (term, doc) pair with the doc's length riding along (so scoring never
  * needs a doc-side join). */
case class Posting(term: String, doc_id: Long, tf: Int, dl: Int)

/** A posting tagged with its doc shard — the build keys every stage by
  * (shard, term[, salt]) so one job processes a whole wave of shards. */
case class ShardPosting(shard: Int, term: String, doc_id: Long, tf: Int, dl: Int)

/** One compressed posting block: ≤ blockSize docs, sorted by doc_id, with
  * per-block max-score metadata for block-max WAND.
  * Structural ancestor: the reference's sorted pickled blocks + sparse
  * (offset, first-key) directory (reference: index/hash_index.py:113-124,183)
  * — here the "directory" is ordinary columns (first_doc/last_doc/max_tfsat)
  * prunable by Parquet min-max stats and plain filters.
  */
case class PostingBlock(
    shard: Int, term: String, salt: Int, block_id: Int,
    first_doc: Long, last_doc: Long, n_docs: Int,
    max_tf: Int, max_tfsat: Double,
    doc_gaps_vb: Array[Byte], tfs_vb: Array[Byte], dls_vb: Array[Byte])

case class DocStat(doc_id: Long, url: String, doclen: Int, shard: Int)

case class TermStat(term: String, df: Long, max_tfsat: Double)

case class ManifestRow(
    partition_id: Int, rows: Long, blocks: Long, bytes: Long,
    committed: Boolean, lineage: String)

/** Build parameters, persisted with the index at <dir>/params.
  * `numShards` is the coarse doc-partitioning of the whole index (the unit
  * of resumability and of bounded per-term merge state: at 10^12 docs a
  * 30%-df hot term has ~3·10^11 postings — no single task may ever see all
  * of them, so the index is doc-sharded first, and within a shard hot terms
  * are salted into doc_id ranges). None of them is a scoring knob: BM25's
  * k1 and b are [[Bm25.K1]]/[[Bm25.B]], shared by the build's block maxima
  * and every scorer, and documents are always tokenized in full. (Indexes
  * whose params table still holds the old `k1`, `b` and `fullText` columns
  * open unchanged: the declared-schema reader skips them.)
  */
case class BuildParams(
    numShards: Int = 4,
    blockSize: Int = 128,
    saltThreshold: Long = 100000L, // df within shard above which a term is salted
    targetPerSalt: Long = 50000L,  // postings per salt bucket for hot terms
    nTermBuckets: Int = 16,        // directory partitions of postings by term hash
    waveShards: Int = 0)           // shards committed per wave job; 0 = all todo

/** Inverted-index construction: the Spark-native rebuild of the reference's
  * blocked external sort-merge index (reference: index/hash_index.py:24-201)
  * as a declarative pipeline:
  *
  *   pages → extract+tokenize (narrow) → per-doc (term, tf) pre-merge
  *   (docTermFreqs) → map-side sorted varbyte runs per range-salted
  *   (shard|salt, term) → ONE skew-bounded shuffle of the runs → merge +
  *   block encode → partitioned Parquet postings + doc/corpus stats +
  *   manifest. There is no term-stats table: per-term (df, max_tfsat) is a
  *   scan of the blocks' metadata columns at query time.
  *
  * The imperative code runs inside `mapPartitions` (run generation) and
  * `flatMapGroups` (merge + encode) over primitive arrays — the typed
  * analog of the reference's `_dump_block` (hash_index.py:113-124). The
  * reference's k-way `heapq.merge` (hash_index.py:166-195) survives only
  * within one (shard|salt, term) group, as a sort of its runs' postings:
  * range salting makes the salts of a term disjoint and ordered, so no
  * merge ever spans salts (see [[rangeSalt]]). Block maxima are
  * [[Bm25.tfSat]], the scorer's own function.
  */
object IndexBuild {

  /** Stable doc id: hash of url, masked non-negative (63 bits — at 10^12
    * docs the expected collision count is ~5·10^4, i.e. a 5e-8 rate;
    * acceptable for search, and stable across resumes with no global
    * counter). */
  def docIdCol(url: Column): Column =
    xxhash64(url).bitwiseAND(lit(Long.MaxValue))

  /** Scala twin of [[docIdCol]] (same XXH64, seed 42, same mask) — lets the
    * tokenizer run as one typed pass; parity is property-tested. */
  def docId(url: String): Long = {
    val b = url.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        b.length, 42L) & Long.MaxValue
  }

  /** One tokenized page. */
  case class TokDoc(doc_id: Long, url: String, shard: Int, dl: Int,
                    tokens: Array[String])

  /** pages → (doc_id, url, shard, dl, tokens). One typed pass: the regex
    * clean + split + stopword HashSet filter run once per row in plain JVM
    * code (the Column-HOF form re-evaluates the token expression for every
    * derived column and pays a 179-way array_contains per token — measured
    * ~8× slower at 20k docs). */
  def tokenize(pages: Dataset[Page], p: BuildParams): DataFrame = {
    import pages.sparkSession.implicits._
    val numShards = p.numShards
    pages.mapPartitions { it =>
      it.flatMap { pg =>
        val toks = TextExtract.tokenizeFull(TextExtract.cleanText(pg.text))
        if (toks.isEmpty) None // empty-doc filter (reference: main.py:31-33)
        else {
          val id = docId(pg.url)
          Some(TokDoc(id, pg.url, (id % numShards).toInt, toks.length, toks))
        }
      }
    }.toDF()
  }

  /** Tiny mutable counter cell — one allocation per DISTINCT term per doc
    * (which is exactly one emitted row), never one per increment. */
  private final class Cnt { var v: Int = 0 }

  /** Map-side per-doc pre-merge: one ShardPosting per DISTINCT (term, doc)
    * with its tf, instead of one row per TOKEN INSTANCE (tf=1). A doc's
    * tokens are adjacent by construction (they are one array in the scratch
    * row), so the merge state is a per-doc HashMap — O(doc), reset per row —
    * never the corpus-wide (term, doc_id) hash agg this build deliberately
    * avoids (group count ≈ corpus size degenerates into an external sort).
    *
    * This cuts the build's ONE shuffle by the within-doc term-duplication
    * factor in both rows and bytes (the term string no longer travels once
    * per occurrence) — the dominant cost of a 100 TB build and the lever on
    * a bandwidth-capped box. Downstream [[saltedRuns]] is unchanged: its
    * equal-doc_id merge accepts pre-aggregated input as a no-op, and the
    * per-(term,salt) doc_id-sorted posting stream — hence every encoded
    * block — is byte-identical to the raw-instance feed. */
  def docTermFreqs(tokenized: DataFrame): Dataset[ShardPosting] = {
    import tokenized.sparkSession.implicits._
    tokenized
      .select($"shard".cast("int").as("shard"), $"doc_id", $"dl", $"tokens")
      .as[(Int, Long, Int, Array[String])]
      .mapPartitions { it =>
        it.flatMap { case (shard, docId, dl, tokens) =>
          val counts = new java.util.HashMap[String, Cnt](
            math.max(8, tokens.length * 2))
          var i = 0
          while (i < tokens.length) {
            val t = tokens(i)
            var c = counts.get(t)
            if (c == null) { c = new Cnt; counts.put(t, c) }
            c.v += 1
            i += 1
          }
          val out = new Array[ShardPosting](counts.size)
          val eit = counts.entrySet().iterator()
          var j = 0
          while (eit.hasNext) {
            val e = eit.next()
            out(j) = ShardPosting(shard, e.getKey, docId, e.getValue.v, dl)
            j += 1
          }
          out
        }
      }
  }

  /** Decode a block back to postings (sorted by doc_id). */
  def decodeBlock(blk: PostingBlock): Iterator[Posting] = {
    val docs = VarByte.decodeDeltas(blk.doc_gaps_vb, blk.n_docs)
    val tfs = VarByte.decode(blk.tfs_vb, blk.n_docs)
    val dls = VarByte.decode(blk.dls_vb, blk.n_docs)
    (0 until blk.n_docs).iterator.map(i =>
      Posting(blk.term, docs(i), tfs(i).toInt, dls(i).toInt))
  }

  /** Number of range-salt buckets for a term with ~df postings per shard. */
  private[index] def saltCount(df: Long, targetPerSalt: Long): Int =
    math.max(2, math.ceil(df.toDouble / targetPerSalt).toInt)

  /** Range salt of a doc_id among n buckets: doc ids are xxhash64-uniform
    * over [0, 2^63), so fixed-width ranges are as balanced as hash salting —
    * AND they make the salted runs of one term DISJOINT and ordered (all
    * doc ids in salt k precede all in salt k+1). That property eliminates
    * any merge ACROSS salts: the concatenation of the per-salt blocks in
    * salt order IS the globally doc_id-ordered posting list. A reduce task
    * holds one (shard|salt, term) group's decoded postings whole while it
    * merges them, so a hot term's per-task state is bounded by
    * ~targetPerSalt postings, not by the term's df (the reference's
    * heapq.merge, hash_index.py:166-195, shrinks to one salt's slice). */
  def rangeSalt(docId: Long, n: Int): Int =
    if (n <= 1) 0 else (docId / (Long.MaxValue / n + 1)).toInt

  /** One map-side posting run: a doc_id-sorted, within-run-merged slice of
    * one (shard|salt, term) posting list, pre-compressed with the SAME
    * delta+varbyte codec the final blocks use. This is what the build's one
    * shuffle now ships: one row per (term, salt) per MAP PARTITION instead
    * of one row per posting (SPIMI-style run generation, IIR §4.3), so the
    * shuffle's row count drops by the postings-per-run factor (~40× at
    * 300k docs) and its bytes by ~3× (varbyte vs 8-byte slots). */
  private[index] case class PostingRun(
      gk: Long, term: String, n: Int,
      docs_vb: Array[Byte], tfs_vb: Array[Byte], dls_vb: Array[Byte])

  /** Growable (doc_id, tf|dl) pair buffer: one (term, salt) run on the map
    * side, one whole (shard|salt, term) group at the reduce-side merge. */
  private final class RunBuf(initCap: Int) {
    var docs = new Array[Long](initCap)
    var tfdls = new Array[Long](initCap)
    var n = 0
    def add(d: Long, t: Long): Unit = {
      if (n == docs.length) {
        docs = java.util.Arrays.copyOf(docs, n * 2)
        tfdls = java.util.Arrays.copyOf(tfdls, n * 2)
      }
      docs(n) = d; tfdls(n) = t; n += 1
    }
  }

  /** Quicksort the pair arrays (d, t) on d over [lo, hi] — keeps the two
    * parallel primitive arrays aligned without boxing a tuple per posting.
    * Equal keys may land in any order (they are merged immediately after,
    * summing tf — order-insensitive). */
  private def sortPairs(d: Array[Long], t: Array[Long], lo0: Int, hi0: Int): Unit = {
    var lo = lo0; var hi = hi0
    while (hi - lo > 12) {
      // median-of-three pivot
      val mid = lo + (hi - lo) / 2
      val pivot = {
        val a = d(lo); val b = d(mid); val c = d(hi)
        if (a < b) { if (b < c) b else if (a < c) c else a }
        else { if (a < c) a else if (b < c) c else b }
      }
      var i = lo; var j = hi
      while (i <= j) {
        while (d(i) < pivot) i += 1
        while (d(j) > pivot) j -= 1
        if (i <= j) {
          val td = d(i); d(i) = d(j); d(j) = td
          val tt = t(i); t(i) = t(j); t(j) = tt
          i += 1; j -= 1
        }
      }
      // recurse on the smaller half, loop on the larger (O(log n) stack)
      if (j - lo < hi - i) { sortPairs(d, t, lo, j); lo = i }
      else { sortPairs(d, t, i, hi); hi = j }
    }
    // insertion sort for the small tail
    var i = lo + 1
    while (i <= hi) {
      val kd = d(i); val kt = t(i)
      var j = i - 1
      while (j >= lo && d(j) > kd) { d(j + 1) = d(j); t(j + 1) = t(j); j -= 1 }
      d(j + 1) = kd; t(j + 1) = kt
      i += 1
    }
  }

  /** One doc_id-sorted posting list with distinct doc_ids, as parallel
    * arrays. */
  private final case class Merged(docs: Array[Long], tfs: Array[Long],
                                  dls: Array[Long])

  /** Sort a run buffer by doc_id and merge equal doc_ids (sum tf, keep the
    * first dl — doc_ids repeat only on instance-level feeds or across runs,
    * where dl is constant per doc). */
  private def sortMerge(b: RunBuf): Merged = {
    val (d, t, n) = (b.docs, b.tfdls, b.n)
    sortPairs(d, t, 0, n - 1)
    val docs = new Array[Long](n)
    val tfs = new Array[Long](n)
    val dls = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      val docId = d(i)
      var tf = (t(i) >>> 32).toInt
      val dl = t(i).toInt
      i += 1
      while (i < n && d(i) == docId) {
        tf += (t(i) >>> 32).toInt; i += 1
      }
      docs(m) = docId; tfs(m) = tf.toLong; dls(m) = dl.toLong
      m += 1
    }
    Merged(java.util.Arrays.copyOf(docs, m), java.util.Arrays.copyOf(tfs, m),
      java.util.Arrays.copyOf(dls, m))
  }

  /** A run buffer, sorted and merged, varbyte-encoded into one
    * [[PostingRun]]. */
  private def encodeRun(gk: Long, term: String, b: RunBuf): PostingRun = {
    val m = sortMerge(b)
    PostingRun(gk, term, m.docs.length, VarByte.encodeDeltas(m.docs),
      VarByte.encode(m.tfs), VarByte.encode(m.dls))
  }

  /** Map-side state cap: when a task has buffered this many postings it
    * flushes its runs early (several runs per (term, salt) per partition
    * are fine — the reduce-side merge accepts any number). Bounds
    * per-task memory at ~2×64 MB of primitive arrays regardless of
    * partition size. */
  private val RunFlushPostings = 4L * 1000 * 1000

  /** SPIMI run generation: one pass over a partition's postings, buffering
    * (doc_id, tf|dl) per (shard|salt, term), emitting sorted varbyte runs.
    */
  private def partitionRuns(it: Iterator[ShardPosting],
                            hotSalts: Map[String, Int]): Iterator[PostingRun] =
    new Iterator[PostingRun] {
      // term → (packed shard|salt → buffer); the inner map has 1 entry for
      // cold terms and nSalts(term) (× shards seen) for hot ones
      private val byTerm =
        new java.util.HashMap[String, java.util.HashMap[java.lang.Long, RunBuf]]()
      private var pending: Iterator[PostingRun] = Iterator.empty
      private def flush(): Iterator[PostingRun] = {
        val out = new ArrayBuffer[PostingRun](byTerm.size)
        val eit = byTerm.entrySet().iterator()
        while (eit.hasNext) {
          val e = eit.next()
          val git = e.getValue.entrySet().iterator()
          while (git.hasNext) {
            val g = git.next()
            out += encodeRun(g.getKey, e.getKey, g.getValue)
          }
        }
        byTerm.clear()
        out.iterator
      }
      // consume input until the flush threshold (bounding task state) or
      // end-of-partition, then stream that flush's runs out
      private def fill(): Unit = {
        var buffered = 0L
        while (it.hasNext && buffered < RunFlushPostings) {
          val pp = it.next()
          val nSalt = hotSalts.getOrElse(pp.term, 1)
          // mask the salt: rangeSalt of a NEGATIVE doc_id is negative, and
          // sign extension would overwrite the shard field (silently
          // merging hot-term postings across shards). All in-repo
          // producers mask doc_id non-negative, but saltedRuns is a
          // public API.
          val gk = (pp.shard.toLong << 32) |
            (rangeSalt(pp.doc_id, nSalt) & 0xFFFFFFFFL)
          var inner = byTerm.get(pp.term)
          if (inner == null) {
            inner = new java.util.HashMap[java.lang.Long, RunBuf](2)
            byTerm.put(pp.term, inner)
          }
          var buf = inner.get(gk)
          if (buf == null) { buf = new RunBuf(8); inner.put(gk, buf) }
          buf.add(pp.doc_id, (pp.tf.toLong << 32) | (pp.dl & 0xFFFFFFFFL))
          buffered += 1
        }
        pending = flush()
      }
      def hasNext: Boolean = {
        while (!pending.hasNext && it.hasNext) fill()
        pending.hasNext
      }
      def next(): PostingRun = {
        if (!hasNext) throw new NoSuchElementException
        pending.next()
      }
    }

  /** Reduce side: merge the doc_id-sorted runs of one (shard|salt, term)
    * group into one posting list and chunk it into blocks. The group is
    * held decoded and whole — at most ~saltThreshold postings for an
    * unsalted term, ~targetPerSalt for a salted one. This is the
    * byte-identical successor of the row-per-posting sorted shuffle (same
    * merge-equal-doc_ids-then-chunk semantics over the same globally sorted
    * stream). A single run is already sorted and merged (map side) and is
    * chunked as decoded — the common case for rare terms. Several runs are
    * concatenated and go through the map side's own sort-and-merge: runs
    * interleave doc_ids, and repeat one only when the caller fed duplicate
    * (term, doc) rows across partitions, which the merge sums exactly like
    * the old sorted shuffle did. */
  private def mergeRunsEncode(shard: Int, term: String, salt: Int,
                              runs: Array[PostingRun], blockSize: Int,
                              avgdl: Double): Iterator[PostingBlock] = {
    val merged =
      if (runs.length == 1) {
        val r = runs(0)
        Merged(VarByte.decodeDeltas(r.docs_vb, r.n), VarByte.decode(r.tfs_vb, r.n),
          VarByte.decode(r.dls_vb, r.n))
      } else {
        val buf = new RunBuf(runs.iterator.map(_.n).sum)
        for (r <- runs) {
          val docs = VarByte.decodeDeltas(r.docs_vb, r.n)
          val tfs = VarByte.decode(r.tfs_vb, r.n)
          val dls = VarByte.decode(r.dls_vb, r.n)
          var i = 0
          while (i < r.n) { buf.add(docs(i), (tfs(i) << 32) | dls(i)); i += 1 }
        }
        sortMerge(buf)
      }
    chunkBlocks(shard, term, salt, merged, blockSize, avgdl)
  }

  /** Chunk one merged, doc_id-sorted posting list into blocks of ≤
    * blockSize postings, each with its max tf and its max [[Bm25.tfSat]] —
    * the scorer's own function, so the stored bound is never below a score
    * the scorer computes for the block. */
  private def chunkBlocks(shard: Int, term: String, salt: Int, m: Merged,
                          blockSize: Int, avgdl: Double): Iterator[PostingBlock] =
    new Iterator[PostingBlock] {
      private var off = 0
      private var blockId = 0
      def hasNext: Boolean = off < m.docs.length
      def next(): PostingBlock = {
        val n = math.min(blockSize, m.docs.length - off)
        var maxTf = 0
        var maxSat = 0.0
        var i = off
        while (i < off + n) {
          val tf = m.tfs(i).toInt
          if (tf > maxTf) maxTf = tf
          val s = Bm25.tfSat(tf, m.dls(i).toInt, avgdl)
          if (s > maxSat) maxSat = s
          i += 1
        }
        val blk = PostingBlock(
          shard, term, salt, blockId,
          m.docs(off), m.docs(off + n - 1), n, maxTf, maxSat,
          VarByte.encodeDeltas(java.util.Arrays.copyOfRange(m.docs, off, off + n)),
          VarByte.encode(java.util.Arrays.copyOfRange(m.tfs, off, off + n)),
          VarByte.encode(java.util.Arrays.copyOfRange(m.dls, off, off + n)))
        off += n
        blockId += 1
        blk
      }
    }

  /** Salt hot terms, generate map-side sorted varbyte runs per (shard|salt,
    * term) (SPIMI, IIR §4.3), shuffle the RUNS, merge and chunk into
    * blocks at the reduce side. The salt bounds any single group's postings
    * to ~targetPerSalt regardless of term skew; keying by shard lets ONE
    * job process a whole wave of shards. Because the salt is a doc_id RANGE
    * (see [[rangeSalt]]), the emitted blocks of a term are globally
    * non-overlapping and need no downstream merge across salts: this one
    * shuffle is the entire postings build.
    *
    * Shuffle discipline (this exchange IS the build's wire cost at 100 TB):
    * the wire unit is one run per (term, salt) per map partition — the term
    * string travels once per RUN (not once per posting), doc_ids travel as
    * delta+varbyte gaps and tf/dl as varbyte ints (the same codec the final
    * blocks use). Measured at 300k docs / local[8]: 24.2M rows / 303 MiB
    * (row-per-posting sorted shuffle) → ~0.27M rows / ~59 MiB, and the
    * shuffle's sort machinery now orders run rows, not postings — the
    * per-posting sort runs as primitive-array quicksorts inside map tasks.
    * Block output is byte-identical (same per-(term,salt) doc_id-sorted
    * merged stream — asserted by IndexSpec against the old sorted-shuffle
    * path, kept in test scope as `ParityRefs.saltedRunsSortShuffle`). */
  def saltedRuns(tf: Dataset[ShardPosting], hotDf: Map[String, Long],
                 p: BuildParams, avgdl: Double): Dataset[PostingBlock] = {
    val spark = tf.sparkSession
    import spark.implicits._
    val hotSalts: Map[String, Int] = hotDf.map { case (t, df) =>
      t -> saltCount(df, p.targetPerSalt)
    }
    val bcHot = spark.sparkContext.broadcast(hotSalts)
    val blockSize = p.blockSize
    tf
      .mapPartitions(it => partitionRuns(it, bcHot.value))
      .groupByKey(r => (r.gk, r.term))
      .flatMapGroups { (key: (Long, String), it: Iterator[PostingRun]) =>
        mergeRunsEncode((key._1 >>> 32).toInt, key._2, key._1.toInt,
          it.toArray, blockSize, avgdl)
      }
  }
}
