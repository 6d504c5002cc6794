package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

import scala.reflect.runtime.universe.TypeTag

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash groupBy), MinHash + LSH banding (shingle → minhash → band →
  * bucket join), SimHash, and token-shingle Jaccard — each with an exact
  * DuckDB oracle twin.
  *
  * Hashing is pluggable ([[HashMode]]): the default [[Md5Portable]] renders
  * every hash as hex MD5 (identical bytes → identical hex in any engine);
  * minima are taken lexicographically on the hex string, and numeric digests
  * are derived from hex digits via base-16 conversion, so no engine-specific
  * hash function leaks into results — which is what gives every operator an
  * exact DuckDB oracle. [[Xx64]] is the production Spark-only path:
  * xxhash64 (no MessageDigest, an order of magnitude cheaper per token at
  * 100 TB), rendered as zero-padded two's-complement hex so the column
  * schema and the min/band mechanics are identical — lexicographic order on
  * the padded hex IS unsigned-64 numeric order. The two modes give different
  * (both valid) signatures; oracle queries stay pinned to md5.
  *
  * Every signature op is one map-only typed pass over the doc's own tokens
  * (a signature never needs a (doc_id) aggregation), built on one per-task
  * hash [[Kernel]] chosen by the mode; MinHashSearch computes its query
  * signatures with the same functions on the driver. The Column forms the
  * DuckDB oracles mirror are the parity references in test scope, except
  * [[minhashColumnar]], which the frozen bench also times.
  *
  * Scale notes: everything else is groupBy/join on (doc_id | shingle |
  * band_hash) keys — shuffle-partitioned by key, no driver materialization;
  * LSH banding is exactly the "bucket join beats all-pairs" trick that makes
  * near-dup detection feasible at 10^12 docs (the all-pairs q_jaccard path
  * is restricted to pairs already sharing a shingle, i.e. an equi-join, not
  * a cross join).
  */
object Dedup {

  /** Hash implementation selector — see the object doc. */
  sealed trait HashMode
  /** Hex MD5 (DuckDB-oracle-portable; the default). */
  case object Md5Portable extends HashMode
  /** xxhash64 as zero-padded hex (production; no SQL twin). */
  case object Xx64 extends HashMode

  /** 16-hex-char digest of `c` under `mode`, lexicographically orderable in
    * both modes (md5 prefix / unsigned-64 padded hex). Xx64 renders via
    * lpad(hex(..)) — pure codegen'd string ops; format_string("%016x")
    * spins up a java.util.Formatter per row and measured SLOWER than md5. */
  private[graft] def hashHex(c: Column, mode: HashMode): Column = mode match {
    case Md5Portable => substring(md5(c.cast("binary")), 1, 16)
    case Xx64 => lower(lpad(hex(xxhash64(c)), 16, "0"))
  }

  private val UTF8 = java.nio.charset.StandardCharsets.UTF_8

  // ---- the hash kernel ---------------------------------------------------

  /** One task's hash state for a [[HashMode]]. Built per partition (and per
    * call on the driver): `MessageDigest` is neither serializable nor
    * thread-safe. An abstract class rather than a function value, so the
    * 64-bit result is never boxed. */
  private[ops] abstract class Kernel {
    /** Hash of `prefix ++ tok`, ordered as unsigned: the first 8 md5 bytes
      * big-endian (≡ the 16-hex-char md5 prefix) or XXH64(seed = 42), the
      * hash Spark's `xxhash64` computes. */
    def h64(prefix: Array[Byte], tok: Array[Byte]): Long

    /** The band/prefix hash of `bytes` as hex: the full 32-char md5, or the
      * 16-char padded xxhash64. */
    def hexDigest(bytes: Array[Byte]): String

    // "$sd:" and "$sd:$rep:" hash-input prefixes, cached for sd, rep < 64
    private val seedPre = new Array[Array[Byte]](64)
    private val repPre = Array.ofDim[Array[Byte]](64, 64)

    final def seedPrefix(sd: Int): Array[Byte] =
      if (sd >= 64) s"$sd:".getBytes(UTF8)
      else {
        if (seedPre(sd) == null) seedPre(sd) = s"$sd:".getBytes(UTF8)
        seedPre(sd)
      }

    final def repPrefix(sd: Int, rep: Int): Array[Byte] =
      if (sd >= 64 || rep >= 64) s"$sd:$rep:".getBytes(UTF8)
      else {
        if (repPre(sd)(rep) == null) repPre(sd)(rep) = s"$sd:$rep:".getBytes(UTF8)
        repPre(sd)(rep)
      }
  }

  private final class Md5Kernel extends Kernel {
    private val md = java.security.MessageDigest.getInstance("MD5")
    private val dig = new Array[Byte](16)

    def h64(prefix: Array[Byte], tok: Array[Byte]): Long = {
      md.reset(); md.update(prefix); md.update(tok); md.digest(dig, 0, 16)
      ((dig(0) & 0xFFL) << 56) | ((dig(1) & 0xFFL) << 48) | ((dig(2) & 0xFFL) << 40) |
        ((dig(3) & 0xFFL) << 32) | ((dig(4) & 0xFFL) << 24) | ((dig(5) & 0xFFL) << 16) |
        ((dig(6) & 0xFFL) << 8) | (dig(7) & 0xFFL)
    }

    def hexDigest(bytes: Array[Byte]): String = {
      md.reset(); md.update(bytes); md.digest(dig, 0, 16)
      hex32(dig)
    }
  }

  private final class Xx64Kernel extends Kernel {
    private var buf = new Array[Byte](64)

    private def xx(b: Array[Byte], len: Int): Long =
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)

    def h64(prefix: Array[Byte], tok: Array[Byte]): Long = {
      val len = prefix.length + tok.length
      if (buf.length < len) buf = new Array[Byte](len * 2)
      System.arraycopy(prefix, 0, buf, 0, prefix.length)
      System.arraycopy(tok, 0, buf, prefix.length, tok.length)
      xx(buf, len)
    }

    def hexDigest(bytes: Array[Byte]): String = hex16(xx(bytes, bytes.length))
  }

  private[ops] def kernel(mode: HashMode): Kernel = mode match {
    case Md5Portable => new Md5Kernel
    case Xx64 => new Xx64Kernel
  }

  /** Zero-padded lowercase 16-hex render — the exact bytes the Column forms
    * emit (md5-hex prefix / lpad(hex(xxhash64))). */
  private def hex16(h: Long): String = {
    val hx = java.lang.Long.toHexString(h)
    "0" * (16 - hx.length) + hx
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  /** Lowercase 32-hex render of a 16-byte digest. */
  private def hex32(d: Array[Byte]): String = {
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xF)
      out(2 * i + 1) = HexDigits(d(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  // ---- signature functions (doc passes and driver-side queries) ----------

  /** Per-seed minima of h64("$sd:" ++ token) over `toks`, as unsigned
    * longs (≡ lexicographic minima of their hex renders; min over duplicates
    * = min over the set). Null when there are no tokens: an empty doc has no
    * signature. */
  private[ops] def minima(toks: Array[String], nSeeds: Int, k: Kernel): Array[Long] =
    if (toks.isEmpty) null
    else {
      val mins = Array.fill(nSeeds)(-1L) // unsigned max
      var i = 0
      while (i < toks.length) {
        val tb = toks(i).getBytes(UTF8)
        var sd = 0
        while (sd < nSeeds) {
          val h = k.h64(k.seedPrefix(sd), tb)
          if (java.lang.Long.compareUnsigned(h, mins(sd)) < 0) mins(sd) = h
          sd += 1
        }
        i += 1
      }
      mins
    }

  /** tf-weighted minima: [[minima]] over the multiset {(term, rep) : rep <
    * tf(term)} with hash input "$sd:$rep:$term". Null for an empty doc. */
  private def weightedMinima(tf: java.util.HashMap[String, Integer], nSeeds: Int,
                             k: Kernel): Array[Long] =
    if (tf.isEmpty) null
    else {
      val mins = Array.fill(nSeeds)(-1L) // unsigned max
      val e = tf.entrySet().iterator()
      while (e.hasNext) {
        val ent = e.next()
        val tb = ent.getKey.getBytes(UTF8)
        val n = ent.getValue.intValue()
        var rep = 0
        while (rep < n) {
          var sd = 0
          while (sd < nSeeds) {
            val h = k.h64(k.repPrefix(sd, rep), tb)
            if (java.lang.Long.compareUnsigned(h, mins(sd)) < 0) mins(sd) = h
            sd += 1
          }
          rep += 1
        }
      }
      mins
    }

  /** Band hashes of a signature, indexed by band: band b hashes the
    * comma-join of the hex minima of seeds [b·rowsPerBand, (b+1)·rowsPerBand)
    * in seed order (the last band may be short). */
  private[ops] def bands(mins: Array[Long], rowsPerBand: Int, k: Kernel): Array[String] = {
    val hx = mins.map(hex16)
    Array.tabulate((mins.length + rowsPerBand - 1) / rowsPerBand) { b =>
      k.hexDigest(hx.slice(b * rowsPerBand, (b + 1) * rowsPerBand)
        .mkString(",").getBytes(UTF8))
    }
  }

  /** Signature prefix hashes, indexed by depth r − 1 for r = 1..nSeeds: the
    * hash of the comma-join of the hex minima of seeds 0..r−1 (the LSH
    * forest's prefix tree, one hash per depth). */
  private[ops] def prefixHashes(mins: Array[Long], k: Kernel): Array[String] = {
    val sb = new java.lang.StringBuilder(mins.length * 17)
    Array.tabulate(mins.length) { r =>
      if (r > 0) sb.append(',')
      sb.append(hex16(mins(r)))
      k.hexDigest(sb.toString.getBytes(UTF8))
    }
  }

  // ---- per-doc helpers ---------------------------------------------------

  /** The doc's non-empty space-separated tokens (null text → none). */
  private def tokens(text: String): Array[String] =
    if (text == null) Array.empty[String]
    else {
      val t = text.split(' ')
      if (t.exists(_.isEmpty)) t.filter(_.nonEmpty) else t
    }

  /** Per-doc term frequencies. */
  private def termFreqs(toks: Array[String]): java.util.HashMap[String, Integer] = {
    val tf = new java.util.HashMap[String, Integer]()
    toks.foreach(t => tf.merge(t, 1, (a: Integer, b: Integer) => a + b))
    tf
  }

  /** The doc's n-token windows joined by single spaces, in order. */
  private def windows(toks: Array[String], n: Int): Iterator[String] = {
    val sb = new java.lang.StringBuilder(64)
    (0 to toks.length - n).iterator.map { i =>
      sb.setLength(0)
      var j = i
      while (j < i + n) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      sb.toString
    }
  }

  /** One map-only pass over (doc_id, text): `init` builds the per-task
    * state once per partition, `f` emits each doc's rows, named `cols`. */
  private def docPass[S, T <: Product : TypeTag](docs: DataFrame, cols: String*)(
      init: => S)(f: (S, Long, String) => Iterator[T]): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val s = init
        it.flatMap { case (id, text) => f(s, id, text) }
      }(Encoders.product[T])
      .toDF(cols: _*)
  }

  /** (doc_id, seed, minhash) rows of a signature. */
  private def sigRows(id: Long, mins: Array[Long]): Iterator[(Long, Long, String)] =
    if (mins == null) Iterator.empty
    else mins.indices.iterator.map(sd => (id, sd.toLong, hex16(mins(sd))))

  // ---- operators ---------------------------------------------------------

  /** Exact dedup groups: content hash → group size + canonical (min) id.
    *
    * Both modes key on a 128-bit digest: EXACT dedup merges groups by hash
    * equality alone, and a single 64-bit key collides ~10^4 times by
    * birthday at the 10^12-doc design point — each collision silently
    * dropping a distinct document. The Xx64 key is therefore two
    * independent 64-bit streams (xxhash64 of the text and of its reverse —
    * the Column API pins the seed, so the second stream comes from the
    * reversed input), concatenated to the same 32-hex width as md5. */
  def exact(docs: DataFrame, hash: HashMode = Md5Portable): DataFrame = {
    val h = hash match {
      case Md5Portable => md5(col("text").cast("binary")) // full 32-hex digest (pinned oracle shape)
      case Xx64 => concat(hashHex(col("text"), Xx64),
        lower(lpad(hex(xxhash64(reverse(col("text")))), 16, "0")))
    }
    docs.groupBy(h.as("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
  }

  /** Per-(doc, seed) MinHash: min over tokens of hash("$sd:$token"), as
    * 16-hex strings; empty docs have no signature. Zero-shuffle, and only
    * the nSeeds winners are rendered as hex — the Column form renders one
    * string per (token × seed) and takes `array_min` over strings (measured
    * 15× slower for xx64 at 300k pages). */
  def minhash(docs: DataFrame, nSeeds: Int = 8,
              hash: HashMode = Md5Portable): DataFrame =
    docPass(docs, "doc_id", "seed", "minhash")(kernel(hash)) { (k, id, text) =>
      sigRows(id, minima(tokens(text), nSeeds, k))
    }

  /** The Column-function form of [[minhash]] — the md5 oracle shape and
    * the parity reference; the frozen bench times its xx64 form. */
  private[graft] def minhashColumnar(docs: DataFrame, nSeeds: Int = 8,
                                     hash: HashMode = Md5Portable): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val minima = (0 until nSeeds).map { sd =>
      array_min(transform(col("toks"),
        t => hashHex(concat(lit(s"$sd:"), t), hash)))
    }
    docs.select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 0) // empty docs have no signature
      .select(col("doc_id"), posexplode(array(minima: _*)))
      .select(col("doc_id"), col("pos").cast("long").as("seed"),
        col("col").as("minhash"))
  }

  /** The LSH-forest prefix relation (doc_id, r, ph), r = 1..nSeeds, ph =
    * md5 of the comma-joined md5 minima of seeds 0..r−1 ([[prefixHashes]]).
    * Zero-shuffle: prefixes are a function of the doc's own signature. */
  def minhashPrefixes(docs: DataFrame, nSeeds: Int = 8): DataFrame =
    docPass(docs, "doc_id", "r", "ph")(kernel(Md5Portable)) { (k, id, text) =>
      val mins = minima(tokens(text), nSeeds, k)
      if (mins == null) Iterator.empty
      else prefixHashes(mins, k).iterator.zipWithIndex
        .map { case (ph, r) => (id, r + 1L, ph) }
    }

  /** LSH bands over the minhash signature (doc_id, band, band_hash):
    * rows-per-band = 2, band hash = hash of the band's hex minima joined in
    * seed order ([[bands]]) — full md5 in Md5Portable mode, padded xxhash64
    * in Xx64. Zero-shuffle: a doc's bands are a function of its signature. */
  def lshBands(docs: DataFrame, nSeeds: Int = 8, rowsPerBand: Int = 2,
               hash: HashMode = Md5Portable): DataFrame =
    docPass(docs, "doc_id", "band", "band_hash")(kernel(hash)) { (k, id, text) =>
      val mins = minima(tokens(text), nSeeds, k)
      if (mins == null) Iterator.empty
      else bands(mins, rowsPerBand, k).iterator.zipWithIndex
        .map { case (bh, b) => (id, b.toLong, bh) }
    }

  /** Candidate near-dup pairs: docs sharing any band bucket.
    *
    * Bucket-size cap (the 100 TB guard): a bucket of m members emits m²/2
    * pairs, so one degenerate mega-bucket (e.g. the empty-ish-doc band) makes
    * the output quadratic in corpus size. Buckets with more than `maxBucket`
    * members are dropped whole before the self-join — at that size the bucket
    * carries no near-dup signal anyway (it's a collision cluster), and the
    * cap makes the operator's output linear in the input. Deterministic and
    * SQL-expressible (QUALIFY count(*) OVER bucket <= cap), so the oracle
    * applies the identical cap. */
  def lshPairs(docs: DataFrame, nSeeds: Int = 8, rowsPerBand: Int = 2,
               maxBucket: Int = 50, hash: HashMode = Md5Portable): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_hash"))
    val bands = lshBands(docs, nSeeds, rowsPerBand, hash)
      .withColumn("bn", count(lit(1)).over(w))
      .filter(col("bn") <= maxBucket)
    val a = bands.select(col("band").as("band_a"), col("band_hash").as("bh_a"),
      col("doc_id").as("doc_a"))
    val b = bands.select(col("band").as("band_b"), col("band_hash").as("bh_b"),
      col("doc_id").as("doc_b"))
    a.join(b, col("band_a") === col("band_b") && col("bh_a") === col("bh_b") &&
        col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  /** 32-bit SimHash from MD5 hex digits: for hex position p (1..8) and bit
    * j (0..3), the signed tf-weighted bit vote decides the output bit.
    * One map-only pass (votes accumulated in a 32-slot array), integer
    * end-to-end; the relational form the oracle mirrors costs two shuffles. */
  def simhash(docs: DataFrame): DataFrame =
    docPass(docs, "doc_id", "simhash")(
        java.security.MessageDigest.getInstance("MD5")) { (md, id, text) =>
      val tf = termFreqs(tokens(text))
      if (tf.isEmpty) Iterator.empty
      else {
        val votes = new Array[Long](32)
        tf.forEach { (t, n) =>
          md.reset()
          val dig = md.digest(t.getBytes(UTF8))
          // hex digit p (0-based 0..7) = nibble of byte p/2, high first —
          // exactly substr(md5hex, p+1, 1) of the relational form
          var p = 0
          while (p < 8) {
            val b = dig(p / 2) & 0xFF
            val v = if (p % 2 == 0) b >>> 4 else b & 0xF
            var j = 0
            while (j < 4) {
              votes(p * 4 + j) += n.longValue * (((v >> j) & 1) * 2 - 1)
              j += 1
            }
            p += 1
          }
        }
        var sim = 0L
        var b = 0
        while (b < 32) { if (votes(b) > 0) sim |= 1L << b; b += 1 }
        Iterator.single((id, sim))
      }
    }

  /** Distinct token n-gram shingles per doc (doc_id, shingle), one map-only
    * pass with a per-doc de-duplicating set. The relational 3-way self-join
    * form lives only in the DuckDB oracle (SparkEntry SH), which is exactly
    * the cross-engine check that this pass emits the same shingle set. */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    docPass(docs, "doc_id", "shingle")(()) { (_, id, text) =>
      val seen = new java.util.HashSet[String]()
      windows(tokens(text), n).filter(seen.add).map(s => (id, s))
    }

  /** n-gram Jaccard near-dup pairs (≥ threshold), via shingle equi-join —
    * never an all-pairs product.
    *
    * Hot-shingle cap (the 100 TB guard, same trade as [[lshPairs]]'s bucket
    * cap): a shingle appearing in m docs emits m²/2 join rows, so ONE
    * boilerplate trigram ("click here to", a license header line) shared by
    * the whole corpus makes the output quadratic in corpus size. Shingles
    * with df > `maxDf` are dropped from the shingle universe BEFORE both
    * the join and the per-doc set sizes: Jaccard is then estimated over the
    * non-boilerplate shingles — the standard dedup trade (pairs that only
    * share boilerplate stop matching; genuinely similar pairs still match
    * on their distinctive shingles). Deterministic and QUALIFY-expressible,
    * so the DuckDB oracle applies the identical cap. The threshold
    * predicate is a ratio of integers, so it is bit-deterministic across
    * engines. */
  def jaccardPairs(docs: DataFrame, threshold: Double = 0.2,
                   maxDf: Int = 50): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))
    val sh = shingles(docs)
      .withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= maxDf).drop("df")
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jac_raw", col("i") * lit(1.0) / (col("na") + col("nb") - col("i")))
      .filter(col("jac_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jac_raw"), 6).as("jaccard"))
  }

  /** Document fingerprint: lexicographic min MD5 over the doc's 3-token
    * shingles (a winnowing-style fingerprint, window = whole doc). Zero
    * shuffle: the shingle strings never leave the map task. */
  def fingerprint(docs: DataFrame): DataFrame = {
    val n = 3
    docPass(docs, "doc_id", "fingerprint")(
        java.security.MessageDigest.getInstance("MD5")) { (md, id, text) =>
      val toks = tokens(text)
      if (toks.length < n) Iterator.empty
      else {
        val dig = new Array[Byte](16)
        val best = new Array[Byte](16)
        var anyBest = false
        windows(toks, n).foreach { s =>
          md.reset(); md.update(s.getBytes(UTF8)); md.digest(dig, 0, 16)
          // unsigned lexicographic digest compare ≡ hex-string min
          var cmp = 0
          var j = 0
          while (cmp == 0 && j < 16) {
            cmp = (dig(j) & 0xFF) - (if (anyBest) best(j) & 0xFF else 0x100)
            j += 1
          }
          if (cmp < 0) { System.arraycopy(dig, 0, best, 0, 16); anyBest = true }
        }
        Iterator.single((id, hex32(best)))
      }
    }
  }

  // --- tf-weighted MinHash ---------------------------------------------

  /** tf-WEIGHTED MinHash signature — the Spark-native analog of the
    * reference's datasketch WeightedMinHash index (index/index.py:30-60;
    * there the weights came from the out-of-scope NN encoder, here the
    * natural corpus weights are term frequencies). Uses integer-weight
    * replication: a doc is the multiset {(term, rep) : 0 ≤ rep < tf(term)},
    * and plain MinHash over that expanded set estimates the WEIGHTED
    * Jaccard  J_w(A,B) = Σ_t min(tf_A,tf_B) / Σ_t max(tf_A,tf_B)  exactly
    * (for integer weights the expansion IS the multiset union/intersection).
    * Hash input is "$seed:$rep:$term" — the two numeric prefixes make the
    * encoding prefix-free, so distinct (seed, rep, term) triples never
    * collide as strings.
    *
    * Scale: total replicated hashes per doc = Σ_t tf = doc length, i.e. the
    * SAME work as unweighted [[minhash]] does over token instances — the
    * weighting is free. One zero-shuffle pass (tf from a per-doc map), where
    * the Column form pays two shuffles. Output shape matches [[minhash]]:
    * (doc_id, seed, minhash); empty docs have no signature. */
  def weightedMinhash(docs: DataFrame, nSeeds: Int = 8,
                      hash: HashMode = Md5Portable): DataFrame =
    docPass(docs, "doc_id", "seed", "minhash")(kernel(hash)) { (k, id, text) =>
      sigRows(id, weightedMinima(termFreqs(tokens(text)), nSeeds, k))
    }

  /** Weighted-Jaccard near-dup pairs from [[weightedMinhash]] signatures:
    * candidates are docs sharing any (seed, minhash) bucket (the
    * reference's l=1 LSH-forest probe shape, index/index.py:31-33), the
    * estimate is the agreeing-seed fraction — an unbiased estimator of the
    * weighted Jaccard. Bucket-size cap = the same 100 TB quadratic-output
    * guard as [[lshPairs]]; the agreement join costs nSeeds rows per
    * candidate pair, linear in the candidate set. The threshold predicate
    * compares agree/nSeeds, a ratio of small integers — bit-deterministic
    * across engines. */
  def weightedJaccardPairs(docs: DataFrame, threshold: Double = 0.25,
                           nSeeds: Int = 8, maxBucket: Int = 50,
                           hash: HashMode = Md5Portable): DataFrame = {
    val sig = weightedMinhash(docs, nSeeds, hash)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("seed"), col("minhash"))
    val capped = sig.withColumn("bn", count(lit(1)).over(w))
      .filter(col("bn") <= maxBucket)
    val cand = capped.select(col("seed"), col("minhash"), col("doc_id").as("doc_a"))
      .join(capped.select(col("seed"), col("minhash"), col("doc_id").as("doc_b")),
        Seq("seed", "minhash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("seed"),
        col("minhash").as("ma")), Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("seed"),
        col("minhash").as("mb")), Seq("doc_b", "seed"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(when(col("ma") === col("mb"), 1L).otherwise(0L)).as("agree"))
      .withColumn("wjac_est", col("agree") * lit(1.0) / nSeeds)
      .filter(col("wjac_est") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("wjac_est"), 6).as("wjaccard"))
  }
}
