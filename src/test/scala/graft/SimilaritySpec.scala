package graft

import graft.index.ParityRefs
import graft.ops.Similarity

/** Parity coverage for the typed ANN bucket pass (annBuckets) against the
  * relational Column form the DuckDB oracle mirrors, and for the grouped
  * embedding near-dup pairs against their self-join form. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("annBuckets matches the relational form on testdata and adversarial vectors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val fast = Similarity.annBuckets(emb)
      .as[(Long, Long)].collect().sorted.toSeq
    val col = Similarity.annBucketsColumnar(emb)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(fast == col, "annBuckets diverged on the testdata")

    // adversarial: empty vector (must be absent), short vector, zero
    // vector (all d = 0 -> bucket 0 but PRESENT), near-boundary values
    val adv = Seq(
      (1L, Array.empty[Float]),
      (2L, Array(0.25f, -0.5f)),
      (3L, Array.fill(64)(0.0f)),
      (4L, Array.tabulate(64)(i => if (i % 2 == 0) 1e-7f else -1e-7f)),
      (5L, Array.tabulate(64)(i => (i - 32).toFloat))
    ).toDF("vec_id", "embedding")
    val fa = Similarity.annBuckets(adv)
      .as[(Long, Long)].collect().sorted.toSeq
    val ca = Similarity.annBucketsColumnar(adv)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(fa == ca, s"adversarial divergence: fast=$fa col=$ca")
    assert(!fa.exists(_._1 == 1L), "empty vector must have no bucket")
    assert(fa.exists(r => r._1 == 3L && r._2 == 0L),
      "zero vector must be present with bucket 0")
  }

  /** (vec_a, vec_b, bits of cos) rows, sorted. */
  private def pairRows(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2, java.lang.Double.doubleToRawLongBits(r._3)))
      .sorted.toSeq

  test("embeddingNearDups equals its self-join form, cos bit for bit, on " +
    "generated vectors and adversarial buckets") {
    def parity(emb: org.apache.spark.sql.DataFrame, ctx: String, t: Double,
               nPlanes: Int, maxBucket: Int): Seq[(Long, Long, Long)] = {
      val got = pairRows(Similarity.embeddingNearDups(emb, t, nPlanes, 64, maxBucket))
      val want = pairRows(ParityRefs.embeddingNearDupsSelfJoin(emb, t, nPlanes, 64, maxBucket))
      assert(got == want, s"[$ctx] diverged: got ${got.size} rows, want ${want.size}")
      got
    }
    val testdata = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assert(parity(testdata, "testdata", 0.2, 8, 50).nonEmpty)

    // seeded vectors: few planes (so buckets fill and caps bite), some
    // vectors one component longer (no cosine with the rest), duplicate
    // vec_id rows
    for (seed <- Seq(11L, 12L)) {
      val rnd = new scala.util.Random(seed)
      val vs = (0 until 120).map { i =>
        val dim = if (i % 13 == 0) 5 else 4
        val id = if (i % 19 == 7) (i - 1 - rnd.nextInt(3)).toLong else i.toLong
        (id, Array.fill(dim)((rnd.nextInt(2001) - 1000) / 250.0f))
      }.toDF("vec_id", "embedding")
      for ((t, planes, cap) <- Seq((-1.0, 2, 50), (0.5, 2, 50), (0.2, 3, 20)))
        parity(vs, s"seed $seed t $t planes $planes cap $cap", t, planes, cap)
    }

    // adversarial, one bucket (no planes), cap 4
    val e1 = Array(1f) ++ Array.fill(8)(0f)
    // |b| = 128 exactly, so cos(e1, b) = 61/128 = 0.4765625: a 6-dp half
    // tie that HALF_UP rounds to 0.476563
    val tie = Array(61f, -13f, 41f, 7f, 55f, 43f, -25f, 9f, 72f)
    val c = Similarity.cosLocal(e1.map(_.toDouble), tie.map(_.toDouble))
    assert(c.contains(0.476563), s"half tie rounded to $c")
    val pair = parity(Seq((1L, e1), (2L, tie)).toDF("vec_id", "embedding"), "half tie", 0.0, 0, 4)
    assert(pair.map(r => java.lang.Double.longBitsToDouble(r._3)) == Seq(0.476563))
    // exactly the cap (kept) and one over (dropped)
    val four = (10L to 13L).map(_ -> tie).toDF("vec_id", "embedding")
    assert(parity(four, "cap", 0.9, 0, 4).size == 6)
    val five = (10L to 14L).map(_ -> tie).toDF("vec_id", "embedding")
    assert(parity(five, "cap + 1", 0.9, 0, 4).isEmpty)
    // duplicate vec_id rows: no self-pair, each row pairs on its own
    val dup = Seq(20L -> tie, 20L -> e1, 21L -> tie).toDF("vec_id", "embedding")
    assert(parity(dup, "duplicate rows", -1.0, 0, 4).map(r => (r._1, r._2)) ==
      Seq((20L, 21L), (20L, 21L)))
    // unequal lengths: no cosine
    val ragged = Seq(30L -> tie, 31L -> (tie :+ 1f)).toDF("vec_id", "embedding")
    assert(parity(ragged, "unequal lengths", -1.0, 0, 4).isEmpty)
  }

  test("a zero-norm vector has no cosine: no pair, no rank, no error") {
    val rnd = new scala.util.Random(5L)
    val vs = Seq((0L, Array.fill(8)(0f)), (1L, Array.fill(8)(0f))) ++
      (2 until 40).map(i => (i.toLong, Array.fill(8)(rnd.nextFloat() - 0.5f))) :+
      (40L, Array.fill(8)(0.25f))
    val emb = vs.toDF("vec_id", "embedding")
    // the zero vectors share bucket 0 (every plane dot is 0), with room
    val nd = Similarity.embeddingNearDups(emb, -1.0, 2, 64, 50)
      .as[(Long, Long, Double)].collect()
    assert(nd.nonEmpty)
    assert(!nd.exists(r => r._1 <= 1L || r._2 <= 1L), "a zero vector formed a pair")
    for (res <- Seq(Similarity.cosineTopK(emb, nQueries = 3, k = 50),
                    Similarity.annTopK(emb, nQueries = 3, k = 50, nPlanes = 2))) {
      val rows = res.as[(Long, Long, Long, Double)].collect()
      assert(rows.forall(_._1 == 2L), s"only query 2 has a cosine: ${rows.take(3).toSeq}")
      assert(rows.nonEmpty && !rows.exists(_._3 <= 1L))
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length.toLong))
    }
  }
}
