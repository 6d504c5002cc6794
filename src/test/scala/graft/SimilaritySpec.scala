package graft

import graft.ops.Similarity

/** Parity coverage for the typed ANN bucket pass (annBuckets) against the
  * relational Column form the DuckDB oracle mirrors. */
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
}
