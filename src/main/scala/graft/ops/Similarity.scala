package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`embeddings(vec_id,
  * embedding: array<float>, label)`).
  *
  * - [[cosineTopK]]: brute-force cosine top-k — the exactness baseline.
  *   The query side is tiny and broadcast; the candidate side streams, dot
  *   products are Column expressions (`zip_with` + `aggregate`, which
  *   Spark evaluates without codegen), ranking is per-query partial top-k.
  *   This is the plan shape that survives scale-up: broadcast Q × stream
  *   N, no N×N product.
  * - [[annBuckets]]: random-hyperplane LSH bucketing — the scale path. Each
  *   vector gets a small integer bucket; ANN probes only its own bucket
  *   (+ neighbors if recall demands). Hyperplanes are derived from MD5 hex
  *   digits so the oracle can reproduce them bit-exactly.
  * - [[annTopK]]: bucketed ANN = bucket equi-join + within-bucket cosine
  *   top-k.
  * - [[embeddingNearDups]]: one grouping per LSH bucket scores the
  *   bucket's own pairs on the JVM, bit-identical to the Column cosine.
  *
  * A zero-norm vector has no cosine: it forms no pair and ranks for no
  * query (the Column forms divide with `try_divide`).
  *
  * Determinism: dots are rounded to 6 dp before any ordering or sign
  * decision, so float summation order (which differs between engines and
  * between partitions) never changes a rank or a bucket.
  */
object Similarity {

  private def asDouble(emb: Column): Column = transform(emb, x => x.cast("double"))

  private[graft] def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  private[graft] def norm(a: Column): Column = sqrt(dot(a, a))

  /** `round(dot(a, b) / (norm(a) · norm(b)), 6)`, NULL where the cosine
    * does not exist: a zero-norm vector (the divisor is 0) or vectors of
    * unequal length (`zip_with` pads with NULL). */
  private def cos6(a: Column, b: Column): Column =
    round(try_divide(dot(a, b), norm(a) * norm(b)), 6)

  /** [[cos6]] on the JVM, bit for bit: the same left-to-right sums from
    * 0.0, the same division, and Spark `round`'s arithmetic (NaN and ±∞
    * pass through, else `BigDecimal.valueOf(..).setScale(6, HALF_UP)`).
    * None where [[cos6]] is NULL. */
  private[graft] def cosLocal(a: Array[Double], b: Array[Double]): Option[Double] =
    if (a.length != b.length) None
    else {
      def dotL(x: Array[Double], y: Array[Double]): Double = {
        var s = 0.0
        var i = 0
        while (i < x.length) { s += x(i) * y(i); i += 1 }
        s
      }
      val d = math.sqrt(dotL(a, a)) * math.sqrt(dotL(b, b))
      if (d == 0.0) None
      else {
        val c = dotL(a, b) / d
        Some(if (c.isNaN || c.isInfinite) c
          else java.math.BigDecimal.valueOf(c)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
      }
    }

  /** Exact top-k cosine neighbors for each query vector (vec_id < nQueries),
    * excluding self. Output: (query_id, rank, vec_id, cos). */
  def cosineTopK(emb: DataFrame, nQueries: Int = 5, k: Int = 10): DataFrame = {
    val e = emb.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", cos6(col("qv"), col("v")))
      .filter(col("cos").isNotNull) // no cosine: ranks for no query
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Deterministic pseudo-random hyperplanes: w(plane j, dim i) =
    * hexdigit(md5(j:i)) − 7.5 ∈ [−7.5, 7.5]. */
  def planes(spark: org.apache.spark.sql.SparkSession,
             nPlanes: Int = 8, dims: Int = 64): DataFrame =
    spark.range(nPlanes).toDF("j")
      .crossJoin(spark.range(1, dims + 1).toDF("i"))
      .withColumn("w",
        conv(md5(concat(col("j").cast("string"), lit(":"), col("i").cast("string"))
          .cast("binary")).substr(lit(1), lit(1)), 16, 10).cast("double") - 7.5)

  /** The relational form of [[annBuckets]] — the DuckDB oracle's shape and
    * the parity reference for the typed pass. */
  private[graft] def annBucketsColumnar(emb: DataFrame, nPlanes: Int = 8,
                                        dims: Int = 64): DataFrame = {
    val e = emb.select(col("vec_id"), posexplode(asDouble(col("embedding"))))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("i"), col("col").as("x"))
    e.join(broadcast(planes(emb.sparkSession, nPlanes, dims)), "i")
      .groupBy(col("vec_id"), col("j"))
      .agg(round(sum(col("x") * col("w")), 6).as("d"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("d") > 0,
        expr("shiftleft(cast(1 as bigint), cast(j as int))")).otherwise(0L))
        .as("bucket"))
  }

  /** Driver-side hyperplane weights — w(j)(i−1) = hexdigit(md5("j:i")) − 7.5,
    * the exact values [[planes]] computes relationally. */
  private[graft] def planesLocal(nPlanes: Int, dims: Int): Array[Array[Double]] = {
    val md = new Dedup.Md5Kernel
    val d = new Array[Byte](16)
    Array.tabulate(nPlanes, dims) { (j, i0) =>
      md.digest16(s"$j:${i0 + 1}".getBytes(java.nio.charset.StandardCharsets.UTF_8), d)
      ((d(0) >> 4) & 0xF) - 7.5
    }
  }

  /** Random-hyperplane LSH bucket per vector: bit j = (round(x·w_j, 6) > 0).
    * Output: (vec_id, bucket). Byte-identical to the relational form
    * (parity-tested) and ZERO-shuffle: a vector's bucket is a function
    * of its own components, so the explode + plane join + two aggregations
    * collapse into one map pass against a driver-computed weight table.
    * The dot product accumulates in ascending dimension order — the same
    * order the posexplode feeds the hash aggregate — and rounds with the
    * identical BigDecimal HALF_UP arithmetic Spark's `round` uses, so the
    * sign decisions are bit-identical. */
  def annBuckets(emb: DataFrame, nPlanes: Int = 8, dims: Int = 64): DataFrame = {
    import emb.sparkSession.implicits._
    val w = planesLocal(nPlanes, dims)
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.flatMap { case (id, v) =>
          // empty/null embeddings have no bucket (the explode emits no rows)
          if (v == null || v.isEmpty) Iterator.empty
          else {
            val n = math.min(dims, v.length)
            var bucket = 0L
            var j = 0
            while (j < nPlanes) {
              val wj = w(j)
              var s = 0.0
              var i = 0
              while (i < n) { s += v(i).toDouble * wj(i); i += 1 }
              val d = java.math.BigDecimal.valueOf(s)
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
              if (d > 0) bucket |= 1L << j
              j += 1
            }
            Iterator.single((id, bucket))
          }
        }
      }.toDF("vec_id", "bucket")
  }

  /** One typed pass emitting (vec_id, v: double vector, bucket) — the
    * fused form of `asDouble(embedding)` ⋈ [[annBuckets]]: the bucket
    * is a per-row function, so attaching it never needs the vec_id join
    * (one exchange per consumer gone). Same empty-vector absence and
    * bit-identical buckets as the unfused pair. */
  private[graft] def vectorsWithBuckets(emb: DataFrame, nPlanes: Int,
                                 dims: Int): DataFrame = {
    import emb.sparkSession.implicits._
    val w = planesLocal(nPlanes, dims)
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        it.flatMap { case (id, vf) =>
          if (vf == null || vf.isEmpty) Iterator.empty
          else {
            val v = new Array[Double](vf.length)
            var i = 0
            while (i < vf.length) { v(i) = vf(i).toDouble; i += 1 }
            val n = math.min(dims, v.length)
            var bucket = 0L
            var j = 0
            while (j < nPlanes) {
              val wj = w(j)
              var s = 0.0
              var k = 0
              while (k < n) { s += v(k) * wj(k); k += 1 }
              val d = java.math.BigDecimal.valueOf(s)
                .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
              if (d > 0) bucket |= 1L << j
              j += 1
            }
            Iterator.single((id, v, bucket))
          }
        }
      }.toDF("vec_id", "v", "bucket")
  }

  /** Bucketed ANN: per query (vec_id < nQueries), top-k by cosine among
    * candidates sharing the query's LSH bucket. Scale path: the join is on
    * bucket (shuffle-partitioned), never all-pairs. */
  def annTopK(emb: DataFrame, nQueries: Int = 5, k: Int = 10,
              nPlanes: Int = 8, dims: Int = 64): DataFrame = {
    val e = vectorsWithBuckets(emb, nPlanes, dims)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("bucket").as("qbucket"))
    val scored = e.join(broadcast(q),
      col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", cos6(col("qv"), col("v")))
      .filter(col("cos").isNotNull) // no cosine: ranks for no query
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** Embedding-cosine near-duplicate pairs within LSH buckets (vec analog of
    * Dedup.lshPairs): pairs (vec_a < vec_b) in the same bucket with cosine
    * ≥ threshold. One grouping per bucket collects (vec_id, v) and scores
    * its own pairs on the JVM ([[Buckets.pairs]], [[cosLocal]]) — no
    * self-join, and no interpreted higher-order-function arithmetic. A
    * zero-norm vector or a pair of unequal lengths has no cosine and forms
    * no pair. Buckets with more than `maxBucket` member rows are dropped
    * whole (same quadratic-output guard as Dedup.lshPairs, same
    * oracle-expressible QUALIFY cap). */
  def embeddingNearDups(emb: DataFrame, threshold: Double = 0.95,
                        nPlanes: Int = 8, dims: Int = 64,
                        maxBucket: Int = 50): DataFrame = {
    import emb.sparkSession.implicits._
    val groups = Buckets.capped[(Long, Array[Double])](
      vectorsWithBuckets(emb, nPlanes, dims), Seq(col("bucket")),
      Seq(col("vec_id"), col("v")), maxBucket)
    Buckets.pairs(groups)(_._1) { (a, b) =>
        // Spark orders NaN above every number, so NaN >= threshold holds
        cosLocal(a._2, b._2).filter(c => c.isNaN || c >= threshold)
          .map(c => (a._1, b._1, c))
      }
      .toDF("vec_a", "vec_b", "cos")
  }
}
