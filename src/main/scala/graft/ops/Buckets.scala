package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Candidate pairs from bucket groups — the shared step of the near-dup
  * operators ([[Dedup.lshPairs]], [[Dedup.jaccardPairs]],
  * [[Dedup.weightedJaccardPairs]], [[Similarity.embeddingNearDups]]).
  *
  * A bucket's pairs are generated (and verified) by the bucket's own
  * group, so no self-join is needed: one `groupBy(key)` collecting the
  * members with a capped list aggregate ([[CappedList]], which has a
  * map-side partial aggregate and never holds more than the cap), then a
  * typed `flatMap` over the sorted members. The result is row-for-row the
  * `a.id < b.id` self-join over the rows of the kept buckets (a
  * window-count cap, then the join).
  */
private[ops] object Buckets {

  /** `collect_list` bounded by the cap: the buffer counts the group's rows
    * and holds its members only while that count is at most `maxBucket`,
    * so a degenerate mega-bucket costs a counter, not an array of all of
    * its members. A group over the cap finishes with no members. */
  private[ops] final class CappedList[M: ClassTag](maxBucket: Int,
                                                  members: Encoder[Array[M]])
      extends Aggregator[M, (Long, Array[M]), Array[M]] {
    private val none = Array.empty[M]
    def zero: (Long, Array[M]) = (0L, none)
    def reduce(b: (Long, Array[M]), m: M): (Long, Array[M]) =
      if (b._1 >= maxBucket) (b._1 + 1, none) else (b._1 + 1, b._2 :+ m)
    def merge(x: (Long, Array[M]), y: (Long, Array[M])): (Long, Array[M]) = {
      val n = x._1 + y._1
      (n, if (n > maxBucket) none else x._2 ++ y._2)
    }
    def finish(b: (Long, Array[M])): Array[M] = b._2
    def bufferEncoder: Encoder[(Long, Array[M])] =
      Encoders.tuple(Encoders.scalaLong, members)
    def outputEncoder: Encoder[Array[M]] = members
  }

  /** The member lists of the buckets of `rows` keyed by `key`, one row
    * per kept bucket; a member is built from the `member` columns (one per
    * field of `M`, or the one column of a scalar `M`). Buckets with more
    * than `maxBucket` member rows are dropped whole (the quadratic-output
    * guard): the cap counts rows, as `count(*) OVER (PARTITION BY key)`
    * does. */
  def capped[M: ClassTag](rows: DataFrame, key: Seq[Column], member: Seq[Column],
                          maxBucket: Int)(
      implicit m: Encoder[M], members: Encoder[Array[M]]): Dataset[Array[M]] =
    rows.groupBy(key: _*)
      .agg(udaf(new CappedList[M](maxBucket, members), m)(member: _*).as("members"))
      .filter(size(col("members")) > 0)
      .select(col("members")).as[Array[M]]

  /** `pair(a, b)` for every two member rows `a`, `b` of a bucket of
    * `groups` ([[capped]]) with `id(a) < id(b)`: one call per row pair, as
    * the self-join matches them (rows of equal id form no pair; a pair
    * sharing several buckets is met once per bucket). */
  def pairs[M, T](groups: Dataset[Array[M]])(id: M => Long)(
      pair: (M, M) => Option[T])(implicit out: Encoder[T]): Dataset[T] =
    groups.flatMap { ms0 =>
      val ms = ms0.sortBy(id)
      val n = ms.length
      Iterator.range(0, n).flatMap { i =>
        val a = ms(i)
        val ia = id(a)
        Iterator.range(i + 1, n).flatMap { j =>
          val b = ms(j)
          if (id(b) > ia) pair(a, b) else None
        }
      }
    }
}
