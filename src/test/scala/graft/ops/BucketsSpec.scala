package graft.ops

import org.apache.spark.sql.Encoders
import org.scalatest.funsuite.AnyFunSuite

class BucketsSpec extends AnyFunSuite {

  private val cap = 5
  private def agg = new Buckets.CappedList[Long](cap, Encoders.kryo[Array[Long]])

  test("capped list: a bucket's buffer never holds more than the cap") {
    val a = agg
    var b = a.zero
    for (m <- 1L to 10000L) {
      b = a.reduce(b, m)
      assert(b._1 == m)
      assert(b._2.toSeq == (if (m <= cap) (1L to m) else Nil))
    }
    assert(a.finish(b).isEmpty)
  }

  test("capped list: merged partial buffers keep a bucket of the cap, drop one over it") {
    val a = agg
    def part(ms: Seq[Long]) = ms.foldLeft(a.zero)(a.reduce)
    val kept = a.merge(part(Seq(1L, 2L, 3L)), part(Seq(4L, 5L)))
    assert(kept._1 == cap && a.finish(kept).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    val over = a.merge(kept, part(Seq(6L)))
    assert(over._1 == cap + 1 && a.finish(over).isEmpty)
    // once over, no further merge or row brings members back
    assert(a.finish(a.merge(over, a.zero)).isEmpty)
    assert(a.finish(a.reduce(a.merge(a.zero, over), 7L)).isEmpty)
    assert(a.merge(part(Seq(1L, 2L, 3L, 4L)), part(Seq(5L, 6L)))._2.isEmpty)
  }
}
