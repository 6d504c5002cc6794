package perfbench

import org.apache.spark.sql.SparkSession

import graft.data.Synth
import graft.query.Bm25

/** Every generated input of a run derives from the one `--seed`: the corpus
  * (through `Synth` with a seed-derived corpus seed), the query mixes and
  * the append batches. The engine only ever sees the generated inputs. The
  * ops workload's tables are fixed (perfbench/data/sf0.1). */
final class Inputs(val seed: Long) {

  /** Independent sub-seed per purpose, so changing one mix never shifts
    * another. */
  def sub(tag: Long): Long = Synth.mix64(seed ^ Synth.mix64(tag))

  val corpusSeed: Long = sub(1) & 0xFFFFFFFFL

  private final class Rng(s0: Long) {
    private var s = s0
    def next(): Long = { s = Synth.mix64(s); s }
    def u01(): Double = ((next() >>> 11).toDouble) / (1L << 53).toDouble
    def int(lo: Int, hi: Int): Int = lo + ((next() >>> 1) % (hi - lo + 1)).toInt
  }

  /** Zipf 1–4-term serving queries over the Synth vocabulary (the same
    * 1/rank law the corpus is drawn from), led by the 10 planted reference
    * titles. */
  def serveQueries(n: Int): IndexedSeq[String] = {
    val r = new Rng(sub(2))
    val zipf = (0 until math.max(0, n - Synth.refTitles.length)).map { _ =>
      val k = r.int(1, 4)
      (0 until k).map { _ =>
        val rank = math.min(math.max(math.pow(Synth.VocabSize.toDouble, r.u01()).toInt, 1),
          Synth.VocabSize)
        Synth.word(rank)
      }.mkString(" ")
    }
    (Synth.refTitles.toIndexedSeq ++ zipf).take(n)
  }

  /** The five query shapes of the frozen Bench's block-max WAND probe,
    * with seeded terms: 0 rare+hot (the content terms of a planted
    * reference title, which occur in one doc, plus w1 or w2), 1 all-hot,
    * 2 mid-df mix, 3 rare+hot+mid (one planted term), 4 mid+high.
    * Returned as (shape, query), cycling through the shapes. */
  def wandQueries(n: Int): IndexedSeq[(Int, String)] = {
    val r = new Rng(sub(3))
    def w(lo: Int, hi: Int) = Synth.word(r.int(lo, hi))
    def hot() = Seq("w1", "w2", "w3", "the0")(r.int(0, 3))
    def planted(): Seq[String] = {
      val ts = Bm25.queryTerms(Synth.refTitles(r.int(0, Synth.refTitles.length - 1))).map(_.term)
      if (ts.nonEmpty) ts else planted()
    }
    (0 until n).map { i =>
      val shape = i % 5
      val q = shape match {
        case 0 => planted() :+ Synth.word(r.int(1, 2))
        case 1 => Seq("w1", "w2", "w3", "the0").patch(r.int(0, 3), Nil, 1)
        case 2 => Seq(w(10, 30), w(30, 80), w(80, 200), w(200, 400))
        case 3 => { val p = planted(); Seq(p(r.int(0, p.length - 1)), hot(), w(50, 150)) }
        case _ => Seq(w(5, 10), w(15, 30), w(35, 60), w(150, 300))
      }
      (shape, q.mkString(" "))
    }
  }

  /** Pages of one append batch: fresh row ids after the base corpus, so
    * every appended URL (hence doc id) is new. */
  def appendBatch(spark: SparkSession, baseDocs: Long, batch: Int, size: Int) = {
    import spark.implicits._
    val from = baseDocs + batch.toLong * size
    val cs = corpusSeed
    spark.range(from, from + size, 1L, 4).mapPartitions(_.map(i => Synth.genRow(cs, i)))
  }
}
