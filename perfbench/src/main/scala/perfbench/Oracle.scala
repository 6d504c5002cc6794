package perfbench

import scala.collection.mutable

import graft.core.TextExtract
import graft.data.Synth
import graft.index.IndexBuild
import graft.query.Bm25

/** Driver-side brute-force BM25 over the generated pages, independent of the
  * engine's index, compression, pruning and aggregation (it shares only the
  * tokenizer and the two scoring formulas). Docs are held in chunks — the
  * base corpus, then one chunk per appended segment — so a query can be
  * scored against exactly the snapshot its handle saw. Only the postings of
  * the terms the run will query are kept. */
final class Oracle(terms: Set[String]) {

  private final case class Chunk(nDocs: Long, sumDl: Long,
                                 postings: Map[String, Array[(Long, Int, Int)]])

  private val chunks = mutable.ArrayBuffer.empty[Chunk]

  /** Adds rows [from, until) of the Synth corpus with `corpusSeed`. */
  def addChunk(corpusSeed: Long, from: Long, until: Long): Unit = {
    var n = 0L
    var sumDl = 0L
    val acc = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Int, Int)]]
    var i = from
    while (i < until) {
      val p = Synth.genRow(corpusSeed, i)
      val toks = TextExtract.tokenizeFull(TextExtract.cleanText(p.text))
      if (toks.nonEmpty) {
        n += 1; sumDl += toks.length
        val id = IndexBuild.docId(p.url)
        toks.filter(terms.contains).groupBy(identity).foreach { case (t, xs) =>
          acc.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((id, xs.length, toks.length))
        }
      }
      i += 1
    }
    chunks += Chunk(n, sumDl, acc.map { case (t, xs) => t -> xs.toArray }.toMap)
  }

  /** Top-k (doc_id, score) over the first `nChunks` chunks. */
  def topk(q: String, k: Int, nChunks: Int): Seq[(Long, Double)] = {
    val cs = chunks.take(nChunks)
    val n = cs.map(_.nDocs).sum
    val avgdl = cs.map(_.sumDl).sum.toDouble / math.max(n, 1L)
    val scores = mutable.HashMap.empty[Long, Double]
    Bm25.queryTerms(q).foreach { qt =>
      val ps = cs.flatMap(_.postings.getOrElse(qt.term, Array.empty[(Long, Int, Int)]))
      if (ps.nonEmpty) {
        val w = qt.qtf * Bm25.idf(n, ps.size.toLong)
        ps.foreach { case (id, tf, dl) =>
          scores(id) = scores.getOrElse(id, 0.0) + w * Bm25.tfSat(tf.toDouble, dl.toDouble, avgdl)
        }
      }
    }
    scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
  }
}

object Oracle {
  /** Distinct (term, doc) pairs over rows [from, until) — the posting
    * count a correct index of that corpus holds. */
  def postingCount(corpusSeed: Long, from: Long, until: Long): Long = {
    var total = 0L
    var i = from
    while (i < until) {
      val p = Synth.genRow(corpusSeed, i)
      total += TextExtract.tokenizeFull(TextExtract.cleanText(p.text)).distinct.length
      i += 1
    }
    total
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Rank identity up to floating-point summation order: scores agree
    * position by position, and ids agree wherever the score is not tied
    * with a neighbour. */
  def sameRanking(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean =
    got.length == want.length && got.indices.forall { i =>
      close(got(i)._2, want(i)._2) && (got(i)._1 == want(i)._1 || {
        val tiedPrev = i > 0 && close(want(i - 1)._2, want(i)._2)
        val tiedNext = i + 1 < want.length && close(want(i + 1)._2, want(i)._2)
        tiedPrev || tiedNext
      })
    }

  /** Result digest: md5 over the sorted (doc_id, score rounded to 6 dp). */
  def digest(rows: Seq[(Long, Double)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map { case (id, s) => f"$id:${BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)}" }
      .sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}
