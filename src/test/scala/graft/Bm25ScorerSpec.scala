package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

import graft.core.TextExtract
import graft.data.{Page, Synth}
import graft.index.{BuildParams, IndexBuild, InvertedIndex}
import graft.query.Bm25
import graft.streaming.StreamingIndex

/** The driver scorer against the Spark plans and a driver-side brute-force
  * BM25, on an index built to hold the awkward cases: planted score ties,
  * salted hot terms, two segments whose doc lengths drift avgdl, and a URL
  * re-added by a segment (one doc_id in two shards). */
class Bm25ScorerSpec extends SparkSpec {
  import spark.implicits._

  private val Seed = 23L
  private val params = BuildParams(numShards = 2, blockSize = 16,
    saltThreshold = 20, targetPerSalt = 25, nTermBuckets = 8)

  private def page(url: String, text: String) =
    Page(url, new java.sql.Timestamp(0L), Array.emptyByteArray, text, "en")

  /** Every page the index holds, one entry per indexed copy: the base
    * build, a segment of doubled-length docs, and a segment re-adding a
    * base URL. */
  private lazy val corpus: (String, Seq[Page]) = {
    val dir = tmpDir("scorer-idx")
    // three identical docs under distinct URLs tie exactly on any query
    val ties = (0 until 3).map(i => page(s"tie://$i", "kiwi mango"))
    val base = Synth.pages(spark, 500, Seed, 4).collect().toSeq ++ ties :+
      page("tie://3", "kiwi kiwi mango papaya")
    InvertedIndex.build(spark, base.toDS(), dir, params)
    val long = Synth.pages(spark, 150, Seed + 1, 4).collect().toSeq
      .map(p => p.copy(url = p.url + "/long", text = p.text + " " + p.text))
    StreamingIndex.appendSegment(spark, long.toDS(), dir, 0L, params)
    val readded = base.filter(p =>
      TextExtract.tokenizeFull(TextExtract.cleanText(p.text)).contains("w13")).take(1)
    assert(readded.nonEmpty)
    StreamingIndex.appendSegment(spark, readded.toDS(), dir, 1L, params)
    (dir, base ++ long ++ readded)
  }

  /** Brute-force BM25 over the indexed copies: N, df and avgdl count every
    * copy; a doc's score sums over its copies. */
  private def bruteTopk(q: String, k: Int): Seq[(Long, Double)] = {
    val docs = corpus._2.map(p =>
      IndexBuild.docId(p.url) -> TextExtract.tokenizeFull(TextExtract.cleanText(p.text)))
      .filter(_._2.nonEmpty)
    val n = docs.size.toLong
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / n
    val qts = Bm25.queryTerms(q)
    val df = qts.map(qt => qt.term -> docs.count(_._2.contains(qt.term)).toLong).toMap
    docs.map { case (id, toks) =>
      id -> qts.map { qt =>
        val tf = toks.count(_ == qt.term)
        if (tf == 0) 0.0
        else qt.qtf * Bm25.idf(n, df(qt.term)) *
          Bm25.tfSat(tf.toDouble, toks.length.toDouble, avgdl)
      }.sum
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq
      .filter(_._2 > 0).sortBy { case (id, s) => (-s, id) }.take(k)
  }

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.as[(Long, Double)].collect().toSeq

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  test("driver scorer ≡ Spark plans ≡ brute force for topk, served and forced topkWand") {
    val driver = Bm25.open(spark, corpus._1)
    assert(driver.committed.size == 4 && driver.nPostings <= driver.localPostings)
    val sparkPlans = driver.copy(localPostings = 0L)
    // planted ties are queried with at most two matching terms: a two-term
    // sum is exact in either order, so ties stay ties on every path
    val queries = Seq("kiwi mango", "kiwi mango w1", "papaya", "w13", "w1 w3 the0",
      "w7 w20", "w1 w1 w2", "numpy python matrix", "the of and", "zzzunknown",
      "zzzunknown kiwi") ++ Synth.refTitles.take(2)
    for (q <- queries; k <- Seq(2, 10, 1000)) {
      val ctx = s"'$q' k=$k"
      val want = bruteTopk(q, k)
      assert(want.isEmpty == Set("the of and", "zzzunknown")(q), s"[$ctx] $want")
      val topk = driver.topk(q, k)
      val served = driver.topkWand(q, k)
      val forced = driver.copy(wandCutoff = 0L).topkWand(q, k)
      assert(Seq(topk, served, forced).forall(isLocal), s"[$ctx] driver path not taken")
      val d = rows(topk)
      assertRankIdentical(d, want, s"driver topk $ctx")
      assert(rows(served) == d, s"[$ctx] served topkWand != topk")
      assert(rows(forced) == d, s"[$ctx] forced topkWand != topk")
      for ((name, df) <- Seq(
          "topk" -> sparkPlans.topk(q, k),
          "served" -> sparkPlans.topkWand(q, k),
          "forced" -> sparkPlans.copy(wandCutoff = 0L).topkWand(q, k))) {
        assert(want.isEmpty || !isLocal(df), s"[$ctx] Spark $name ran on the driver")
        assertRankIdentical(rows(df), d, s"Spark $name $ctx")
      }
    }
    // k ≫ matches returns every match; ties break by doc_id asc
    val all = rows(driver.topk("kiwi mango", 1000))
    val tieIds = (0 until 3).map(i => IndexBuild.docId(s"tie://$i")).sorted
    val ties = all.filter(r => tieIds.contains(r._1))
    assert(all.size == 4 && ties.map(_._1) == tieIds && ties.map(_._2).distinct.size == 1)
  }

  test("block maxima bound the scorer exactly: forced WAND keeps a block " +
    "whose tfsat rounds differently in another operation order") {
    // avgdl is exactly 100 (1000 tokens over 10 docs); "zz" occurs once, in
    // a 74-token doc. Written as tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)),
    // its tfsat rounds one ulp below the scorer's value, and a block bound
    // stored that way sank below θ and pruned the only matching block.
    def doc(i: Int, n: Int, head: Seq[String] = Nil) =
      page(s"ulp://$i", (head ++ (head.size until n).map(j => s"f${i}x$j")).mkString(" "))
    val docs = doc(0, 74, Seq("zz")) +: ((1 to 8).map(doc(_, 103)) :+ doc(9, 102))
    val dir = tmpDir("ulp-idx")
    InvertedIndex.build(spark, docs.toDS(), dir, params)
    val h0 = Bm25.open(spark, dir)
    assert(h0.nDocs == 10 && h0.avgdl == 100.0)
    for ((h, path) <- Seq(h0 -> "driver", h0.copy(localPostings = 0L) -> "spark")) {
      val forced = h.copy(wandCutoff = 0L)
      val want = rows(h.topk("zz", 1))
      assert(want.map(_._1) == Seq(IndexBuild.docId("ulp://0")), s"[$path] $want")
      assert(isLocal(forced.topkWand("zz", 1)) == (path == "driver"))
      assert(rows(forced.topkWand("zz", 1)) == want, s"[$path] forced topkWand != topk")
      val (total, kept, theta) = forced.wandStats("zz", 1)
      assert(total == 1 && kept == 1, s"[$path] $total blocks, $kept kept, θ = $theta")
    }
    for (b <- InvertedIndex.postings(spark, dir).collect()) {
      val top = IndexBuild.decodeBlock(b).map(p => Bm25.tfSat(p.tf, p.dl, h0.avgdl)).max
      assert(top <= b.max_tfsat, s"${b.term}/${b.block_id}: $top > ${b.max_tfsat}")
    }
  }

  test("the stale-avgdl factor keeps block maxima above the scores of a later avgdl") {
    def bits(x: Double) = java.lang.Double.doubleToLongBits(x)
    // an append moved avgdl up by four ulps; the bare ratio
    // avgdl/avgdl_build (1 + 2^-51) inflates the old bound to one ulp under
    // the new tfsat
    val (a0, a1) = (224.4005433114935, 224.4005433114936)
    val (tf, dl) = (4.0, 7955.0)
    assert(bits(a1) - bits(a0) == 4 && a1 / a0 == 1.0 + java.lang.Math.scalb(1.0, -51))
    assert(bits(Bm25.tfSat(tf, dl, a0) * (a1 / a0)) == bits(0.24306033086595927))
    assert(bits(Bm25.tfSat(tf, dl, a1)) == bits(0.24306033086595932))
    assert(Bm25.tfSat(tf, dl, a0) * Bm25.driftFactor(a1, a0) >= Bm25.tfSat(tf, dl, a1))
    // avgdl at or below the build's: no inflation at all
    assert(Bm25.driftFactor(a0, a0) == 1.0 && Bm25.driftFactor(a0, a1) == 1.0)

    // seeded sweep: avgdl moved by a few ulps (where rounding decides) and
    // by ordinary amounts, up and down
    val rnd = new scala.util.Random(20261020L)
    var bareUnder = 0
    for (i <- 0 until 200000) {
      val tf = 1 + rnd.nextInt(if (i % 4 == 0) 200 else 5)
      val dl = (tf + rnd.nextInt(20000)).toDouble
      val avgdlBuild = 5.0 + rnd.nextDouble() * 295.0
      val avgdl = i % 3 match {
        case 0 =>
          Iterator.iterate(avgdlBuild)(java.lang.Math.nextUp).drop(1 + rnd.nextInt(6)).next()
        case 1 => avgdlBuild * (1.0 + rnd.nextDouble() * 0.5)
        case _ => avgdlBuild * (0.5 + rnd.nextDouble())
      }
      val stored = Bm25.tfSat(tf, dl, avgdlBuild)
      val score = Bm25.tfSat(tf, dl, avgdl)
      val bound = stored * Bm25.driftFactor(avgdl, avgdlBuild)
      assert(bound >= score,
        s"tf=$tf dl=$dl avgdl $avgdlBuild -> $avgdl: bound $bound < tfsat $score")
      if (stored * math.max(1.0, avgdl / avgdlBuild) < score) bareUnder += 1
    }
    // the sweep reaches the cases the bare ratio gets wrong
    assert(bareUnder > 0)
  }

  test("tfSatCol is Bm25.tfSat bit for bit") {
    // tf 1..50 × dl 1..2000, Int columns like the decoded postings the
    // Spark plans score, one tfSatCol column per avgdl
    val avgdls = Seq(100.0, 105.5345, 7.5, 8.884558)
    val got = spark.range(50L * 2000L)
      .select(floor($"id" / 2000 + 1).cast("int").as("tf"),
        ($"id" % 2000 + 1).cast("int").as("dl"))
      .select($"tf" +: $"dl" +: avgdls.map(Bm25.tfSatCol($"tf", $"dl", _)): _*)
      .collect()
    assert(got.length == 100000)
    for (r <- got; (avgdl, i) <- avgdls.zipWithIndex) {
      val (tf, dl, col) = (r.getInt(0), r.getInt(1), r.getDouble(2 + i))
      val want = Bm25.tfSat(tf, dl, avgdl)
      assert(java.lang.Double.doubleToLongBits(col) == java.lang.Double.doubleToLongBits(want),
        s"tf=$tf dl=$dl avgdl=$avgdl: column $col, scalar $want")
    }
  }

  test("withUrls joins on the driver with inner-join multiplicity") {
    val h = Bm25.open(spark, corpus._1)
    val readded = IndexBuild.docId(corpus._2.last.url)
    for (top <- Seq(h.topk("w13", 1000), h.copy(localPostings = 0L).topk("w13", 1000))) {
      val res = rows(top)
      assert(res.exists(_._1 == readded))
      val out = h.withUrls(top)
      assert(out.columns.toSeq == Seq("doc_id", "score", "url", "doclen"))
      val got = out.as[(Long, Double, String, Int)].collect().toSeq
      // one row per docstats row: the re-added doc is in two shards
      assert(got.map(_._1) == res.flatMap(r => Seq.fill(if (r._1 == readded) 2 else 1)(r._1)))
      assert(got.forall(r => IndexBuild.docId(r._3) == r._1))
    }
    val none = h.withUrls(h.topk("zzzunknown", 10))
    assert(none.columns.toSeq == Seq("doc_id", "score", "url", "doclen") && none.isEmpty)
  }

  test("the posting gate counts committed postings only") {
    val dir = corpus._1
    // a torn segment: postings files on disk, no committed manifest row
    val from = Paths.get(s"$dir/postings/shard=${StreamingIndex.SegmentBase}")
    val torn = Paths.get(s"$dir/postings/shard=${StreamingIndex.SegmentBase + 9}")
    Files.walk(from).forEach { p =>
      val t = torn.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
    try {
      val snap = InvertedIndex.snapshot(spark, dir)
      val perShard = spark.read.parquet(s"$dir/postings")
        .groupBy($"shard").agg(sum($"n_docs")).as[(Int, Long)].collect().toMap
      assert(perShard.contains(StreamingIndex.SegmentBase + 9))
      assert(snap.postings == snap.committed.toSeq.map(perShard.getOrElse(_, 0L)).sum)
      assert(snap.postings < perShard.values.sum)
      assert(Bm25.open(spark, dir).nPostings == snap.postings)
    } finally InvertedIndex.deleteDir(torn.toString)
  }
}
