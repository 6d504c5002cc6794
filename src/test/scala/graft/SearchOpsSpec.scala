package graft

import graft.index.ParityRefs
import graft.ops.{Dedup, Evaluate, MinHashSearch}

/** MinHash-LSH search + evaluation harness over the documents testdata. */
class SearchOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("xx64 production hash path: identical exact-dedup groups, valid " +
    "distinct signatures, duplicate texts always collide in every band") {
    // exact dedup: the GROUPS are a property of the text, not the hash —
    // (n, keep_id) multisets must be identical under both modes
    def groups(h: Dedup.HashMode) = Dedup.exact(docs, h)
      .select($"n", $"keep_id").as[(Long, Long)].collect().sorted.toSeq
    assert(groups(Dedup.Md5Portable) == groups(Dedup.Xx64))

    // signatures: same shape (8 seeds/doc, 16 hex chars), different values
    val md = Dedup.minhash(docs, hash = Dedup.Md5Portable)
      .as[(Long, Long, String)].collect()
    val xx = Dedup.minhash(docs, hash = Dedup.Xx64)
      .as[(Long, Long, String)].collect()
    assert(md.length == xx.length)
    assert(xx.forall(r => r._3.length == 16 && r._3.matches("[0-9a-f]{16}")))
    val mdMap = md.map(r => (r._1, r._2) -> r._3).toMap
    val xxMap = xx.map(r => (r._1, r._2) -> r._3).toMap
    assert(mdMap.keySet == xxMap.keySet)
    assert(mdMap.count { case (k, v) => xxMap(k) == v } < md.length / 100,
      "xx64 signatures should not coincide with md5 signatures")

    // the typed pass (the production route behind minhash(Xx64)) must be
    // BYTE-IDENTICAL to the xx64 COLUMN form (same XXH64 seed-42 hashing,
    // unsigned-long minima ≡ padded-hex lexicographic minima, same
    // empty-token/empty-doc semantics)
    val xxCol = Dedup.minhashColumnar(docs, hash = Dedup.Xx64)
      .as[(Long, Long, String)].collect()
    assert(xx.sorted.toSeq == xxCol.sorted.toSeq,
      "minhash(Xx64) diverged from the xx64 Column form")

    // shingles: the typed pass (the production route) must emit the same
    // (doc_id, shingle) set as the Column slide
    val shCol = ParityRefs.shinglesColumnar(docs).as[(Long, String)].collect()
    val shFast = Dedup.shingles(docs).as[(Long, String)].collect()
    assert(shFast.sorted.toSeq == shCol.sorted.toSeq,
      "shingles diverged from the Column slide")

    // simhash: the zero-shuffle typed pass (the production route) must be
    // bit-identical to the relational form the DuckDB oracle mirrors
    val simCol = ParityRefs.simhashColumnar(docs).as[(Long, Long)].collect()
    val simFast = Dedup.simhash(docs).as[(Long, Long)].collect()
    assert(simFast.sorted.toSeq == simCol.sorted.toSeq,
      "simhash diverged from the relational form")

    // structural LSH guarantee, hash-independent: docs with IDENTICAL text
    // have identical signatures, so every exact-dup pair appears in lshPairs
    // under BOTH modes (testdata has no dups — inject copies of 20 docs
    // under shifted ids)
    val base = docs.select($"doc_id", $"text").as[(Long, String)]
      .collect().sortBy(_._1).take(20)
    val withDups = (base ++ base.map { case (id, t) => (id + 1000000L, t) })
      .toSeq.toDF("doc_id", "text")
    val dupPairs = base.map { case (id, _) => (id, id + 1000000L) }.toSet
    for (h <- Seq[Dedup.HashMode](Dedup.Md5Portable, Dedup.Xx64)) {
      val pairs = Dedup.lshPairs(withDups, hash = h)
        .as[(Long, Long)].collect().toSet
      assert(dupPairs.subsetOf(pairs), s"$h missed exact-dup pairs")
    }
  }

  test("minhash search: self-retrieval of an exact document text") {
    // querying with a doc's own text must retrieve that doc at jaccard 1.0
    val (docId, text) = docs.select($"doc_id", $"text")
      .as[(Long, String)].head()
    val res = MinHashSearch.search(docs, Seq(0 -> text), k = 5)
      .as[(Long, Long, Long, Double)].collect()
    assert(res.nonEmpty)
    val top = res.minBy(_._2)
    assert(top._3 == docId, s"expected $docId first, got ${res.toSeq}")
    assert(top._4 == 1.0)
  }

  test("minhash search: ranks are dense per query and jaccard descends") {
    val res = MinHashSearch.search(docs, SparkEntry.mhQueries, k = 10)
      .as[(Long, Long, Long, Double)].collect()
    val byQ = res.groupBy(_._1)
    assert(byQ.keySet.nonEmpty)
    byQ.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._4 >= b._4 || (a._4 == b._4 && a._3 < b._3)
        case _ => true
      })
    }
  }

  test("evaluation harness: deterministic, bm25 exact self-retrieval is strong") {
    val r1 = Evaluate.hitRates(docs).collect().map(_.toString).sorted.toSeq
    val r2 = Evaluate.hitRates(docs).collect().map(_.toString).sorted.toSeq
    assert(r1 == r2)
    val rates = Evaluate.hitRates(docs)
      .as[(String, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._5).toMap
    // the documents corpus has only ~31 distinct terms, so self-retrieval
    // among 500 near-identical docs is intrinsically hard; require well
    // above chance (k/N = 10/500 = 0.02), not an absolute bar
    assert(rates(("bm25", "exact")) >= 0.1, s"rates: $rates")
    // perturbed queries can't beat exact ones
    assert(rates(("bm25", "perturbed")) <= rates(("bm25", "exact")) + 1e-9)
    assert(rates.contains(("minhash_lsh", "exact")))
    assert(rates(("minhash_lsh", "exact")) >= 0.05, s"rates: $rates")
    assert(rates.contains(("minhash_forest", "exact")), s"rates: $rates")
  }

  test("typed fast paths: generator-driven parity with the Column forms " +
    "on adversarial docs (empty, single-token, repeated-token, multi-byte " +
    "UTF-8, stray spaces)") {
    // seeded generator, plain loop (no scalatestplus in the offline cache):
    // the typed routes ARE production, so their equivalence proof must not
    // rest on one fixed corpus shape
    val rnd = new scala.util.Random(20260817L)
    val vocab = Array("alpha", "beta", "the", "x", "héllo", "日本語", "émigré",
      "ß", "naïve", "Ω", "word2", "a", "longtokenwithmanycharacters",
      "ähnlich", "中文分词", "πθ")
    def randTok() = vocab(rnd.nextInt(vocab.length))
    val docs: Seq[(Long, String)] = (0 until 220).map { i =>
      val text = i % 10 match {
        case 0 => "" // empty doc
        case 1 => randTok() // single token
        case 2 => val t = randTok(); Seq.fill(2 + rnd.nextInt(8))(t).mkString(" ")
        case 3 => // stray spaces: double, leading, trailing
          "  " + Seq.fill(1 + rnd.nextInt(6))(randTok()).mkString("  ") + " "
        case _ => Seq.fill(1 + rnd.nextInt(12))(randTok()).mkString(" ")
      }
      (i.toLong, text)
    }
    val df = docs.toDF("doc_id", "text")

    val sFast = Dedup.simhash(df)
      .as[(Long, Long)].collect().sorted.toSeq
    val sCol = ParityRefs.simhashColumnar(df)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(sFast == sCol, "simhash diverged on adversarial corpus")

    val shFast = Dedup.shingles(df)
      .as[(Long, String)].collect().sorted.toSeq
    val shCol = ParityRefs.shinglesColumnar(df)
      .as[(Long, String)].collect().sorted.toSeq
    assert(shFast == shCol, "shingles diverged on adversarial corpus")

    // per mode: parity of every signature op; yields the doc_ids of the
    // minhash and weighted-minhash rows for the empty-doc check below
    val sigIds = Seq[Dedup.HashMode](Dedup.Md5Portable, Dedup.Xx64).flatMap { h =>
      val mFast = Dedup.minhash(df, hash = h)
        .as[(Long, Long, String)].collect().sorted.toSeq
      val mCol = Dedup.minhashColumnar(df, hash = h)
        .as[(Long, Long, String)].collect().sorted.toSeq
      assert(mFast == mCol, s"minhash($h) diverged on adversarial corpus")

      val wFast = Dedup.weightedMinhash(df, hash = h)
        .as[(Long, Long, String)].collect().sorted.toSeq
      val wCol = ParityRefs.weightedMinhashColumnar(df, hash = h)
        .as[(Long, Long, String)].collect().sorted.toSeq
      assert(wFast == wCol, s"weightedMinhash($h) diverged on adversarial corpus")

      val bFast = Dedup.lshBands(df, hash = h)
        .as[(Long, Long, String)].collect().sorted.toSeq
      val bCol = ParityRefs.lshBandsColumnar(df, hash = h)
        .as[(Long, Long, String)].collect().sorted.toSeq
      assert(bFast == bCol, s"lshBands($h) diverged on adversarial corpus")

      // odd band split (nSeeds not a multiple of rowsPerBand)
      val b3Fast = Dedup.lshBands(df, nSeeds = 8, rowsPerBand = 3, hash = h)
        .as[(Long, Long, String)].collect().sorted.toSeq
      val b3Col = ParityRefs.lshBandsColumnar(df, nSeeds = 8, rowsPerBand = 3, hash = h)
        .as[(Long, Long, String)].collect().sorted.toSeq
      assert(b3Fast == b3Col, s"lshBands($h) diverged on a ragged band split")
      Seq(mFast.map(_._1), wFast.map(_._1))
    }

    val fpFast = Dedup.fingerprint(df)
      .as[(Long, String)].collect().sorted.toSeq
    val fpCol = ParityRefs.fingerprintColumnar(df)
      .as[(Long, String)].collect().sorted.toSeq
    assert(fpFast == fpCol, "fingerprint diverged on adversarial corpus")

    val prFast = Dedup.minhashPrefixes(df)
      .as[(Long, Long, String)].collect().sorted.toSeq
    val prCol = ParityRefs.prefixes(
      Dedup.minhashColumnar(df, hash = Dedup.Md5Portable), "doc_id", 8)
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(prFast == prCol, "minhashPrefixes diverged")

    // typed token passes ≡ their relational forms
    import graft.ops.TextOps
    val dtFast = TextOps.distinctTokens(df)
      .as[(Long, String)].collect().sorted.toSeq
    val dtCol = TextOps.tokens(df).select($"doc_id", $"term").distinct()
      .as[(Long, String)].collect().sorted.toSeq
    assert(dtFast == dtCol, "distinctTokens diverged")
    val szFast = TextOps.tokenSetSizes(df)
      .as[(Long, Long)].collect().sorted.toSeq
    val szCol = TextOps.tokens(df).select($"doc_id", $"term").distinct()
      .groupBy($"doc_id").count().as[(Long, Long)].collect().sorted.toSeq
    assert(szFast == szCol, "tokenSetSizes diverged")
    val dlFast = TextOps.docLengths(df)
      .as[(Long, Long)].collect().sorted.toSeq
    val dlCol = TextOps.tokens(df).groupBy($"doc_id").count()
      .as[(Long, Long)].collect().sorted.toSeq
    assert(dlFast == dlCol, "docLengths diverged")

    // the empty and sub-n docs really are absent (not present-with-garbage)
    val emptyIds = docs.filter(_._2.trim.isEmpty).map(_._1).toSet
    assert(emptyIds.nonEmpty)
    assert(sFast.forall(r => !emptyIds.contains(r._1)))
    assert(sigIds.forall(_.forall(id => !emptyIds.contains(id))))
  }

  test("driver-side query signature math: byte-identical to the relational " +
    "signature/band/prefix forms") {
    val queries = SparkEntry.mhQueries ++ Seq(
      3 -> "Unicode HÉLLO 日本語 hello unicode", // case-fold + dedup
      4 -> "  padded   spaces  ")
    val qt = MinHashSearch.queryTermsDF(spark, queries)
    val sigRel = ParityRefs.querySignatures(qt, 8)
      .as[(Long, Long, String)].collect()
      .groupBy(_._1).map { case (id, rs) =>
        id -> rs.sortBy(_._2).map(_._3).toSeq }
    val sigLoc = MinHashSearch.querySigLocal(queries, 8)
      .map { case (id, mins) => id -> mins.toSeq.map(m => f"$m%016x") }.toMap
    assert(sigLoc == sigRel, "querySigLocal diverged from querySignatures")

    val preRel = ParityRefs.prefixes(
      ParityRefs.querySignatures(qt, 8), "query_id", 8)
      .as[(Long, Long, String)].collect().sorted.toSeq
    val preLoc = MinHashSearch.queryPrefixesLocal(queries, 8).sorted
    assert(preLoc == preRel, "queryPrefixesLocal diverged from prefixes")

    import org.apache.spark.sql.functions._
    val bandsRel = ParityRefs.querySignatures(qt, 8)
      .withColumn("band", (col("seed") / 2).cast("long"))
      .groupBy(col("query_id"), col("band"))
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("seed"), col("minhash")))),
        x => x.getField("minhash")), ",").cast("binary")).as("band_hash"))
      .as[(Long, Long, String)].collect().sorted.toSeq
    val bandsLoc = MinHashSearch.queryBandsLocal(queries, 8, 2).sorted
    assert(bandsLoc == bandsRel, "queryBandsLocal diverged from the " +
      "relational banding of query signatures")
  }

  test("index/query signature contract: a query's driver-side bands and " +
    "prefixes are the doc passes' rows for its tokens") {
    // the LSH probe and the forest join match query rows against doc rows
    // on equality, so a query must hash exactly like a document holding
    // its tokens
    val queries = SparkEntry.mhQueries :+ (3 -> "Data JOIN data Fast window")
    for ((id, q) <- queries) {
      val doc = Seq((id.toLong, MinHashSearch.queryTokens(q).mkString(" ")))
        .toDF("doc_id", "text")
      for (rows <- Seq(2, 3)) {
        val docBands = Dedup.lshBands(doc, 8, rows)
          .as[(Long, Long, String)].collect().sorted.toSeq
        assert(docBands.nonEmpty)
        assert(MinHashSearch.queryBandsLocal(Seq(id -> q), 8, rows).sorted == docBands,
          s"query $id: bands (rowsPerBand=$rows) differ from Dedup.lshBands")
      }
      val docPre = Dedup.minhashPrefixes(doc, 8)
        .as[(Long, Long, String)].collect().sorted.toSeq
      assert(docPre.length == 8)
      assert(MinHashSearch.queryPrefixesLocal(Seq(id -> q), 8).sorted == docPre,
        s"query $id: prefixes differ from Dedup.minhashPrefixes")
    }
  }

  test("weighted minhash: tf weighting separates docs the unweighted " +
    "signature cannot, and exact duplicates still estimate 1.0") {
    // A and B share the token SET {x, y} (unweighted Jaccard = 1) but have
    // weighted Jaccard (min(3,1)+min(1,3))/(max(3,1)+max(1,3)) = 1/3
    val df = Seq((1L, "x x x y"), (2L, "x y y y")).toDF("doc_id", "text")
    for (h <- Seq[Dedup.HashMode](Dedup.Md5Portable, Dedup.Xx64)) {
      val un = Dedup.minhash(df, nSeeds = 64, hash = h)
        .as[(Long, Long, String)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.map(r => r._2 -> r._3).toMap }
      assert(un(1L) == un(2L), s"$h: same token set must share unweighted sig")
      val w = Dedup.weightedMinhash(df, nSeeds = 64, hash = h)
        .as[(Long, Long, String)].collect()
        .groupBy(_._1).map { case (k, v) => k -> v.map(r => r._2 -> r._3).toMap }
      val agree = (0L until 64L).count(sd => w(1L)(sd) == w(2L)(sd))
      // estimator of 1/3 over 64 seeds: demand it is clearly separated
      // from both 0 and the unweighted 1.0 (band is generous, the seeds
      // are fixed so this is deterministic, not flaky)
      assert(agree > 3 && agree < 43,
        s"$h: weighted agreement $agree/64 not separating tf profiles")
    }
    // identical texts: identical weighted signatures → estimate exactly 1.0
    val dup = Seq((1L, "a b b c"), (2L, "a b b c"), (3L, "z z q"))
      .toDF("doc_id", "text")
    val pairs = Dedup.weightedJaccardPairs(dup)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 1.0)))
  }

  test("jaccardPairs hot-shingle cap: corpus-wide boilerplate shingle " +
    "yields O(n) pairs, not O(n^2)") {
    // n docs: every doc opens with the same boilerplate trigram; docs
    // (2k, 2k+1) additionally share three distinctive trigrams; the tail
    // trigrams are unique per doc.
    val n = 120
    val corpus = (0 until n).map { i =>
      val p = i / 2
      (i.toLong,
        s"common boiler plate distinct$p shared tail unique$i only$i here$i")
    }.toDF("doc_id", "text")
    // capped (production default maxDf=50): the df=n boilerplate shingle is
    // dropped before the join — only the n/2 partner pairs remain
    val capped = Dedup.jaccardPairs(corpus, threshold = 0.05)
      .as[(Long, Long, Double)].collect()
    assert(capped.length == n / 2, s"expected ${n / 2} partner pairs, " +
      s"got ${capped.length}")
    assert(capped.forall { case (a, b, j) => b == a + 1 && a % 2 == 0 &&
      math.abs(j - 3.0 / 9.0) < 1e-6 }, s"got ${capped.take(5).toSeq}")
    // uncapped: the boilerplate shingle alone connects every doc to every
    // other — the classic quadratic dedup blowup the cap exists to stop
    val uncapped = Dedup.jaccardPairs(corpus, threshold = 0.05,
      maxDf = Int.MaxValue).count()
    assert(uncapped == n.toLong * (n - 1) / 2,
      s"uncapped should be all-pairs, got $uncapped")
  }

  test("forest top-k: deeper prefix matches rank first; self-retrieval " +
    "of exact text hits at full depth") {
    val (docId, text) = docs.select($"doc_id", $"text")
      .as[(Long, String)].head()
    val res = MinHashSearch.forestTopK(docs, Seq(0 -> text), k = 5)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._2)
    assert(res.nonEmpty)
    // an identical token set shares the whole 8-minhash prefix
    assert(res.head._3 == docId && res.head._4 == 8L && res.head._5 == 1.0,
      s"got ${res.toSeq}")
    // depth is non-increasing down the ranking
    assert(res.sliding(2).forall {
      case Array(a, b) => a._4 >= b._4
      case _ => true
    })
  }
}
