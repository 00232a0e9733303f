package graft

import graft.operators.{Corpus, Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics tests for the training-data pipeline operators at sf0.001.
  * Value-level parity is enforced by the DuckDB oracle gate (all gated
  * queries); these pin the cross-operator invariants the oracle can't
  * see: LSH-vs-exact recall, IVF-vs-exact recall and full-probe
  * equivalence, MinHash-vs-Jaccard agreement, SimHash metric
  * properties, and the multimodal batch plumbing.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(8)
  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.df(spark, sf, "documents")
  private def embs = Tables.df(spark, sf, "embeddings")

  test("decontamination: verbatim eval copy fully flagged, disjoint doc clean, eval set broadcast") {
    import spark.implicits._
    val eval = Seq("alpha beta gamma delta epsilon zeta eta theta").toDF("text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // verbatim leak
      (2L, "prefix words alpha beta gamma delta epsilon tail end"), // partial
      (3L, "completely different words with no overlap at all here")) // clean
      .toDF("doc_id", "text")
    val out = graft.operators.Decontaminate
      .ngramOverlap(corpus, eval, "doc_id", "text", n = 5, minHits = 2)
    val rows = out.collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // 8 tokens, 5-gram → 4 shingles; the verbatim doc shares all 4
    assert(rows(1L) == ((4L, true)))
    // doc 2 contains "alpha beta gamma delta epsilon" → exactly 1 shared
    assert(rows(2L) == ((1L, false)))
    assert(rows(3L) == ((0L, false)))
    // every corpus doc gets a verdict row
    assert(rows.size == 3)
    // the plan broadcasts the eval-gram set, never shuffles corpus by gram
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.linesIterator.take(5).mkString("\n"))
  }

  test("normTextUnicode is byte-identical to normText on the ASCII corpus (no floor churn)") {
    import graft.functions.TextFns
    // the Unicode chain's ASCII fast path must reproduce normText
    // EXACTLY — every hash, shingle, term, and floor in the ASCII
    // pipeline depends on those bytes (<=> catches null-vs-"" drift too)
    val diff = docs.select(
        TextFns.normText(col("text")).as("a"),
        TextFns.normTextUnicode(col("text")).as("u"))
      .filter(!(col("a") <=> col("u"))).count()
    assert(diff == 0L)
  }

  test("unicode normalizer threads end-to-end: NFC dedups spellings, CJK shingles pair, CJK BM25 retrieves; ASCII norm silently destroys the same corpus") {
    import spark.implicits._
    import graft.functions.TextFns
    val uni: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      TextFns.unicodeNormalizer()
    val d = Seq(
      (1L, "Café déjà vu"),
      (2L, "Café déjà vu"), // decomposed spelling of 1
      (3L, "这是一个中文测试文档没有空格这是一个测试"),
      (4L, "这是一个中文测试文档没有空格这是一个测话"), // one char off 3
      (5L, "完全不同的内容和别的汉字组成没有重叠"))
      .toDF("doc_id", "text")
    // exact dedup under NFC: composed and decomposed accents are ONE
    // text (keep_id 1, n_copies 2); the CJK docs stay distinct
    val ex = Dedup.exact(d, "doc_id", "text", uni).collect()
    assert(ex.length == 4)
    val dup = ex.filter(_.getAs[Long]("n_copies") == 2L)
    assert(dup.length == 1 && dup.head.getAs[Long]("keep_id") == 1L)
    // the ASCII default on the same corpus: all three CJK docs
    // normalize to "" and collapse into ONE bogus dup group — the
    // silent corpus destruction the Unicode path exists to prevent
    val exAscii = Dedup.exact(d.filter(col("doc_id") >= 3L),
      "doc_id", "text").collect()
    assert(exAscii.length == 1 &&
      exAscii.head.getAs[Long]("n_copies") == 3L)
    // char-unigram shingles from the CJK spacing: doc 4 (one char off
    // doc 3) is an exact-Jaccard near-dup; the unrelated doc 5 is not
    val pairs = Dedup.ngramJaccardPairs(d.filter(col("doc_id") >= 3L),
        "doc_id", "text", n = 3, num = 6, den = 10, norm = uni)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((3L, 4L)), s"got $pairs")
    // BM25 over char-unigram terms: doc 3 as the query retrieves its
    // near-dup first (ASCII norm would have produced zero terms)
    val bm = Corpus.bm25TopK(d, "doc_id", "text",
        col("doc_id") === 3L, nQueryTerms = 16, k = 2, norm = uni)
      .collect().sortBy(_.getAs[Int]("rnk"))
    assert(bm.nonEmpty && bm.head.getAs[Long]("doc_id") == 4L)
  }

  test("unicode decontamination: a non-Latin eval leak is caught when sketch and gate share the normalizer; the ASCII gate is blind to it") {
    import spark.implicits._
    import graft.functions.TextFns
    val uni: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      TextFns.unicodeNormalizer()
    val leak = "это тестовый документ на русском языке для проверки утечки"
    val eval = Seq(leak).toDF("text")
    val corpus = Seq(
      (1L, leak), // verbatim eval copy
      (2L, "совершенно другой текст без общих фрагментов вообще никак"))
      .toDF("doc_id", "text")
    val sketch = graft.operators.Decontaminate.gramSketch(
      graft.operators.Decontaminate.evalGrams(eval, "text", 5, uni)
        .select(col("g")))
    def fates(norm: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      graft.streaming.Streams
        .bloomDecontaminated(corpus, sketch, "text", 5, 1, norm)
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("contaminated"))
        .toMap
    val u = fates(uni)
    assert(u(1L) && !u(2L), s"unicode gate: $u")
    // the ASCII default over the same sketch: every Cyrillic doc
    // normalizes to zero shingles, so NOTHING is flagged — the silent
    // decontamination bypass cfg.norm threading exists to prevent
    val a = fates(TextFns.normText)
    assert(!a(1L) && !a(2L), s"ascii gate should be blind here: $a")
  }

  test("store normalizer fingerprint: a mismatched append/probe fails loudly against the build-time normalizer") {
    import spark.implicits._
    import graft.functions.TextFns
    val uni: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      TextFns.unicodeNormalizer()
    val d = Seq((1L, "некоторый русский текст для индекса в хранилище"))
      .toDF("doc_id", "text")
    try {
      graft.operators.PostingIndex.build(d, "doc_id", "text",
        "graft_fp_post", norm = uni)
      // ASCII-default append against the unicode-built store: the
      // stored fingerprint rejects it BEFORE any divergent rows land
      val e = intercept[IllegalArgumentException] {
        graft.operators.PostingIndex.append(
          Seq((2L, "ещё один документ")).toDF("doc_id", "text"),
          "doc_id", "text", "graft_fp_post", batchId = 1L)
      }
      assert(e.getMessage.contains("DIFFERENT text normalizer"),
        e.getMessage)
      // and a mismatched topK probe is rejected too (it would query a
      // disjoint term space and silently retrieve nothing)
      val q = intercept[IllegalArgumentException] {
        graft.operators.PostingIndex.topK(
          Seq((9L, "текст")).toDF("doc_id", "text"), "doc_id", "text",
          "graft_fp_post", nQueryTerms = 4, k = 3).count()
      }
      assert(q.getMessage.contains("DIFFERENT text normalizer"),
        q.getMessage)
      // the matching normalizer passes both paths
      graft.operators.PostingIndex.append(
        Seq((2L, "ещё один документ")).toDF("doc_id", "text"),
        "doc_id", "text", "graft_fp_post", batchId = 1L, norm = uni)
      assert(graft.operators.PostingIndex.topK(
        Seq((9L, "русский текст")).toDF("doc_id", "text"), "doc_id",
        "text", "graft_fp_post", nQueryTerms = 4, k = 3,
        norm = uni).count() >= 1)
    } finally {
      Seq("graft_fp_post_post", "graft_fp_post_stats",
        "graft_fp_post_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("exact dedup: keepers unique, copy counts sum to row count") {
    val d = Dedup.exact(docs, "doc_id", "text").collect()
    assert(d.map(_.getAs[Long]("keep_id")).distinct.length == d.length)
    assert(d.map(_.getAs[Long]("n_copies")).sum == docs.count())
  }

  test("minhash LSH finds every high-Jaccard pair the exact operator finds") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 5,
        num = 8, den = 10)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", n = 5,
        k = 32, bands = 8, num = 8, den = 10)
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    // at J >= 0.8, k=32/b=8 collision prob is ~1-(1-0.8^4)^8 ≈ 0.98+;
    // the exact-verify step makes LSH ⊆ exact always.
    assert(lsh.subsetOf(exact))
    assert(lsh.size >= exact.size * 9 / 10,
      s"LSH recall too low: ${lsh.size}/${exact.size}")
  }

  test("simhash: block trick is exact for Hamming<=3; near-dups far closer than random") {
    def dist(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val fps = Dedup.simhashDocs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = fps.keys.toSeq.sorted
    // operator invariant: the 4x15-bit block join finds EXACTLY the
    // pairs at Hamming distance <= 3 — complete (any dist<=3 pair has an
    // identical block by pigeonhole) and sound (post-filter on dist).
    val truth = (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.size
      if dist(fps(ids(i)), fps(ids(j))) <= 3
    } yield (ids(i), ids(j))).toSet
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"),
        r.getAs[Int]("dist")))
    assert(pairs.map(p => (p._1, p._2)).toSet == truth)
    assert(pairs.forall(p => p._3 == dist(fps(p._1), fps(p._2))))
    // metric property (the reason simhash works as a near-dup sketch):
    // textual near-dups sit FAR closer in Hamming space than random
    // pairs. At 60 bits a J>=0.7 pair lands around distance 3-6 while
    // random pairs center on 30, so mean separation is wide; a fixed
    // <=3 cutoff is deliberately the high-precision end (Manku et al.
    // use k=3 on 64 bits for near-verbatim web pages).
    val nearDup = Dedup.ngramJaccardPairs(docs, "doc_id", "text")
      .select("ida", "idb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nearDup.nonEmpty, "fixture should contain planted near-dups")
    val ndMean = nearDup.toSeq.map { case (a, b) => dist(fps(a), fps(b)) }
      .sum.toDouble / nearDup.size
    val allMean = (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.size
    } yield dist(fps(ids(i)), fps(ids(j)))).sum.toDouble /
      (ids.size.toLong * (ids.size - 1) / 2)
    assert(ndMean < allMean / 3,
      s"simhash separation too weak: near-dup mean $ndMean vs all-pair mean $allMean")
  }

  test("chunk dedup: untouched docs reassemble to md5(normText); counts consistent") {
    import graft.functions.TextFns
    val out = Dedup.chunkDedup(docs, "doc_id", "text", w = 5, maxDf = 3)
    val joined = out.join(
      docs.select(col("doc_id"), md5(TextFns.normText(col("text"))).as("h")),
      "doc_id").collect()
    assert(joined.length == docs.count())
    joined.foreach { r =>
      assert(r.getAs[Long]("n_removed") <= r.getAs[Long]("n_chunks"))
      // reassembly check: chunks partition the token stream, so a doc
      // with nothing removed joins back to exactly the normalized text
      if (r.getAs[Long]("n_removed") == 0L)
        assert(r.getAs[String]("kept_text_hash") == r.getAs[String]("h"))
    }
    assert(joined.exists(_.getAs[Long]("n_removed") > 0),
      "fixture should contain boilerplate chunks at maxDf=3")
  }

  test("token quantiles: exact interpolation on a known distribution") {
    import spark.implicits._
    val d = Seq((1L, "g", "a"), (2L, "g", "a a"), (3L, "g", "a a a"),
      (4L, "g", "a a a a"), (5L, "g", "a a a a a")).toDF("id", "src", "text")
    val q = Corpus.tokenQuantiles(d, "src", "text").collect().head
    // n=5 values 1..5: rank(p)=p*4 → p25@1→2, p50@2→3, p90@3.6→4.6,
    // p99@3.96→4.96 (quantile_cont linear interpolation)
    assert(q.getAs[Long]("n_docs") == 5L)
    assert(q.getAs[Int]("min_tokens") == 1 && q.getAs[Int]("max_tokens") == 5)
    assert(q.getAs[Double]("mean_tokens") == 3.0)
    assert(q.getAs[Double]("p25") == 2.0)
    assert(q.getAs[Double]("p50") == 3.0)
    assert(math.abs(q.getAs[Double]("p90") - 4.6) < 1e-12)
    assert(math.abs(q.getAs[Double]("p99") - 4.96) < 1e-12)
  }

  test("containment: embedded paragraph found, oriented right, Jaccard blind to it") {
    import spark.implicits._
    val para = (1 to 12).map(i => s"tok$i").mkString(" ")
    val host = "intro words here " + para + " closing remarks follow now " +
      (1 to 30).map(i => s"fill$i").mkString(" ")
    val d = Seq((1L, para), (2L, host), (3L, "unrelated text entirely " +
      (1 to 20).map(i => s"other$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(d, "doc_id", "text", n = 5,
        num = 9, den = 10, maxDocFreq = 20)
      .collect().map(r => (r.getAs[Long]("container_id"),
        r.getAs[Long]("contained_id"))).toSet
    // the paragraph (doc 1) is fully inside doc 2 → (container=2, contained=1)
    assert(pairs == Set((2L, 1L)))
    // symmetric Jaccard at 0.7 misses it (shared shingles are a small
    // fraction of the union) — the reason containment exists
    val jac = Dedup.ngramJaccardPairs(d, "doc_id", "text",
        maxDocFreq = Some(20))
      .collect()
    assert(jac.isEmpty)
  }

  test("incremental dedup: new matches old and new, old×old never pairs") {
    import spark.implicits._
    val base = (1 to 10).map(i => s"w$i").mkString(" ")
    val old = Seq(
      (1L, base),                                  // will be matched by new 11
      (2L, base + " tail"),                        // old near-dup of 1 — must NOT pair
      (3L, (20 to 35).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (11L, base + " extra"),                      // near-dup of old 1 and 2
      (12L, (40 to 55).map(i => s"q$i").mkString(" ")),
      (13L, (40 to 55).map(i => s"q$i").mkString(" ")))  // new×new exact dup of 12
      .toDF("doc_id", "text")
    val out = Dedup.incrementalNearDupPairs(old, fresh, "doc_id", "text",
        n = 3, num = 7, den = 10, maxDocFreq = 20)
      .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("match_id"),
        r.getAs[Boolean]("match_is_new")))
    // every probe is a new doc; the old near-dup pair (1,2) never appears
    assert(out.forall(t => Set(11L, 12L, 13L)(t._1)))
    assert(out.map(t => (t._1, t._2)).toSet ==
      Set((11L, 1L), (11L, 2L), (12L, 13L)))
    assert(out.filter(_._1 == 11L).forall(!_._3))  // matches against OLD
    assert(out.find(_._1 == 12L).get._3)           // new×new flagged, once
  }

  test("temperature sampling: head keeps all at tau=0, tail upsampled at tau=0.5") {
    import spark.implicits._
    val d = (1L to 90L).map(i => (i, "head", "a b c d e f g h i j")) ++
      (91L to 100L).map(i => (i, "tail", "a b c d e f g h i j"))
    val df = d.toDF("doc_id", "source", "text")
    val out = Corpus.temperatureSample(df, "source", "doc_id", "text")
      .collect().map(r => r.getAs[String]("grp") ->
        (r.getAs[Double]("token_share"), r.getAs[Double]("p_keep"),
          r.getAs[Long]("n_kept"), r.getAs[Long]("n_docs"))).toMap
    // largest source anchors p_keep = 1 (keeps everything)
    assert(out("head")._2 == 1.0 && out("head")._3 == out("head")._4)
    // tail: p_keep = sqrt(share_t/share_h) > share_t/share_h — flattened,
    // not proportional — and kept docs never exceed the group
    val (shareT, pT, keptT, nT) = out("tail")
    assert(pT > shareT / out("head")._1 && pT < 1.0)
    assert(keptT <= nT)
    // tau = 0 is uniform: every source keeps everything
    val uni = Corpus.temperatureSample(df, "source", "doc_id", "text", tau = 0.0)
      .collect().map(r => r.getAs[Long]("n_kept") -> r.getAs[Long]("n_docs"))
    assert(uni.forall { case (k, n) => k == n })
  }

  test("knn classify: separable clusters classify perfectly") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(10f, 0f, 0f, 1f), 0), (2L, Seq(10f, 0f, 1f, 0f), 0),
      (3L, Seq(9f, 0f, 0f, 0f), 0),
      (11L, Seq(0f, 10f, 0f, 1f), 1), (12L, Seq(0f, 10f, 1f, 0f), 1),
      (13L, Seq(0f, 9f, 0f, 0f), 1)).toDF("vec_id", "embedding", "label")
    val queries = Seq((100L, Seq(8f, 1f, 0f, 0f), 0),
      (101L, Seq(1f, 8f, 0f, 0f), 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(
      queries, corpus, "vec_id", "embedding", "label", 3).collect()
    assert(out.map(_.getAs[Int]("label")).toSet == Set(0, 1))
    assert(out.forall(_.getAs[Double]("accuracy") == 1.0))
    assert(out.forall(r => r.getAs[Long]("n_queries") == 1L))
  }

  test("knn classify via IVF: full-probe ≡ brute-force, nProbe=3 within ε and total-coverage") {
    val hold = embs.filter(col("vec_id") % 20 === 0)
    val rest = embs.filter(col("vec_id") % 20 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("label"),
        (r.getAs[Long]("n_queries"), r.getAs[Long]("n_correct")))).toMap
    val brute = rows(Similarity.knnClassify(
      hold, rest, "vec_id", "embedding", "label", 5))
    // probing every cell makes the IVF neighbor stage exactly the brute
    // stage, so the whole composition must be row-identical — this pins
    // the WIRING (split, vote, rollup all reused), not just recall
    val full = rows(Similarity.knnClassify(
      hold, rest, "vec_id", "embedding", "label", 5,
      neighbors = Similarity.ivfTopK(_, _, _, _, _, 8, 8)))
    assert(full == brute)
    // at nProbe=3/8 the approximation: every query still classified
    // (probed cells contain at least their own centroid, and centroids
    // come from the corpus side — disjoint from the holdout), and the
    // overall accuracy stays within ε of exact
    val ivf = rows(Similarity.knnClassify(
      hold, rest, "vec_id", "embedding", "label", 5,
      neighbors = Similarity.ivfTopK(_, _, _, _, _, 8, 3)))
    assert(ivf.values.map(_._1).sum == brute.values.map(_._1).sum,
      "IVF composition must classify every holdout query")
    val accB = brute.values.map(_._2).sum.toDouble / brute.values.map(_._1).sum
    val accI = ivf.values.map(_._2).sum.toDouble / ivf.values.map(_._1).sum
    assert(math.abs(accB - accI) <= 0.2, s"brute $accB vs ivf $accI")
  }

  test("LSH ANN: recall >= 0.6 of exact top-5, exact re-rank order correct") {
    val queries = embs.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(queries, embs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ann = Similarity.lshTopK(queries, embs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(exact.nonEmpty)
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.6, s"ANN recall $recall")
  }

  test("IVF ANN: recall >= 0.5 of exact top-5 at nProbe=3/8") {
    val queries = embs.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(queries, embs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(queries, embs, "vec_id", "embedding", 5,
        nCells = 8, nProbe = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall")
    // full-probe IVF degenerates to exact search: nCells is FIXED at 8
    // (top-K-by-hash, corpus-size-independent), so nProbe=8 probes every
    // cell and the candidate set is the whole corpus.
    val full = Similarity.ivfTopK(queries, embs, "vec_id", "embedding", 5,
        nCells = 8, nProbe = 8)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(full == exact)
  }

  test("IVF with kmeans centroids: recall >= hash-centroid recall, full-probe exact") {
    val queries = embs.filter(col("vec_id") % 50 === 0)
    def recallOf(topk: org.apache.spark.sql.DataFrame, exact: Set[(Long, Long)]) = {
      val got = topk.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val exact = Similarity.bruteForceTopK(queries, embs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val km = Similarity.kmeansCentroids(embs, "embedding", nCells = 8)
    val kmRecall = recallOf(Similarity.ivfTopK(queries, embs, "vec_id",
      "embedding", 5, nCells = 8, nProbe = 3, centroidsOverride = Some(km)), exact)
    val hashRecall = recallOf(Similarity.ivfTopK(queries, embs, "vec_id",
      "embedding", 5, nCells = 8, nProbe = 3), exact)
    // learned cells sit where cluster structure is: never worse than the
    // hash-sampled baseline on the fixture, and usable on its own
    assert(kmRecall >= hashRecall - 1e-9,
      s"kmeans-IVF recall $kmRecall < hash-IVF recall $hashRecall")
    assert(kmRecall >= 0.5, s"kmeans-IVF recall $kmRecall")
    // probing every learned cell degenerates to exact search too
    val full = Similarity.ivfTopK(queries, embs, "vec_id", "embedding", 5,
        nCells = 8, nProbe = 8, centroidsOverride = Some(km))
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(full == exact)
  }

  test("PQ ANN: full codebook degenerates to exact; small codebook keeps recall; encode is map-only") {
    val queries = embs.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(queries, embs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // nCodes >= |corpus| makes every vector its own codebook entry
    // (self-distance 0 in the single subspace), so ADC IS the exact
    // cosine and pqTopK must reproduce brute force row-for-row — this
    // pins the whole encode→lookup→score wiring, not just recall
    val n = embs.count().toInt
    val full = Similarity.pqTopK(queries, embs, "vec_id", "embedding", 5,
        m = 1, nCodes = n)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(full == exact)
    // production shape: 8 subspaces × 32 codes (~32× smaller corpus
    // rows); recall floor is deliberately loose — the REAL numbers are
    // measured by tools/RecallProbe, this only catches wiring breaks
    val pq = Similarity.pqTopK(queries, embs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.2, s"PQ recall $recall")
    // encode: one code per subspace, all in [0, nCodes); and the plan
    // is a pure per-row map — no exchange anywhere (the only shape that
    // survives a 100 TB encode)
    val books = Similarity.pqCodebooks(embs, "vec_id", "embedding", 8, 32)
    assert(books.length == 8 && books.forall(_.length == 32)
      && books.forall(_.forall(_.length == 8)))
    val enc = Similarity.pqEncode(embs, "vec_id", "embedding", books)
    val codes = enc.collect().map(_.getAs[scala.collection.Seq[Int]]("codes"))
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 32)))
    assert(!enc.queryExecution.executedPlan.toString.contains("Exchange"),
      "pqEncode must not shuffle")
    // ADC-R degeneracy without IVF: exact re-rank over the whole
    // corpus shortlist IS brute force, whatever the codes said
    val reranked = Similarity.pqTopK(queries, embs, "vec_id", "embedding", 5,
        rerank = n)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(reranked == exact)
  }

  test("IVF-PQ: full probe + full codebook degenerates to exact; deterministic; clustered rescue over plain PQ") {
    val queries = embs.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(queries, embs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // probing every cell + giving every residual its own code makes the
    // reconstruction lossless (r̂ = r, score = ⟨q̂,ĉ⟩ + ⟨q̂, x̂−ĉ⟩ =
    // cos(q,x) up to float assoc) — this pins the assignment→residual→
    // encode→ADC wiring end-to-end, not just recall
    val n = embs.count().toInt
    val full = Similarity.ivfPqTopK(queries, embs, "vec_id", "embedding", 5,
        nCells = 8, nProbe = 8, m = 1, nCodes = n)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(full == exact)
    // deterministic end-to-end (hash-sampled centroids + codebooks, id
    // tie-breaks): two runs produce identical rows — the property the
    // p47 oracle gate depends on
    def run() = Similarity.ivfPqTopK(queries, embs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    assert(run() == run())
    // IVFADC-R degeneracy: exact re-rank over the WHOLE candidate set
    // is exact ranking inside the probed cells — ivfPqTopK(rerank=n)
    // must equal ivfTopK at the same nCells/nProbe, whatever the codes
    // said (pins the shortlist→exact-rerank wiring)
    val reranked = Similarity.ivfPqTopK(queries, embs, "vec_id", "embedding",
        5, nCells = 8, nProbe = 3, rerank = n)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivfFlat = Similarity.ivfTopK(queries, embs, "vec_id", "embedding", 5,
        nCells = 8, nProbe = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(reranked == ivfFlat)
    // the MOTIVATING property (RecallProbe measures the real numbers,
    // this catches regressions in kind): on a clustered corpus plain PQ
    // collapses — every cluster member quantizes to the same few
    // absolute-position codes, so within-cluster ranking is noise —
    // while the production IVFADC-R shape (residual codes + learned
    // books + exact re-rank of the ADC shortlist) stays usable
    val cl = graft.tools.SyntheticVectors.clustered(spark, n = 1500)
    val clQ = cl.filter(col("vec_id") % 50 === 0)
    val clExact = Similarity.bruteForceTopK(clQ, cl, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame) = {
      val got = df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      (clExact intersect got).size.toDouble / clExact.size
    }
    val pqR = recallOf(Similarity.pqTopK(clQ, cl, "vec_id", "embedding", 5))
    val ivfpqR = recallOf(Similarity.ivfPqTopK(clQ, cl, "vec_id", "embedding", 5,
      nCells = 32, nProbe = 8, learnedBooks = true, rerank = 100))
    assert(ivfpqR > 2 * pqR,
      s"IVFADC-R should clearly beat plain PQ on clustered data: $ivfpqR vs $pqR")
    assert(ivfpqR >= 0.15, s"IVFADC-R clustered recall $ivfpqR")
  }

  test("int8 ANN: dequantized ranking near-exact; encode values match the audit's bound") {
    val queries = embs.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(queries, embs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val got = Similarity.int8TopK(queries, embs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(got.nonEmpty)
    // per-dim error ≤ half a quant step (p33's audited bound) barely
    // moves cosines: the 4×-smaller tier must stay near-exact — the
    // property that distinguishes it from the lossy PQ tiers
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.9, s"int8 recall $recall")
  }

  test("assignmentDrift: flipped batch means lower assignment cosine; exact mean verified") {
    val base = embs.filter(col("vec_id") % 3 =!= 0)
      .select(col("vec_id"), col("embedding"), lit("base").as("grp"))
    // a batch that left the build-time geometry: negated vectors score
    // cos(-v, c) = -cos(v, c) against every frozen centroid
    val batch = embs.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"),
        lit("batch").as("grp"))
    val cent = Similarity.topKByHashCentroids(
      Similarity.withNorm(base, "vec_id", "embedding", "cid", "cv"),
      "cid", "cv", 8)
    val out = Similarity.assignmentDrift(base.unionByName(batch),
        "grp", "vec_id", "embedding", cent)
      .collect().map(r => r.getAs[String]("grp") ->
        ((r.getAs[Long]("n_vecs"), r.getAs[Double]("mean_cos")))).toMap
    assert(out("base")._1 == base.count() && out("batch")._1 == batch.count())
    assert(out("batch")._2 < out("base")._2,
      s"drifted batch ${out("batch")._2} should score below base ${out("base")._2}")
    // base mean is the exact decimal mean of the per-vector best
    // cosines — recompute directly and compare bit-for-bit
    val best = Similarity.withNorm(base, "vec_id", "embedding", "vid", "v")
      .join(broadcast(cent))
      .select(col("vid"), (Similarity.dot(col("v"), col("centroid"))
        / (col("v_n") * col("centroid_n"))).as("c"))
      .groupBy(col("vid")).agg(max(col("c")).as("c"))
      .select(sum(round(col("c") * lit(1e12)).cast("long")
        .cast("decimal(38,0)")).as("u"), count(lit(1)).as("n"))
      .head()
    val expect = best.getDecimal(0).doubleValue() / (best.getLong(1) * 1e12)
    assert(out("base")._2 == expect)
  }

  test("kmeans centroids: same seed + same input ⇒ identical centers") {
    def centers() = Similarity.kmeansCentroids(embs, "embedding", nCells = 8)
      .collect()
      .map(r => (r.getAs[Long]("list_id"),
        r.getAs[scala.collection.Seq[Double]]("centroid").toVector))
      .sortBy(_._1).toVector
    // k-means|| init draws from a SEEDED sampler and the corpus
    // partitioning is a pure function of the input, so training is a
    // deterministic computation — bit-identical centers run-to-run (the
    // property that makes the learned-centroid path auditable even
    // though it is not portable-SQL-expressible)
    assert(centers() == centers())
  }

  test("IVF centroids: exactly min(nCells, n), never empty, deterministic") {
    import graft.functions.TextFns
    val v = embs.select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
      sqrt(Similarity.dot(col("embedding"), col("embedding"))).as("v_n"))
    val n = embs.count()
    // fixed K independent of corpus size — the 100 TB invariant
    val k8 = Similarity.topKByHashCentroids(v, "vec_id", "v", 8).collect()
    assert(k8.length == math.min(8L, n).toInt)
    val k8again = Similarity.topKByHashCentroids(v, "vec_id", "v", 8)
      .collect().map(_.getAs[Long]("list_id")).toSet
    assert(k8.map(_.getAs[Long]("list_id")).toSet == k8again)
    // degenerate corpora still yield >= 1 centroid (the r2 stride filter
    // could select zero and return silently-empty results)
    val tiny = v.limit(3)
    assert(Similarity.topKByHashCentroids(tiny, "vec_id", "v", 64).count() == 3)
    // selection is genuinely the K smallest (hash32(id), id) pairs
    val expected = embs.select(col("vec_id"),
        TextFns.hash32(col("vec_id").cast("string")).as("h"))
      .collect().map(r => (r.getLong(1), r.getLong(0))).sorted.take(8)
      .map(_._2).toSet
    assert(k8.map(_.getAs[Long]("list_id")).toSet == expected)
  }

  test("IVF near-dup: finds every high-cosine pair the exact operator finds") {
    // near-dups sit deep inside one cell; multi-assignment (assignProbe=3)
    // keeps boundary-straddlers together, so the bucketed operator should
    // recover most of the exact pair set at the gated 0.45 threshold
    val exact = Dedup.embeddingNearDupPairs(embs, "vec_id", "embedding", 0.45)
      .collect().map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
    val ivf = Similarity.ivfNearDupPairs(embs, "vec_id", "embedding", 0.45,
        nCells = 16, assignProbe = 3)
      .collect().map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
    assert(exact.nonEmpty, "fixture should contain planted embedding near-dups")
    // exact verification inside candidates makes IVF ⊆ exact always
    assert(ivf.subsetOf(exact))
    // recall bound is fixture-dependent (7 exact pairs at sf0.001, one
    // straddles a cell boundary beyond 3 assignments): >= 0.8 here; the
    // hard guarantees are the subset and full-probe-equivalence asserts
    assert(ivf.size * 10 >= exact.size * 8,
      s"IVF near-dup recall too low: ${ivf.size}/${exact.size}")
    // full multi-assignment (assignProbe = nCells) degenerates to exact
    val full = Similarity.ivfNearDupPairs(embs, "vec_id", "embedding", 0.45,
        nCells = 8, assignProbe = 8)
      .collect().map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
    assert(full == exact)
  }

  test("brute-force top-k: ranks dense from 1, no self-matches") {
    val rows = Similarity.bruteForceTopK(
      embs.filter(col("vec_id") % 50 === 0), embs, "vec_id", "embedding", 5).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.values.forall(_.map(_.getAs[Int]("rank")).sorted.sameElements(1 to 5)))
    assert(rows.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
  }

  test("multimodal: features preserve rows, payload dropped, batch decode works") {
    val media = Multimodal.fakeMediaFromDocs(docs)
    val feats = Multimodal.extractFeatures(media, partitions = 4)
    assert(feats.count() == docs.count())
    assert(!feats.columns.contains("payload"))
    val f = feats.filter(col("media_id") === 0).collect()(0)
    assert(f.getAs[Int]("n_bytes") > 0)
    assert(f.getAs[Int]("width") >= 16 && f.getAs[Int]("width") < 80)
    // kinds partition the id space 3 ways
    val kinds = Multimodal.featureSummary(docs).collect()
    assert(kinds.map(_.getAs[String]("kind")).sorted.sameElements(
      Array("audio", "image", "video")))
    assert(kinds.map(_.getAs[Long]("n_items")).sum == docs.count())
  }

  test("frame sampling: n frames per video, offsets evenly spaced, payload sliced") {
    val media = Multimodal.fakeMediaFromDocs(docs)
    val frames = Multimodal.sampleFrames(media, 4)
    val nVideos = media.toDF().filter(col("kind") === "video").count()
    assert(frames.count() == nVideos * 4)
    val one = frames.filter(col("media_id") === 2).orderBy("frame_idx").collect()
    assert(one.map(_.getAs[Int]("frame_idx")).sameElements(Array(0, 1, 2, 3)))
    val offs = one.map(_.getAs[Int]("offset"))
    assert(offs.sameElements(offs.sorted) && offs.head == 0)
    assert(one.forall(_.getAs[Array[Byte]]("frame_payload").nonEmpty))
  }

  test("dimension means: exact per-dim averages, partition-order independent") {
    import spark.implicits._
    val d = Seq(
      ("a", Seq(1.0f, 2.0f)), ("a", Seq(3.0f, 6.0f)),
      ("b", Seq(0.5f, -0.5f))).toDF("src", "v")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.dimensionMeans(df, "src", "v").collect()
        .map(r => (r.getAs[String]("grp"), r.getAs[Int]("dim")) ->
          (r.getAs[Long]("n_vecs"), r.getAs[Double]("mean_val"))).toMap
    val out = run(d)
    assert(out(("a", 1)) == ((2L, 2.0)) && out(("a", 2)) == ((2L, 4.0)))
    assert(out(("b", 1)) == ((1L, 0.5)) && out(("b", 2)) == ((1L, -0.5)))
    // integer-unit accumulation: identical under any partitioning
    assert(run(d.repartition(5)) == out)
  }

  test("compression signal: repetitive text compresses harder, deterministic, empty-doc NULL ratio") {
    import spark.implicits._
    val d = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (2L, "quick zephyrs blow, vexing daft jim; lazy movers quit hard packing"),
      (3L, "")).toDF("doc_id", "text")
    val out = Corpus.compressionSignals(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bytes"), r.getAs[Long]("n_compressed"),
          Option(r.getAs[java.lang.Double]("ratio")).map(_.toDouble)))).toMap
    // the repeated-token doc compresses far below the pangram-ish one
    assert(out(1L)._3.get < out(2L)._3.get)
    assert(out(1L)._3.get < 0.5 && out(2L)._3.get > 0.5)
    // empty doc: 0 bytes, NULL ratio (not NaN, not a divide error)
    assert(out(3L)._1 == 0L && out(3L)._3.isEmpty)
    // fixed level+input => fixed output bytes, any partitioning
    val again = Corpus.compressionSignals(d.repartition(7), "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_compressed")).toMap
    assert(again == out.view.mapValues(_._2).toMap)
  }

  test("pii redaction: planted emails/ips/phones counted and replaced, clean text untouched") {
    import spark.implicits._
    val d = Seq(
      (1L, "contact bob.smith+spam@example.co.uk or admin@host.org today"),
      (2L, "server at 10.0.254.3 answered, backup at 192.168.1.1 did not"),
      (3L, "call +1 555 123 4567 or 020-7946-0958 now"),
      (4L, "mixed: a@b.io from 127.0.0.1 dialed 555 867 5309"),
      (5L, "perfectly clean prose with the number 42 and word e-mail"))
      .toDF("doc_id", "text")
    val out = Corpus.piiRedact(d, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_emails"), r.getAs[Long]("n_ips"),
          r.getAs[Long]("n_phones"), r.getAs[String]("redacted_hash")))).toMap
    assert(out(1L)._1 == 2 && out(1L)._2 == 0 && out(1L)._3 == 0)
    assert(out(2L)._1 == 0 && out(2L)._2 == 2 && out(2L)._3 == 0)
    assert(out(3L)._1 == 0 && out(3L)._2 == 0 && out(3L)._3 == 2)
    assert(out(4L) == ((1L, 1L, 1L, out(4L)._4)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // replacement verified against hand-redacted strings, not just counts
    assert(out(1L)._4 == md5hex("contact <EMAIL> or <EMAIL> today"))
    assert(out(2L)._4 == md5hex("server at <IP> answered, backup at <IP> did not"))
    assert(out(3L)._4 == md5hex("call <PHONE> or <PHONE> now"))
    assert(out(4L)._4 == md5hex("mixed: <EMAIL> from <IP> dialed <PHONE>"))
    // a clean doc's redacted hash IS md5(text): redaction is identity
    assert(out(5L)._4 == md5hex("perfectly clean prose with the number 42 and word e-mail"))
  }

  test("semantic decontamination: planted paraphrase-leak flagged, orthogonal doc clean") {
    import spark.implicits._
    def unit(dim: Int, at: Int*) = {
      val a = Array.fill(8)(0f); at.foreach(i => a(i) = 1f); a.toSeq
    }
    val eval = Seq((1000L, unit(8, 0)), (1001L, unit(8, 3)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(0.98f, 0.1f, 0f, 0f, 0f, 0f, 0f, 0f)), // ~eval 1000
      (2L, unit(8, 5)), // orthogonal to both eval vectors
      (3L, Seq(0f, 0f, 0f, 0.9f, 0.2f, 0f, 0f, 0f)), // ~eval 1001
      (4L, Seq(0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))) // zero-norm: excluded
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticContamination(
        corpus, eval, "vec_id", "embedding", threshold = 0.8,
        nCells = 4, assignProbe = 4) // full probe: no recall excuse
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("n_eval_near"), r.getAs[Boolean]("contaminated"))))
      .toMap
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((0L, false)))
    assert(out(3L) == ((1L, true)))
    assert(!out.contains(4L), "zero-norm vectors have no cosine")
    assert(out.size == 3)
  }

  test("compression signals: golden deflate values from an independent zlib") {
    import spark.implicits._
    // (n_bytes, n_compressed) pinned against CPython's zlib
    // (compressobj(6, DEFLATED, -15) — raw deflate, level 6), a second
    // zlib implementation: this gates the deflate half of p35 that no
    // SQL oracle can express, cross-implementation rather than
    // self-referentially re-running java.util.zip
    val golden = Seq(
      (1L, "", 0L, 2L),
      (2L, "hello world", 11L, 13L),
      (3L, "héllo wörld ∑", 17L, 19L), // utf-8 byte counting, not chars
      (4L, "spam " * 200, 1000L, 15L), // run-length collapse
      (5L, "The quick brown fox jumps over the lazy dog. " * 4, 180L, 49L))
    val out = Corpus.compressionSignals(
        golden.map { case (id, t, _, _) => (id, t) }.toDF("doc_id", "text"),
        "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bytes"), r.getAs[Long]("n_compressed"),
          Option(r.getAs[java.lang.Double]("ratio"))))).toMap
    golden.foreach { case (id, _, nb, nc) =>
      assert(out(id)._1 == nb, s"doc $id n_bytes")
      assert(out(id)._2 == nc, s"doc $id n_compressed")
    }
    // ratio is exactly n_compressed/n_bytes (one IEEE divide), NULL at 0
    assert(out(1L)._3.isEmpty)
    assert(out(4L)._3.contains(15.0 / 1000.0))
  }

  test("image resize: images only, target dims attached, payload contracted deterministically") {
    val media = Multimodal.fakeMediaFromDocs(docs)
    val out = Multimodal.resizeImages(media, 32, 32)
    val nImages = media.toDF().filter(col("kind") === "image").count()
    assert(out.count() == nImages)
    val rows = out.collect()
    assert(rows.forall(r => r.getAs[Int]("width") == 32
      && r.getAs[Int]("height") == 32))
    // stub contract: output payload is stride-sampled to <= W*H/8 bytes
    assert(rows.forall(_.getAs[Array[Byte]]("payload").length <= 128))
    // deterministic: same input -> same bytes
    val again = Multimodal.resizeImages(media, 32, 32).collect()
      .map(r => r.getAs[Long]("media_id") ->
        r.getAs[Array[Byte]]("payload").toSeq).toMap
    assert(rows.forall(r => again(r.getAs[Long]("media_id"))
      == r.getAs[Array[Byte]]("payload").toSeq))
  }

  test("embedding near-dup: symmetric threshold, ida < idb") {
    val pairs = Dedup.embeddingNearDupPairs(embs, "vec_id", "embedding", 0.45)
      .collect()
    assert(pairs.forall(r => r.getAs[Long]("ida") < r.getAs[Long]("idb")))
  }

  test("bloom decontamination ≡ exact decontamination; probe is a map-side filter") {
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("text"))
    val eval = docs.filter(col("doc_id") % 7 === 0).select(col("text"))
    val exact = graft.operators.Decontaminate
      .ngramOverlap(corpus, eval, "doc_id", "text", n = 5, minHits = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    val bloom = graft.operators.Decontaminate
      .bloomNgramOverlap(corpus, eval, "doc_id", "text", n = 5, minHits = 2)
    val got = bloom.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // exactness: false positives die in the verify join, no false
    // negatives exist — verdict maps are identical
    assert(got == exact)
    assert(exact.exists(_._2._2), "fixture should contain contamination")
    // the probe runs as a plain Filter (might_contain against the
    // sketch literal), before any join of the corpus gram stream
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.linesIterator.take(8).mkString("\n"))
  }

  test("split: partitions the corpus, stable under corpus growth, cuts validated") {
    val full = Corpus.splitStats(docs, "doc_id", "text").collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("n_docs")).toMap
    assert(full.values.sum == docs.count())
    assert(full.keySet == Set("train", "val", "test"))
    // growth stability: restricting the corpus only SHRINKS each split —
    // no doc changes sides when others disappear (hash of own id only)
    val half = Corpus.splitStats(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text").collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("n_docs")).toMap
    assert(half.forall { case (s, n) => n <= full(s) })
    intercept[IllegalArgumentException] {
      Corpus.splitStats(docs, "doc_id", "text", Seq("train" -> 50))
    }
    // equal upper bounds would make a split silently unreachable
    intercept[IllegalArgumentException] {
      Corpus.splitStats(docs, "doc_id", "text",
        Seq("train" -> 80, "val" -> 80, "test" -> 100))
    }
    // NULL-id docs surface as a NULL split row, never pollute a split
    import spark.implicits._
    val withNull = Seq((Some(1L), "one doc"), (None, "lost doc"))
      .toDF("doc_id", "text")
    val ns = Corpus.splitStats(withNull, "doc_id", "text").collect()
      .map(r => Option(r.getAs[String]("split")) -> r.getAs[Long]("n_docs"))
      .toMap
    assert(ns(None) == 1L && ns.values.sum == 2L)
  }

  test("tokenBudgetSelect: prefix by (score desc, id), budget boundary inclusive") {
    import spark.implicits._
    val scored = Seq(
      (1L, "a", 40L, 0.9), (2L, "a", 40L, 0.8), (3L, "a", 40L, 0.7),
      (4L, "a", 5L, 0.95), // high-quality small doc ranks first
      (5L, "b", 200L, 0.5)) // single over-budget doc in its own group
      .toDF("doc_id", "grp", "n_tokens", "score")
    val out = Corpus.tokenBudgetSelect(
        scored, "doc_id", "grp", "n_tokens", "score", 100L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cum_tokens"), r.getAs[Boolean]("kept")))).toMap
    // group a rank order: 4 (cum 5), 1 (45), 2 (85), 3 (125 > 100 drops)
    assert(out(4L) == ((5L, true)))
    assert(out(1L) == ((45L, true)))
    assert(out(2L) == ((85L, true)))
    assert(out(3L) == ((125L, false)))
    // a doc that alone exceeds the budget is dropped, not truncated
    assert(out(5L) == ((200L, false)))
    // exact fit is INCLUSIVE: budget 125 keeps the boundary doc
    val exact = Corpus.tokenBudgetSelect(
        scored, "doc_id", "grp", "n_tokens", "score", 125L)
      .filter(col("kept")).count()
    assert(exact == 4L)
  }

  test("tokenBudgetHistogram: kept set within one boundary bin of the exact cut, no doc-row window") {
    // the scale form's approximation contract, pinned against the exact
    // operator on the real corpus with a BINDING budget: (a) histogram-
    // kept ⊆ exact-kept (bins partition scores, so every whole bin above
    // the cutoff is also an exact-prefix member); (b) the kept-token
    // gap per group is bounded by that group's boundary-bin mass;
    // (c) kept mass never exceeds the budget
    val budget = 100L
    val scored = // sf0.001: per-source token mass ~155, so 100 binds
      SparkEntry.queries("p43_token_budget")(spark, "/root/testdata/sf0.001")
        .select(col("doc_id"), col("grp"), col("n_tokens"), col("quality"))
    val exact = Corpus.tokenBudgetSelect(
      scored, "doc_id", "grp", "n_tokens", "quality", budget)
    val hist = Corpus.tokenBudgetHistogram(
      scored, "doc_id", "grp", "n_tokens", "quality", budget, bins = 64)
    val exactKept = exact.filter(col("kept"))
      .select(col("grp"), col("doc_id"), col("n_tokens")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val histRows = hist
      .select(col("grp"), col("doc_id"), col("n_tokens"),
        col("score_bin"), col("kept")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getBoolean(4)))
    val histKeptIds = histRows.filter(_._5).map(t => (t._1, t._2)).toSet
    val exactKeptIds = exactKept.map(t => (t._1, t._2)).toSet
    assert(histKeptIds.nonEmpty, "budget must bind with a nonempty keep")
    assert(histKeptIds.subsetOf(exactKeptIds),
      "histogram-kept docs must all be exact-kept (subset property)")
    val groups = histRows.map(_._1).distinct
    for (g <- groups) {
      val histMass = histRows.filter(t => t._1 == g && t._5).map(_._3).sum
      val exactMass = exactKept.filter(_._1 == g).map(_._3).sum
      assert(histMass <= budget, s"group $g kept mass $histMass > budget")
      // boundary bin = highest non-kept bin in the group (the cutoff)
      val boundaryBin = histRows.filter(t => t._1 == g && !t._5)
        .map(_._4).maxOption
      val boundaryMass = boundaryBin.map(b =>
        histRows.filter(t => t._1 == g && t._4 == b).map(_._3).sum)
        .getOrElse(0L)
      assert(exactMass - histMass >= 0 && exactMass - histMass <= boundaryMass,
        s"group $g gap ${exactMass - histMass} exceeds boundary bin $boundaryMass")
    }
    // the scale claim itself: no window/sort ever touches doc rows —
    // every WindowExec in the plan sits above an aggregation (the
    // G×bins histogram), never above the raw scan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    val windows = hist.queryExecution.executedPlan.collect {
      case w: WindowExec => w
    }
    windows.foreach { w =>
      val aggBelow = w.child.collect {
        case a: HashAggregateExec => a
        case a: ObjectHashAggregateExec => a
        case a: SortAggregateExec => a
      }
      assert(aggBelow.nonEmpty,
        s"a WindowExec runs over raw doc rows:\n$w")
    }
  }

  test("tokenBudgetHistogram edges: one-score group all-or-nothing, fitting group kept whole") {
    import spark.implicits._
    val scored = Seq(
      // group "flat": one distinct score — one bin, the honest limit of
      // score-resolution selection: either everything fits or nothing keeps
      (1L, "flat", 40L, 0.5), (2L, "flat", 40L, 0.5), (3L, "flat", 40L, 0.5),
      // group "fits": total mass 30 ≤ budget — no cutoff row, keep all
      (4L, "fits", 10L, 0.9), (5L, "fits", 20L, 0.1))
      .toDF("doc_id", "grp", "n_tokens", "score")
    def kept(budget: Long) = Corpus.tokenBudgetHistogram(
        scored, "doc_id", "grp", "n_tokens", "score", budget, bins = 8)
      .filter(col("kept")).select(col("grp"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // budget 120: flat's 120 fits entirely; fits' 30 fits entirely
    assert(kept(120L) ==
      Set("flat" -> 1L, "flat" -> 2L, "flat" -> 3L, "fits" -> 4L, "fits" -> 5L))
    // budget 100: flat's single bin (mass 120) exceeds it -> NOTHING
    // keeps (all-or-nothing at one-bin resolution); fits is untouched
    assert(kept(100L) == Set("fits" -> 4L, "fits" -> 5L))
  }

  test("top ngrams: known duplicated trigram ranks first, df exact, distinct-per-doc") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown cat sits"),
      (3L, "the quick brown dog runs"),
      // repeats "the quick brown" TWICE in one doc: df counts docs, not
      // occurrences (shingles are distinct per doc)
      (4L, "the quick brown the quick brown")).toDF("doc_id", "text")
    val out = Corpus.topNgrams(d, "doc_id", "text", n = 3, k = 5)
      .collect().map(r => (r.getAs[String]("ngram"), r.getAs[Long]("df"),
        r.getAs[Int]("rnk")))
    assert(out.head._1 == "the quick brown" && out.head._2 == 4L
      && out.head._3 == 1)
    // every reported df honors minDf and comes from distinct docs
    assert(out.forall(_._2 >= 2))
  }

  test("int8 quantization audit: error bounded by half a quant step, zero vectors excluded") {
    import spark.implicits._
    val d = Seq(
      (1L, Seq(1.0f, -0.5f, 0.25f, 0.1f)),
      (2L, Seq(0f, 0f, 0f, 0f)), // excluded: no scale exists
      (3L, Seq(-2.0f, 2.0f, 0.003f, 1.5f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8Audit(d, "vec_id", "embedding")
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("scale"), r.getAs[Double]("max_abs_err"))).toMap
    assert(!out.contains(2L))
    // |x - q/s| <= 0.5/s for round-to-nearest
    out.foreach { case (_, (s, err)) => assert(err <= 0.5 / s + 1e-12) }
    // the max component maps to exactly +/-127: zero error there, and
    // scale = 127/absmax
    assert(out(1L)._1 == 127.0 / 1.0)
    assert(out(3L)._1 == 127.0 / 2.0)
  }

  test("pq learned codebooks: k=1 degrades to the per-subspace mean, not a spark.ml crash") {
    import spark.implicits._
    // one training vector: spark.ml KMeans rejects k=1, so the fallback
    // must produce the mean (= the vector itself) per subspace
    val v = (0 until 16).map(i => (i + 1) * 0.5)
    val one = Seq(Tuple1(v)).toDF("v")
    val books = Similarity.pqKmeansCodebooks(one, "v", m = 4, nCodes = 32)
    assert(books.length == 4 && books.forall(_.length == 1))
    for (j <- 0 until 4; i <- 0 until 4)
      assert(math.abs(books(j)(0)(i) - v(j * 4 + i)) < 1e-12)
    // nCodes=1 over many rows: the one code is the subspace mean
    val many = Seq(Tuple1(Seq.fill(16)(1.0)), Tuple1(Seq.fill(16)(3.0)))
      .toDF("v")
    val mb = Similarity.pqKmeansCodebooks(many, "v", m = 4, nCodes = 1)
    for (j <- 0 until 4; i <- 0 until 4)
      assert(math.abs(mb(j)(0)(i) - 2.0) < 1e-12)
  }

  test("signPack: exact bit layout, multi-word vectors, hamming == sign mismatches") {
    import spark.implicits._
    val d = Seq(
      (1L, Seq(0.5, -1.0, 0.0)), // bits 0 and 2 (-0.0/0.0 pack as set)
      (2L, Seq(-0.5, 2.0, -3.0))) // bit 1
      .toDF("id", "v")
    val packs = d.select(col("id"), Similarity.signPack(col("v")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(packs(1L) == Seq(5L))
    assert(packs(2L) == Seq(2L))
    // 70 dims span two words; bits past the last dim stay zero
    val wide = Seq(Tuple1((0 until 70).map(i => if (i % 3 == 0) 1.0 else -1.0)))
      .toDF("v")
    val w = wide.select(Similarity.signPack(col("v")).as("b"))
      .head().getSeq[Long](0)
    val exp0 = (0 until 64).filter(_ % 3 == 0).map(1L << _).reduce(_ | _)
    val exp1 = (64 until 70).filter(_ % 3 == 0).map(i => 1L << (i - 64))
      .reduce(_ | _)
    assert(w == Seq(exp0, exp1))
    // hamming over packs counts per-dimension sign mismatches: the two
    // 3-dim vectors disagree on every dimension
    val ham = d.filter(col("id") === 1L).select(Similarity.signPack(col("v")).as("a"))
      .crossJoin(d.filter(col("id") === 2L).select(Similarity.signPack(col("v")).as("b")))
      .select(Similarity.hamming(col("a"), col("b"))).head().getInt(0)
    assert(ham == 3)
    // empty vector packs to an empty array (no element_at(v, 0) probe
    // from the descending sequence(0, -1)) — the helper is total even
    // on vectors a withNorm filter never passes it
    val empty = Seq(Tuple1(Seq.empty[Double])).toDF("v")
      .select(Similarity.signPack(col("v")).as("b"))
      .head().getSeq[Long](0)
    assert(empty.isEmpty)
  }

  test("binary ANN: corpus-wide oversample degenerates to exact; recall >= 0.6 at 4x") {
    val queries = embs.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(queries, embs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // shortlist >= corpus size probes everything: the 1-bit tier
    // degenerates to brute-force exactly (same re-rank, same tie-break)
    val full = Similarity.binaryTopK(queries, embs, "vec_id", "embedding", 5,
        oversample = 1000)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(full == exact)
    val bin = Similarity.binaryTopK(queries, embs, "vec_id", "embedding", 5,
        oversample = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact intersect bin).size.toDouble / exact.size
    assert(recall >= 0.6, s"binary ANN recall $recall")
  }

  test("IVF-residual binary: full probe + corpus oversample degenerates to exact; beats raw-sign binary on clustered data") {
    val queries = embs.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(queries, embs, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // every cell probed + corpus-wide shortlist: the Hamming order
    // stops mattering and the exact re-rank IS brute force
    val full = Similarity.ivfBinaryTopK(queries, embs, "vec_id", "embedding", 5,
        nCells = 8, nProbe = 8, oversample = 1000)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(full == exact)
    // the design claim (measured at probe scale in SCALE.md), pinned on
    // a clustered fixture: within-cell residual signs out-discriminate
    // raw signs at the same tight oversample
    val cl = graft.tools.SyntheticVectors.clustered(spark, n = 1500)
    val cq = cl.filter(col("vec_id") % 50 === 0)
    val truth = Similarity.bruteForceTopK(cq, cl, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame) = {
      val got = df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      (truth intersect got).size.toDouble / truth.size
    }
    val raw = recallOf(Similarity.binaryTopK(cq, cl, "vec_id", "embedding", 5,
      oversample = 4))
    val resid = recallOf(Similarity.ivfBinaryTopK(cq, cl, "vec_id", "embedding", 5,
      oversample = 4))
    assert(resid > raw,
      s"residual-sign recall $resid should beat raw-sign $raw on clustered data")
  }

  test("binary ANN handles non-multiple-of-64 dims end-to-end") {
    import spark.implicits._
    // 70 dims → 2-word packs with 6 live bits in word 1; full oversample
    // must still equal brute force (pad bits never poison the hamming)
    val d = (0 until 30).map { i =>
      (i.toLong, (0 until 70).map(j =>
        math.sin(i * 70 + j + 1).toFloat))
    }.toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(d.filter(col("vec_id") < 3), d,
        "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val bin = Similarity.binaryTopK(d.filter(col("vec_id") < 3), d,
        "vec_id", "embedding", 5, oversample = 100)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(bin == exact)
  }

  test("epoch shuffle: permutation of 1..n, (hash,id) total order, layout-invariant, seed-sensitive") {
    val out = Corpus.epochShuffle(docs, "doc_id", 42L).collect()
    val n = out.length.toLong
    assert(n == docs.count())
    assert(out.map(_.getAs[Long]("pos")).sorted.toSeq == (1L to n))
    // positions follow the logical (skey, doc_id) total order
    val ordered = out.sortBy(r => (r.getAs[Long]("skey"), r.getAs[Long]("doc_id")))
    assert(ordered.map(_.getAs[Long]("pos")).toSeq == (1L to n))
    val base = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pos")).toMap
    // partition layout never changes a position (range boundaries only
    // decide WHERE a row sits, not its global order)
    val re = Corpus.epochShuffle(docs.repartition(7), "doc_id", 42L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pos")).toMap
    assert(re == base)
    // a different seed is a different permutation
    val other = Corpus.epochShuffle(docs, "doc_id", 43L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("pos")).toMap
    assert(other != base)
    // empty input: empty output, not a crash in the zipWithIndex hop
    assert(Corpus.epochShuffle(docs.filter(lit(false)), "doc_id", 42L)
      .count() == 0)
  }

  test("orderedPrefixSum: exact running totals, layout-invariant, nulls add 0, rejects non-bigint") {
    import spark.implicits._
    val d = Seq((1L, 10L), (2L, 20L), (3L, 5L), (4L, 7L), (5L, 1L))
      .toDF("id", "v")
    val out = Corpus.orderedPrefixSum(d, Seq("id"), "v", "cum")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cum")).toMap
    assert(out == Map(1L -> 10L, 2L -> 30L, 3L -> 35L, 4L -> 42L, 5L -> 43L))
    // partition layout never changes a total (the offsets describe the
    // persisted partitioning both jobs read)
    val re = Corpus.orderedPrefixSum(d.repartition(4), Seq("id"), "v", "cum")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cum")).toMap
    assert(re == out)
    // nulls add 0 — the SUM OVER convention
    val withNull = Seq((1L, Some(10L)), (2L, None), (3L, Some(5L)))
      .toDF("id", "v")
    val nn = Corpus.orderedPrefixSum(withNull, Seq("id"), "v", "cum")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cum")).toMap
    assert(nn == Map(1L -> 10L, 2L -> 10L, 3L -> 15L))
    // an int value column is a loud error, not a silent wrong fold
    val ints = Seq((1L, 10)).toDF("id", "v")
    intercept[IllegalArgumentException] {
      Corpus.orderedPrefixSum(ints, Seq("id"), "v", "cum")
    }
    spark.catalog.clearCache()
  }

  test("exactKPerGroup: exact counts, deterministic, small groups kept whole") {
    import spark.implicits._
    val d = ((1L to 30L).map(i => (i, "big")) ++ Seq((100L, "tiny")))
      .toDF("doc_id", "source")
    val out = Corpus.exactKPerGroup(d, "source", "doc_id", 5).collect()
    val byGrp = out.groupBy(_.getAs[String]("grp"))
    assert(byGrp("big").length == 5)
    assert(byGrp("tiny").length == 1) // min(k, |group|)
    assert(byGrp("big").map(_.getAs[Int]("rnk")).sorted.toSeq == (1 to 5))
    // deterministic: same hash-order pick on re-run and re-layout
    val again = Corpus.exactKPerGroup(d.repartition(7), "source", "doc_id", 5)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("doc_id"))).toSet
    assert(again == out.map(r => (r.getAs[String]("grp"), r.getAs[Long]("doc_id"))).toSet)
  }

  test("canonical keep: max-rank doc survives per family, min-id tie-break, singletons keep themselves") {
    import spark.implicits._
    val d = Seq(
      (1L, 100L), (2L, 300L), (3L, 200L), // family 1 → keeper 2 (longest)
      (4L, 50L), // singleton
      (5L, 10L), (6L, 10L)) // family 5, rank tie → min id 5
      .toDF("doc_id", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "cluster_id")
    val out = Dedup.canonicalKeep(d, "doc_id", "n_chars", clusters)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Long]("kept_id"),
          r.getAs[Boolean]("is_kept")))).toMap
    assert(out(1L) == ((1L, 2L, false)))
    assert(out(2L) == ((1L, 2L, true)))
    assert(out(3L) == ((1L, 2L, false)))
    assert(out(4L) == ((4L, 4L, true)))
    assert(out(5L) == ((5L, 5L, true)))
    assert(out(6L) == ((5L, 5L, false)))
    // exactly one keeper per family
    assert(out.values.count(_._3) == 3)
  }

  test("bm25: rare-term doc outranks common-term doc, self excluded, layout-invariant") {
    import spark.implicits._
    // query doc 10 leads with "zebra quark"; zebra appears in ONE other
    // doc, quark in THREE → the zebra doc must outrank any quark-only doc
    val d = Seq(
      (10L, "zebra quark filler words here"),
      (1L, "zebra walks alone tonight"),
      (2L, "quark soup again today"),
      (3L, "quark salad every day"),
      (4L, "quark stew for dinner"),
      (5L, "nothing relevant at all"))
      .toDF("doc_id", "text")
    val out = Corpus.bm25TopK(d, "doc_id", "text",
      col("doc_id") === 10L, nQueryTerms = 2, k = 10)
    val rows = out.collect().map(r => (r.getAs[Long]("query_id"),
      r.getAs[Int]("rnk"), r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    // self never scored; doc 5 shares no term → absent
    assert(!rows.exists(_._3 == 10L) && !rows.exists(_._3 == 5L))
    assert(rows.map(_._3).toSet == Set(1L, 2L, 3L, 4L))
    // rare zebra beats common quark
    assert(rows.find(_._2 == 1).get._3 == 1L)
    // ties among the quark docs break by doc_id (identical tf/dl/df)
    assert(rows.sortBy(_._2).map(_._3).toSeq == Seq(1L, 2L, 3L, 4L))
    // bit-identical scores under a different partition layout
    val out2 = Corpus.bm25TopK(d.repartition(7), "doc_id", "text",
      col("doc_id") === 10L, nQueryTerms = 2, k = 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    assert(rows.sortBy(r => (r._1, r._2)).toSeq ==
      out2.sortBy(r => (r._1, r._2)).toSeq)
    // maxDf drops the stop term: cap df at 2 → quark (df 3, counting the
    // query doc's own posting) is gone, only the zebra doc remains
    val capped = Corpus.bm25TopK(d, "doc_id", "text",
      col("doc_id") === 10L, nQueryTerms = 2, k = 10, maxDf = Some(2L))
    assert(capped.collect().map(_.getAs[Long]("doc_id")).toSet == Set(1L))
  }

  test("cms: df_est >= true df, exact at collision-free width, absent gram = 0") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma other"),
      (3L, "alpha beta gamma words"),
      (4L, "totally unrelated text here"))
      .toDF("doc_id", "text")
    // true df: "alpha beta gamma" in 3 docs, "beta gamma delta" in 1
    val truth = Dedup.shingleDocs(d, "doc_id", "text", 3)
      .select(col("doc_id"), explode(col("shingles")).as("ngram"))
      .groupBy("ngram").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val cands = (truth.keys.toSeq :+ "never seen anywhere").toDF("ngram")
    // tiny width forces collisions → estimates only ever OVER-count
    val tiny = Corpus.cmsEstimateDf(
      Corpus.cmsNgramMatrix(d, "doc_id", "text", 3, depth = 4, width = 8),
      cands, "ngram", depth = 4, width = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (g, df) => assert(tiny(g) >= df, s"under-count $g") }
    // generous width → collision-free → exact df, absent gram hits an
    // empty bucket in at least one row → min = 0
    val wide = Corpus.cmsEstimateDf(
      Corpus.cmsNgramMatrix(d, "doc_id", "text", 3, depth = 4, width = 65536),
      cands, "ngram", depth = 4, width = 65536)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (g, df) => assert(wide(g) == df) }
    assert(wide("never seen anywhere") == 0L)
    // the matrix never exceeds depth x width rows
    val m = Corpus.cmsNgramMatrix(d, "doc_id", "text", 3, 4, 8)
    assert(m.count() <= 4L * 8L)
  }

  test("posting index: serves bm25TopK row-for-row through build, append, and compact") {
    import graft.operators.PostingIndex
    import spark.implicits._
    val name = "graft_postidx"
    val all = Seq(
      (10L, "zebra quark filler words here"),
      (1L, "zebra walks alone tonight"),
      (2L, "quark soup again today"),
      (3L, "quark salad every day"),
      (4L, "quark stew for dinner"),
      (5L, "nothing relevant at all"))
      .toDF("doc_id", "text")
    val queries = all.filter(col("doc_id") === 10L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
        .sortBy(t => (t._1, t._2)).toSeq
    // the in-memory truth — scores must match BIT-FOR-BIT, not by rank
    val mem = rows(Corpus.bm25TopK(all, "doc_id", "text",
      col("doc_id") === 10L, nQueryTerms = 2, k = 10))
    try {
      PostingIndex.build(all, "doc_id", "text", name, buckets = 4)
      assert(rows(PostingIndex.topK(queries, "doc_id", "text", name,
        nQueryTerms = 2, k = 10)) == mem)
      // grown store: base holds half the corpus, the rest appended —
      // stats and df must come out identical to the one-shot build
      PostingIndex.build(all.filter(col("doc_id") <= 2L),
        "doc_id", "text", name, buckets = 4)
      PostingIndex.append(all.filter(col("doc_id") > 2L),
        "doc_id", "text", name, batchId = 0L)
      assert(rows(PostingIndex.topK(queries, "doc_id", "text", name,
        nQueryTerms = 2, k = 10)) == mem)
      // torn-batch repair: a half-committed batch prunes away cleanly
      PostingIndex.append(Seq((99L, "zebra zebra zebra"))
        .toDF("doc_id", "text"), "doc_id", "text", name, batchId = 1L)
      PostingIndex.pruneBatch(spark, name, 1L)
      assert(rows(PostingIndex.topK(queries, "doc_id", "text", name,
        nQueryTerms = 2, k = 10)) == mem)
      // compaction folds the committed batch into base, answers frozen
      spark.catalog.clearCache()
      PostingIndex.compact(spark, name)
      assert(spark.table(s"${name}_post").select("batch_id").distinct()
        .collect().map(_.getLong(0)).toSet == Set(-1L))
      assert(spark.table(s"${name}_stats").count() == 1L)
      assert(rows(PostingIndex.topK(queries, "doc_id", "text", name,
        nQueryTerms = 2, k = 10)) == mem)
    } finally {
      Seq(s"${name}_post", s"${name}_stats", s"${name}_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("cms merge: per-batch matrices sum to exactly the whole-corpus matrix") {
    import spark.implicits._
    val a = Seq((1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma other")).toDF("doc_id", "text")
    val b = Seq((3L, "alpha beta gamma words"),
      (4L, "totally unrelated text here")).toDF("doc_id", "text")
    val whole = a.union(b)
    def mx(df: org.apache.spark.sql.DataFrame) =
      Corpus.cmsNgramMatrix(df, "doc_id", "text", 3, depth = 4, width = 16)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Int]("rw"), r.getAs[Long]("bucket")) ->
        r.getAs[Long]("cnt")).toMap
    // bit-exact distributivity: merge of the batch sketches IS the
    // whole-corpus sketch — the property every incremental use relies on
    assert(cells(Corpus.cmsMerge(mx(a), mx(b))) == cells(mx(whole)))
    // merged matrix answers estimates identically to the direct one
    val cands = Seq("alpha beta gamma", "never seen anywhere").toDF("ngram")
    val viaMerge = Corpus.cmsEstimateDf(
        Corpus.cmsMerge(mx(a), mx(b)), cands, "ngram", 4, 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = Corpus.cmsEstimateDf(mx(whole), cands, "ngram", 4, 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaMerge == direct)
  }

  test("fuzzy name pairs: edit-distance gate, block cap, exact-group support counts") {
    import spark.implicits._
    val d = Seq(
      (1L, "Acme Widget Corp"),
      (2L, "acme widget corp"),   // exact dup after normText → same name row
      (3L, "Acme Widgets Corp"),  // dist 1 from "acme widget corp"
      (4L, "Acme Gadget Corp Limited"), // shares blocks, dist 10 — outside the gate
      (5L, "Zenith Lamps"),
      (6L, "Zenith Lampz"))       // dist 1
      .toDF("id", "name")
    val out = graft.operators.Resolve
      .fuzzyNamePairs(d, "id", "name", maxDist = 2)
    val pairs = out.collect().map(r => (r.getAs[String]("name_a"),
      r.getAs[String]("name_b"), r.getAs[Int]("dist"),
      r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
      r.getAs[Long]("n_a"), r.getAs[Long]("n_b")))
    assert(pairs.length == 2)
    val acme = pairs.find(_._1.startsWith("acme widget")).get
    // lexical order, rep = min record id, support counts the exact dups
    assert(acme == (("acme widget corp", "acme widgets corp", 1, 1L, 3L, 2L, 1L)))
    assert(pairs.exists(p => p._1 == "zenith lamps" && p._2 == "zenith lampz"
      && p._3 == 1 && p._6 == 1L && p._7 == 1L))
    // a tight block cap kills the oversized blocks: "acme" and "corp"
    // each cover 3 names (> 2) → dropped; the acme pair loses its only
    // shared tokens, only zenith's 2-name block survives
    val capped = graft.operators.Resolve
      .fuzzyNamePairs(d, "id", "name", maxDist = 2, maxBlock = 2)
    assert(capped.collect().map(r => r.getAs[String]("name_a")).toSet ==
      Set("zenith lamps"))
  }

  test("fuzzy name pairs: a block of exactly maxBlock names pairs fully, one more drops it") {
    import spark.implicits._
    val k = 4
    // "yy" blocks k names, "zz" k + 1; every other token is one name's
    // own, and names within a block sit one edit apart
    val yy = ('a' until ('a' + k).toChar).map(c => s"yy q$c")
    val zz = ('a' to ('a' + k).toChar).map(c => s"zz r$c")
    val d = (yy ++ zz).zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("id", "name")
    val got = graft.operators.Resolve
      .fuzzyNamePairs(d, "id", "name", maxDist = 1, maxBlock = k.toLong)
      .collect().map(r => (r.getAs[String]("name_a"), r.getAs[String]("name_b")))
    assert(got.length == k * (k - 1) / 2, got.mkString(", "))
    assert(got.toSet == yy.combinations(2).map(p => (p(0), p(1))).toSet)
  }

  test("entity ids: transitive closure through a chain, singletons self, dups co-assign") {
    import spark.implicits._
    // chain: lampa ~ lampb ~ lampc (a↔c is dist 2, still an edge, but
    // transitivity is what forces one entity even without it); "acme
    // widget" far from all; record 6 is an exact dup of record 2's name
    val d = Seq(
      (1L, "zenith lampa"),
      (2L, "zenith lampb"),
      (3L, "zenith lampc"),
      (4L, "acme widget"),
      (5L, ""),                 // empty after norm → excluded
      (6L, "Zenith LampB"))     // exact dup of 2 after norm
      .toDF("id", "name")
    val out = graft.operators.Resolve.entityIds(d, "id", "name", maxDist = 1)
      .collect().map(r => r.getAs[Long]("rid") ->
        ((r.getAs[String]("name"), r.getAs[Long]("entity_id")))).toMap
    // min record id of the connected family labels everyone
    assert(out(1L)._2 == 1L && out(2L)._2 == 1L && out(3L)._2 == 1L)
    assert(out(6L) == (("zenith lampb", 1L)))
    // unlinked name keeps its own rep as a singleton entity
    assert(out(4L)._2 == 4L)
    // empty-name record carries no linkage evidence → excluded
    assert(!out.contains(5L) && out.size == 5)
  }

  test("golden records: mode survivorship with deterministic tie-break, nulls ignored") {
    import spark.implicits._
    // entity {1,2,3,6}: brand majority B (2 of 3 non-null), size tie
    // 10 vs 20 (1 each) → value-asc pick 10; record 3's null brand is
    // evidence of nothing
    val d = Seq(
      (1L, "zenith lampa", Some("A"), Some(10)),
      (2L, "zenith lampb", Some("B"), Some(20)),
      (3L, "zenith lampc", None: Option[String], None: Option[Int]),
      (6L, "zenith lampb", Some("B"), None: Option[Int]),
      (4L, "acme widget", Some("C"), Some(7)))
      .toDF("id", "name", "brand", "sz")
    val out = graft.operators.Resolve.goldenRecords(
      d, "id", "name", maxDist = 1, attrs = Seq("brand", "sz"))
      .collect().map(r => r.getAs[Long]("entity_id") ->
        ((r.getAs[Long]("n_records"), r.getAs[String]("canonical_name"),
          r.getAs[String]("brand"), r.get(r.fieldIndex("sz"))))).toMap
    assert(out.size == 2)
    // canonical name = most supported variant (lampb appears twice)
    assert(out(1L) == ((4L, "zenith lampb", "B", 10)))
    assert(out(4L) == ((1L, "acme widget", "C", 7)))
    // all-null attribute stays null, never invents a value
    val allNull = Seq((1L, "solo name", None: Option[String]))
      .toDF("id", "name", "brand")
    val g = graft.operators.Resolve.goldenRecords(
      allNull, "id", "name", maxDist = 1, attrs = Seq("brand")).collect()
    assert(g.length == 1 && g(0).isNullAt(g(0).fieldIndex("brand")))
  }

  test("cms heavy hitters: exact result through a colliding sketch, est >= df") {
    import spark.implicits._
    val d = (1 to 8).map(i => (i.toLong, "the common prefix here"))
      .toDF("doc_id", "text")
      .union(Seq((9L, "one rare trigram only"),
        (10L, "another rare gram text")).toDF("doc_id", "text"))
    // naive truth: df per trigram
    val truth = Dedup.shingleDocs(d, "doc_id", "text", 3)
      .select(explode(col("shingles")).as("ngram"))
      .groupBy("ngram").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = truth.filter(_._2 >= 3L)
    // width 4 forces heavy collisions — the answer must not change
    val out = Corpus.cmsHeavyHitters(d, "doc_id", "text",
      n = 3, depth = 4, width = 4, minDf = 3L)
      .collect().map(r => (r.getAs[String]("ngram"), r.getAs[Long]("df"),
        r.getAs[Long]("df_est")))
    assert(out.map(h => h._1 -> h._2).toMap == expect)
    out.foreach(h => assert(h._3 >= h._2, s"sketch under-counted ${h._1}"))
    // sub-threshold grams never surface even if their sketch cell is hot
    assert(out.forall(_._2 >= 3L))
  }

  test("split by group: near-dup families never straddle splits, growth-stable") {
    import spark.implicits._
    val docs = (1L to 60L).map(i => (i, s"document number $i body words"))
      .toDF("doc_id", "text")
    // three families with far-apart member ids — a per-doc hash split
    // would almost surely scatter at least one of them
    val groups = Seq((1L, 1L), (31L, 1L), (57L, 1L),
      (2L, 2L), (44L, 2L), (9L, 9L), (23L, 9L)).toDF("doc_id", "cluster_id")
    val stats = Corpus.splitByGroup(docs, "doc_id", "text", groups)
      .collect().map(r => r.getAs[String]("split") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_groups")))).toMap
    assert(stats.values.map(_._1).sum == 60L)
    // 53 singletons + 3 families = 56 distinct groups across all splits
    assert(stats.values.map(_._2).sum == 56L)
    // per-doc assignment: every family lands whole
    val perDoc = docs
      .join(groups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("k"))
    val assign = perDoc.withColumn("b",
        graft.functions.TextFns.hash32(col("k").cast("string")) % 100)
      .withColumn("s", when(col("b") < 80, "train")
        .when(col("b") < 90, "val").otherwise("test"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("s"))
      .toMap
    Seq(Seq(1L, 31L, 57L), Seq(2L, 44L), Seq(9L, 23L)).foreach { fam =>
      assert(fam.map(assign).distinct.size == 1, s"family $fam straddles")
    }
    // growth stability: doubling the corpus never moves an old doc
    val grown = (1L to 120L).map(i => (i, s"document number $i body words"))
      .toDF("doc_id", "text")
    val assign2 = grown.join(groups, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("k"))
      .withColumn("b",
        graft.functions.TextFns.hash32(col("k").cast("string")) % 100)
      .withColumn("s", when(col("b") < 80, "train")
        .when(col("b") < 90, "val").otherwise("test"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("s"))
      .toMap
    assert((1L to 60L).forall(i => assign(i) == assign2(i)))
    // malformed cuts rejected
    intercept[IllegalArgumentException] {
      Corpus.splitByGroup(docs, "doc_id", "text", groups,
        cuts = Seq("a" -> 50, "b" -> 50, "c" -> 100))
    }
  }

  test("lengthBatches: length-ordered runs, hand-computed padding, layout invariance") {
    import spark.implicits._
    val d = Seq((1L, "a"), (2L, "a b"), (3L, "a b c"),
      (4L, "a b c d"), (5L, "a b c d e")).toDF("doc_id", "text")
    def run(parts: Int) = Corpus
      .lengthBatches(d.repartition(parts), "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    // (len,id) order → batches {1,2} {3,4} {5}: padding 1, 1, 0
    val expected = Seq((0L, 2L, 2L, 3L, 1L), (1L, 2L, 4L, 7L, 1L),
      (2L, 1L, 5L, 5L, 0L))
    assert(run(1) == expected && run(7) == expected)
  }

  test("hardNegatives: margin gate drops the positive's near-dup, positives and self excluded, multi-positive min, layout invariance") {
    import spark.implicits._
    val rows = Seq(
      (1L, Array(1.0, 0.0, 0.0)),   // query
      (2L, Array(0.98, 0.2, 0.0)),  // positive (cos ≈ 0.98)
      (3L, Array(0.97, 0.24, 0.0)), // near-dup of the positive: cos ≈
                                    // 0.971 > pos_cos − 0.02 → a false
                                    // negative the margin must drop
      (4L, Array(0.8, 0.6, 0.0)),   // true hard negative (cos 0.8)
      (5L, Array(0.0, 1.0, 0.0)),   // easy negative (cos 0)
      (10L, Array(0.0, 0.0, 1.0)),  // second query, two positives
      (11L, Array(0.0, 0.1, 0.9)),
      (12L, Array(0.3, 0.0, 0.8)))
    val corpus = rows.toDF("vec_id", "embedding")
    val pairs = Seq((1L, 2L), (10L, 11L), (10L, 12L))
      .toDF("query_id", "pos_id")
    def cosOf(a: Array[Double], b: Array[Double]): Double = {
      def d(x: Array[Double], y: Array[Double]) =
        x.indices.foldLeft(0.0d)((acc, i) => acc + x(i) * y(i))
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    }
    val vec = rows.toMap
    val out = Similarity.hardNegatives(pairs, corpus, "vec_id",
      "embedding", k = 3, margin = 0.02).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    val q1 = out.filter(_._1 == 1L).sortBy(_._2)
    // query 1: candidates are {3, 4, 5, 10, 11, 12} minus the margin
    // victims; doc 3 (cos 0.971 within 0.02 of pos_cos 0.980) must be
    // gone, doc 2 (positive) and doc 1 (self) must be gone
    assert(!q1.exists(r => Set(1L, 2L, 3L).contains(r._3)))
    // best negative is doc 4 at its exact hand cosine, gated against
    // the exact positive cosine
    assert(q1.head._3 == 4L)
    assert(q1.head._4 == cosOf(vec(1L), vec(4L)))
    assert(q1.head._5 == cosOf(vec(1L), vec(2L)))
    assert(q1.map(_._2).sameElements(1 to q1.length))
    // query 10: pos_cos is the MIN over its two positives; neither
    // positive appears as a negative
    val q10 = out.filter(_._1 == 10L)
    val expPos = math.min(cosOf(vec(10L), vec(11L)), cosOf(vec(10L), vec(12L)))
    assert(q10.nonEmpty && q10.forall(_._5 == expPos))
    assert(!q10.exists(r => Set(10L, 11L, 12L).contains(r._3)))
    // layout invariance
    val re = Similarity.hardNegatives(pairs, corpus.repartition(5),
      "vec_id", "embedding", k = 3, margin = 0.02).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).sorted
    assert(re.sameElements(out.sorted))
  }

  test("hardNegativesFromShortlist: full-corpus shortlist ≡ the exact operator row-for-row; narrow shortlist ⊆ exact") {
    import spark.implicits._
    val vecs = (1L to 30L).map(i =>
      (i, Array((i % 7).toDouble + 1.0, (i % 5).toDouble, (i % 3).toDouble)))
    val corpus = vecs.toDF("vec_id", "embedding")
    val pairs = Seq((7L, 8L), (14L, 15L), (21L, 22L))
      .toDF("query_id", "pos_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    val exact = rows(Similarity.hardNegatives(pairs, corpus, "vec_id",
      "embedding", k = 4, margin = 0.01))
    // degenerate shortlist = every (query, candidate) pair: identical
    // gate + rank arithmetic must reproduce the exact operator
    // bit-for-bit (the rerank=n ≡ ivfTopK precedent)
    val full = pairs.select(col("query_id"))
      .crossJoin(corpus.select(col("vec_id").as("neighbor_id")))
      .filter(col("query_id") =!= col("neighbor_id"))
    val served = rows(Similarity.hardNegativesFromShortlist(full, pairs,
      corpus, "vec_id", "embedding", k = 4, margin = 0.01))
    assert(served == exact && exact.nonEmpty)
    // a narrower ANN shortlist can only lose candidates, never invent
    // or re-score them. Compare against the UNTRUNCATED exact run: a
    // shortlist loss above the cut legitimately promotes lower
    // candidates into the narrow top-k, so subset-ness only holds
    // against the exact gate output before k cuts (the PropertySpec
    // margin-monotonicity lesson)
    val narrow = Similarity.bruteForceTopK(
      corpus.filter(col("vec_id").isin(7L, 14L, 21L)), corpus,
      "vec_id", "embedding", 10)
    val servedNarrow = rows(Similarity.hardNegativesFromShortlist(narrow,
      pairs, corpus, "vec_id", "embedding", k = 4, margin = 0.01))
    val exactAll = rows(Similarity.hardNegatives(pairs, corpus, "vec_id",
      "embedding", k = 1000, margin = 0.01))
    val exactByQn = exactAll.map(t => (t._1, t._3) -> ((t._4, t._5))).toMap
    assert(servedNarrow.forall(t =>
      exactByQn.get((t._1, t._3)).contains((t._4, t._5))))
  }

  test("clusterBalancedSample: exact quota per cluster, skew ignored, kmeans override honors the contract, layout invariance") {
    import spark.implicits._
    // frequency-skewed fixture: a dense blob near e1 (ids 1-40) and a
    // sparse one near e2 (ids 101-104) — frequency sampling would give
    // the blob 10× the rows; topic balance must give each cluster k
    val rows =
      (1L to 40L).map(i => (i, Array(10.0 + (i % 7) * 0.01, 1.0, 0.0))) ++
      (101L to 104L).map(i => (i, Array(0.5, 9.0 + (i % 3) * 0.01, 1.0)))
    val v = rows.toDF("vec_id", "embedding")
    // 2 hash-order centroids land one in each blob or both in one —
    // force determinism of the TEST by passing explicit centroids
    val cents = Seq((1L, Array(10.0, 1.0, 0.0)), (2L, Array(0.5, 9.0, 1.0)))
      .toDF("cid", "cv")
    val centN = graft.operators.Similarity // same (list_id, centroid, centroid_n) contract as the IVF override
      .withNorm(cents, "cid", "cv", "list_id", "centroid")
    val k = 3
    val out = Similarity.clusterBalancedSample(v, "vec_id", "embedding",
      nCells = 2, k = k, centroids = Some(centN)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byCluster = out.groupBy(_._1)
    // both clusters present, each at its exact quota (both have >= k
    // members) — the 10x size skew must not shift a single row
    assert(byCluster.keySet == Set(1L, 2L))
    assert(byCluster(1L).length == k && byCluster(2L).length == k)
    // members belong to their geometric cluster
    assert(byCluster(1L).forall(_._2 <= 40L))
    assert(byCluster(2L).forall(_._2 >= 101L))
    // rnk is 1..k within each cluster
    assert(byCluster.values.forall(_.map(_._3).sorted.sameElements(1 to k)))
    // a cluster smaller than k contributes all its members: quota 10
    // over the 4-member sparse blob
    val small = Similarity.clusterBalancedSample(v, "vec_id", "embedding",
      nCells = 2, k = 10, centroids = Some(centN)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(small.count(_._1 == 2L) == 4)
    // layout invariance: the quota is (hash32(id), id)-ordered
    val re = Similarity.clusterBalancedSample(v.repartition(7), "vec_id",
      "embedding", nCells = 2, k = k, centroids = Some(centN)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    assert(re.sameElements(out.sorted))
    // default hash-centroid path: deterministic, every returned id real,
    // per-cluster counts never exceed k
    val hashed = Similarity.clusterBalancedSample(v, "vec_id", "embedding",
      nCells = 4, k = k).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hashed.groupBy(_._1).values.forall(_.length <= k))
    assert(hashed.map(_._2).toSet.subsetOf(rows.map(_._1).toSet))
  }

  test("dsirWeights: from-first-principles weights, target-like docs outrank, empty doc NULL, layout invariance") {
    import spark.implicits._
    val B = 1024
    // raw corpus: doc 1 speaks the target's language, doc 3 doesn't,
    // doc 4 normalizes to zero tokens
    val rawRows = Seq(
      (1L, "alpha beta alpha beta"),
      (2L, "alpha beta gamma"),
      (3L, "zulu yankee xray whiskey"),
      (4L, "!?!."))
    val tgtRows = Seq((10L, "alpha beta alpha"), (11L, "beta alpha beta"))
    val raw = rawRows.toDF("doc_id", "text")
    val tgt = tgtRows.toDF("doc_id", "text")

    // independent hand oracle: md5-prefix hashing, histograms, add-one
    // ratios, position-order left fold — no graft code reused
    def h32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    def norm(s: String): String =
      s.toLowerCase.replaceAll("[^a-z0-9 ]", " ").replaceAll(" +", " ").trim
    def feats(text: String): Seq[Long] = {
      val ts = norm(text).split("\\s+").filter(_.nonEmpty).toSeq
      val uni = ts.map(t => h32(t) % B)
      val bi = ts.sliding(2).filter(_.size == 2)
        .map(p => h32(p.mkString(" ")) % B).toSeq
      uni ++ bi
    }
    val sHist = rawRows.flatMap(r => feats(r._2))
      .groupBy(identity).map { case (b, o) => b -> o.size.toLong }
    val tHist = tgtRows.flatMap(r => feats(r._2))
      .groupBy(identity).map { case (b, o) => b -> o.size.toLong }
    val sTot = sHist.values.sum; val tTot = tHist.values.sum
    def ratio(b: Long): Double =
      ((tHist.getOrElse(b, 0L) + 1L).toDouble * (sTot + B).toDouble) /
        ((sHist.getOrElse(b, 0L) + 1L).toDouble * (tTot + B).toDouble)
    def expWeight(text: String): Double = {
      val fs = feats(text)
      fs.foldLeft(0.0d)((acc, b) => acc + ratio(b)) / fs.size.toDouble
    }

    val out = Corpus.dsirWeights(raw, tgt, "doc_id", "text", B)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))))
      .toMap
    // n_feats = 2·len − 1; weights equal the hand fold bit-for-bit
    assert(out(1L) == ((7L, Some(expWeight(rawRows(0)._2)))))
    assert(out(2L) == ((5L, Some(expWeight(rawRows(1)._2)))))
    assert(out(3L) == ((7L, Some(expWeight(rawRows(2)._2)))))
    // zero-token doc: scored row present, NULL weight
    assert(out(4L) == ((0L, None)))
    // the target-speaking doc outranks the out-of-domain one
    assert(out(1L)._2.get > out(3L)._2.get)

    // layout invariance: the histograms are order-free sums and the
    // scoring pass is per-row, so partitioning cannot move a weight
    val re = Corpus.dsirWeights(raw.repartition(7), tgt.repartition(3),
      "doc_id", "text", B)
      .collect().map(r => r.getLong(0) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    assert(out.keySet.forall(k => re(k) == out(k)._2))

    // dsirSelect: acceptance u·wmax < w·10^6 replayed by hand; the
    // max-weight doc always passes; the unscored doc never appears
    val kept = Corpus.dsirSelect(Corpus.dsirWeights(raw, tgt,
      "doc_id", "text", B)).collect().map(_.getLong(0)).toSet
    val ws = Map(1L -> expWeight(rawRows(0)._2),
      2L -> expWeight(rawRows(1)._2), 3L -> expWeight(rawRows(2)._2))
    val wmax = ws.values.max
    val expKept = ws.filter { case (id, w) =>
      (h32("dsir|" + id) % 1000000L).toDouble * wmax < w * 1000000.0d
    }.keySet
    assert(kept == expKept)
    assert(kept.contains(ws.maxBy(_._2)._1))
    assert(!kept.contains(4L))
  }

  test("dsirWeightsWithin: bit-identical to dsirWeights over the predicate subset, NULL predicate rows are non-target") {
    import spark.implicits._
    val B = 256
    // lang column with a NULL: dsirWeights' filter drops it from the
    // target; dsirWeightsWithin's conditional count must do the same
    val rows = Seq(
      (1L, "alpha beta alpha beta", "en"),
      (2L, "alpha beta gamma", "en"),
      (3L, "zulu yankee xray whiskey", "de"),
      (4L, "!?!.", "en"),
      (5L, "beta alpha beta delta", null))
    val docs = rows.toDF("doc_id", "text", "lang")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))))
      .toMap
    val ref = m(Corpus.dsirWeights(docs,
      docs.filter(col("lang") === "en"), "doc_id", "text", B))
    val got = m(Corpus.dsirWeightsWithin(docs,
      col("lang") === "en", "doc_id", "text", B))
    assert(got == ref)
    // the shared path's select output survives dsirSelect identically
    val keptRef = Corpus.dsirSelect(Corpus.dsirWeights(docs,
      docs.filter(col("lang") === "en"), "doc_id", "text", B))
      .collect().map(_.getLong(0)).toSet
    spark.catalog.clearCache()
    val keptGot = Corpus.dsirSelect(Corpus.dsirWeightsWithin(docs,
      col("lang") === "en", "doc_id", "text", B))
      .collect().map(_.getLong(0)).toSet
    assert(keptGot == keptRef)
    spark.catalog.clearCache()
  }

  test("histogramDrift: hand-computed chi-square, smoothing keeps new bins finite, shift raises the stat") {
    import spark.implicits._
    val ref = Seq(0L, 0L, 1L).map(("g", _)).toDF("src", "v")
    val cur = Seq(0L, 1L, 1L, 5L).map(("g", _)).toDF("src", "v")
    val row = Corpus.histogramDrift(ref, cur, "src", "v", 1L).collect().head
    assert((row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
      == ((3L, 4L, 3L, 2L)))
    // bins {0,1,5}: r=(2,1,0), o=(1,2,1), e_b=(r+1)*4/6 — bin 5 exists
    // only in cur and stays finite through the add-one smoothing
    val e = Seq(2L, 1L, 0L).map(r => ((r + 1) * 4L).toDouble / 6L.toDouble)
    val t = Seq(1L, 2L, 1L).zip(e).map { case (o, eb) =>
      (o - eb) * (o - eb) / eb
    }
    val expected = t.foldLeft(0.0)(_ + _) // bin-order fold, like the plan
    assert(row.getDouble(5) == expected)
    // identical halves drift less than a shifted batch
    val base = (1L to 200L).map(i => ("g", (i % 17) + 1))
    val shifted = (1L to 200L).map(i => ("g", (i % 17) + 30))
    val same = Corpus.histogramDrift(base.toDF("src", "v"),
      base.toDF("src", "v"), "src", "v", 4L).collect().head.getDouble(5)
    val moved = Corpus.histogramDrift(base.toDF("src", "v"),
      shifted.toDF("src", "v"), "src", "v", 4L).collect().head.getDouble(5)
    assert(moved > same * 10)
  }

  test("sampledQuantiles: sampleMod=1 matches exact quantiles; selector and results are deterministic") {
    import spark.implicits._
    val rows = (0L until 101L).map(i => (i, "g", i.toDouble / 4.0))
      .toDF("id", "src", "v")
    val full = Corpus.sampledQuantiles(rows, "src", "id", "v", 1)
      .collect().head
    // 101 evenly spaced values: q(p) = lerp over ranks = 100p/4 exactly
    assert(full.getLong(1) == 101L && full.getDouble(2) == 0.0 &&
      full.getDouble(3) == 25.0)
    assert(full.getDouble(4) == 25.0 / 4 && full.getDouble(5) == 50.0 / 4 &&
      full.getDouble(6) == 90.0 / 4 && full.getDouble(7) == 99.0 / 4)
    // mod-3 sample: a strict, deterministic, layout-independent subset
    val s1 = Corpus.sampledQuantiles(rows.repartition(1), "src", "id", "v", 3)
      .collect().head
    val s7 = Corpus.sampledQuantiles(rows.repartition(7), "src", "id", "v", 3)
      .collect().head
    assert(s1 == s7)
    assert(s1.getLong(1) > 0 && s1.getLong(1) < 101L)
  }

  test("quantileTrim: band edges from the sample, unsampled groups keep everything, null values drop only in thresholded groups") {
    import spark.implicits._
    // group a: 1..20, sampleMod=1 (every row sampled) → thresholds are
    // exact order statistics: lo = lerp(0.1·19) = 2.9, hi =
    // lerp(0.9·19) = 18.1 → survivors are exactly 3..18
    val a = (1L to 20L).map(i => (i, "a", Some(i.toDouble)))
    val nullRow = Seq((21L, "a", None: Option[Double]))
    val b = Seq((30L, "b", Some(999.0))) // single-value group
    val rows = (a ++ nullRow ++ b).toDF("id", "src", "v")
    val kept = Corpus.quantileTrim(rows, "src", "id", "v", 1,
        loP = 0.1, hiP = 0.9)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept == ((3L to 18L).map(_ -> "a") :+ (30L -> "b")).toSet,
      s"got $kept")
    // original columns come back untouched
    assert(Corpus.quantileTrim(rows, "src", "id", "v", 1, 0.1, 0.9)
      .columns.toSeq == Seq("id", "src", "v"))
    // a group NONE of whose ids the hash selector picks keeps ALL its
    // rows — find such an id for mod 5 deterministically
    val unsampledId = (100L to 200L).find { i =>
      Seq(i.toString).toDF("s")
        .select(graft.functions.TextFns.hash32(org.apache.spark.sql
          .functions.col("s")).as("h"))
        .head().getLong(0) % 5L != 0L
    }.get
    val withOrphan = rows.unionByName(
      Seq((unsampledId, "orphan", Some(-1e9))).toDF("id", "src", "v"))
    val keptO = Corpus.quantileTrim(withOrphan, "src", "id", "v", 5,
        loP = 0.1, hiP = 0.9)
      .filter(org.apache.spark.sql.functions.col("src") === "orphan")
      .count()
    assert(keptO == 1L,
      "a group with no sampled member must keep its rows")
    // a NOMINAL upper edge (hiP = 1.0) means NO upper trim — rows
    // above the SAMPLED maximum must survive (the sample's p=1.0 is
    // the sample max, not the population max); same for loP = 0.0.
    // Plant an unsampled extreme row: trimmed only by an active edge.
    val hiRow = Seq((unsampledId, "a", Some(1e9))).toDF("id", "src", "v")
    val bottomOnly = Corpus.quantileTrim(rows.unionByName(hiRow),
        "src", "id", "v", 5, loP = 0.1, hiP = 1.0)
      .filter(org.apache.spark.sql.functions.col("id") === unsampledId)
      .count()
    assert(bottomOnly == 1L,
      "hiP=1.0 must not clamp to the sampled max")
    // both edges nominal: the identity, nulls included
    assert(Corpus.quantileTrim(rows, "src", "id", "v", 5, 0.0, 1.0)
      .count() == rows.count())
  }

  test("quantileTrim: NaN scores neither poison the band edges nor sneak past them") {
    import spark.implicits._
    val a = (1L to 20L).map(i => (i, "a", i.toDouble))
    val nanRow = Seq((21L, "a", Double.NaN))
    val rows = (a ++ nanRow).toDF("id", "src", "v")
    // NaN sorts GREATEST in Spark: unfiltered it would become the
    // sample's upper order statistic and lerp the hi edge to NaN,
    // silently disabling the upper trim. With the guard, thresholds
    // are the same 2.9/18.1 as the NaN-free fixture and the NaN row
    // itself drops (unscorable ≠ in-band).
    val kept = Corpus.quantileTrim(rows, "src", "id", "v", 1,
        loP = 0.1, hiP = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(kept == (3L to 18L).toSet, s"got $kept")
    // NaN must drop even when only the LOWER edge is active: before
    // the guard, NaN >= lo was vacuously true under NaN-greatest
    // comparison semantics and the row survived a bottom-trim
    val bottomKept = Corpus.quantileTrim(rows, "src", "id", "v", 1,
        loP = 0.1, hiP = 1.0)
      .collect().map(_.getLong(0)).toSet
    assert(!bottomKept.contains(21L), "NaN passed a bottom-only trim")
    // in an UNthresholded group NaN rows are kept, like nulls
    val orphan = rows.unionByName(Seq((99L, "zz", Double.NaN))
      .toDF("id", "src", "v"))
    // "zz" has one row; with sampleMod=1 it IS sampled — but its only
    // value is NaN, so the group has NO scorable sample → no threshold
    val keptZ = Corpus.quantileTrim(orphan, "src", "id", "v", 1,
        loP = 0.1, hiP = 0.9)
      .filter(col("src") === "zz").count()
    assert(keptZ == 1L, "group with no scorable sample must keep rows")
  }

  test("rrfFuse: fixed-branch-order sums, absent branch adds zero, within-branch dup keeps best rank") {
    import spark.implicits._
    val lex = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3))
      .toDF("query_id", "item_id", "rnk")
    val vec = Seq((1L, 20L, 1), (1L, 40L, 2), (1L, 40L, 5)) // 40 duplicated
      .toDF("query_id", "item_id", "rnk")
    val out = Corpus.rrfFuse(Seq(lex, vec), k = 4, c = 60)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    // hand-computed: 20 in both lists, 40's duplicate keeps rank 2
    assert(out == Seq(
      (1, 20L, 1.0 / 62 + 1.0 / 61),
      (2, 10L, 1.0 / 61 + 0.0),
      (3, 40L, 0.0 + 1.0 / 62),
      (4, 30L, 1.0 / 63 + 0.0)))
  }

  test("rrfFuse: single branch preserves the input order; k cuts the tail") {
    import spark.implicits._
    val lex = Seq((1L, 5L, 1), (1L, 9L, 2), (1L, 7L, 3), (2L, 9L, 1))
      .toDF("query_id", "item_id", "rnk")
    val out = Corpus.rrfFuse(Seq(lex), k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toSeq
    assert(out == Seq((1L, 1, 5L), (1L, 2, 9L), (2L, 1, 9L)))
  }

  test("mmrRerank: diversity beats redundancy; lambda=1 reduces to relevance order") {
    import spark.implicits._
    // query points at x; A and A' are near-identical high-relevance
    // twins, B is moderately relevant but orthogonal to them
    val q = Seq((1L, Seq(1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val c = Seq(
      (10L, Seq(0.995, 0.0998, 0.0)), // A   rel ~ 0.995
      (11L, Seq(0.995, 0.0999, 0.0)), // A'  rel ~ 0.995, cos(A,A') ~ 1
      (12L, Seq(0.6, 0.0, 0.8))) // B   rel = 0.6, cos(B,A) ~ 0.6
      .toDF("vec_id", "embedding")
    val picks = Similarity
      .mmrRerank(q, c, "vec_id", "embedding", poolK = 3, k = 3, lambda = 0.5)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    // greedy: A first (top rel), then B (A' is redundant), A' last
    assert(picks == Map(1 -> 10L, 2 -> 12L, 3 -> 11L))
    // λ = 1: the diversity term vanishes — pure relevance order
    val rel = Similarity
      .mmrRerank(q, c, "vec_id", "embedding", poolK = 3, k = 3, lambda = 1.0)
      .collect().map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(rel == Map(1 -> 10L, 2 -> 11L, 3 -> 12L))
  }

  test("mmrRerank: mmr doubles equal a hand-computed greedy fold (incremental running-max form)") {
    import spark.implicits._
    val qv = Seq(1.0, 0.0, 0.0)
    // 13's cosine to every other candidate is NEGATIVE: msim must be
    // the max of ACTUAL pick cosines (negative allowed), never clamped
    // by round 1's 0.0 empty-set scoring sentinel
    val cs = Seq(
      10L -> Seq(0.9, 0.1, 0.0),
      11L -> Seq(0.8, 0.2, 0.1),
      12L -> Seq(0.1, 0.9, 0.3),
      13L -> Seq(-0.2, -0.2, 0.9))
    val q = Seq((1L, qv)).toDF("vec_id", "embedding")
    val c = cs.map { case (id, v) => (id, v) }.toDF("vec_id", "embedding")
    // hand greedy MMR, λ=0.5, the same left-to-right dot fold; msim is
    // the true max over selected-pick cosines (None before any pick)
    def dotS(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    def cos(a: Seq[Double], b: Seq[Double]): Double =
      dotS(a, b) / (math.sqrt(dotS(a, a)) * math.sqrt(dotS(b, b)))
    var rem = cs.map { case (id, v) =>
      (id, cos(qv, v), v, Option.empty[Double]) }
    val expect = scala.collection.mutable.ListBuffer[(Int, Long, Double)]()
    for (rnk <- 1 to 4) {
      val scored = rem.map { case (id, rel, v, ms) =>
        (id, 0.5 * rel - 0.5 * ms.getOrElse(0.0), v) }
      val (pid, pmmr, pv) = scored.minBy { case (id, m, _) => (-m, id) }
      expect += ((rnk, pid, pmmr))
      rem = rem.filter(_._1 != pid).map { case (id, rel, v, ms) =>
        (id, rel, v,
          Some(ms.fold(cos(v, pv))(m => math.max(m, cos(v, pv))))) }
    }
    val out = Similarity.mmrRerank(q, c, "vec_id", "embedding",
      poolK = 4, k = 4, lambda = 0.5)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(out == expect.toSeq) // exact doubles, not approximate
  }

  test("mmrRerank: short shortlists yield min(k, candidates) picks; results are layout-invariant") {
    import spark.implicits._
    val q = Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val c = Seq((10L, Seq(0.9, 0.1)), (11L, Seq(0.5, 0.5)))
      .toDF("vec_id", "embedding")
    val out = Similarity.mmrRerank(q, c, "vec_id", "embedding",
      poolK = 5, k = 5, lambda = 0.5).collect()
    assert(out.length == 2) // only two candidates exist
    // layout invariance on a real corpus slice
    val e = embs.limit(60)
    def run(parts: Int) = Similarity
      .mmrRerank(e.filter(col("vec_id") % 20 === 0), e.repartition(parts),
        "vec_id", "embedding", poolK = 10, k = 4, lambda = 0.5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .toSet
    assert(run(1) == run(7) && run(1).nonEmpty)
  }
}
