package graft

import graft.operators.{Decontaminate, Ingest, ShingleIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end ingest triage: the composed pipeline (scrub → quality →
  * Bloom decontamination → indexed near-dup) routes planted cases to
  * their fates, in pipeline order, across TWO batches with an index
  * append between them — the full production ingest loop. */
class IngestSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(8)

  private val evalText =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val longDoc =
    "the curious archivist catalogued seventeen manuscripts before noon " +
      "and annotated each margin with meticulous cross references daily"
  private val nearDupOfLong =
    "the curious archivist catalogued seventeen manuscripts before noon " +
      "and annotated each margin with meticulous cross references nightly"

  test("triage routes planted cases; accepted docs appended become dup targets") {
    import spark.implicits._
    val old = Seq((1L, longDoc)).toDF("doc_id", "text")
    val sketch = Decontaminate.gramSketch(
      Decontaminate.evalGrams(Seq(evalText).toDF("text"), "text", 8)
        .select(col("g")),
      estimatedGrams = 1L << 12)
    val cfg = Ingest.Config("graft_ing", evalSketch = Some(sketch))
    try {
      ShingleIndex.build(old, "doc_id", "text", "graft_ing")
      val batch1 = Seq(
        (10L, "too short"), // quality gate
        (11L, evalText + " plus a tail of more tokens to pass quality gates here"), // eval leak
        (12L, nearDupOfLong), // near-dup of indexed doc 1
        (13L, "a genuinely novel composition about tidal estuaries and the " +
          "migratory herons that patrol them at first light every autumn"),
        (14L, "reach me at ops@example.com about tidal estuaries and the " +
          "migratory herons that patrol them at first light every autumn"))
        .toDF("doc_id", "text")
      // 13 and 14 differ only by the scrubbed prefix — they stay distinct
      // (redaction runs BEFORE dedup, but their shared shingles are below
      // the Jaccard threshold); 14's email must not reach the index
      val t1 = Ingest.triage(batch1, "doc_id", "text", cfg)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("fate"), Option(r.getAs[java.lang.Long]("dup_of"))
            .map(_.toLong), r.getAs[String]("text")))).toMap
      assert(t1(10L)._1 == "low_quality")
      assert(t1(11L)._1 == "contaminated")
      assert(t1(12L) == (("duplicate", Some(1L), nearDupOfLong)))
      assert(t1(13L)._1 == "accepted")
      assert(t1(14L)._1 == "accepted")
      assert(t1(14L)._3.contains("<EMAIL>") && !t1(14L)._3.contains("@"),
        "scrub must happen before anything persists or compares")
      assert(t1.size == 5)
      // commit the accepted docs, then a second batch: a near-dup of a
      // batch-1 ACCEPTED doc must now triage as duplicate-of-it
      val accepted1 = Seq((13L, t1(13L)._3), (14L, t1(14L)._3))
        .toDF("doc_id", "text")
      ShingleIndex.append(accepted1, "doc_id", "text", "graft_ing")
      val batch2 = Seq(
        (20L, "a genuinely novel composition about tidal estuaries and the " +
          "migratory herons that patrol them at first light every winter"),
        (21L, "completely fresh material on basalt columns and the slow " +
          "geometry of cooling lava fields under a patient northern sky"))
        .toDF("doc_id", "text")
      val t2 = Ingest.triage(batch2, "doc_id", "text", cfg)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("fate"),
            Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)))).toMap
      assert(t2(20L) == (("duplicate", Some(13L))))
      assert(t2(21L) == (("accepted", None)))
    } finally {
      Seq("graft_ing_idx", "graft_ing_sh", "graft_ing_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("multilingual ingest e2e: unicode config triages CJK/Cyrillic correctly; a mismatched ASCII config is rejected by the store fingerprint") {
    import spark.implicits._
    import graft.functions.TextFns
    val uni: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      TextFns.unicodeNormalizer()
    val ruDoc = "архивариус каталогизировал семнадцать рукописей до полудня " +
      "и аннотировал каждое поле скрупулёзными перекрёстными ссылками"
    // the LAST token changes: only the final 5-gram shingle differs
    // (J = 8/10 ≥ 0.7) — a mid-document edit would kill five of nine
    // shingles and genuinely not be a near-dup at this length
    val ruNearDup = ruDoc.replace("ссылками", "пометками")
    val zhEval = "这是评估集中的一段中文基准文本用于检测泄漏情况的句子"
    try {
      ShingleIndex.build(Seq((1L, ruDoc)).toDF("doc_id", "text"),
        "doc_id", "text", "graft_ing_u", n = 5, norm = uni)
      val sketch = graft.operators.Decontaminate.gramSketch(
        graft.operators.Decontaminate
          .evalGrams(Seq(zhEval).toDF("text"), "text", 5, uni)
          .select(col("g")),
        estimatedGrams = 1L << 12)
      val cfg = Ingest.Config("graft_ing_u", evalSketch = Some(sketch),
        bloomN = 5, norm = uni)
      val batch = Seq(
        (10L, "короткий"), // one token → quality gate
        (11L, zhEval + "，再加上一些额外的汉字使其足够长通过质量门槛"), // eval leak
        (12L, ruNearDup), // near-dup of the indexed Cyrillic doc
        (13L, "совершенно новое сочинение о приливных эстуариях и цаплях " +
          "которые патрулируют их на рассвете каждую осень"))
        .toDF("doc_id", "text")
      val t = Ingest.triage(batch, "doc_id", "text", cfg)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("fate"),
            Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)))).toMap
      assert(t(10L)._1 == "low_quality", t.toString)
      assert(t(11L)._1 == "contaminated", t.toString)
      assert(t(12L) == (("duplicate", Some(1L))), t.toString)
      assert(t(13L)._1 == "accepted", t.toString)
      // the ASCII default over the same batch: the store's normalizer
      // fingerprint rejects the mismatched probe LOUDLY — before this
      // gate existed, every doc silently died at the quality gate
      // (zero tokens) and the index was never even consulted
      val e = intercept[IllegalArgumentException] {
        Ingest.triage(batch, "doc_id", "text",
          cfg.copy(norm = TextFns.normText)).collect()
      }
      assert(e.getMessage.contains("DIFFERENT text normalizer"),
        e.getMessage)
    } finally {
      Seq("graft_ing_u_idx", "graft_ing_u_sh", "graft_ing_u_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("p41's Bloom gate is FP-free at the gated SF: sketch verdicts == exact overlap") {
    // The p41 oracle reproduces the Bloom gate as EXACT distinct-gram
    // overlap, on the argument that the 1<<18-key sketch's false-
    // positive mass is far below one row at the driver's SFs. That
    // argument is load-bearing — this test MEASURES it on the real
    // sf0.01 corpus with the real p41 split and parameters: every
    // per-doc verdict (and hit count) from the sketch must equal the
    // exact-set answer. If data or parameters ever grow past the
    // sketch, this fails before the driver's gate does.
    import graft.functions.TextFns._
    import graft.operators.{Corpus, Decontaminate}
    import graft.queries.Pipeline.{IngestBloomMinHits, IngestBloomN, IngestSketchGrams}
    val docs = Tables.df(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("text"))
    val evalDocs = docs.filter(col("doc_id") % 97 === 0).select(col("text"))
    val evalG = Decontaminate.evalGrams(evalDocs, "text", IngestBloomN)
    val sketch = Decontaminate.gramSketch(evalG.select(col("g")),
      estimatedGrams = IngestSketchGrams)
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), Corpus.redactText(col("text")).as("text"))
    val viaSketch = graft.streaming.Streams
      .bloomDecontaminated(batch, sketch, "text", IngestBloomN,
        IngestBloomMinHits)
      .select(col("doc_id"), col("eval_gram_hits"), col("contaminated"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // exact: per-doc DISTINCT GRAM STRINGS whose hash60 is in the eval
    // hash set — counted per string entry, the probe's own semantics
    val exact = batch
      .select(col("doc_id"),
        explode(wordShingles(tokens(normText(col("text"))), IngestBloomN))
          .as("s"))
      .withColumn("g", hash60(col("s")))
      .join(evalG.select(col("g")).distinct(), Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("h"))
    val exactMap = exact.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = batch.select(col("doc_id")).collect().map(_.getLong(0))
      .map(id => (id, exactMap.getOrElse(id, 0L),
        exactMap.getOrElse(id, 0L) >= IngestBloomMinHits)).toSet
    assert(viaSketch == expect)
    // the planted eval overlap is nonempty — the test has teeth
    assert(expect.exists(_._3), "no contaminated docs in the fixture split")
  }

  test("p41 self-heals a torn fingerprint write (fp table exists but is empty)") {
    // p41's memoization writes graft_p41_fp as dropTable + insert; a
    // crash between them leaves the table EXISTING but EMPTY. That
    // state must read as "stale → rebuild", not throw on head()
    val sf = "/root/testdata/sf0.001"
    val q = SparkEntry.queries("p41_ingest_triage")
    val r1 = q(spark, sf).collect().map(_.toSeq).toSet
    spark.sql("DROP TABLE IF EXISTS graft_p41_fp")
    spark.sql("CREATE TABLE graft_p41_fp (n BIGINT, ids BIGINT) USING parquet")
    val r2 = q(spark, sf).collect().map(_.toSeq).toSet
    assert(r2 == r1, "the rebuild path must reproduce the memoized answer")
  }
}
