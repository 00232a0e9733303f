package graft

import graft.streaming.Streams
import graft.streaming.Streams.Event
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

/** Structured Streaming semantics driven through MemoryStream: windowed
  * aggregation with watermark, streaming dedup, and stateful
  * sessionization. */
class StreamsSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(4)

  private def ts(minute: Int) = new Timestamp(3600L * 1000 * 24 + minute * 60000L)

  test("languageMix: windowed per-language doc counts and token mass over a multilingual doc stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    in.addData(
      (ts(1), "Привет мир это тестовый документ на русском языке"),
      (ts(2), "это второй русский документ в том же окне"),
      (ts(3), "这是一个中文测试文档"),
      (ts(4), "the quick brown fox and the lazy dog run for cover"),
      (ts(12), "документ на русском уже в следующем окне"))
    val q = Streams.languageMix(in.toDF().toDF("ts", "text"),
        window_ = "10 minutes", watermark = "20 minutes")
      .writeStream.format("memory").queryName("lang_mix")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("lang_mix").collect()
      .map(r => (r.getTimestamp(0).getTime / 60000 % 1440,
        r.getAs[String]("lang")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))).toMap
    // window [0,10): ru x2 (8 + 8 tokens), zh x1 (10 char tokens),
    // en x1 (11 tokens); window [10,20): ru x1 (7 tokens)
    assert(rows((0, "ru")) == ((2L, 16L)), rows.toString)
    assert(rows((0, "zh")) == ((1L, 10L)), rows.toString)
    assert(rows((0, "en")) == ((1L, 11L)), rows.toString)
    assert(rows((10, "ru")) == ((1L, 7L)), rows.toString)
    assert(rows.size == 4)
  }

  test("triage group asserts the family-vs-triage normalizer invariant before touching anything") {
    import spark.implicits._
    import graft.functions.TextFns
    // the mechanism: independently-constructed normalizers compare by
    // the expression tree they build, not by function reference — if
    // Column equality ever regresses to reference identity this pins it
    val probe = org.apache.spark.sql.functions.col("x")
    assert(TextFns.normText(probe) == TextFns.normText(probe))
    assert(TextFns.unicodeNormalizer()(probe) ==
      TextFns.unicodeNormalizer()(probe))
    assert(TextFns.normText(probe) != TextFns.unicodeNormalizer()(probe))
    // a unicode triage over an ASCII-default posting family must fail
    // LOUDLY before any prune/append/manifest mutation
    val cfg = graft.operators.Ingest.Config("graft_nm_idx",
      norm = TextFns.unicodeNormalizer())
    val batch = Seq((1L, "text")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Streams.triageMultiIngestBatch(batch, 1L, "doc_id", "text", cfg,
        "graft_nm_grp",
        Seq(Streams.StoreFamily.posting("graft_nm_post", "doc_id", "text")))
    }
    assert(e.getMessage.contains("normalizer"), e.getMessage)
    // matching normalizers pass the check (fails later on the absent
    // index table, proving the norm gate itself was cleared) — the
    // negative assertion matches the require's REAL message text, so a
    // regression to rejecting equal normalizers cannot slip past it
    assert(e.getMessage.contains("normalizer different from cfg.norm"),
      s"guard string drifted from the require message: ${e.getMessage}")
    val ok = intercept[Exception] {
      Streams.triageMultiIngestBatch(batch, 1L, "doc_id", "text", cfg,
        "graft_nm_grp",
        Seq(Streams.StoreFamily.posting("graft_nm_post", "doc_id", "text",
          norm = TextFns.unicodeNormalizer())))
    }
    assert(!ok.getMessage.contains("normalizer different from cfg.norm"),
      ok.getMessage)
  }

  test("windowed stats aggregate incrementally per event_type") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    in.addData(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 2, "click", 2.0),
      Event(3, ts(12), 1, "view", 5.0), Event(4, ts(3), 3, "view", 4.0))
    val q = Streams.windowedEventStats(in.toDF(), "10 minutes", "20 minutes")
      .writeStream.format("memory").queryName("win_stats")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("win_stats").collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
    assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 4.0), ("view", 1L, 5.0)))
  }

  test("windowed distinct users: KMV sketch aggregates in streaming state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    // window 1 (min 0-9): users 1,2,1 -> 2 distinct; window 2
    // (min 10-19): users 3,4,5 -> 3 distinct. Below k, so estimates
    // are EXACT distinct counts even incrementally across batches.
    val q = Streams.windowedDistinctUsers(in.toDF(), "10 minutes",
        "30 minutes", k = 64)
      .writeStream.format("memory").queryName("kmv_users")
      .outputMode("complete").start()
    in.addData(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 2, "click", 2.0))
    q.processAllAvailable()
    in.addData(
      Event(3, ts(7), 1, "click", 1.0), Event(4, ts(12), 3, "click", 1.0),
      Event(5, ts(15), 4, "click", 1.0), Event(6, ts(16), 5, "click", 1.0))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("kmv_users").collect()
      .map(r => r.getAs[Timestamp]("window_start").getTime ->
        r.getAs[Double]("est_distinct_users")).toMap
    assert(rows.values.toSeq.sorted == Seq(2.0, 3.0))
  }

  test("stream-static enrichment: dim attaches, unmatched events pass with nulls") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val dim = Seq((1L, "pro"), (2L, "free")).toDF("user_id", "tier")
    val q = Streams.enrichedEvents(in.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    in.addData(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 2, "view", 2.0),
      Event(3, ts(2), 99, "click", 3.0)) // no dim row
    q.processAllAvailable(); q.stop()
    val rows = spark.table("enriched").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("tier")).toMap
    assert(rows == Map(1L -> "pro", 2L -> "free", 3L -> null))
  }

  test("stream-stream interval join attributes purchases to prior clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = Streams.attributedPurchases(
        clicks.toDF(), purchases.toDF(), horizon = "10 minutes",
        watermark = "5 minutes")
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    clicks.addData(
      Event(1, ts(0), 1, "click", 0.0),   // within 10 min of purchase 100
      Event(2, ts(30), 1, "click", 0.0),  // 25 min later: outside horizon
      Event(3, ts(1), 2, "click", 0.0))   // other user
    purchases.addData(
      Event(100, ts(8), 1, "purchase", 42.0),
      Event(101, ts(9), 3, "purchase", 7.0)) // user 3 never clicked
    q.processAllAvailable(); q.stop()
    val rows = spark.table("attrib").collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id")))
    assert(rows.toSet == Set((100L, 1L)))
  }

  test("streaming dedup drops same-id events within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Streams.dedupedEvents(in.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("dedup_ev")
      .outputMode("append").start()
    in.addData(
      Event(1, ts(0), 1, "click", 1.0), Event(1, ts(1), 1, "click", 1.0),
      Event(2, ts(2), 2, "view", 2.0))
    q.processAllAvailable()
    in.addData(Event(2, ts(3), 2, "view", 2.0), Event(3, ts(4), 3, "buy", 9.0))
    q.processAllAvailable(); q.stop()
    val ids = spark.table("dedup_ev").collect().map(_.getAs[Long]("event_id")).sorted
    assert(ids.sameElements(Array(1L, 2L, 3L)))
  }

  test("sessionization: gap splits sessions, totals accumulate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    // user 1: events at 0,2,4 min (one session), then 20,21 (second);
    // the second session stays open (would emit on timeout in prod).
    in.addData(
      Event(1, ts(0), 1, "a", 1.0), Event(2, ts(2), 1, "a", 2.0),
      Event(3, ts(4), 1, "a", 3.0), Event(4, ts(20), 1, "a", 4.0),
      Event(5, ts(21), 1, "a", 5.0))
    val q = Streams.sessionize(in.toDS(), gapMs = 5 * 60000L,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("sessions").collect()
    assert(sessions.length == 1) // first session closed by the 20-min event
    val s = sessions(0)
    assert(s.getAs[Long]("user_id") == 1L)
    assert(s.getAs[Long]("n_events") == 3L)
    assert(s.getAs[Double]("total_value") == 6.0)
    assert(s.getAs[Long]("duration_sec") == 240L)
  }

  test("parquet sink + checkpoint: restart resumes exactly-once, no duplicates") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val out = s"$dir/data"
    val ckpt = s"$dir/ckpt"
    def start() = Streams.windowedEventStats(in.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    // first run: watermark must pass window end before append emits
    val q1 = start()
    in.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(3), 1, "click", 2.0))
    q1.processAllAvailable()
    in.addData(Event(3, ts(40), 1, "view", 3.0))
    q1.processAllAvailable(); q1.stop()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst >= 1) // the [0,10) click window is closed + flushed
    // restart from the SAME checkpoint: prior batches must not replay
    val q2 = start()
    in.addData(Event(4, ts(80), 1, "buy", 4.0))
    q2.processAllAvailable(); q2.stop()
    val rows = spark.read.parquet(out)
      .select(col("event_type"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // exactly-once: the click window appears ONCE with both events
    assert(rows.count(_._1 == "click") == 1, rows.mkString(", "))
    assert(rows.find(_._1 == "click").get._2 == 2L)
    // the view window flushed by the restarted query, also once
    assert(rows.count(_._1 == "view") == 1, rows.mkString(", "))
  }

  test("streaming bloom decontamination: stateless probe flags leaked docs in-flight") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch side: sketch built once from the eval suite
    val eval = Seq("alpha beta gamma delta epsilon zeta eta theta")
      .toDF("text")
    val sketch = graft.operators.Decontaminate.gramSketch(
      graft.operators.Decontaminate.evalGrams(eval, "text", 5).select("g"),
      estimatedGrams = 1L << 12)
    val in = MemoryStream[(Long, String)]
    val q = Streams.bloomDecontaminated(
        in.toDF().toDF("doc_id", "text"), sketch, "text", n = 5, minHits = 2)
      .writeStream.format("memory").queryName("decon")
      .outputMode("append").start()
    in.addData(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // verbatim
      (2L, "prefix words alpha beta gamma delta epsilon tail end"), // 1 gram
      (3L, "completely different words with no overlap at all here"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("decon").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("eval_gram_hits"), r.getAs[Boolean]("contaminated"))))
      .toMap
    // sketch fp rate at 4096-key sizing over 4 grams is ~0: counts exact
    assert(rows(1L) == ((4L, true)))
    assert(rows(2L) == ((1L, false)))
    assert(rows(3L) == ((0L, false)))
  }

  test("streaming semantic gate: planted near-eval vector flagged in-flight, orthogonal clean") {
    import graft.operators.Similarity
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch side: gate model built once from the eval suite
    val eval = Seq((1000L, Seq(1f, 0f, 0f, 0f)), (1001L, Seq(0f, 0f, 1f, 0f)))
      .toDF("vec_id", "embedding")
    val model = Similarity.semanticGateModel(
      eval, "vec_id", "embedding", nCells = 2, assignProbe = 2)
    val in = MemoryStream[(Long, Seq[Float])]
    // full probe (nProbe = nCells): the gate is the exact
    // any-eval-within-threshold check — no recall caveat in the spec
    val q = Streams.semanticGate(
        in.toDF().toDF("vec_id", "embedding"), model, "embedding",
        threshold = 0.8, nProbe = 2)
      .writeStream.format("memory").queryName("semgate")
      .outputMode("append").start()
    in.addData(
      (1L, Seq(0.99f, 0.05f, 0f, 0f)), // ~eval 1000
      (2L, Seq(0f, 1f, 0f, 0f)), // orthogonal to both
      (3L, Seq(0.7f, 0f, 0.7f, 0f)), // between cells: cos ~0.7 to each — below 0.8
      (4L, Seq(0f, 0f, 0f, 0f))) // zero-norm: clean verdict, still flows
    q.processAllAvailable(); q.stop()
    val rows = spark.table("semgate").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("n_eval_near"), r.getAs[Boolean]("contaminated"))))
      .toMap
    assert(rows(1L) == ((1L, true)))
    assert(rows(2L) == ((0L, false)))
    assert(rows(3L) == ((0L, false)))
    assert(rows(4L) == ((0L, false)), "zero-norm rows flow through clean")
    assert(rows.size == 4)
  }

  test("streaming pii redaction: the batch operator composes onto a stream unchanged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // piiRedact is a pure per-row map (no shuffle, no state), so the
    // BATCH operator applies to a streaming frame as-is — the property
    // that makes the scrub stage deployable at ingest, not just in
    // backfill jobs
    val in = MemoryStream[(Long, String)]
    val q = graft.operators.Corpus.piiRedact(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("pii")
      .outputMode("append").start()
    in.addData(
      (1L, "write to ops@example.com from 10.1.2.3"),
      (2L, "nothing sensitive here"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("pii").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_emails"), r.getAs[Long]("n_ips")))).toMap
    assert(rows(1L) == ((1L, 1L)))
    assert(rows(2L) == ((0L, 0L)))
  }

  test("streaming ingest round: cross-batch dedup via the growing index, batch-id idempotence") {
    import graft.operators.{Ingest, ShingleIndex}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val seedDoc = "the curious archivist catalogued seventeen manuscripts " +
      "before noon and annotated each margin with meticulous cross references"
    val novelA = "a genuinely novel composition about tidal estuaries and " +
      "the migratory herons that patrol them at first light every autumn"
    val nearDupA = "a genuinely novel composition about tidal estuaries and " +
      "the migratory herons that patrol them at first light every winter"
    val novelB = "completely fresh material on basalt columns and the slow " +
      "geometry of cooling lava fields under a patient northern sky"
    val novelC = "an unrelated treatise concerning clockwork automata and " +
      "the patient craft of repairing their worn brass escapements nightly"
    val cfg = Ingest.Config("graft_sing", minTokens = 5)
    try {
      ShingleIndex.build(Seq((1L, seedDoc)).toDF("doc_id", "text"),
        "doc_id", "text", "graft_sing")
      val fates = scala.collection.concurrent.TrieMap[Long, (String, Option[Long])]()
      val batchIds = scala.collection.mutable.ListBuffer[Long]()
      val route: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, id) => {
        batchIds += id
        df.collect().foreach(r => fates(r.getAs[Long]("doc_id")) =
          (r.getAs[String]("fate"),
            Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)))
      }
      val in = MemoryStream[(Long, String)]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ing_ckpt")
      val q = Streams.triageMultiIngest(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", cfg, cfg.indexName, Nil, ckpt.toString, route)
      in.addData((10L, novelA), (11L, "too short"))
      q.processAllAvailable()
      in.addData((20L, nearDupA), (21L, novelB))
      q.processAllAvailable()
      q.stop()
      assert(fates(10L)._1 == "accepted")
      assert(fates(11L)._1 == "low_quality")
      // the batch-2 doc near-dups a doc ACCEPTED in batch 1: only the
      // between-batch index append can know that
      assert(fates(20L) == (("duplicate", Some(10L))))
      assert(fates(21L)._1 == "accepted")
      // idempotence: replaying a committed batch id must do NOTHING —
      // no route call, no index growth (foreachBatch replays after
      // failures; a replayed append would inflate df counts)
      val postings = spark.table("graft_sing_idx").count()
      val calls = batchIds.size
      Streams.triageMultiIngestBatch(Seq((99L, novelC)).toDF("doc_id", "text"),
        batchIds.head, "doc_id", "text", cfg, cfg.indexName, Nil, route)
      assert(spark.table("graft_sing_idx").count() == postings)
      assert(batchIds.size == calls)
      assert(!fates.contains(99L))
      // ...while a NEW batch id processes normally
      Streams.triageMultiIngestBatch(Seq((99L, novelC)).toDF("doc_id", "text"),
        batchIds.max + 1, "doc_id", "text", cfg, cfg.indexName, Nil, route)
      assert(fates(99L)._1 == "accepted")
      assert(spark.table("graft_sing_idx").count() > postings)
      // REAL restart replay: delete the checkpoint's last commit marker
      // (the crash window — foreachBatch ran, Spark hadn't recorded the
      // commit) and restart the SAME source from the SAME checkpoint.
      // Spark re-executes that batch id; the ledger must make it a
      // no-op — no index growth, no extra route call for that id.
      val commits = java.nio.file.Paths.get(ckpt.toString, "commits")
      val lastCommit = {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(commits)
        try s.iterator().asScala
          .filter(_.getFileName.toString.forall(_.isDigit))
          .maxBy(_.getFileName.toString.toLong)
        finally s.close()
      }
      java.nio.file.Files.delete(lastCommit)
      // the local checksum fs keeps a .N.crc sidecar; leaving it makes
      // the replayed commit's rename fail as a spurious "concurrent
      // query" — a real crash would lose both files together
      java.nio.file.Files.deleteIfExists(
        lastCommit.resolveSibling("." + lastCommit.getFileName + ".crc"))
      val beforeReplay = spark.table("graft_sing_idx").count()
      val callsBefore = batchIds.size
      val q2 = Streams.triageMultiIngest(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", cfg, cfg.indexName, Nil, ckpt.toString, route)
      q2.processAllAvailable()
      q2.stop()
      assert(spark.table("graft_sing_idx").count() == beforeReplay,
        "a replayed committed batch must not re-append postings")
      assert(batchIds.size == callsBefore,
        "a replayed committed batch must not re-route")
    } finally {
      Seq("graft_sing_idx", "graft_sing_sh", "graft_sing_meta",
        "graft_sing_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("streaming vector ingest: cross-batch dedup via the growing IVF index, batch-id idempotence") {
    import graft.operators.IvfIndex
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cfg = Streams.VectorIngestConfig("graft_ving", threshold = 0.9)
    try {
      IvfIndex.build(Seq((1L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", "graft_ving", nCells = 2)
      val fates = scala.collection.concurrent.TrieMap[Long, (String, Option[Long])]()
      val batchIds = scala.collection.mutable.ListBuffer[Long]()
      val route: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, id) => {
        batchIds += id
        df.collect().foreach(r => fates(r.getAs[Long]("vec_id")) =
          (r.getAs[String]("fate"),
            Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong)))
      }
      val in = MemoryStream[(Long, Seq[Float])]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ving_ckpt")
      val q = Streams.vectorIngest(in.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", cfg, ckpt.toString, route)
      in.addData(
        (10L, Seq(0f, 1f, 0f, 0f)),      // novel
        (11L, Seq(0f, 0f, 0f, 0f)))      // zero-norm: own fate, not appended
      q.processAllAvailable()
      in.addData(
        (20L, Seq(0f, 0.99f, 0.1f, 0f)), // ~10, accepted in batch 1
        (21L, Seq(0f, 0f, 1f, 0f)))      // novel
      q.processAllAvailable()
      q.stop()
      assert(fates(10L)._1 == "accepted")
      assert(fates(11L) == (("zero_norm", None)))
      // the batch-2 vector near-dups one ACCEPTED in batch 1: only the
      // between-batch index append can know that
      assert(fates(20L) == (("duplicate", Some(10L))))
      assert(fates(21L)._1 == "accepted")
      // idempotence: replaying a committed batch id is a no-op
      val cells = spark.table("graft_ving_cells").count()
      val calls = batchIds.size
      Streams.vectorIngestBatch(
        Seq((99L, Seq(1f, 1f, 0f, 0f))).toDF("vec_id", "embedding"),
        batchIds.head, "vec_id", "embedding", cfg, route)
      assert(spark.table("graft_ving_cells").count() == cells)
      assert(batchIds.size == calls)
      assert(!fates.contains(99L))
      // ...while a NEW batch id processes normally and grows the store
      Streams.vectorIngestBatch(
        Seq((99L, Seq(1f, 1f, 0f, 0f))).toDF("vec_id", "embedding"),
        batchIds.max + 1, "vec_id", "embedding", cfg, route)
      assert(fates(99L)._1 == "accepted")
      assert(spark.table("graft_ving_cells").count() > cells)
    } finally {
      Seq("graft_ving_cells", "graft_ving_cent", "graft_ving_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("crash between cell append and ledger commit: vector replay prunes the torn batch and converges") {
    import graft.operators.IvfIndex
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cfg = Streams.VectorIngestConfig("graft_vcrash", threshold = 0.9)
    val noop: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, _) => {
      df.count(); ()
    }
    try {
      IvfIndex.build(
        Seq((1L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", "graft_vcrash", nCells = 2)
      Streams.vectorIngestBatch(
        Seq((10L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding"),
        0L, "vec_id", "embedding", cfg, noop)
      val committed = spark.table("graft_vcrash_cells").count()
      // simulate the crash window: batch 1's accepted vectors were
      // appended to the cell store, the JVM died BEFORE the ledger row
      IvfIndex.append(
        Seq((20L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", "graft_vcrash", batchId = 1L)
      val tornTotal = spark.table("graft_vcrash_cells").count()
      assert(tornTotal > committed)
      // foreachBatch re-executes the uncommitted batch on restart with
      // the same id and data: the replay must prune the torn append
      // first, so the cell store converges to exactly one copy
      Streams.vectorIngestBatch(
        Seq((20L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding"),
        1L, "vec_id", "embedding", cfg, noop)
      val cells = spark.table("graft_vcrash_cells")
      assert(cells.count() == tornTotal,
        "replay must land exactly the rows one clean append writes")
      assert(cells.filter(col("neighbor_id") === 20L).count() == 1,
        "the torn-then-replayed vector must be stored exactly once")
      // and the converged store behaves: the replayed vector is a
      // findable neighbor exactly once
      val nn = IvfIndex.topK(
        Seq((100L, Seq(0f, 0f, 0.99f, 0.1f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", "graft_vcrash", k = 3, nProbe = 2)
        .filter(col("neighbor_id") === 20L).count()
      assert(nn == 1, "a torn-then-replayed vector must match once, not twice")
      // ledger-aware compaction dispatches to the IVF family: every
      // committed batch folds into base, directory growth resets,
      // answers unchanged
      spark.catalog.clearCache()
      Streams.compactIndex(spark, cfg.indexName)
      val dirs = {
        val warehouse = spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")
        val s = java.nio.file.Files.walk(
          java.nio.file.Paths.get(warehouse, "graft_vcrash_cells"))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("batch_id=")).toSet
        } finally s.close()
      }
      assert(dirs == Set("batch_id=-1"), dirs.toString)
      val nnAfter = IvfIndex.topK(
        Seq((100L, Seq(0f, 0f, 0.99f, 0.1f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", "graft_vcrash", k = 3, nProbe = 2)
        .filter(col("neighbor_id") === 20L).count()
      assert(nnAfter == 1, "compaction must not change any answer")
    } finally {
      Seq("graft_vcrash_cells", "graft_vcrash_cent", "graft_vcrash_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("vector ingest over a PQ-built index: torn append converges with codes, compaction preserves ADC") {
    import graft.operators.IvfIndex
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cfg = Streams.VectorIngestConfig("graft_vpq", threshold = 0.9)
    val noop: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, _) => {
      df.count(); ()
    }
    try {
      // the lifecycle contract must hold unchanged when the cell store
      // also carries residual codes (the ADC serve path): appends
      // encode against the frozen books, prune/replay is still pure
      // partition surgery, compaction carries the codes column
      IvfIndex.build(
        Seq((1L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", "graft_vpq", nCells = 2,
        pq = Some(IvfIndex.PqSpec(m = 2, nCodes = 2)))
      Streams.vectorIngestBatch(
        Seq((10L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding"),
        0L, "vec_id", "embedding", cfg, noop)
      // crash window: appended, died before the ledger row
      IvfIndex.append(
        Seq((20L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", "graft_vpq", batchId = 1L)
      val tornTotal = spark.table("graft_vpq_cells").count()
      // replay converges, and every stored row (base + streamed +
      // replayed) carries frozen-book codes. The batch body must also
      // leave NO newly pinned frames behind — a foreachBatch loop that
      // leaks one cached set per micro-batch fills executor storage
      // over a stream's lifetime (the callees persist under the
      // caller-clears-cache convention; the loop is the caller)
      val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
      Streams.vectorIngestBatch(
        Seq((20L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding"),
        1L, "vec_id", "embedding", cfg, noop)
      assert((spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore)
        .isEmpty, "the batch loop must not leak pinned frames")
      val cells = spark.table("graft_vpq_cells")
      assert(cells.count() == tornTotal)
      assert(cells.filter(col("neighbor_id") === 20L).count() == 1)
      assert(cells.filter(col("codes").isNull).count() == 0,
        "every stored row must carry codes")
      // the replayed vector is findable through pure ADC exactly once
      def adcHit() = IvfIndex.topKAdc(
        Seq((100L, Seq(0f, 0f, 0.99f, 0.1f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", "graft_vpq", k = 3, nProbe = 2)
        .filter(col("neighbor_id") === 20L).count()
      assert(adcHit() == 1)
      spark.catalog.clearCache()
      Streams.compactIndex(spark, cfg.indexName)
      assert(adcHit() == 1, "compaction must not change any ADC answer")
      assert(spark.table("graft_vpq_cells")
        .filter(col("codes").isNull).count() == 0,
        "compaction must carry the codes column")
    } finally {
      Seq("graft_vpq_cells", "graft_vpq_cent", "graft_vpq_books",
        "graft_vpq_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("writer lease: a takeover turns the first writer's next batch loud") {
    import graft.operators.{IvfIndex, WriterLease}
    import spark.implicits._
    val cfg = Streams.VectorIngestConfig("graft_vlease", threshold = 0.9)
    try {
      IvfIndex.build(
        Seq((1L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", "graft_vlease", nCells = 2)
      val noop: (org.apache.spark.sql.DataFrame, Long) => Unit =
        (df, _) => { df.count(); () }
      val mine = WriterLease.take(spark, "graft_vlease")
      // holding the current lease: the batch processes normally
      Streams.vectorIngestBatch(
        Seq((10L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding"),
        0L, "vec_id", "embedding", cfg, noop, lease = Some(mine))
      val cells = spark.table("graft_vlease_cells").count()
      // a second writer takes over (e.g. a concurrent compaction or a
      // second stream): the first writer's NEXT batch must fail loudly
      // and mutate nothing
      WriterLease.take(spark, "graft_vlease")
      val e = intercept[IllegalArgumentException] {
        Streams.vectorIngestBatch(
          Seq((20L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding"),
          1L, "vec_id", "embedding", cfg, noop, lease = Some(mine))
      }
      assert(e.getMessage.contains("single-writer"))
      assert(spark.table("graft_vlease_cells").count() == cells,
        "a lease-rejected batch must not touch the store")
      // replay of the COMMITTED batch stays a no-op even lease-less
      // (the ledger check runs first — replays after a handover don't
      // spuriously fail)
      Streams.vectorIngestBatch(
        Seq((10L, Seq(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding"),
        0L, "vec_id", "embedding", cfg, noop, lease = Some(mine))
    } finally {
      Seq("graft_vlease_cells", "graft_vlease_cent", "graft_vlease_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      WriterLease.release(spark, "graft_vlease")
      spark.catalog.clearCache()
    }
  }

  test("crash between index append and ledger commit: replay prunes the torn batch and converges") {
    import graft.operators.{Ingest, ShingleIndex}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val seed = "the steadfast lighthouse keeper logged every passing vessel " +
      "and polished the great lens at dusk without fail through the storm"
    val docA = "an original essay on terraced vineyards and the stubborn " +
      "mules that haul the harvest down switchback paths each october"
    val docB = "fresh prose describing glassblowers at their furnaces and " +
      "the patient breath that coaxes molten light into fragile vessels"
    val cfg = Ingest.Config("graft_crash", minTokens = 5)
    val noop: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, _) => {
      df.count(); ()
    }
    try {
      ShingleIndex.build(Seq((1L, seed)).toDF("doc_id", "text"),
        "doc_id", "text", "graft_crash")
      Streams.triageMultiIngestBatch(Seq((10L, docA)).toDF("doc_id", "text"),
        0L, "doc_id", "text", cfg, cfg.indexName, Nil, noop)
      val committed = spark.table("graft_crash_idx").count()
      // simulate the crash window: batch 1's accepted docs were appended
      // to the index, the JVM died BEFORE the ledger row — exactly the
      // torn state ADVICE flagged as silently corrupting df counts
      ShingleIndex.append(Seq((20L, docB)).toDF("doc_id", "text"),
        "doc_id", "text", "graft_crash", batchId = 1L)
      val tornTotal = spark.table("graft_crash_idx").count()
      assert(tornTotal > committed)
      // foreachBatch re-executes the uncommitted batch on restart with
      // the same id and the same data: the replay must prune the torn
      // append first, so the index converges to exactly one copy
      Streams.triageMultiIngestBatch(Seq((20L, docB)).toDF("doc_id", "text"),
        1L, "doc_id", "text", cfg, cfg.indexName, Nil, noop)
      val idx = spark.table("graft_crash_idx")
      assert(idx.count() == tornTotal,
        "replay must land exactly the postings one clean append writes")
      assert(idx.count() == idx.dropDuplicates("s", "doc_id").count(),
        "no (s, doc_id) posting may be duplicated after replay")
      assert(spark.table("graft_crash_sh")
        .filter(col("doc_id") === 20L).count() == 1,
        "the shingle store must hold the replayed doc exactly once")
      // and the converged index behaves: a later near-dup of the
      // replayed doc matches it exactly once
      val nearB = docB.replace("fragile", "delicate")
      val pairs = ShingleIndex.incrementalPairs(
        Seq((30L, nearB)).toDF("doc_id", "text"),
        "doc_id", "text", "graft_crash")
        .filter(col("match_id") === 20L).count()
      assert(pairs == 1, "a torn-then-replayed doc must pair once, not twice")
      // ledger-aware compaction between restarts: every committed batch
      // folds into base (the ledger knows 0 and 1 committed; nothing is
      // torn now), directory growth resets, answers unchanged
      spark.catalog.clearCache()
      Streams.compactIndex(spark, cfg.indexName)
      val dirs = {
        val warehouse = spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")
        val s = java.nio.file.Files.walk(
          java.nio.file.Paths.get(warehouse, "graft_crash_idx"))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("batch_id=")).toSet
        } finally s.close()
      }
      assert(dirs == Set("batch_id=-1"), dirs.toString)
      val pairsAfter = ShingleIndex.incrementalPairs(
        Seq((31L, nearB)).toDF("doc_id", "text"),
        "doc_id", "text", "graft_crash")
        .filter(col("match_id") === 20L).count()
      assert(pairsAfter == 1, "compaction must not change any answer")
    } finally {
      Seq("graft_crash_idx", "graft_crash_sh", "graft_crash_meta",
        "graft_crash_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("posting store ledger: torn batch converges, compactIndex dispatches the BM25 family") {
    import graft.operators.{Corpus, PostingIndex}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val name = "graft_postledger"
    // a single store ingests as a group of one
    val fam = Seq(Streams.StoreFamily.posting(name, "doc_id", "text"))
    val seed = Seq((10L, "zebra quark filler words here"),
      (1L, "zebra walks alone tonight")).toDF("doc_id", "text")
    val b0 = Seq((2L, "quark soup again today")).toDF("doc_id", "text")
    val b1 = Seq((3L, "quark salad every day")).toDF("doc_id", "text")
    val queries = seed.filter(col("doc_id") === 10L)
    def served() = PostingIndex.topK(queries, "doc_id", "text", name, 2, 10)
      .collect().map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"))).sortBy(_._1).toSeq
    def mem(dfs: org.apache.spark.sql.DataFrame*) = {
      val whole = dfs.reduceLeft(_ union _)
      Corpus.bm25TopK(whole, "doc_id", "text", col("doc_id") === 10L, 2, 10)
        .collect().map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("doc_id"),
          r.getAs[Double]("score"))).sortBy(_._1).toSeq
    }
    try {
      PostingIndex.build(seed, "doc_id", "text", name, buckets = 4)
      Streams.multiIngestBatch(b0, 0L, name, fam)
      assert(served() == mem(seed, b0))
      // replay of the committed batch: no double-counted postings/stats
      Streams.multiIngestBatch(b0, 0L, name, fam)
      assert(served() == mem(seed, b0))
      // torn batch: postings + stats appended, no ledger row; the
      // replay prunes both and converges
      PostingIndex.append(b1, "doc_id", "text", name, batchId = 1L)
      Streams.multiIngestBatch(b1, 1L, name, fam)
      assert(served() == mem(seed, b0, b1))
      // family dispatch: compactIndex finds {name}_post and folds the
      // committed batches to base without changing any score
      spark.catalog.clearCache()
      Streams.compactIndex(spark, name)
      assert(spark.table(s"${name}_post").select("batch_id").distinct()
        .collect().map(_.getLong(0)).toSet == Set(-1L))
      assert(served() == mem(seed, b0, b1))
    } finally {
      Seq(s"${name}_post", s"${name}_stats", s"${name}_meta",
        s"${name}_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("cms stats store: store ≡ rebuild bit-for-bit, torn batch converges, compact merges to one matrix") {
    import graft.operators.{CmsStore, Corpus}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val name = "graft_cmsstore"
    // a single store ingests as a group of one
    val fam = Seq(Streams.StoreFamily.cms(name, "doc_id", "text"))
    val seed = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma other words")).toDF("doc_id", "text")
    val b0 = Seq((10L, "alpha beta gamma again here")).toDF("doc_id", "text")
    val b1 = Seq((20L, "totally new content flows in")).toDF("doc_id", "text")
    val cands = Seq("alpha beta gamma", "totally new content",
      "never seen anywhere").toDF("ngram")
    // tiny width on purpose: collisions must not break any equality
    val (n, depth, width) = (3, 4, 16)
    def fromScratch(dfs: org.apache.spark.sql.DataFrame*) = {
      val whole = dfs.reduceLeft(_ union _)
      Corpus.cmsEstimateDf(
        Corpus.cmsNgramMatrix(whole, "doc_id", "text", n, depth, width),
        cands, "ngram", depth, width)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    def fromStore() = CmsStore.estimateDf(cands, "ngram", name)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    try {
      CmsStore.build(seed, "doc_id", "text", name, n, depth, width)
      assert(fromStore() == fromScratch(seed))
      // committed ingest batch: store must equal a rebuild over the union
      Streams.multiIngestBatch(b0, 0L, name, fam)
      assert(fromStore() == fromScratch(seed, b0))
      // replayed committed batch is a no-op (no double counting)
      Streams.multiIngestBatch(b0, 0L, name, fam)
      assert(fromStore() == fromScratch(seed, b0))
      // torn batch: counters appended, JVM "dies" before the ledger row
      CmsStore.append(b1, "doc_id", "text", name, batchId = 1L)
      // replay with the same id and data: prune-then-append converges
      Streams.multiIngestBatch(b1, 1L, name, fam)
      assert(fromStore() == fromScratch(seed, b0, b1))
      // ledger-aware compaction folds every committed batch into base,
      // MERGING counters: one batch_id=-1 partition, ≤ depth·width rows
      spark.catalog.clearCache()
      Streams.compactIndex(spark, name)
      val t = spark.table(s"${name}_cms")
      assert(t.select("batch_id").distinct().collect()
        .map(_.getLong(0)).toSet == Set(-1L))
      assert(t.count() <= depth.toLong * width)
      assert(t.groupBy("rw", "bucket").count()
        .filter(col("count") > 1).count() == 0,
        "compaction must merge duplicate (rw, bucket) counters")
      assert(fromStore() == fromScratch(seed, b0, b1),
        "compaction must not change any estimate")
      // store-gated heavy hitters == the one-shot operator over the
      // same union (the sketch only decides the gate; recount is exact)
      val union = seed.union(b0).union(b1)
      def hhRows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1).toSeq
      assert(hhRows(CmsStore.heavyHitters(union, "doc_id", "text", name, 2L))
        == hhRows(Corpus.cmsHeavyHitters(union, "doc_id", "text",
          n, depth, width, 2L)))
    } finally {
      Seq(s"${name}_cms", s"${name}_meta", s"${name}_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("streaming drift monitor: per-micro-batch reports via writeStream, frozen reference, lease takeover on restart") {
    import graft.operators.{Corpus, DriftStore}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val name = "graft_driftlive"
    // a single store ingests as a group of one
    val fam = Seq(Streams.StoreFamily.drift(name, "src", "v"))
    val ref = (1L to 60L).map(i => ("s" + (i % 2), i % 23)).toDF("src", "v")
    try {
      DriftStore.build(ref, "src", "v", name, 4L)
      val in = MemoryStream[(String, Long)]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_drift_ckpt")
      val q = Streams.multiIngest(in.toDF().toDF("src", "v"),
        name, fam, ckpt.toString)
      val b0 = (1L to 30L).map(i => ("s" + (i % 2), i % 19))
      val b1 = (1L to 25L).map(i => ("s" + (i % 2), (i % 7) + 40))
      in.addData(b0: _*)
      q.processAllAvailable()
      in.addData(b1: _*)
      q.processAllAvailable()
      q.stop()
      // one report row per (batch, group); each batch equals its
      // one-shot operator bit-for-bit (the frozen-histogram path)
      def stored(id: Long) = DriftStore.reports(spark, name)
        .filter(col("batch_id") === id)
        .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("n_cur"),
          r.getAs[Double]("chi2"))).toSet
      def oneShot(rows: Seq[(String, Long)]) =
        Corpus.histogramDrift(ref, rows.toDF("src", "v"), "src", "v", 4L)
          .collect().map(r => (r.getString(0), r.getLong(2),
            r.getDouble(5))).toSet
      assert(stored(0L) == oneShot(b0) && stored(0L).size == 2)
      assert(stored(1L) == oneShot(b1))
      // the stream's manifest committed both batches
      assert(spark.table(s"${name}_manifest").count() == 2)
      // takeover semantics: a new monitor (e.g. after re-baseline)
      // claims the lease on start — no manual cleanup after a stop
      // or crash (WriterLease.take overwrites)
      val q2 = Streams.multiIngest(in.toDF().toDF("src", "v"),
        name, fam, ckpt.toString)
      in.addData(("s0", 5L))
      q2.processAllAvailable()
      q2.stop()
    } finally {
      Seq(s"${name}_ref", s"${name}_meta", s"${name}_drift",
        s"${name}_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("sample store: served sample ≡ one-shot over everything ingested, re-ingest idempotent, torn batch and compaction converge") {
    import graft.operators.{SampleStore, Similarity}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val name = "graft_samplestore"
    // a single store ingests as a group of one
    val fam = Seq(Streams.StoreFamily.sample(name, "vec_id", "embedding"))
    def vec(i: Long) = (i, Array((i % 7).toDouble + 1.0,
      (i % 5).toDouble, (i % 3).toDouble))
    val base = (1L to 20L).map(vec).toDF("vec_id", "embedding")
    val b0 = (21L to 32L).map(vec)
    val b1 = (33L to 40L).map(vec)
    def union(extra: Seq[(Long, Array[Double])]*) =
      extra.foldLeft(base)((acc, rows) =>
        acc.unionByName(rows.toDF("vec_id", "embedding")))
    def served() = SampleStore.sample(spark, name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def oneShot(docs: org.apache.spark.sql.DataFrame) =
      Similarity.clusterBalancedSample(docs, "vec_id", "embedding",
        nCells = 4, k = 3,
        centroids = Some(spark.table(s"${name}_cent"))).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    try {
      SampleStore.build(base, "vec_id", "embedding", name, 4, 3)
      assert(served() == oneShot(base) && served().nonEmpty)
      // two micro-batches through the real writeStream loop: min-k
      // associativity means the served sample tracks the union exactly
      val in = MemoryStream[(Long, Array[Double])]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_smpl_ckpt")
      val q = Streams.multiIngest(in.toDF().toDF("vec_id", "embedding"),
        name, fam, ckpt.toString)
      in.addData(b0: _*); q.processAllAvailable()
      in.addData(b1: _*); q.processAllAvailable()
      q.stop()
      assert(served() == oneShot(union(b0, b1)))
      assert(spark.table(s"${name}_manifest").count() == 2)
      // a batch re-ingesting already-sampled ids is idempotent: one
      // quota slot per doc, never two
      SampleStore.append(b0.take(3).toDF("vec_id", "embedding"),
        "vec_id", "embedding", name, 50L)
      assert(served() == oneShot(union(b0, b1)))
      // torn batch: append lands, "crash" before the ledger row;
      // batch-level replay prunes and re-appends — converges
      val b2 = Seq(vec(41L))
      SampleStore.append(b2.toDF("vec_id", "embedding"),
        "vec_id", "embedding", name, 60L)
      Streams.multiIngestBatch(b2.toDF("vec_id", "embedding"), 60L,
        name, fam)
      assert(served() == oneShot(union(b0, b1, b2)))
      // compaction folds committed partitions without moving a row of
      // the served sample (the 50L direct append is uncommitted — it
      // stays a separate prunable partition)
      Streams.compactIndex(spark, name)
      assert(served() == oneShot(union(b0, b1, b2)))
      val parts = spark.sql(s"SHOW PARTITIONS ${name}_smpl").count()
      assert(parts == 2, s"expected base + uncommitted, got $parts")
    } finally {
      Seq(s"${name}_cent", s"${name}_smpl", s"${name}_meta",
        s"${name}_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("dsir store: accumulated model ≡ from-scratch fit bit-for-bit through stream, torn batch, and compaction") {
    import graft.operators.{Corpus, DsirStore}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val name = "graft_dsirstore"
    // a single store ingests as a group of one
    val fam = Seq(Streams.StoreFamily.dsir(name, "doc_id", "text"))
    val B = 256
    def doc(i: Long, t: String) = (i, t)
    val base = Seq(doc(1, "alpha beta alpha"), doc(2, "gamma delta"),
      doc(3, "zulu yankee xray")).toDF("doc_id", "text")
    val target = Seq(doc(10, "alpha beta"), doc(11, "beta alpha beta"))
      .toDF("doc_id", "text")
    val b0 = Seq(doc(4, "alpha gamma beta"), doc(5, "whiskey victor"))
    val b1 = Seq(doc(6, "beta beta alpha"), doc(7, "uniform tango"))
    def union(extra: Seq[(Long, String)]*) =
      extra.foldLeft(base)((acc, rows) =>
        acc.unionByName(rows.toDF("doc_id", "text")))
    def served(docs: org.apache.spark.sql.DataFrame) =
      DsirStore.weights(docs, "doc_id", "text", name).collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
    def oneShot(docs: org.apache.spark.sql.DataFrame) =
      Corpus.dsirWeights(docs, target, "doc_id", "text", B).collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)))).toSet
    try {
      DsirStore.build(base, target, "doc_id", "text", name, B)
      // base model serves the from-scratch weights bit-for-bit
      assert(served(base) == oneShot(base))
      // two micro-batches through the real writeStream loop
      val in = MemoryStream[(Long, String)]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_dsir_ckpt")
      val q = Streams.multiIngest(in.toDF().toDF("doc_id", "text"),
        name, fam, ckpt.toString)
      in.addData(b0: _*); q.processAllAvailable()
      in.addData(b1: _*); q.processAllAvailable()
      q.stop()
      // the accumulated source model scores EXACTLY like a from-scratch
      // fit over everything ingested (histogram addition is integer-
      // exact) — the weights of the whole union match bit-for-bit
      val all = union(b0, b1)
      assert(served(all) == oneShot(all) && served(all).size == 7)
      assert(spark.table(s"${name}_manifest").count() == 2)
      // torn batch: append lands, "crash" before the ledger row; the
      // batch-level replay prunes and re-appends — converges
      val b2 = Seq(doc(8, "alpha sierra"))
      DsirStore.append(b2.toDF("doc_id", "text"), "doc_id", "text", name, 9L)
      Streams.multiIngestBatch(b2.toDF("doc_id", "text"), 9L,
        name, fam)
      val all3 = union(b0, b1, b2)
      assert(served(all3) == oneShot(all3))
      // replay of a committed batch is a no-op
      Streams.multiIngestBatch(b2.toDF("doc_id", "text"), 9L,
        name, fam)
      assert(served(all3) == oneShot(all3))
      // compaction merges counters without moving a single weight, and
      // the source table shrinks back to one ≤ buckets-row histogram
      Streams.compactIndex(spark, name)
      assert(served(all3) == oneShot(all3))
      val parts = spark.sql(s"SHOW PARTITIONS ${name}_dsir").count()
      assert(parts == 1, s"expected one folded partition, got $parts")
    } finally {
      Seq(s"${name}_tgt", s"${name}_dsir", s"${name}_meta",
        s"${name}_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("drift store: batch reports ≡ the one-shot operator bit-for-bit, replay and torn batch converge") {
    import graft.operators.{Corpus, DriftStore}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val name = "graft_driftstore"
    // a single store ingests as a group of one
    val fam = Seq(Streams.StoreFamily.drift(name, "src", "v"))
    val ref = (1L to 60L).map(i => ("s" + (i % 2), i % 23)).toDF("src", "v")
    val b0 = (1L to 30L).map(i => ("s" + (i % 2), i % 19)).toDF("src", "v")
    val b1 = (1L to 25L).map(i => ("s" + (i % 2), (i % 7) + 40)) // shifted
      .toDF("src", "v")
    def oneShot(cur: org.apache.spark.sql.DataFrame) =
      Corpus.histogramDrift(ref, cur, "src", "v", 4L)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getDouble(5))).toSet
    def stored(batchId: Long) =
      DriftStore.reports(spark, name)
        .filter(col("batch_id") === batchId)
        .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("n_ref"),
          r.getAs[Long]("n_cur"), r.getAs[Long]("n_bins"),
          r.getAs[Long]("dof"), r.getAs[Double]("chi2"))).toSet
    try {
      DriftStore.build(ref, "src", "v", name, 4L)
      // the stored-histogram path must match the one-shot operator
      // bit-for-bit, including the chi-square doubles
      Streams.multiIngestBatch(b0, 0L, name, fam)
      assert(stored(0L) == oneShot(b0) && stored(0L).nonEmpty)
      // replaying a committed batch is a no-op (no duplicate reports)
      Streams.multiIngestBatch(b0, 0L, name, fam)
      assert(DriftStore.reports(spark, name)
        .filter(col("batch_id") === 0L).count() == stored(0L).size)
      // torn batch: report appended, JVM "dies" before the ledger row;
      // replay prunes and re-reports — converges to exactly one set
      DriftStore.appendReport(b1, "src", "v", name, 1L)
      Streams.multiIngestBatch(b1, 1L, name, fam)
      assert(stored(1L) == oneShot(b1))
      // the shifted batch visibly drifts more than the in-family one
      val chi = (id: Long) => stored(id).map(_._6).sum
      assert(chi(1L) > chi(0L))
      // compaction: both batches committed → their report partitions
      // fold to base (bounded catalog under endless micro-batches);
      // every report row survives the re-stamp verbatim
      val before = DriftStore.reports(spark, name)
        .drop("batch_id").collect().toSet
      Streams.compactIndex(spark, name)
      val parts = spark.sql(s"SHOW PARTITIONS ${name}_drift")
        .collect().map(_.getString(0)).toSet
      assert(parts == Set(
        s"batch_id=${graft.operators.BatchTable.BaseBatch}"))
      assert(DriftStore.reports(spark, name)
        .drop("batch_id").collect().toSet == before)
      // re-baselining rebuilds the store, which drops its ledger AND its
      // group-of-one manifest: a fresh stream restarting at batch 0 must
      // land, not be skipped as already committed
      DriftStore.build(ref, "src", "v", name, 4L)
      Streams.multiIngestBatch(b0, 0L, name, fam)
      assert(stored(0L) == oneShot(b0))
    } finally {
      Seq(s"${name}_ref", s"${name}_meta", s"${name}_drift",
        s"${name}_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("cross-family atomic ingest: a crash between family A's append and family B's converges BOTH; per-family compaction keeps working") {
    import graft.operators.{CmsStore, Corpus, PostingIndex}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val group = "graft_mgrp"
    val nameP = "graft_mgrp_post"
    val nameC = "graft_mgrp_cms"
    val seed = Seq((10L, "zebra quark filler words here"),
      (1L, "zebra walks alone tonight")).toDF("doc_id", "text")
    val b0 = Seq((2L, "quark soup again today")).toDF("doc_id", "text")
    val b1 = Seq((3L, "quark salad every day")).toDF("doc_id", "text")
    val b2 = Seq((4L, "zebra quark reprise finale")).toDF("doc_id", "text")
    val fams = Seq(Streams.StoreFamily.posting(nameP, "doc_id", "text"),
      Streams.StoreFamily.cms(nameC, "doc_id", "text"))
    val queries = seed.filter(col("doc_id") === 10L)
    val cands = Seq("zebra quark filler", "quark soup again",
      "never seen anywhere").toDF("ngram")
    val (n, depth, width) = (3, 4, 16)
    def servedPost() = PostingIndex.topK(queries, "doc_id", "text",
        nameP, 2, 10)
      .collect().map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"))).sortBy(_._1).toSeq
    def memPost(dfs: org.apache.spark.sql.DataFrame*) =
      Corpus.bm25TopK(dfs.reduceLeft(_ union _), "doc_id", "text",
        col("doc_id") === 10L, 2, 10)
        .collect().map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("doc_id"),
          r.getAs[Double]("score"))).sortBy(_._1).toSeq
    def servedCms() = CmsStore.estimateDf(cands, "ngram", nameC)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def memCms(dfs: org.apache.spark.sql.DataFrame*) =
      Corpus.cmsEstimateDf(
        Corpus.cmsNgramMatrix(dfs.reduceLeft(_ union _), "doc_id", "text",
          n, depth, width), cands, "ngram", depth, width)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def ledgerIds(t: String) =
      if (!spark.catalog.tableExists(t)) Set.empty[Long]
      else spark.table(t).collect().map(_.getLong(0)).toSet
    try {
      PostingIndex.build(seed, "doc_id", "text", nameP, buckets = 4)
      CmsStore.build(seed, "doc_id", "text", nameC, n, depth, width)
      // clean group batch: both families advance under ONE commit
      Streams.multiIngestBatch(b0, 0L, group, fams)
      assert(servedPost() == memPost(seed, b0))
      assert(servedCms() == memCms(seed, b0))
      assert(ledgerIds(s"${group}_manifest") == Set(0L))
      // replay of a committed group batch: no-op for every family
      Streams.multiIngestBatch(b0, 0L, group, fams)
      assert(servedPost() == memPost(seed, b0))
      assert(servedCms() == memCms(seed, b0))
      // THE kill window: family A (posting) fully appended batch 1,
      // the JVM dies before family B (cms) appends — no manifest row.
      // Per-family replay could never see this: A looks torn only from
      // the GROUP's viewpoint.
      PostingIndex.append(b1, "doc_id", "text", nameP, batchId = 1L)
      // group replay: prunes batch 1 in BOTH families (B's prune is a
      // no-op), redoes both appends, commits once — both horizons meet
      Streams.multiIngestBatch(b1, 1L, group, fams)
      assert(servedPost() == memPost(seed, b0, b1),
        "posting must hold batch 1 exactly once after the group replay")
      assert(servedCms() == memCms(seed, b0, b1),
        "cms must converge to the same horizon as posting")
      assert(ledgerIds(s"${group}_manifest") == Set(0L, 1L))
      // both families appended batch 2 and its manifest row landed:
      // a replay of the manifest-committed batch skips every append
      fams.foreach(_.append(b2, 2L))
      Seq(2L).toDF("batch_id").write.mode("append")
        .saveAsTable(s"${group}_manifest")
      Streams.multiIngestBatch(b2, 2L, group, fams)
      assert(servedPost() == memPost(seed, b0, b1, b2))
      assert(servedCms() == memCms(seed, b0, b1, b2))
      // group compaction folds exactly the group manifest's batches
      spark.catalog.clearCache()
      Streams.compactGroup(spark, group, fams)
      assert(spark.table(s"${nameP}_post").select("batch_id").distinct()
        .collect().map(_.getLong(0)).toSet == Set(-1L))
      assert(spark.table(s"${nameC}_cms").select("batch_id").distinct()
        .collect().map(_.getLong(0)).toSet == Set(-1L))
      assert(servedPost() == memPost(seed, b0, b1, b2))
      assert(servedCms() == memCms(seed, b0, b1, b2))
    } finally {
      Seq(s"${nameP}_post", s"${nameP}_stats", s"${nameP}_meta",
        s"${nameC}_cms", s"${nameC}_meta", s"${group}_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("heterogeneous group: a text store and a drift monitor ingest atomically from one stream") {
    import graft.operators.{Corpus, CmsStore, DriftStore}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // one stream carries (doc_id, text, lang, n_tokens); the CMS
    // family closes over (doc_id, text), the drift family over
    // (lang, n_tokens) — the hooks make column semantics per-family
    val group = "graft_hgrp"
    val nameC = "graft_hgrp_cms"
    val nameD = "graft_hgrp_drift"
    val seed = Seq((1L, "alpha beta gamma delta", "en", 4L),
      (2L, "alpha beta other words here", "de", 5L))
      .toDF("doc_id", "text", "lang", "n_tokens")
    val b0 = Seq((10L, "alpha beta gamma again", "en", 4L),
      (11L, "fresh content flows in", "de", 44L))
      .toDF("doc_id", "text", "lang", "n_tokens")
    val fams = Seq(Streams.StoreFamily.cms(nameC, "doc_id", "text"),
      Streams.StoreFamily.drift(nameD, "lang", "n_tokens"))
    val cands = Seq("alpha beta gamma").toDF("ngram")
    try {
      CmsStore.build(seed, "doc_id", "text", nameC, 3, 4, 16)
      DriftStore.build(seed, "lang", "n_tokens", nameD, 4L)
      // torn across the TYPE boundary: the text store appended, the
      // monitor didn't — only the group manifest can see it
      graft.operators.CmsStore.append(b0, "doc_id", "text", nameC, 0L)
      Streams.multiIngestBatch(b0, 0L, group, fams)
      val est = CmsStore.estimateDf(cands, "ngram", nameC)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = Corpus.cmsEstimateDf(
        Corpus.cmsNgramMatrix(seed.unionByName(b0), "doc_id", "text",
          3, 4, 16), cands, "ngram", 4, 16)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(est == want, "torn text-store append must converge to once")
      val reports = DriftStore.reports(spark, nameD)
        .filter(col("batch_id") === 0L).collect()
      assert(reports.length == 2) // en + de, one report row per lang
      val oneShot = Corpus.histogramDrift(seed, b0, "lang", "n_tokens", 4L)
        .collect().map(r => (r.getString(0), r.getDouble(5))).toMap
      assert(reports.map(r =>
        (r.getAs[String]("grp"), r.getAs[Double]("chi2"))).toMap == oneShot)
    } finally {
      Seq(s"${nameC}_cms", s"${nameC}_meta", s"${nameD}_ref",
        s"${nameD}_meta", s"${nameD}_drift", s"${group}_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("triage-driven group: accepted docs feed index AND families under one commit; duplicates never reach an append") {
    import graft.operators.{CmsStore, Corpus, Ingest, PostingIndex, ShingleIndex}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val group = "graft_tgrp"
    val idx = "graft_tgrp_idx"
    val nameP = "graft_tgrp_post"
    val seedDoc = "the curious archivist catalogued seventeen manuscripts " +
      "before noon and annotated each margin with meticulous cross references"
    val novel = "a genuinely novel composition about tidal estuaries and " +
      "the migratory herons that patrol them at first light every autumn"
    val nearDup = "a genuinely novel composition about tidal estuaries and " +
      "the migratory herons that patrol them at first light every winter"
    val novelB = "completely fresh material on basalt columns and the slow " +
      "geometry of cooling lava fields under a patient northern sky"
    val cfg = Ingest.Config(idx, minTokens = 5)
    val fams = Seq(Streams.StoreFamily.posting(nameP, "doc_id", "text"))
    val seed = Seq((1L, seedDoc)).toDF("doc_id", "text")
    // query = the seed doc itself: a corpus member on BOTH paths, so
    // store stats and rebuild stats see the identical doc set
    def served() = PostingIndex.topK(seed, "doc_id", "text", nameP, 3, 10)
      .collect().map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("doc_id")))
      .sortBy(_._1).toSeq
    def mem(dfs: org.apache.spark.sql.DataFrame*) =
      Corpus.bm25TopK(dfs.reduceLeft(_ union _),
          "doc_id", "text", col("doc_id") === 1L, 3, 10)
        .collect().map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("doc_id")))
        .sortBy(_._1).toSeq
    try {
      ShingleIndex.build(seed, "doc_id", "text", idx)
      PostingIndex.build(seed, "doc_id", "text", nameP, buckets = 4)
      val fates = scala.collection.mutable.Map[Long, String]()
      val route: (org.apache.spark.sql.DataFrame, Long) => Unit =
        (df, _) => df.collect().foreach(r =>
          fates(r.getAs[Long]("doc_id")) = r.getAs[String]("fate"))
      // batch 0: one novel doc + one near-dup of it arriving LATER in
      // batch 1 + one too-short doc — only accepted docs may land
      Streams.triageMultiIngestBatch(
        Seq((10L, novel), (11L, "too short")).toDF("doc_id", "text"),
        0L, "doc_id", "text", cfg, group, fams, route)
      assert(fates(10L) == "accepted" && fates(11L) == "low_quality")
      assert(served() == mem(seed, Seq((10L, novel)).toDF("doc_id", "text")))
      // batch 1: the near-dup is triaged out BY THE GROWN INDEX — the
      // posting store must never see it (doc-disjointness by
      // construction); novelB is accepted
      Streams.triageMultiIngestBatch(
        Seq((20L, nearDup), (21L, novelB)).toDF("doc_id", "text"),
        1L, "doc_id", "text", cfg, group, fams, route)
      assert(fates(20L) == "duplicate" && fates(21L) == "accepted")
      val whole = Seq((10L, novel), (21L, novelB)).toDF("doc_id", "text")
      assert(served() == mem(seed, whole))
      assert(spark.table(s"${nameP}_post")
        .filter(col("doc_id") === 20L).count() == 0,
        "a triaged-out duplicate must never reach a family append")
      // kill window: index appended batch 2, family didn't, no
      // manifest — group replay converges both (and route re-fires)
      val b2 = Seq((30L, novel + " with a small twist at the end"))
        .toDF("doc_id", "text")
      ShingleIndex.append(b2, "doc_id", "text", idx, 2L)
      Streams.triageMultiIngestBatch(b2, 2L, "doc_id", "text", cfg,
        group, fams, route)
      // whatever fate doc 30 got, index and posting store agree: if
      // accepted it is in BOTH, else in NEITHER
      val inPost = spark.table(s"${nameP}_post")
        .filter(col("doc_id") === 30L).count() > 0
      assert(inPost == (fates(30L) == "accepted"),
        s"fate ${fates(30L)} vs posting presence $inPost")
      // replay of the committed batch: nothing changes anywhere
      val before = served()
      Streams.triageMultiIngestBatch(b2, 2L, "doc_id", "text", cfg,
        group, fams, route)
      assert(served() == before)
      assert(spark.table(s"${group}_manifest").count() == 3)
      assert(spark.table(s"${group}_manifest").collect()
        .map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
    } finally {
      Seq(s"${idx}_idx", s"${idx}_sh", s"${idx}_meta", s"${nameP}_post",
        s"${nameP}_stats", s"${nameP}_meta", s"${group}_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("triage-driven group loop: writeStream end-to-end, cross-batch dedup reaches the derived store") {
    import graft.operators.{CmsStore, Ingest, PostingIndex, ShingleIndex}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val group = "graft_tloop"
    val idx = "graft_tloop_idx"
    val nameC = "graft_tloop_cms"
    val seedDoc = "the curious archivist catalogued seventeen manuscripts " +
      "before noon and annotated each margin with meticulous cross references"
    val novel = "a genuinely novel composition about tidal estuaries and " +
      "the migratory herons that patrol them at first light every autumn"
    val nearDup = novel.replace("autumn", "winter")
    val cfg = Ingest.Config(idx, minTokens = 5)
    val fams = Seq(Streams.StoreFamily.cms(nameC, "doc_id", "text"))
    try {
      val seed = Seq((1L, seedDoc)).toDF("doc_id", "text")
      ShingleIndex.build(seed, "doc_id", "text", idx)
      CmsStore.build(seed, "doc_id", "text", nameC, 3, 4, 64)
      val in = MemoryStream[(Long, String)]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_tloop_ckpt")
      val q = Streams.triageMultiIngest(in.toDF().toDF("doc_id", "text"),
        "doc_id", "text", cfg, group, fams, ckpt.toString)
      in.addData((10L, novel))
      q.processAllAvailable()
      // batch 2's near-dup of a batch-1 doc: only the grown index
      // knows — and the CMS store must therefore NOT count it
      in.addData((20L, nearDup))
      q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))
      q.stop()
      val est = CmsStore.estimateDf(
          Seq("genuinely novel composition").toDF("ngram"), "ngram", nameC)
        .collect().head.getLong(1)
      assert(est == 1L,
        s"the near-dup must be triaged out before the CMS append, got $est")
      assert(spark.table(s"${group}_manifest").count() == 2)
    } finally {
      Seq(s"${idx}_idx", s"${idx}_sh", s"${idx}_meta", s"${nameC}_cms",
        s"${nameC}_meta", s"${group}_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("cross-family atomic ingest loop: one writeStream feeds two families; a stray single-family writer turns the group loud") {
    import graft.operators.{CmsStore, Corpus, PostingIndex, WriterLease}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val group = "graft_mloop"
    val nameP = "graft_mloop_post"
    val nameC = "graft_mloop_cms"
    val seed = Seq((10L, "zebra quark filler words here"))
      .toDF("doc_id", "text")
    val fams = Seq(Streams.StoreFamily.posting(nameP, "doc_id", "text"),
      Streams.StoreFamily.cms(nameC, "doc_id", "text"))
    try {
      PostingIndex.build(seed, "doc_id", "text", nameP, buckets = 4)
      CmsStore.build(seed, "doc_id", "text", nameC, 3, 4, 16)
      val in = MemoryStream[(Long, String)]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_mloop_ckpt")
      val q = Streams.multiIngest(in.toDF().toDF("doc_id", "text"),
        group, fams, ckpt.toString)
      in.addData((2L, "quark soup again today"))
      q.processAllAvailable()
      in.addData((3L, "quark salad every day"))
      q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception.map(_.toString).getOrElse(""))
      val whole = seed.union(Seq((2L, "quark soup again today"),
        (3L, "quark salad every day")).toDF("doc_id", "text"))
      val got = PostingIndex.topK(seed, "doc_id", "text", nameP, 2, 10)
        .collect().map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("doc_id")))
        .sortBy(_._1).toSeq
      val want = Corpus.bm25TopK(whole, "doc_id", "text",
          col("doc_id") === 10L, 2, 10)
        .collect().map(r => (r.getAs[Int]("rnk"), r.getAs[Long]("doc_id")))
        .sortBy(_._1).toSeq
      assert(got == want && got.nonEmpty)
      // a stray writer takes over ONE member family's lease: the group
      // loop must fail loudly at its next batch, not interleave
      WriterLease.take(spark, nameC)
      in.addData((4L, "late arrival gets refused"))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("|")
      assert(msgs.contains("single-writer"), msgs)
      q.stop()
    } finally {
      Seq(s"${nameP}_post", s"${nameP}_stats", s"${nameP}_meta",
        s"${nameC}_cms", s"${nameC}_meta", s"${group}_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      Seq(group, nameP, nameC)
        .foreach(WriterLease.release(spark, _))
      spark.catalog.clearCache()
    }
  }

  // ---- one crash/replay harness for every store family ---------------------

  private final class Abandoned extends RuntimeException("batch abandoned")

  /** A store family under the harness: builds its store over a base
    * corpus under a given name, and binds the family's ingest columns. */
  private final case class Member(build: String => Unit,
      family: String => Streams.StoreFamily)

  /** Ingest `batches` cleanly into fresh stores of `members` (a group of
    * one for a single member). Then, for each write boundary of the last
    * batch's commit — after the prune, after each member's append (the
    * last of which is just before the manifest row) — rebuild, ingest
    * the earlier batches, abandon the last batch at that boundary, and
    * replay it through multiIngestBatch. Every table of every store and
    * the group's commit record must then equal the clean run's
    * (exceptAll both ways). */
  private def crashReplayConverges(tag: String, members: Seq[Member],
      batches: Seq[DataFrame]): Unit = {
    import graft.operators.BatchTable
    val prefix = s"graft_h_$tag"
    def setUp(run: String): (String, Seq[Streams.StoreFamily]) = {
      val fams = members.zipWithIndex.map { case (m, i) =>
        val name = s"${prefix}_${run}_m$i"
        m.build(name)
        m.family(name)
      }
      val group = if (fams.size == 1) fams.head.name else s"${prefix}_$run"
      BatchTable.dropTable(spark, s"${group}_manifest")
      (group, fams)
    }
    def tables(like: String): Seq[String] =
      spark.sql(s"SHOW TABLES LIKE '$like'").collect().map(_.getString(1))
        .toSeq.sorted
    def same(a: String, b: String): Boolean = {
      val (x, y) = (spark.table(a), spark.table(b))
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    }
    def assertConverged(k: Int, run: String, ref: String): Unit = {
      val got = tables(s"${run}_*")
      assert(got.map(_.stripPrefix(run)) ==
        tables(s"${ref}_*").map(_.stripPrefix(ref)), s"$tag@$k: table sets")
      got.foreach(t => assert(same(t, ref + t.stripPrefix(run)),
        s"$tag, abandoned at boundary $k: $t differs from the clean run"))
    }
    val last = batches.size - 1L
    try {
      val (refGroup, refFams) = setUp("ref")
      batches.zipWithIndex.foreach { case (b, id) =>
        Streams.multiIngestBatch(b, id, refGroup, refFams)
      }
      (0 to members.size).foreach { k =>
        val (group, fams) = setUp("c")
        batches.init.zipWithIndex.foreach { case (b, id) =>
          Streams.multiIngestBatch(b, id, group, fams)
        }
        // member i abandons before its append when i == k; boundary
        // members.size abandons after the last append, before the
        // manifest row
        val abandoning = fams.zipWithIndex.map { case (f, i) =>
          f.copy(append = (b, id) => {
            if (i == k) throw new Abandoned
            f.append(b, id)
            if (i == members.size - 1 && k == members.size)
              throw new Abandoned
          })
        }
        intercept[Abandoned](
          Streams.multiIngestBatch(batches.last, last, group, abandoning))
        assert(!spark.table(s"${group}_manifest").collect()
          .map(_.getLong(0)).contains(last))
        Streams.multiIngestBatch(batches.last, last, group, fams)
        fams.indices.foreach(i =>
          assertConverged(k, s"${prefix}_c_m$i", s"${prefix}_ref_m$i"))
        assert(same(s"${group}_manifest", s"${refGroup}_manifest"))
        spark.catalog.clearCache()
      }
    } finally {
      tables(s"${prefix}_*").foreach(BatchTable.dropTable(spark, _))
      spark.catalog.clearCache()
    }
  }

  private def textDocs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private lazy val harnessText = Seq(
    textDocs((1L, "the quick brown fox jumps over the lazy dog at dawn"),
      (2L, "a slow green turtle walks under the bright moon tonight")),
    textDocs((10L, "fresh words about rivers and mountains in early spring")),
    textDocs((20L, "novel text describing harbors ships and the cities nearby"),
      (21L, "another document on clockwork automata and their brass gears")))
  private def vecs(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(i => (i, Array((i % 7).toDouble + 1.0, (i % 5).toDouble,
      (i % 3).toDouble))).toDF("vec_id", "embedding")
  }
  private def driftRows(ids: Seq[Long], shift: Long) = {
    import spark.implicits._
    ids.map(i => ("s" + (i % 2), (i % 11) + shift)).toDF("src", "v")
  }
  private lazy val harnessMembers: Map[String, Member] = {
    import graft.operators._
    val seed = harnessText.head
    Map(
      "shingle" -> Member(
        ShingleIndex.build(seed, "doc_id", "text", _, buckets = 4, parts = 4),
        Streams.StoreFamily.shingle(_, "doc_id", "text")),
      "posting" -> Member(
        PostingIndex.build(seed, "doc_id", "text", _, buckets = 4),
        Streams.StoreFamily.posting(_, "doc_id", "text")),
      "cms" -> Member(CmsStore.build(seed, "doc_id", "text", _, 3, 4, 16),
        Streams.StoreFamily.cms(_, "doc_id", "text")),
      "dsir" -> Member(
        DsirStore.build(seed, seed, "doc_id", "text", _, 64),
        Streams.StoreFamily.dsir(_, "doc_id", "text")),
      "drift" -> Member(
        DriftStore.build(driftRows(1L to 40L, 0L), "src", "v", _, 4L),
        Streams.StoreFamily.drift(_, "src", "v")),
      "ivf" -> Member(
        IvfIndex.build(vecs(1L to 8L), "vec_id", "embedding", _, nCells = 2,
          buckets = 4),
        Streams.StoreFamily.vectors(_, "vec_id", "embedding")),
      "sample" -> Member(
        SampleStore.build(vecs(1L to 8L), "vec_id", "embedding", _, 2, 2),
        Streams.StoreFamily.sample(_, "vec_id", "embedding")))
  }
  private lazy val harnessBatches: Map[String, Seq[DataFrame]] = {
    val text = harnessText.tail
    val vec = Seq(vecs(20L to 24L), vecs(30L to 33L))
    Map("shingle" -> text, "posting" -> text, "cms" -> text, "dsir" -> text,
      "drift" -> Seq(driftRows(1L to 20L, 0L), driftRows(1L to 15L, 30L)),
      "ivf" -> vec, "sample" -> vec)
  }

  Seq("shingle", "posting", "cms", "dsir", "drift", "ivf", "sample")
    .foreach { family =>
      test(s"crash/replay harness: the $family store abandoned at every write boundary replays to the clean run") {
        crashReplayConverges(family, Seq(harnessMembers(family)),
          harnessBatches(family))
      }
    }

  test("crash/replay harness: a posting + CMS group abandoned at every write boundary replays to the clean run") {
    crashReplayConverges("pcgroup",
      Seq(harnessMembers("posting"), harnessMembers("cms")),
      harnessText.tail)
  }

  test("compactIndex on a group member fails at entry, naming compactGroup; compactGroup folds by the group's manifest") {
    import graft.operators.{BatchTable, CmsStore}
    val group = "graft_cguard"
    val name = "graft_cguard_cms"
    val fams = Seq(Streams.StoreFamily.cms(name, "doc_id", "text"))
    val Seq(seed, b0, b1) = harnessText
    def batchIds() = BatchTable.batchIds(spark, Seq(s"${name}_cms"))
    try {
      CmsStore.build(seed, "doc_id", "text", name, 3, 4, 16)
      Streams.multiIngestBatch(b0, 0L, group, fams)
      // torn: appended, never committed
      CmsStore.append(b1, "doc_id", "text", name, 1L)
      val e = intercept[IllegalStateException](
        Streams.compactIndex(spark, name))
      assert(e.getMessage.contains(s"${name}_manifest") &&
        e.getMessage.contains("compactGroup"), e.getMessage)
      assert(batchIds() == Set(-1L, 0L, 1L), "nothing may be folded")
      // the group's record commits batch 0 only: the torn batch stays
      spark.catalog.clearCache()
      Streams.compactGroup(spark, group, fams)
      assert(batchIds() == Set(-1L, 1L))
    } finally {
      Seq(s"${name}_cms", s"${name}_meta", s"${group}_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      graft.operators.WriterLease.release(spark, name)
      spark.catalog.clearCache()
    }
  }

  test("ingest job budget: one group-of-one CMS batch runs a pinned number of Spark jobs") {
    import graft.operators.CmsStore
    val name = "graft_jobbudget"
    val fam = Seq(Streams.StoreFamily.cms(name, "doc_id", "text"))
    val Seq(seed, b0, b1) = harnessText
    try {
      CmsStore.build(seed, "doc_id", "text", name, 3, 4, 16)
      // the first batch creates the manifest; measure the steady one
      Streams.multiIngestBatch(b0, 0L, name, fam)
      val jobs = org.apache.spark.JobTally.of(spark.sparkContext) {
        Streams.multiIngestBatch(b1, 1L, name, fam)
      }.jobs
      // measured 7 on Spark 4.1.2 at 4 cores, with AQE (one job per
      // query stage): the manifest check, the one `_meta` read, the CMS
      // matrix's stages and insert, the manifest row. A second commit
      // record, a second `_meta` read or an extra exchange in the append
      // goes over it.
      assert(jobs <= 7, s"one ingest batch ran $jobs jobs")
    } finally {
      Seq(s"${name}_cms", s"${name}_meta", s"${name}_manifest")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }
}
