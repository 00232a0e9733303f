package graft.streaming

import graft.functions.TextFns
import graft.operators.{BatchTable, CmsStore, DriftStore, DsirStore, IvfIndex, PostingIndex, SampleStore, ShingleIndex, WriterLease}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Structured Streaming operators over the events stream
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference is batch-only (SURVEY.md §1.1 — no streams as
  * first-class abstractions), so these are the engine's forward-looking
  * stream surface: the same aggregations the batch side runs (q14/q18
  * shapes), expressed as incremental plans, plus stateful
  * sessionization — the three canonical streaming shapes:
  *
  *   1. watermark + tumbling-window aggregate (late data dropped after
  *      the watermark horizon — bounded state at any scale);
  *   2. watermark + windowed deduplication (dropDuplicates within the
  *      event-time horizon — the streaming face of Dedup.exact);
  *   3. flatMapGroupsWithState sessionization (custom per-key state with
  *      processing/event-time timeouts).
  *
  * All three run identically from a file/Kafka source; tests drive them
  * with MemoryStream. State stores shard by groupBy key — user_id/
  * event_type partition uniformly, so a 1000-executor cluster splits the
  * state linearly.
  *
  * The ingest loops at the bottom write the persisted stores
  * (graft.operators, each on the [[graft.operators.BatchTable]]
  * lifecycle) through ONE commit protocol: a micro-batch commits as a
  * row in `{group}_manifest`, the only commit record. A store ingested
  * alone is a group of one, committed in its own `{name}_manifest`.
  * Compaction folds exactly the batch ids of the manifest the store was
  * ingested under. A batch with no manifest row is pruned and appended
  * again on replay, which converges to the same store.
  */
object Streams {

  /** Tumbling-window per-type counts/sums with a watermark: the
    * incremental form of q14_datetime_bucket. */
  def windowedEventStats(
      events: DataFrame,
      window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Windowed value quantiles via the native KLL sketch aggregate
    * ([[graft.expressions.KllSketch]]) — the streaming shape exact
    * quantiles cannot take (percentile/median buffer every value per
    * window: unbounded state, and Structured Streaming rejects the
    * sort-based forms outright). The sketch's O(k log(n/k)) mergeable
    * ladder is legal state-store content the same way the KMV buffer
    * is in [[windowedDistinctUsers]]: bounded per window forever,
    * partial aggregation works, and every merge order honors the
    * n·L/k rank-error bound KllSpec pins. The streaming face of
    * corpus-health quantiles (p24 exact histogram / p70 sampled):
    * watch a token-length or quality-score distribution drift
    * window-over-window without ever buffering a window's values. */
  def windowedQuantiles(
      events: DataFrame,
      valueCol: String = "value",
      probs: Seq[Double] = Seq(0.5, 0.9, 0.99),
      window_ : String = "1 hour",
      watermark: String = "2 hours",
      k: Int = 256): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("win"), col("event_type"))
      .agg(
        call_function("graft_kll",
          col(valueCol).cast("double") +: lit(k) +: probs.map(lit): _*)
          .as("quantiles"),
        // n_events counts the SKETCH POPULATION — non-null, non-NaN
        // values, exactly the rows graft_kll ingests — so a window of
        // all-null values reports 0 alongside its NULL quantiles
        // rather than a positive count describing nothing
        count(when(!isnan(col(valueCol).cast("double")),
          col(valueCol))).as("n_events"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("quantiles"), col("n_events"))

  /** Windowed corpus-COMPOSITION monitor — the streaming face of the
    * script-aware language ID: per (window, predicted language), the
    * doc count and token mass arriving on a document stream. Language
    * prediction is the same pure per-row expression as the batch query
    * (NFC normalize → script codepoint shares → [[graft.functions
    * .TextFns.latinArgmax]] stopword fallback — shared expressions, so
    * the two faces can never drift), and the aggregate is a plain
    * windowed count/sum: bounded state per (window, lang), partial
    * aggregation works. Watch an ingest's language mix drift
    * window-over-window — the upstream early warning for a corpus
    * whose quality gates ([[graft.operators.Ingest]] with a Unicode
    * normalizer) are about to see a distribution they weren't tuned
    * on. */
  def languageMix(
      docs: DataFrame,
      textCol: String = "text",
      tsCol: String = "ts",
      window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    graft.functions.TextFns
      .withLangPred(docs.withWatermark(tsCol, watermark), textCol,
        carry = Seq(tsCol))
      .select(col(tsCol), size(col("toks")).cast("long").as("n_toks"),
        col("lang_pred").as("lang"))
      .groupBy(window(col(tsCol), window_).as("win"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .select(col("win.start").as("window_start"), col("lang"),
        col("n_docs"), col("n_tokens"))

  /** Streaming exact dedup on event_id within the watermark horizon —
    * the streaming analog of Dedup.exact: duplicates arriving within
    * `watermark` of the original are dropped; state is bounded by the
    * horizon. */
  def dedupedEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Windowed distinct-user cardinality via the native KMV sketch
    * aggregate — the streaming shape exact distinct counting CANNOT
    * take: Structured Streaming rejects count_distinct outright
    * (per-window distinct sets are unbounded state). The sketch's
    * O(k) mergeable buffer is exactly what the state store wants: each
    * window's state is ≤ k longs forever, partial aggregation works,
    * and the estimate is the same deterministic (k−1)/r_k as batch
    * `p26_kmv_distinct` — exact below k distinct users. */
  def windowedDistinctUsers(
      events: DataFrame,
      window_ : String = "1 hour",
      watermark: String = "2 hours",
      k: Int = 64): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("event_type"),
        graft.functions.TextFns.hash60(col("user_id").cast("string")).as("h"))
      .groupBy(window(col("ts"), window_).as("win"), col("event_type"))
      .agg(call_function("graft_kmv", col("h"), lit(k))
        .as("est_distinct_users"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("est_distinct_users"))

  /** Stream–static enrichment: the event stream joined to a batch
    * dimension (user attributes, domain scores, block lists) — the
    * everyday streaming join. The static side broadcasts per
    * micro-batch (no stream state at all; Spark re-plans the batch
    * side, so a refreshed dimension table is picked up on the next
    * trigger). Left join: events with no dimension row pass through
    * with NULLs rather than being dropped. */
  def enrichedEvents(events: DataFrame, dim: DataFrame,
      keyCol: String): DataFrame =
    events.join(broadcast(dim), Seq(keyCol), "left")

  /** Stream–stream interval join (purchase attribution): every purchase
    * matched to the same user's clicks in the preceding `horizon` — the
    * fourth canonical streaming shape. Both sides carry watermarks and
    * the join condition bounds purchase_ts − click_ts to
    * [0, horizon], so Spark can expire click state once the purchase
    * watermark passes click_ts + horizon and purchase state
    * symmetrically: state is bounded by (horizon + watermark) of
    * traffic per user shard at ANY scale, never the full history.
    * Inner join: unattributed purchases drop (left-outer emits them
    * with nulls at watermark expiry if required). */
  def attributedPurchases(
      clicks: DataFrame, purchases: DataFrame,
      horizon: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame = {
    val c = clicks
      .select(col("user_id").as("click_user"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = purchases
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", watermark)
    p.join(c,
        col("user_id") === col("click_user")
          && col("click_ts") <= col("purchase_ts")
          && col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizon"))
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        col("value"), col("click_id"), col("click_ts"))
  }

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(
      events: Long, totalValue: Double, start: Long, lastSeen: Long)

  final case class Session(
      user_id: Long, n_events: Long, total_value: Double,
      started_at: Timestamp, ended_at: Timestamp, duration_sec: Long)

  /** Gap-based sessionization: a user's events belong to one session
    * until `gap` of inactivity; a closed session emits when a later
    * event exceeds the gap, and (with a timeout configured) the final
    * open session emits on timeout. Custom state via
    * flatMapGroupsWithState; production uses ProcessingTimeTimeout (the
    * default), tests pass NoTimeout for deterministic batch-only runs. */
  def sessionize(events: Dataset[Event], gapMs: Long,
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[Session] = {
    // the state function only ARMS ProcessingTimeTimeout; accepting
    // EventTimeTimeout here would silently never time out (no
    // setTimeoutTimestamp call) and withhold every final open session
    // forever — fail loudly instead of losing data
    require(timeout == GroupStateTimeout.ProcessingTimeTimeout
        || timeout == GroupStateTimeout.NoTimeout,
      "sessionize supports ProcessingTimeTimeout (production) or " +
        "NoTimeout (deterministic batch tests); EventTimeTimeout is " +
        "not armed by the state function")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, timeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.events, s.totalValue,
              new Timestamp(s.start), new Timestamp(s.lastSeen),
              (s.lastSeen - s.start) / 1000L))
          } else {
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastSeen <= gapMs =>
                  cur = Some(SessionState(s.events + 1, s.totalValue + e.value,
                    s.start, math.max(s.lastSeen, t)))
                case Some(s) => // gap exceeded: close previous, open new
                  closed += Session(userId, s.events, s.totalValue,
                    new Timestamp(s.start), new Timestamp(s.lastSeen),
                    (s.lastSeen - s.start) / 1000L)
                  cur = Some(SessionState(1L, e.value, t, t))
                case None =>
                  cur = Some(SessionState(1L, e.value, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (timeout == GroupStateTimeout.ProcessingTimeTimeout)
                state.setTimeoutDuration(gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming ingest decontamination: flag documents whose word
    * n-grams overlap a (batch-precomputed) eval-suite Bloom sketch —
    * the in-stream face of `Decontaminate.bloomNgramOverlap`. The
    * probe is completely STATELESS — per row: shingle the doc, count
    * shingles whose hash60 hits the sketch literal — so it runs in any
    * output mode, needs no watermark, no state store, and scales as a
    * pure map over the ingest stream.
    *
    * Counts are probe counts: Bloom false positives can overcount (by
    * the sketch's fp rate, caller-sized), never undercount — flagging
    * is conservative toward quarantine, so contamination cannot slip
    * through; route `contaminated = true` docs to a (tiny) quarantine
    * sink for the batch-side exact verify.
    *
    * @param sketch bytes from `Decontaminate.gramSketch`, built once
    *   per eval-suite release
    * @return input columns + (eval_gram_hits, contaminated)
    */
  def bloomDecontaminated(docs: DataFrame, sketch: Array[Byte],
      textCol: String, n: Int = 8, minHits: Int = 1,
      norm: Column => Column = graft.functions.TextFns.normText)
      : DataFrame = {
    import graft.functions.TextFns.tokens
    // norm must match the normalizer the sketch's grams were built
    // with (Decontaminate.evalGrams) — an ASCII gate over a
    // unicode-normalized sketch (or vice versa) probes disjoint gram
    // spaces and silently flags nothing.
    // The token array is materialized as an ATTRIBUTE before the
    // shingle window slices it — the wordShingles CSE trap: slicing an
    // inline tokenize EXPRESSION re-runs normalize+tokenize once per
    // window position, O(tokens²) per row (measured 4.9 s vs 0.5 s on
    // the sf0.1 p41 gate chain). Multi-reference inside wordShingles
    // keeps CollapseProject from inlining it back after the drop.
    val tok = "__graft_bloom_toks"
    bloomDecontaminatedToks(
      docs.withColumn(tok, tokens(norm(col(textCol)))),
      sketch, tok, n, minHits).drop(tok)
  }

  /** [[bloomDecontaminated]] over a pre-tokenized column — for callers
    * that already materialized the token array ([[graft.operators
    * .Ingest.triage]] shares one tokenize between its quality gate and
    * this probe). Same probe-count semantics. */
  def bloomDecontaminatedToks(docs: DataFrame, sketch: Array[Byte],
      toksCol: String, n: Int = 8, minHits: Int = 1): DataFrame = {
    import graft.functions.TextFns.{hash60, wordShingles}
    val hits = size(filter(
      transform(wordShingles(col(toksCol), n), s => hash60(s)),
      g => call_function("graft_might_contain", lit(sketch), g)))
    docs
      .withColumn("eval_gram_hits", hits.cast("long"))
      .withColumn("contaminated", col("eval_gram_hits") >= minHits)
  }

  /** Stateless streaming SEMANTIC decontamination gate — the
    * embedding-space sibling of [[bloomDecontaminated]]: each incoming
    * vector probes its `nProbe` nearest model centroids and exact-checks
    * cosine against only those cells' eval vectors, all as per-row array
    * HOFs over PLAN LITERALS (`Similarity.semanticGateModel`, the
    * analog of the Bloom sketch bytes). No state store, no watermark,
    * no shuffle — per-row cost is K centroid cosines + ~|eval|·nProbe/K
    * exact cosines, independent of stream length.
    *
    * Recall matches the model's cell geometry (eval multi-assignment +
    * query multi-probe); `nProbe = nCells` degenerates to the exact
    * any-eval-within-threshold check. Zero-norm vectors report clean
    * (cosine undefined — the batch operator EXCLUDES such rows instead;
    * a stream row must still flow, so clean is the conservative verdict
    * for a row that cannot be near anything in cosine space). The norm
    * is NULLed at zero rather than divided by — ANSI mode turns a 0.0
    * divisor into a job-killing error, and one padding row must not
    * stop the stream; NULL cosines fail every comparison, which is
    * exactly the clean verdict.
    *
    * @return input columns + (n_eval_near, contaminated)
    */
  def semanticGate(rows: DataFrame,
      model: graft.operators.Similarity.SemanticGateModel,
      vecCol: String, threshold: Double, nProbe: Int = 3): DataFrame = {
    // nProbe <= 0 would slice an empty probe list and mark EVERY row
    // clean — a config typo must not silently disable a
    // decontamination gate
    require(nProbe >= 1, s"semanticGate: nProbe must be >= 1, got $nProbe")
    import graft.operators.Similarity.dot
    val centLit = typedLit(model.centroids)
    val cellsLit = typedLit(model.cells)
    // negated cosine sorts ascending = best cell first; ties on list_id
    // via the struct's second field, same ordering as the batch side
    val probes = slice(array_sort(transform(centLit, c =>
      struct(
        (lit(0.0) - dot(col("_qv"), c.getField("_2"))
          / (col("_qn") * c.getField("_3"))).as("negcos"),
        c.getField("_1").as("list_id")))), 1, nProbe)
    // union of probed cells' eval vectors (distinct: multi-assignment
    // duplicates an eval vector across cells). try_element_at, NOT
    // element_at: under ANSI (the Spark 4 default this very gate runs
    // with) element_at THROWS on a missing map key, and a centroid's
    // cell CAN be empty — duplicate eval vectors tie at cos=1.0 and the
    // id tie-break can push a centroid's own self-assignment past
    // assignProbe. One empty cell must not kill the stream.
    val cands = array_distinct(flatten(filter(
      transform(probes, p => try_element_at(cellsLit, p.getField("list_id"))),
      a => a.isNotNull)))
    val hitIds = transform(filter(cands, e =>
      dot(col("_qv"), e.getField("_2")) / (col("_qn") * e.getField("_3"))
        > threshold), e => e.getField("_1"))
    rows
      .withColumn("_qv", col(vecCol).cast("array<double>"))
      .withColumn("_qn0", sqrt(dot(col("_qv"), col("_qv"))))
      .withColumn("_qn", when(col("_qn0") > 0, col("_qn0")))
      .withColumn("n_eval_near",
        size(array_distinct(hitIds)).cast("long"))
      .withColumn("contaminated", col("n_eval_near") > 0)
      .drop("_qv", "_qn0", "_qn")
  }

  // ---- streaming ingest: one commit protocol -------------------------------

  /** One persisted-store family as an ingest loop sees it: the store
    * (whose [[graft.operators.BatchTable.Store]] lifecycle gives `prune`
    * and compaction) and an `append` that stamps the batch under its
    * `batch_id` partition, closed over the family's column names. A
    * family ingested alone is a group of one
    * (`multiIngest(docs, name, Seq(StoreFamily.x(name, …)), …)`). */
  final case class StoreFamily(
      name: String,
      store: BatchTable.Store,
      append: (DataFrame, Long) => Unit,
      /** The text normalizer the family's append closes over (None for
        * non-tokenizing families — drift/vectors/sample). Carried so
        * [[triageMultiIngestBatch]] can ASSERT it matches `cfg.norm`
        * instead of trusting a comment: a group whose triage
        * normalizes Unicode but whose posting family defaults to ASCII
        * would commit divergent tokenizations under one manifest row
        * (empty postings but counted stats for a non-Latin batch). */
      norm: Option[Column => Column] = None) {
    /** Undo whatever a crashed attempt of `batchId` half-appended:
      * partition surgery over the store's batch tables, idempotent, a
      * no-op if the batch never landed. */
    def prune(spark: SparkSession, batchId: Long): Unit =
      store.pruneBatch(spark, name, batchId)
  }

  object StoreFamily {
    // Text families take the SAME pluggable normalizer their stores
    // were built with (ASCII default) — a group ingest with a Unicode
    // triage (Ingest.Config.norm) must pass the matching normalizer
    // here too, or one commit would write divergent tokenizations
    // (empty postings but counted stats rows, for a CJK batch).
    def shingle(name: String, idCol: String, textCol: String,
        norm: Column => Column = TextFns.normText): StoreFamily =
      StoreFamily(name, ShingleIndex,
        ShingleIndex.append(_, idCol, textCol, name, _, norm), Some(norm))
    def posting(name: String, idCol: String, textCol: String,
        norm: Column => Column = TextFns.normText): StoreFamily =
      StoreFamily(name, PostingIndex,
        PostingIndex.append(_, idCol, textCol, name, _, norm), Some(norm))
    def cms(name: String, idCol: String, textCol: String,
        norm: Column => Column = TextFns.normText): StoreFamily =
      StoreFamily(name, CmsStore,
        CmsStore.append(_, idCol, textCol, name, _, norm), Some(norm))
    def dsir(name: String, idCol: String, textCol: String,
        norm: Column => Column = TextFns.normText): StoreFamily =
      StoreFamily(name, DsirStore,
        DsirStore.append(_, idCol, textCol, name, _, norm), Some(norm))
    def drift(name: String, groupCol: String, valueCol: String): StoreFamily =
      StoreFamily(name, DriftStore,
        DriftStore.appendReport(_, groupCol, valueCol, name, _))
    /** Plain accumulation into the IVF cell store (vs frozen
      * centroids) — the near-dup TRIAGE of [[vectorIngestBatch]] is an
      * upstream policy, not a store append: pre-filter the stream if
      * only novel vectors should land. */
    def vectors(name: String, idCol: String, vecCol: String): StoreFamily =
      StoreFamily(name, IvfIndex, IvfIndex.append(_, idCol, vecCol, name, _))
    def sample(name: String, idCol: String, vecCol: String): StoreFamily =
      StoreFamily(name, SampleStore,
        SampleStore.append(_, idCol, vecCol, name, _))

    /** Every store a family can wrap — what [[compactIndex]] dispatches
      * over, by the first batch table that exists under a name. */
    private[Streams] val stores: Seq[BatchTable.Store] = Seq(ShingleIndex,
      IvfIndex, CmsStore, PostingIndex, DsirStore, SampleStore, DriftStore)
  }

  /** THE convergent-exactly-once commit of one ingest micro-batch, shared
    * by every loop ([[multiIngestBatch]], [[triageMultiIngestBatch]],
    * [[vectorIngestBatch]]) so a fix to the replay/lease ordering cannot
    * desync across them. N member stores advance under ONE commit point,
    * a row in `{group}_manifest`, written after `work` has appended to
    * every member:
    *
    *   1. a batch the manifest already holds is skipped — foreachBatch
    *      re-executes a batch after a failure, and no store append is
    *      naturally idempotent (re-appended postings inflate df counts);
    *   2. otherwise every writer lease is checked BEFORE any mutation (a
    *      second stream or a concurrent compaction turns this loop loud
    *      instead of interleaving), every member is pruned of whatever a
    *      crashed attempt of this batch half-appended — mid-append,
    *      between members, after the last append — then `work` redoes
    *      every append and the manifest row commits. Every member thus
    *      converges to exactly the manifest's horizon (member A appended
    *      batch 7, B did not: only the group's record shows that A must
    *      be pruned).
    *
    * The manifest row is the only commit record: compaction
    * ([[compactIndex]], [[compactGroup]]) folds exactly its batch ids.
    *
    * Honest limits: between a crash and the replay, readers can see a
    * torn batch (convergence, not isolation), and whatever `work` emits
    * beside its appends (a `route` callback) fires at-least-once. */
  private def commitBatch(spark: SparkSession, group: String,
      members: Seq[StoreFamily], batchId: Long,
      leases: Map[String, String])(work: => Unit): Unit = {
    import spark.implicits._
    require(members.map(_.name).distinct.size == members.size,
      s"ingest group '$group': store names must be unique, got " +
        members.map(_.name).mkString(", ") + " — a repeated store (a " +
        "family listed twice, or the triage index listed as a family " +
        "too) would append the batch twice under one batch_id, which " +
        "prune/replay cannot repair")
    val manifest = s"${group}_manifest"
    val committed = spark.catalog.tableExists(manifest) &&
      spark.table(manifest).filter(col("batch_id") === batchId).head(1).nonEmpty
    if (!committed) {
      leases.foreach { case (n, t) => WriterLease.check(spark, n, t) }
      members.foreach(_.prune(spark, batchId))
      work
      Seq(batchId).toDF("batch_id").write.mode("append").saveAsTable(manifest)
    }
  }

  /** Start a foreachBatch ingest loop: claim each writer lease once per
    * stream start (takeover semantics — a restart after a crash just
    * re-takes it; `distinct`, so a group of one takes its lease once),
    * then drive `runBatch` with the tokens, which re-checks them every
    * batch. Checkpointed streams already run one query per checkpoint;
    * the lease makes a SECOND writer on the same stores (another stream,
    * a compaction) turn this loop loud within one batch. */
  private def startIngest(input: DataFrame, checkpoint: String,
      leaseNames: Seq[String])(
      runBatch: (DataFrame, Long, Map[String, String]) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val leases = leaseNames.distinct.map(n =>
      n -> WriterLease.take(input.sparkSession, n)).toMap
    input.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: DataFrame, id: java.lang.Long) =>
        runBatch(b, id, leases))
      .start()
  }

  /** One micro-batch of the store-family ingest: every family in
    * `families` accumulates the raw batch under one `commitBatch`
    * commit in `{group}_manifest`. A single family is a group of one —
    * conventionally `group = family.name`, so the store's own
    * `{name}_manifest` is its commit point, which the store's `build`
    * drops with its data. A multi-family `{group}_manifest` belongs to
    * no store: drop it when rebuilding the members, or a fresh stream
    * skips batch ids the old one committed.
    *
    * Scale: the batch is persisted once and feeds all N appends (each
    * family pays its own batch-scale reduce — tokenize, assign,
    * histogram — exactly as it would alone); nothing stored is read. The
    * accumulation families can be pruned and re-appended precisely
    * because each store is a mergeable summary (counters, postings,
    * min-k quotas, per-batch reports): a batch's contribution is its own
    * partition, and the served answer is the merge over partitions. */
  def multiIngestBatch(batch: DataFrame, batchId: Long, group: String,
      families: Seq[StoreFamily],
      leases: Map[String, String] = Map.empty): Unit = {
    require(families.nonEmpty, "multiIngestBatch: need at least one family")
    commitBatch(batch.sparkSession, group, families, batchId, leases) {
      val pinned = batch.persist()
      try families.foreach(_.append(pinned, batchId))
      finally { pinned.unpersist(); () }
    }
  }

  /** The store-family ingest loop: foreachBatch driving
    * [[multiIngestBatch]] — one stream feeding shingle + posting + CMS +
    * DSIR (+ any other family) with ONE commit point per batch, holding
    * the group lease and every family lease. All member stores must be
    * built over the seed corpus first; compact members between restarts
    * via [[compactGroup]] (a group of one via [[compactIndex]]). */
  def multiIngest(docs: DataFrame, group: String,
      families: Seq[StoreFamily], checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startIngest(docs, checkpoint, group +: families.map(_.name))(
      (b, id, leases) => multiIngestBatch(b, id, group, families, leases))

  /** One micro-batch of the TRIAGE-DRIVEN ingest — the full production
    * pipeline under one commit point: scrub → quality → Bloom gate →
    * near-dup triage against the persisted, GROWING shingle index
    * ([[graft.operators.Ingest.triage]]), `route` observes every fate
    * (the caller's policy: corpus sink, quarantine, metrics), and then
    * the ACCEPTED docs — not the raw batch — feed the shingle index AND
    * every derived family, so later micro-batches dedup against earlier
    * ones. The index is a group member implicitly; plain dedup ingest is
    * `group = cfg.indexName` with no families. One `{group}_manifest`
    * row covers the index and every family: a crash can never leave the
    * index holding a batch the posting/CMS/DSIR stores never saw.
    *
    * Triage normalizes its output to (doc_id, text, …) whatever the
    * input column names, so member families must close over
    * ("doc_id", "text") — e.g. `StoreFamily.posting(name, "doc_id",
    * "text")` — regardless of `idCol`/`textCol`. The derived families
    * see exactly the docs the index accepted, so the doc-disjointness
    * contract every append family states is enforced by construction: a
    * near-dup re-submission is triaged into `duplicate` and never
    * reaches an append. `route` fires at-least-once — a non-idempotent
    * route action must key off the batch id on its own sink.
    *
    * The triage result is computed ONCE and feeds route, the index
    * append and all family appends. The session cache is cleared in
    * `finally`: the callees (Ingest.triage → ShingleIndex
    * .incrementalPairs) persist shared subtrees under the
    * caller-clears-cache convention, and a foreachBatch loop never
    * returns to a clearing scope — without this the pinned frames
    * accumulate one set per micro-batch for the stream's lifetime. The
    * loop owns its session's cache between batches; run the stream in a
    * dedicated SparkSession if you cache elsewhere. */
  def triageMultiIngestBatch(batch: DataFrame, batchId: Long,
      idCol: String, textCol: String,
      cfg: graft.operators.Ingest.Config, group: String,
      families: Seq[StoreFamily],
      route: (DataFrame, Long) => Unit = (_, _) => (),
      leases: Map[String, String] = Map.empty): Unit = {
    val spark = batch.sparkSession
    // the same-normalizer invariant is ASSERTED, not commented: every
    // tokenizing family must normalize exactly as the triage does
    // (Column.equals compares the normalized expression trees the two
    // functions build over a probe column — identical normalizers
    // build identical trees)
    locally {
      val probe = col("__graft_norm_probe__")
      val want = cfg.norm(probe)
      families.foreach(f => f.norm.foreach(n =>
        require(n(probe) == want,
          s"triageMultiIngestBatch: family '${f.name}' was constructed " +
            "with a text normalizer different from cfg.norm — one " +
            "manifest commit would write divergent tokenizations " +
            "(empty postings but counted stats rows for a non-Latin " +
            "batch); pass the SAME normalizer to the StoreFamily " +
            "constructor and Ingest.Config")))
    }
    val members = StoreFamily.shingle(cfg.indexName, "doc_id", "text",
      cfg.norm) +: families
    commitBatch(spark, group, members, batchId, leases) {
      val fates = graft.operators.Ingest
        .triage(batch, idCol, textCol, cfg).persist()
      try {
        route(fates, batchId)
        val accepted = fates.filter(col("fate") === "accepted")
          .select(col("doc_id"), col("text"))
        members.foreach(_.append(accepted, batchId))
      } finally spark.catalog.clearCache()
    }
  }

  /** The triage-driven loop: foreachBatch driving
    * [[triageMultiIngestBatch]]. The index and every family must be
    * built first ([[graft.operators.ShingleIndex.build]] over the seed
    * corpus); stages 1–3 are stateless per-row maps and stage 4 is
    * batch-bounded against the index — no unbounded state store
    * anywhere. Fan ingest sources into one stream (union) rather than
    * running parallel writers; compact via [[compactGroup]] (a plain
    * dedup ingest, `group = cfg.indexName`, via [[compactIndex]])
    * between restarts. */
  def triageMultiIngest(docs: DataFrame, idCol: String, textCol: String,
      cfg: graft.operators.Ingest.Config, group: String,
      families: Seq[StoreFamily], checkpoint: String,
      route: (DataFrame, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    startIngest(docs, checkpoint,
        group +: cfg.indexName +: families.map(_.name))(
      (b, id, leases) => triageMultiIngestBatch(b, id, idCol, textCol, cfg,
        group, families, route, leases))

  /** Config for the EMBEDDING ingest round — the vector face of
    * [[graft.operators.Ingest.Config]].
    *
    * @param indexName [[graft.operators.IvfIndex]] table-name prefix
    * @param threshold cosine above which a batch vector is a near-dup
    * @param assignProbe batch-side multi-assignment width (recall knob,
    *   same geometry as `Similarity.ivfNearDupPairs`) */
  final case class VectorIngestConfig(
      indexName: String, threshold: Double = 0.95, assignProbe: Int = 3)

  /** One micro-batch of the streaming EMBEDDING ingest — the vector
    * mirror of [[triageMultiIngestBatch]], committed through the same
    * `commitBatch` as a group of one (`{indexName}_manifest`), with
    * `lease` the token for `cfg.indexName`.
    *
    * Per batch: near-dup triage against the stored corpus and earlier
    * rows of the same batch ([[graft.operators.IvfIndex
    * .incrementalNearDups]] — old×old never pairs, batch-bounded),
    * fates routed (`accepted` | `duplicate` with min-id `dup_of` |
    * `zero_norm` for vectors cosine cannot compare), then the accepted
    * vectors append to the index under this batch's partition so later
    * micro-batches dedup against earlier ones. Same cache-ownership rule
    * as the text loop: the callee persists its batch frames, so the
    * session cache is cleared per batch. */
  def vectorIngestBatch(batch: DataFrame, batchId: Long, idCol: String,
      vecCol: String, cfg: VectorIngestConfig,
      route: (DataFrame, Long) => Unit,
      lease: Option[String] = None): Unit = {
    val spark = batch.sparkSession
    val index = StoreFamily.vectors(cfg.indexName, "vec_id", "vec")
    commitBatch(spark, cfg.indexName, Seq(index), batchId,
        lease.map(cfg.indexName -> _).toMap) {
      val dups = graft.operators.IvfIndex.incrementalNearDups(
        batch, idCol, vecCol, cfg.indexName, cfg.threshold, cfg.assignProbe)
      // keeper rule lives in ONE place (shared with the p44 gate)
      val dropped = graft.operators.IvfIndex.dupKeeperMap(dups)
      val fates = batch
        .select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
        .withColumn("_n", sqrt(graft.operators.Similarity.dot(
          col("vec"), col("vec"))))
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("vec"),
          when(coalesce(col("_n"), lit(0.0)) <= 0, lit("zero_norm"))
            .when(col("dup_of").isNotNull, lit("duplicate"))
            .otherwise(lit("accepted")).as("fate"),
          when(coalesce(col("_n"), lit(0.0)) > 0, col("dup_of")).as("dup_of"))
        .persist()
      try {
        route(fates, batchId)
        index.append(fates.filter(col("fate") === "accepted")
          .select(col("vec_id"), col("vec")), batchId)
      } finally spark.catalog.clearCache()
    }
  }

  /** The streaming embedding ingest loop: foreachBatch driving
    * [[vectorIngestBatch]] — near-dup triage against the PERSISTED,
    * GROWING IVF index with batch-id idempotence. The index must exist
    * ([[graft.operators.IvfIndex.build]] it over the seed corpus
    * first — centroids stay frozen across appends; schedule periodic
    * rebuilds if the ingest distribution drifts). */
  def vectorIngest(vectors: DataFrame, idCol: String, vecCol: String,
      cfg: VectorIngestConfig, checkpoint: String,
      route: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    startIngest(vectors, checkpoint, Seq(cfg.indexName))(
      (b, id, leases) => vectorIngestBatch(b, id, idCol, vecCol, cfg, route,
        leases.get(cfg.indexName)))

  /** Manifest-driven compaction for a STOPPED ingest stream of a store
    * ingested alone — the group of one, committed in `{name}_manifest`.
    * Folds every committed batch partition into the store's base while
    * leaving any appended-but-uncommitted batch (a crash the stream has
    * not replayed yet) prunable in place. The store is found by its
    * tables (`{name}_idx` → [[ShingleIndex]], `{name}_cells` →
    * [[IvfIndex]], `{name}_cms` → [[CmsStore]], which also MERGES folded
    * counters back to one matrix, and so on). A store that holds ingest
    * batches but has no `{name}_manifest` was ingested as a member of a
    * multi-family group: this fails, naming [[compactGroup]], rather
    * than guess which of its batches are committed. */
  def compactIndex(spark: SparkSession, indexName: String): Unit = {
    val store = StoreFamily.stores
      .find(s => spark.catalog.tableExists(s.batchTables(indexName).head))
      .getOrElse(throw new IllegalArgumentException(
        s"no persisted store named '$indexName' — none of " +
          StoreFamily.stores.map(_.batchTables(indexName).head)
            .mkString(", ") + " exists"))
    compactMember(spark, indexName, store, indexName)
  }

  /** Compact every member family of a STOPPED group ingest, folding
    * exactly the batch ids `{group}_manifest` holds — one call per
    * maintenance window. For a triage group, list the shingle index too
    * (`StoreFamily.shingle(cfg.indexName, "doc_id", "text", cfg.norm)`). */
  def compactGroup(spark: SparkSession, group: String,
      families: Seq[StoreFamily]): Unit =
    families.foreach(f => compactMember(spark, f.name, f.store, group))

  /** Fold store `name`'s batches that `{group}_manifest` commits. The
    * uncommitted set is computed, not assumed: batch ids in the store's
    * registered partitions minus the manifest's. Compaction is a writer,
    * and it TAKES the writer lease first, so an ingest stream mistakenly
    * left running fails loudly at its next batch instead of interleaving
    * with the rewrite. */
  private def compactMember(spark: SparkSession, name: String,
      store: BatchTable.Store, group: String): Unit = {
    WriterLease.take(spark, name)
    val appended = BatchTable.batchIds(spark, store.batchTables(name)) -
      BatchTable.BaseBatch
    val manifest = s"${group}_manifest"
    val committed =
      if (spark.catalog.tableExists(manifest))
        spark.table(manifest).collect().map(_.getLong(0)).toSet
      else if (appended.isEmpty) Set.empty[Long]
      else throw new IllegalStateException(
        s"$name holds ingest batches ${appended.toSeq.sorted.mkString(", ")} " +
          s"but no commit record $manifest exists" +
          (if (group == name) " — it was ingested as a member of a " +
            "multi-family group; compact it with Streams.compactGroup(" +
            "spark, <group>, <families>)"
          else ""))
    store.compact(spark, name, appended -- committed)
  }
}
