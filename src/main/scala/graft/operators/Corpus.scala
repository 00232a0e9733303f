package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-statistics operators for training-data pipelines: TF-IDF term
  * scoring, domain-mixture reweighting, and sequence packing. All
  * arithmetic is integer counts plus single IEEE double divisions, so
  * every result is bit-reproducible by the DuckDB oracle (no logs, no
  * floating-point accumulation order to disagree on).
  *
  * Scale notes (100 TB, 1000 executors):
  *   - tfidfTopTerms is two shuffles — (doc, term) for tf, (term) for
  *     df — both on uniform text keys; the corpus-size scalar comes from
  *     a 1-row aggregate broadcast, never a driver action;
  *   - domainMixWeights shuffles once on the (low-cardinality) domain
  *     key; the totals frame is 1 row and broadcasts;
  *   - packSequences is a per-group running sum: each group sorts
  *     WITHIN its partition (partitioned window, no global sort). Groups
  *     are independent, so a skewed corpus packs under a finer synthetic
  *     group key (e.g. source + hash(id) % shards) without changing
  *     any bin's contents within a shard.
  */
object Corpus {

  private def par(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  /** Top-`k` TF-IDF terms per document over whitespace tokens of the
    * normalized text. The idf is kept as the exact rational n_docs/df and
    * the score as ONE double division `(tf * n_docs) / df` — tf·n_docs
    * stays far below 2^53, and a single IEEE division is deterministic
    * across engines, unlike log-based idf where libm implementations
    * differ in the last ulp. Ties rank alphabetically.
    *
    * @return (doc_id, term, tf, doc_freq, score, rnk) with rnk ≤ k.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int, norm: Column => Column = TextFns.normText): DataFrame = {
    val toks = docs
      .repartition(par(docs), col(idCol))
      .select(col(idCol).as("doc_id"),
        TextFns.tokens(norm(col(textCol))).as("toks"))
    // 1-row corpus size, broadcast into the plan (no .count() action)
    val nDocs = toks.agg(count(lit(1)).as("n_docs"))
    val tf = toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("doc_freq"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"), col("tf"), col("doc_freq"),
        ((col("tf") * col("n_docs")).cast("double") / col("doc_freq"))
          .as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Domain-mixture reweighting: per-domain token mass and the sampling
    * weight that flattens the mixture to uniform across domains —
    * weight_d = (T / D) / tokens_d, so sampling domain d's docs with
    * probability ∝ weight_d yields equal expected token mass per domain
    * (the DoReMi/data-mixing bookkeeping step, computed exactly).
    *
    * @return (domain, n_docs, domain_tokens, token_share, mix_weight).
    */
  def domainMixWeights(docs: DataFrame, domainCol: String,
      textCol: String,
      norm: Column => Column = TextFns.normText): DataFrame = {
    val per = docs
      .select(col(domainCol).as("domain"),
        size(TextFns.tokens(norm(col(textCol)))).as("n_tokens"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("domain_tokens"))
    val tot = per.agg(sum(col("domain_tokens")).as("total_tokens"),
      count(lit(1)).as("n_domains"))
    // all-empty domains get NULL mix_weight (inverse-share of zero
    // tokens is undefined; ANSI would raise) — token_share stays 0
    per.crossJoin(broadcast(tot))
      .select(col("domain"), col("n_docs"), col("domain_tokens"),
        (col("domain_tokens").cast("double") / col("total_tokens"))
          .as("token_share"),
        when(col("domain_tokens") > 0, col("total_tokens").cast("double")
          / (col("n_domains") * col("domain_tokens"))).as("mix_weight"))
  }

  /** Token-budget selection — the "take the best N tokens" curation
    * step (DCLM/FineWeb-style): within each group, rank docs by
    * (score DESC, id ASC — a total order, so the kept set is unique and
    * engine-independent) and keep the prefix whose RUNNING token total
    * stays within `budget`. A doc is kept iff the cumulative tokens
    * through itself fit; the first over-budget doc and everything below
    * it drop, so kept token mass never exceeds the budget.
    *
    * Input is an already-SCORED frame — scoring (p09 heuristics, the
    * learned classifier, LM score) is its own concern and any of them
    * plugs in; this operator owns only ranking + the budget cut.
    *
    * Scale note, stated honestly: the window is a per-group total order
    * — each group's rows sort (externally, spilling) within its
    * partition, and a single giant group serializes through one task's
    * sort. That is inherent to EXACT prefix-by-rank selection. The
    * 100 TB variant is [[tokenBudgetHistogram]]: two stateless passes
    * over the docs with all per-group state bounded by the bin count.
    * This operator is the exact form; groups here are sources (few,
    * bounded), not documents.
    *
    * @return scored plus (cum_tokens, kept), one row per input doc
    */
  def tokenBudgetSelect(scored: DataFrame, idCol: String, groupCol: String,
      tokensCol: String, scoreCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"tokenBudgetSelect budget must be positive, got $budget")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cum_tokens", sum(col(tokensCol).cast("long")).over(w))
      .withColumn("kept", col("cum_tokens") <= budget)
  }

  /** The 100 TB form of [[tokenBudgetSelect]]: histogram-cutoff budget
    * selection. No doc row is ever sorted or windowed — a giant domain
    * streams through partial aggregation instead of serializing through
    * one task's external sort. Two bounded passes:
    *
    *   1. per-group score range (one partial-aggregated shuffle of G
    *      rows), then per-(group, bin) token mass over `bins` equal-
    *      width score bins — state G×bins, independent of row count;
    *   2. walk each group's histogram top-bin-down (a window over the
    *      TINY G×bins frame) to the highest bin whose cumulative mass
    *      EXCEEDS the budget; keep = stateless `bin > cutoff` filter
    *      with the O(G) cutoff set broadcast back onto the docs.
    *
    * Approximation contract, stated exactly: bins partition scores, so
    * every kept doc outranks every dropped one down to bin resolution,
    * kept token mass never exceeds the budget, and it differs from the
    * exact prefix cut only within the single boundary bin (the exact
    * form also keeps the boundary-bin prefix that still fits). A group
    * whose whole mass fits the budget keeps everything (no cutoff row
    * → NULL-guarded keep-all, same as exact). Degenerate score range
    * (one distinct score) collapses to one bin: all-or-nothing, the
    * honest limit of score-resolution selection. CorpusSpec pins the
    * subset + boundary-bin-bounded-gap properties against the exact
    * operator.
    *
    * @return scored plus (score_bin, kept), one row per input doc
    */
  def tokenBudgetHistogram(scored: DataFrame, idCol: String, groupCol: String,
      tokensCol: String, scoreCol: String, budget: Long,
      bins: Int = 1024): DataFrame = {
    require(budget > 0, s"tokenBudgetHistogram budget must be positive, got $budget")
    require(bins > 1, s"tokenBudgetHistogram needs >1 bins, got $bins")
    val g = col(groupCol)
    val range = scored.groupBy(g).agg(
      min(col(scoreCol)).as("_smin"), max(col(scoreCol)).as("_smax"))
    // bin arithmetic mirrors the oracle SQL token-for-token: identical
    // IEEE double ops on identical inputs give identical bins in both
    // engines (same discipline as the p09/p40 scores)
    val withBin = scored.join(broadcast(range), Seq(groupCol))
      .withColumn("score_bin",
        when(col("_smax") > col("_smin"),
          least(floor((col(scoreCol) - col("_smin"))
            / (col("_smax") - col("_smin")) * lit(bins)), lit(bins - 1L)))
          .otherwise(lit(0L)).cast("int"))
      .drop("_smin", "_smax")
    val hist = withBin.groupBy(g, col("score_bin"))
      .agg(sum(col(tokensCol).cast("long")).as("_btoks"))
    val wTop = Window.partitionBy(g).orderBy(col("score_bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cut = hist.withColumn("_cum", sum(col("_btoks")).over(wTop))
      .filter(col("_cum") > budget)
      .groupBy(g).agg(max(col("score_bin")).as("_cutbin"))
    withBin.join(broadcast(cut), Seq(groupCol), "left")
      .withColumn("kept",
        col("_cutbin").isNull || col("score_bin") > col("_cutbin"))
      .drop("_cutbin")
  }

  /** Per-group EXACT interpolated quantiles of token counts (the
    * length-distribution audit every curation run starts from), computed
    * from a value histogram rather than a per-group sort: state is
    * bounded by DISTINCT lengths (a few thousand), not rows, so the same
    * plan holds at 100 TB where collect-and-sort or a full-sort
    * percentile would not. Quantile q(p) uses the standard linear
    * interpolation on rank p·(n−1) (quantile_cont / numpy semantics):
    * integer histogram ranks until the single final lerp, so results
    * are bit-reproducible across engines.
    *
    * @return (grp, n_docs, min_tokens, max_tokens, mean_tokens,
    *         q_<label> per requested prob)
    */
  def tokenQuantiles(docs: DataFrame, groupCol: String, textCol: String,
      probs: Seq[(String, Double)] = Seq("p25" -> 0.25, "p50" -> 0.5,
        "p90" -> 0.9, "p99" -> 0.99),
      norm: Column => Column = TextFns.normText): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p._2 >= 0 && p._2 <= 1),
      s"tokenQuantiles probs must lie in [0, 1], got $probs")
    val n = docs.select(col(groupCol).as("grp"),
      size(TextFns.tokens(norm(col(textCol)))).as("n"))
    val hist = n.groupBy(col("grp"), col("n")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("grp")).orderBy(col("n"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.groupBy(col("grp"))
      .agg(sum(col("cnt")).as("total"), min(col("n")).as("min_tokens"),
        max(col("n")).as("max_tokens"),
        sum(col("n") * col("cnt")).as("sum_tokens"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wCum))
      .join(tot, "grp")
    // per prob: the histogram values at 0-based ranks floor/ceil(p·(n−1))
    // — min(n) over rows whose cumulative count covers the rank
    val aggs: Seq[Column] = Seq(
      first(col("total")).as("total"),
      first(col("min_tokens")).as("min_tokens"),
      first(col("max_tokens")).as("max_tokens"),
      first(col("sum_tokens")).as("sum_tokens")) ++
      probs.flatMap { case (label, p) =>
        val idx = lit(p) * (col("total") - 1)
        Seq(min(when(col("cum") >= floor(idx) + 1, col("n"))).as(s"_lo_$label"),
          min(when(col("cum") >= ceil(idx) + 1, col("n"))).as(s"_hi_$label"))
      }
    val ranked = cum.groupBy(col("grp")).agg(aggs.head, aggs.tail: _*)
    ranked.select(
      Seq(col("grp"), col("total").as("n_docs"), col("min_tokens"),
        col("max_tokens"),
        (col("sum_tokens").cast("double") / col("total")).as("mean_tokens")) ++
      probs.map { case (label, p) =>
        val idx = lit(p) * (col("total") - 1)
        (col(s"_lo_$label").cast("double") + (idx - floor(idx)) *
          (col(s"_hi_$label") - col(s"_lo_$label")).cast("double")).as(label)
      }: _*)
  }

  /** Temperature-based mixture sampling — the GPT-3/PaLM data-mixing
    * move: source g is kept with probability ∝ share_g^τ / share_g…
    * normalized so the largest weight keeps everything. τ < 1 flattens
    * the mixture (upsamples tail sources relative to the head); τ = 1
    * is proportional (no resampling); τ = 0 is uniform-by-source. Doc
    * selection is the deterministic md5-hash mod, so the sample is
    * reproducible run-to-run and engine-to-engine — no RNG state.
    *
    * Plan: two 1-row cross joins (total tokens, max weight) over the
    * per-source rollup — broadcast by construction — then one
    * broadcast join of per-source p_keep back to docs for the kept
    * count. Nothing shuffles at doc granularity except the final
    * per-source count.
    *
    * τ = 0.5 routes through sqrt, which IEEE requires to be correctly
    * rounded (bit-identical across engines); other τ use pow, whose
    * last-ulp behavior is libm-specific — fine for production, but the
    * cross-engine oracle gate pins τ = 0.5.
    *
    * @return (grp, n_docs, grp_tokens, token_share, p_keep, n_kept)
    */
  def temperatureSample(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String, tau: Double = 0.5,
      norm: Column => Column = TextFns.normText): DataFrame = {
    // persisted: the token-count projection feeds both the per-source
    // rollup and the kept-count pass — one tokenizer run, not two
    val t = docs.select(col(groupCol).as("grp"), col(idCol).as("_id"),
      size(TextFns.tokens(norm(col(textCol)))).as("_n"))
      .persist()
    val per = t.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_n")).cast("long").as("grp_tokens"))
    val tot = per.agg(sum(col("grp_tokens")).cast("long").as("_tot"))
    val w = per.crossJoin(broadcast(tot))
      .withColumn("token_share",
        col("grp_tokens").cast("double") / col("_tot"))
      .withColumn("_w",
        if (tau == 0.5) sqrt(col("token_share"))
        else pow(col("token_share"), tau))
    val wmax = w.agg(max(col("_w")).as("_wmax"))
    val probs = w.crossJoin(broadcast(wmax))
      .select(col("grp"), col("n_docs"), col("grp_tokens"),
        col("token_share"), (col("_w") / col("_wmax")).as("p_keep"))
    val kept = t
      .join(broadcast(probs.select(col("grp"), col("p_keep"))), "grp")
      .filter(TextFns.hash32(col("_id").cast("string")) % 1000000
        < floor(col("p_keep") * 1000000))
      .groupBy(col("grp")).agg(count(lit(1)).as("n_kept"))
    probs.join(kept, Seq("grp"), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
  }

  /** Sequence packing (concat-and-chunk): within each group, documents
    * are laid end-to-end in id order and cut into context windows of
    * `budget` tokens — a doc lands in the bin where its first token
    * falls: bin = floor(tokens_before / budget). The running sum is a
    * partitioned window (each group sorts within its shuffle partition;
    * no global sort, no driver state), and bins are contiguous id
    * ranges, so a packed corpus can be written partitioned by
    * (group, bin) and read back sequentially by the trainer.
    *
    * @return one row per (group, bin_id): n_docs, bin_tokens — note
    *   bin_tokens can exceed budget when a doc straddles a boundary;
    *   the trainer's loader splits that doc across the two windows.
    */
  def packSequences(docs: DataFrame, groupCol: String, idCol: String,
      textCol: String, budget: Int,
      norm: Column => Column = TextFns.normText): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = Window.partitionBy(col("grp")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .select(col(groupCol).as("grp"), col(idCol).as("doc_id"),
        size(TextFns.tokens(norm(col(textCol)))).as("n_tokens"))
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin_id",
        floor(col("tokens_before").cast("double") / budget).cast("long"))
      .groupBy(col("grp"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("bin_tokens"))
  }

  /** Deterministic train/val/test assignment: split = md5-hash of the
    * doc id mod 100 against cumulative percentage cut points — the
    * standard hash-split that is (a) reproducible across runs, engines,
    * and cluster sizes (no RNG, no row order dependence), (b) stable
    * under corpus growth (a doc's split never changes when other docs
    * are added — the property a random split lacks), and (c) a pure
    * map: no shuffle until the per-split rollup.
    *
    * @param cuts (split_name, upper_bound_percent) with STRICTLY
    *   increasing exclusive upper bounds, last = 100 — e.g.
    *   ("train",80),("val",90),("test",100). Equal bounds are rejected:
    *   they would make a split silently unreachable.
    * @return (split, n_docs, total_tokens) — one row per split that
    *   received at least one doc. NULL-id docs (no hashable key) group
    *   under a NULL split row — surfaced, never silently folded into
    *   the last split.
    */
  def splitStats(docs: DataFrame, idCol: String, textCol: String,
      cuts: Seq[(String, Int)] = Seq("train" -> 80, "val" -> 90,
        "test" -> 100),
      norm: Column => Column = TextFns.normText): DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 == 100 && cuts.head._2 > 0 &&
      cuts.zip(cuts.tail).forall { case ((_, a), (_, b)) => a < b },
      s"cuts must be strictly increasing upper bounds ending at 100, got $cuts")
    val bucket = TextFns.hash32(col(idCol).cast("string")) % 100
    val split = when(bucket.isNotNull,
      cuts.init.foldRight(lit(cuts.last._1)) {
        case ((name, ub), rest) => when(bucket < ub, lit(name)).otherwise(rest)
      })
    docs
      .select(split.as("split"),
        size(TextFns.tokens(norm(col(textCol)))).as("n"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).cast("long").as("total_tokens"))
  }

  /** Leakage-safe train/val/test split: hash-split on the near-dup
    * CLUSTER id, not the document id, so a family of near-duplicates
    * can never straddle train and test — the standard fix for the
    * dedup-leakage eval inflation a per-doc hash split silently
    * allows (a test doc with a train near-twin is a leaked answer).
    *
    * `groups` is any (doc_id, cluster_id) assignment — typically
    * `Clusters.connectedComponents` over near-dup pairs, which labels
    * only docs that appear in some edge; unclustered docs fall back to
    * their own id as a singleton group (coalesce), matching CC's
    * min-id labeling convention. Same determinism contract as
    * [[splitStats]]: md5-bucket of the group key, no RNG, stable under
    * corpus growth, and a doc's split can only change if its CLUSTER
    * membership changes. One record-scale left equi-join + the final
    * per-split rollup; the group table is dedup output (orders of
    * magnitude smaller than the corpus at real dup rates).
    *
    * @return (split, n_docs, n_groups, total_tokens) — n_groups counts
    *         distinct group keys, proving every group lands whole
    */
  def splitByGroup(docs: DataFrame, idCol: String, textCol: String,
      groups: DataFrame, cuts: Seq[(String, Int)] = Seq("train" -> 80,
        "val" -> 90, "test" -> 100),
      norm: Column => Column = TextFns.normText): DataFrame = {
    require(cuts.nonEmpty && cuts.last._2 == 100 && cuts.head._2 > 0 &&
      cuts.zip(cuts.tail).forall { case ((_, a), (_, b)) => a < b },
      s"cuts must be strictly increasing upper bounds ending at 100, got $cuts")
    val keyed = docs
      .select(col(idCol).as("doc_id"),
        size(TextFns.tokens(norm(col(textCol)))).as("n"))
      .join(groups.select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("grp_key", coalesce(col("cluster_id"), col("doc_id")))
    val bucket = TextFns.hash32(col("grp_key").cast("string")) % 100
    val split = when(bucket.isNotNull,
      cuts.init.foldRight(lit(cuts.last._1)) {
        case ((name, ub), rest) => when(bucket < ub, lit(name)).otherwise(rest)
      })
    keyed
      .select(split.as("split"), col("grp_key"), col("n"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("grp_key")).as("n_groups"),
        sum(col("n")).cast("long").as("total_tokens"))
  }

  /** Per-document compression ratio — the classic repetitiveness /
    * low-entropy quality signal (boilerplate, generated spam, and
    * keyword-stuffed pages compress far better than natural prose; the
    * RefinedWeb/MassiveText filter families threshold on exactly
    * this). deflate(level 6) over the utf-8 bytes; DEFLATE output for
    * a fixed level/strategy is deterministic for fixed input, so
    * results are stable run-to-run and cluster-size-independent.
    *
    * This is the one text operator that cannot be a Catalyst
    * expression composition (no codegen deflate exists), so it runs as
    * a typed mapPartitions — one Deflater per PARTITION, reset per
    * row, the same batch shape as Multimodal's codec stage; still a
    * pure map, zero shuffles, and the text column is dropped on
    * output so downstream moves only scalars.
    *
    * @return (doc_id, n_bytes, n_compressed, ratio) — ratio =
    *         n_compressed/n_bytes (lower = more repetitive); empty
    *         docs report NULL-free (0, header-size, NULL ratio).
    */
  def compressionSignals(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // Row-encoded (not a case-class tuple): the id keeps its ORIGINAL
    // type — a (Long, …) encoder would reject string/NULL ids with an
    // opaque executor NPE naming neither operator nor row
    val in = docs.select(col(idCol).as("doc_id"),
      col(textCol).cast("string").as("_t"))
    val outSchema = StructType(Seq(in.schema("doc_id"),
      StructField("n_bytes", LongType, nullable = false),
      StructField("n_compressed", LongType, nullable = false)))
    in.mapPartitions { rows =>
      val deflater = new java.util.zip.Deflater(6, true)
      // Deflater state is ~256KB of native zlib memory per instance —
      // end() it at task completion, never wait for finalization
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
      val buf = new Array[Byte](1 << 16)
      rows.map { r =>
        val bytes = Option(r.getString(1)).getOrElse("")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        deflater.reset()
        deflater.setInput(bytes)
        deflater.finish()
        var out = 0L
        while (!deflater.finished()) out += deflater.deflate(buf)
        Row(r.get(0), bytes.length.toLong, out)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
      .withColumn("ratio",
        when(col("n_bytes") > 0,
          col("n_compressed").cast("double") / col("n_bytes")))
  }

  /** PII pattern set for text-level redaction — ASCII-only regexes kept
    * deliberately inside the Java-regex ∩ RE2 common subset (no
    * lookaround, no backrefs, leftmost-first in both engines) so Spark
    * and the DuckDB oracle match and replace identically. These find
    * FORMATS, not identities: the precision/recall tradeoff of regex
    * PII scrubbing is the industry-standard first pass (the reference's
    * whole concept layer flags PII COLUMNS by name with the same
    * philosophy — `sql/V000006` pii regex; this is its text-payload
    * analog for training corpora). */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhonePat = "\\+?\\d[\\d -]{6,}\\d"

  /** The full redaction cascade as one Column — for consumers that need
    * the redacted TEXT flowing onward (Ingest.triage scrubs before
    * dedup/decontamination so every downstream stage sees uniform
    * placeholders). Identical output to [[piiRedact]]'s hashed cascade:
    * PropertySpec's idempotence test builds exactly this nested form
    * and hash-compares it against the staged operator. */
  def redactText(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      EmailPat, "<EMAIL>"), Ipv4Pat, "<IP>"), PhonePat, "<PHONE>")

  /** Text-level PII redaction: count and replace emails, then IPv4s,
    * then phone-shaped digit runs (each stage scans the PREVIOUS
    * stage's output — sequential semantics both engines replay
    * identically; emails go first so their digits can't half-match the
    * phone pattern). Returns counts plus md5 of the fully-redacted
    * text — verifiable replacement, not just counting — and drops the
    * text payload so downstream moves 16-byte hashes. Pure per-row
    * map: no shuffle, pipelines into the scan; each regex runs once
    * per row (staged projections — the count and the replace of a
    * stage share its input attribute, not a recomputed expression).
    *
    * @return (doc_id, n_emails, n_ips, n_phones, redacted_hash)
    */
  def piiRedact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("_t0"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("_t0"), lit(EmailPat), lit(0)))
          .cast("long").as("n_emails"),
        regexp_replace(col("_t0"), EmailPat, "<EMAIL>").as("_t1"))
      .select(col("doc_id"), col("n_emails"),
        size(regexp_extract_all(col("_t1"), lit(Ipv4Pat), lit(0)))
          .cast("long").as("n_ips"),
        regexp_replace(col("_t1"), Ipv4Pat, "<IP>").as("_t2"))
      .select(col("doc_id"), col("n_emails"), col("n_ips"),
        size(regexp_extract_all(col("_t2"), lit(PhonePat), lit(0)))
          .cast("long").as("n_phones"),
        md5(regexp_replace(col("_t2"), PhonePat, "<PHONE>"))
          .as("redacted_hash"))

  /** Self-LM repetitiveness score — the CCNet-family "perplexity
    * against a corpus LM" quality signal, made cross-engine exact by
    * staying LOG-FREE: each doc scores mean_i p(w_{i+1}|w_i) under the
    * bigram model trained on THIS corpus, p = c2(w_i,w_{i+1}) / c1(w_i)
    * (occurrence counts; self-scoring ⇒ every doc bigram exists in the
    * model, so no smoothing term is needed). High score = predictable /
    * templated text, low = diverse prose — the same ordering signal as
    * perplexity (which is a monotone transform of mean log p; libm
    * `log` differs in the last ulp across engines, so the mean of exact
    * rationals folded IN POSITION ORDER is used instead — the
    * dot-product determinism trick applied to LM scoring).
    *
    * Plan: bigram explode → two count shuffles (bigram, prefix; both
    * uniform text keys with map-side partials) → two attach joins →
    * per-doc ordered fold (array_sort(collect_list(struct(pos,p))) —
    * state per doc ∝ its bigram count, the same bounded envelope as
    * chunkDedup's reassembly). Docs with < 2 tokens have no bigrams:
    * n_bigrams = 0, avg_p NULL.
    *
    * @return (doc_id, n_bigrams, avg_p)
    */
  def lmBigramScore(docs: DataFrame, idCol: String,
      textCol: String,
      norm: Column => Column = TextFns.normText): DataFrame = {
    val t = docs
      .repartition(par(docs), col(idCol))
      .select(col(idCol).as("doc_id"),
        TextFns.tokens(norm(col(textCol))).as("toks"))
    // bigrams with positions; when() without otherwise yields NULL for
    // <2-token docs and explode drops them (Spark's sequence(0, -1)
    // would count DOWN — the guard is load-bearing, not cosmetic)
    val bg = t
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= 2,
          transform(sequence(lit(0), size(col("toks")) - 2),
            i => struct(i.as("pos"),
              element_at(col("toks"), i + 1).as("w1"),
              concat_ws(" ", element_at(col("toks"), i + 1),
                element_at(col("toks"), i + 2)).as("bigram"))))).as("b"))
      .select(col("doc_id"), col("b.pos").as("pos"), col("b.w1").as("w1"),
        col("b.bigram").as("bigram"))
      .persist() // feeds both model counts AND the scoring join
    val c2 = bg.groupBy(col("bigram")).agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val scored = bg
      .join(c2, Seq("bigram"))
      .join(c1, Seq("w1"))
      .select(col("doc_id"), col("pos"),
        (col("c2").cast("double") / col("c1").cast("double")).as("p"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("p")))),
            s => s.getField("p")),
          lit(0.0d), (acc, x) => acc + x).as("_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("_sum") / col("n_bigrams").cast("double")).as("avg_p"))
    t.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"), col("avg_p"))
  }

  /** Corpus-wide boilerplate n-gram mining: the `k` word-`n`-grams
    * appearing in the most documents — the complement view of the dedup
    * df-cap (what Dedup.cappedPairs DROPS is exactly what this surfaces
    * for template/boilerplate review). Shingles are distinct per doc
    * (shingleDocs), so the count IS document frequency. One shuffle on
    * the shingle key with map-side partial counts; the top-k runs as
    * sort+limit (TakeOrderedAndProject: per-partition partial top-k,
    * k-row merge — never a full single-task sort).
    *
    * @return (ngram, df, rnk) with rnk ≤ k, ties broken by ngram text.
    */
  /** Deterministic global training-order shuffle ("epoch shuffle"):
    * every row gets a contiguous 1-based position in the total order
    * (hash32(seed|id), id) — the reshuffle a training run applies to a
    * curated corpus before sequence packing, reproducible from the seed
    * alone (new epoch = new seed, same operator).
    *
    * Scale shape: the naive `ROW_NUMBER() OVER (ORDER BY key)` collapses
    * onto ONE partition — a non-starter past a few GB. Here the keyed
    * rows range-partition on (key, id) (one shuffle whose payload is
    * just the 12-byte key pair), sort within partitions, and take
    * contiguous positions from zipWithIndex — Spark's two-job index (a
    * per-partition count, then a pure map adding offsets): no second
    * shuffle, no driver-side data, no single-partition stage. Range
    * boundaries come from sampling, but boundaries only decide WHERE a
    * row sits, not its neighbors: the concatenation of range-ordered,
    * internally-sorted partitions is the same total (key, id) order for
    * ANY boundary placement, so the positions are deterministic even
    * though the sampler isn't part of the contract. This is the one
    * operator family where an RDD hop is genuinely required — assigning
    * contiguous global indices has no Catalyst form that avoids the
    * single-partition window.
    *
    * @return (id, skey, pos): the shuffle key and the 1-based position.
    */
  def epochShuffle(docs: DataFrame, idCol: String, seed: Long): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField}
    val spark = docs.sparkSession
    val keyed = docs.select(col(idCol),
        TextFns.hash32(concat_ws("|", lit(seed), col(idCol).cast("string")))
          .as("skey"))
      .repartitionByRange(par(docs), col("skey"), col(idCol))
      .sortWithinPartitions(col("skey"), col(idCol))
    val schema = keyed.schema.add(StructField("pos", LongType, nullable = false))
    val rows = keyed.rdd.zipWithIndex.map {
      case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(rows, schema)
  }

  /** Exact global running totals in a total order — the distributed
    * prefix sum behind global greedy packing / curriculum batching
    * (`SUM(v) OVER (ORDER BY …)` semantics WITHOUT the single-partition
    * window that order-unbounded frames force on Spark).
    *
    * Shape: range-partition + sort on the order columns (one shuffle,
    * persisted), then the classic two-phase scan — job 1 folds each
    * partition to its total (O(P) rows to the driver), the exclusive
    * scan of those totals broadcasts as per-partition offsets, job 2
    * adds the local running sum. The persist pins one partitioning
    * under both jobs, so the offsets provably describe the partitions
    * the second pass reads (caller-clears-cache convention, like the
    * pair operators). NULL values add 0 — the `SUM OVER` convention.
    *
    * @param orderCols a TOTAL order (include the id as tie-break —
    *   a partial order would make the running sum nondeterministic)
    * @return df's columns + `outCol`: the inclusive running total.
    */
  def orderedPrefixSum(df: DataFrame, orderCols: Seq[String],
      valCol: String, outCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField}
    val spark = df.sparkSession
    require(df.schema(valCol).dataType == LongType,
      s"orderedPrefixSum: $valCol must be bigint (cast upstream), got " +
        df.schema(valCol).dataType.simpleString)
    val ranged = df
      .repartitionByRange(par(df), orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
      .persist()
    val vi = ranged.schema.fieldIndex(valCol)
    val totals = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = 0L
      it.foreach(r => if (!r.isNullAt(vi)) s += r.getLong(vi))
      Iterator((pid, s))
    }.collect().toMap
    val nParts = ranged.rdd.getNumPartitions
    val offsets = (0 until nParts)
      .scanLeft(0L)((acc, p) => acc + totals.getOrElse(p, 0L)).toArray
    val bc = spark.sparkContext.broadcast(offsets)
    val schema = ranged.schema
      .add(StructField(outCol, LongType, nullable = false))
    val rows = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = bc.value(pid)
      it.map { r =>
        if (!r.isNullAt(vi)) acc += r.getLong(vi)
        Row.fromSeq(r.toSeq :+ acc)
      }
    }
    spark.createDataFrame(rows, schema)
  }

  /** Padding-efficient length-bucketed batching — the batch-assembly
    * step before training/inference on fixed-shape accelerators: docs
    * sort by (token length, id) and consecutive runs of `batchSize`
    * become one batch, so each batch pads to its own max length
    * instead of the corpus max (the dynamic-batching / bucketing trick
    * every serving stack uses). Returns the per-batch efficiency
    * report: row count, max/total token length, and the padding waste
    * `n·max − Σlen` the bucketing is there to minimize.
    *
    * The global row number comes from [[orderedPrefixSum]] of ones
    * over the (len, id) total order — range partition + two-phase
    * scan, never a single-partition window — so a trillion-doc corpus
    * batches without serializing through one task. Batch ids are
    * 0-based in length order (batch 0 = shortest docs).
    *
    * @return (batch, n_docs, max_len, sum_len, padding)
    */
  def lengthBatches(docs: DataFrame, idCol: String, textCol: String,
      batchSize: Int,
      norm: Column => Column = TextFns.normText): DataFrame = {
    require(batchSize >= 1, s"lengthBatches: batchSize >= 1, got $batchSize")
    val t = docs.select(col(idCol).as("doc_id"),
      size(TextFns.tokens(norm(col(textCol)))).cast("long")
        .as("len"))
      .withColumn("one", lit(1L))
    orderedPrefixSum(t, Seq("len", "doc_id"), "one", "rn")
      .withColumn("batch", expr(s"(rn - 1) div ${batchSize}L"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_docs"), max(col("len")).as("max_len"),
        sum(col("len")).as("sum_len"))
      .select(col("batch"), col("n_docs"), col("max_len"), col("sum_len"),
        (col("n_docs") * col("max_len") - col("sum_len")).as("padding"))
  }

  /** Deterministic exact-k per-group sample: each group keeps its
    * min(k, |group|) members with the smallest (hash32(id), id) — the
    * exact-count companion to the PROPORTIONAL samplers
    * (`splitStats`' hash-mod, `temperatureSample`'s probability
    * predicate): eval-set construction and per-domain caps need "this
    * many, exactly, reproducibly", which a rate can't give. Same
    * hash-order-sample rule as `topKByHashCentroids`, so it replays in
    * SQL verbatim.
    *
    * Scale: one shuffle on the group key; the rank-≤-k filter compiles
    * to WindowGroupLimit (pinned in PlanSpec), so every map task keeps
    * only its local top-k per group BEFORE the exchange — a skewed
    * mega-group contributes k rows per upstream partition, not its
    * whole population, to the window sort.
    *
    * @return (grp, doc_id, rnk) with rnk ≤ k. */
  def exactKPerGroup(docs: DataFrame, groupCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"exactKPerGroup: k must be >= 1, got $k")
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("_h"), col("doc_id"))
    docs.select(col(groupCol).as("grp"), col(idCol).as("doc_id"),
        TextFns.hash32(col(idCol).cast("string")).as("_h"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("grp"), col("doc_id"), col("rnk"))
  }

  /** BM25 query-by-example retrieval: rank every document against each
    * query's leading terms and keep the top `k` (self-match excluded) —
    * the retrieval step of retrieval-augmented curation (find the
    * corpus documents most relevant to an eval/query set).
    *
    * Scoring is BM25 with the Lucene-style idf kept as the RAW odds
    * ratio `(N - df + 0.5) / (df + 0.5)` instead of its log: the log is
    * a per-term monotone transform whose libm implementations differ in
    * the last ulp across engines, while the odds ratio is exact
    * rational inputs through a fixed sequence of IEEE ops — the same
    * determinism decision as [[tfidfTopTerms]]' rational idf. (Summing
    * odds instead of log-odds weights rare terms more strongly; this is
    * the operator's defined scoring function, stated openly, not an
    * approximation of the log form.) The per-document sum runs in FIXED
    * term-position order (pos 1 + pos 2 + …, absent terms add +0.0), so
    * the double is bit-reproducible — never a merge-order `sum()`.
    *
    * Scale shape (100 TB corpus, bounded query set): the corpus
    * SHUFFLES once — on (doc, term) for tf; dl rides along (max of a
    * per-doc constant), so doc lengths never need a second corpus
    * join. It TOKENIZES once: the 1-row stats aggregate derives from
    * the tf build itself (Σ dl ≡ Σ tf) plus a column-pruned row count,
    * so the text is decoded exactly once per call ([[PostingIndex]] is
    * the amortized form that tokenizes once at BUILD time and serves
    * any number of queries from the stored postings). Everything after
    * tf touches
    * only the postings of the query vocabulary: the query-term set broadcasts into the tf
    * scan, df comes from the FILTERED postings (no full-vocabulary df
    * table is ever materialized), and corpus stats are a broadcast
    * 1-row aggregate. The final top-k is a per-query window. Stop-term
    * postings are the skew risk — `maxDf` drops query terms whose
    * posting list exceeds the cap (zero-information terms, the same
    * df-cap lever as Dedup.cappedPairs).
    *
    * Snapshot semantics: the query terms are collected when this method
    * BUILDS its plan (one driver job, [[bm25QueryTermsLocal]]), not when
    * the returned frame runs. The frame scores the query documents as
    * they were at the call against the corpus as it is at execution; a
    * caller whose query source changes in between must call again.
    *
    * @param queryPred picks the query documents (evaluated per row)
    * @param nQueryTerms leading-token window of each query doc; its
    *   distinct terms are the query, each carrying its first-occurrence
    *   position (duplicates leave 0-contribution gaps in 1..n)
    * @return (query_id, rnk, doc_id, score) with rnk <= k; only docs
    *   sharing at least one (uncapped) query term are candidates
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryPred: Column, nQueryTerms: Int, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      maxDf: Option[Long] = None,
      norm: Column => Column = TextFns.normText): DataFrame = {
    require(nQueryTerms >= 1 && k >= 1,
      s"bm25TopK: need positive nQueryTerms/k, got $nQueryTerms/$k")
    // the fixed-order sum compiles to nQueryTerms aggregate columns —
    // a deliberate determinism/width trade whose codegen cost grows
    // linearly in n; refuse widths that would degrade the whole
    // aggregate to interpreted mode instead of silently crawling
    require(nQueryTerms <= 128,
      s"bm25TopK: nQueryTerms=$nQueryTerms exceeds 128 — the per-position " +
        "aggregate is codegen-bounded; chunk the query or raise k1/b " +
        "selectivity instead")
    val toks = docs
      .select(col(idCol).as("doc_id"),
        TextFns.tokens(norm(col(textCol))).as("toks"))
      .withColumn("dl", size(col("toks")))
    val qterms = bm25QueryTermsLocal(docs.filter(queryPred), idCol, textCol,
      nQueryTerms, norm)
    val tf = toks
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    // 1-row corpus stats broadcast into the plan (no driver action);
    // avgdl is ONE division of two exact integers. Derived WITHOUT a
    // second corpus tokenize: Σ dl ≡ Σ tf (a doc's token count is the
    // sum of its per-term tfs; docs with no tokens add 0 to both), so
    // sum_dl reads the tf aggregate — whose shuffle the scoring path
    // already pays and ReuseExchange dedupes — and n_docs is a
    // column-pruned row count (parquet footer counts, no text decode).
    // Same exact integers in, same one division, bit-identical avgdl.
    // sum(when(dl >= 1, tf)) == sum(tf) — dl ≥ 1 wherever a tf row
    // exists; the dl reference keeps this branch's tf subtree
    // canonically identical to the scoring branch's so ReuseExchange
    // dedupes the corpus aggregation (see dfq0 in bm25Score).
    val stats = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(tf.agg(sum(when(col("dl") >= 1, col("tf"))).as("sum_dl")))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    bm25Score(tf, qterms, stats, nQueryTerms, k, k1, b, maxDf)
  }

  /** The query-term extraction shared with [[PostingIndex]]: distinct
    * leading-window terms per query, each carrying its FIRST-occurrence
    * position (min over duplicate slots — never an index into
    * array_distinct output, whose order DuckDB does not guarantee). */
  private[operators] def bm25QueryTerms(queries: DataFrame, idCol: String,
      textCol: String, nQueryTerms: Int,
      norm: Column => Column = TextFns.normText): DataFrame =
    queries
      .select(col(idCol).as("query_id"),
        TextFns.tokens(norm(col(textCol))).as("toks"))
      .select(col("query_id"), posexplode(slice(col("toks"), 1, nQueryTerms)))
      .groupBy(col("query_id"), col("col"))
      .agg((min(col("pos")) + 1).as("pos"))
      .select(col("query_id"), col("pos"), col("col").as("term"))

  /** [[bm25QueryTerms]] evaluated ONCE and re-planted as a local
    * relation. The scoring core references the query-term frame twice
    * (the vocabulary semi-filter and the per-position join) and each
    * broadcast build would re-run the query-doc tokenize + groupBy —
    * two distributed jobs over a result that is BOUNDED by
    * |queries| × nQueryTerms rows (the operator's contract; the same
    * bounded-driver-state class as the store probes' term collect and
    * the CMS gate literals). Collecting once and inlining the rows
    * makes both references free local broadcasts; values are the exact
    * same rows, so scoring is unchanged. */
  private[operators] def bm25QueryTermsLocal(queries: DataFrame,
      idCol: String, textCol: String, nQueryTerms: Int,
      norm: Column => Column = TextFns.normText): DataFrame = {
    val qt = bm25QueryTerms(queries, idCol, textCol, nQueryTerms, norm)
    qt.sparkSession.createDataFrame(
      java.util.Arrays.asList(qt.collect(): _*), qt.schema)
  }

  /** The scoring core shared by [[bm25TopK]] (in-memory) and
    * [[PostingIndex.topK]] (served from disk) — ONE implementation, so
    * store ≡ in-memory is true by construction, not by parallel
    * maintenance. Inputs: `tf` (doc_id, term, tf, dl) — may already be
    * restricted to the query vocabulary; `qterms` (query_id, pos,
    * term); `stats` 1-row (n_docs, avgdl). df is computed from the
    * vocabulary-filtered postings (the full term dictionary never
    * materializes), idf stays the raw odds ratio, and the per-document
    * sum runs in fixed position order — see [[bm25TopK]]'s scaladoc for
    * the determinism rationale. */
  private[operators] def bm25Score(tf: DataFrame, qterms: DataFrame,
      stats: DataFrame, nQueryTerms: Int, k: Int, k1: Double, b: Double,
      maxDf: Option[Long]): DataFrame = {
    val qvocab = qterms.select(col("term")).distinct()
    val posting = tf.join(broadcast(qvocab), Seq("term"))
    // df == count(1) — tf ≥ 1 and dl ≥ 1 by construction, so the
    // predicate is always true. The references are load-bearing: a
    // bare count(1) lets column pruning specialize this branch's tf
    // subtree (partial_count only, no partial_max(dl)), making it
    // canonically DIFFERENT from the scoring branch's — ReuseExchange
    // then cannot dedupe them and the corpus tokenize+tf shuffle runs
    // once PER BRANCH (measured: three distinct hashpartitioning(
    // doc_id, term) exchanges in p57's post-execution plan).
    // Referencing tf and dl keeps the subtrees identical, so all
    // consumers share ONE corpus aggregation.
    val dfq0 = posting.groupBy(col("term"))
      .agg(count(when(col("tf") >= 1 && col("dl") >= 1, 1)).as("df"))
    val dfq = maxDf.fold(dfq0)(cap => dfq0.filter(col("df") <= cap))
    val kk1 = k1 + 1.0
    val oneMinusB = 1.0 - b
    val contrib = posting
      .join(broadcast(dfq), Seq("term"))
      .join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("pos"), col("doc_id"),
        (((col("n_docs").cast("double") - col("df") + lit(0.5))
            / (col("df") + lit(0.5))) *
          ((col("tf") * lit(kk1)) /
            (col("tf") + lit(k1) *
              (lit(oneMinusB) + lit(b) * (col("dl") / col("avgdl"))))))
          .as("c"))
    // fixed-order sum: each (query, doc, pos) contributes at most once
    // (terms are distinct per query), so the conditional max is exact
    // and c1 + c2 + … + cn is the same float in any engine
    val perPos = (1 to nQueryTerms).map(p =>
      max(when(col("pos") === p, col("c"))).as(s"c$p"))
    val summed = contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(perPos.head, perPos.tail: _*)
      .select(col("query_id"), col("doc_id"),
        (1 to nQueryTerms).map(p => coalesce(col(s"c$p"), lit(0.0)))
          .reduceLeft(_ + _).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    summed.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("doc_id"), col("score"))
  }

  /** Count–min sketch over doc-distinct word n-grams: a `depth` ×
    * `width` counter matrix answering "how many documents contain this
    * n-gram?" WITHOUT storing the n-gram dictionary — the frequency
    * oracle for boilerplate screening at corpus scales where the gram
    * table itself (trillions of distinct grams at 100 TB) dwarfs the
    * data that produced it.
    *
    * Unlike Space-Saving/Misra–Gries, the CMS is a pure SUM structure:
    * counters are order- and partition-invariant, every estimate is
    * deterministic, and the whole sketch replays in SQL — so this is
    * the rare sketch that can be driver-gated bit-exactly (the same
    * reason KMV was chosen for distinct counts). Row hashes are
    * seed-prefixed md5 ("cms<row>:<gram>"), shared with the oracle.
    *
    * Scale shape: build is one shuffle keyed on (row, bucket) with
    * map-side partial counts — the reduce state is at most
    * depth × width counters per task regardless of corpus size; the
    * finished matrix is O(depth·width) rows and BROADCASTS to answer
    * any number of point queries with zero further shuffles.
    *
    * @return (rw, bucket, cnt) — at most depth·width rows
    */
  def cmsNgramMatrix(docs: DataFrame, idCol: String, textCol: String,
      n: Int, depth: Int, width: Int,
      norm: Column => Column = TextFns.normText): DataFrame = {
    require(depth >= 1 && width >= 1,
      s"cmsNgramMatrix: need positive depth/width, got $depth/$width")
    Dedup.shingleDocs(docs, idCol, textCol, n, norm)
      .select(explode(col("shingles")).as("ngram"))
      .select(explode(sequence(lit(0), lit(depth - 1))).as("rw"), col("ngram"))
      .select(col("rw"),
        (TextFns.hash32(concat(lit("cms"), col("rw").cast("string"),
          lit(":"), col("ngram"))) % width).as("bucket"))
      .groupBy(col("rw"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge count-min matrices by plain counter addition — CMS is a
    * pure-sum structure, so `merge(matrix(A), matrix(B)) ==
    * matrix(A ∪ B)` EXACTLY (not approximately; the spec pins
    * bit-equality). This is the property that makes the sketch
    * composable at scale: per-source/per-batch/per-day matrices build
    * independently (each a bounded O(depth·width) aggregate), merge in
    * O(depth·width), and the merged sketch answers global df queries
    * without ever re-scanning the inputs — the incremental-ingest
    * story for frequency stats, the way ShingleIndex appends are for
    * pair dedup.
    *
    * Matrices MUST share (n, depth, width) — counter addition across
    * different hash geometries is meaningless; the caller owns that
    * contract (the frames carry no geometry metadata to check).
    */
  def cmsMerge(matrices: DataFrame*): DataFrame = {
    require(matrices.nonEmpty, "cmsMerge: need at least one matrix")
    matrices.reduceLeft(_ unionByName _)
      .groupBy(col("rw"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** CMS point estimates for a candidate n-gram set: df_est(g) =
    * min over rows of counter[h_row(g)] — an upper bound on the true
    * document frequency (counters only ever over-count via collisions;
    * an absent bucket IS zero, hence the left join + coalesce). The
    * matrix side broadcasts (O(depth·width) rows); candidates stream
    * through a pure map + tiny grouped min.
    *
    * @return (ngram, df_est) with df_est >= true df, always
    */
  def cmsEstimateDf(matrix: DataFrame, candidates: DataFrame,
      ngramCol: String, depth: Int, width: Int): DataFrame =
    candidates
      .select(col(ngramCol).as("ngram"),
        explode(sequence(lit(0), lit(depth - 1))).as("rw"))
      .select(col("ngram"), col("rw"),
        (TextFns.hash32(concat(lit("cms"), col("rw").cast("string"),
          lit(":"), col("ngram"))) % width).as("bucket"))
      .join(broadcast(matrix), Seq("rw", "bucket"), "left")
      .groupBy(col("ngram"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("df_est"))

  /** Two-pass exact heavy hitters through a CMS pre-filter — the
    * scale-out answer to "which n-grams appear in >= minDf documents?"
    * when the full gram dictionary is too large to shuffle. Pass 1
    * builds the [[cmsNgramMatrix]]; pass 2 re-scans the corpus and
    * filters each (doc, gram) row MAP-SIDE against the sketch (the
    * depth × width counter matrix rides into the expression as dense
    * literal arrays — O(depth·width) driver state, the same bounded
    * class as a centroid broadcast), so the exact groupBy only ever
    * shuffles grams the sketch says might qualify. CMS never
    * under-counts (est >= true df, always), so the pre-filter is a
    * guaranteed superset of the true heavy hitters and the final
    * result is EXACT — the sketch only decides how much the shuffle
    * shrinks, never what the answer is.
    *
    * Shuffle volume drops from O(distinct grams) to O(true heavy
    * hitters + collision false positives). Sizing law (measured,
    * SCALE.md): each bucket's collision mass is ~total_gram_rows/width,
    * so the gate only selects when `minDf >> total_rows/width` — pick
    * `width ~ total_rows/minDf × 10` for a <10% false-admit rate
    * (sf0.1, 260k gram rows, minDf 50: width 512 admits everything,
    * 8192 admits 281, 65536 admits 0). Undersizing never breaks
    * correctness — it only shrinks the shuffle saving.
    *
    * @return (ngram, df, df_est) — exact df >= minDf, plus the sketch
    *         estimate that admitted the gram (df_est >= df)
    */
  def cmsHeavyHitters(docs: DataFrame, idCol: String, textCol: String,
      n: Int, depth: Int, width: Int, minDf: Long): DataFrame =
    cmsGateRecount(docs, idCol, textCol, n, minDf,
      collectCounters(cmsNgramMatrix(docs, idCol, textCol, n, depth, width),
        depth, width))

  /** Materialize a matrix frame as dense per-row counter arrays
    * (absent buckets are true zeros) for the literal-expression gate.
    * Bounded explicitly: the counters ride to the driver and into
    * every task as plan literals (16M cells = 128 MB of longs) — an
    * oversized sketch must fail HERE, naming the knob, not OOM the
    * driver anonymously. */
  private[operators] def collectCounters(matrix: DataFrame,
      depth: Int, width: Int): Array[Array[Long]] = {
    require(depth.toLong * width <= (1L << 24),
      s"CMS gate: depth*width = ${depth.toLong * width} exceeds 2^24 " +
        "literal counters; for larger sketches use cmsEstimateDf " +
        "(broadcast-join path, no driver materialization)")
    val counters = Array.fill(depth)(new Array[Long](width))
    matrix.collect().foreach { r =>
      counters(r.getAs[Int]("rw"))(r.getAs[Long]("bucket").toInt) =
        r.getAs[Long]("cnt")
    }
    counters
  }

  /** The shared pass-2 of the heavy-hitter operators: map-side sketch
    * gate (pure expression — min over depth of counter[h_row(gram)],
    * inside whole-stage codegen, no join) followed by the exact
    * recount of survivors. Used with a freshly-built matrix
    * ([[cmsHeavyHitters]]) or a persisted one
    * ([[CmsStore.heavyHitters]]). */
  private[operators] def cmsGateRecount(docs: DataFrame, idCol: String,
      textCol: String, n: Int, minDf: Long,
      counters: Array[Array[Long]]): DataFrame = {
    require(minDf >= 1, s"CMS gate: minDf must be >= 1, got $minDf")
    val depth = counters.length
    val width = counters.head.length
    def est(g: Column): Column = {
      val per = (0 until depth).map { d =>
        element_at(lit(counters(d)),
          (TextFns.hash32(concat(lit("cms"), lit(d.toString), lit(":"), g))
            % width).cast("int") + 1)
      }
      per.reduceLeft(least(_, _))
    }
    // est is instantiated ONCE, in the map-side projection: each use
    // site embeds the dense counter arrays into the plan as literals,
    // so a second instantiation (e.g. recomputing df_est after the
    // groupBy) would double the plan/task payload — at the 2^24-cell
    // cap that is an extra 128 MB for nothing. The per-gram constant
    // rides through the aggregate as max() instead.
    Dedup.shingleDocs(docs, idCol, textCol, n)
      .select(explode(col("shingles")).as("ngram"))
      .select(col("ngram"), est(col("ngram")).as("df_est"))
      .filter(col("df_est") >= minDf) // map-side: before ANY shuffle
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("df"), max(col("df_est")).as("df_est"))
      .filter(col("df") >= minDf)
      .select(col("ngram"), col("df"), col("df_est"))
  }

  /** Distribution-drift monitor between a reference corpus snapshot and
    * a current batch — the ingest-time health check that catches a
    * source silently changing shape (truncated scrapes, a new spam
    * pattern, an encoding regression) before it trains into a model.
    * Per group: Pearson's chi-square of the current batch's value
    * histogram against add-one-smoothed expected masses from the
    * reference,
    * `chi2 = Σ_bins (o_b − e_b)² / e_b`,
    * `e_b = (r_b + 1) · n_cur / (n_ref + B)` (B = bins present in
    * either side — the add-one keeps every e_b > 0, so a bin that is
    * new in the batch contributes a large, finite term instead of a
    * division by zero; the smoothing is part of the operator's stated
    * statistic, not an approximation of an unsmoothed one).
    *
    * Determinism: counts are integers; e_b is one double division of
    * exact integer products; each bin's term is a fixed IEEE sequence;
    * and the per-group sum folds the terms in BIN ORDER over a
    * sort_array'd collect_list — never a merge-order `sum()` — so chi2
    * replays bit-exactly in SQL. The collect is bounded by bins per
    * group (value-range / binWidth — the caller's knob), the same
    * bounded-state argument as [[tokenQuantiles]]' histogram.
    *
    * Scale shape: both inputs reduce to (group, bin) histograms before
    * anything joins — two corpus-scale map + count shuffles, then all
    * arithmetic runs at histogram scale.
    *
    * @param valueCol a non-negative integral column (token counts,
    *   byte lengths, …); bin = value div binWidth
    * @return (grp, n_ref, n_cur, n_bins, dof, chi2)
    */
  def histogramDrift(ref: DataFrame, cur: DataFrame, groupCol: String,
      valueCol: String, binWidth: Long): DataFrame =
    chiSquareFromHists(valueHistogram(ref, groupCol, valueCol, binWidth, "r"),
      valueHistogram(cur, groupCol, valueCol, binWidth, "o"))

  /** The binned (grp, bin, count) rollup both drift sides reduce to —
    * exposed so a PERSISTED reference histogram ([[DriftStore]]) can
    * feed [[chiSquareFromHists]] without rescanning the reference
    * corpus per micro-batch. */
  private[graft] def valueHistogram(df: DataFrame, groupCol: String,
      valueCol: String, binWidth: Long, cntName: String): DataFrame = {
    require(binWidth >= 1,
      s"histogramDrift: binWidth must be >= 1, got $binWidth")
    df.select(col(groupCol).as("grp"), col(valueCol).cast("long").as("_v"))
      .select(col("grp"), expr(s"_v div ${binWidth}L").as("bin"))
      .groupBy(col("grp"), col("bin"))
      .agg(count(lit(1)).as(cntName))
  }

  /** The chi-square core over pre-aggregated histograms `(grp, bin, r)`
    * and `(grp, bin, o)` — see [[histogramDrift]] for the statistic's
    * definition and determinism argument. */
  private[graft] def chiSquareFromHists(refHist: DataFrame,
      curHist: DataFrame): DataFrame = {
    val joined = refHist.join(curHist,
        Seq("grp", "bin"), "full_outer")
      .select(col("grp"), col("bin"), coalesce(col("r"), lit(0L)).as("r"),
        coalesce(col("o"), lit(0L)).as("o"))
    val tot = joined.groupBy(col("grp"))
      .agg(sum(col("r")).as("n_ref"), sum(col("o")).as("n_cur"),
        count(lit(1)).as("n_bins"))
    val term = joined.join(broadcast(tot), Seq("grp"))
      // a group the current batch never touched has every e_b = 0 —
      // chi-square is undefined there, and "no data" is no evidence of
      // drift: the group simply has no report row this batch (the
      // streaming monitor's next batch with data reports it again)
      .filter(col("n_cur") > 0)
      // each factor cast to double BEFORE the multiply — (r+1)*n_cur
      // as a long product wraps silently in Spark (and errors in
      // DuckDB) once per-bin reference counts times batch sizes pass
      // 2^63; same discipline as dsirScore's log-space products
      .withColumn("e", (col("r") + 1).cast("double")
        * col("n_cur").cast("double")
        / (col("n_ref") + col("n_bins")).cast("double"))
      .select(col("grp"), col("bin"), col("n_ref"), col("n_cur"),
        col("n_bins"),
        ((col("o") - col("e")) * (col("o") - col("e")) / col("e"))
          .as("t"))
    term.groupBy(col("grp"))
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
        max(col("n_bins")).as("n_bins"),
        aggregate(
          transform(sort_array(collect_list(struct(col("bin").as("b"),
            col("t").as("t")))), s => s.getField("t")),
          lit(0.0), (acc, x) => acc + x).as("chi2"))
      .select(col("grp"), col("n_ref"), col("n_cur"), col("n_bins"),
        (col("n_bins") - 1).as("dof"), col("chi2"))
  }

  /** Per-group quantiles of a CONTINUOUS column via a deterministic
    * hash sample — the companion to [[tokenQuantiles]] for values
    * where the exact-histogram state bound breaks: quality scores,
    * ratios, compression signals have as many distinct values as rows,
    * so at 100 TB the histogram IS the corpus. Sampling by
    * `hash32(id) % sampleMod == 0` bounds the state to the sample
    * (n/sampleMod rows — quantile error O(1/√sample), the standard
    * trade), is engine- and layout-independent (the same md5-derived
    * selector as every deterministic sampler here), and the
    * interpolation then reuses tokenQuantiles' exact rank arithmetic
    * ON THE SAMPLE — so the reported numbers are bit-reproducible even
    * though they estimate the population.
    *
    * No mean is reported: a double mean needs a merge-order-dependent
    * sum (or a lossy decimal quantization); min/max/quantiles are
    * order-free.
    *
    * @return (grp, n_sampled, min_v, max_v, q_<label> …)
    */
  def sampledQuantiles(rows: DataFrame, groupCol: String, idCol: String,
      valueCol: String, sampleMod: Int,
      probs: Seq[(String, Double)] = Seq("p25" -> 0.25, "p50" -> 0.5,
        "p90" -> 0.9, "p99" -> 0.99)): DataFrame = {
    require(sampleMod >= 1, s"sampledQuantiles: sampleMod >= 1, got $sampleMod")
    require(probs.nonEmpty && probs.forall(p => p._2 >= 0 && p._2 <= 1),
      s"sampledQuantiles probs must lie in [0, 1], got $probs")
    val sample = rows
      .filter(TextFns.hash32(col(idCol).cast("string")) % sampleMod === 0)
      .select(col(groupCol).as("grp"), col(valueCol).cast("double").as("v"))
    val hist = sample.groupBy(col("grp"), col("v"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("grp")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = hist.groupBy(col("grp"))
      .agg(sum(col("cnt")).as("total"), min(col("v")).as("min_v"),
        max(col("v")).as("max_v"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wCum))
      .join(tot, "grp")
    val aggs: Seq[Column] = Seq(
      first(col("total")).as("total"),
      first(col("min_v")).as("min_v"),
      first(col("max_v")).as("max_v")) ++
      probs.flatMap { case (label, p) =>
        val idx = lit(p) * (col("total") - 1)
        Seq(min(when(col("cum") >= floor(idx) + 1, col("v"))).as(s"_lo_$label"),
          min(when(col("cum") >= ceil(idx) + 1, col("v"))).as(s"_hi_$label"))
      }
    val ranked = cum.groupBy(col("grp")).agg(aggs.head, aggs.tail: _*)
    ranked.select(
      Seq(col("grp"), col("total").as("n_sampled"), col("min_v"),
        col("max_v")) ++
      probs.map { case (label, p) =>
        val idx = lit(p) * (col("total") - 1)
        (col(s"_lo_$label") + (idx - floor(idx)) *
          (col(s"_hi_$label") - col(s"_lo_$label"))).as(label)
      }: _*)
  }

  /** Per-group quantile TRIM — the quality-bucket curation step
    * (CCNet/RefinedWeb shape): keep only rows whose continuous score
    * lies inside their group's [loP, hiP] quantile band, with the
    * thresholds computed by [[sampledQuantiles]] (deterministic hash
    * sample, exact rank/lerp arithmetic — so the band edges replay
    * bit-exactly in SQL and the filter itself is exact given them).
    * "Drop the worst 10% per language" without ever sorting the
    * corpus: one sample-scale histogram pass for the thresholds, one
    * broadcast of the ≤ |groups| threshold rows, one map-side filter.
    *
    * Groups with NO sampled member (small domains the hash selector
    * missed) keep ALL their rows — no threshold evidence is not
    * evidence for dropping a domain; rows with a NULL or NaN value are
    * dropped in thresholded groups (an unscorable row cannot certify
    * membership in the band) and kept in unthresholded ones.
    *
    * A NOMINAL band edge disables its comparison entirely: hiP = 1.0
    * means "no upper trim", NOT "at most the sampled maximum" — the
    * p=1.0 threshold is the SAMPLE's max, and comparing against it
    * would silently drop the ~1/sampleMod fraction of rows above it
    * (the highest-quality documents, in the canonical bottom-trim
    * call). Symmetrically loP = 0.0 disables the lower bound. With
    * both nominal the operator is the identity (nulls included).
    *
    * @return the input rows that survive, original columns unchanged
    */
  def quantileTrim(rows: DataFrame, groupCol: String, idCol: String,
      valueCol: String, sampleMod: Int,
      loP: Double = 0.1, hiP: Double = 1.0): DataFrame = {
    require(loP >= 0 && hiP <= 1 && loP <= hiP,
      s"quantileTrim: need 0 <= loP <= hiP <= 1, got $loP/$hiP")
    if (loP == 0.0 && hiP == 1.0) return rows
    val v = col(valueCol).cast("double")
    // null AND NaN scores are excluded from the THRESHOLD sample: nulls
    // sort first in the cumulative rank and would silently shift every
    // band edge; a NaN sorts GREATEST in Spark, so one NaN in a group's
    // sample makes the lerped upper edge NaN and silently disables the
    // upper trim for the whole group (KllSketch skips NaN for the same
    // reason). Both are separately dropped from thresholded groups by
    // the filter below — unscorable ≠ rank zero, and NaN >= lo is
    // vacuously true under Spark's NaN-greatest comparison semantics.
    val scorable = v.isNotNull && !isnan(v)
    val th = sampledQuantiles(rows.filter(scorable), groupCol, idCol,
        valueCol, sampleMod,
        probs = Seq("_trim_lo" -> loP, "_trim_hi" -> hiP))
      .select(col("grp").as("_trim_grp"), col("_trim_lo"), col("_trim_hi"))
    val lower = if (loP == 0.0) lit(true) else v >= col("_trim_lo")
    val upper = if (hiP == 1.0) lit(true) else v <= col("_trim_hi")
    rows.join(broadcast(th), col(groupCol) === col("_trim_grp"), "left")
      .filter(col("_trim_lo").isNull || (scorable && lower && upper))
      .drop("_trim_grp", "_trim_lo", "_trim_hi")
  }

  /** One learned BPE merge: in round `rnd`, the adjacent symbol pair
    * (lft, rgt) had the highest corpus frequency `cnt` (weighted by
    * word occurrences) and was fused into the new symbol lft+rgt. */
  final case class BpeMerge(rnd: Int, lft: String, rgt: String, cnt: Long)

  /** Symbol-list separator for the BPE fold: outside the normalized
    * token alphabet ([a-z0-9]), so `acc ends-with SEP+lft` is a true
    * last-symbol test — a symbol can never smuggle the separator. */
  private val BpeSep = "\u001f"

  private def bpeResplit(sym: Column): Column =
    filter(split(sym, BpeSep), s => s =!= "")

  /** Apply ONE merge to a symbol array via a left fold that re-encodes
    * the list as a SEP-joined string: if the accumulator ends with
    * SEP+lft and the next symbol is rgt, appending rgt WITHOUT a
    * separator fuses the pair in place; otherwise append SEP+symbol.
    * A left fold IS greedy left-to-right non-overlapping merging — the
    * standard BPE application order ("aaaa" → "aa","aa") — and the
    * identical `list_reduce` replays it in the oracle. */
  private def bpeMergeFold(syms: Column, lft: String, rgt: String): Column =
    bpeResplit(aggregate(syms, lit(""), (acc, s) =>
      when(acc.endsWith(lit(BpeSep + lft)) && s === rgt, concat(acc, s))
        .otherwise(concat(acc, lit(BpeSep), s))))

  /** The word-frequency table BPE training actually runs on:
    * (word, cnt, syms) with syms the word's current symbol list
    * (initially its characters). ONE corpus-scale shuffle; everything
    * after is vocabulary-scale. */
  private[graft] def bpeVocab(docs: DataFrame, textCol: String,
      norm: Column => Column = TextFns.normText): DataFrame =
    docs
      .select(explode(TextFns.tokens(norm(col(textCol))))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("word"), col("cnt"),
        filter(split(col("word"), ""), s => s =!= "").as("syms"))

  /** Distributed byte-pair-encoding merge learning — the tokenizer-
    * training step of a data pipeline, run the way production BPE
    * trainers run it: on the word-FREQUENCY table, never on the raw
    * corpus. The corpus is scanned exactly once (the word-count
    * shuffle); each merge round is then a vocabulary-scale job —
    * adjacent-pair counts weighted by word frequency, one bounded
    * argmax to the driver (1 row — the same bounded-collect class as
    * a centroid pick), and a pure-map fold applying the winner. At
    * 100 TB the vocabulary table is orders of magnitude smaller than
    * the corpus and the rounds never rescan it.
    *
    * Rounds are inherently sequential (merge i+1's pair statistics
    * depend on merge i having been applied — that is the definition
    * of BPE), so the loop itself cannot parallelize — but once the
    * word-frequency table fits one task, the rounds don't need to be
    * Spark jobs either. Dispatch (the [[Clusters]] singleTaskCC
    * pattern): at or under [[maxLocalVocabWords]] distinct words the
    * whole merge loop runs in ONE executor task
    * ([[bpeLearnLocal]] — delta-updated pair counts + a lazy max-heap,
    * so a 50k-merge production vocabulary costs one job instead of
    * 50k scheduling round-trips); above the gate the per-round
    * distributed loop ([[bpeLearnRounds]]) is the shape that survives
    * an unbounded vocabulary, at one bounded 1-row argmax collect per
    * round. Both paths implement the identical statistic — all
    * adjacent pairs with multiplicity, weighted by word frequency;
    * greedy left-to-right non-overlapping application; ties break
    * lexicographically on (lft, rgt) in UTF-8 binary ≡ codepoint order
    * over any token alphabet — so the learned merges are equal by
    * construction and BpeSpec pins the equality path-vs-path. Stops
    * early if no pair remains (every word fused to one symbol).
    */
  def bpeLearn(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int,
      norm: Column => Column = TextFns.normText): Seq[BpeMerge] =
    bpeLearnGated(docs, textCol, rounds, norm,
      maxLocalVocabWords, maxLocalSymbolMass)

  /** [[bpeLearn]] with the single-task gates injectable — the spec
    * seam proving the word-count and symbol-mass bounds each force the
    * distributed path independently. */
  private[graft] def bpeLearnGated(docs: DataFrame, textCol: String,
      rounds: Int, norm: Column => Column,
      maxWords: Long, maxMass: Long): Seq[BpeMerge] = {
    require(rounds >= 1 && rounds <= 65536,
      s"bpeLearn: rounds must be in [1, 65536], got $rounds")
    val vocab = bpeVocab(docs, textCol, norm).persist()
    try {
      // materialize BOTH gate statistics before the loop re-reads: the
      // single-task trainer's memory scales with total symbol MASS
      // (pairWords buffers ∝ adjacency ∝ Σ|syms|), not just distinct-
      // word count — a vocabulary of <4M but LONG tokens (hex/base64
      // blobs, minified runs) must take the distributed path too
      val gate = vocab
        .agg(count(lit(1)).as("n"), sum(size(col("syms"))).as("mass"))
        .collect().head
      val nWords = gate.getLong(0)
      val symMass = if (gate.isNullAt(1)) 0L else gate.getLong(1)
      if (nWords <= maxWords && symMass <= maxMass)
        bpeLearnLocal(vocab, rounds)
      else {
        require(rounds <= 256,
          s"bpeLearn: $nWords distinct words / $symMass symbols exceed " +
            s"the single-task gate ($maxWords words, " +
            s"$maxMass symbols) and the distributed fallback " +
            s"costs one Spark job per round — capped at 256 rounds, " +
            s"got $rounds; shard or pre-filter the corpus vocabulary")
        bpeLearnRounds(vocab, rounds)
      }
    } finally { vocab.unpersist(); () }
  }

  /** Single-task gate for [[bpeLearn]]: 4M distinct words × (~10 int
    * symbol ids + the word string + pair-count entries) is comfortably
    * one task's memory — the same explicit-bound discipline as
    * [[Clusters]]' 4M-edge gate. Web-scale corpora with larger
    * [a-z0-9]+ vocabularies take the distributed path. */
  private[graft] val maxLocalVocabWords: Long = 4L << 20

  /** Companion single-task gate on TOTAL SYMBOL MASS (Σ|syms| over the
    * vocabulary): [[localBpe]]'s pairWords buffers cost ~4 bytes per
    * adjacency, so 64M symbols ≈ a few hundred MB of int buffers plus
    * the word arrays — an executor task's memory, with headroom for
    * merge-created pair churn. Either bound exceeded → distributed. */
  private[graft] val maxLocalSymbolMass: Long = 64L << 20

  /** The per-round distributed merge loop — one vocabulary-scale pair
    * count + a 1-row argmax collect + a pure-map fold per round. The
    * fallback above [[maxLocalVocabWords]]; semantics pinned equal to
    * [[bpeLearnLocal]] by BpeSpec. `vocab` must already be persisted
    * (this method materializes successor generations and unpersists
    * predecessors as it goes). */
  private[graft] def bpeLearnRounds(vocab0: DataFrame,
      rounds: Int): Seq[BpeMerge] = {
    var vocab = vocab0
    val merges = scala.collection.mutable.ListBuffer[BpeMerge]()
    var done = false
    // Reliable-checkpoint housekeeping: Spark never deletes reliable
    // checkpoint files (cleanCheckpoints is off by default), so a
    // 256-round run would otherwise leave 256 vocabulary-scale rdd-*
    // directories behind. Each round's checkpoint dir is identified by
    // a before/after listing diff of the context checkpoint root and
    // the PREDECESSOR's dir is deleted once its successor has
    // materialized (checkpoint() is eager). Assumes no concurrent
    // reliable checkpoints in this SparkContext during the call — true
    // for this engine (the only other deep loop, MMR, localCheckpoints).
    val sc0 = vocab0.sparkSession.sparkContext
    val ckptRoot = sc0.getCheckpointDir
      .map(d => new org.apache.hadoop.fs.Path(d))
    val ckptFs = ckptRoot.map(_.getFileSystem(sc0.hadoopConfiguration))
    def listCkpt(): Set[String] = (for { r <- ckptRoot; f <- ckptFs } yield
      if (f.exists(r)) f.listStatus(r).map(_.getPath.getName).toSet
      else Set.empty[String]).getOrElse(Set.empty)
    def dropCkpt(names: Set[String]): Unit =
      for { r <- ckptRoot; f <- ckptFs; n <- names } {
        f.delete(new org.apache.hadoop.fs.Path(r, n), true); ()
      }
    var prevCkpt = Set.empty[String]
    try {
      (1 to rounds).foreach { rnd =>
        if (!done) {
          val n = size(col("syms"))
          val best = vocab
            .select(col("cnt"),
              explode(zip_with(slice(col("syms"), lit(1), n - 1),
                slice(col("syms"), lit(2), n - 1),
                (l, r) => struct(l.as("l"), r.as("r")))).as("pr"))
            .groupBy(col("pr.l").as("lft"), col("pr.r").as("rgt"))
            .agg(sum(col("cnt")).as("cnt"))
            .orderBy(col("cnt").desc, col("lft"), col("rgt"))
            .limit(1).collect()
          if (best.isEmpty) done = true
          else {
            val b = best.head
            val (l, r) = (b.getString(0), b.getString(1))
            merges += BpeMerge(rnd, l, r, b.getLong(2))
            // Lineage discipline for a deep iterative loop — BOTH chains
            // grow per round and both have failure modes MEASURED IN
            // THIS LOOP: un-truncated logical plans OOM the driver's
            // plan strings by round ~150 (the MMR pathology — persist
            // alone does not stop it; the fold's multiply-referenced
            // syms column re-inlines under CollapseProject), and raw
            // RDD graphs StackOverflow task serialization around depth
            // ~90 (persist short-circuits computation, not the
            // serialized object walk). Checkpointing every round bounds
            // both chains at depth 1: RELIABLY when the context has a
            // checkpoint dir — set one on a real cluster; this
            // above-the-gate path runs precisely where executors get
            // reclaimed, and reliable checkpoints survive that —
            // falling back to localCheckpoint on undirected local runs
            // (fast, executor-resident; a lost executor there means
            // rerun, which local mode cannot hit).
            val spark = vocab.sparkSession
            val folded = vocab
              .select(col("word"), col("cnt"),
                bpeMergeFold(col("syms"), l, r).as("syms"))
            val next =
              if (spark.sparkContext.getCheckpointDir.isDefined) {
                val before = listCkpt()
                val ck = folded.checkpoint()
                val created = listCkpt() -- before
                // track the successor BEFORE deleting the predecessor:
                // if the delete throws, the finally below still knows
                // which dir is live and collects it on the way out
                val old = prevCkpt
                prevCkpt = created
                dropCkpt(old) // successor is materialized; predecessor dies
                ck
              } else folded.localCheckpoint()
            vocab.unpersist()
            vocab = next
          }
        }
      }
      merges.toList
    } finally {
      vocab.unpersist()
      // runs on success AND failure: the merges are already local rows
      // (or abandoned), so the last generation's checkpoint has no
      // further reader — without this, an exception mid-loop would
      // leak a vocabulary-scale rdd-* dir forever
      dropCkpt(prevCkpt)
    }
  }

  /** The single-task merge loop: the whole vocabulary rides into ONE
    * executor task (coalesce(1) — the [[Clusters]] singleTaskCC
    * pattern: an executor's memory, not the driver's) and the
    * sequential rounds run as plain JVM code. Pair counts are
    * DELTA-updated — applying a merge re-counts only the words that
    * contain the winning pair — and the argmax pops from a lazy
    * max-heap (every count change pushes a fresh entry; stale entries
    * are dropped when their count no longer matches), so per-round
    * cost tracks the affected words, not the vocabulary. This is the
    * standard fast-BPE-trainer structure, re-derived. */
  private[graft] def bpeLearnLocal(vocab: DataFrame,
      rounds: Int): Seq[BpeMerge] = {
    val sess = vocab.sparkSession
    import sess.implicits._
    vocab.select(col("cnt"), col("syms")).as[(Long, Seq[String])]
      .coalesce(1)
      .mapPartitions(it => Iterator.single(localBpe(it, rounds)))
      .collect().headOption.getOrElse(Seq.empty)
      .map { case (rnd, l, r, c) => BpeMerge(rnd, l, r, c) }
  }

  /** The in-task BPE trainer behind [[bpeLearnLocal]] — returns
    * (rnd, lft, rgt, cnt) tuples (the Encoder-friendly shape; the
    * caller re-wraps as [[BpeMerge]]). Exact semantics contract with
    * the distributed path:
    *   - pair statistic: ALL adjacent pairs with multiplicity,
    *     weighted by word cnt (the zip_with-slices explode);
    *   - winner: max count, ties by (lft, rgt) ascending in codepoint
    *     order ([[cpCompare]] ≡ Spark's UTF-8 binary order, for every
    *     alphabet the pluggable normalizers can emit);
    *   - application: greedy left-to-right non-overlapping, the
    *     [[bpeMergeFold]] fold's semantics. */
  /** Code-POINT lexicographic compare — the same order as Spark's
    * UTF-8 binary string ordering for EVERY codepoint (UTF-8 bytes
    * preserve codepoint order; Java's String.compareTo orders by UTF-16
    * unit and ranks supplementary-plane chars below U+E000..U+FFFF).
    * With a Unicode [[graft.functions.TextFns.Normalizer]] feeding BPE,
    * the local and distributed paths must break count ties identically
    * — this keeps the BpeSpec path-equality contract alphabet-wide, not
    * just for ASCII. */
  private def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0; var r = 0
    while (r == 0 && i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      r = Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    if (r != 0) r else Integer.compare(a.length - i, b.length - j)
  }

  private def localBpe(it: Iterator[(Long, Seq[String])],
      rounds: Int): Seq[(Int, String, String, Long)] = {
    import scala.collection.mutable
    val symOf = mutable.HashMap.empty[String, Int]
    val syms = mutable.ArrayBuffer.empty[String]
    def idOf(s: String): Int =
      symOf.getOrElseUpdate(s, { syms += s; syms.size - 1 })
    val words = mutable.ArrayBuffer.empty[Array[Int]]
    val cnts = mutable.ArrayBuffer.empty[Long]
    it.foreach { case (c, ss) =>
      words += ss.iterator.map(idOf).toArray
      cnts += c
    }
    def pack(l: Int, r: Int): Long = (l.toLong << 32) | (r.toLong & 0xffffffffL)
    val pairCnt = mutable.HashMap.empty[Long, Long]
    // words that EVER contained a pair — lazily grown, never shrunk
    // (membership is re-verified by scanning the word on application).
    // Sparse int buffers, NOT BitSet: a dense bitmap sizes to the
    // LARGEST member index (~500 KB for one rare pair containing word
    // ~4M), so merge-created rare pairs near the gate would multiply
    // to gigabytes; a buffer costs 4 bytes per actual occurrence —
    // duplicates tolerated (the verify-scan makes reprocessing a
    // cheap no-op), total memory ∝ total adjacency, which is the
    // bound the gate is sized for
    val pairWords = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Int]]
    def bump(p: Long, d: Long): Unit = {
      val nv = pairCnt.getOrElse(p, 0L) + d
      if (nv == 0L) pairCnt.remove(p) else pairCnt.update(p, nv)
      ()
    }
    for (w <- words.indices) {
      val a = words(w)
      var i = 0
      while (i < a.length - 1) {
        val p = pack(a(i), a(i + 1))
        bump(p, cnts(w))
        val pw = pairWords.getOrElseUpdate(p, mutable.ArrayBuffer.empty[Int])
        if (pw.isEmpty || pw.last != w) pw += w
        i += 1
      }
    }
    // lazy max-heap: greatest = highest cnt, then lex-SMALLEST (lft,
    // rgt); entries go stale when a count changes — pop-and-verify
    final case class Cand(cnt: Long, l: Int, r: Int)
    val ord: Ordering[Cand] = (a: Cand, b: Cand) => {
      val c = java.lang.Long.compare(a.cnt, b.cnt)
      if (c != 0) c
      else {
        val sl = cpCompare(syms(b.l), syms(a.l))
        if (sl != 0) sl else cpCompare(syms(b.r), syms(a.r))
      }
    }
    val heap = mutable.PriorityQueue.empty[Cand](ord)
    pairCnt.foreach { case (p, c) =>
      heap.enqueue(Cand(c, (p >>> 32).toInt, p.toInt))
    }
    val merges = mutable.ListBuffer.empty[(Int, String, String, Long)]
    var rnd = 1
    var exhausted = false
    while (rnd <= rounds && !exhausted) {
      // pop to the first entry whose count is still current
      var win: Option[Cand] = None
      while (win.isEmpty && heap.nonEmpty) {
        val c = heap.dequeue()
        if (pairCnt.get(pack(c.l, c.r)).contains(c.cnt)) win = Some(c)
      }
      win match {
        case None => exhausted = true
        case Some(c) =>
          val m = idOf(syms(c.l) + syms(c.r))
          merges += ((rnd, syms(c.l), syms(c.r), c.cnt))
          val winP = pack(c.l, c.r)
          val touched = mutable.HashSet.empty[Long]
          // iterate a dedup'd snapshot: the buffer may carry duplicate
          // word entries (same-pair occurrences in one word land once
          // thanks to the last-check, but a word re-added after a
          // rebuild can repeat) — each is verified before paying
          pairWords.getOrElse(winP, mutable.ArrayBuffer.empty[Int])
            .distinct.foreach { w =>
            val a = words(w)
            // verify (lazy membership) before paying the rebuild
            var has = false
            var i = 0
            while (!has && i < a.length - 1) {
              has = a(i) == c.l && a(i + 1) == c.r; i += 1
            }
            if (has) {
              // retract the word's old adjacency, rebuild greedily
              // left-to-right, add the new adjacency back
              i = 0
              while (i < a.length - 1) {
                val p = pack(a(i), a(i + 1)); bump(p, -cnts(w))
                touched += p; i += 1
              }
              val out = new mutable.ArrayBuffer[Int](a.length)
              i = 0
              while (i < a.length) {
                if (i + 1 < a.length && a(i) == c.l && a(i + 1) == c.r) {
                  out += m; i += 2
                } else { out += a(i); i += 1 }
              }
              val na = out.toArray
              words(w) = na
              i = 0
              while (i < na.length - 1) {
                val p = pack(na(i), na(i + 1)); bump(p, cnts(w))
                val pw = pairWords
                  .getOrElseUpdate(p, mutable.ArrayBuffer.empty[Int])
                if (pw.isEmpty || pw.last != w) pw += w
                touched += p; i += 1
              }
            }
          }
          // fresh heap entries for every pair whose count changed
          touched.foreach { p =>
            pairCnt.get(p).foreach(cc =>
              heap.enqueue(Cand(cc, (p >>> 32).toInt, p.toInt)))
          }
          rnd += 1
      }
    }
    merges.toList
  }

  /** The learned merges as a gateable frame: (rnd, lft, rgt, cnt). */
  def bpeMergeFrame(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeLearn(docs, idCol, textCol, rounds)
      .toDF().select(col("rnd"), col("lft"), col("rgt"), col("cnt"))
  }

  /** Tokenize the corpus under learned BPE merges and count tokens per
    * document — the encode side of [[bpeLearn]], shaped for scale the
    * same way: the merge folds run once per DISTINCT word (a
    * vocabulary-scale map), and the corpus only pays a word → length
    * equi join plus a per-doc sum. Documents with no tokens produce no
    * row (nothing to encode), identically in the oracle.
    *
    * @return (doc_id, n_words, n_tokens): words in the doc, and BPE
    *         symbols after all merges (n_tokens <= chars, >= n_words)
    */
  def bpeTokenCounts(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[BpeMerge],
      norm: Column => Column = TextFns.normText): DataFrame = {
    val words = docs
      .select(col(idCol).as("doc_id"),
        explode(TextFns.tokens(norm(col(textCol))))
          .as("word"))
    val folded = merges.foldLeft(
      filter(split(col("word"), ""), s => s =!= "")) { (syms, m) =>
      bpeMergeFold(syms, m.lft, m.rgt)
    }
    val enc = words.select(col("word")).distinct()
      .select(col("word"), size(folded).as("n_syms"))
    words.join(enc, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_tokens"))
  }

  /** The full BPE token STREAM per document — the materialization step
    * the packing operators (p22/p55) consume downstream: where
    * [[bpeTokenCounts]] answers "how long", this answers "which
    * tokens, in order". Same scale shape: the merge folds run once per
    * DISTINCT word (vocabulary-scale), the corpus pays one word→syms
    * equi join plus a per-doc ordered reassembly — collect_list of
    * (pos, syms) bounded by the doc's own word count, sort_array on
    * the position (deterministic under any partitioning; a window
    * ordering would be, too, but would shuffle twice), flatten.
    * Documents with no tokens produce no row, as in the count form.
    *
    * @return (doc_id, toks: array<string>) — the document's BPE
    *         symbols in word order, each word's symbols in fold order
    */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[BpeMerge],
      norm: Column => Column = TextFns.normText): DataFrame = {
    val words = docs
      .select(col(idCol).as("doc_id"),
        posexplode(TextFns.tokens(norm(col(textCol))))
          .as(Seq("pos", "word")))
    val folded = merges.foldLeft(
      filter(split(col("word"), ""), s => s =!= "")) { (syms, m) =>
      bpeMergeFold(syms, m.lft, m.rgt)
    }
    val enc = words.select(col("word")).distinct()
      .select(col("word"), folded.as("syms"))
    words.join(enc, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("pos"), col("syms")))),
        s => s.getField("syms"))).as("toks"))
  }

  /** Reciprocal-rank fusion of N ranked retrieval lists — the standard
    * hybrid-retrieval combiner (lexical BM25 + dense ANN, or any mix of
    * rankers): fused(q, d) = Σ_branch 1/(c + rank_branch(q, d)), items
    * missing from a branch contribute +0.0. Rank-based fusion needs no
    * score calibration across branches (BM25 odds vs cosine live on
    * incomparable scales), which is exactly why RRF is the default
    * fuser in hybrid search engines.
    *
    * Determinism: 1/(c + rank) is one IEEE division of exact integers,
    * and the per-item sum runs in FIXED branch order (branch 0 + branch
    * 1 + …, the bm25TopK fixed-position-sum pattern) — never a
    * merge-order `sum()` — so the fused double is bit-reproducible in
    * the oracle. Ties (items sharing a fused score) break on item id.
    * If an item appears more than once within one branch, its BEST
    * (lowest) rank wins — max of 1/(c+rank) — so upstream rankers with
    * duplicate rows degrade gracefully rather than double-counting.
    *
    * Scale shape: inputs are already top-k lists — O(queries × k ×
    * branches) rows total, shuffled once on (query_id, item_id); the
    * final per-query top-k is a bounded window. The expensive work
    * (corpus-scale retrieval) happened upstream; fusion itself is
    * negligible at any corpus size.
    *
    * @param rankings one DataFrame per branch, each with columns
    *   (query_id, item_id, rnk) — rnk 1-based
    * @return (query_id, rnk, item_id, rrf) with rnk <= k
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: need at least one ranking")
    require(k >= 1 && c >= 0, s"rrfFuse: need k >= 1, c >= 0, got $k/$c")
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col("query_id"), col("item_id"), lit(i).as("br"),
        (lit(1.0) / (lit(c.toDouble) + col("rnk").cast("double")))
          .as("contrib"))
    }.reduceLeft(_ unionByName _)
    val perBranch = rankings.indices.map(i =>
      max(when(col("br") === i, col("contrib"))).as(s"b$i"))
    // no repartition before the fusion aggregate: every branch is a
    // rank-window output already hash-partitioned by query_id, Union
    // preserves the common partitioning in this Spark build, and
    // hash(query_id) satisfies both the (query_id, item_id) aggregation
    // (subset rule) and the rank window below — the plan is
    // exchange-free from the Union to the result with no help. (A
    // forced fixed-width repartition here was tried and reverted: the
    // planner elides it when redundant — identical before/after plans —
    // and where it DID materialize it would pin a width AQE can no
    // longer size.)
    val fused = tagged
      .groupBy(col("query_id"), col("item_id"))
      .agg(perBranch.head, perBranch.tail: _*)
      .select(col("query_id"), col("item_id"),
        rankings.indices.map(i => coalesce(col(s"b$i"), lit(0.0)))
          .reduceLeft(_ + _).as("rrf"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("item_id"))
    fused.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("item_id"), col("rrf"))
  }

  /** Hashed DSIR feature buckets of a token array, in a FIXED position
    * order: every unigram bucket first (token order), then every
    * bigram bucket (position order). The fixed order is load-bearing —
    * [[dsirWeights]] folds per-feature doubles in this order, so the
    * oracle can replay the sum bit-for-bit (the p40 position-order
    * trick). hash32 % buckets keeps the feature space bounded at
    * `buckets` regardless of vocabulary size — the hashing that makes
    * DSIR's bag-of-ngrams model a fixed-size histogram at 100 TB. */
  private[operators] def dsirFeatures(toks: Column, buckets: Int): Column = {
    val uni = transform(toks, t => TextFns.hash32(t) % buckets)
    // bigrams via zip_with(toks, tail(toks)) — NEVER element_at(toks, i)
    // inside a lambda: optimizer rules substitute `toks` by its full
    // tokenize expression (predicate pushdown through the projection
    // does exactly that for the n_feats filter), and a per-index
    // element_at then re-evaluates the tokenizer once PER ELEMENT —
    // O(len²) per row, measured 33 s vs 1.4 s on the sf0.1 scoring
    // pass. zip_with walks both arrays once, so even a fully-inlined
    // copy of this expression stays O(len). The one-short tail pads
    // with null; the null bigram is filtered, which also makes <2-token
    // docs fall out naturally (no CSE-blocking when() branch).
    val tail = slice(toks, lit(2), greatest(size(toks) - 1, lit(0)))
    val bi = filter(zip_with(toks, tail, (a, b) =>
      when(b.isNotNull, TextFns.hash32(concat_ws(" ", a, b)) % buckets)),
      h => h.isNotNull)
    concat(uni, bi)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how target-like its hashed-n-gram profile is, using
    * add-one-smoothed bucket histograms fit on the target and raw
    * corpora. The paper's weight is exp Σ log(p_t(b)/p_s(b)); libm log
    * differs across engines in the last ulp, so the engine-exact form
    * here is the MEAN of the per-feature probability ratios
    *   ratio(b) = ((t_b+1)·(S+B)) / ((s_b+1)·(T+B))
    * folded in feature-position order (the p40 log-free trick) — the
    * same "target-like features push the score up" ordering signal,
    * every arithmetic step a single IEEE op both engines replay.
    *
    * Plan shape (the paper's own streaming-counts shape): one bucket
    * histogram per corpus — an explode + groupBy on a key space of
    * exactly `buckets` values (map-side partials collapse each task to
    * ≤ buckets rows) — then the two histograms collect O(buckets) to
    * the driver and ride into a SECOND map-only pass as one dense
    * literal ratio array (the CMS-gate pattern): scoring touches no
    * join and no shuffle at corpus scale. Docs with no tokens score
    * NULL (n_feats = 0).
    *
    * @return (doc_id, n_feats, weight)
    */
  def dsirWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int,
      norm: Column => Column = TextFns.normText): DataFrame =
    dsirScore(raw, idCol, textCol, buckets,
      collectDsirHist(dsirHistogram(raw, idCol, textCol, buckets, norm),
        buckets),
      collectDsirHist(dsirHistogram(target, idCol, textCol, buckets, norm),
        buckets), norm)

  /** [[dsirWeights]] when the target corpus is a predicate-selected
    * SUBSET of `raw` (the common "score everything against the
    * high-quality slice" call): one tokenize+feature pass serves both
    * histograms AND the scoring, instead of three. The feature frame
    * (doc_id, target?, fb) is persisted (memory-and-disk — fb is a few
    * ints per token, the same order as the text it came from) and the
    * two bucket histograms collapse into ONE explode+groupBy with a
    * conditional count — identical counts, so weights are bit-identical
    * to `dsirWeights(raw, raw.filter(targetPred), …)` (DsirSpec pins
    * the equality). Recompute-vs-persist: the tokenize chain is two
    * regex passes + a per-token hash per doc, far more expensive than
    * re-reading cached fb arrays, and the persist is released with the
    * plan (callers that outlive a query should unpersist via
    * sparkSession.catalog.clearCache or scope the frame). */
  def dsirWeightsWithin(raw: DataFrame, targetPred: Column, idCol: String,
      textCol: String, buckets: Int,
      norm: Column => Column = TextFns.normText): DataFrame = {
    val ff = raw
      .select(col(idCol).as("doc_id"), targetPred.as("__tgt"),
        TextFns.tokens(norm(col(textCol))).as("toks"))
      .select(col("doc_id"), col("__tgt"),
        dsirFeatures(col("toks"), buckets).as("fb"))
      .persist()
    val s = new Array[Long](buckets)
    val t = new Array[Long](buckets)
    // one pass, both histograms: count every feature and, in the same
    // partial aggregate, the target-subset ones (NULL predicate rows
    // count as non-target, exactly like filter(targetPred) drops them)
    ff.select(col("__tgt"), explode(col("fb")).as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("c_all"),
        count(when(col("__tgt"), lit(1))).as("c_tgt"))
      .collect()
      .foreach { r =>
        val b = r.getAs[Long]("b").toInt
        s(b) = r.getAs[Long]("c_all")
        t(b) = r.getAs[Long]("c_tgt")
      }
    dsirScoreFb(ff.select(col("doc_id"), col("fb")), buckets, s, t)
  }

  /** (doc_id, fb) — every doc's hashed feature-bucket array. The
    * two-step projection is load-bearing: `toks` must be a
    * materialized attribute before dsirFeatures references it —
    * passing the tokenize expression itself re-evaluates the whole
    * normalize+tokenize pipeline at EVERY element_at inside a lambda
    * (O(len²) per doc; measured 40 s vs ~1 s on the sf0.1 scoring
    * pass — the wordShingles CSE trap). */
  private[operators] def dsirFeatureFrame(df: DataFrame, idCol: String,
      textCol: String, buckets: Int,
      norm: Column => Column = TextFns.normText): DataFrame = df
    .select(col(idCol).as("doc_id"),
      TextFns.tokens(norm(col(textCol))).as("toks"))
    .select(col("doc_id"), dsirFeatures(col("toks"), buckets).as("fb"))

  /** (b, c) bucket histogram of a corpus' hashed features — the
    * persistable half of the DSIR model ([[graft.operators.DsirStore]]
    * accumulates these across ingest batches by plain counter
    * addition; integer sums, so store ≡ from-scratch bit-for-bit).
    * One explode + groupBy on a key space of ≤ `buckets` values —
    * map-side partials collapse every task to ≤ buckets rows. */
  private[operators] def dsirHistogram(df: DataFrame, idCol: String,
      textCol: String, buckets: Int,
      norm: Column => Column = TextFns.normText): DataFrame =
    dsirFeatureFrame(df, idCol, textCol, buckets, norm)
      .select(explode(col("fb")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))

  /** Collect a (b, c) histogram frame into the dense O(buckets) array
    * the scoring literal needs (absent buckets are true zeros). */
  private[operators] def collectDsirHist(hist: DataFrame,
      buckets: Int): Array[Long] = {
    val h = new Array[Long](buckets)
    hist.collect().foreach(r =>
      h(r.getAs[Long]("b").toInt) = r.getAs[Long]("c"))
    h
  }

  /** Score `raw` against an explicit (source, target) histogram pair —
    * the map-only pass [[dsirWeights]] and the store-served
    * [[graft.operators.DsirStore.weights]] share. */
  private[operators] def dsirScore(raw: DataFrame, idCol: String,
      textCol: String, buckets: Int, s: Array[Long],
      t: Array[Long],
      norm: Column => Column = TextFns.normText): DataFrame =
    dsirScoreFb(dsirFeatureFrame(raw, idCol, textCol, buckets, norm),
      buckets, s, t)

  /** The scoring projection of [[dsirScore]] over an already-built
    * (doc_id, fb) feature frame — shared with [[dsirWeightsWithin]],
    * whose persisted frame must not be re-derived from text. */
  private[operators] def dsirScoreFb(ff: DataFrame, buckets: Int,
      s: Array[Long], t: Array[Long]): DataFrame = {
    require(buckets > 0 && buckets <= (1 << 22),
      s"dsir: buckets must be in [1, 2^22] (dense literal array rides " +
        s"into every task), got $buckets")
    val sTot = s.sum; val tTot = t.sum
    // ((t_b+1)·(S+B)) / ((s_b+1)·(T+B)) with each factor converted to
    // double BEFORE the multiply — the oracle's CAST(x AS DOUBLE) *
    // CAST(y AS DOUBLE) does the identical two converts, one multiply,
    // one divide (long·long products would overflow past ~3e9 counts)
    val ratios = Array.tabulate(buckets)(b =>
      ((t(b) + 1L).toDouble * (sTot + buckets).toDouble) /
        ((s(b) + 1L).toDouble * (tTot + buckets).toDouble))
    ff.select(col("doc_id"),
      coalesce(size(col("fb")), lit(0)).cast("long").as("n_feats"),
      when(size(col("fb")) > 0,
        aggregate(col("fb"), lit(0.0d),
          (acc, b) => acc + element_at(lit(ratios), b.cast("int") + 1))
          / size(col("fb")).cast("double")).as("weight"))
  }

  /** Deterministic importance resampling over [[dsirWeights]] output:
    * keep each scored doc with probability weight/max(weight) — the
    * paper's "sample proportionally to w" without its Gumbel noise
    * (Gumbel needs log/exp; a hash-uniform acceptance test is the
    * engine-exact substitute, and like every sampler here it is
    * reproducible run-to-run and replayable in SQL). The max is a
    * 1-row aggregate broadcast (the J7 pattern); acceptance compares
    * u·wmax < w·10^6 — one multiply each side, no division. The
    * highest-weight doc is always kept (u < 10^6 always holds at
    * w = wmax). Unscored docs (n_feats = 0) never pass.
    *
    * @return kept rows of (doc_id, n_feats, weight)
    */
  def dsirSelect(weights: DataFrame): DataFrame = {
    // wmax and the acceptance filter are two passes over the scored
    // frame — persist it (3 longs + a double per doc, tiny next to the
    // text it came from) so the upstream scoring runs once. Persist the
    // UNFILTERED frame: a filter below the persist gets pushed under
    // the scoring projection with the whole feature expression inlined,
    // so the single materialization pass would evaluate
    // tokenize+features twice per row (measured in the p72b plan —
    // Filter(5) carried the full expression below the Projects). The
    // n_feats = 0 rows the cache now also holds are 3 longs + a NULL
    // each.
    val scored = weights.persist().filter(col("n_feats") > 0)
    val wmax = scored.agg(max(col("weight")).as("wmax"))
    scored.crossJoin(broadcast(wmax))
      .filter((TextFns.hash32(concat(lit("dsir|"),
        col("doc_id").cast("string"))) % 1000000L).cast("double")
        * col("wmax") < col("weight") * lit(1000000.0d))
      .select(col("doc_id"), col("n_feats"), col("weight"))
  }

  def topNgrams(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, minDf: Int = 2): DataFrame = {
    require(n > 0 && k > 0, s"need positive n/k, got n=$n k=$k")
    // global top-k as sort+limit: Spark plans TakeOrderedAndProject
    // (per-partition partial top-k, k-row merge), so no single task
    // ever sorts the full gram table — a minDf pre-filter that bounds
    // little (df >= 2 keeps most grams) costs nothing. Only the <= k
    // winners pass through the explicitly-single-partition rank window.
    val w = Window.partitionBy(lit(0)).orderBy(col("df").desc, col("ngram"))
    Dedup.shingleDocs(docs, idCol, textCol, n)
      .select(explode(col("shingles")).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .orderBy(col("df").desc, col("ngram")).limit(k)
      .withColumn("rnk", row_number().over(w))
  }
}
