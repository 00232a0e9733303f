package graft.operators

import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Deduplication operators for large-scale training-data pipelines.
  * Four families, in increasing sophistication:
  *
  *   1. exact        — hash-groupBy on a canonical text key; one shuffle.
  *   2. n-gram Jaccard — shingle inverted index + pair-count join; exact
  *      similarity, cost ∝ Σ_s df(s)^2 (fine when shingles are selective;
  *      the LSH variant is the scale path).
  *   3. MinHash + LSH — signature → band buckets → candidates → exact
  *      verify. Cost ∝ candidates, not pairs; the 100 TB path.
  *   4. SimHash      — one 60-bit fingerprint per doc; near-dups =
  *      same-bucket fingerprints at small Hamming distance.
  *
  * All hashing is md5-derived (TextFns) so results are deterministic and
  * reproducible by the DuckDB oracle — no JVM-seed drift between runs or
  * engines.
  *
  * Operators persist() intermediates that several stages read: the
  * per-doc shingle frames and MinHash's `sigs` (band keys and the
  * verify lookups); candidate generation itself persists nothing (one
  * groupBy per blocking key, [[cappedPairs]]), and
  * Similarity.ivfNearDupPairs persists nothing at all (its vectors'
  * readers share one exchange). A long-lived session running many
  * pipelines should
  * `spark.catalog.clearCache()` between them (Bench/Verify do).
  *
  * Scale notes (100 TB, 1000 executors):
  *   - every operator is a pure shuffle-on-key plan: exact dedup shuffles
  *     on the 128-bit text hash, LSH groups on (band, key) — both
  *     uniform unless the corpus is pathologically skewed;
  *   - the shingle inverted index drops ultra-frequent shingles above
  *     `maxDocFreq` (stopword-shingle skew guard) — the classic
  *     df-cap from MinHash dedup systems;
  *   - candidate verification joins back to the (small) per-doc shingle
  *     arrays rather than re-exploding, so the exact-Jaccard step is
  *     |candidates| × O(shingles) not a second index build.
  */
object Dedup {

  /** Exact dedup: group by md5(norm(text)). Returns one row per distinct
    * normalized text: the keeper (min id), the duplicate count.
    *
    * @param norm pluggable canonicalizer ([[TextFns.Normalizer]]);
    *   defaults to the byte-frozen ASCII [[normText]] — pass
    *   [[graft.functions.TextFns.unicodeNormalizer]] on multilingual
    *   corpora (ASCII docs hash identically either way) */
  def exact(docs: DataFrame, idCol: String, textCol: String,
      norm: Column => Column = normText): DataFrame =
    docs
      .select(col(idCol), md5(norm(col(textCol))).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-doc distinct word-n-gram shingle arrays: (id, shingles).
    *
    * Deliberately staged: repartition first (a single parquet file would
    * otherwise pin all the regex/tokenize work on one core), then
    * materialize the token array in its OWN projection — `toks` is
    * referenced multiple times by the shingle expression, so
    * CollapseProject keeps it as an attribute and the tokenizer runs
    * once per row instead of once per shingle lambda-invocation. */
  def shingleDocs(docs: DataFrame, idCol: String, textCol: String, n: Int,
      norm: Column => Column = normText): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("doc_id"),
        tokens(norm(col(textCol))).as("toks"))
      .select(col("doc_id"), wordShingles(col("toks"), n).as("shingles"))

  /** Exact n-gram Jaccard pairs with similarity ≥ num/den (an integer
    * ratio — the threshold check `den*inter ≥ num*union` stays in exact
    * integer arithmetic, so Spark and the oracle agree bit-for-bit).
    *
    * @param maxDocFreq the df-cap (stopword-shingle skew guard): when
    *   set, shingles occurring in more than `cap` docs are dropped from
    *   the inverted index, so candidate generation costs
    *   Σ_{df(s)≤cap} df(s)² ≤ cap · |index| — LINEAR in corpus size —
    *   instead of Σ df(s)² which is quadratic in the document frequency
    *   of boilerplate shingles. Surviving candidates are then verified
    *   with the exact intersection over the FULL shingle arrays, so a
    *   reported pair's (inter, union_sz) are the true values; the only
    *   semantic difference from the uncapped path is that a pair
    *   sharing ONLY ultra-common shingles is never considered a
    *   candidate (for 5-word shingles at 0.7 Jaccard such pairs share
    *   many doc-specific shingles, so the cap loses nothing real).
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, num: Int = 7, den: Int = 10,
      maxDocFreq: Option[Int] = None,
      norm: Column => Column = normText): DataFrame = {
    // persisted: both sides of the pair self-join and the two size
    // lookups read it — without this the whole shingle pipeline runs 4×.
    val sh = shingleDocs(docs, idCol, textCol, n, norm).persist()
    val inv = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
    maxDocFreq match {
      case None =>
        // exact path: co-occurrence counts from the full index ARE |A∩B|
        val pairs = inv.as("a")
          .join(inv.as("b"),
            col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("ida"), col("b.doc_id").as("idb"))
          .agg(count(lit(1)).as("inter"))
        pairs
          .join(sh.select(col("doc_id").as("ida"), size(col("shingles")).as("na")), "ida")
          .join(sh.select(col("doc_id").as("idb"), size(col("shingles")).as("nb")), "idb")
          .withColumn("union_sz", col("na") + col("nb") - col("inter"))
          .filter(col("inter") * den >= col("union_sz") * num)
          .select(col("ida"), col("idb"), col("inter"), col("union_sz"))
      case Some(cap) =>
        // df-capped path: candidates from the rare-shingle index only,
        // then exact verification against the full arrays
        cappedCandidates(sh, cap)
          .join(sh.select(col("doc_id").as("ida"), col("shingles").as("sha")), "ida")
          .join(sh.select(col("doc_id").as("idb"), col("shingles").as("shb")), "idb")
          .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
          .withColumn("union_sz", size(col("sha")) + size(col("shb")) - col("inter"))
          .filter(col("inter") * den >= col("union_sz") * num)
          .select(col("ida"), col("idb"), col("inter"), col("union_sz"))
    }
  }

  /** Asymmetric CONTAINMENT pairs: directed (container, contained) where
    * |A∩B| / |contained| ≥ num/den — the quote/subset duplication that
    * symmetric Jaccard misses entirely (a paragraph fully embedded in a
    * 100× longer doc has Jaccard ≈ 1% but containment = 1). Candidates
    * come from the same df-capped hashed inverted index as
    * [[ngramJaccardPairs]] (linear cost); verification is the exact
    * string-array intersection, normalized by the SMALLER side. The
    * threshold check stays in integer cross-multiplication, so both
    * engines agree bit-for-bit.
    *
    * @return (container_id, contained_id, inter, contained_sz) — the
    *         contained doc is the one whose shingles are ≥ num/den
    *         covered; a pair near-identical in both directions emits
    *         with the smaller-shingle-set side as contained (ties:
    *         smaller id is contained).
    */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, num: Int = 9, den: Int = 10,
      maxDocFreq: Int = 20): DataFrame = {
    val sh = shingleDocs(docs, idCol, textCol, n).persist()
    val scored = cappedCandidates(sh, maxDocFreq)
      .join(sh.select(col("doc_id").as("ida"), col("shingles").as("sha")), "ida")
      .join(sh.select(col("doc_id").as("idb"), col("shingles").as("shb")), "idb")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("na", size(col("sha"))).withColumn("nb", size(col("shb")))
    // orient: contained = smaller shingle set (ties → smaller id, i.e.
    // ida, since candidates have ida < idb)
    val aContained = col("na") <= col("nb")
    scored
      .select(
        when(aContained, col("idb")).otherwise(col("ida")).as("container_id"),
        when(aContained, col("ida")).otherwise(col("idb")).as("contained_id"),
        col("inter"),
        when(aContained, col("na")).otherwise(col("nb")).as("contained_sz"))
      .filter(col("inter") * den >= col("contained_sz") * num)
  }

  /** df-capped candidate pairs (ida < idb, distinct) from the inverted
    * index over `sh` = shingleDocs output — the shared candidate stage
    * of [[ngramJaccardPairs]] and [[containmentPairs]]: the hashed
    * index fed to [[cappedPairs]] with the shingle hash as the key.
    *
    * The index carries hash60(shingle), not the shingle string: the
    * caplist groupBy shuffles 8-byte longs instead of ~40-byte 5-grams
    * (~2× on the pair pipeline). Collision honesty: a hash collision (a)
    * may ADD a candidate — harmless, callers verify exactly on the
    * string arrays — and (b) merges the colliding shingles' df counts,
    * which can push rare shingles over the cap and silently DROP a
    * candidate whose only shared shingles collided. At 2^60 hash space
    * the expected number of colliding shingle pairs is |shingles|²/2^61
    * — negligible below ~10^8 distinct shingles and still vanishingly
    * unlikely to be a pair's ONLY evidence above that — and
    * cross-engine parity is unaffected either way because the oracle
    * applies the identical hash before its df cap. */
  private def cappedCandidates(sh: DataFrame, cap: Int): DataFrame =
    cappedPairs(sh.select(col("doc_id"),
      explode(transform(col("shingles"), s => hash60(s))).as("s")),
      col("s"), col("doc_id"), Some(cap))

  /** The one symmetric candidate-pair stage, for ids of any type: group
    * `keyed` by the blocking `key`, collect each group's `member`s, and
    * pair the members of every group of two or more — (ida, idb)
    * ordered by id, distinct across groups. Serves the shingle df-cap
    * ([[cappedCandidates]]), Resolve's name blocking, the MinHash bands
    * ([[minhashLshPairs]]), the SimHash blocks ([[simhashPairs]]), the
    * Hamming bands ([[hammingNearDupPairs]]) and the IVF cells
    * ([[Similarity.ivfNearDupPairs]]); no caller self-joins its keys.
    *
    * A member is an id, or a payload struct whose FIRST field is the id
    * (e.g. struct(id, hash)), so a small payload reaches verification
    * without a join back. Pairs orient by least/greatest, which order a
    * struct by its first field, and drop self-pairs on the id alone:
    * two rows with the same id never pair, whatever their payloads.
    *
    * `cap = Some(c)`: a saturating bounded collect (graft_caplist,
    * O(cap) state per key — skew-safe on stop-shingles and stop-tokens
    * by construction), and a group of more than `c` rows is dropped.
    * size(ids) > cap is EXACTLY the `count > cap` drop (caplist counts
    * rows, duplicates included); a kept group's array is its complete
    * member list. `cap = None`: collect_list, nothing dropped. A block
    * of m members is then one m-element row, buffered whole (a
    * collect does not spill), which expands into m(m−1)/2 pairs: the
    * pairs, not the row, bound an uncapped caller. MinHash, SimHash
    * and Hamming keys are small by design. An IVF cell holds about
    * assignProbe · n / nCells ids, and every caller passes nCells = 64,
    * so a cell grows linearly in n: p05's largest is 112 ids at
    * n = 2,000 (sf0.1) and 1,787 at n = 32,000, 1.2× the 3n/64 mean.
    *
    * The expansion ([[expandTails]]) emits {x, y} per position pair
    * i < j — exactly the pairs a self-join on the key would. Two
    * exchanges end to end: the groupBy and the distinct. */
  private[operators] def cappedPairs(keyed: DataFrame, key: Column,
      member: Column, cap: Option[Int]): DataFrame = {
    val id: Column => Column = keyed.select(member).schema.head.dataType match {
      case s: StructType => _.getField(s.head.name)
      case _ => identity
    }
    val kept = keyed.groupBy(key)
      .agg(collectMembers(member, cap).as("ids"))
      .filter(size(col("ids")) >= 2 &&
        cap.fold(lit(true))(size(col("ids")) <= _))
    expandTails(kept.select(col("ids")), col("ids"),
        pos => slice(col("ids"), pos + 2, size(col("ids"))))
      .select(least(col("x"), col("y")).as("ida"),
        greatest(col("x"), col("y")).as("idb"))
      .filter(id(col("ida")) < id(col("idb")))
      .distinct()
  }

  /** A group's members: graft_caplist under a cap, else collect_list.
    * Both skip NULLs. */
  private def collectMembers(member: Column, cap: Option[Int]): Column =
    cap.fold(collect_list(member))(c =>
      call_function("graft_caplist", member, lit(c)))

  /** The expansion both blocking stages share: each element `x` of
    * `members`, at 0-based position `pos`, pairs with every element `y`
    * of `tail(pos)`. Two chained generators — posexplode, then the
    * tail — so no generated row holds more than one block's members,
    * even for an uncapped block. */
  private def expandTails(lists: DataFrame, members: Column,
      tail: Column => Column): DataFrame =
    lists.select(col("*"), posexplode(members).as(Seq("pos", "x")))
      .select(col("x"), explode(tail(col("pos"))).as("y"))

  /** Fused incremental candidate generation over a tagged inverted
    * index — the asymmetric (new-probe vs old-corpus) sibling of
    * [[cappedPairs]], shared by [[incrementalNearDupPairs]] (in-memory),
    * [[ShingleIndex.incrementalPairs]] (store-served) and
    * [[IvfIndex.incrementalNearDups]] (cells), so the shingle paths
    * stay row-identical by construction.
    *
    * Input: (doc_id, is_new) rows with a blocking `key`, ids of any
    * type. Under `cap = Some(c)`, ONE groupBy(key) collects TWO
    * graft_caplist lists per key, capped at c — the batch members and
    * the old ones (the collect skips the NULL the `when` produces for
    * the other side, so one aggregation pass serves both) — and the
    * combined df-cap is `size(new)+size(old) <= c`: exact when neither
    * list saturated, and a saturated list alone already exceeds the
    * cap, so the drop set is EXACTLY the (df_old + df_new) > cap rule.
    * Under `cap = None` nothing is dropped and only the batch members
    * are collected: the old rows stream through a join against the
    * per-key batch lists, so no row ever holds an old block (an
    * uncapped old block — a stored IVF cell — grows with the corpus,
    * while the batch side is bounded by the batch).
    *
    * Pairs expand through [[expandTails]]: each new member against the
    * new members after it (emitted once, smaller id as new_id) and
    * every old member (the new doc stays the probe); old×old never
    * forms.
    *
    * @return (new_id, match_id, match_is_new), distinct
    */
  private[operators] def incrementalCandidates(tagged: DataFrame,
      key: Column, cap: Option[Int]): DataFrame = {
    def tag(ids: Column, isNew: Boolean) =
      transform(ids, m => struct(m.as("id"), lit(isNew).as("is_new")))
    def newTail(pos: Column) =
      tag(slice(col("new_ids"), pos + 2, size(col("new_ids"))), true)
    val pairs = cap match {
      case Some(c) =>
        val lists = tagged.groupBy(key).agg(
          collectMembers(when(col("is_new"), col("doc_id")), cap).as("new_ids"),
          collectMembers(when(!col("is_new"), col("doc_id")), cap).as("old_ids"))
          .filter(size(col("new_ids")) >= 1 &&
            size(col("new_ids")) + size(col("old_ids")) <= c)
        expandTails(lists.select(col("new_ids"), col("old_ids")),
          col("new_ids"), pos => concat(newTail(pos), tag(col("old_ids"), false)))
      case None =>
        val lists = tagged.filter(col("is_new")).groupBy(key.as("_k"))
          .agg(collect_list(col("doc_id")).as("new_ids"))
        expandTails(lists, col("new_ids"), newTail)
          .unionByName(tagged.filter(!col("is_new"))
            .select(key.as("_k"), col("doc_id").as("o"))
            .join(lists, "_k")
            .select(explode(col("new_ids")).as("x"),
              struct(col("o").as("id"), lit(false).as("is_new")).as("y")))
    }
    val (x, y, yNew) = (col("x"), col("y.id"), col("y.is_new"))
    pairs
      .select(when(yNew, least(x, y)).otherwise(x).as("new_id"),
        when(yNew, greatest(x, y)).otherwise(y).as("match_id"),
        yNew.as("match_is_new"))
      .filter(col("new_id") =!= col("match_id"))
      .distinct()
  }

  /** Incremental cross-corpus near-dup: new-batch docs vs an EXISTING
    * corpus — the ingest-time shape, where re-pairing the old corpus
    * with itself every batch would be O(corpus) per ingest. Candidates
    * pair a NEW doc with any doc (old or new) sharing a rare shingle;
    * old×old pairs are never generated — the old side contributes only
    * its inverted index, which production would keep precomputed and
    * bucketed by shingle hash so each batch touches index shards, not
    * the corpus (this in-memory form rebuilds that index per call —
    * candidate COUNT is batch-bounded, index build is corpus-sized
    * until the index is persisted). Jaccard-verified exactly like
    * [[ngramJaccardPairs]].
    *
    * Precondition: doc ids are globally unique ACROSS both sides — a
    * re-ingested doc must carry a new id. An id present on both sides
    * is never compared against its other version (a ≠ b on ids) and
    * would attach both versions' shingle arrays at verification.
    *
    * @return (new_id, match_id, inter, union_sz, match_is_new) —
    *         match_is_new distinguishes new×new dup pairs (emitted
    *         once, smaller id as new_id) from new×old matches.
    */
  def incrementalNearDupPairs(
      oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
      textCol: String, n: Int = 5, num: Int = 7, den: Int = 10,
      maxDocFreq: Int = 20,
      norm: Column => Column = normText): DataFrame = {
    val shOld = shingleDocs(oldDocs, idCol, textCol, n, norm)
      .select(col("doc_id"), col("shingles"), lit(false).as("is_new"))
    val shNew = shingleDocs(newDocs, idCol, textCol, n, norm)
      .select(col("doc_id"), col("shingles"), lit(true).as("is_new"))
    val sh = shOld.unionByName(shNew).persist()
    incrementalCandidates(
      sh.select(col("doc_id"), col("is_new"),
        explode(transform(col("shingles"), s => hash60(s))).as("s")),
      col("s"), Some(maxDocFreq))
      .join(sh.select(col("doc_id").as("new_id"), col("shingles").as("sha")),
        "new_id")
      .join(sh.select(col("doc_id").as("match_id"), col("shingles").as("shb")),
        "match_id")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("union_sz",
        size(col("sha")) + size(col("shb")) - col("inter"))
      .filter(col("inter") * den >= col("union_sz") * num)
      .select(col("new_id"), col("match_id"), col("inter"),
        col("union_sz"), col("match_is_new"))
  }

  /** Chunk-level boilerplate removal (the line/paragraph dedup of
    * RefinedWeb-style pipelines, on token windows since the corpus
    * format has no line structure): cut each doc's normalized tokens
    * into consecutive `w`-token chunks, count each distinct chunk's
    * document frequency across the corpus, drop chunks appearing in
    * more than `maxDf` docs, and reassemble the survivors in original
    * order.
    *
    * Plan shape: one explode + one groupBy(chunk) for the df count
    * (shuffle on uniform text keys), a broadcast-ready boilerplate set
    * (only chunks OVER the cap — tiny by construction), and a
    * groupBy(doc) reassembly. Nothing is quadratic: cost is
    * O(total_chunks) end to end at any corpus size.
    *
    * @return (doc_id, n_chunks, n_removed, tokens_kept,
    *   kept_text_hash) — kept_text_hash is md5 of the space-joined
    *   surviving chunks, so a doc with nothing removed hashes to
    *   md5(normText(text)): reassembly is verifiable, not just counted.
    */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 5, maxDf: Int = 3,
      norm: Column => Column = normText): DataFrame = {
    require(w > 0, s"chunkDedup chunk width must be positive, got $w")
    require(maxDf >= 1, s"chunkDedup maxDf must be >= 1, got $maxDf")
    val t = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("doc_id"),
        tokens(norm(col(textCol))).as("toks"))
    val chunks = t
      .select(col("doc_id"), posexplode(
        transform(
          sequence(lit(0),
            greatest(ceil(size(col("toks")).cast("double") / w).cast("int")
              - 1, lit(0))),
          i => array_join(slice(col("toks"), i * w + 1, lit(w)), " "))))
      .toDF("doc_id", "pos", "chunk")
    // no broadcast hint: the over-cap set is usually tiny (AQE picks
    // broadcast at runtime), but its true size scales with corpus
    // boilerplate diversity — a forced broadcast would be a 100 TB
    // failure mode where graceful SMJ degradation is available.
    val boiler = chunks.groupBy(col("chunk"))
      .agg(count_distinct(col("doc_id")).as("chunk_df"))
      .filter(col("chunk_df") > maxDf)
      .select(col("chunk"), lit(true).as("boiler"))
    chunks.join(boiler, Seq("chunk"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("boiler"), 1)).as("n_removed"),
        coalesce(sum(when(col("boiler").isNull,
            when(length(col("chunk")) === 0, 0)
              .otherwise(size(split(col("chunk"), " "))))), lit(0))
          .cast("long").as("tokens_kept"),
        md5(array_join(
          transform(
            array_sort(collect_list(
              when(col("boiler").isNull, struct(col("pos"), col("chunk"))))),
            s => s.getField("chunk")),
          " ")).as("kept_text_hash"))
  }

  /** Sequence-level (variable-length) repeated-substring removal — the
    * suffix-array dedup of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better" (2022), re-expressed in the shape a
    * distributed engine can afford: a true suffix array is a global
    * sorted structure, but every repeated substring of length ≥ w is
    * exactly a maximal run of overlapping repeated w-grams, so fixed-w
    * SEED detection + per-doc run merging recovers the variable-length
    * spans without any global ordering. (Repeats shorter than `w` are
    * deliberately below the threshold — the paper thresholds at 50
    * tokens for the same reason: short repeats are natural language,
    * long ones are boilerplate/duplication.)
    *
    * A w-gram is a SEED when it occurs ≥ `minCount` times in the whole
    * corpus — total occurrences, not distinct docs, so a doc's internal
    * self-repetition is found too, exactly as a suffix array would.
    * Per doc, seed positions p cover tokens [p, p+w-1]; overlapping or
    * adjacent coverages (p' − p ≤ w) merge into maximal runs.
    *
    * Plan shape: one explode + one groupBy on the 8-byte gram hash
    * (hash60 — collision semantics shared with the oracle, same
    * convention as the shingle index), a semi-join back to seed
    * positions, a per-doc window over seed positions (state bounded by
    * seeds per doc, not corpus), and one doc-keyed join to reassemble.
    * Everything is O(total_tokens); nothing is pairwise.
    *
    * @return (doc_id, n_tokens, covered_tokens, n_runs, max_run_len,
    *   kept_text_hash) — kept_text_hash is md5 of the space-joined
    *   surviving tokens (reassembly verified, not just counted; a doc
    *   with nothing removed hashes to md5(normText(text))).
    */
  def repeatedSpanDedup(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 10, minCount: Int = 2,
      norm: Column => Column = normText): DataFrame = {
    require(w > 0, s"repeatedSpanDedup span width must be positive, got $w")
    require(minCount >= 2,
      s"repeatedSpanDedup minCount must be >= 2 (1 covers everything), got $minCount")
    import org.apache.spark.sql.expressions.Window
    val t = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("doc_id"),
        tokens(norm(col(textCol))).as("toks"))
      // reused by the gram scan AND the final reassembly join — one
      // tokenizer pass instead of two (Bench/Verify clear cache per
      // query; long-lived callers own the lifecycle, the convention
      // documented on every pair operator)
      .persist()
    val grams = t.filter(size(col("toks")) >= w)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("toks")) - w),
        i => hash60(array_join(slice(col("toks"), i + 1, lit(w)), " ")))))
      .toDF("doc_id", "pos", "s")
    val dup = grams.groupBy(col("s")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount).select(col("s"))
    val seeds = grams.join(dup, Seq("s"), "left_semi")
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = seeds
      .withColumn("_prev", lag(col("pos"), 1).over(win))
      // coverage gap iff pos > prev + w (pos = prev + w is ADJACENT
      // coverage — one continuous repeated region, merged)
      .withColumn("_new", when(col("_prev").isNull
        || col("pos") - col("_prev") > w, 1).otherwise(0))
      .withColumn("run_id", sum(col("_new")).over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("run_id"))
      .agg(min(col("pos")).as("rs"), (max(col("pos")) + w - 1).as("re"))
    val perDoc = runs.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("rs"), col("re"))).as("runs"),
        count(lit(1)).as("n_runs"),
        sum(col("re") - col("rs") + 1).cast("long").as("covered_tokens"),
        max(col("re") - col("rs") + 1).as("max_run_len"))
    t.join(perDoc, Seq("doc_id"), "left")
      .withColumn("_runs",
        coalesce(col("runs"), expr("CAST(array() AS array<struct<rs:int,re:int>>)")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("max_run_len"), lit(0)).as("max_run_len"),
        // sequence(0, size-1) counts DOWN for an empty array (phantom
        // negative indices) — the empty doc takes the literal branch.
        // coalesce: a NULL text yields NULL toks (size NULL under
        // ANSI), whose when(NULL === 0) would fall through to the
        // otherwise branch and propagate NULL through md5 — while the
        // oracle's md5(COALESCE(kept, '')) says md5('') — so the empty
        // and null docs must BOTH take the literal branch
        md5(when(coalesce(size(col("toks")), lit(0)) === 0, lit(""))
          .otherwise(array_join(expr(
            "filter(transform(sequence(0, size(toks) - 1), " +
              "i -> IF(exists(_runs, r -> i >= r.rs AND i <= r.re), " +
              "CAST(NULL AS STRING), element_at(toks, i + 1))), " +
              "x -> x IS NOT NULL)"), " "))).as("kept_text_hash"))
  }

  /** MinHash signatures: (doc_id, shingles, sig[k]). The md5 shingle
    * hashes materialize once in their own projection; the k permutations
    * are long arithmetic over that array. */
  def minhashSignatures(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, norm: Column => Column = normText): DataFrame =
    // zero-shingle docs (empty/whitespace/punctuation-only) must not
    // get a signature: array_min over nothing is a NULL element whose
    // band keys hash identically, pairing every empty doc with every
    // other and trivially passing exact verify at inter=0/union=0.
    // They surface as a NULL sig — guarded on size(hashes), an already-
    // materialized ATTRIBUTE, so the guard costs one int compare —
    // rather than any filter: a filter above the projection gets
    // predicate-pushed below it with the WHOLE tokenize+shingle
    // pipeline substituted into its condition (measured 16× on p03 at
    // sf0.1), and r5's pre-shingling normText filter still re-ran the
    // normalize regexes once per doc beside the projection's own
    // (measured 1.8×). Pair consumers drop NULL sigs from the CACHED
    // frame (see minhashLshPairs), where no recompute is possible; the
    // oracle mirrors with WHERE len(shingles) > 0 — the same doc set.
    shingleDocs(docs, idCol, textCol, n, norm)
      .select(col("doc_id"), col("shingles"),
        transform(col("shingles"), s => hash32(s)).as("hashes"))
      .select(col("doc_id"), col("shingles"),
        when(size(col("hashes")) > 0,
          minhashSignature(col("hashes"), minhashParams(k))).as("sig"))

  /** MinHash+LSH near-dup pairs, exact-verified.
    *
    * Plan shape: signature (narrow) → explode band keys → the uncapped
    * [[cappedPairs]] stage on the (band, key) struct (one groupBy, then
    * the distinct) → join back to shingle arrays → exact Jaccard ≥
    * num/den in integer arithmetic. Only candidates ever pair up — at
    * 100 TB the band groupBy is the sole wide candidate stage and its
    * key space is uniform md5 output.
    */
  def minhashLshPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 5, k: Int = 32, bands: Int = 8,
      num: Int = 7, den: Int = 10,
      norm: Column => Column = normText): DataFrame = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    // persisted: sigs feeds the band keys AND the verify-stage shingle
    // lookups.
    val sigs = minhashSignatures(docs, idCol, textCol, n, k, norm).persist()
    // zero-shingle docs (NULL sig) drop HERE, above the persist
    // boundary: the predicate reads the cached sig column through the
    // InMemoryRelation, so unlike a filter below the cache it can never
    // be rewritten into a re-evaluation of the text pipeline.
    val cand = cappedPairs(sigs.filter(col("sig").isNotNull)
        .select(col("doc_id"),
          explode(lshBandKeys(col("sig"), k, bands)).as("bk")),
      col("bk"), col("doc_id"), None)
    val sh = sigs.select(col("doc_id"), col("shingles"))
    cand
      .join(sh.select(col("doc_id").as("ida"), col("shingles").as("sha")), "ida")
      .join(sh.select(col("doc_id").as("idb"), col("shingles").as("shb")), "idb")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("union_sz", size(col("sha")) + size(col("shb")) - col("inter"))
      .filter(col("inter") * den >= col("union_sz") * num)
      .select(col("ida"), col("idb"), col("inter"), col("union_sz"))
  }

  /** SimHash fingerprints: (doc_id, simhash), 60-bit. Staged like
    * shingleDocs: repartition for parallelism, tokens then token-hashes
    * as their own projections (the 60 bit-probes reference the hash
    * array 120×). */
  def simhashDocs(docs: DataFrame, idCol: String, textCol: String,
      norm: Column => Column = normText): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("doc_id"),
        tokens(norm(col(textCol))).as("toks"))
      .select(col("doc_id"), transform(col("toks"), t => hash60(t)).as("th"))
      .select(col("doc_id"), simhash60(col("th")).as("simhash"))

  /** SimHash near-dup pairs: block on identical 15-bit fingerprint
    * blocks (any of the 4 blocks equal → candidate, the standard
    * Hamming-block trick: distance ≤ 3 ⇒ at least one of 4 blocks
    * identical), then verify Hamming ≤ maxDist. 15-bit keys over the
    * 60-bit fingerprint keep block buckets ~128× smaller than the old
    * 8-bit/32-bit scheme — the candidate count that matters at corpus
    * scale. Blocks go through the uncapped [[cappedPairs]] stage with
    * (doc_id, simhash) as the member, so verification needs no join
    * back. */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3, norm: Column => Column = normText): DataFrame = {
    val fp = simhashDocs(docs, idCol, textCol, norm)
    cappedPairs(fp.select(struct(col("doc_id"), col("simhash")).as("m"),
        explode(array((0 until 4).map { blk =>
          struct(lit(blk).as("blk"),
            shiftright(col("simhash"), blk * 15).bitwiseAND(32767).as("key"))
        }: _*)).as("bk")),
      col("bk"), col("m"), None)
      .select(col("ida.doc_id").as("ida"), col("idb.doc_id").as("idb"),
        hamming(col("ida.simhash"), col("idb.simhash")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Embedding near-dup pairs: cosine similarity > threshold over all
    * pairs (exact, brute force — the verification half; LSH bucketing in
    * Similarity.scala is the candidate-generation half at scale).
    * Accumulates in double, sequentially by element index, matching the
    * oracle's list_reduce order bit-for-bit. */
  def embeddingNearDupPairs(
      embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val par = embs.sparkSession.sparkContext.defaultParallelism
    // zero-norm vectors excluded — cosine undefined, ANSI would raise
    // (same rule as Similarity.withNorm)
    val v = embs.select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
      .filter(col("nrm") > 0)
    // norms precompute per vector (not per pair); broadcast one side,
    // repartition the stream side for core parallelism.
    val a = v.repartition(par, col("vec_id"))
      .select(col("vec_id").as("ida"), col("v").as("va"), col("nrm").as("na"))
    val b = v.select(col("vec_id").as("idb"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(broadcast(b), col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        (Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") > threshold)
      .select(col("ida"), col("idb"))
  }

  /** Near-dup survivorship: given cluster labels over the dup graph
    * (e.g. [[graft.operators.Clusters.connectedComponents]] output —
    * docs absent from `clusters` are singletons), pick ONE canonical
    * keeper per family — max `rankCol`, min-id tie-break — and map
    * every doc to it. This is the step that turns pairwise dedup into
    * an actual corpus cut: downstream keeps `is_kept`, and the
    * doc→kept_id map is what provenance/attribution joins against.
    *
    * Scale: one left join docs⟕clusters on the id key (the cluster
    * frame is |dup docs| rows — far smaller than the corpus) and one
    * window partitioned by cluster_id — families are near-dup sets,
    * inherently small, so the window never sees a mega-partition.
    *
    * @return (doc_id, cluster_id, kept_id, is_kept) — one row per doc.
    */
  def canonicalKeep(docs: DataFrame, idCol: String, rankCol: String,
      clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labeled = docs.select(col(idCol).as("doc_id"),
        col(rankCol).as("_rank_val"))
      .join(clusters.select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("_rank_val").desc, col("doc_id"))
    labeled
      .withColumn("kept_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("cluster_id"), col("kept_id"),
        (col("doc_id") === col("kept_id")).as("is_kept"))
  }

  /** Near-dup pairs over 64-bit perceptual/locality hashes (image
    * dHash — [[Multimodal.imageDHashes]] — audio fingerprints, or any
    * single-long sketch): band the hash into `bands` equal bit
    * windows, pair hashes sharing any (band, key), then verify
    * the TRUE Hamming distance — the single-long sibling of
    * [[simhashPairs]]' multi-band scheme.
    *
    * Recall contract (pigeonhole): a pair with hamming < `bands` has
    * fewer differing bits than bands, so at least one band matches —
    * recall is EXACTLY 1 for `maxHamming <= bands - 1`. Beyond that
    * the banding is a candidate generator like every LSH (a pair can
    * spread its differing bits across all bands); raise `bands` to
    * chase recall at the cost of candidate volume.
    *
    * Scale shape: one groupBy on (band, key) — the same O(n·bands)
    * candidate structure as MinHash banding; verification is a pure
    * xor+popcount on the pair. A key shared by m hashes yields
    * O(m²) candidates: near-identical media clusters are REAL
    * duplicates (the thing being hunted), but an adversarial constant
    * key (e.g. all-black thumbnails hashing to 0) is the same
    * degenerate-key skew stop-shingles cause — cap it with
    * `maxKeyFreq`, the df-cap rule of [[cappedPairs]].
    *
    * Recall honesty under the cap: dropping a (band, key) group drops
    * ONLY the candidates whose every matching band is over-cap — a
    * pair within pigeonhole distance that also shares one sub-cap
    * band still surfaces. A genuinely huge exact-duplicate cluster
    * (every band over cap) should be routed through exact dedup on
    * the full hash first; the cap is the adversarial-input guard, not
    * the dedup path for it.
    *
    * @param maxKeyFreq when > 0, the [[cappedPairs]] cap: a (band, key)
    *   group with more than this many members is dropped, one of
    *   exactly this many is kept (the shingle df-cap's rule, bounded
    *   O(cap) state per key); 0 = no cap
    * @return (ida, idb, hamming) with ida < idb, hamming <= maxHamming
    */
  def hammingNearDupPairs(hashes: DataFrame, idCol: String,
      hashCol: String, maxHamming: Int, bands: Int = 4,
      maxKeyFreq: Long = 0L): DataFrame = {
    require(bands >= 1 && bands <= 64 && 64 % bands == 0,
      s"hammingNearDupPairs: bands must divide 64, got $bands")
    require(maxHamming >= 0 && maxHamming < 64,
      s"hammingNearDupPairs: maxHamming in [0, 64), got $maxHamming")
    val w = 64 / bands
    val mask = if (w == 64) -1L else (1L << w) - 1
    val keyed = hashes
      .select(col(idCol).as("id"), col(hashCol).cast("long").as("h"))
      .select(struct(col("id"), col("h")).as("m"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("h"), b * w).bitwiseAND(lit(mask))
              .as("key"))
        }: _*)).as("bk"))
    // a cap at or above Int.MaxValue bounds nothing an array can hold
    val cap = Some(maxKeyFreq).filter(f => f > 0L && f < Int.MaxValue)
      .map(_.toInt)
    cappedPairs(keyed, col("bk"), col("m"), cap)
      .select(col("ida.id").as("ida"), col("idb.id").as("idb"),
        hamming(col("ida.h"), col("idb.h")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
