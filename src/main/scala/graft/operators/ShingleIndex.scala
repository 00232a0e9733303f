package graft.operators

import graft.functions.TextFns._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions._

/** Persisted, bucketed shingle index — the storage half of
  * [[Dedup.incrementalNearDupPairs]], which (honestly documented there)
  * re-shingles and re-hashes the ENTIRE old corpus on every ingest
  * batch when given raw text. A production ingest pipeline builds this
  * index once, appends each batch, and pays per-ingest costs that are
  * batch-bounded everywhere except one columnar scan of the stored
  * 8-byte key column:
  *
  *   - `{name}_idx` (s = hash60(shingle), doc_id) — UNCAPPED inverted
  *     index, PARTITIONED by `p = pmod(s, parts)` and bucketed + sorted
  *     by `s`: the df count and every candidate join over `s` are
  *     exchange-free on the stored side, and appends are plain bucketed
  *     inserts (no rewrite). The df cap is applied at QUERY time from
  *     the stored counts — that is what makes the table append-only: a
  *     capped-at-write index would have to delete rows whose shingle
  *     crosses the cap in a later batch.
  *
  *     The partition column exists for FILE pruning: [[incrementalPairs]]
  *     collects the batch's (≤ `parts`) distinct `p` values — a tiny,
  *     batch-bounded job — and applies them as a static partition
  *     filter, so the stored scan touches only directories that can
  *     hold a batch shingle. Honest scope: `s` is a uniform hash, so a
  *     batch with k distinct shingles hits ~parts·(1−e^(−k/parts))
  *     partitions — pruning is decisive for SMALL probes (streaming
  *     ingest, single-document checks: k ≲ parts) and degrades smoothly
  *     to a full scan for bulk batches, where the filter is skipped
  *     entirely (all partitions present ⇒ no isin evaluated per row).
  *     The semi-join still narrows ROWS in every case; `p` narrows
  *     FILES in the small-probe case that dominates per-ingest latency.
  *   - `{name}_sh` (doc_id, shingles) — the full string shingle arrays
  *     for exact verification, bucketed by doc_id so the (few,
  *     candidate-bounded) verify lookups join without shuffling the
  *     corpus.
  *   - `{name}_meta` (n, buckets) — the shingle width is baked into the
  *     stored arrays; append/query calls verify it instead of silently
  *     mixing widths.
  *
  * Semantics contract: [[incrementalPairs]] returns EXACTLY the rows of
  * `Dedup.incrementalNearDupPairs(oldDocs, newDocs, …)` for the corpus
  * the index holds — same candidates (df computed over old+new, cap
  * applied to the combined count, old×old never paired), same exact
  * Jaccard verification on the full arrays. DedupIndexSpec pins the
  * equality; p30 remains the oracle gate for the semantics. Doc ids may
  * be of any type: the store keeps the type it was built with, and
  * every appended or probed batch must use the same one.
  *
  * Scale: per-ingest work is one scan of `{name}_idx`'s key column
  * (columnar, exchange-free groupBy on the bucket key, no text touched)
  * + everything else bounded by the batch: the batch's own shingling,
  * the batch-keyed semi-join that selects relevant index shards, the
  * candidate join, and verify joins that attach only candidate docs'
  * arrays. Compare: the raw-text path re-runs normalize/tokenize/md5
  * over the whole corpus per batch — the difference is roughly the
  * corpus' text bytes vs 16 bytes per stored posting.
  */
object ShingleIndex extends BatchTable.Store {

  protected val batchSuffixes = Seq("_idx", "_sh")

  /** Create (overwrite) the index tables for `docs`.
    *
    * Both data tables carry a `batch_id` PARTITION column (build writes
    * everything as the base batch; [[append]] stamps its caller's id) —
    * the [[BatchTable]] lifecycle. It exists for crash repair, not for
    * queries: every read path drops it; the extra directory level per
    * ingest batch is the same file-growth trajectory the per-batch
    * bucketed appends already had.
    *
    * @param parts partition-directory count for `{name}_idx` (the file-
    *   pruning granularity). The posting write repartitions by `p` so
    *   file count stays ~parts·buckets (each task holds ~1 partition
    *   value), not tasks·parts·buckets.
    * @param norm pluggable canonicalizer; the SAME normalizer must be
    *   used for build, every append, and every incrementalPairs probe
    *   (shingle hashes define the match space — mixing normalizers
    *   splits one text into unjoinable spellings). ASCII default;
    *   [[graft.functions.TextFns.unicodeNormalizer]] for multilingual
    *   corpora. */
  def build(docs: DataFrame, idCol: String, textCol: String, name: String,
      n: Int = 5, buckets: Int = 32, parts: Int = 64,
      norm: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        graft.functions.TextFns.normText): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    dropStore(spark, name)
    // persisted across the two writes: without it the whole corpus
    // normalize/tokenize/shingle scan runs twice — once per table
    val sh = Dedup.shingleDocs(docs, idCol, textCol, n, norm).persist()
    try {
      BatchTable.writeBase(postings(sh, parts), s"${name}_idx",
        Some(BucketSpec(buckets, Seq("s"), Seq("s"))), partitionBy = Seq("p"))
      BatchTable.writeBase(sh, s"${name}_sh",
        Some(BucketSpec(buckets, Seq("doc_id"), Nil)))
      Seq((n, buckets, parts, BatchTable.normFp(norm)))
        .toDF("n", "buckets", "parts", "norm_fp")
        .write.mode("overwrite").saveAsTable(s"${name}_meta")
    } finally sh.unpersist(blocking = false)
  }

  /** (doc_id, s, p) postings, clustered by `p` so each write task emits
    * ~1 partition directory per batch. */
  private def postings(sh: DataFrame, parts: Int): DataFrame =
    sh.select(col("doc_id"), explode(transform(col("shingles"),
        s => hash60(s))).as("s"))
      .withColumn("p", pmod(col("s"), lit(parts.toLong)))
      .repartition(parts, col("p"))

  /** Append a batch to the index (plain bucketed inserts — the cap is
    * query-time, so no stored row ever needs rewriting). Call AFTER
    * running [[incrementalPairs]] for the batch, or its docs pair with
    * themselves twice. Ids must stay globally unique across all
    * batches (same precondition as the in-memory operator).
    *
    * @param batchId stamps the written partitions so a crash between
    *   this append and the caller's commit record can be undone by
    *   [[pruneBatch]] on replay. The default merges into the base
    *   corpus — fine for one-shot batch ingest where the caller has no
    *   replay, but a manifest-guarded stream MUST pass its real batch id
    *   or replay repair has nothing to prune. */
  def append(docs: DataFrame, idCol: String, textCol: String,
      name: String, batchId: Long = BatchTable.BaseBatch,
      norm: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        graft.functions.TextFns.normText): Unit = {
    val m = BatchTable.checkedMeta(docs.sparkSession, name, norm)
    val (n, parts) = (m.getInt(0), m.getInt(2))
    // persisted for the same two-writes reason as in build
    val sh = Dedup.shingleDocs(docs, idCol, textCol, n, norm).persist()
    try {
      BatchTable.append(postings(sh, parts), s"${name}_idx", batchId)
      BatchTable.append(sh, s"${name}_sh", batchId)
    } finally sh.unpersist(blocking = false)
  }

  /** Compaction re-clusters the postings by `p`, as build writes them. */
  override protected def fold(spark: SparkSession, name: String,
      table: String, rows: DataFrame): DataFrame =
    if (table == s"${name}_idx")
      rows.repartition(spark.table(s"${name}_meta").head().getAs[Int]("parts"), col("p"))
    else rows

  /** New-batch near-dup pairs against the indexed corpus — row-for-row
    * the result of `Dedup.incrementalNearDupPairs(corpus, newDocs, …)`
    * without touching the corpus text. See the object scaladoc for the
    * per-stage cost story.
    *
    * @return (new_id, match_id, inter, union_sz, match_is_new) */
  def incrementalPairs(newDocs: DataFrame, idCol: String, textCol: String,
      name: String, num: Int = 7, den: Int = 10,
      maxDocFreq: Int = 20,
      norm: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        graft.functions.TextFns.normText): DataFrame = {
    val spark = newDocs.sparkSession
    // the fused candidate stage collects batch and stored ids into one
    // caplist pair per shingle and joins them back to both sides' arrays:
    // any id type works, but all three must agree — check here, before
    // any job, naming every type involved
    val idTypes = (s"batch $idCol" ->
      newDocs.select(col(idCol)).schema.head.dataType) +:
      Seq("idx", "sh").map(t => s"${name}_$t.doc_id" ->
        spark.table(s"${name}_$t").schema("doc_id").dataType)
    require(idTypes.map(_._2).distinct.size == 1,
      "ShingleIndex.incrementalPairs requires the batch and the stored " +
        "tables to share one doc id type, got " +
        idTypes.map { case (w, t) => s"$w: ${t.simpleString}" }
          .mkString(", ") +
        "; cast the batch ids upstream (or rebuild the store over them)")
    val m = BatchTable.checkedMeta(spark, name, norm)
    val (n, parts) = (m.getInt(0), m.getInt(2))
    val shNew = Dedup.shingleDocs(newDocs, idCol, textCol, n, norm).persist()
    val newInv = shNew.select(col("doc_id"),
      explode(transform(col("shingles"), s => hash60(s))).as("s"))
    // FILE pruning: the batch can only match postings whose partition
    // value pmod(s, parts) appears in the batch — collect those (≤ parts
    // longs, a batch-bounded job that doubles as shNew's cache warm) and
    // push them as a STATIC partition filter, so small probes read only
    // the directories that can hold a batch shingle. When the batch
    // covers every partition (bulk ingest — uniform hash, so k distinct
    // shingles hit ~parts·(1−e^(−k/parts)) dirs) the filter is dropped:
    // an always-true isin would cost a per-row check and prune nothing.
    val batchP = newInv
      .select(pmod(col("s"), lit(parts.toLong)).as("p"))
      .distinct().collect().map(_.getLong(0))
    val idx0 = spark.table(s"${name}_idx")
    val idx = (if (batchP.length < parts)
      idx0.filter(col("p").isin(batchP: _*)) else idx0)
      .drop("p", "batch_id")
    // ONLY batch-relevant postings ever matter — for candidates AND for
    // the cap check (an old-only over-cap shingle can't produce a
    // candidate: the probe side is batch-only). One semi-join keys the
    // stored scan to the batch; everything downstream runs over this
    // batch-bounded slice.
    val idxRel = idx.join(newInv.select(col("s")).distinct(),
        Seq("s"), "left_semi")
    // fused candidate stage (Dedup.incrementalCandidates): ONE
    // groupBy(s) with two bounded caplists replaces the previous
    // df_old/df_new aggregates, the over-cap join, two persists, a
    // second semi-join, the union, and the candidate self-join; the
    // combined size(new)+size(old) <= cap drop is exactly the old
    // (df_old + df_new) > maxDocFreq rule, so the candidate set — and
    // the store ≡ in-memory equality DedupIndexSpec pins — is
    // unchanged. idxRel now has a single consumer, so its pin is gone
    // too.
    val cand = Dedup.incrementalCandidates(
      newInv.select(col("s"), col("doc_id"), lit(true).as("is_new"))
        .unionByName(idxRel.select(col("s"), col("doc_id"),
          lit(false).as("is_new"))),
      col("s"), Some(maxDocFreq))
    // exact verify: match-side arrays come from the batch for new×new
    // and from the bucketed store for new×old — candidate-bounded reads
    val shOldStore = spark.table(s"${name}_sh")
    val matchSh = cand.filter(col("match_is_new"))
      .join(shNew.select(col("doc_id").as("match_id"),
        col("shingles").as("shb")), "match_id")
      .unionByName(cand.filter(!col("match_is_new"))
        .join(shOldStore.select(col("doc_id").as("match_id"),
          col("shingles").as("shb")), "match_id"))
    matchSh
      .join(shNew.select(col("doc_id").as("new_id"),
        col("shingles").as("sha")), "new_id")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("union_sz",
        size(col("sha")) + size(col("shb")) - col("inter"))
      .filter(col("inter") * den >= col("union_sz") * num)
      .select(col("new_id"), col("match_id"), col("inter"),
        col("union_sz"), col("match_is_new"))
  }
}
