package graft.operators

import graft.functions.TextFns._
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * equality; p30 remains the oracle gate for the semantics.
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
object ShingleIndex {

  /** Create (overwrite) the index tables for `docs`.
    *
    * Both data tables carry a `batch_id` PARTITION column (build writes
    * everything as batch -1, the base corpus; [[append]] stamps its
    * caller's id). It exists for crash repair, not for queries: undoing
    * a half-committed append ([[pruneBatch]]) is then partition-
    * directory surgery instead of a table rewrite. Every read path
    * drops it; the extra directory level per ingest batch is the same
    * file-growth trajectory the per-batch bucketed appends already had.
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
    // the ledger and the store's own (group-of-one) manifest go too: a
    // rebuilt index starts a NEW batch-id history, and a stale commit
    // row would make a fresh stream silently skip ids it believes
    // committed (data loss) or compactIndex fold a torn new batch it
    // believes committed (permanent half-write)
    Seq(s"${name}_idx", s"${name}_sh", s"${name}_meta", s"${name}_batches",
      s"${name}_manifest").foreach(dropTable(spark, _))
    // persisted across the two writes: without it the whole corpus
    // normalize/tokenize/shingle scan runs twice — once per table
    val sh = Dedup.shingleDocs(docs, idCol, textCol, n, norm).persist()
    try {
      postings(sh, parts, BaseBatch)
        .write.partitionBy("p", "batch_id").bucketBy(buckets, "s").sortBy("s")
        .mode("overwrite").saveAsTable(s"${name}_idx")
      sh.withColumn("batch_id", lit(BaseBatch))
        .write.partitionBy("batch_id").bucketBy(buckets, "doc_id")
        .mode("overwrite").saveAsTable(s"${name}_sh")
      Seq((n, buckets, parts, normFp(norm)))
        .toDF("n", "buckets", "parts", "norm_fp")
        .write.mode("overwrite").saveAsTable(s"${name}_meta")
    } finally sh.unpersist(blocking = false)
  }

  /** The batch id [[build]] (and id-less [[append]] calls) write under:
    * base-corpus rows, never prunable. */
  val BaseBatch: Long = -1L

  /** DROP TABLE plus stale-directory cleanup: an in-memory catalog
    * forgets tables across JVMs while their warehouse directories
    * persist, and a leftover directory fails the next saveAsTable with
    * LOCATION_ALREADY_EXISTS. When the table IS in the catalog, the
    * data location is resolved from its metadata — a table created with
    * a custom LOCATION (or living in a non-default database) does not
    * sit at `<warehouse>/<name>`, and deleting the convention path
    * would orphan its real data while killing an unrelated same-named
    * directory. The warehouse-path convention applies only to the
    * catalog-forgot-it case, where the convention is all that's left.
    * Goes through the Hadoop FileSystem of the resolved path, so any
    * scheme (file/hdfs/s3a) works. Only graft-owned table names (this
    * object, [[IvfIndex]], the p41 query fingerprint) are ever passed
    * here. */
  private[graft] def dropTable(spark: SparkSession, table: String): Unit = {
    val loc: java.net.URI =
      if (spark.catalog.tableExists(table))
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table)).location
      else new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase).toUri
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val path = new org.apache.hadoop.fs.Path(loc)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  /** (doc_id, s, p, batch_id) postings in table-column order (partition
    * cols last), clustered by `p` so each write task emits ~1 partition
    * directory per batch. */
  private def postings(sh: DataFrame, parts: Int, batchId: Long): DataFrame =
    sh.select(col("doc_id"), explode(transform(col("shingles"),
        s => hash60(s))).as("s"))
      .withColumn("p", pmod(col("s"), lit(parts.toLong)))
      .withColumn("batch_id", lit(batchId))
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
    *   corpus (batch -1) — fine for one-shot batch ingest where the
    *   caller has no replay, but a ledger-guarded stream MUST pass its
    *   real batch id or replay repair has nothing to prune. */
  def append(docs: DataFrame, idCol: String, textCol: String,
      name: String, batchId: Long = BaseBatch,
      norm: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        graft.functions.TextFns.normText): Unit = {
    val (n, _, parts) = meta(docs.sparkSession, name)
    checkNormFp(docs.sparkSession, name, norm)
    // persisted for the same two-writes reason as in build
    val sh = Dedup.shingleDocs(docs, idCol, textCol, n, norm).persist()
    try {
      insertByName(postings(sh, parts, batchId), s"${name}_idx")
      insertByName(sh.withColumn("batch_id", lit(batchId)), s"${name}_sh")
    } finally sh.unpersist(blocking = false)
  }

  /** Fold ingest-batch partitions back into the base corpus
    * (`batch_id = -1`) — the maintenance pass that keeps a long-lived
    * index's directory count bounded. Every append adds one `batch_id`
    * partition level; after thousands of micro-batches the listing cost
    * creeps even though the DATA layout is fine. Compaction rewrites
    * each table with every batch NOT in `uncommitted` re-stamped as
    * base; `uncommitted` batches (appended but never ledger-committed —
    * a crashed stream that has not yet replayed) keep their partitions
    * verbatim so [[pruneBatch]] can still undo them on replay.
    *
    * Crash discipline, stated honestly: the rewrite lands in a
    * `_cmp` table first, then swaps via two catalog renames (current →
    * `_old`, `_cmp` → current) and drops `_old`. No step destroys data
    * before the replacement exists; a crash between the renames leaves
    * the index under the `_old`/`_cmp` names — loud (readers fail on a
    * missing table, nothing silently wrong) and manually recoverable by
    * finishing the renames. A transactional table format would make the
    * swap atomic; plain catalog tables cannot.
    *
    * Caller contract: run only while no writer is active (same
    * single-writer rule as append — [[graft.streaming.Streams]] exposes
    * the ledger-aware driver `compactIndex`), and clear any persisted
    * plans over the index tables first (the same caller-clears-cache
    * convention as the pair operators: a cached plan pins the
    * pre-compact file listing and fails on the swapped files). */
  def compact(spark: SparkSession, name: String,
      uncommitted: Set[Long] = Set.empty): Unit = {
    val (_, buckets, parts) = meta(spark, name)
    compactTable(spark, s"${name}_idx", uncommitted, (df, tmp) =>
      df.repartition(parts, col("p"))
        .write.partitionBy("p", "batch_id").bucketBy(buckets, "s").sortBy("s")
        .mode("overwrite").saveAsTable(tmp))
    compactTable(spark, s"${name}_sh", uncommitted, (df, tmp) =>
      df.write.partitionBy("batch_id").bucketBy(buckets, "doc_id")
        .mode("overwrite").saveAsTable(tmp))
  }

  /** The fold-and-swap core of [[compact]], shared with
    * [[IvfIndex.compact]]: re-stamp every batch NOT in `uncommitted` as
    * base, write the result to a `_cmp` staging table via `write`
    * (which owns the table-specific partition/bucket layout), then swap
    * it in with the two-rename dance and drop the old generation. See
    * [[compact]]'s scaladoc for the crash discipline the swap
    * provides. */
  private[operators] def compactTable(spark: SparkSession, table: String,
      uncommitted: Set[Long], write: (DataFrame, String) => Unit): Unit = {
    val keep = uncommitted - BaseBatch
    val stamp =
      if (keep.isEmpty) lit(BaseBatch)
      else when(col("batch_id").isin(keep.toSeq: _*), col("batch_id"))
        .otherwise(lit(BaseBatch))
    val tmp = s"${table}_cmp"
    val old = s"${table}_old"
    Seq(tmp, old).foreach(dropTable(spark, _))
    write(spark.table(table).withColumn("batch_id", stamp), tmp)
    spark.sql(s"ALTER TABLE $table RENAME TO $old")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    // RENAME moves a managed table's root directory but leaves its
    // catalog PARTITION entries pointing at the pre-rename paths —
    // measured, not theorized: without the recovers, the swapped-in
    // table reads empty, and dropping the old table purges partition
    // dirs by their stale paths INSIDE the live table. Re-register
    // both sides from the filesystem before anything reads or drops.
    spark.sql(s"ALTER TABLE $table RECOVER PARTITIONS")
    spark.sql(s"ALTER TABLE $old RECOVER PARTITIONS")
    spark.sql(s"REFRESH TABLE $table")
    dropTable(spark, old)
  }

  /** Column-name-safe append: `insertInto` matches by POSITION, so a
    * producer whose projection order drifts from the table's would
    * silently scramble the store — reorder to the table's own column
    * list first, making the append structurally immune to upstream
    * reorders (a genuinely missing column still fails, loudly). */
  private[operators] def insertByName(df: DataFrame, table: String): Unit =
    df.select(df.sparkSession.table(table).columns.map(col): _*)
      .write.mode("append").insertInto(table)

  /** Undo every row batch `batchId` wrote to the index — the replay
    * repair for a crash anywhere in the append→commit window (postings
    * written but shingles not, or both written but the caller's ledger
    * row not). Appends land in `batch_id=<id>` partition directories,
    * so undoing one is DROP PARTITION surgery: no rewrite of any other
    * batch's data, idempotent, and a batch that never appended is a
    * no-op. Between the crash and the replay, readers may see the
    * half-committed batch — the guarantee is convergence on restart,
    * not isolation in the gap. */
  def pruneBatch(spark: SparkSession, name: String, batchId: Long): Unit =
    dropBatchPartitions(spark, Seq(s"${name}_idx", s"${name}_sh"), batchId)

  /** The partition-surgery core of [[pruneBatch]], shared with
    * [[IvfIndex.pruneBatch]]: drop every `batch_id = batchId` partition
    * of each table (enumerated via the partial spec, since a table may
    * carry other partition columns too). */
  private[operators] def dropBatchPartitions(spark: SparkSession,
      tables: Seq[String], batchId: Long): Unit = {
    require(batchId != BaseBatch, "the base corpus cannot be pruned")
    tables.foreach { t =>
      val specs = spark.sql(
        s"SHOW PARTITIONS $t PARTITION (batch_id=$batchId)").collect()
      specs.foreach { r =>
        val spec = r.getString(0).split('/').map { kv =>
          val Array(k, v) = kv.split("=", 2)
          s"$k='$v'"
        }.mkString(", ")
        spark.sql(s"ALTER TABLE $t DROP IF EXISTS PARTITION ($spec)")
      }
      // session FileIndex caches can outlive the partition drop
      // (observed after a compact's rename/recover churn): make the
      // removal visible to every later read in this session
      if (specs.nonEmpty) spark.sql(s"REFRESH TABLE $t")
    }
  }

  private def meta(spark: SparkSession, name: String): (Int, Int, Int) = {
    val r = spark.table(s"${name}_meta").head()
    (r.getInt(0), r.getInt(1), r.getInt(2))
  }

  /** Deterministic fingerprint of a text normalizer: the expression
    * tree it builds over a fixed probe column, rendered as a string —
    * zero Spark jobs, so checking it per append/probe costs nothing.
    * Persisted into every text store's `{name}_meta` at build and
    * REQUIRED to match at append/probe time: the "same normalizer for
    * build, every append, every probe" contract is thereby enforced by
    * the store itself, not by scaladoc (a mismatched caller would
    * silently write/query a disjoint hash space). Stores built before
    * the fingerprint existed lack the column and skip the check.
    * (Stability note: the rendered tree is stable for a fixed Spark
    * version; a Spark upgrade that changes expression printing
    * invalidates stored fingerprints LOUDLY — rebuild or re-stamp.) */
  private[operators] def normFp(
      norm: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : String =
    norm(col("__graft_norm_fp__")).toString

  /** Require `{name}_meta`'s stored normalizer fingerprint (if present)
    * to match the caller's normalizer. */
  private[operators] def checkNormFp(spark: SparkSession, name: String,
      norm: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : Unit = {
    val m = spark.table(s"${name}_meta")
    if (m.columns.contains("norm_fp")) {
      val stored = m.head().getAs[String]("norm_fp")
      val got = normFp(norm)
      require(stored == got,
        s"$name: this store was built with a DIFFERENT text normalizer " +
          s"than the caller passed (stored fingerprint:\n  $stored\n" +
          s"caller's:\n  $got\n) — appends/probes under a mismatched " +
          "normalizer write or query a disjoint token/shingle space; " +
          "pass the build-time normalizer, or rebuild the store")
    }
  }

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
    // the fused candidate stage collects BOTH sides' ids via
    // graft_caplist, which takes bigint only — check the batch and the
    // stored tables here, before any job, naming every type involved
    val idTypes = (s"batch $idCol" ->
      newDocs.select(col(idCol)).schema.head.dataType) +:
      Seq("idx", "sh").map(t => s"${name}_$t.doc_id" ->
        spark.table(s"${name}_$t").schema("doc_id").dataType)
    require(idTypes.forall(_._2 == org.apache.spark.sql.types.LongType),
      "ShingleIndex.incrementalPairs requires bigint doc ids (the fused " +
        "candidate stage collects them via graft_caplist), got " +
        idTypes.map { case (w, t) => s"$w: ${t.simpleString}" }
          .mkString(", ") +
        "; cast upstream (and rebuild a store built over other ids) or " +
        "use Dedup.incrementalNearDupPairs' generic-id path")
    val (n, _, parts) = meta(spark, name)
    checkNormFp(spark, name, norm)
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
      maxDocFreq)
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
