package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogTable}
import org.apache.spark.sql.functions._

/** The batch-partitioned table lifecycle every persisted store shares.
  *
  * All seven stores ([[ShingleIndex]], [[IvfIndex]], [[PostingIndex]],
  * [[CmsStore]], [[DsirStore]], [[SampleStore]], [[DriftStore]]) are
  * mergeable summaries: a batch's contribution is its own `batch_id`
  * partition, and every read merges over partitions. So one lifecycle
  * serves them all:
  *
  *   - build writes the base corpus as batch [[BaseBatch]] ([[writeBase]]);
  *   - an ingest batch lands under its own id ([[append]]), so undoing a
  *     crashed attempt is partition surgery ([[dropBatchPartitions]]),
  *     never a rewrite of another batch's data;
  *   - compaction folds committed batches back into the base
  *     ([[compactTable]]), so the directory count stays bounded after
  *     thousands of micro-batches.
  *
  * Which batches are committed is not this module's business: the ingest
  * loops in [[graft.streaming.Streams]] record each batch as one row of
  * `{group}_manifest`, and compaction is driven from there.
  *
  * Layout rule: a bucketed table is written by its buckets; an
  * unbucketed one is a small summary (a counter matrix, a histogram, a
  * quota, report rows) and is written as one file per batch. */
object BatchTable {

  /** The batch id of base-corpus rows: written by build, never prunable. */
  val BaseBatch: Long = -1L

  /** What a store declares about its tables; the lifecycle is inherited.
    * A store named `name` owns `name + suffix` for each suffix. */
  trait Store {
    /** The batch-partitioned tables: what prune drops and compaction
      * folds. */
    protected def batchSuffixes: Seq[String]

    /** Tables build writes once and ingest never stamps (centroids,
      * codebooks, reference histograms). */
    protected def frozenSuffixes: Seq[String] = Nil

    /** The store's rows of one batch table folded before the compaction
      * rewrite: identity where a row is already a final value, a counter
      * sum or quota re-take for the summaries. `rows` carries the
      * re-stamped `batch_id`, so a fold must group by it. */
    protected def fold(spark: SparkSession, name: String, table: String,
        rows: DataFrame): DataFrame = rows

    private[graft] def batchTables(name: String): Seq[String] =
      batchSuffixes.map(name + _)

    /** Drop every table of the store before build: the batch tables, the
      * frozen ones, `{name}_meta` and the store's own (group-of-one)
      * `{name}_manifest`. A rebuilt store starts a new batch-id history,
      * and a stale commit row would make a fresh stream skip ids it
      * believes committed. */
    protected def dropStore(spark: SparkSession, name: String): Unit =
      (batchSuffixes ++ frozenSuffixes ++ Seq("_meta", "_manifest"))
        .foreach(s => dropTable(spark, name + s))

    /** Undo every row batch `batchId` wrote — the replay repair for a
      * crash anywhere in the append→commit window. Idempotent, and a
      * no-op for a batch that never landed. Between the crash and the
      * replay, readers may see the half-written batch: the guarantee is
      * convergence on restart, not isolation in the gap. */
    def pruneBatch(spark: SparkSession, name: String, batchId: Long): Unit =
      dropBatchPartitions(spark, batchTables(name), batchId)

    /** Fold every batch NOT in `uncommitted` into the base; uncommitted
      * batches (appended but never committed — a crashed stream that has
      * not replayed yet) keep their partitions so [[pruneBatch]] can
      * still undo them. Caller contract: no writer is active
      * ([[graft.streaming.Streams.compactIndex]] takes the writer lease),
      * and no persisted plan pins the pre-compaction file listing. */
    def compact(spark: SparkSession, name: String,
        uncommitted: Set[Long] = Set.empty): Unit =
      batchTables(name).foreach(t =>
        compactTable(spark, t, uncommitted, fold(spark, name, t, _)))
  }

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
    * scheme (file/hdfs/s3a) works. Only graft-owned table names (the
    * store tables above, the p41 query fingerprint) are ever passed
    * here. */
  private[graft] def dropTable(spark: SparkSession, table: String): Unit = {
    val loc: java.net.URI =
      if (spark.catalog.tableExists(table)) catalogTable(spark, table).location
      else new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase).toUri
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val path = new org.apache.hadoop.fs.Path(loc)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true)
  }

  private def catalogTable(spark: SparkSession, table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** Write `rows` as `table`, partitioned by `partitionBy` (ending in
    * `batch_id`), under the layout rule of the object scaladoc. */
  private def save(rows: DataFrame, table: String, partitionBy: Seq[String],
      bucket: Option[BucketSpec]): Unit = {
    val w = (if (bucket.isEmpty) rows.coalesce(1) else rows)
      .write.partitionBy(partitionBy: _*)
    bucket.fold(w) { b =>
      val wb = w.bucketBy(b.numBuckets, b.bucketColumnNames.head,
        b.bucketColumnNames.tail: _*)
      if (b.sortColumnNames.isEmpty) wb
      else wb.sortBy(b.sortColumnNames.head, b.sortColumnNames.tail: _*)
    }.mode("overwrite").saveAsTable(table)
  }

  /** Create (overwrite) `table` from the base corpus' `rows`, stamped
    * [[BaseBatch]]. `partitionBy` names partition columns that come
    * before `batch_id` (the shingle index's file-pruning `p`). */
  def writeBase(rows: DataFrame, table: String,
      bucket: Option[BucketSpec] = None,
      partitionBy: Seq[String] = Nil): Unit =
    save(rows.withColumn("batch_id", lit(BaseBatch)), table,
      partitionBy :+ "batch_id", bucket)

  /** Append `rows` to `table` under partition `batchId`, matched to the
    * table's columns BY NAME: `insertInto` matches by position, so a
    * producer whose projection order drifts from the table's would
    * silently scramble the store (a genuinely missing column still
    * fails, loudly). */
  def append(rows: DataFrame, table: String, batchId: Long): Unit = {
    val t = catalogTable(rows.sparkSession, table)
    val stamped = rows.withColumn("batch_id", lit(batchId))
      .select(t.schema.fieldNames.toSeq.map(col): _*)
    (if (t.bucketSpec.isEmpty) stamped.coalesce(1) else stamped)
      .write.mode("append").insertInto(table)
  }

  /** Partition surgery: drop every `batch_id = batchId` partition of each
    * table (enumerated via the partial spec, since a table may carry
    * other partition columns too). */
  private[graft] def dropBatchPartitions(spark: SparkSession,
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

  /** The batch ids stamped in the tables' REGISTERED partitions — catalog
    * metadata only (SHOW PARTITIONS); a `select(batch_id).distinct()`
    * would scan the data, Spark's metadata-only rewrite being off by
    * default. */
  private[graft] def batchIds(spark: SparkSession,
      tables: Seq[String]): Set[Long] =
    tables.flatMap(t => spark.sql(s"SHOW PARTITIONS $t").collect()
      .flatMap(_.getString(0).split('/').find(_.startsWith("batch_id=")))
      .map(_.stripPrefix("batch_id=").toLong)).toSet

  /** Fold-and-swap: re-stamp every batch NOT in `uncommitted` as base,
    * `fold` the rows, write them under the table's own partition and
    * bucket layout to a `_cmp` staging table, then swap it in.
    *
    * Crash discipline, stated honestly: the swap is two catalog renames
    * (current → `_old`, `_cmp` → current) and a drop of `_old`. No step
    * destroys data before the replacement exists; a crash between the
    * renames leaves the table under the `_old`/`_cmp` names — loud
    * (readers fail on a missing table, nothing silently wrong) and
    * manually recoverable by finishing the renames. A transactional
    * table format would make the swap atomic; plain catalog tables
    * cannot. */
  private[graft] def compactTable(spark: SparkSession, table: String,
      uncommitted: Set[Long],
      fold: DataFrame => DataFrame = identity): Unit = {
    val keep = uncommitted - BaseBatch
    val stamp =
      if (keep.isEmpty) lit(BaseBatch)
      else when(col("batch_id").isin(keep.toSeq: _*), col("batch_id"))
        .otherwise(lit(BaseBatch))
    val layout = catalogTable(spark, table)
    val tmp = s"${table}_cmp"
    val old = s"${table}_old"
    Seq(tmp, old).foreach(dropTable(spark, _))
    save(fold(spark.table(table).withColumn("batch_id", stamp)), tmp,
      layout.partitionColumnNames, layout.bucketSpec)
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
  private[graft] def normFp(norm: Column => Column): String =
    norm(col("__graft_norm_fp__")).toString

  /** `{name}_meta`'s one row, read in one job, after requiring its
    * stored normalizer fingerprint (if present) to match the caller's
    * normalizer: the store's geometry and the check from a single read. */
  private[graft] def checkedMeta(spark: SparkSession, name: String,
      norm: Column => Column): Row = {
    val m = spark.table(s"${name}_meta").head()
    if (m.schema.fieldNames.contains("norm_fp")) {
      val stored = m.getAs[String]("norm_fp")
      val got = normFp(norm)
      require(stored == got,
        s"$name: this store was built with a DIFFERENT text normalizer " +
          s"than the caller passed (stored fingerprint:\n  $stored\n" +
          s"caller's:\n  $got\n) — appends/probes under a mismatched " +
          "normalizer write or query a disjoint token/shingle space; " +
          "pass the build-time normalizer, or rebuild the store")
    }
    m
  }
}
