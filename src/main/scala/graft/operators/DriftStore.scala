package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted distribution-drift monitor — the streaming form of
  * [[Corpus.histogramDrift]]: the reference corpus reduces ONCE to its
  * binned histogram (`{name}_ref`, a bins × groups frame), and every
  * incoming batch then pays only its own batch-scale histogram plus a
  * histogram-scale chi-square before appending one report row per group
  * to `{name}_drift`. The reference corpus is never rescanned.
  *
  * Tables (the [[CmsStore]] layout discipline):
  *   - `{name}_ref`  — (grp, bin, r): frozen reference histogram
  *   - `{name}_meta` — (bin_width): geometry; a monitor running with a
  *     different width than the reference was binned with would compare
  *     incomparable histograms, so the width is stored once and read
  *     back, never re-passed per batch
  *   - `{name}_drift` — (grp, n_ref, n_cur, n_bins, dof, chi2) reports,
  *     PARTITIONED by batch_id so a torn append is undone by
  *     [[pruneBatch]] partition surgery (the replay contract shared
  *     with every store family; ledger kept by the caller —
  *     [[graft.streaming.Streams.multiIngestBatch]])
  *
  * The reference is deliberately FROZEN, like the IVF centroids and PQ
  * books: drift is only meaningful against a fixed yardstick, and the
  * monitor's own output is the signal that the yardstick needs
  * re-baselining ([[build]] again) — that call is the operator's knob,
  * not something the stream decides implicitly.
  */
object DriftStore {

  /** Reduce the reference corpus to its frozen histogram + geometry.
    * Drops any previous incarnation of the store (including reports —
    * reports against a replaced reference are not comparable). */
  def build(ref: DataFrame, groupCol: String, valueCol: String,
      name: String, binWidth: Long): Unit = {
    val spark = ref.sparkSession
    import spark.implicits._
    // ledger and manifest dropped with the data: see ShingleIndex.build
    Seq(s"${name}_ref", s"${name}_meta", s"${name}_drift",
      s"${name}_batches", s"${name}_manifest")
      .foreach(ShingleIndex.dropTable(spark, _))
    Corpus.valueHistogram(ref, groupCol, valueCol, binWidth, "r")
      .coalesce(1) // bins × groups — one file
      .write.mode("overwrite").saveAsTable(s"${name}_ref")
    Seq(binWidth).toDF("bin_width")
      .write.mode("overwrite").saveAsTable(s"${name}_meta")
  }

  private def binWidth(spark: SparkSession, name: String): Long =
    spark.table(s"${name}_meta").head().getLong(0)

  /** One batch's drift report vs the frozen reference, appended under
    * its own `batch_id` partition. Nothing already written is read or
    * touched; the batch pays its own histogram and a histogram-scale
    * join. */
  def appendReport(batch: DataFrame, groupCol: String, valueCol: String,
      name: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val bw = binWidth(spark, name)
    val report = Corpus.chiSquareFromHists(spark.table(s"${name}_ref"),
      Corpus.valueHistogram(batch, groupCol, valueCol, bw, "o"))
    val table = s"${name}_drift"
    val stamped = report.withColumn("batch_id", lit(batchId)).coalesce(1)
    if (!spark.catalog.tableExists(table))
      stamped.write.partitionBy("batch_id").mode("overwrite")
        .saveAsTable(table)
    else ShingleIndex.insertByName(stamped, table)
  }

  /** Undo a batch's report — replay repair for a crash between the
    * append and the caller's ledger commit. Idempotent; a no-op before
    * the first report (the `{name}_drift` table is created lazily by
    * [[appendReport]], unlike the bulk stores whose data tables exist
    * from build time). */
  def pruneBatch(spark: SparkSession, name: String, batchId: Long): Unit =
    if (spark.catalog.tableExists(s"${name}_drift"))
      ShingleIndex.dropBatchPartitions(spark, Seq(s"${name}_drift"), batchId)

  /** Fold committed report partitions into base — the same bounded-
    * catalog story as every other store family: thousands of
    * micro-batches otherwise leave one partition (and one file) per
    * batch in `{name}_drift` forever. Reports are immutable rows, so
    * compaction is a pure re-stamp (no merge arithmetic — unlike
    * [[CmsStore]]'s sums, a report row IS the final value); batches in
    * `uncommitted` keep their partitions so replay surgery still
    * works. Same staged-rename swap + caller contract
    * ([[ShingleIndex.compact]]); a store that has not reported yet
    * (lazy `_drift` creation) is a no-op. */
  def compact(spark: SparkSession, name: String,
      uncommitted: Set[Long] = Set.empty): Unit =
    if (spark.catalog.tableExists(s"${name}_drift"))
      ShingleIndex.compactTable(spark, s"${name}_drift", uncommitted,
        (df, tmp) => df.coalesce(1)
          .write.partitionBy("batch_id").mode("overwrite").saveAsTable(tmp))

  /** All committed reports (the caller filters by its ledger if a torn
    * batch might be present; after a clean stream shutdown every
    * partition is committed). */
  def reports(spark: SparkSession, name: String): DataFrame =
    spark.table(s"${name}_drift")
}
