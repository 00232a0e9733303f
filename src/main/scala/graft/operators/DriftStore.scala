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
  *     [[pruneBatch]] partition surgery (the [[BatchTable]] lifecycle
  *     shared with every store family; committed by the caller's
  *     manifest — [[graft.streaming.Streams.multiIngestBatch]])
  *
  * The reference is deliberately FROZEN, like the IVF centroids and PQ
  * books: drift is only meaningful against a fixed yardstick, and the
  * monitor's own output is the signal that the yardstick needs
  * re-baselining ([[build]] again) — that call is the operator's knob,
  * not something the stream decides implicitly.
  */
object DriftStore extends BatchTable.Store {

  protected val batchSuffixes = Seq("_drift")
  override protected val frozenSuffixes = Seq("_ref")

  /** Reduce the reference corpus to its frozen histogram + geometry,
    * and create the (empty) report table. Drops any previous
    * incarnation of the store (including reports — reports against a
    * replaced reference are not comparable). */
  def build(ref: DataFrame, groupCol: String, valueCol: String,
      name: String, binWidth: Long): Unit = {
    val spark = ref.sparkSession
    import spark.implicits._
    dropStore(spark, name)
    Corpus.valueHistogram(ref, groupCol, valueCol, binWidth, "r")
      .coalesce(1) // bins × groups — one file
      .write.mode("overwrite").saveAsTable(s"${name}_ref")
    Seq(binWidth).toDF("bin_width")
      .write.mode("overwrite").saveAsTable(s"${name}_meta")
    BatchTable.writeBase(report(ref.limit(0), groupCol, valueCol, name),
      s"${name}_drift")
  }

  /** A batch's report rows against the frozen reference: the batch pays
    * its own histogram and a histogram-scale join. */
  private def report(batch: DataFrame, groupCol: String, valueCol: String,
      name: String): DataFrame = {
    val spark = batch.sparkSession
    val bw = spark.table(s"${name}_meta").head().getLong(0)
    Corpus.chiSquareFromHists(spark.table(s"${name}_ref"),
      Corpus.valueHistogram(batch, groupCol, valueCol, bw, "o"))
  }

  /** One batch's drift report vs the frozen reference, appended under
    * its own `batch_id` partition. Nothing already written is read or
    * touched. Compaction is a pure re-stamp (no merge arithmetic —
    * unlike [[CmsStore]]'s sums, a report row IS the final value). */
  def appendReport(batch: DataFrame, groupCol: String, valueCol: String,
      name: String, batchId: Long): Unit =
    BatchTable.append(report(batch, groupCol, valueCol, name),
      s"${name}_drift", batchId)

  /** All reports (the caller filters by its manifest if a torn batch
    * might be present; after a clean stream shutdown every partition is
    * committed). */
  def reports(spark: SparkSession, name: String): DataFrame =
    spark.table(s"${name}_drift")
}
