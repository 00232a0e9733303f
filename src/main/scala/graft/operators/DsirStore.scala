package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted DSIR model — the importance-weighting distribution pair of
  * [[Corpus.dsirWeights]] kept on disk so a 100 TB ingest stream scores
  * against an ACCUMULATING source model without ever re-scanning old
  * data. The sixth member of the persisted-store family, with the
  * standard [[BatchTable]] lifecycle: batch-stamped appends, partition-
  * surgery crash repair, counter-merging compaction behind the staged-
  * rename swap, committed through the `{group}_manifest` of
  * [[graft.streaming.Streams.multiIngest]].
  *
  * Like [[CmsStore]], this store stays trivially small because the
  * model is a pure-sum structure: a batch's contribution IS its bucket
  * histogram (≤ `buckets` rows regardless of batch size) and merging
  * is plain counter addition — integer-exact, so weights served from
  * the accumulated store are IDENTICAL to [[Corpus.dsirWeights]] run
  * from scratch over the union of everything ingested (spec-pinned
  * bit-for-bit).
  *
  * The TARGET histogram is deliberately frozen, like the IVF centroids
  * and the drift reference: "what the data should look like" is the
  * yardstick; re-baselining it is [[build]]'s knob, never something a
  * batch decides implicitly. The SOURCE histogram accumulates — it
  * models what the corpus actually is, which grows with every batch.
  *
  * Tables:
  *   - `{name}_tgt`  — (b, c): frozen target bucket histogram
  *   - `{name}_dsir` — (b, c) PARTITIONED by batch_id: per-batch source
  *     histograms; the read path sums across partitions, so duplicate
  *     bucket rows between batches are semantically free
  *   - `{name}_meta` — (buckets): hash geometry; append/serve verify
  *     against it instead of silently mixing feature spaces
  */
object DsirStore extends BatchTable.Store {

  protected val batchSuffixes = Seq("_dsir")
  override protected val frozenSuffixes = Seq("_tgt")

  /** Create (overwrite) the store: frozen target histogram + the base
    * corpus' source histogram (batch −1). */
  def build(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, name: String, buckets: Int,
      norm: Column => Column = graft.functions.TextFns.normText): Unit = {
    val spark = raw.sparkSession
    import spark.implicits._
    dropStore(spark, name)
    Corpus.dsirHistogram(target, idCol, textCol, buckets, norm)
      .coalesce(1) // ≤ buckets rows — one file
      .write.mode("overwrite").saveAsTable(s"${name}_tgt")
    BatchTable.writeBase(
      Corpus.dsirHistogram(raw, idCol, textCol, buckets, norm),
      s"${name}_dsir")
    Seq((buckets, BatchTable.normFp(norm))).toDF("buckets", "norm_fp")
      .write.mode("overwrite").saveAsTable(s"${name}_meta")
  }

  /** Add a batch's source histogram under its own `batch_id` partition
    * (built with the STORED geometry; nothing already written is read
    * or touched). */
  def append(docs: DataFrame, idCol: String, textCol: String,
      name: String, batchId: Long,
      norm: Column => Column = graft.functions.TextFns.normText): Unit = {
    val b = BatchTable.checkedMeta(docs.sparkSession, name, norm).getInt(0)
    BatchTable.append(Corpus.dsirHistogram(docs, idCol, textCol, b, norm),
      s"${name}_dsir", batchId)
  }

  /** Compaction MERGES the folded counters — after it the base
    * partition is again one ≤ buckets-row histogram. */
  override protected def fold(spark: SparkSession, name: String,
      table: String, rows: DataFrame): DataFrame =
    rows.groupBy(col("batch_id"), col("b")).agg(sum(col("c")).as("c"))

  /** The accumulated source histogram: counter sums across every batch
    * partition — O(buckets) rows. */
  def sourceHist(spark: SparkSession, name: String): DataFrame =
    spark.table(s"${name}_dsir")
      .groupBy(col("b")).agg(sum(col("c")).as("c"))

  /** Importance weights served from the store: `docs` scored against
    * the frozen target and everything the source model has accumulated
    * so far. Bit-identical to [[Corpus.dsirWeights]] over the union of
    * all ingested corpora (histogram addition is exact). */
  def weights(docs: DataFrame, idCol: String, textCol: String,
      name: String,
      norm: Column => Column = graft.functions.TextFns.normText)
      : DataFrame = {
    val spark = docs.sparkSession
    val b = BatchTable.checkedMeta(spark, name, norm).getInt(0)
    Corpus.dsirScore(docs, idCol, textCol, b,
      Corpus.collectDsirHist(sourceHist(spark, name), b),
      Corpus.collectDsirHist(spark.table(s"${name}_tgt"), b), norm)
  }
}
