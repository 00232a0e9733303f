package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted count-min sketch — corpus-wide n-gram document-frequency
  * stats that ACCUMULATE across ingest batches without ever re-scanning
  * old data. The third member of the persisted-store family
  * ([[ShingleIndex]] for pair dedup, [[IvfIndex]] for ANN serving),
  * with the same [[BatchTable]] lifecycle: batch-stamped appends,
  * partition-surgery crash repair, fold-to-base compaction behind the
  * staged-rename swap, committed through [[graft.streaming.Streams]]'
  * `{group}_manifest`.
  *
  * Why this store stays trivially small where the other two grow with
  * the corpus: [[Corpus.cmsNgramMatrix]] is a pure-sum structure, so a
  * batch's contribution IS a depth × width matrix and merging is plain
  * counter addition ([[Corpus.cmsMerge]] — exact, spec-pinned). Each
  * append writes at most depth·width rows regardless of batch size;
  * the serve-time merge reads catalog-partition directories whose
  * count compaction keeps bounded. Estimates from the merged store
  * are IDENTICAL to a from-scratch build over the union of all
  * ingested corpora — not approximately, bit-for-bit (the spec pins
  * store ≡ rebuild).
  *
  * The crash window is the standard one: an append that dies before
  * its caller's manifest row leaves a `batch_id` partition that
  * [[pruneBatch]] removes on replay — the counters CONVERGE to
  * exactly-once across crash replays. Readers in the gap may see the
  * half-committed batch's counts (over-estimates only — CMS reads are
  * upper bounds by contract, so a torn batch can never flip a
  * heavy-hitter to "absent", it can only admit extra candidates that
  * the exact recount then rejects).
  *
  * Tables:
  *   - `{name}_cms` (rw, bucket, cnt) partitioned by `batch_id` —
  *     per-batch partial matrices; the read path sums across
  *     partitions, so duplicate (rw, bucket) rows between (or within)
  *     batches are semantically free.
  *   - `{name}_meta` (n, depth, width) — hash geometry; append/serve
  *     verify against it instead of silently mixing geometries.
  */
object CmsStore extends BatchTable.Store {

  protected val batchSuffixes = Seq("_cms")

  /** Create (overwrite) the store from a base corpus (batch −1). */
  def build(docs: DataFrame, idCol: String, textCol: String, name: String,
      n: Int = 3, depth: Int = 4, width: Int = 65536,
      norm: Column => Column = graft.functions.TextFns.normText): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    dropStore(spark, name)
    BatchTable.writeBase(
      Corpus.cmsNgramMatrix(docs, idCol, textCol, n, depth, width, norm),
      s"${name}_cms")
    Seq((n, depth, width, BatchTable.normFp(norm)))
      .toDF("n", "depth", "width", "norm_fp")
      .write.mode("overwrite").saveAsTable(s"${name}_meta")
  }

  /** Add a batch's counts under its own `batch_id` partition. The
    * batch matrix builds with the STORED geometry; nothing already
    * written is read or touched. */
  def append(docs: DataFrame, idCol: String, textCol: String,
      name: String, batchId: Long,
      norm: Column => Column = graft.functions.TextFns.normText): Unit = {
    val m = BatchTable.checkedMeta(docs.sparkSession, name, norm)
    val (n, depth, width) = (m.getInt(0), m.getInt(1), m.getInt(2))
    BatchTable.append(
      Corpus.cmsNgramMatrix(docs, idCol, textCol, n, depth, width, norm),
      s"${name}_cms", batchId)
  }

  /** Compaction MERGES the folded counters — after it the base
    * partition is again a single ≤ depth·width matrix, so directory
    * count AND row count stay bounded over thousands of micro-batches. */
  override protected def fold(spark: SparkSession, name: String,
      table: String, rows: DataFrame): DataFrame =
    rows.groupBy(col("batch_id"), col("rw"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** The merged whole-corpus matrix: counter sums across every batch
    * partition — O(depth·width) rows out, the broadcastable form
    * [[Corpus.cmsEstimateDf]] expects. */
  def matrix(spark: SparkSession, name: String): DataFrame =
    spark.table(s"${name}_cms")
      .groupBy(col("rw"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Point df estimates for a candidate n-gram column, served from the
    * store: df_est ≥ true df over EVERYTHING ingested so far. */
  def estimateDf(candidates: DataFrame, ngramCol: String,
      name: String): DataFrame = {
    val spark = candidates.sparkSession
    val (_, depth, width) = meta(spark, name)
    Corpus.cmsEstimateDf(matrix(spark, name), candidates, ngramCol,
      depth, width)
  }

  /** Exact heavy hitters of `docs` gated by the STORED matrix — the
    * incremental-ingest completion of [[Corpus.cmsHeavyHitters]]: the
    * sketch accumulated batch-by-batch during ingest (each append
    * O(depth·width)), and the single exact pass at the end reuses it
    * instead of re-building. Pass `docs` = everything the store has
    * ingested; the stored counters are exactly the from-scratch
    * matrix of that union ([[Corpus.cmsMerge]] distributivity), so
    * the result is identical to the one-shot operator. A SUPERSET
    * matrix (store ingested more than `docs`) only widens the gate —
    * still exact, the recount is authoritative. */
  def heavyHitters(docs: DataFrame, idCol: String, textCol: String,
      name: String, minDf: Long): DataFrame = {
    val spark = docs.sparkSession
    val (n, depth, width) = meta(spark, name)
    Corpus.cmsGateRecount(docs, idCol, textCol, n, minDf,
      Corpus.collectCounters(matrix(spark, name), depth, width))
  }

  private def meta(spark: SparkSession, name: String): (Int, Int, Int) = {
    val r = spark.table(s"${name}_meta").head()
    (r.getInt(0), r.getInt(1), r.getInt(2))
  }
}
