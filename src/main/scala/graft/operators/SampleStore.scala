package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Persisted cluster-balanced sample — an always-fresh, topic-balanced
  * eval/probe set maintained over an endless embedding stream with
  * BOUNDED state. The per-cluster exact-k quota of
  * [[Similarity.clusterBalancedSample]] is a MERGEABLE structure (the
  * KMV property): the k smallest (hash32(id), id) members of a union
  * are the k smallest of the per-batch k-smallest, so each batch
  * appends only its own local winners (≤ cells·k rows regardless of
  * batch size) and the serve-time window re-takes the global quota.
  * Store-served sample ≡ the one-shot operator over everything
  * ingested, bit-for-bit (spec-pinned) — the seventh member of the
  * persisted-store family, with the standard [[BatchTable]] lifecycle:
  * batch-stamped appends, partition-surgery crash repair, fold-to-base
  * compaction, committed through the `{group}_manifest` of
  * [[graft.streaming.Streams.multiIngest]].
  *
  * The centroids are FROZEN at [[build]] (the IVF-store discipline):
  * a quota per cluster only means "topic balance" while every batch
  * is assigned against the same geometry; drift in that geometry is
  * what [[Similarity.assignmentDrift]]/`IvfIndex.driftReport` monitor,
  * and re-baselining is build's knob, never a batch's.
  *
  * Tables:
  *   - `{name}_cent` — (list_id, centroid, centroid_n): frozen cells
  *   - `{name}_smpl` — (list_id, doc_id, h) PARTITIONED by batch_id:
  *     per-batch local quota winners; a doc re-ingested by a later
  *     batch may appear under two partitions, so the serve and
  *     compact windows dedup on (list_id, doc_id) FIRST — a
  *     row_number over duplicate rows would hand one doc two quota
  *     slots (re-ingestion is idempotent, not double-counted)
  *   - `{name}_meta` — (k): the quota; serve/append read it back
  */
object SampleStore extends BatchTable.Store {

  protected val batchSuffixes = Seq("_smpl")
  override protected val frozenSuffixes = Seq("_cent")

  /** Create (overwrite) the store: frozen centroids from the base
    * corpus (hash-order sample — the oracle-replayable default; pass
    * `centroids` for learned kmeans cells), plus the base corpus'
    * quota winners as batch −1. */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      name: String, nCells: Int, k: Int,
      centroids: Option[DataFrame] = None): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(nCells >= 1 && k >= 1,
      s"SampleStore: need nCells >= 1 and k >= 1, got $nCells/$k")
    dropStore(spark, name)
    val v = Similarity.withNorm(corpus, idCol, vecCol, "vec_id", "v")
    val cent = centroids.getOrElse(
      Similarity.topKByHashCentroids(v, "vec_id", "v", nCells))
    cent.coalesce(1).write.mode("overwrite").saveAsTable(s"${name}_cent")
    Seq(k).toDF("k").write.mode("overwrite").saveAsTable(s"${name}_meta")
    BatchTable.writeBase(localQuota(v, spark, name, k), s"${name}_smpl")
  }

  private def quota(spark: SparkSession, name: String): Int =
    spark.table(s"${name}_meta").head().getInt(0)

  /** A frame's per-cluster quota winners vs the FROZEN centroids:
    * (list_id, doc_id, h) with at most k rows per cluster. The rank
    * filter compiles to a map-side WindowGroupLimit (the p56 shape). */
  private def localQuota(v: DataFrame, spark: SparkSession,
      name: String, k: Int): DataFrame = {
    val assigned = Similarity.assignCells(v, "vec_id", "v",
      spark.table(s"${name}_cent"), probe = 1, carryVec = false)
    val w = Window.partitionBy(col("list_id"))
      .orderBy(col("h"), col("doc_id"))
    assigned
      .select(col("list_id"), col("vec_id").as("doc_id"),
        TextFns.hash32(col("vec_id").cast("string")).as("h"))
      .withColumn("_r", row_number().over(w))
      .filter(col("_r") <= k)
      .select(col("list_id"), col("doc_id"), col("h"))
  }

  /** Add a batch's local winners under its own `batch_id` partition.
    * Nothing already written is read or touched — the batch pays its
    * own assignment plus ≤ cells·k output rows. */
  def append(batch: DataFrame, idCol: String, vecCol: String,
      name: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val v = Similarity.withNorm(batch, idCol, vecCol, "vec_id", "v")
    BatchTable.append(localQuota(v, spark, name, quota(spark, name)),
      s"${name}_smpl", batchId)
  }

  /** Compaction RE-TAKES the quota — min-k is associative, so the folded
    * base is exactly the quota of everything folded, and row count
    * shrinks back to ≤ cells·k. */
  override protected def fold(spark: SparkSession, name: String,
      table: String, rows: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("batch_id"), col("list_id"))
      .orderBy(col("h"), col("doc_id"))
    rows.dropDuplicates("batch_id", "list_id", "doc_id")
      .withColumn("_r", row_number().over(w))
      .filter(col("_r") <= quota(spark, name))
      .drop("_r")
  }

  /** The current sample: the global per-cluster quota over every
    * batch's local winners — ≡ [[Similarity.clusterBalancedSample]]
    * (with the stored centroids) over the union of everything
    * ingested. Reads ≤ cells·k rows per batch partition, never a
    * corpus. @return (grp, doc_id, rnk) — the one-shot contract */
  def sample(spark: SparkSession, name: String): DataFrame = {
    val k = quota(spark, name)
    val w = Window.partitionBy(col("list_id"))
      .orderBy(col("h"), col("doc_id"))
    spark.table(s"${name}_smpl")
      .dropDuplicates("list_id", "doc_id")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("list_id").as("grp"), col("doc_id"), col("rnk"))
  }
}
