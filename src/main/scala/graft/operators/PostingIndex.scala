package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions._

/** Persisted BM25 posting index — retrieval served from disk without
  * re-tokenizing the corpus. The fourth member of the persisted-store
  * family, with the [[BatchTable]] lifecycle every store shares:
  * batch-stamped appends, partition-surgery crash repair, fold-to-base
  * compaction behind the staged-rename swap, committed by a
  * `{group}_manifest` row of [[graft.streaming.Streams.multiIngestBatch]]
  * whose batch ids [[graft.streaming.Streams.compactIndex]] folds.
  *
  * Serving contract: [[topK]] returns EXACTLY the rows of
  * [[Corpus.bm25TopK]] over the corpus the index holds — not "the same
  * ranking", the same doubles, because both paths run through ONE
  * scoring implementation ([[Corpus.bm25Score]]); the store only
  * changes where the (doc_id, term, tf, dl) postings and the corpus
  * stats come from. PipelineSpec pins the row-for-row equality through
  * build AND append.
  *
  * Tables:
  *   - `{name}_post` (term, doc_id, tf, dl) partitioned by `batch_id`,
  *     bucketed + sorted by `term`: a query's term set (bounded by
  *     |queries| × nQueryTerms) applies as an `isin` on the bucket
  *     column, so the scan BUCKET-PRUNES to the files that can hold a
  *     query term — per-query cost scales with the touched posting
  *     lists, never the corpus.
  *   - `{name}_stats` (n_docs, sum_dl) per batch — two exact longs
  *     whose across-batch sums reproduce the in-memory corpus stats
  *     bit-for-bit (one double division at the end, same integers in).
  *   - `{name}_meta` (buckets).
  *
  * Scale: append cost is the batch's own tokenize + one batch-bounded
  * groupBy; nothing stored is read or rewritten. df is computed at
  * query time from the vocabulary-filtered postings (same as the
  * in-memory operator — a stored df table would go stale on every
  * append and force a rewrite; counting it over the pruned scan keeps
  * appends O(batch) and queries exact).
  */
object PostingIndex extends BatchTable.Store {

  protected val batchSuffixes = Seq("_post", "_stats")

  private def postings(docs: DataFrame, idCol: String,
      textCol: String, norm: Column => Column): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        TextFns.tokens(norm(col(textCol))).as("toks"))
      .withColumn("dl", size(col("toks")))
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))

  private def statsRow(docs: DataFrame, idCol: String,
      textCol: String, norm: Column => Column): DataFrame =
    docs
      .select(size(TextFns.tokens(norm(col(textCol)))).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  /** Create (overwrite) the index over a base corpus (batch −1).
    *
    * @param norm pluggable text canonicalizer; the SAME normalizer must
    *   be used for build, every append, and every query against the
    *   store (the tokenization defines the term space — mixing
    *   normalizers would split one term into unjoinable spellings).
    *   Defaults to the byte-frozen ASCII [[TextFns.normText]]; pass
    *   [[TextFns.unicodeNormalizer]] for multilingual corpora. */
  def build(docs: DataFrame, idCol: String, textCol: String, name: String,
      buckets: Int = 32,
      norm: Column => Column = TextFns.normText): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    dropStore(spark, name)
    BatchTable.writeBase(postings(docs, idCol, textCol, norm),
      s"${name}_post", Some(BucketSpec(buckets, Seq("term"), Seq("term"))))
    BatchTable.writeBase(statsRow(docs, idCol, textCol, norm),
      s"${name}_stats")
    Seq((buckets, BatchTable.normFp(norm))).toDF("buckets", "norm_fp")
      .write.mode("overwrite").saveAsTable(s"${name}_meta")
  }

  /** Add a batch's postings + stats under its own partition; nothing
    * already stored is read.
    *
    * CONTRACT — batches must be doc-disjoint: a doc_id may appear in
    * at most ONE batch across the store's lifetime (the same contract
    * [[graft.streaming.Streams]] ingest loops provide via their
    * exactly-once manifest, and the same "re-ingested doc must carry a
    * new id" rule as [[Dedup.incrementalNearDupPairs]]). A doc
    * re-appended under the same id would leave BOTH batches' posting
    * rows live and double-count `_stats` (n_docs, sum_dl) — and no
    * serve-time merge can repair that, because the bucket-pruned scan
    * reads only the query's terms and so cannot see that an old
    * partition still holds postings for terms the newer version of
    * the doc dropped. Store-equals-rebuild equality ([[topK]] ==
    * [[Corpus.bm25TopK]]) is stated under this precondition. To
    * replace a doc, ingest it under a fresh id and drop the old one
    * at [[compact]] time, or rebuild. */
  def append(docs: DataFrame, idCol: String, textCol: String,
      name: String, batchId: Long,
      norm: Column => Column = TextFns.normText): Unit = {
    BatchTable.checkedMeta(docs.sparkSession, name, norm)
    BatchTable.append(postings(docs, idCol, textCol, norm),
      s"${name}_post", batchId)
    BatchTable.append(statsRow(docs, idCol, textCol, norm),
      s"${name}_stats", batchId)
  }

  /** Compaction MERGES the folded stats rows (their sums are the whole
    * point); postings rewrite verbatim under the same bucket layout. */
  override protected def fold(spark: SparkSession, name: String,
      table: String, rows: DataFrame): DataFrame =
    if (table == s"${name}_stats")
      rows.groupBy(col("batch_id"))
        .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    else rows

  /** BM25 top-k for a frame of (query_id, text) queries, served from
    * the store: the query term set collects to the driver (bounded by
    * |queries| × nQueryTerms — the same O(batch) driver materialization
    * as ShingleIndex's partition probe) and applies as an `isin` bucket
    * filter, so only the touched posting files are read; stats sum
    * across batch partitions into the exact in-memory values; scoring
    * is [[Corpus.bm25Score]], shared verbatim.
    *
    * Self-exclusion carries over: a query whose id matches a stored
    * doc id never scores against itself — ingested eval/query docs
    * behave exactly as they do in the in-memory operator. The flip
    * side is the caller's contract: EXTERNAL queries must use an id
    * space disjoint from the corpus, or an accidental id collision
    * silently drops that one candidate.
    *
    * Snapshot semantics: the query terms are collected when this method
    * BUILDS its plan (the same [[Corpus.bm25QueryTermsLocal]] as
    * [[Corpus.bm25TopK]]), and they fix the bucket filter too. The frame
    * scores the queries as they were at the call against the store as
    * it is at execution; call again after the query source changes. */
  def topK(queries: DataFrame, idCol: String, textCol: String,
      name: String, nQueryTerms: Int, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      maxDf: Option[Long] = None,
      norm: Column => Column = TextFns.normText): DataFrame = {
    require(nQueryTerms >= 1 && nQueryTerms <= 128 && k >= 1,
      s"topK: need 1 <= nQueryTerms <= 128 and k >= 1, got $nQueryTerms/$k")
    val spark = queries.sparkSession
    BatchTable.checkedMeta(spark, name, norm)
    // evaluated ONCE: the collected rows serve the isin bucket filter
    // below AND re-plant as the scoring plan's local query-term frame
    // (Corpus.bm25QueryTermsLocal) — the query set is bounded, and the
    // old compute-twice form paid the query tokenize + groupBy once per
    // driver collect and once per scoring broadcast build
    val qterms = Corpus.bm25QueryTermsLocal(queries, idCol, textCol,
      nQueryTerms, norm)
    val terms = qterms.select(col("term")).distinct()
      .collect().map(_.getString(0)).toSeq
    val tf = spark.table(s"${name}_post")
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    val stats = spark.table(s"${name}_stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    Corpus.bm25Score(tf, qterms, stats, nQueryTerms, k, k1, b, maxDf)
  }
}
