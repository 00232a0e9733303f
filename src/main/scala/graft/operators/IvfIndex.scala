package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF cell assignment — the storage half of
  * [[Similarity.ivfTopK]], whose scaladoc promises "the corpus shuffles
  * ONCE on list_id and can be written bucketed-by-list for reuse across
  * query batches". This is that write. Build once per corpus:
  *
  *   - `{name}_cells` (list_id, neighbor_id, cv, cv_n) — every corpus
  *     vector in its nearest cell, with the norm PRECOMPUTED, bucketed
  *     by list_id: a query batch's probe join reads cells
  *     shuffle-free on the stored side and never recomputes a corpus
  *     norm or centroid assignment.
  *   - `{name}_cent` (list_id, centroid, centroid_n) — the O(nCells)
  *     centroid set (tiny; broadcast at query time). nCells is implicit
  *     in this table's row count; nProbe stays a query-time knob.
  *
  * Query-time cost for a batch of |Q| queries: |Q|·nCells centroid
  * cosines (broadcast join), then exact re-rank inside the probed
  * cells — ~|corpus|·nProbe/nCells rows read from the bucketed store,
  * zero corpus-side shuffle, zero assignment recompute. [[topK]] is
  * row-for-row [[Similarity.ivfTopK]] for the same corpus and nCells
  * (IvfIndexSpec pins the equality); p14 remains the oracle gate for
  * the semantics.
  */
object IvfIndex extends BatchTable.Store {

  protected val batchSuffixes = Seq("_cells")
  override protected val frozenSuffixes = Seq("_cent", "_books")

  /** Residual-PQ config for [[build]] (IVFADC — Jégou/Douze/Schmid,
    * TPAMI 2011 §IV-A): `m` subspaces × `nCodes` codes per book;
    * `learned=false` hash-samples the codebooks (oracle-replayable,
    * [[Similarity.residualCodebooks]]), `learned=true` trains
    * per-subspace k-means on the residuals (the measured-quality path,
    * [[Similarity.pqKmeansCodebooks]]). */
  final case class PqSpec(m: Int = 8, nCodes: Int = 32,
    learned: Boolean = false)

  /** Create (overwrite) the index tables for `corpus`.
    *
    * `{name}_cells` carries the same `batch_id` PARTITION column as every
    * store (the [[BatchTable]] lifecycle: build stamps the base batch,
    * [[append]] its caller's id): undoing a half-committed append is
    * partition surgery ([[pruneBatch]]), never a table rewrite, and
    * compaction folds committed batches back into the base. The
    * centroid and codebook tables are frozen and never compact.
    * Bucket pruning on `list_id` operates within each partition, so the
    * probed-cell file-skipping below is unaffected.
    *
    * @param centroids optional LEARNED centroid set — any
    *   (list_id, centroid, centroid_n) frame, canonically
    *   [[Similarity.kmeansCentroids]] output, which the measured recall
    *   probes (SCALE.md) show is worth a full nProbe tier over the
    *   hash-sampled default on clustered data. When given, `nCells` is
    *   ignored (the frame's row count IS the cell count) and every
    *   consumer — [[topK]], [[append]], [[incrementalNearDups]] — uses
    *   the stored set transparently.
    * @param pq optional residual-PQ spec: the cell rows additionally
    *   carry the `m` nearest-residual-code ints and the codebooks land
    *   in `{name}_books` (j, code, sub), so [[topKAdc]] can serve ANN
    *   reading ONLY the code column — the path for a corpus whose raw
    *   embeddings no longer fit the memory/IO budget. [[append]]
    *   encodes against the FROZEN books (same tradeoff as frozen
    *   centroids); [[topK]] is unaffected (cv/cv_n still stored —
    *   columnar pruning keeps either read narrow).
    * @param binary when true, cell rows also carry `cb` — the
    *   sign-pack of the RAW within-cell residual cv − centroid
    *   (⌈d/64⌉ longs; [[Similarity.signPack]], the same arithmetic as
    *   [[Similarity.ivfBinaryTopK]]) — so [[topKBinary]] can serve the
    *   Hamming shortlist reading one long per 64 dims. Orthogonal to
    *   `pq` (a store can carry both tiers); appends pack against the
    *   frozen centroids like every other frozen-geometry column. */
  def build(corpus: DataFrame, idCol: String, vecCol: String, name: String,
      nCells: Int = 64, buckets: Int = 32,
      centroids: Option[DataFrame] = None,
      pq: Option[PqSpec] = None,
      binary: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    dropStore(spark, name)
    val c = Similarity
      .withNorm(corpus, idCol, vecCol, "neighbor_id", "cv")
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism,
        col("neighbor_id"))
      .persist()
    // the cast normalizes a caller's float centroids to the exact
    // column types assignment arithmetic runs on, so the stored table
    // is type-identical whichever path produced it
    centroids
      .map(_.select(col("list_id").cast("long"),
        col("centroid").cast("array<double>"),
        col("centroid_n").cast("double")))
      .getOrElse(Similarity.topKByHashCentroids(c, "neighbor_id", "cv", nCells))
      .write.mode("overwrite").saveAsTable(s"${name}_cent")
    // assignment uses the centroids READ BACK from the store, so the
    // persisted cells agree with whatever the table holds, bit-for-bit
    val assigned = Similarity.assignCells(c, "neighbor_id", "cv",
      spark.table(s"${name}_cent"), probe = 1)
    var pinnedResid: Option[DataFrame] = None
    val cellRows = pq match {
      case None => assigned
      case Some(spec) =>
        // persisted: the codebook sample/fit below and the cells write
        // both consume the full-corpus assignment (broadcast join +
        // per-row argmax window) — without this the window runs twice
        // per build (c only caches the norms). Unpersisted below, once
        // the cells write has materialized everything.
        val resid = assigned
          .join(broadcast(unitCentroids(spark, name)), Seq("list_id"))
          .select(col("list_id"), col("neighbor_id"), col("cv"),
            col("cv_n"),
            zip_with(transform(col("cv"), x => x / col("cv_n")),
              col("ucent"), (x, ce) => x - ce).as("rv"))
          .persist()
        pinnedResid = Some(resid)
        val books = Similarity.residualCodebooks(resid, spec.m,
          spec.nCodes, spec.learned)
        booksToRows(spark, books)
          .write.mode("overwrite").saveAsTable(s"${name}_books")
        // encode with the books READ BACK from the store (same
        // discipline as centroids): stored codes agree with whatever a
        // later append/topKAdc will load, bit-for-bit
        val stored = loadBooks(spark, name)
        resid.select(col("list_id"), col("neighbor_id"), col("cv"),
          col("cv_n"),
          Similarity.pqCodesFor(col("rv"), stored).as("codes"))
    }
    BatchTable.writeBase(withBinaryPack(spark, name, cellRows, binary),
      s"${name}_cells",
      Some(BucketSpec(buckets, Seq("list_id"), Seq("list_id", "neighbor_id"))))
    // build is self-contained: every action above has run, so the
    // intermediates release here (no caller-clears contract needed)
    pinnedResid.foreach(_.unpersist(blocking = false))
    c.unpersist(blocking = false)
  }

  /** Append `cb` (sign-pack of the raw residual cv − centroid, read
    * back from `{name}_cent` — same discipline as assignment/encode)
    * when `on`; the shared packing step of [[build]] and [[append]]. */
  private def withBinaryPack(spark: SparkSession, name: String,
      rows: DataFrame, on: Boolean): DataFrame =
    if (!on) rows
    else rows
      .join(broadcast(spark.table(s"${name}_cent")
        .select(col("list_id"), col("centroid"))), Seq("list_id"))
      .withColumn("cb", Similarity.residualPack(col("cv"), col("centroid")))
      .drop("centroid")

  /** Unit centroids (list_id, ucent) from the stored centroid table —
    * the normalized frame residual arithmetic runs against. */
  private def unitCentroids(spark: SparkSession, name: String): DataFrame =
    spark.table(s"${name}_cent").select(col("list_id"),
      transform(col("centroid"), x => x / col("centroid_n")).as("ucent"))

  private def booksToRows(spark: SparkSession,
      books: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (sub, code) => (j, code, sub.toSeq) }
    }.toSeq.toDF("j", "code", "sub")
  }

  /** Codebooks from `{name}_books` as the in-memory nested array every
    * encode/score path consumes — O(m·nCodes·d/m) = O(nCodes·d), the
    * same bounded driver materialization as the plan-literal books. */
  private def loadBooks(spark: SparkSession,
      name: String): Array[Array[Array[Double]]] = {
    val rows = spark.table(s"${name}_books")
      .select(col("j"), col("code"), col("sub"))
      .collect()
    require(rows.nonEmpty, s"loadBooks: ${name}_books is empty")
    val m = rows.iterator.map(_.getInt(0)).max + 1
    Array.tabulate(m)(j =>
      rows.filter(_.getInt(0) == j).sortBy(_.getInt(1))
        .map(_.getSeq[Double](2).toArray))
  }

  /** Append vectors to the stored corpus against the FROZEN centroid
    * set — the incremental path for embedding ingest, so a growing
    * corpus never pays a per-batch rebuild. Standard IVF practice:
    * centroids come from the build-time corpus and stay fixed; each new
    * vector lands in its nearest existing cell via the same
    * single-source assignment every consumer uses, so [[topK]] after an
    * append is row-for-row `Similarity.ivfTopK` over the grown corpus
    * WITH THE STORED CENTROIDS (IvfIndexSpec pins it). Honest limit:
    * if the ingest distribution drifts from the build corpus, cells
    * imbalance and recall decays — frozen-centroid appends buy cheap
    * ingest between periodic [[build]] refreshes, they do not replace
    * them. Zero-norm vectors are dropped (no cosine exists), same as
    * build. Ids must stay globally unique across build + appends.
    *
    * @param batchId stamps the written partition so a crash between
    *   this append and the caller's commit record can be undone by
    *   [[pruneBatch]] — same contract as the shingle index's append. */
  def append(vectors: DataFrame, idCol: String, vecCol: String,
      name: String, batchId: Long = BatchTable.BaseBatch): Unit = {
    val spark = vectors.sparkSession
    val v = Similarity.withNorm(vectors, idCol, vecCol, "neighbor_id", "cv")
    val assigned = Similarity.assignCells(v, "neighbor_id", "cv",
      spark.table(s"${name}_cent"), probe = 1)
    // a PQ-built index encodes appends against the FROZEN books — the
    // residual twin of the frozen-centroid tradeoff ([[driftReport]]
    // monitors both: drifted residuals quantize badly the same way
    // drifted vectors assign badly)
    val rows =
      if (spark.catalog.tableExists(s"${name}_books")) {
        val books = loadBooks(spark, name)
        assigned.join(broadcast(unitCentroids(spark, name)), Seq("list_id"))
          .select(col("list_id"), col("neighbor_id"), col("cv"), col("cv_n"),
            Similarity.pqCodesFor(
              zip_with(transform(col("cv"), x => x / col("cv_n")),
                col("ucent"), (x, ce) => x - ce),
              books).as("codes"))
      } else assigned
    // a binary-built store packs appends against the frozen centroids
    // — detected from the stored schema, same as the books above
    val rows2 = withBinaryPack(spark, name, rows,
      on = spark.table(s"${name}_cells").columns.contains("cb"))
    BatchTable.append(rows2, s"${name}_cells", batchId)
  }

  /** Near-dup matches of an ingest batch against the stored corpus AND
    * earlier rows of the same batch — the vector mirror of
    * [[ShingleIndex.incrementalPairs]], with the same cost contract:
    * old×old never pairs, and every stage is bounded by the batch
    * except bucket-pruned reads of the probed cells. Candidates are
    * cell co-occupants under `assignProbe`-way multi-assignment of the
    * BATCH side (the store holds probe=1 assignments; multi-probing the
    * batch recovers boundary-straddling pairs — same recall geometry as
    * [[Similarity.ivfNearDupPairs]]). They come from the uncapped
    * [[Dedup.incrementalCandidates]] stage keyed on `list_id` — the
    * batch's assignments tagged new, the probed stored cells tagged
    * old — as bare id pairs, deduped BEFORE vectors re-attach, then
    * exact-cosine verified. Only the batch side is collected, one row
    * of batch ids per probed cell; the stored cell rows stream through
    * a join against those rows. A stored cell holds ~n/nCells ids,
    * linear in the stored corpus at a fixed nCells (largest measured,
    * nCells = 64: 48 ids after growing a store to 2,000 vectors by
    * 250-vector appends, 793 at 34,000), so a one-vector batch never
    * holds a whole stored cell in one row. New×new pairs emit once with
    * `vec_id < match_id` (the caller's keeper rule drops the larger id
    * — [[dupKeeperMap]], shared by the p44 gate and
    * [[graft.streaming.Streams.vectorIngestBatch]]).
    * Determinism: candidate sets and cosines are exact functions of the
    * stored centroid geometry — no RNG anywhere. Zero-norm batch
    * vectors are excluded (cosine undefined; the streaming caller gives
    * them their own fate).
    *
    * Persists the batch-side assignment and batch vectors (both
    * batch-bounded) — same caller-clears-cache convention as the pair
    * operators.
    *
    * @return (vec_id, match_id, cos, match_is_new) — one row per
    *         near-dup pair with cosine > `threshold` */
  def incrementalNearDups(batch: DataFrame, idCol: String, vecCol: String,
      name: String, threshold: Double, assignProbe: Int = 3): DataFrame = {
    val spark = batch.sparkSession
    val centroids = spark.table(s"${name}_cent")
    val v = Similarity.withNorm(batch, idCol, vecCol, "vec_id", "v")
      .persist()
    val assigned = Similarity.assignCells(v, "vec_id", "v", centroids,
      assignProbe, carryVec = false).persist()
    // FILE pruning, same shape as [[topK]]: the batch can only match
    // cells it probes, so the (batch-bounded) probed list_ids push down
    // as a static filter the bucketed store prunes files on;
    // self-disabling when the batch probes every cell.
    val nCells = centroids.count() // O(K) table
    val probed = assigned.select(col("list_id")).distinct()
      .collect().map(_.get(0))
    val cells0 = spark.table(s"${name}_cells")
    val cells = if (probed.length < nCells)
      cells0.filter(col("list_id").isin(probed: _*)) else cells0
    val cand = Dedup.incrementalCandidates(
      assigned.select(col("list_id"), col("vec_id").as("doc_id"),
          lit(true).as("is_new"))
        .unionByName(cells.select(col("list_id"),
          col("neighbor_id").as("doc_id"), lit(false).as("is_new"))),
      col("list_id"), None)
      .withColumnRenamed("new_id", "vec_id")
    // exact verify: batch vectors from the cached batch frame; stored
    // match vectors from the (bucket-pruned) cell store, one row per
    // vector (probe=1 storage assignment — no duplicates to dedup).
    // ONE join on (match_id, match_is_new) picks the side, so the
    // candidate stage has one consumer and runs once.
    val batchVecs = v.select(col("vec_id"), col("v"), col("v_n"))
    val matchVecs = batchVecs.select(col("vec_id").as("match_id"),
        col("v").as("vb"), col("v_n").as("nb"), lit(true).as("match_is_new"))
      .unionByName(cells.select(col("neighbor_id").as("match_id"),
        col("cv").as("vb"), col("cv_n").as("nb"),
        lit(false).as("match_is_new")))
    cand
      .join(batchVecs.select(col("vec_id"), col("v").as("va"),
        col("v_n").as("na")), "vec_id")
      .join(matchVecs, Seq("match_id", "match_is_new"))
      .select(col("vec_id"), col("match_id"),
        (Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
          .as("cos"), col("match_is_new"))
      .filter(col("cos") > threshold)
  }

  /** Keeper rule over [[incrementalNearDups]] pairs — THE single
    * statement of which side of a dup pair drops (the batch loop and
    * the p44 gate must agree fate-for-fate): a new×old pair drops the
    * NEW vector (the store's copy is the keeper); a new×new pair
    * (emitted once, vec_id < match_id) drops the LARGER id; min(dup_of)
    * makes the provenance column deterministic when a vector matches
    * several keepers.
    *
    * @return (vec_id, dup_of) — one row per dropped vector. */
  def dupKeeperMap(dups: DataFrame): DataFrame = {
    // one projection, not a filter per side: a match_is_new filter
    // would push into the candidate stage and run it once per side
    val nn = col("match_is_new")
    dups.select(when(nn, col("match_id")).otherwise(col("vec_id")).as("vec_id"),
        when(nn, col("vec_id")).otherwise(col("match_id")).as("_dup"))
      .groupBy(col("vec_id")).agg(min(col("_dup")).as("dup_of"))
  }

  /** Centroid-drift report for a stored index: per `batch_id`, the
    * exact mean cosine of the stored vectors to their assigned (frozen)
    * centroid — the operational face of [[Similarity.assignmentDrift]],
    * and the number behind [[append]]'s honest limit ("frozen-centroid
    * appends buy cheap ingest between periodic [[build]] refreshes,
    * they do not replace them"). The store already holds the probe=1
    * assignment AND the precomputed norms, so this is ONE scan of the
    * cell table joined to the broadcast O(nCells) centroid set and a
    * |batches|-row aggregate — no window, no re-assignment, safe to run
    * on every compaction cycle. An append batch whose `mean_cos` falls
    * materially below the base partition's (-1) means the ingest
    * distribution has left the build-time cell geometry: schedule a
    * rebuild. Exact-decimal mean ⇒ order-independent, run-reproducible.
    *
    * @return (batch_id, n_vecs, mean_cos), one row per stored batch */
  def driftReport(spark: SparkSession, name: String): DataFrame = {
    val joined = spark.table(s"${name}_cells")
      .join(broadcast(spark.table(s"${name}_cent")), Seq("list_id"))
      .select(col("batch_id"),
        (Similarity.dot(col("cv"), col("centroid"))
          / (col("cv_n") * col("centroid_n"))).as("c_cos"))
    Similarity.exactMean(joined, Seq("batch_id"), "c_cos", "mean_cos")
  }

  /** Quantization-error drift for a PQ-built store: per `batch_id`,
    * the exact mean squared reconstruction error ‖r − book[codes]‖²
    * of the stored codes against the FROZEN books — the residual twin
    * of [[driftReport]], and the "retrain the books" signal behind
    * [[append]]'s frozen-books tradeoff: an ingest distribution that
    * left the build-time residual geometry quantizes badly (codes stop
    * discriminating) even when its cell ASSIGNMENT still looks healthy,
    * so the two monitors are complementary, not redundant. One scan of
    * the cell store (cv, cv_n, codes) joined to the broadcast O(nCells)
    * centroid set, reconstruction from the O(nCodes·d) book literal,
    * |batches|-row exact-decimal aggregate — safe on every compaction
    * cycle. An append batch whose `mean_qerr` sits materially above the
    * base partition's (-1) means: rebuild with fresh books.
    *
    * @return (batch_id, n_vecs, mean_qerr), one row per stored batch */
  def quantizationDrift(spark: SparkSession, name: String): DataFrame = {
    require(spark.catalog.tableExists(s"${name}_books"),
      s"quantizationDrift: $name was not built with pq=Some(PqSpec(...))")
    val books = loadBooks(spark, name)
    val ds = books(0)(0).length
    def qerrTerm(j: Int): Column = {
      val flat = typedlit(books(j).flatten.toSeq)
      call_function("graft_l2_range", col("rv"), flat,
        lit(j * ds), col("codes").getItem(j) * lit(ds), lit(ds))
    }
    val joined = spark.table(s"${name}_cells")
      .join(broadcast(unitCentroids(spark, name)), Seq("list_id"))
      .select(col("batch_id"), col("codes"),
        zip_with(transform(col("cv"), x => x / col("cv_n")),
          col("ucent"), (x, ce) => x - ce).as("rv"))
      .select(col("batch_id"),
        books.indices.map(qerrTerm).reduceLeft(_ + _).as("qerr"))
    Similarity.exactMean(joined, Seq("batch_id"), "qerr", "mean_qerr")
  }

  /** ANN top-k for a query batch against the stored corpus —
    * row-for-row `Similarity.ivfTopK(queries, corpus, …, nCells)` with
    * the corpus-side work (norms, assignment, the list_id shuffle)
    * already paid at [[build]] time.
    *
    * @return (query_id, rank, neighbor_id) — identical to ivfTopK */
  /** Probed-cell projection of `{name}_cells` with the static bucket/
    * file pruning every store read shares — the IVF mirror of
    * ShingleIndex's partition filter: a batch can only match cells it
    * PROBES, so the (≤ |Q|·nProbe, tiny) probed list_ids push down as
    * a static filter on the bucket column, and Spark's bucket pruning
    * skips every unprobed cell's files at planning. Decisive for small
    * batches (single-query lookups read nProbe cells' files, not the
    * corpus); self-disabling when the batch probes every cell, where
    * an always-true isin would cost a per-row check and prune nothing.
    *
    * @return (pruned cells projected to `cols`, probed ids, nCells) —
    *   the latter two so the caller's rerank read can reuse the prune.
    */
  private def probedCells(spark: SparkSession, name: String,
      probes0: DataFrame,
      cols: Seq[String]): (DataFrame, Array[Any], Long) = {
    val nCells = spark.table(s"${name}_cent").count() // O(K) table
    val probed = probes0.select(col("list_id")).distinct()
      .collect().map(_.get(0))
    val cells0 = spark.table(s"${name}_cells").select(cols.map(col): _*)
    val cells = if (probed.length < nCells)
      cells0.filter(col("list_id").isin(probed: _*)) else cells0
    (cells, probed, nCells)
  }

  /** Exact-cosine re-rank of a (query_id, neighbor_id) shortlist
    * against the STORE's cv column — the bounded raw-vector read every
    * shortlist tier shares: the (small, ≤|Q|·R) shortlist ids collect
    * so the cv read plans as a static isin pushed to parquet, where
    * row-group stats on the (list_id, neighbor_id)-sorted cells skip
    * everything else; the probed-cell prune composes on top. */
  private def storeRerank(spark: SparkSession, name: String,
      short: DataFrame, probed: Array[Any], nCells: Long,
      q: DataFrame, k: Int): DataFrame = {
    val ids = short.select(col("neighbor_id")).distinct()
      .collect().map(_.get(0))
    val vecs = spark.table(s"${name}_cells")
      .select(col("list_id"), col("neighbor_id"), col("cv"), col("cv_n"))
    val vecsPruned = (if (probed.length < nCells)
      vecs.filter(col("list_id").isin(probed: _*)) else vecs)
      .filter(col("neighbor_id").isin(ids: _*))
      .select(col("neighbor_id"), col("cv"), col("cv_n"))
    Similarity.rerankExact(short, vecsPruned, q, k)
  }

  def topK(queries: DataFrame, idCol: String, vecCol: String, name: String,
      k: Int, nProbe: Int = 3): DataFrame = {
    require(nProbe >= 1, s"topK: nProbe must be >= 1, got $nProbe")
    val spark = queries.sparkSession
    val centroids = spark.table(s"${name}_cent")
    val q = Similarity.withNorm(queries, idCol, vecCol, "query_id", "qv")
    // persisted: feeds the probed-cell collect below AND the probe join
    // (without it the |Q|·nCells assignment cosines run twice) — same
    // caller-clears-cache convention as the pair operators
    val probes = Similarity.assignCells(q, "query_id", "qv", centroids,
      nProbe).persist()
    val (cells, _, _) = probedCells(spark, name, probes,
      Seq("list_id", "neighbor_id", "cv", "cv_n"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    probes.join(cells, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (Similarity.dot(col("qv"), col("cv"))
          / (col("qv_n") * col("cv_n"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** ANN top-k by asymmetric distance over the stored residual codes —
    * row-for-row [[Similarity.ivfPqTopK]] for the same corpus and PQ
    * spec (IvfIndexSpec pins it; p47 is the oracle gate for the
    * semantics), with the corpus-side work ALREADY PAID at [[build]]:
    * assignment, residual, encode. The decisive scale property is what
    * this read does NOT touch: the probed-cell scan projects
    * (list_id, neighbor_id, codes) only, so the raw `cv` embedding
    * column — ~4·d/m× the codes' bytes — never leaves the parquet
    * footer (columnar pruning; the spec asserts cv is absent from the
    * scan's ReadSchema). Same bucket/file pruning on probed list_ids
    * as [[topK]]. Run this when the embedding store itself is the
    * serving bottleneck; run [[topK]] when exact in-cell ranking is
    * worth reading vectors.
    *
    * @param rerank when > 0, the ADC ranking is a SHORTLIST: exact
    *   cosine re-ranks its top-`rerank` per query (IVFADC-R). The raw
    *   `cv` read this re-introduces is bounded by the |Q|·R shortlist
    *   (an `isin` on neighbor_id that parquet row-group stats can skip
    *   on — build sorts cells by (list_id, neighbor_id) for exactly
    *   this), and PQ noise only has to keep true neighbors inside the
    *   top-R, not rank the top-k — MEASURED (SCALE.md) to be the
    *   recall rescue in the clustered regime where pure ADC collapses.
    * @return (query_id, rank, neighbor_id) — identical to [[topK]] */
  def topKAdc(queries: DataFrame, idCol: String, vecCol: String,
      name: String, k: Int, nProbe: Int = 3, rerank: Int = 0): DataFrame = {
    require(nProbe >= 1, s"topKAdc: nProbe must be >= 1, got $nProbe")
    val spark = queries.sparkSession
    require(spark.catalog.tableExists(s"${name}_books"),
      s"topKAdc: $name was not built with pq=Some(PqSpec(...)) — " +
        s"no ${name}_books table")
    val centroids = spark.table(s"${name}_cent")
    val books = loadBooks(spark, name)
    val q = Similarity.withNorm(queries, idCol, vecCol, "query_id", "qv")
    // persisted (probes0 here, the rerank shortlist below): feeds both
    // a driver collect and a join — same caller-clears-cache convention
    // as [[topK]] and the pair operators
    val probes0 = Similarity.assignCells(q, "query_id", "qv", centroids,
      nProbe).persist()
    val probes = probes0
      .join(broadcast(unitCentroids(spark, name)), Seq("list_id"))
      .select(col("list_id"), col("query_id"), col("ucent"),
        transform(col("qv"), x => x / col("qv_n")).as("qn"))
      .select(col("list_id"), col("query_id"), col("qn"),
        Similarity.dot(col("qn"), col("ucent")).as("qc"))
    val (cells, probed, nCells) = probedCells(spark, name, probes0,
      Seq("list_id", "neighbor_id", "codes"))
    val score = col("qc") + Similarity.adcScore(col("qn"), col("codes"),
      books)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    val adcRanked = cells.join(broadcast(probes), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), score.as("score"))
      .withColumn("rank", row_number().over(w))
    if (rerank <= 0)
      adcRanked.filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    else {
      val short = adcRanked.filter(col("rank") <= math.max(rerank, k))
        .select(col("query_id"), col("neighbor_id")).persist()
      storeRerank(spark, name, short, probed, nCells, q, k)
    }
  }

  /** ANN top-k by Hamming distance over the stored residual sign
    * packs — row-for-row [[Similarity.ivfBinaryTopK]] for the same
    * corpus and centroids (IvfIndexSpec pins it; p53 is the oracle
    * gate for the semantics), with the pack paid at [[build]]. The
    * shortlist scan projects (list_id, neighbor_id, cb) — ONE long per
    * 64 dims, the narrowest candidate read any tier offers (the codes
    * column is m ints, cv is d doubles) — and the exact re-rank reads
    * `cv` only for the |Q|·oversample·k shortlist via the same static
    * isin / row-group-skipping path as [[topKAdc]]'s rerank. Same
    * bucket/file pruning on probed list_ids as every store read.
    *
    * @return (query_id, rank, neighbor_id) — identical to [[topK]] */
  def topKBinary(queries: DataFrame, idCol: String, vecCol: String,
      name: String, k: Int, nProbe: Int = 3, oversample: Int = 4): DataFrame = {
    require(nProbe >= 1 && oversample >= 1,
      s"topKBinary: nProbe ($nProbe) and oversample ($oversample) must " +
        "be >= 1")
    val spark = queries.sparkSession
    require(spark.table(s"${name}_cells").columns.contains("cb"),
      s"topKBinary: $name was not built with binary=true — no cb column")
    val centroids = spark.table(s"${name}_cent")
    val q = Similarity.withNorm(queries, idCol, vecCol, "query_id", "qv")
    // persisted: feeds the probed-cell collect AND the pack join — the
    // caller-clears-cache convention shared by every store read
    val probes0 = Similarity.assignCells(q, "query_id", "qv", centroids,
      nProbe).persist()
    val probes = probes0
      .join(broadcast(centroids.select(col("list_id"), col("centroid"))),
        Seq("list_id"))
      .select(col("list_id"), col("query_id"),
        Similarity.residualPack(col("qv"), col("centroid")).as("qb"))
    val (cells, probed, nCells) = probedCells(spark, name, probes0,
      Seq("list_id", "neighbor_id", "cb"))
    val wHam = Window.partitionBy(col("query_id"))
      .orderBy(col("ham"), col("neighbor_id"))
    val short = cells.join(broadcast(probes), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Similarity.hamming(col("qb"), col("cb")).as("ham"))
      .withColumn("r", row_number().over(wHam))
      .filter(col("r") <= k * oversample)
      .select(col("query_id"), col("neighbor_id")).persist()
    storeRerank(spark, name, short, probed, nCells, q, k)
  }
}
