package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  *   - `bruteForceTopK` — exact cosine top-k: queries × corpus join,
  *     window-ranked. The correctness baseline; cost |Q|·|C|·dim.
  *   - `lshTopK` — random-hyperplane LSH: sign-bit sketch per vector,
  *     candidates share a sketch band, exact re-rank inside candidates.
  *     The 100 TB path: the corpus is sketched once (narrow), the join
  *     shuffles on small band keys, and the exact distance runs only on
  *     bucket collisions.
  *
  * Hyperplanes are seeded deterministically (splitmix-style LCG) so
  * results are reproducible run-to-run; dot products fold left-to-right
  * in double precision (zip_with + aggregate), matching the DuckDB
  * oracle's list_reduce semantics bit-for-bit.
  */
object Similarity {

  /** Sequential-order dot product in double precision. Dispatches to the
    * native codegen expression (graft.expressions.DotProduct) registered
    * by GraftExtensions — bit-identical to the HOF fold
    * `aggregate(zip_with(a,b,_*_), 0.0, _+_)` but ~4× faster and
    * codegen-span preserving. */
  def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a.cast("array<double>"), b.cast("array<double>"))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Project out id + double vector + precomputed norm. The norm
    * materializes BEFORE any pair join, so each ‖v‖ is computed once per
    * vector, not once per pair; cos(a,b) = dot/(nrm_a·nrm_b) is then the
    * exact same IEEE op sequence as the naive formula.
    *
    * Zero-norm vectors (all-zero embeddings — padding rows, failed
    * encoders) are EXCLUDED here: cosine is undefined for them, and one
    * such row would otherwise divide-by-zero an entire 100 TB job under
    * ANSI mode (or seed NaN scores whose ordering DuckDB and Spark
    * disagree on). Every cosine operator inherits the exclusion; the
    * oracles mirror it with `WHERE dot(v, v) > 0`. */
  private[graft] def withNorm(df: DataFrame, idCol: String, vecCol: String,
      id: String, vec: String): DataFrame =
    df.select(col(idCol).as(id), col(vecCol).cast("array<double>").as(vec),
      sqrt(dot(col(vecCol), col(vecCol))).as(s"${vec}_n"))
      .filter(col(s"${vec}_n") > 0)

  private def par(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself), ranked desc with id tie-break. The
    * (small) query set broadcasts; the corpus is the repartitioned
    * stream side — a single-file corpus would otherwise run the whole
    * nested-loop on one core. */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv")
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "cv")
      .repartition(par(corpus), col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qv_n") * col("cv_n"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Deterministic fixed-K centroids: the `nCells` corpus vectors with
    * the smallest (md5-derived 32-bit id-hash, id) — a corpus-size-
    * INDEPENDENT sample, so the broadcast stays O(K) and cell
    * assignment stays O(n·K) no matter how large the corpus grows
    * (the r2 hash-stride scheme produced n/cellMod centroids: an
    * ever-growing broadcast and an O(n²) assignment). Physically a
    * TakeOrderedAndProject — each partition keeps its local top-K,
    * the driver merges K·partitions rows; no full sort, no count()
    * action. Always yields min(K, n) ≥ 1 centroids on a non-empty
    * corpus (the stride filter could select zero). At 100 TB the
    * caller tunes `nCells` toward √n once per corpus from table
    * stats; the plan shape is unchanged. The cell id is the
    * centroid's own vector id; exactly reproducible in oracle SQL as
    * ORDER BY hash, id LIMIT K. */
  private[graft] def topKByHashCentroids(c: DataFrame, idName: String,
      vec: String, nCells: Int): DataFrame =
    c.select(col(idName).as("list_id"), col(vec).as("centroid"),
        col(s"${vec}_n").as("centroid_n"),
        graft.functions.TextFns.hash32(col(idName).cast("string")).as("_h"))
      .orderBy(col("_h"), col("list_id"))
      .limit(nCells)
      .drop("_h")

  /** Assign each (id, vec, vec_n) row to its `probe` nearest centroids —
    * THE single cell-assignment implementation (cosine desc, list_id
    * tie-break): every IVF consumer (ivfTopK, ivfNearDupPairs,
    * semanticContamination, semanticGateModel, IvfIndex) routes through
    * here, so the tie-break and cosine formula that the persisted-index
    * and oracle equivalences depend on live in exactly one place.
    *
    * @return (list_id, id, vec, vec_n) — one row per (row, probed cell)
    */
  private[graft] def assignCells(df: DataFrame, id: String, vec: String,
      centroids: DataFrame, probe: Int,
      keep: Seq[String] = Nil, score: Option[String] = None,
      carryVec: Boolean = true): DataFrame = {
    val byVec = Window.partitionBy(col(id))
      .orderBy(col("c_cos").desc, col("list_id"))
    // carryVec=false drops the d-dim vector and norm BEFORE the
    // nCells-fanout window — a consumer that only needs (id, cell[,
    // score]) (assignmentDrift) would otherwise shuffle ~nCells·n·d
    // doubles through the row_number sort for columns it projects away
    val vecCols = if (carryVec) Seq(col(vec), col(s"${vec}_n")) else Nil
    df.join(broadcast(centroids))
      .select(Seq(col(id)) ++ vecCols ++ Seq(col("list_id"),
        (dot(col(vec), col("centroid")) / (col(s"${vec}_n") * col("centroid_n")))
          .as("c_cos")) ++ keep.map(col): _*)
      .withColumn("_r", row_number().over(byVec))
      .filter(col("_r") <= probe)
      .select(Seq(col("list_id"), col(id)) ++ vecCols ++
        keep.map(col) ++ score.map(s => col("c_cos").as(s)): _*)
  }

  /** Sign-pack of the raw within-cell residual vec − centroid — THE
    * single statement of the 1-bit residual arithmetic: the stored
    * `cb` column, appended packs, serve-time query packs, and the
    * in-memory [[ivfBinaryTopK]] all route through here, so the
    * p53/p54 oracle equivalences cannot desync. */
  private[graft] def residualPack(vec: Column, centroid: Column): Column =
    signPack(zip_with(vec, centroid, (x, ce) => x - ce))

  /** Learned IVF centroids via spark.ml KMeans (k-means|| init, fixed
    * seed — deterministic for a given corpus + partitioning): the
    * quality upgrade over [[topKByHashCentroids]], which samples corpus
    * vectors and so places cells where DATA is, not where cluster
    * structure is. Same (list_id, centroid, centroid_n) contract, so it
    * drops into [[ivfTopK]] via the `centroids` override. Training cost
    * is maxIter passes over the corpus — paid once per corpus, amortized
    * over query batches (persist the assignment, or write it bucketed
    * by list_id). Not oracle-gated: k-means results are deterministic
    * per partitioning but not expressible in portable SQL; the spec
    * pins recall ≥ the driver-gated hash-centroid path on the fixture.
    */
  def kmeansCentroids(corpus: DataFrame, vecCol: String, nCells: Int,
      seed: Long = 42L, maxIter: Int = 5): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feats = corpus.select(
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features").fit(feats)
    val sess = corpus.sparkSession
    import sess.implicits._
    model.clusterCenters.toSeq.zipWithIndex
      .map { case (v, i) => (i.toLong, v.toArray) }
      .toDF("list_id", "centroid")
      .select(col("list_id"), col("centroid"),
        sqrt(dot(col("centroid"), col("centroid"))).as("centroid_n"))
  }

  /** IVF-flat ANN: partition the corpus into Voronoi cells around
    * `nCells` deterministic top-K-by-hash centroids (or the
    * [[kmeansCentroids]] refinement via the `centroids` override), then
    * answer queries by probing the
    * `nProbe` nearest cells and exact-ranking only their members.
    *
    * Scale shape: the centroid set is O(nCells) — constant in corpus
    * size — and broadcasts twice (assignment + probe); the corpus
    * shuffles ONCE on list_id and can be written bucketed-by-list for
    * reuse across query batches; per-query work is ~|corpus| * nProbe
    * / nCells. Recall/latency trade via nProbe; nCells ~ √n at scale.
    */
  def ivfTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 64, nProbe: Int = 3,
      centroidsOverride: Option[DataFrame] = None): DataFrame = {
    // zero cells/probes would silently return an empty result — a
    // miscomputed nCells ~ sqrt(n) from bad stats must fail, not read
    // as "no neighbors"
    require(nCells >= 1 && nProbe >= 1,
      s"ivfTopK: nCells ($nCells) and nProbe ($nProbe) must be >= 1")
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "cv")
      .repartition(par(corpus), col("neighbor_id"))
    val centroids = centroidsOverride.getOrElse(
      topKByHashCentroids(c, "neighbor_id", "cv", nCells))
    // cell assignment: argmax cosine to centroid (one broadcast join)
    val assigned = assignCells(c, "neighbor_id", "cv", centroids, 1)
    // query probes: nProbe nearest centroids per query
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv")
    val probes = assignCells(q, "query_id", "qv", centroids, nProbe)
    // exact re-rank inside probed cells
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    probes.join(assigned, Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qv_n") * col("cv_n"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Bucketed embedding near-dup: candidate pairs share one of their
    * `assignProbe` nearest IVF cells (multi-assignment — the
    * SemDeDup-style trick that keeps boundary-straddling near-dups in
    * a common cell), then EXACT cosine verification inside candidates
    * only. With `nCells` fixed centroids every cell holds ~assignProbe
    * × n / nCells vectors, so candidate count is ≈ assignProbe² · n² /
    * (2·nCells) versus the brute-force n²/2. A caller that sets
    * nCells ~ √n once per corpus (from table stats) gets O(n^1.5)
    * total pair work, an O(√n)-size broadcast, and O(n·√n)
    * assignment; the declared queries pass a fixed 64, so their cells
    * and pair work grow with n. Candidates come from the uncapped
    * [[Dedup.cappedPairs]] stage keyed on `list_id`: one groupBy, each
    * cell one row of ~assignProbe · n / nCells ids (its bound and
    * measured sizes are there), pairs deduped as bare ids before
    * vectors re-attach. Nothing broadcasts
    * the corpus; the only broadcast is the centroid set.
    * `embeddingNearDupPairs` (Dedup) remains the exact baseline that
    * specs measure recall against. */
  def ivfNearDupPairs(
      embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 64, assignProbe: Int = 3): DataFrame = {
    // not persisted: v's four readers (centroid selection, cell
    // assignment, both verify re-attaches) share its one repartition
    // exchange — the cast and norm run once, map-side, and every reader
    // reuses the shuffle output
    val v = withNorm(embs, idCol, vecCol, "vec_id", "v")
      .repartition(par(embs), col("vec_id"))
    val centroids = topKByHashCentroids(v, "vec_id", "v", nCells)
    // candidate generation over bare ids: the groupBy and the distinct
    // shuffle move 8-byte ids, not 0.5 KB vector payloads
    // (multi-assignment means ~assignProbe² duplicates of every pair —
    // dedup BEFORE attaching vectors or the verify shuffle is ~30×
    // heavier than it needs to be).
    val cand = Dedup.cappedPairs(
      assignCells(v, "vec_id", "v", centroids, assignProbe),
      col("list_id"), col("vec_id"), None)
    // exact verification: vectors re-attach via two id-keyed joins (one
    // row per vector; shuffle-on-id at scale, AQE-broadcast when small)
    val vecs = v.select(col("vec_id"), col("v"), col("v_n"))
    cand
      .join(vecs.select(col("vec_id").as("ida"), col("v").as("va"),
        col("v_n").as("na")), "ida")
      .join(vecs.select(col("vec_id").as("idb"), col("v").as("vb"),
        col("v_n").as("nb")), "idb")
      .filter(dot(col("va"), col("vb")) / (col("na") * col("nb")) > threshold)
      .select(col("ida"), col("idb"))
  }

  /** Semantic (embedding-space) decontamination — the SemDeDup-style
    * complement to the lexical n-gram gates in Decontaminate: a corpus
    * item is contaminated when its embedding sits within cosine
    * `threshold` of ANY eval-set embedding, catching paraphrased or
    * reformatted benchmark leakage that shares no 8-gram with the
    * original. Candidates are pairs sharing an IVF cell (centroids
    * seeded deterministically from the CORPUS side — eval-set
    * independence keeps the cell layout stable as benchmarks rotate;
    * both sides multi-assign to their `assignProbe` nearest cells),
    * then exact cosine verification on candidates only — the same
    * O(n·√n)-shaped plan as [[ivfNearDupPairs]], never |corpus|×|eval|.
    * Every stage breaks ties on ids, so even the approximate candidate
    * set is deterministic and the DuckDB oracle reproduces the verdicts
    * bit-for-bit.
    *
    * Zero-norm corpus vectors are excluded (cosine undefined — same
    * rule as [[withNorm]] everywhere else); the eval side likewise.
    *
    * @return one row per (norm-positive) corpus vector:
    *         (vec_id, n_eval_near, contaminated)
    */
  def semanticContamination(
      corpus: DataFrame, eval: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int = 64, assignProbe: Int = 3): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol, "vec_id", "v")
      .repartition(par(corpus), col("vec_id"))
      .persist() // feeds centroid seed, assignment, verify, and rollup
    val e = withNorm(eval, idCol, vecCol, "eval_id", "ev").persist()
    val centroids = topKByHashCentroids(c, "vec_id", "v", nCells)
    // id-only candidates, deduped BEFORE vectors re-attach (the same
    // ~30× shuffle saving as ivfNearDupPairs' id-only candidates)
    val cand = assignCells(c, "vec_id", "v", centroids, assignProbe)
      .select(col("list_id"), col("vec_id"))
      .join(assignCells(e, "eval_id", "ev", centroids, assignProbe)
        .select(col("list_id"), col("eval_id")), Seq("list_id"))
      .select(col("vec_id"), col("eval_id"))
      .distinct()
    val hits = cand
      .join(c.select(col("vec_id"), col("v"), col("v_n")), "vec_id")
      .join(e, "eval_id")
      .filter(dot(col("v"), col("ev")) / (col("v_n") * col("ev_n"))
        > threshold)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_eval_near"))
    c.select(col("vec_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_eval_near"), lit(0L)).as("n_eval_near"))
      .withColumn("contaminated", col("n_eval_near") > 0)
  }

  /** Learned quality classifier, split Spark-first into train vs
    * inference: spark.ml LogisticRegression fits on a LABELED SAMPLE
    * (training cost ∝ sample, deterministic for fixed data +
    * partitioning — L-BFGS has no RNG; same contract as
    * [[kmeansCentroids]]), and inference is LOWERED TO A PURE
    * PROJECTION — sigmoid(dot(v, coef) + intercept) over the codegen
    * DotProduct — so scoring a 100 TB corpus is a per-row map with no
    * ml stage, no UDF, no shuffle, pipelining into whatever scan
    * produces the vectors. The O(dim) coefficient vector embeds as a
    * plan literal (the CCNet/RefinedWeb "quality classifier" pattern:
    * train small, score everything).
    *
    * QualityModelSpec pins the lowering's faithfulness (probabilities ≡
    * spark.ml's transform within float slack), training determinism,
    * and the shuffle-free scorer plan. */
  final case class LogisticModel(coefficients: Seq[Double],
      intercept: Double)

  /** Fit a binary classifier on (vector, 0/1 label) rows. */
  def trainLogistic(labeled: DataFrame, vecCol: String, labelCol: String,
      maxIter: Int = 50, regParam: Double = 0.0): LogisticModel = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.functions.array_to_vector
    val feats = labeled.select(
      array_to_vector(col(vecCol).cast("array<double>")).as("features"),
      col(labelCol).cast("double").as("label"))
    val m = new LogisticRegression().setMaxIter(maxIter)
      .setRegParam(regParam).fit(feats)
    LogisticModel(m.coefficients.toArray.toSeq, m.intercept)
  }

  /** P(label=1 | v) as a scalar Column — compose into any projection. */
  def logisticScore(model: LogisticModel, v: Column): Column = {
    val z = dot(v.cast("array<double>"),
      array(model.coefficients.map(lit): _*)) + lit(model.intercept)
    lit(1.0) / (lit(1.0) + exp(lit(0.0) - z))
  }

  /** Driver-side model for the STREAMING semantic gate
    * (`Streams.semanticGate`) — the embedding-space analog of the Bloom
    * sketch bytes: small enough to embed as plan literals, built once
    * per eval-suite release.
    *
    * `centroids` are seeded from the EVAL side here (unlike the batch
    * [[semanticContamination]], which seeds from the corpus for
    * eval-rotation stability): a stream has no corpus to seed from, and
    * the eval set IS the geometry being guarded. Eval vectors
    * multi-assign to their `assignProbe` nearest cells so
    * boundary-straddling queries still meet them.
    *
    * Size: O(nCells + |eval|·assignProbe) driver memory / plan-literal
    * bytes — bounded by the benchmark suite, never the stream. Requires
    * long-typed eval ids (used only to count DISTINCT near vectors). */
  final case class SemanticGateModel(
      centroids: Seq[(Long, Seq[Double], Double)],
      cells: Map[Long, Seq[(Long, Seq[Double], Double)]])

  def semanticGateModel(
      eval: DataFrame, idCol: String, vecCol: String,
      nCells: Int = 64, assignProbe: Int = 3): SemanticGateModel = {
    val e = withNorm(eval, idCol, vecCol, "eval_id", "ev").persist()
    val centroids = topKByHashCentroids(e, "eval_id", "ev", nCells)
    val assigned = assignCells(e, "eval_id", "ev", centroids, assignProbe)
    val cent = centroids.collect().map(r => (r.getAs[Long]("list_id"),
      r.getAs[scala.collection.Seq[Double]]("centroid").toSeq,
      r.getAs[Double]("centroid_n"))).toSeq
    val cells = assigned.collect()
      .map(r => (r.getAs[Long]("list_id"), (r.getAs[Long]("eval_id"),
        r.getAs[scala.collection.Seq[Double]]("ev").toSeq,
        r.getAs[Double]("ev_n"))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    e.unpersist(blocking = false)
    require(cent.nonEmpty, "semanticGateModel needs a non-empty eval set")
    SemanticGateModel(cent, cells)
  }

  /** k-NN label prediction + per-label accuracy: predict each query
    * vector's label by majority vote among its `k` nearest corpus
    * vectors (cosine), ties broken toward the smaller label; report
    * (label, n_queries, n_correct, accuracy) per true label — the
    * embedding-quality eval harness of a training-data pipeline
    * (fastText-style label probing over the embedding column).
    *
    * The neighbor stage is PLUGGABLE: any (queries, corpus, idCol,
    * vecCol, k) → (query_id, rank, neighbor_id) producer. The default
    * `bruteForceTopK` is the exact baseline, but it `broadcast`s the
    * query side — only safe when |Q| is genuinely small; for a
    * corpus-fraction holdout pass `ivfTopK`/`lshTopK` (the driver gates
    * BOTH compositions: p25 brute-force, p25b via ivfTopK — the shape
    * that survives a corpus-sized query set). The vote and rollup
    * stages are identical either way and shuffle only (query, label)
    * pairs: bounded by |Q|·k, never corpus-sized.
    */
  def knnClassify(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int,
      neighbors: (DataFrame, DataFrame, String, String, Int) => DataFrame =
        bruteForceTopK(_, _, _, _, _)): DataFrame = {
    val nn = neighbors(queries, corpus, idCol, vecCol, k)
    val nbrLabels = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("nbr_label"))
    val byVotes = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("nbr_label"))
    val pred = nn.join(nbrLabels, "neighbor_id")
      .groupBy(col("query_id"), col("nbr_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("_r", row_number().over(byVotes))
      .filter(col("_r") === 1)
      .select(col("query_id"), col("nbr_label").as("pred_label"))
    queries.select(col(idCol).as("query_id"), col(labelCol).as("label"))
      .join(pred, "query_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_queries"),
        count(when(col("pred_label") === col("label"), 1)).as("n_correct"))
      .withColumn("accuracy",
        col("n_correct").cast("double") / col("n_queries"))
  }

  /** Deterministic pseudo-random unit-free hyperplanes: `planes(p)(i)` is
    * ±1 — sign sketches only need the component signs, so ±1 components
    * (a.k.a. sign-random-projection with Rademacher vectors) preserve the
    * cosine-LSH collision property. */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    var state = 0x9E3779B97F4A7C15L
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
    Seq.fill(nPlanes)(Seq.fill(dim)(if ((next() >>> 40) % 2 == 0) 1.0 else -1.0))
  }

  /** Sign sketch: bit p = (v · plane_p) >= 0, packed into a long per
    * band of `bitsPerBand` planes. */
  private def sketchBands(
      v: Column, planes: Seq[Seq[Double]], bitsPerBand: Int): Column = {
    val bits: Seq[Column] = planes.map { p =>
      val planeLit = array(p.map(lit): _*)
      when(dot(v, planeLit) >= 0, 1L).otherwise(0L)
    }
    val bands = bits.grouped(bitsPerBand).toSeq
    array(bands.zipWithIndex.map { case (bs, bandIdx) =>
      val key = bs.zipWithIndex.map { case (b, i) => b * lit(1L << i) }.reduce(_ + _)
      struct(lit(bandIdx).as("band"), key.as("key"))
    }: _*)
  }

  /** LSH ANN top-k: candidates = corpus vectors sharing ≥1 sketch band
    * with the query; exact cosine re-rank inside candidates. Recall
    * grows with bands; precision with bitsPerBand. */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      bands: Int = 16, bitsPerBand: Int = 4, dim: Int = 64): DataFrame = {
    // fail fast on a dim/vector-width mismatch: the hyperplane literals
    // are sized by `dim`, and a narrower actual vector would silently
    // degrade (zip_with truncates) instead of erroring. One sampled row
    // per side — a 1-row take, not a scan.
    for (df <- Seq(queries, corpus);
        r <- df.select(size(col(vecCol)).as("d")).take(1)
        if !r.isNullAt(0)) { // a NULL sampled vector: nothing to check
      require(r.getInt(0) == dim,
        s"lshTopK(dim = $dim) but '$vecCol' vectors have ${r.getInt(0)} " +
          "elements — pass the actual embedding width")
    }
    val planes = hyperplanes(bands * bitsPerBand, dim)
    // persisted: each side feeds its sketch AND the re-rank vector
    // lookup; 1 row per vector, so the cache is corpus-sized, not
    // candidate-sized.
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv").persist()
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "cv")
      .repartition(par(corpus), col("neighbor_id")).persist()
    // candidate generation over bare ids: the band join and the distinct
    // shuffle move (band, key, id) rows — a band collides ~|bucket|
    // times per query, so carrying the two 64-dim vectors through the
    // join + dropDuplicates (the old shape) multiplied the shuffle
    // payload by ~60×. Vectors re-attach per UNIQUE candidate below.
    def keyed(df: DataFrame, id: String, vec: String) = df
      .select(col(id), explode(sketchBands(col(vec), planes, bitsPerBand)).as("bk"))
      .select(col(id), col("bk.band").as("band"), col("bk.key").as("key"))
    val cand = keyed(q, "query_id", "qv")
      .join(keyed(c, "neighbor_id", "cv"), Seq("band", "key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    // no broadcast hint on either re-attach join: the query side is
    // usually small (AQE broadcasts it at runtime) but its true size is
    // caller-controlled — a forced broadcast would be the failure mode
    // on corpus-scale query batches, where SMJ degrades gracefully.
    cand
      .join(q, "query_id")
      .join(c, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qv_n") * col("cv_n"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Per-group per-dimension embedding means — the corpus-centroid
    * analytics view (domain drift, per-source embedding bias). Long
    * format (group, dim, n_vecs, mean_val): one row per dimension, so
    * the output is scalar-typed and cross-engine comparable without
    * array-equality semantics.
    *
    * Exactness: each component is fixed to integer PICOUNITS —
    * round(toDouble(v)·1e12) as a long — so the per-row quantization is
    * a fixed sequence of IEEE ops identical in any engine, and the
    * cross-partition SUM is exact integer arithmetic (order-independent,
    * unlike a double fold). The sum accumulates in DECIMAL(38,0): the
    * long→decimal cast is exact (no float→decimal rounding anywhere),
    * and a plain LongType sum would wrap silently past 2^63 — for
    * unit-magnitude components that is only ~9.2M vectors per group,
    * well inside corpus scale — while DuckDB's BIGINT sum widens to
    * HUGEINT and would diverge exactly there. 38 digits hold ~10^19
    * unit-magnitude picounit rows per group. Decimal MULTIPLY is still
    * deliberately avoided (precision-38 overflow rounds silently); the
    * only decimal op here is the exact integer sum, and the final
    * DECIMAL→DOUBLE / HUGEINT→DOUBLE casts are both
    * correctly-rounded nearest-double conversions of the same exact
    * integer. Requires |v| < ~10^6 (units fit a long per row). Plan:
    * posexplode + one shuffle on (group, dim); dimension count bounds
    * state.
    */
  def dimensionMeans(df: DataFrame, groupCol: String,
      vecCol: String): DataFrame =
    exactMean(
      df.select(col(groupCol).as("grp"),
          posexplode(col(vecCol).cast("array<float>")))
        .select(col("grp"), col("pos"), col("col").cast("double").as("_v")),
      Seq("grp", "pos"), "_v", "mean_val")
      .select(col("grp"), (col("pos") + 1).as("dim"), col("n_vecs"),
        col("mean_val"))

  /** Order-independent exact mean of a double column (grouped): rows
    * become integer picounits (float→double, ·1e12, round-away-from-
    * zero, long), the group sums them EXACTLY in DECIMAL(38,0), and one
    * final correctly-rounded cast yields the double mean — shared so
    * every cross-engine-exact mean in the engine ([[dimensionMeans]],
    * [[assignmentDrift]], the store-side drift/quantization reports)
    * states the arithmetic once. Requires |value| < ~10⁶ per row
    * (picounits fit a long). */
  private[graft] def exactMean(grouped: DataFrame, groupCols: Seq[String],
      valCol: String, outCol: String): DataFrame =
    grouped.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_vecs"),
        sum(round(col(valCol) * lit(1e12))
          .cast("long").cast("decimal(38,0)")).as("_units"))
      .select(groupCols.map(col) ++ Seq(col("n_vecs"),
        (col("_units").cast("double")
          / (col("n_vecs").cast("double") * lit(1e12))).as(outCol)): _*)

  /** Hard-negative mining for contrastive training pairs (the
    * retrieval-training data step: E5/BGE-style "top-k similar but
    * not-positive" negatives). For each (query_id, pos_id) pair, rank
    * the corpus by exact cosine to the query and keep the `k` best
    * candidates that are (a) not the query itself, (b) not one of the
    * query's positives, and (c) at least `margin` BELOW the query's
    * least-positive cosine — the standard false-negative guard: a
    * candidate scoring within `margin` of a positive is more likely an
    * unlabeled positive than a useful negative.
    *
    * Scale shape: the pair set is the bounded side (training batches,
    * not the corpus) — queries + their positive cosines broadcast; the
    * corpus streams through one map-side nested-loop scoring pass
    * (the [[bruteForceTopK]] shape), the margin filter prunes BEFORE
    * the per-query rank window, and the positive exclusion is a
    * broadcast anti join. Nothing shuffles the corpus on a new key.
    * This exact form is the oracle baseline; at 100 TB feed the
    * candidate stream from the IVF store's probed cells instead
    * (compose with [[ivfTopK]]/IvfIndex.topK) — the gate and window
    * are unchanged.
    *
    * @param pairs (query_id, pos_id) — ids must exist in `corpus`
    * @return (query_id, rnk, neighbor_id, cos, pos_cos) with rnk ≤ k;
    *         pos_cos is the query's least-positive cosine the margin
    *         was gated against
    */
  def hardNegatives(pairs: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, margin: Double): DataFrame = {
    require(k >= 1 && margin >= 0.0,
      s"hardNegatives: need k >= 1 and margin >= 0, got k=$k margin=$margin")
    val v = withNorm(corpus, idCol, vecCol, "vid", "vv")
    val q = v.select(col("vid").as("query_id"), col("vv").as("qv"),
      col("vv_n").as("qv_n"))
    val pos = v.select(col("vid").as("pos_id"), col("vv").as("pv"),
      col("vv_n").as("pv_n"))
    val p = pairs.select(col("query_id"), col("pos_id"))
    val posCos = leastPosCos(p, q, pos)
    val qSet = q.join(broadcast(posCos), Seq("query_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    v.repartition(par(corpus), col("vid"))
      .join(broadcast(qSet), col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid").as("neighbor_id"),
        (dot(col("qv"), col("vv")) / (col("qv_n") * col("vv_n")))
          .as("cos"),
        col("pos_cos"))
      .join(broadcast(p.select(col("query_id"),
        col("pos_id").as("neighbor_id"))),
        Seq("query_id", "neighbor_id"), "left_anti")
      .filter(col("cos") < col("pos_cos") - lit(margin))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("cos"), col("pos_cos"))
  }

  /** Least-positive cosine per query over the (query_id, pos_id) pair
    * set — the false-negative yardstick both hard-negative forms gate
    * against. min() is order-independent, so multi-positive queries
    * stay deterministic under any partitioning. Every join streams the
    * CORPUS side against a broadcast of the bounded pair side (pairs
    * are training batches, not the corpus) — without the hints a
    * stats-free pair frame can plan sort-merge, shuffling the 100 TB
    * corpus for a bounded lookup. */
  private def leastPosCos(p: DataFrame, q: DataFrame,
      pos: DataFrame): DataFrame = {
    val qp = q.join(broadcast(p), Seq("query_id"))
    pos.join(broadcast(qp), Seq("pos_id"))
      .select(col("query_id"),
        (dot(col("qv"), col("pv")) / (col("qv_n") * col("pv_n")))
          .as("pcos"))
      .groupBy(col("query_id")).agg(min(col("pcos")).as("pos_cos"))
  }

  /** [[hardNegatives]] with the candidate stream supplied by an ANN
    * shortlist instead of the exact corpus scan — the 100 TB serving
    * form the exact operator's doc promises: `shortlist` is
    * (query_id, neighbor_id[, …]) from [[ivfTopK]] or
    * [[IvfIndex.topK]] (self already excluded there), oversampled
    * past `k` so the gate has room to drop positives and
    * margin-violators. Exact cosines are recomputed on the BOUNDED
    * |Q|·poolK candidate set (two broadcast-bounded joins against the
    * corpus — the IVFADC-R bounded-read pattern), so the gate and
    * ranking arithmetic are identical to the exact form; only
    * candidate RECALL is approximate, and that is the ANN tier's
    * measured property, not this operator's.
    *
    * @return (query_id, rnk, neighbor_id, cos, pos_cos) with rnk ≤ k
    */
  def hardNegativesFromShortlist(shortlist: DataFrame, pairs: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      margin: Double): DataFrame = {
    require(k >= 1 && margin >= 0.0,
      s"hardNegativesFromShortlist: need k >= 1 and margin >= 0, " +
        s"got k=$k margin=$margin")
    val v = withNorm(corpus, idCol, vecCol, "vid", "vv")
    val q = v.select(col("vid").as("query_id"), col("vv").as("qv"),
      col("vv_n").as("qv_n"))
    val pos = v.select(col("vid").as("pos_id"), col("vv").as("pv"),
      col("vv_n").as("pv_n"))
    val p = pairs.select(col("query_id"), col("pos_id"))
    val posCos = leastPosCos(p, q, pos)
    val sl = shortlist.select(col("query_id"), col("neighbor_id"))
    // attach both vectors to the bounded shortlist: corpus side streams,
    // bounded side broadcasts, twice
    val withCv = v.join(broadcast(sl), col("vid") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        col("vv").as("cv"), col("vv_n").as("cv_n"))
    val scored = q.join(broadcast(withCv), Seq("query_id"))
      .join(broadcast(posCos), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qv_n") * col("cv_n")))
          .as("cos"),
        col("pos_cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .join(broadcast(p.select(col("query_id"),
        col("pos_id").as("neighbor_id"))),
        Seq("query_id", "neighbor_id"), "left_anti")
      .filter(col("cos") < col("pos_cos") - lit(margin))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"),
        col("cos"), col("pos_cos"))
  }

  /** Cluster-balanced sampling — the topic-balance curation step of
    * the SemDeDup/DataComp family: cluster the corpus embeddings, then
    * keep a deterministic exact-`k` quota per cluster, so the sample
    * covers the embedding space's STRUCTURE instead of its frequency
    * mass (a corpus that is 90% one topic contributes the same k docs
    * from that topic as from a rare one).
    *
    * Composition of three audited pieces: [[topKByHashCentroids]]
    * (deterministic, oracle-replayable cells; pass `centroids` for
    * learned [[kmeansCentroids]] quality), [[assignCells]] at probe=1
    * (THE single assignment implementation — broadcast centroids, one
    * map-side join, per-id window, no corpus shuffle on the vector),
    * and [[graft.operators.Corpus.exactKPerGroup]] (hash-order quota
    * whose rank filter compiles to a map-side WindowGroupLimit — a
    * mega-cluster never serializes through one task).
    *
    * @return (grp = cluster list_id, doc_id = vector id, rnk ≤ k)
    */
  def clusterBalancedSample(corpus: DataFrame, idCol: String,
      vecCol: String, nCells: Int, k: Int,
      centroids: Option[DataFrame] = None): DataFrame = {
    val v = withNorm(corpus, idCol, vecCol, "vec_id", "v")
    val cent = centroids.getOrElse(
      topKByHashCentroids(v, "vec_id", "v", nCells))
    val assigned = assignCells(v, "vec_id", "v", cent, probe = 1,
      carryVec = false)
    graft.operators.Corpus.exactKPerGroup(assigned, "list_id", "vec_id", k)
  }

  /** Assignment-quality drift monitor: per group, the exact mean cosine
    * of each vector to its NEAREST centroid in a FROZEN centroid set —
    * the measurement behind [[IvfIndex.append]]'s documented tradeoff
    * ("if the ingest distribution drifts from the build corpus, cells
    * imbalance and recall decays"). Group the corpus as base-vs-batch
    * (or per ingest day) and a batch whose mean assignment cosine falls
    * materially below the base's is drifting away from the build-time
    * cell geometry: rebuild when recall matters more than ingest cost —
    * now a number, not a judgment call.
    *
    * Scale shape: one broadcast of the O(K) centroid set, one per-row
    * argmax window, one G-row aggregate — no corpus self-join, state
    * bounded by |groups|. The mean is exact-decimal ([[exactMean]]), so
    * the result is order-independent and bit-reproducible by the p46
    * oracle. Zero-norm vectors are excluded ([[withNorm]]'s contract);
    * ids must be unique across the whole frame (the argmax window keys
    * on them).
    *
    * @return (grp, n_vecs, mean_cos) one row per group */
  def assignmentDrift(corpus: DataFrame, groupCol: String, idCol: String,
      vecCol: String, centroids: DataFrame): DataFrame = {
    val v = corpus.select(col(groupCol).as("grp"), col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"),
        sqrt(dot(col(vecCol), col(vecCol))).as("v_n"))
      .filter(col("v_n") > 0)
    // nearest-cell pick routes through assignCells — THE single
    // assignment implementation — with the winning cosine carried out,
    // so the tie-break/formula the oracles replay lives in one place;
    // carryVec=false keeps the d-dim payload out of the fanout window
    val assigned = assignCells(v, "vec_id", "v", centroids, probe = 1,
      keep = Seq("grp"), score = Some("c_cos"), carryVec = false)
    exactMean(assigned, Seq("grp"), "c_cos", "mean_cos")
  }

  // ---- product quantization ---------------------------------------------

  /** Deterministic product-quantization codebooks (Jégou/Douze/Schmid,
    * TPAMI 2011: split the space into `m` orthogonal subspaces, quantize
    * each independently): the `nCodes` hash-sampled corpus vectors (the
    * SAME `ORDER BY (hash32(id), id) LIMIT n` sample rule as
    * [[topKByHashCentroids]], so the oracle replays it verbatim),
    * L2-normalized and sliced into `m` subvectors. The code id of a
    * codebook entry is its position in the hash order.
    *
    * Collected to the driver: m·nCodes·(d/m) = nCodes·d doubles —
    * O(K), corpus-size-INDEPENDENT, the same class of bounded driver
    * materialization as the LSH hyperplanes and the semantic-gate
    * literals. At 100 TB the codebooks are still a few KB; they ride to
    * executors as plan literals, so encoding needs no join at all.
    *
    * Sampled codebooks trade reconstruction quality for cross-engine
    * determinism exactly as [[topKByHashCentroids]] does vs
    * [[kmeansCentroids]]; a per-subspace k-means upgrade slots in here
    * without touching encode/ADC (they only see the arrays).
    *
    * @return codebooks(j)(c) = subvector c of subspace j */
  private[graft] def pqCodebooks(corpus: DataFrame, idCol: String,
      vecCol: String, m: Int, nCodes: Int): Array[Array[Array[Double]]] = {
    val c = withNorm(corpus, idCol, vecCol, "cid", "cv")
    hashSampledBooks(
      c.select(col("cid"),
        transform(col("cv"), x => x / col("cv_n")).as("nv")),
      "cid", "nv", m, nCodes, "pqCodebooks")
  }

  /** THE oracle-replayable codebook sample — shared by [[pqCodebooks]]
    * (normalized vectors) and [[residualCodebooks]] (cell residuals)
    * so the `ORDER BY (hash32(id), id) LIMIT n` rule, the d % m check,
    * and the code-id order the oracles' ROW_NUMBER replays live in
    * exactly one place. Sort+limit plans as TakeOrderedAndProject:
    * collect() returns rows in (hash, id) order, which IS the code-id
    * order. */
  private def hashSampledBooks(df: DataFrame, idName: String,
      vecName: String, m: Int, nCodes: Int,
      what: String): Array[Array[Array[Double]]] = {
    val sample = df
      .select(col(vecName),
        graft.functions.TextFns.hash32(col(idName).cast("string")).as("_h"),
        col(idName))
      .orderBy(col("_h"), col(idName))
      .limit(nCodes)
      .select(col(vecName))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, s"$what: corpus has no non-zero vectors")
    val d = sample.head.length
    require(d % m == 0, s"$what: dim $d not divisible by m=$m")
    val ds = d / m
    Array.tabulate(m)(j => sample.map(v =>
      java.util.Arrays.copyOfRange(v, j * ds, (j + 1) * ds)))
  }

  /** Per-subspace k-means PQ codebooks — the quality upgrade over the
    * hash-sampled [[pqCodebooks]], with exactly the [[kmeansCentroids]]
    * tradeoff: sampled books are portable-SQL-replayable (the oracle
    * gates), learned books place codes where the subvector DISTRIBUTION
    * is (Lloyd iterations minimize the quantization error that IS PQ's
    * ranking noise) and are deterministic per corpus + partitioning but
    * not oracle-expressible — recall is MEASURED (tools/RecallProbe
    * `*_kmbooks` variants). Decisive for residual encoding: residuals
    * concentrate in a small ball around the origin, where k-means
    * resolution beats sampled corpus offsets by construction.
    *
    * `vecs` rows are trained as-is (pass normalized vectors for
    * [[pqTopK]], residuals for [[ivfPqTopK]] — the books only see
    * arrays). m fits of `nCodes` centers each over n×(d/m) slices; at
    * 100 TB train on a bounded hash-sample of the corpus first — Lloyd
    * passes over the full corpus buy nothing a sample doesn't. */
  def pqKmeansCodebooks(vecs: DataFrame, vecCol: String,
      m: Int, nCodes: Int, seed: Long = 42L,
      maxIter: Int = 5): Array[Array[Array[Double]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // head(1), not head(): an empty training frame (e.g. every vector
    // zero-norm) must read as the function's own message, not an
    // opaque NoSuchElementException
    val first = vecs.select(size(col(vecCol))).head(1)
    require(first.nonEmpty, "pqKmeansCodebooks: no training vectors")
    val d = first(0).getInt(0)
    require(d % m == 0, s"pqKmeansCodebooks: dim $d not divisible by m=$m")
    val ds = d / m
    val slices = vecs.select((0 until m).map(j =>
      array_to_vector(slice(col(vecCol), j * ds + 1, ds))
        .as(s"_s$j")): _*).persist()
    try {
      // k must not exceed the training row count (spark.ml k-means
      // rejects k > n) — a tiny corpus just gets a tiny codebook, the
      // same degradation the hash-sample rule has by construction.
      // spark.ml additionally rejects k == 1 (ParamValidators.gt(1)),
      // but a 1-code book is well-defined: the per-subspace MEAN (what
      // k-means at k=1 converges to) — compute it directly so a 1-row
      // training frame (or nCodes=1) degrades instead of crashing
      val k = math.min(nCodes.toLong, slices.count()).toInt
      require(k > 0, "pqKmeansCodebooks: no training vectors")
      if (k == 1) {
        import org.apache.spark.ml.stat.Summarizer
        val means = slices.select((0 until m).map(j =>
          Summarizer.mean(col(s"_s$j")).as(s"_m$j")): _*).head()
        Array.tabulate(m)(j => Array(
          means.getAs[org.apache.spark.ml.linalg.Vector](j).toArray))
      } else Array.tabulate(m) { j =>
        new KMeans().setK(k).setSeed(seed + j).setMaxIter(maxIter)
          .setFeaturesCol(s"_s$j").fit(slices)
          .clusterCenters.map(_.toArray)
      }
    } finally slices.unpersist(blocking = false)
  }

  /** PQ-encode a corpus: each vector becomes `m` small integer codes —
    * the nearest codebook entry (squared L2, lowest-code tie-break via
    * array_position's first-match) per subspace, computed on the
    * L2-NORMALIZED vector so ADC inner products approximate cosine.
    *
    * This is the 100 TB memory lever for vector search: m bytes-ish per
    * vector instead of 4·d (64-dim float32 → 8 codes ≈ 32× smaller), so
    * a corpus that cannot hold its raw embeddings in cluster memory
    * serves ANN from the encoded table. The encode itself is a PURE
    * PER-ROW MAP over plan-literal codebooks — no join, no shuffle, no
    * state; it pipelines into whatever scan produces the vectors, the
    * only shape that survives a 100 TB encode. Zero-norm vectors are
    * excluded ([[withNorm]]'s contract).
    *
    * @return (vec_id, codes array<int>) */
  /** Nearest-code array (length m) for a prepared double-vector column —
    * THE per-row encode both [[pqEncode]] (normalized vectors) and
    * [[ivfPqTopK]] (cell residuals) route through: squared L2 per
    * subspace, lowest-code tie-break via array_position's first-match.
    * One transform over the nested codebook LITERAL, not an array() of
    * nCodes separate fold expressions: same values, same order, but an
    * O(1)-size expression tree — codegen and planning stay flat as
    * nCodes grows (the array() form was 32× the nodes and measurably
    * all compile time at bench scale). */
  private[graft] def pqCodesFor(v: Column,
      books: Array[Array[Array[Double]]]): Column = {
    val ds = books(0)(0).length
    // one flat plan-literal array per subspace, distances via the
    // native range kernel (graft.expressions.L2Range): no subarray is
    // ever materialized — the old slice-per-code form allocated
    // m·nCodes copies per row and was the encode hotspot. Same values
    // in the same code order (identical IEEE fold), so the oracles and
    // array_position's first-match tie-break are untouched.
    def codeFor(j: Int): Column = {
      val flat = typedlit(books(j).flatten.toSeq)
      val dists = transform(sequence(lit(0), lit(books(j).length - 1)),
        codeIdx => call_function("graft_l2_range", v.cast("array<double>"),
          flat, lit(j * ds), codeIdx * lit(ds), lit(ds)))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    array(books.indices.map(codeFor): _*)
  }

  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      books: Array[Array[Array[Double]]]): DataFrame =
    withNorm(corpus, idCol, vecCol, "vec_id", "v")
      .select(col("vec_id"), transform(col("v"), x => x / col("v_n")).as("nv"))
      .select(col("vec_id"), pqCodesFor(col("nv"), books).as("codes"))

  /** Residual PQ codebooks over a (neighbor_id, rv) residual frame —
    * hash-order sample rule (oracle-replayable, the same
    * `ORDER BY (hash32(id), id) LIMIT n` discipline as [[pqCodebooks]])
    * or per-subspace k-means ([[pqKmeansCodebooks]] — the
    * measured-quality path); residuals are NOT unit vectors, no
    * renormalization either way. O(nCodes·d) driver materialization.
    * Shared by [[ivfPqTopK]] and the persisted store
    * ([[IvfIndex.build]]) so the two paths quantize identically. */
  private[graft] def residualCodebooks(resid: DataFrame, m: Int,
      nCodes: Int, learned: Boolean): Array[Array[Array[Double]]] =
    if (learned) pqKmeansCodebooks(resid.select(col("rv")), "rv", m, nCodes)
    else hashSampledBooks(resid.select(col("neighbor_id"), col("rv")),
      "neighbor_id", "rv", m, nCodes, "residualCodebooks")

  /** ANN top-k by asymmetric distance computation over a PQ-encoded
    * corpus: score(q, x) ≈ cos(q, x) = Σⱼ ⟨q̂ⱼ, codebookⱼ[xⱼ]⟩ — the
    * query stays EXACT (normalized float vector), only the corpus side
    * is quantized, so the corpus-side read is the m-byte code row, never
    * the raw embedding. Codebooks and the per-query lookup ride as plan
    * literals; the corpus shuffles zero times (encode is map-only, the
    * query side broadcasts exactly like [[bruteForceTopK]]).
    *
    * Scale shape vs brute force: same candidate count, but the corpus
    * table scanned is ~4·d/m× smaller — the variant you run when the
    * embedding store itself is the bottleneck. Compose with IVF cells
    * for candidate pruning when compute (not memory) dominates.
    * Approximation quality is MEASURED (tools/RecallProbe `pq`
    * variants), not asserted. Deterministic end-to-end: hash-sampled
    * codebooks, exact IEEE fold order, id tie-breaks — the driver gate
    * (p45) replays encode + ADC token-for-token in DuckDB.
    *
    * @return (query_id, rank, neighbor_id) — identical contract to
    *         [[bruteForceTopK]]/[[ivfTopK]] */
  /** Exact-cosine re-rank of a shortlist — THE shared IVFADC-R tail
    * ([[pqTopK]], [[ivfPqTopK]], [[IvfIndex.topKAdc]] all route here,
    * so the cos-desc/neighbor_id tie-break the oracle gates depend on
    * lives in one place). Raw vectors are touched for the |short|
    * pairs only; both small sides broadcast.
    *
    * @param short   (query_id, neighbor_id) pairs to score
    * @param corpus  (neighbor_id, cv, cv_n) — [[withNorm]] shape
    * @param queries (query_id, qv, qv_n) — [[withNorm]] shape */
  private[graft] def rerankExact(short: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val wx = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    corpus.join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qv_n") * col("cv_n"))).as("cos"))
      .withColumn("rank", row_number().over(wx))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Asymmetric-distance term Σⱼ ⟨qnⱼ, bookⱼ[codesⱼ]⟩ — per-subspace
    * dot products summed left-to-right in subspace order (reduceLeft ≡
    * the oracle's `list_reduce(list(t ORDER BY j))`). Shared by
    * [[pqTopK]] (codes quantize the normalized vector) and
    * [[ivfPqTopK]] (codes quantize the cell residual).
    *
    * Each subspace's codebook flattens to ONE plan-literal array and
    * the term is a native range dot ([[graft.expressions.DotRange]]):
    * `graft_dot_range(qn, flatⱼ, j·ds, codeⱼ·ds, ds)` — zero per-term
    * allocation, fully inside whole-stage codegen. Bit-identical to
    * the sliced form (same products, same index order, same 0.0 init),
    * so the p45/p47/p48 oracles are untouched. */
  private[graft] def adcScore(qn: Column, codes: Column,
      books: Array[Array[Array[Double]]]): Column = {
    val ds = books(0)(0).length
    def term(j: Int): Column = {
      val flat = typedlit(books(j).flatten.toSeq)
      call_function("graft_dot_range", qn.cast("array<double>"), flat,
        lit(j * ds), codes.getItem(j) * lit(ds), lit(ds))
    }
    books.indices.map(term).reduceLeft(_ + _)
  }

  def pqTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 8, nCodes: Int = 32,
      learnedBooks: Boolean = false,
      rerank: Int = 0): DataFrame = {
    require(m >= 1 && nCodes >= 1,
      s"pqTopK: m ($m) and nCodes ($nCodes) must be >= 1")
    val books =
      if (learnedBooks)
        pqKmeansCodebooks(
          withNorm(corpus, idCol, vecCol, "vec_id", "v")
            .select(transform(col("v"), x => x / col("v_n")).as("nv")),
          "nv", m, nCodes)
      else pqCodebooks(corpus, idCol, vecCol, m, nCodes)
    val enc = pqEncode(corpus, idCol, vecCol, books)
      .withColumnRenamed("vec_id", "neighbor_id")
      .repartition(par(corpus), col("neighbor_id"))
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv")
      .select(col("query_id"),
        transform(col("qv"), x => x / col("qv_n")).as("qn"))
    val adc = adcScore(col("qn"), col("codes"), books)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    val adcRanked = enc
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adc.as("adc"))
      .withColumn("rank", row_number().over(w))
    if (rerank <= 0)
      adcRanked.filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    else {
      // ADC-R without IVF: the full-corpus code scan is the shortlist,
      // exact cosine touches raw vectors for |Q|·R pairs only — the
      // pure-memory serving recipe when no cell structure exists
      // (uniform corpora, where the ADC ordering is good enough to
      // keep true neighbors inside a modest top-R)
      val short = adcRanked.filter(col("rank") <= math.max(rerank, k))
        .select(col("query_id"), col("neighbor_id"))
      rerankExact(short, withNorm(corpus, idCol, vecCol, "neighbor_id", "cv"),
        withNorm(queries, idCol, vecCol, "query_id", "qv"), k)
    }
  }

  /** IVF-PQ with residual encoding (IVFADC — Jégou/Douze/Schmid, TPAMI
    * 2011 §IV-A): coarse-quantize each vector to its nearest IVF cell,
    * then PQ-encode the RESIDUAL x̂ − ĉ(x) instead of x̂ itself. Scores
    * decompose as ⟨q̂, x̂⟩ ≈ ⟨q̂, ĉ⟩ + Σⱼ ⟨q̂ⱼ, bookⱼ[codeⱼ]⟩ — the
    * first term is exact per (query, probed cell), only the residual is
    * approximated.
    *
    * Why residuals: plain PQ quantizes ABSOLUTE positions, so once the
    * corpus clusters tightly every member of a cluster collapses to the
    * same few codes and ranking inside the cluster is noise (MEASURED:
    * tools/RecallProbe `pq` recall ~0.01 on the clustered regime).
    * Residuals re-center each cell at its centroid, so the codebook's
    * resolution is spent on the within-cell offsets that actually
    * discriminate neighbors. One shared residual codebook across cells
    * (IVFADC's memory/quality middle ground, not per-cell books).
    *
    * Scale shape: IVF's candidate pruning (per-query work ~ |corpus| ·
    * nProbe / nCells) AND PQ's corpus compression (candidate rows are m
    * small ints, never raw embeddings) compose — this is the variant
    * you serve when both compute and memory bind at 100 TB. Centroids
    * and codebooks are O(K) plan literals/broadcasts; the corpus
    * shuffles zero extra times (assignment is a broadcast join, encode
    * a per-row map). Deterministic end-to-end — hash-sampled centroids
    * (or the kmeans override), hash-sampled residual codebooks, exact
    * IEEE fold orders, id tie-breaks — so the driver gate (p47) replays
    * assignment + residual encode + ADC token-for-token in DuckDB.
    * Recall is MEASURED (tools/RecallProbe `ivfpq` variants), not
    * asserted.
    *
    * @return (query_id, rank, neighbor_id) — identical contract to
    *         [[bruteForceTopK]]/[[ivfTopK]]/[[pqTopK]] */
  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 64, nProbe: Int = 3,
      m: Int = 8, nCodes: Int = 32,
      centroidsOverride: Option[DataFrame] = None,
      learnedBooks: Boolean = false,
      rerank: Int = 0): DataFrame = {
    require(nCells >= 1 && nProbe >= 1 && m >= 1 && nCodes >= 1,
      s"ivfPqTopK: nCells ($nCells), nProbe ($nProbe), m ($m) and " +
        s"nCodes ($nCodes) must all be >= 1")
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "cv")
      .repartition(par(corpus), col("neighbor_id"))
    val centroids = centroidsOverride.getOrElse(
      topKByHashCentroids(c, "neighbor_id", "cv", nCells))
    // unit centroids: residual arithmetic runs in the normalized space
    val ucent = centroids.select(col("list_id"),
      transform(col("centroid"), x => x / col("centroid_n")).as("ucent"))
    // persisted: the codebook sample/fit below materializes the full
    // corpus-side assignment (broadcast join + per-row argmax window),
    // and the scoring query consumes the same frame — without the
    // persist that window runs twice per call (caller-clears-cache
    // convention, as with the pair operators)
    val resid = assignCells(c, "neighbor_id", "cv", centroids, 1)
      .join(broadcast(ucent), Seq("list_id"))
      .select(col("list_id"), col("neighbor_id"),
        zip_with(transform(col("cv"), x => x / col("cv_n")), col("ucent"),
          (x, ce) => x - ce).as("rv"))
      .persist()
    val books = residualCodebooks(resid, m, nCodes, learnedBooks)
    val enc = resid.select(col("list_id"), col("neighbor_id"),
      pqCodesFor(col("rv"), books).as("codes"))
    // query side: nProbe nearest cells, exact ⟨q̂, ĉ⟩ per probed cell
    val probes = assignCells(
        withNorm(queries, idCol, vecCol, "query_id", "qv"),
        "query_id", "qv", centroids, nProbe)
      .join(broadcast(ucent), Seq("list_id"))
      .select(col("list_id"), col("query_id"), col("ucent"),
        transform(col("qv"), x => x / col("qv_n")).as("qn"))
      .select(col("list_id"), col("query_id"), col("qn"),
        dot(col("qn"), col("ucent")).as("qc"))
    // each member lives in exactly one cell (probe=1 assignment), so the
    // list_id join yields each (query, neighbor) pair at most once
    val score = col("qc") + adcScore(col("qn"), col("codes"), books)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    val adcRanked = enc.join(broadcast(probes), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), score.as("score"))
      .withColumn("rank", row_number().over(w))
    if (rerank <= 0)
      adcRanked.filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    else {
      // IVFADC-R (Jégou et al. §V): the ADC pass is a cheap shortlist,
      // exact cosine re-ranks its top-`rerank` — raw vectors are read
      // for |Q|·R pairs, not per candidate, and PQ's reconstruction
      // noise only has to keep true neighbors inside the top-R (a far
      // weaker ask than ranking the top-k; MEASURED to be the recall
      // rescue in the clustered regime — SCALE.md)
      val short = adcRanked.filter(col("rank") <= math.max(rerank, k))
        .select(col("query_id"), col("neighbor_id"))
      rerankExact(short, c,
        withNorm(queries, idCol, vecCol, "query_id", "qv"), k)
    }
  }

  /** Exact cosine top-k over the int8-DEQUANTIZED corpus — the serving
    * tier between raw floats (4·d bytes/vector, [[bruteForceTopK]])
    * and PQ codes (m bytes, [[pqTopK]]): corpus rows carry d tinyints
    * plus one double scale (~4× smaller than float32), quantized with
    * [[quantizeInt8Audit]]'s exact floor arithmetic (the audit IS this
    * tier's error bound: ≤ half a quant step per dimension, so recall
    * stays near-exact — MEASURED, tools/RecallProbe `int8` variant).
    * The encode is a pure per-row map (pipelines into the scan, like
    * pqEncode); scoring dequantizes per element and runs the exact
    * cosine kernel, so the whole path — quantize, dequantize, score,
    * rank — is IEEE-deterministic and replays in SQL (p49 gates it).
    * Query side stays exact. Compose with IVF by feeding the encoded
    * frame through cell assignment when pruning also matters.
    *
    * @return (query_id, rank, neighbor_id) — identical contract to
    *         [[bruteForceTopK]] */
  def int8TopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val enc = corpus
      .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("v"))
      .select(col("neighbor_id"), col("v"),
        array_max(transform(col("v"), x => abs(x))).as("am"))
      .filter(col("am") > 0)
      .select(col("neighbor_id"), col("v"),
        (lit(127.0) / col("am")).as("scale"))
      .select(col("neighbor_id"), col("scale"),
        transform(col("v"),
          x => floor(x * col("scale") + lit(0.5)).cast("tinyint")).as("q8"))
    // dequantize: q8/scale — exact integers in [-127,127] divided by
    // the stored scale, so the tinyint storage hop is value-lossless
    // and the oracle can skip it (floor(x·scale+0.5)/scale directly)
    val cand = enc
      .select(col("neighbor_id"),
        transform(col("q8"), q8 => q8.cast("double") / col("scale"))
          .as("dv"))
      .select(col("neighbor_id"), col("dv"),
        sqrt(dot(col("dv"), col("dv"))).as("dv_n"))
      .repartition(par(corpus), col("neighbor_id"))
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("dv")) / (col("qv_n") * col("dv_n"))).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Sign bits of a double vector packed into ⌈dim/64⌉ longs: bit
    * (i mod 64) of word ⌊i/64⌋ is set iff v[i] >= 0 (so -0.0 packs as
    * 1 in both engines). Bits past the last dimension stay 0 on every
    * vector, so they never contribute to an XOR popcount. Pure
    * built-ins (sequence/aggregate/shiftleft) — stays inside
    * whole-stage codegen. */
  private[graft] def signPack(vec: Column): Column = {
    // the argument is BOUND as a lambda variable before any per-bit
    // element_at touches it: the pack fold random-accesses the array
    // once per bit, and a caller passing a computed expression (e.g.
    // residualPack's zip_with subtraction) would otherwise re-evaluate
    // that whole expression per bit — O(dim²) per row. Invisible at the
    // bench's dim=64 (cost-neutral, measured), decisive at production
    // dims (a 1024-dim residual would re-run a 1024-element zip_with
    // 1024 times per vector). A lambda variable is evaluated once per
    // element of its input, so wrapping in a 1-tuple makes the helper
    // total-cost-safe for ANY argument shape.
    element_at(transform(array(vec), v => signPackBody(v)), 1)
  }

  private def signPackBody(vec: Column): Column = {
    val nWords = floor((size(vec) + lit(63)) / lit(64)).cast("int")
    // size(vec)=0 would make the outer sequence(0, -1) DESCENDING and
    // the inner fold probe element_at(vec, 0) — a runtime error, not an
    // empty pack. Short-circuit so the helper is total on any input,
    // not just withNorm-filtered (norm > 0 ⇒ non-empty) vectors.
    when(size(vec) > 0,
      transform(sequence(lit(0), nWords - 1), w =>
        aggregate(
          sequence(w * 64, least(w * 64 + lit(63), size(vec) - 1)),
          lit(0L),
          (acc, i) => acc.bitwiseOR(
            when(element_at(vec, i + 1) >= 0,
              call_function("shiftleft", lit(1L), pmod(i, lit(64)).cast("int")))
              .otherwise(lit(0L))))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Hamming distance between two sign-packs: Σ bit_count(xor).
    * Dispatches to the native allocation-free kernel
    * ([[graft.expressions.HammingDistance]]) — integer-exact parity
    * with the HOF fold `aggregate(zip_with(a,b,bit_count∘xor),0,+)`
    * it replaces (PlanSpec pins it), minus the per-candidate zip_with
    * array the HOF form allocates on the tier's hottest scan. */
  private[graft] def hamming(a: Column, b: Column): Column =
    call_function("graft_hamming", a, b)

  /** 1-bit (binary) quantized ANN: sign-packed corpus, Hamming-distance
    * shortlist, exact-cosine re-rank. The most aggressive tier of the
    * quantization ladder (float32 → int8 → PQ → 1 bit): the corpus a
    * Hamming scan touches is ONE long per 64 dims — 64× smaller than
    * the float64 scan and 16× smaller than int8 — and the distance is
    * a register-width XOR+popcount, so the candidate-generation pass is
    * bandwidth-bound on 8-byte packs rather than 512-byte vectors.
    * Exact vectors re-attach only for the `k·oversample` shortlisted
    * candidates per query (the same re-rank shape as lshTopK).
    *
    * Determinism: shortlist ranks by (hamming asc, neighbor_id); re-rank
    * by (cosine desc, neighbor_id); both engines replay the identical
    * order, so even the approximation is exactly reproducible in SQL.
    * Zero-norm vectors are excluded (withNorm; the oracle mirrors it).
    *
    * At 100 TB: packs are built in one narrow map over the corpus scan
    * (in production they'd be a stored column); the Hamming join
    * broadcasts the O(|Q|) query packs and streams the corpus; the
    * re-rank joins the shortlist (|Q|·k·oversample rows) back to the
    * corpus — broadcastable whenever the query set is. */
  def binaryTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, oversample: Int = 4): DataFrame = {
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv")
      .select(col("query_id"), col("qv"), col("qv_n"),
        signPack(col("qv")).as("qb"))
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "cv")
    val packed = c.select(col("neighbor_id"), signPack(col("cv")).as("cb"))
      .repartition(par(corpus), col("neighbor_id"))
    val wHam = Window.partitionBy(col("query_id"))
      .orderBy(col("ham"), col("neighbor_id"))
    val short = packed
      .join(broadcast(q.select(col("query_id"), col("qb"))),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        hamming(col("qb"), col("cb")).as("ham"))
      .withColumn("r", row_number().over(wHam))
      .filter(col("r") <= k * oversample)
      .select("query_id", "neighbor_id")
    rerankExact(short, c,
      q.select(col("query_id"), col("qv"), col("qv_n")), k)
  }

  /** IVF-residual binary ANN: the 1-bit tier re-based on WITHIN-CELL
    * geometry. [[binaryTopK]]'s measured weakness (SCALE.md) is
    * clustered data — inside a tight cluster most raw dimensions share
    * the center's sign, so raw sign bits saturate. Here each stored
    * vector packs the sign bits of its RESIDUAL v − c(cell) (probe=1
    * assignment, the same argmax as every IVF consumer), and a query
    * packs q − c(cell) per probed cell — so the XOR popcount compares
    * directions RELATIVE TO THE SHARED CELL CENTER, which is exactly
    * the contrast the raw bits throw away (the same rescue-by-residual
    * as [[ivfPqTopK]] vs plain PQ, at 1 bit/dim instead of log₂(codes)
    * bits per subspace). Candidates are cell-pruned AND Hamming-
    * shortlisted; the exact re-rank fixes the final order.
    *
    * Deterministic end-to-end (hash centroids, id tie-breaks), so the
    * whole approximation replays in oracle SQL. At 100 TB: packs are
    * one narrow map over the assignment (a stored column in the
    * persisted-index form); the shortlist join moves (cell, 8-byte
    * pack) pairs; everything else is the ivfTopK shape. */
  def ivfBinaryTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 64, nProbe: Int = 3, oversample: Int = 4,
      centroidsOverride: Option[DataFrame] = None): DataFrame = {
    require(nCells >= 1 && nProbe >= 1 && oversample >= 1,
      s"ivfBinaryTopK: nCells ($nCells), nProbe ($nProbe), oversample " +
        s"($oversample) must be >= 1")
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "cv")
      .repartition(par(corpus), col("neighbor_id"))
    val centroids = centroidsOverride.getOrElse(
      topKByHashCentroids(c, "neighbor_id", "cv", nCells))
    val centVecs = centroids.select(col("list_id"), col("centroid"))
    val packs = assignCells(c, "neighbor_id", "cv", centroids, 1)
      .join(broadcast(centVecs), Seq("list_id"))
      .select(col("list_id"), col("neighbor_id"),
        residualPack(col("cv"), col("centroid")).as("cb"))
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv")
    val probes = assignCells(q, "query_id", "qv", centroids, nProbe)
      .join(broadcast(centVecs), Seq("list_id"))
      .select(col("list_id"), col("query_id"),
        residualPack(col("qv"), col("centroid")).as("qb"))
    // a stored vector lives in exactly one cell (probe=1), so a
    // (query, neighbor) pair meets at most once — no dedup needed
    val wHam = Window.partitionBy(col("query_id"))
      .orderBy(col("ham"), col("neighbor_id"))
    val short = packs.join(broadcast(probes), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        hamming(col("qb"), col("cb")).as("ham"))
      .withColumn("r", row_number().over(wHam))
      .filter(col("r") <= k * oversample)
      .select("query_id", "neighbor_id")
    rerankExact(short, c,
      q.select(col("query_id"), col("qv"), col("qv_n")), k)
  }

  /** Maximal-marginal-relevance rerank: greedily diversify each
    * query's cosine shortlist — pick argmax of
    * `mmr = λ·rel(q, d) − (1 − λ)·max_{s ∈ selected} cos(d, s)`
    * one item at a time (the Carbonell–Goldstein criterion; the
    * dedup-at-serving-time step of retrieval pipelines, so a near-dup
    * family can't monopolize a result page the way it monopolizes a
    * training batch). The first pick sees an empty selected set —
    * max-sim is defined as +0.0 there, so every round scores through
    * the SAME expression.
    *
    * Greedy selection is inherently sequential in k but LOCAL to one
    * query's shortlist, so after the one corpus-scale pass (the
    * shortlist build, a broadcast nested-loop like [[bruteForceTopK]])
    * the k rounds run inside a single per-query expression over the
    * collected candidate array — one job, one exchange, no per-round
    * driver round-trips (the previous k-unrolled relational form paid
    * ~0.3 s of job scheduling per round regardless of data size). The
    * shortlist array is ≤ poolK structs of (id, rel, vector), so the
    * per-row state is poolK·dim doubles — bounded by construction,
    * independent of corpus size. msim is maintained incrementally:
    * msim_i(d) = max(msim_{i-1}(d), cos(d, pick_{i-1})) — max over
    * doubles is associative, so the running form equals the
    * max-over-all-picks definition bit-for-bit. Cost is
    * O(Q · k · poolK²) comparisons + O(Q · k · poolK) dot products.
    *
    * Determinism: rel and the pairwise cosines are the shared
    * [[dot]]-fold; MAX over doubles is merge-order-free; λ·rel −
    * (1−λ)·maxSim is a fixed IEEE sequence (λ = 0.5 halves exactly);
    * ties break on item id (argmax compares mmr then id — SQL double
    * comparison, same total order as the old rank window after float
    * normalization); the collected array's order cannot matter because
    * argmax scans the whole array. PipelineSpec pins exact mmr doubles
    * against a hand fold; the p67 oracle replays all k rounds.
    *
    * @return (query_id, rnk, item_id, mmr): rnk = selection order,
    *         1 <= rnk <= min(k, |shortlist(q)|)
    */
  def mmrRerank(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, poolK: Int, k: Int,
      lambda: Double = 0.5): DataFrame = {
    require(poolK >= k && k >= 1,
      s"mmrRerank: need poolK >= k >= 1, got poolK=$poolK k=$k")
    require(lambda > 0.0 && lambda <= 1.0,
      s"mmrRerank: need 0 < lambda <= 1, got $lambda") // λ=0 ignores rel
    val q = withNorm(queries, idCol, vecCol, "query_id", "qv")
    val c = withNorm(corpus, idCol, vecCol, "item_id", "cv")
      .repartition(par(corpus), col("item_id"))
    val wRel = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("item_id"))
    val short = c.join(broadcast(q), col("query_id") =!= col("item_id"))
      .select(col("query_id"), col("item_id"),
        (dot(col("qv"), col("cv")) / (col("qv_n") * col("cv_n")))
          .as("rel"),
        col("cv"), col("cv_n"))
      .withColumn("r0", row_number().over(wRel))
      .filter(col("r0") <= poolK)
      .drop("r0")
    val pool = short.groupBy(col("query_id"))
      .agg(collect_list(struct(col("item_id"), col("rel"), col("cv"),
        col("cv_n"))).as("cands"))
    val lam = lit(lambda)
    val oneMinusLam = lit(1.0 - lambda)
    def fld(s: Column, n: String) = s.getField(n)
    // remaining candidates carry a running msim; NULL = "no picks yet"
    // (scoring coalesces it to +0.0, the empty-selected-set value, but
    // the real max must start from the FIRST cosine — folding the 0.0
    // sentinel into the max would clamp negative cosines at zero)
    val rem0 = transform(col("cands"), x => struct(
      fld(x, "item_id").as("item_id"), fld(x, "rel").as("rel"),
      fld(x, "cv").as("cv"), fld(x, "cv_n").as("cv_n"),
      lit(null).cast("double").as("msim")))
    // empty picks array with the output element type, derived from the
    // data itself (slice to length 0) so item_id's type stays generic
    val sel0 = slice(transform(col("cands"), x => struct(
      lit(0).as("rnk"), fld(x, "item_id").as("item_id"),
      lit(0.0).as("mmr"), fld(x, "cv").as("cv"),
      fld(x, "cv_n").as("cv_n"))), 1, 0)
    val step: (Column, Column) => Column = (st, i) => {
      val rem = fld(st, "rem")
      val sel = fld(st, "sel")
      val scored = transform(rem, x => struct(
        fld(x, "item_id").as("item_id"),
        (lam * fld(x, "rel") - oneMinusLam *
          coalesce(fld(x, "msim"), lit(0.0))).as("mmr"),
        fld(x, "cv").as("cv"), fld(x, "cv_n").as("cv_n")))
      // argmax by (mmr desc, item_id asc) — a linear fold, ties on id
      val best = aggregate(
        slice(scored, lit(2), greatest(size(scored) - 1, lit(0))),
        element_at(scored, 1),
        (b, x) => when(fld(x, "mmr") > fld(b, "mmr") ||
          (fld(x, "mmr") === fld(b, "mmr") &&
            fld(x, "item_id") < fld(b, "item_id")), x).otherwise(b))
      val newSel = concat(sel, array(struct(
        i.cast("int").as("rnk"), fld(best, "item_id").as("item_id"),
        fld(best, "mmr").as("mmr"), fld(best, "cv").as("cv"),
        fld(best, "cv_n").as("cv_n"))))
      val newRem = transform(
        filter(rem, x => fld(x, "item_id") =!= fld(best, "item_id")),
        x => {
          val cosb = dot(fld(x, "cv"), fld(best, "cv")) /
            (fld(x, "cv_n") * fld(best, "cv_n"))
          struct(fld(x, "item_id").as("item_id"),
            fld(x, "rel").as("rel"), fld(x, "cv").as("cv"),
            fld(x, "cv_n").as("cv_n"),
            when(fld(x, "msim").isNull, cosb)
              .otherwise(greatest(fld(x, "msim"), cosb)).as("msim"))
        })
      when(size(rem) > 0,
        struct(newRem.as("rem"), newSel.as("sel"))).otherwise(st)
    }
    val picks = aggregate(sequence(lit(1), lit(k)),
      struct(rem0.as("rem"), sel0.as("sel")), step,
      st => fld(st, "sel"))
    pool.select(col("query_id"), explode(picks).as("p"))
      .select(col("query_id"), col("p.rnk").as("rnk"),
        col("p.item_id").as("item_id"), col("p.mmr").as("mmr"))
  }

  /** Symmetric per-vector int8 quantization audit: scale = 127/max|x_i|,
    * q_i = floor(x_i·scale + 0.5) (explicit floor arithmetic — Spark's
    * round() is HALF_UP, DuckDB's rounds half away from zero; floor
    * keeps both engines on the same integer), reporting the worst
    * per-dimension reconstruction error |x_i − q_i/scale|. This is the
    * compression step a 100 TB embedding store runs before ANN serving
    * (4× smaller than float32); the audit is a pure per-row map — no
    * shuffle at all — so it pipelines into whatever scan produces the
    * vectors. All arithmetic is element-wise IEEE double (no
    * accumulation), so results are bit-reproducible cross-engine.
    *
    * All-zero vectors are excluded (no scale exists; same exclusion —
    * and same reason — as [[withNorm]]).
    *
    * @return (vec_id, scale, max_abs_err) one row per non-zero vector.
    */
  def quantizeInt8Audit(embs: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val absmax = array_max(transform(col("v"), x => abs(x)))
    embs
      .select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .select(col("vec_id"), col("v"), absmax.as("am"))
      .filter(col("am") > 0)
      .select(col("vec_id"), col("v"), (lit(127.0) / col("am")).as("scale"))
      .select(col("vec_id"), col("scale"),
        array_max(transform(col("v"),
          x => abs(x - floor(x * col("scale") + 0.5) / col("scale"))))
          .as("max_abs_err"))
  }
}
