package graft.tools

import graft.Sessions
import graft.operators.{BatchTable, IvfIndex, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measured ANN recall@k vs the exact brute-force top-k — the quality
  * half of the ANN story (tools/IndexProbe measures the latency half).
  * Specs pin recall FLOORS on tiny fixtures; this probe puts numbers
  * on the real embedding table at a real SF so SCALE.md can state the
  * recall/latency tradeoff as measurements, not assertions. Not
  * driver-gated; numbers land in SCALE.md.
  *
  * Recall@k = |approx ∩ exact| / (|Q| · k), the standard ANN-benchmarks
  * definition (set overlap with the true top-k; rank agreement inside
  * the top-k is not required). The truth set is computed once and
  * parked in a temp parquet so the per-variant cache clears (the pair
  * operators persist intermediates — caller-clears-cache convention)
  * never recompute the brute force.
  */
object RecallProbe {

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val embs =
      if (dir == "clustered")
        SyntheticVectors.clustered(spark,
          n = args.lift(2).map(_.toInt).getOrElse(20000))
      else graft.Tables.df(spark, dir, "embeddings")
    val queries = embs.filter(col("vec_id") % 50 === 0)
    val nQ = queries.count()
    // vec_id % 50 on a non-dense id space can select nothing; a silent
    // zero here would make every recall below NaN — fail loudly instead
    require(nQ > 0,
      s"no probe queries: vec_id % 50 == 0 matched nothing in $dir")
    val nC = embs.count()
    println(s"PROBE corpus=$nC queries=$nQ k=$k")

    val truthPath = java.nio.file.Files
      .createTempDirectory("graft_recall_truth").resolve("exact").toString
    Similarity.bruteForceTopK(queries, embs, "vec_id", "embedding", k)
      .select(col("query_id"), col("neighbor_id"))
      .write.mode("overwrite").parquet(truthPath)
    spark.catalog.clearCache()
    def exact = spark.read.parquet(truthPath)
    // recall's denominator is the TRUE neighbor count, not nQ*k — a
    // query near the corpus edge (or a tiny corpus) has fewer than k
    // exact neighbors, and assuming k would understate recall
    val nExact = exact.count()

    // dev-only variant filter (substring match), e.g.
    //   runMain graft.tools.RecallProbe clustered 10 8000 ivfpq
    val onlyVariant = args.lift(3)

    def recall(name: String)(approx: => DataFrame): Unit = {
      if (!onlyVariant.forall(name.contains)) return
      // time ONLY the approx query's materialization; the truth-set
      // semi-join is measurement bookkeeping, not part of the latency
      // being reported
      val t0 = System.nanoTime()
      val a = approx.select(col("query_id"), col("neighbor_id")).persist()
      a.count()
      val t = (System.nanoTime() - t0) / 1e9
      val hits = a.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .count()
      println(f"PROBE recall@$k $name = ${hits.toDouble / nExact}%.3f " +
        f"(t=$t%.2fs)")
      spark.catalog.clearCache()
    }

    // the eager k-means fit and the persisted store builds below are
    // only worth paying when a variant that consumes them survives the
    // filter — the filter exists for one-variant iteration, so skipped
    // variants must not still charge their setup cost
    def wants(sub: String*): Boolean =
      onlyVariant.forall(f => sub.exists(_.contains(f)))

    for (np <- Seq(1, 3, 8))
      recall(s"ivf_hash_nProbe$np")(Similarity.ivfTopK(
        queries, embs, "vec_id", "embedding", k, nProbe = np))
    lazy val km = Similarity.kmeansCentroids(embs, "embedding", 64)
    // force the k-means fit OUTSIDE any timed region when a consumer
    // survives the variant filter: recall()'s by-name thunk evaluates
    // after t0, so an unforced lazy km would bill the whole centroid
    // training to the first kmeans variant's reported latency and skew
    // cross-round comparisons (kmeansCentroids' .fit is eager, so
    // touching the val here pays the full cost now)
    if (wants("ivf_kmeans_nProbe3", "ivfpq_kmeans_kmbooks_nProbe3",
        "ivf_index_kmeans_nProbe3")) { val _ = km }
    recall("ivf_kmeans_nProbe3")(Similarity.ivfTopK(
      queries, embs, "vec_id", "embedding", k,
      centroidsOverride = Some(km)))
    for (b <- Seq(8, 16, 32))
      recall(s"lsh_bands${b}_bits4")(Similarity.lshTopK(
        queries, embs, "vec_id", "embedding", k, bands = b))
    // PQ/ADC: corpus quantized to m codes (memory path — recall here is
    // the price of the ~4·d/m× smaller corpus table, not of pruning)
    for ((m, nc) <- Seq((8, 32), (8, 64), (16, 32)))
      recall(s"pq_m${m}_codes$nc")(Similarity.pqTopK(
        queries, embs, "vec_id", "embedding", k, m = m, nCodes = nc))
    // 1-bit tier (64× smaller candidate scan than float64): Hamming
    // shortlist at oversample×k, exact re-rank — what the sign bits
    // alone can keep in the shortlist
    for (os <- Seq(4, 8, 16, 32, 64))
      recall(s"binary_oversample$os")(Similarity.binaryTopK(
        queries, embs, "vec_id", "embedding", k, oversample = os))
    // IVF-residual binary: 1 bit/dim of WITHIN-CELL residual signs —
    // the clustered-regime rescue for the raw-sign tier (cell pruning
    // AND Hamming shortlist compose)
    for (os <- Seq(4, 8, 16))
      recall(s"ivfbinary_nProbe3_oversample$os")(Similarity.ivfBinaryTopK(
        queries, embs, "vec_id", "embedding", k, oversample = os))
    // int8 tier (4× smaller rows): quantization error ≤ half a step per
    // dim (p33's audit bound), so recall should sit at/near 1.0 — this
    // measures that claim operationally
    recall("int8_brute")(Similarity.int8TopK(
      queries, embs, "vec_id", "embedding", k))
    // PQ with learned (per-subspace k-means) codebooks — the quality
    // path the oracle can't replay; what sampled codebooks cost
    recall("pq_m8_codes32_kmbooks")(Similarity.pqTopK(
      queries, embs, "vec_id", "embedding", k, learnedBooks = true))
    for (r <- Seq(50, 100))
      recall(s"pq_m8_codes32_rerank$r")(Similarity.pqTopK(
        queries, embs, "vec_id", "embedding", k, rerank = r))
    // IVF-PQ residual encoding: codes quantize within-cell offsets, not
    // absolute positions — the clustered-regime rescue for PQ, IF the
    // codebooks resolve the residual ball (sampled vs learned is the
    // decisive axis here; see SCALE.md)
    for (np <- Seq(3, 8))
      recall(s"ivfpq_m8_codes32_nProbe$np")(Similarity.ivfPqTopK(
        queries, embs, "vec_id", "embedding", k, nProbe = np))
    recall("ivfpq_m8_codes64_nProbe3")(Similarity.ivfPqTopK(
      queries, embs, "vec_id", "embedding", k, nCodes = 64))
    for (np <- Seq(3, 8))
      recall(s"ivfpq_m8_codes32_kmbooks_nProbe$np")(Similarity.ivfPqTopK(
        queries, embs, "vec_id", "embedding", k, nProbe = np,
        learnedBooks = true))
    recall("ivfpq_kmeans_kmbooks_nProbe3")(Similarity.ivfPqTopK(
      queries, embs, "vec_id", "embedding", k,
      centroidsOverride = Some(km), learnedBooks = true))
    // code-budget ladder: bits/vector = m·log2(nCodes); the clustered
    // regime needs the budget, not just residuals (SCALE.md)
    for ((m, nc) <- Seq((8, 256), (16, 256)))
      recall(s"ivfpq_m${m}_codes${nc}_kmbooks_nProbe3")(Similarity.ivfPqTopK(
        queries, embs, "vec_id", "embedding", k, m = m, nCodes = nc,
        learnedBooks = true))
    // IVFADC-R: exact re-rank of the ADC top-R shortlist — PQ noise
    // only has to keep true neighbors in the top-R
    for (r <- Seq(50, 100))
      recall(s"ivfpq_m8_codes32_kmbooks_rerank$r")(Similarity.ivfPqTopK(
        queries, embs, "vec_id", "embedding", k, learnedBooks = true,
        rerank = r))
    for (r <- Seq(50, 100))
      recall(s"ivfpq_m8_codes32_rerank$r")(Similarity.ivfPqTopK(
        queries, embs, "vec_id", "embedding", k, rerank = r))
    for (r <- Seq(50, 100))
      recall(s"ivfpq_m16_codes256_kmbooks_rerank$r")(Similarity.ivfPqTopK(
        queries, embs, "vec_id", "embedding", k, m = 16, nCodes = 256,
        learnedBooks = true, rerank = r))
    try {
      if (wants("ivf_index_nProbe3")) {
        IvfIndex.build(embs, "vec_id", "embedding", "graft_probe_recall")
        recall("ivf_index_nProbe3")(IvfIndex.topK(
          queries, "vec_id", "embedding", "graft_probe_recall", k))
      }
      // the persisted store with LEARNED centroids — the production
      // shape round 9 added (build(centroids = kmeans))
      if (wants("ivf_index_kmeans_nProbe3")) {
        IvfIndex.build(embs, "vec_id", "embedding", "graft_probe_recall_km",
          centroids = Some(km))
        recall("ivf_index_kmeans_nProbe3")(IvfIndex.topK(
          queries, "vec_id", "embedding", "graft_probe_recall_km", k))
      }
      // the persisted ADC store (codes-only read) ± exact re-rank
      if (wants("ivf_store_adc_kmbooks_nProbe3",
          "ivf_store_adc_kmbooks_rerank50")) {
        IvfIndex.build(embs, "vec_id", "embedding", "graft_probe_recall_pq",
          pq = Some(IvfIndex.PqSpec(learned = true)))
        recall("ivf_store_adc_kmbooks_nProbe3")(IvfIndex.topKAdc(
          queries, "vec_id", "embedding", "graft_probe_recall_pq", k))
        recall("ivf_store_adc_kmbooks_rerank50")(IvfIndex.topKAdc(
          queries, "vec_id", "embedding", "graft_probe_recall_pq", k,
          rerank = 50))
      }
    } finally {
      Seq("graft_probe_recall_cells", "graft_probe_recall_cent",
        "graft_probe_recall_km_cells", "graft_probe_recall_km_cent",
        "graft_probe_recall_pq_cells", "graft_probe_recall_pq_cent",
        "graft_probe_recall_pq_books")
        .foreach(BatchTable.dropTable(spark, _))
      val root = java.nio.file.Paths.get(truthPath).getParent
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
    spark.stop()
  }
}
