package graft.tools

import graft.Sessions
import graft.operators.{CmsStore, Corpus, DriftStore, DsirStore, IvfIndex,
  PostingIndex, SampleStore, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Store-serving scale ladder — the `tools/IndexProbe` crossover
  * methodology applied to the OTHER persisted families: as the corpus
  * grows, (a) posting-store BM25 serving vs re-tokenizing the corpus,
  * (b) CMS-store df estimation vs rebuilding the sketch, (c) IVF
  * cell-store ANN vs in-memory assignment, (d) the file-prune
  * fraction the posting/cell stores actually achieve
  * (SelectedBucketsCount from the executed plan), and (e) the three
  * histogram/quota families — DSIR weights served from the
  * accumulated model vs the one-shot two-scan fit, drift reports
  * against the frozen reference histogram vs re-histogramming the
  * reference per batch, and the cluster-balanced sample served from
  * per-batch quota winners vs re-assigning the whole corpus. The
  * claim under test is the store contract: serve cost tracks the
  * QUERY/BATCH while recompute cost tracks the CORPUS. Not
  * driver-gated; numbers land in SCALE.md.
  *
  * Usage: runMain graft.tools.StoreProbe [sfDir] [replicasCsv] [vecCsv]
  */
object StoreProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val replicas = args.lift(1).getOrElse("1,10,30")
      .split(',').map(_.trim.toInt).toSeq
    val vecSizes = args.lift(2).getOrElse("2000,20000,100000")
      .split(',').map(_.trim.toInt).toSeq
    val docs0 = graft.Tables.df(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    def corpusOf(r: Int): DataFrame =
      (0 until r).map { k =>
        docs0.select(
          (col("doc_id") + lit(k.toLong * 1000000000L)).as("doc_id"),
          concat(col("text"), lit(s" zcopy$k marker$k")).as("text"))
      }.reduce(_ unionByName _)
    // fixed 50-query batch, ids disjoint from every replica's corpus
    val queries = docs0.filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + lit(900000000000L)).as("doc_id"), col("text"))
      .limit(50).persist()
    queries.count()
    def time[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROBE $name t=${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }
    def buckets(df: DataFrame): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan)
        .foreach(m => println(s"PROBE bucket_prune ${m.group(1)}/${m.group(2)}"))
    }
    try {
      for (r <- replicas) {
        val corpus = corpusOf(r).persist()
        val n = corpus.count()
        println(s"PROBE corpus r=$r n=$n")
        // ---- posting store ------------------------------------------------
        time(s"post_build_r$r") {
          PostingIndex.build(corpus, "doc_id", "text", "graft_sp_post")
        }
        for (i <- 1 to 2) time(s"post_store_serve_r${r}_$i") {
          PostingIndex.topK(queries, "doc_id", "text", "graft_sp_post",
            nQueryTerms = 4, k = 10).count()
        }
        buckets(PostingIndex.topK(queries, "doc_id", "text",
          "graft_sp_post", nQueryTerms = 4, k = 10))
        // the single-lookup latency shape: one query's terms prune far
        // deeper than a 50-query batch's union
        val oneQ = queries.limit(1)
        for (i <- 1 to 2) time(s"post_store_serve1q_r${r}_$i") {
          PostingIndex.topK(oneQ, "doc_id", "text", "graft_sp_post",
            nQueryTerms = 4, k = 10).count()
        }
        buckets(PostingIndex.topK(oneQ, "doc_id", "text",
          "graft_sp_post", nQueryTerms = 4, k = 10))
        for (i <- 1 to 2) time(s"post_retokenize_r${r}_$i") {
          Corpus.bm25TopK(corpus.unionByName(queries), "doc_id", "text",
            col("doc_id") >= 900000000000L, nQueryTerms = 4, k = 10).count()
        }
        // ---- CMS store ----------------------------------------------------
        val cands = corpus.limit(40)
          .select(substring(col("text"), 1, 30).as("ngram")).persist()
        cands.count()
        time(s"cms_build_r$r") {
          CmsStore.build(corpus, "doc_id", "text", "graft_sp_cms",
            n = 3, depth = 4, width = 1 << 14)
        }
        for (i <- 1 to 2) time(s"cms_store_serve_r${r}_$i") {
          CmsStore.estimateDf(cands, "ngram", "graft_sp_cms").count()
        }
        for (i <- 1 to 2) time(s"cms_rebuild_r${r}_$i") {
          Corpus.cmsEstimateDf(
            Corpus.cmsNgramMatrix(corpus, "doc_id", "text", 3, 4, 1 << 14),
            cands, "ngram", 4, 1 << 14).count()
        }
        cands.unpersist()
        // ---- DSIR store ---------------------------------------------------
        // target frozen and small (the yardstick); the CORPUS is the
        // source model that grows. Serve = queries scored against the
        // stored histograms (O(buckets) model read); one-shot = the
        // two model-fit corpus scans the store exists to skip.
        val tgt = docs0.limit(200)
        time(s"dsir_build_r$r") {
          DsirStore.build(corpus, tgt, "doc_id", "text", "graft_sp_dsir",
            buckets = 512)
        }
        for (i <- 1 to 2) time(s"dsir_store_serve_r${r}_$i") {
          DsirStore.weights(queries, "doc_id", "text", "graft_sp_dsir")
            .count()
        }
        for (i <- 1 to 2) time(s"dsir_oneshot_r${r}_$i") {
          Corpus.dsirWeights(corpus.unionByName(queries), tgt,
            "doc_id", "text", 512)
            .filter(col("doc_id") >= 900000000000L).count()
        }
        // ---- drift store --------------------------------------------------
        // reference = the whole corpus reduced to (grp, bin) once at
        // build; each report then pays batch histogram + bins×groups
        // join. One-shot re-histograms the REFERENCE per report.
        def glRows(df: DataFrame): DataFrame = df.select(
          (col("doc_id") % 4).cast("string").as("grp"),
          length(col("text")).cast("long").as("v"))
        val refRows = glRows(corpus)
        val batchRows = glRows(docs0.limit(500)).persist()
        batchRows.count()
        time(s"drift_build_r$r") {
          DriftStore.build(refRows, "grp", "v", "graft_sp_drift",
            binWidth = 20L)
        }
        for (i <- 1 to 2) time(s"drift_store_serve_r${r}_$i") {
          DriftStore.appendReport(batchRows, "grp", "v",
            "graft_sp_drift", 100L + i)
        }
        for (i <- 1 to 2) time(s"drift_oneshot_r${r}_$i") {
          Corpus.histogramDrift(refRows, batchRows, "grp", "v", 20L)
            .count()
        }
        batchRows.unpersist()
        corpus.unpersist()
        spark.catalog.clearCache()
      }
      // ---- IVF cell store ladder ------------------------------------------
      for (nv <- vecSizes) {
        val vecs = SyntheticVectors.clustered(spark, nv).persist()
        vecs.count()
        val qMod = math.max(1L, nv / 50L)
        val vq = vecs.filter(col("vec_id") % qMod === 0).limit(50)
        time(s"ivf_build_n$nv") {
          IvfIndex.build(vecs, "vec_id", "embedding", "graft_sp_ivf",
            nCells = 64, buckets = 64)
        }
        for (i <- 1 to 2) time(s"ivf_store_serve_n${nv}_$i") {
          IvfIndex.topK(vq, "vec_id", "embedding", "graft_sp_ivf",
            k = 5, nProbe = 4).count()
        }
        buckets(IvfIndex.topK(vq, "vec_id", "embedding", "graft_sp_ivf",
          k = 5, nProbe = 4))
        for (i <- 1 to 2) time(s"ivf_inmemory_n${nv}_$i") {
          Similarity.ivfTopK(vq, vecs, "vec_id", "embedding", 5,
            nCells = 64, nProbe = 4).count()
        }
        // ---- sample store -------------------------------------------------
        // serve reads ≤ cells·k quota-winner rows per batch partition;
        // the one-shot re-assigns EVERY stored vector to its cell.
        time(s"smpl_build_n$nv") {
          SampleStore.build(vecs, "vec_id", "embedding", "graft_sp_smpl",
            nCells = 64, k = 5)
        }
        for (i <- 1 to 2) time(s"smpl_store_serve_n${nv}_$i") {
          SampleStore.sample(spark, "graft_sp_smpl").count()
        }
        for (i <- 1 to 2) time(s"smpl_oneshot_n${nv}_$i") {
          Similarity.clusterBalancedSample(vecs, "vec_id", "embedding",
            nCells = 64, k = 5).count()
        }
        vecs.unpersist()
        spark.catalog.clearCache()
      }
    } finally {
      Seq("graft_sp_post_post", "graft_sp_post_stats", "graft_sp_post_meta",
        "graft_sp_cms_cms", "graft_sp_cms_meta", "graft_sp_ivf_cells",
        "graft_sp_ivf_cent", "graft_sp_dsir_tgt", "graft_sp_dsir_dsir",
        "graft_sp_dsir_meta", "graft_sp_drift_ref", "graft_sp_drift_meta",
        "graft_sp_drift_drift", "graft_sp_smpl_cent", "graft_sp_smpl_smpl",
        "graft_sp_smpl_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.stop()
    }
  }
}
