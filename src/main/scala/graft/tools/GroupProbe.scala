package graft.tools

import graft.Sessions
import graft.operators.{CmsStore, DriftStore, DsirStore, IvfIndex,
  PostingIndex, SampleStore, ShingleIndex}
import graft.streaming.Streams
import graft.streaming.Streams.StoreFamily
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Group-ingest overhead ladder — the missing measurement behind
  * `Streams.multiIngestBatch`'s "bounded writes per batch" claim:
  * per-batch WALL as a function of family count (1/3/7) and the
  * accumulated corpus size the stores hold (10×/50×), against the sum
  * of the SAME families' bare appends on the same batch. The
  * difference is the commit machinery — manifest committed-check +
  * N prune no-ops + batch persist + manifest row — which the claim
  * says is constant-bounded per batch
  * (catalog writes, nothing corpus- or store-scale).
  *
  * The 7-family group exercises every append family in the engine
  * over ONE enriched batch frame (doc_id, text, grp, v, embedding):
  * shingle, posting, CMS, DSIR over the text columns; drift over
  * (grp, v); IVF-vector and balanced-sample stores over a
  * deterministic hash-derived embedding (8-dim — geometry is
  * irrelevant to commit overhead).
  *
  * Not driver-gated; numbers land in SCALE.md.
  *
  * Usage: runMain graft.tools.GroupProbe [sfDir] [replicasCsv]
  *   [famCountsCsv] [batchesPerConfig]
  */
object GroupProbe {

  /** doc_id/text plus the columns the non-text families close over. */
  private def enrich(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("text"),
      (col("doc_id") % 4).cast("string").as("grp"),
      length(col("text")).cast("long").as("v"),
      array((0 until 8).map { j =>
        (conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(s"_$j"))), 1, 6), 16, 10).cast("double") / 1.6e7)
          .cast("float")
      }: _*).as("embedding"))

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val replicas = args.lift(1).getOrElse("10,50")
      .split(',').map(_.trim.toInt).toSeq
    val famCounts = args.lift(2).getOrElse("1,3,7")
      .split(',').map(_.trim.toInt).toSeq
    val nBatches = args.lift(3).map(_.toInt).getOrElse(3)
    val docs0 = graft.Tables.df(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    // the replica/batch id arithmetic below assumes compact ids: a
    // corpus copy strides by 1e9 and a batch tag by 1e6, so hash-like
    // or >1e6 source ids would silently collide across batches and
    // violate the append families' doc-disjointness contract — refuse
    // loudly rather than measure a corrupted store
    val maxIdRow = docs0.agg(max(col("doc_id"))).head()
    require(!maxIdRow.isNullAt(0),
      s"GroupProbe: documents table at $dir is empty — nothing to probe")
    val maxId = maxIdRow.getLong(0)
    require(maxId < 1000000L,
      s"GroupProbe: doc_id values must be < 1e6 for the id-offset " +
        s"scheme (got max $maxId); re-key the corpus first")
    def corpusOf(r: Int): DataFrame = enrich(
      (0 until r).map { k =>
        docs0.select(
          (col("doc_id") + lit(k.toLong * 1000000000L)).as("doc_id"),
          concat(col("text"), lit(s" zcopy$k marker$k")).as("text"))
      }.reduce(_ unionByName _))
    // fixed 500-doc batches, ids disjoint from every replica's corpus
    // AND from each other (the append families' doc-disjointness
    // contract; `tag` also keys the batch-id range per config)
    def batchOf(tag: Long): DataFrame = enrich(
      docs0.limit(500).select(
        (col("doc_id") + lit(800000000000L + tag * 1000000L)).as("doc_id"),
        col("text")))
    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"PROBE $name t=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    // the 7 families in group order; a run with famCount f uses the
    // first f (so f=1 isolates the cheapest text family and f=7 spans
    // every store kind in the engine)
    def familiesOf(f: Int): Seq[StoreFamily] = Seq(
      StoreFamily.shingle("graft_gp_shingle", "doc_id", "text"),
      StoreFamily.posting("graft_gp_post", "doc_id", "text"),
      StoreFamily.cms("graft_gp_cms", "doc_id", "text"),
      StoreFamily.dsir("graft_gp_dsir", "doc_id", "text"),
      StoreFamily.drift("graft_gp_drift", "grp", "v"),
      StoreFamily.vectors("graft_gp_ivf", "doc_id", "embedding"),
      StoreFamily.sample("graft_gp_smpl", "doc_id", "embedding")).take(f)
    val allTables = Seq(
      "graft_gp_shingle_idx", "graft_gp_shingle_sh", "graft_gp_shingle_meta",
      "graft_gp_post_post", "graft_gp_post_stats", "graft_gp_post_meta",
      "graft_gp_cms_cms", "graft_gp_cms_meta",
      "graft_gp_dsir_tgt", "graft_gp_dsir_dsir", "graft_gp_dsir_meta",
      "graft_gp_drift_ref", "graft_gp_drift_meta", "graft_gp_drift_drift",
      "graft_gp_ivf_cells", "graft_gp_ivf_cent", "graft_gp_ivf_meta",
      "graft_gp_smpl_cent", "graft_gp_smpl_smpl", "graft_gp_smpl_meta") ++
      famCounts.map(f => s"graft_gp_g${f}_manifest")
    def dropAll(): Unit =
      allTables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      for (r <- replicas) {
        dropAll()
        val corpus = corpusOf(r).persist()
        val n = corpus.count()
        println(s"PROBE corpus r=$r n=$n")
        time(s"builds_r$r") {
          ShingleIndex.build(corpus, "doc_id", "text", "graft_gp_shingle")
          PostingIndex.build(corpus, "doc_id", "text", "graft_gp_post")
          CmsStore.build(corpus, "doc_id", "text", "graft_gp_cms",
            n = 3, depth = 4, width = 1 << 14)
          DsirStore.build(corpus, docs0.limit(200), "doc_id", "text",
            "graft_gp_dsir", buckets = 512)
          DriftStore.build(corpus, "grp", "v", "graft_gp_drift",
            binWidth = 20L)
          IvfIndex.build(corpus, "doc_id", "embedding", "graft_gp_ivf",
            nCells = 64, buckets = 32)
          SampleStore.build(corpus, "doc_id", "embedding",
            "graft_gp_smpl", nCells = 64, k = 5)
        }
        corpus.unpersist()
        spark.catalog.clearCache()
        var tag = 0L
        for (f <- famCounts) {
          val fams = familiesOf(f)
          for (b <- 1 to nBatches) {
            tag += 1
            val batch = batchOf(tag)
            time(s"group_batch_r${r}_f${f}_$b") {
              Streams.multiIngestBatch(batch, 5000L + tag,
                s"graft_gp_g$f", fams)
            }
            spark.catalog.clearCache()
          }
          // the bare-append control: same batch shape, same families,
          // fresh ids, NO commit machinery — the group/bare delta is
          // the manifest+prune overhead under test
          for (b <- 1 to nBatches) {
            tag += 1
            val batch = batchOf(tag)
            time(s"bare_batch_r${r}_f${f}_$b") {
              val pinned = batch.persist()
              try fams.foreach(_.append(pinned, 5000L + tag))
              finally { pinned.unpersist(); () }
            }
            spark.catalog.clearCache()
          }
        }
      }
    } finally {
      dropAll()
      spark.stop()
    }
  }
}
