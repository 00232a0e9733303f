package graft.tools

import graft.Sessions
import graft.operators.{Corpus, DsirStore}
import org.apache.spark.sql.functions._

/** Profiling main for the persisted DSIR model vs its one-shot twin:
  * (a) per-batch append cost as the accumulated corpus grows — the
  * store's contract is that a batch pays batch-scale work + a
  * ≤ buckets-row write, REGARDLESS of how much the model has already
  * ingested; (b) store-served scoring vs the from-scratch fit, whose
  * gap is the two model-fit corpus scans the store skips (and grows
  * with corpus size while the served path's model read stays
  * O(buckets × partitions)). Not driver-gated; numbers land in
  * SCALE.md. */
object DsirScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val replicas = args.lift(1).map(_.toInt).getOrElse(4)
    val buckets = 512
    val docs = graft.Tables.df(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"))
    val target = docs.filter(col("lang") === "en")
    // the growth experiment: the batch stays fixed while the corpus
    // grows (unique suffix tokens keep per-copy vocabularies distinct,
    // as in IndexProbe)
    def corpusOf(k: Int) = (0 until k).map { i =>
      docs.select((col("doc_id") + lit(i.toLong * 1000000000L))
        .as("doc_id"),
        concat(col("text"), lit(s" zcopy$i marker$i")).as("text"))
    }.reduce(_ unionByName _)
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"PROBE $name n=$n t=${(System.nanoTime() - t0) / 1e9}%.2fs")
      spark.catalog.clearCache()
    }
    try {
      for (k <- Seq(1, replicas)) {
        val corpus = corpusOf(k)
        time(s"build_x$k") {
          DsirStore.build(corpus, target, "doc_id", "text",
            "graft_dsirprobe", buckets); corpus.count()
        }
        // append cost must stay flat as the accumulated model grows
        for (i <- 1 to 2) time(s"append_x${k}_$i") {
          DsirStore.append(batch, "doc_id", "text", "graft_dsirprobe",
            100L + i)
          batch.count()
        }
        // serving the batch's weights: store vs from-scratch fit
        for (i <- 1 to 2) time(s"serve_store_x${k}_$i") {
          DsirStore.weights(batch, "doc_id", "text", "graft_dsirprobe")
            .count()
        }
        for (i <- 1 to 2) time(s"serve_oneshot_x${k}_$i") {
          Corpus.dsirWeights(
            corpus.unionByName(batch
              .select((col("doc_id") + lit(-1000000000L)).as("doc_id"),
                col("text"))),
            target, "doc_id", "text", buckets)
            .filter(col("doc_id") < 0).count()
        }
      }
    } finally {
      Seq("graft_dsirprobe_tgt", "graft_dsirprobe_dsir",
        "graft_dsirprobe_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.stop()
    }
  }
}
