package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-size ladder for the two biggest query families — the pair
  * pipeline (df-capped n-gram Jaccard) and BM25 retrieval — at a core
  * count taken from SPARK_GRAFT_CPUS, so 8c-vs-32c crossover is
  * measurable beyond the fixed sf0.1 bench corpus (~5k docs).
  *
  * The corpus is a deterministic hash-derived document table (the
  * SyntheticVectors discipline: zero RNG, identical across runs):
  * zipf-ish vocabulary (30% of positions draw from a 150-word common
  * pool — boilerplate/df-cap pressure — the rest from a 30k-word tail),
  * 40–120 tokens per doc, and every 10th doc is a planted near-dup of
  * its predecessor (same family text, one divergent token) so the
  * pair pipeline has real candidates at every size.
  *
  * Usage: SPARK_GRAFT_CPUS=8|32 runMain graft.tools.ScaleLadder
  *        [n1,n2,...]   (doc counts; default 5000,15000,50000)
  * Each (family, n) measures best-of-two noop-sink runs, caches
  * cleared between runs — the bench's own discipline.
  */
object ScaleLadder {
  def docs(spark: SparkSession, n: Long): DataFrame = {
    import graft.functions.TextFns.hash32
    // family id: docs 10k+9 duplicate 10k+8's family text
    val fam = when(pmod(col("id"), lit(10)) === 9, col("id") - 1)
      .otherwise(col("id"))
    val len = (pmod(hash32(concat(lit("len"), fam)), lit(81)) + 40)
    // words hash the family column of the first select: `fam` itself
    // refers to `id`, which that select renamed away
    val word = (p: org.apache.spark.sql.Column) => {
      val h = hash32(concat(lit("w"), col("_fam"), lit("_"), p))
      val common = pmod(h, lit(150))
      val rare = pmod(hash32(concat(lit("r"), col("_fam"), lit("_"), p)),
        lit(30000))
      concat(lit("w"), when(pmod(h, lit(10)) < 3, common).otherwise(rare))
    }
    spark.range(n).select(col("id").as("doc_id"),
      fam.as("_fam"), len.as("_len"))
      .select(col("doc_id"),
        concat(
          array_join(transform(sequence(lit(0), col("_len")), word), " "),
          // the divergent token that keeps planted dups NEAR-dups
          lit(" t"), col("doc_id")).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val sizes = args.headOption
      .map(_.split(',').map(_.trim.toLong).toSeq)
      .getOrElse(Seq(5000L, 15000L, 50000L))
    val spark = graft.Sessions.local(cpus)
    def t(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def bestOf2(label: String)(f: => Unit): Unit = {
      val a = t(f); spark.catalog.clearCache()
      val b = t(f); spark.catalog.clearCache()
      println(f"LADDER cpus=$cpus $label%-28s ${math.min(a, b)}%.2fs  (runs $a%.2f/$b%.2f)")
    }
    sizes.foreach { n =>
      // materialize the corpus to parquet so every family measures its
      // pipeline, not the synthetic text expression
      val dir = s"/tmp/graft_ladder_$n"
      if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)))
        docs(spark, n).write.mode("overwrite").parquet(dir)
      val d = spark.read.parquet(dir)
      bestOf2(s"pairs_capped n=$n") {
        graft.operators.Dedup.ngramJaccardPairs(d, "doc_id", "text",
            n = 5, num = 7, den = 10, maxDocFreq = Some(20))
          .write.format("noop").mode("overwrite").save()
      }
      bestOf2(s"bm25_topk n=$n") {
        graft.operators.Corpus.bm25TopK(d, "doc_id", "text",
            col("doc_id") % 500 === 0, 8, 10)
          .write.format("noop").mode("overwrite").save()
      }
    }
    spark.stop()
  }
}
