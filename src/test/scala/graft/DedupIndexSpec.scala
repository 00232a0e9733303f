package graft

import graft.operators.{Dedup, ShingleIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted shingle index must be a pure storage optimization:
  * [[ShingleIndex.incrementalPairs]] returns row-for-row what the
  * in-memory [[Dedup.incrementalNearDupPairs]] returns for the same
  * corpus/batch split — across builds AND appends — while its plan
  * reads the bucketed store instead of re-shingling corpus text. */
class DedupIndexSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(8)
  private val sf = "/root/testdata/sf0.001"
  private def docs = Tables.df(spark, sf, "documents")

  private def pairSet(df: DataFrame) = df.collect().map(r =>
    (r.getAs[Long]("new_id"), r.getAs[Long]("match_id"),
      r.getAs[Int]("inter"), r.getAs[Int]("union_sz"),
      r.getAs[Boolean]("match_is_new"))).toSet

  /** Detach a fixture slice from its parquet lineage (local relation),
    * so "the indexed path never rescans the corpus parquet" is a real
    * plan invariant — the BATCH legitimately scans its own source, and
    * here that source comes from the same file as the corpus. */
  private def localize(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  test("indexed incremental pairs == in-memory pairs, including after append") {
    val old0 = docs.filter(col("doc_id") % 5 =!= 0)
    val batch1 = localize(
      docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 10 =!= 0))
    val batch2 = localize(docs.filter(col("doc_id") % 10 === 0))
    try {
      ShingleIndex.build(old0, "doc_id", "text", "graft_t")
      val viaIndex = ShingleIndex.incrementalPairs(
        batch1, "doc_id", "text", "graft_t")
      val inMemory = Dedup.incrementalNearDupPairs(
        old0, batch1, "doc_id", "text")
      val got = pairSet(viaIndex)
      assert(got == pairSet(inMemory))
      assert(got.nonEmpty, "fixture should contain planted near-dups")
      // the plan reads the bucketed store — never the corpus text: no
      // scan of the documents parquet feeds the indexed run
      val plan = viaIndex.queryExecution.executedPlan.toString
      assert(plan.contains("graft_t_idx") && plan.contains("graft_t_sh"),
        plan.take(600))
      assert(!plan.contains("documents.parquet"),
        "indexed path must not rescan the corpus parquet")
      // a second ingest round: append batch1, compare batch2 against
      // the grown corpus — the df counts must reflect old ∪ batch1
      ShingleIndex.append(batch1, "doc_id", "text", "graft_t")
      val viaIndex2 = ShingleIndex.incrementalPairs(
        batch2, "doc_id", "text", "graft_t")
      val inMemory2 = Dedup.incrementalNearDupPairs(
        old0.unionByName(batch1), batch2, "doc_id", "text")
      assert(pairSet(viaIndex2) == pairSet(inMemory2))
      // the stored-side df aggregate is exchange-free (bucketed on s):
      // nothing corpus-sized crosses the network per ingest
      val dfOldPlan = spark.table("graft_t_idx")
        .groupBy(col("s")).agg(count(lit(1)))
        .queryExecution.executedPlan.toString
      assert(!dfOldPlan.contains("Exchange"),
        s"df count over the bucketed index must not shuffle:\n$dfOldPlan")
    } finally Seq("graft_t_idx", "graft_t_sh", "graft_t_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("small probes prune index FILES via the partition column, not just rows") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    // a single short probe doc: few distinct shingles => few pmod(s,parts)
    // values => most partition directories never open. Text truncated so
    // the shingle count stays well under parts (pruning is decisive for
    // small probes and honestly degrades to a full scan for bulk ones).
    val probe = localize(docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), substring(col("text"), 1, 200).as("text"))
      .limit(1))
    try {
      ShingleIndex.build(corpus, "doc_id", "text", "graft_t3", parts = 256)
      // two batches so the index holds multiple file generations
      ShingleIndex.append(localize(docs.filter(col("doc_id") % 25 === 3)
        .select(col("doc_id") + 100000, col("text"))
        .toDF("doc_id", "text")), "doc_id", "text", "graft_t3")
      val viaIndex = ShingleIndex.incrementalPairs(
        probe, "doc_id", "text", "graft_t3")
      val rows = viaIndex.collect() // execute before reading the plan
      // semantics unchanged by pruning: equal to the in-memory operator
      val inMemory = Dedup.incrementalNearDupPairs(
        corpus.select(col("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") % 25 === 3)
            .select(col("doc_id") + 100000, col("text"))
            .toDF("doc_id", "text")),
        probe, "doc_id", "text")
      assert(rows.map(_.toSeq).toSet == inMemory.collect().map(_.toSeq).toSet)
      // the stored scan carries a real partition filter
      val plan = viaIndex.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*(IN|INSET|in\\()".r
          .findFirstIn(plan).isDefined,
        s"expected a partition IN-filter on the stored scan:\n${plan.take(2000)}")
      // measured: files under the selected p-dirs < all index files
      val warehouse = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      val idxDir = java.nio.file.Paths.get(warehouse, "graft_t3_idx")
      def parquetFiles(p: java.nio.file.Path): Long = {
        val s = java.nio.file.Files.walk(p)
        try s.filter(f => f.toString.endsWith(".parquet")).count()
        finally s.close()
      }
      val total = parquetFiles(idxDir)
      val batchP = Dedup.shingleDocs(probe, "doc_id", "text", 5)
        .select(explode(col("shingles")).as("sh"))
        .select(pmod(graft.functions.TextFns.hash60(col("sh")), lit(256L))
          .as("p"))
        .distinct().collect().map(_.getLong(0)).toSet
      val touched = batchP.toSeq.map(p => idxDir.resolve(s"p=$p"))
        .filter(java.nio.file.Files.isDirectory(_)).map(parquetFiles).sum
      assert(touched > 0 && touched < total,
        s"pruning should touch a strict subset of files: $touched of $total")
      assert(touched.toDouble / total < 0.5,
        s"a ~40-shingle probe should prune most of 256 partitions: $touched/$total")
    } finally Seq("graft_t3_idx", "graft_t3_sh", "graft_t3_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("shingle width comes from the stored meta, not a caller default") {
    val old0 = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    try {
      // build at n=3: the batch query takes NO width parameter — if it
      // silently shingled at the default 5 the pair sets would diverge
      ShingleIndex.build(old0, "doc_id", "text", "graft_t2", n = 3)
      val viaIndex = ShingleIndex.incrementalPairs(
        batch, "doc_id", "text", "graft_t2")
      val inMemory = Dedup.incrementalNearDupPairs(
        old0, batch, "doc_id", "text", n = 3)
      assert(pairSet(viaIndex) == pairSet(inMemory))
    } finally Seq("graft_t2_idx", "graft_t2_sh", "graft_t2_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("compact folds committed batches into base, preserves torn batches, changes no answer") {
    import java.nio.file.{Files, Paths}
    val old0 = docs.filter(col("doc_id") % 7 =!= 0)
    val batch1 = localize(docs.filter(col("doc_id") % 14 === 0))
    val batch2 = localize(docs.filter(col("doc_id") % 14 === 7
      && col("doc_id") % 28 =!= 7))
    val probe = localize(docs.filter(col("doc_id") % 28 === 7))
    try {
      ShingleIndex.build(old0, "doc_id", "text", "graft_c")
      ShingleIndex.append(batch1, "doc_id", "text", "graft_c", batchId = 1L)
      ShingleIndex.append(batch2, "doc_id", "text", "graft_c", batchId = 2L)
      val before = pairSet(ShingleIndex.incrementalPairs(
        probe, "doc_id", "text", "graft_c"))
      val totalBefore = spark.table("graft_c_idx").count()
      // the pair operators persist intermediates over the index tables
      // (caller-clears-cache convention): drop them before mutating the
      // tables underneath, here and after each prune below
      spark.catalog.clearCache()
      // batch 2 is "torn" (appended, never committed): compact must fold
      // batch 1 into base but leave batch 2's partitions prunable
      ShingleIndex.compact(spark, "graft_c", uncommitted = Set(2L))
      assert(spark.table("graft_c_idx").count() == totalBefore,
        "compaction must not add or drop a single posting")
      val warehouse = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      def batchDirs(table: String): Set[String] = {
        val s = Files.walk(Paths.get(warehouse, table))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filter(_.startsWith("batch_id=")).toSet
        } finally s.close()
      }
      assert(batchDirs("graft_c_idx") == Set("batch_id=-1", "batch_id=2"),
        batchDirs("graft_c_idx").toString)
      assert(batchDirs("graft_c_sh") == Set("batch_id=-1", "batch_id=2"))
      // answers are layout-independent
      val after = pairSet(ShingleIndex.incrementalPairs(
        probe, "doc_id", "text", "graft_c"))
      assert(after == before)
      // the torn batch is still undoable post-compact: after the prune,
      // the index answers as if batch 2 never appended
      spark.catalog.clearCache()
      ShingleIndex.pruneBatch(spark, "graft_c", 2L)
      val pruned = pairSet(ShingleIndex.incrementalPairs(
        probe, "doc_id", "text", "graft_c"))
      val expected = pairSet(Dedup.incrementalNearDupPairs(
        old0.unionByName(batch1), probe, "doc_id", "text"))
      assert(pruned == expected)
      // ...while a committed-and-folded batch is out of pruning's reach
      spark.catalog.clearCache()
      ShingleIndex.pruneBatch(spark, "graft_c", 1L) // no-op: folded
      assert(pairSet(ShingleIndex.incrementalPairs(
        probe, "doc_id", "text", "graft_c")) == expected)
    } finally {
      Seq("graft_c_idx", "graft_c_sh", "graft_c_meta",
        "graft_c_idx_cmp", "graft_c_sh_cmp", "graft_c_idx_old",
        "graft_c_sh_old")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("dropTable deletes the table's CATALOG location, not a same-named warehouse dir") {
    import java.nio.file.{Files, Paths}
    val loc = Files.createTempDirectory("graft_ext_loc")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val decoy = Paths.get(warehouse, "graft_ext_t")
    try {
      // a table whose data lives at a CUSTOM location...
      spark.sql("CREATE TABLE graft_ext_t (x INT) USING parquet " +
        s"LOCATION '${loc.toUri}'")
      spark.sql("INSERT INTO graft_ext_t VALUES (1), (2)")
      // ...plus an UNRELATED directory sitting at the warehouse path the
      // old convention would have resolved to
      Files.createDirectories(decoy)
      Files.write(decoy.resolve("bystander.txt"), "keep me".getBytes)
      graft.operators.BatchTable.dropTable(spark, "graft_ext_t")
      assert(!spark.catalog.tableExists("graft_ext_t"))
      assert(!Files.exists(loc), "the table's real data dir must be cleaned")
      assert(Files.exists(decoy.resolve("bystander.txt")),
        "an unrelated same-named warehouse directory must survive")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_ext_t")
      Seq(decoy.resolve("bystander.txt"), decoy).foreach(Files.deleteIfExists)
      if (Files.exists(loc)) {
        val s = Files.walk(loc)
        try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally s.close()
      }
    }
  }

  test("incrementalPairs rejects a string-id store probed with long ids at entry, naming both types") {
    import spark.implicits._
    val text = "one two three four five six seven eight nine ten"
    try {
      ShingleIndex.build(Seq(("a", text)).toDF("doc_id", "text"),
        "doc_id", "text", "graft_strid")
      val e = intercept[IllegalArgumentException] {
        ShingleIndex.incrementalPairs(Seq((1L, text)).toDF("doc_id", "text"),
          "doc_id", "text", "graft_strid")
      }
      assert(e.getMessage.contains("batch doc_id: bigint") &&
        e.getMessage.contains("graft_strid_idx.doc_id: string"), e.getMessage)
    } finally Seq("graft_strid_idx", "graft_strid_sh", "graft_strid_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("a string-id store's incrementalPairs == in-memory pairs") {
    def strIds(df: DataFrame) =
      df.select(col("doc_id").cast("string").as("doc_id"), col("text"))
    val old0 = strIds(docs.filter(col("doc_id") % 5 =!= 0))
    val batch = localize(strIds(docs.filter(col("doc_id") % 5 === 0)))
    try {
      ShingleIndex.build(old0, "doc_id", "text", "graft_sid")
      val viaIndex = ShingleIndex.incrementalPairs(
        batch, "doc_id", "text", "graft_sid")
      val inMemory = Dedup.incrementalNearDupPairs(
        old0, batch, "doc_id", "text")
      assert(viaIndex.schema("new_id").dataType ==
        org.apache.spark.sql.types.StringType)
      assert(!viaIndex.isEmpty, "fixture should contain planted near-dups")
      assert(viaIndex.exceptAll(inMemory).isEmpty)
      assert(inMemory.exceptAll(viaIndex).isEmpty)
    } finally {
      spark.catalog.clearCache()
      Seq("graft_sid_idx", "graft_sid_sh", "graft_sid_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("ScaleLadder corpus: every doc 10k+9 is a planted near-dup of doc 10k+8") {
    val corpus = graft.tools.ScaleLadder.docs(spark, 20)
    assert(corpus.count() == 20)
    val pairs = Dedup.ngramJaccardPairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("ida"), r.getAs[Long]("idb"))).toSet
    spark.catalog.clearCache()
    assert(pairs == Set((8L, 9L), (18L, 19L)), pairs.toString)
  }
}
