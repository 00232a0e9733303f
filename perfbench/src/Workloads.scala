package perfbench

import graft.Engine
import graft.etl.{Import, MigrationSource, MigrationState, MigrationStore}
import graft.operators.{Clusters, CmsStore, Corpus, Dedup}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** What an op hands back: the items it completed, and the planted-answer
  * checks, which run after the op's clock has stopped. */
final case class Outcome(items: Long, verify: () => Unit = () => ())

/** One closed-loop, single-client workload. `setup` builds everything a
  * host needs before its first request and is repeated (each repeat
  * starts from nothing); `cycle` issues one fixed round of requests. */
abstract class Workload(val spark: SparkSession, val rec: Recorder,
    val seed: Long, val dir: Path) {
  /** Op names of one cycle, in order. */
  def ops: Seq[String]
  /** Untimed cycles before the timed ones. */
  def warmupCycles: Int
  /** Timed cycles per second of `--seconds`. */
  def cyclesPerSecond: Double
  def setup(rep: Int): Unit
  def cycle(c: Int, phase: String, traced: Boolean): Unit
  /** Hash of every generated input; equal seeds give equal values. */
  var fingerprint: String = ""

  protected def digest(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  protected def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  protected def filesUnder(p: Path, keep: Path => Boolean): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .count(f => Files.isRegularFile(f) && keep(f) &&
        !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_")).toLong

  /** Where the session's tables live (Main points the session here). */
  protected def warehouse: Path = dir.resolve("warehouse")
}

/** The embedded host app or `graft status` user, and its batch import:
  * refresh after a catalog change, then status, a concept-filtered
  * columns lookup, the MDE top-10 and a what-if drop; then seeded CSV
  * batches through `Import.runImport` into a parquet sink, validated by
  * rules from the target table's SMO rows. Every second batch carries
  * planted violations and must end IMPORT_FAILED. */
final class CatalogSession(spark: SparkSession, rec: Recorder, seed: Long,
    dir: Path, rowsPerBatch: Int = 50000) extends Workload(spark, rec, seed, dir) {
  val ops = Seq("refresh", "status", "columns", "mde", "whatif", "import",
    "reject")
  // after one warm-up cycle each op's time varies less from cycle to
  // cycle than from run to run, so a second warm-up cycle buys little
  val warmupCycles = 1
  val cyclesPerSecond = 0.2
  /** Planted violations of the bad batch: null names, 9-char codes. */
  private val nullNames = 7
  private val longCodes = 3
  private val ddl = "id BIGINT, name STRING, email STRING, code STRING, " +
    "city STRING, qty INT, price DOUBLE, note STRING, tags STRING, " +
    "created_at TIMESTAMP"
  private val (targetSchema, targetTable) = CatalogGen.ImportTarget
  var gen: CatalogGen = _
  var engine: Engine = _
  var store: MigrationStore = _
  var sinkDir: String = _
  var sunk = 0L
  private var good: String = _
  private var bad: String = _

  private def writeCsv(path: Path, rnd: java.util.SplittableRandom,
      planted: Boolean): Unit = {
    val w = Files.newBufferedWriter(path)
    w.write("id,name,email,code,city,qty,price,note,tags,created_at\n")
    (0 until rowsPerBatch).foreach { i =>
      val name = if (planted && i % 1000 == 1 && i / 1000 < nullNames) ""
        else s"  name$i  "
      val code = if (planted && i % 1000 == 2 && i / 1000 < longCodes)
        s"C${10000000 + rnd.nextInt(90000000)}" else s"K${1000000 + rnd.nextInt(9000000)}"
      w.write(s"$i,$name,u$i@example.org,$code,city${rnd.nextInt(500)}," +
        s"${rnd.nextInt(1000)},${rnd.nextInt(100000) / 100.0},n${rnd.nextLong()}," +
        s"a${rnd.nextInt(9)};b${rnd.nextInt(9)},2024-01-01 00:00:00\n")
    }
    w.close()
  }

  def setup(rep: Int): Unit = {
    gen = new CatalogGen(seed)
    val src = dir.resolve(s"staging$rep")
    Files.createDirectories(src)
    val rnd = new java.util.SplittableRandom(seed)
    good = src.resolve("good.csv").toString
    bad = src.resolve("bad.csv").toString
    writeCsv(Paths.get(good), rnd, planted = false)
    writeCsv(Paths.get(bad), rnd, planted = true)
    val rows = gen.rows
    if (rep == 0) fingerprint = digest(rows.all.iterator.map(_.toString) ++
      Iterator(good, bad).map(f => new String(Files.readAllBytes(Paths.get(f)))))
    engine = rec.span("catalog.load")(new Engine(spark, gen.snapshot(spark)))
    rec.span("smo")(engine.refresh())
    store = new MigrationStore
    sinkDir = dir.resolve(s"sink$rep").toString
    sunk = 0L
  }

  private val mappings = {
    val b = graft.mapping.BidiRegistry.withDefaults
    Seq("id", "email", "code", "city", "qty", "price", "note", "created_at")
      .map(c => Import.ColumnMapping(c, c, b("identity"))) ++ Seq(
      Import.ColumnMapping("name", "name", b("trim_str")),
      Import.ColumnMapping("tags", "tags", b("split_comma_array")))
  }

  /** One `runImport`; the load, rules and sink callbacks are timestamped
    * so the traced run can split the call into its stages. */
  private def importOnce(path: String): graft.etl.DataMigration = {
    val t0 = Clock.now()
    var load, rules0, rules1, sink0, sink1 = Double.NaN
    val m = Import.runImport(store, MigrationSource.Csv, targetTable,
      load = () => { load = Clock.now(); Import.stageCsv(spark, path, Some(ddl)) },
      mappings = mappings,
      rules = df => {
        rules0 = Clock.now()
        try Import.rulesFromSmo(engine.smo, targetSchema, targetTable, df.columns.toSeq)
        finally rules1 = Clock.now()
      },
      sink = df => {
        sink0 = Clock.now()
        try df.write.mode("append").parquet(sinkDir)
        finally sink1 = Clock.now()
      })
    val t1 = Clock.now()
    val validated = if (sink0.isNaN) t1 else sink0
    rec.derived("etl.bookkeeping", t0, load)
    rec.derived("etl.stage", load, rules0)
    rec.derived("etl.rules", rules0, rules1)
    rec.derived("etl.validate", rules1, validated)
    rec.derived("etl.sink", sink0, sink1)
    rec.derived("etl.bookkeeping", if (sink1.isNaN) validated else sink1, t1)
    rec.count("etl.cached_mb", spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0)
    m
  }

  private def violations(summary: String): Map[String, Long] =
    """"rule":"([^"]+)","column":"([^"]+)","violations":(\d+)""".r
      .findAllMatchIn(summary).map(m => s"${m.group(1)}:${m.group(2)}" -> m.group(3).toLong)
      .filter(_._2 > 0).toMap

  def cycle(c: Int, phase: String, traced: Boolean): Unit = {
    // the change and its snapshot frames are the source database's side,
    // made before the host's refresh request
    gen.change()
    val snap = gen.snapshot(spark)
    rec.op("refresh", phase, c, traced) {
      rec.span("smo")(engine.refresh(snap))
      Outcome(1, () => rec.check("smo_rows", gen.status("column_count"),
        engine.smo.count()))
    }
    rec.op("status", phase, c, traced) {
      val row = rec.span("status")(engine.status.collect().head)
      Outcome(1, () => {
        val want = gen.status
        rec.check("status_counts", want.toSeq.sorted.mkString(","),
          want.keys.toSeq.sorted.map(k => k -> row.getAs[Long](k)).mkString(","))
      })
    }
    rec.op("columns", phase, c, traced) {
      val t = gen.piiTable()
      val cols = rec.span("concepts.apply")(engine.columns)
      val got = rec.span("concepts.lookup")(cols
        .filter(col("schema_name") === t.schema &&
          col("table_name") === t.name && col("is_pii"))
        .select("column_name").collect().map(_.getString(0)).sorted.toSeq)
      Outcome(1, () => rec.check("columns_pii",
        t.cols.filter(_.pii).map(_.name).sorted.mkString(","),
        got.mkString(",")))
    }
    rec.op("mde", phase, c, traced) {
      val top = rec.span("scoring")(
        engine.masterDataEntityCandidates.limit(10).collect())
      Outcome(1, () => rec.check("mde_top",
        s"${gen.topMaster._1}.${gen.topMaster._2}@1.0",
        s"${top(0).getString(0)}.${top(0).getString(1)}@${top(0).getFloat(4)}"))
    }
    rec.op("whatif", phase, c, traced) {
      val target = gen.whatIfTarget()
      val sim = rec.span("catalog.whatif_build")(
        engine.whatIfDropTable(target._1, target._2))
      val row = rec.span("status")(sim.status.collect().head)
      Outcome(1, () => rec.check("whatif_columns",
        gen.columnCountAfterDrop(target), row.getAs[Long]("column_count")))
    }
    rec.op("import", phase, c, traced) {
      val before = bytesUnder(Paths.get(sinkDir))
      val m = importOnce(good)
      rec.count("etl.sink_bytes_per_row",
        (bytesUnder(Paths.get(sinkDir)) - before).toDouble / rowsPerBatch)
      Outcome(if (m.state == MigrationState.Imported.value) rowsPerBatch else 0L, () => {
        rec.check("import_state", MigrationState.Imported.value, m.state)
        sunk += rowsPerBatch
        rec.check("sink_rows", sunk, spark.read.parquet(sinkDir).count())
      })
    }
    rec.op("reject", phase, c, traced) {
      val m = importOnce(bad)
      Outcome(0, () => {
        rec.check("reject_state", MigrationState.ImportFailed.value, m.state)
        rec.check("reject_violations",
          Map("not_null:name" -> nullNames.toLong, "max_length_8:code" -> longCodes.toLong)
            .toSeq.sorted.mkString(","),
          violations(m.summary.getOrElse("")).toSeq.sorted.mkString(","))
      })
    }
  }
}

/** Corpus curation and ingest over a seeded corpus with planted near-dup
  * families: a curation pass (capped pairs, connected components,
  * canonical keep), a BM25 query set, and a micro-batch of fresh docs
  * through the streaming layer's cross-family commit
  * (`Streams.multiIngestBatch`) into a CMS n-gram store. */
final class CorpusSession(spark: SparkSession, rec: Recorder, seed: Long,
    dir: Path, corpusDocs: Int = 1500, batchDocs: Int = 300, queries: Int = 20)
    extends Workload(spark, rec, seed, dir) {
  import spark.implicits._
  val ops = Seq("curate", "bm25", "ingest")
  // the first cycle after one warm-up still runs curate 10-25% slower
  // than the next; the median of three timed cycles leaves it out
  val warmupCycles = 1
  val cyclesPerSecond = 0.3
  private val gramN = 3
  var gen: CorpusGen = _
  var docs: DataFrame = _
  var nDocs = 0L
  var plantedFamilies = 0L
  var kept = 0L
  var queryPairs = Seq.empty[(Long, Long)]
  var nextId = 0L
  var batchId = 0L
  /** Doc-distinct n-grams the CMS store has counted: its row-0 total. */
  var grams = 0L

  private def distinctGrams(text: String): Long =
    text.split(' ').sliding(gramN).map(_.mkString(" ")).toSet.size.toLong

  private def family: Streams.StoreFamily = {
    val cms = Streams.StoreFamily.cms("grams", "doc_id", "text")
    cms.copy(append = (b, id) => rec.span("operators.cms_append")(cms.append(b, id)))
  }

  def setup(rep: Int): Unit = {
    gen = new CorpusGen(seed)
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String, Int)]()
    var fams, copiesTotal = 0L
    var pairFams = Seq.empty[(Long, Long)]
    while (rows.size < corpusDocs) {
      val id = rows.size.toLong
      val text = gen.doc(id, gen.length())
      rows += ((id, text, gen.nextInt(1000)))
      if (gen.nextInt(5) == 0) {
        // a family: the root plus 1..4 near-dup copies
        val copies = 1 + gen.nextInt(4)
        (1 to copies).foreach(_ =>
          rows += ((rows.size.toLong, gen.nearDup(text), gen.nextInt(1000))))
        fams += 1
        copiesTotal += copies
        if (copies == 1) pairFams :+= ((id, id + 1))
      }
    }
    val all = rows.toSeq
    if (rep == 0) fingerprint = digest(all.iterator.map(_.toString))
    plantedFamilies = fams
    // one keeper per family, every singleton kept
    kept = all.size - copiesTotal
    nDocs = all.size
    queryPairs = pairFams.take(queries)
    val path = dir.resolve(s"corpus$rep").toString
    all.toDF("doc_id", "text", "quality").write.parquet(path)
    docs = spark.read.parquet(path)
    CmsStore.build(docs, "doc_id", "text", "grams", n = gramN)
    spark.sql("DROP TABLE IF EXISTS corpus_manifest")
    grams = all.map(r => distinctGrams(r._2)).sum
    nextId = nDocs
    batchId = 0L
  }

  def cycle(c: Int, phase: String, traced: Boolean): Unit = {
    rec.op("curate", phase, c, traced) {
      val pairs = rec.span("operators.pairs")(Dedup.ngramJaccardPairs(
        docs, "doc_id", "text", maxDocFreq = Some(20))
        .select("ida", "idb").localCheckpoint())
      val clusters = rec.span("operators.clusters")(
        Clusters.connectedComponents(pairs).localCheckpoint())
      val r = rec.span("operators.keep")(Dedup.canonicalKeep(docs, "doc_id",
        "quality", clusters).agg(
          count(when(col("is_kept"), 1)).as("kept"),
          count_distinct(when(col("cluster_id") =!= col("doc_id") ||
            !col("is_kept"), col("cluster_id"))).as("clusters"))
        .collect().head)
      // the pair operators persist shared inputs and document that
      // callers clear the session cache between pipelines
      spark.catalog.clearCache()
      rec.count("operators.pairs", pairs.count().toDouble)
      rec.count("operators.clusters", r.getLong(1).toDouble)
      Outcome(nDocs, () => rec.check("curate_counts",
        s"clusters=$plantedFamilies,kept=$kept",
        s"clusters=${r.getLong(1)},kept=${r.getLong(0)}"))
    }
    rec.op("bm25", phase, c, traced) {
      val ids = queryPairs.map(_._1)
      val top = rec.span("operators.bm25")(Corpus.bm25TopK(docs, "doc_id",
        "text", col("doc_id").isin(ids: _*), 8, 10)
        .filter(col("rnk") === 1).collect())
      Outcome(ids.size, () => rec.check("bm25_first",
        queryPairs.sorted.mkString(","),
        top.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")))
          .sorted.mkString(",")))
    }
    val batch = Seq.fill(batchDocs) { nextId += 1; (nextId, gen.doc(nextId, gen.length())) }
    val df = batch.toDF("doc_id", "text")
    rec.op("ingest", phase, c, traced) {
      batchId += 1
      val t0 = Clock.now()
      Streams.multiIngestBatch(df, batchId, "corpus", Seq(family))
      val t1 = Clock.now()
      rec.opSpans.find(_.name == "operators.cms_append").foreach { a =>
        rec.derived("streaming.prepare", t0, a.start)
        rec.derived("streaming.commit", a.end, t1)
      }
      Outcome(batch.size, () => {
        grams += batch.map(d => distinctGrams(d._2)).sum
        rec.check("cms_total", grams, spark.table("grams_cms")
          .filter(col("rw") === 0).agg(sum("cnt")).head().getLong(0))
        rec.count("operators.cms_files_per_batch", filesUnder(
          warehouse.resolve("grams_cms"), _.toString.contains(s"batch_id=$batchId/")))
      })
    }
  }
}
