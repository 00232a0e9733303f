package graft.etl

import graft.mapping.BidiFn
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The import half of the engine: staging load → SMO-derived validation
  * → bidi-mapped projection → sink, with `data_migrations` bookkeeping
  * (SURVEY.md §2.1 S15, §7.1 item 9). The reference declares this flow
  * (staging `dm_*` tables + state machine,
  * /root/reference/sql/V000002__data_migrations.sql:21-28,
  * rust/grant_schemamap_usage.sql:59-66) but the load logic lives in the
  * closed cloud service; this is our Spark-native realization.
  *
  * Scale: validation is pure aggregation (one pass, partial-aggregated),
  * FK checks are anti-joins that broadcast when the reference side is
  * small; nothing collects to the driver except the final one-row
  * summary. A 100 TB staging load validates in one shuffle-free map pass
  * plus one anti-join per FK.
  */
object Import {

  /** Load a CSV into a staging DataFrame (header + schema inference off
    * by default at scale — pass an explicit DDL schema when known). */
  def stageCsv(spark: SparkSession, path: String,
      schemaDdl: Option[String] = None): DataFrame = {
    val r = spark.read.option("header", "true")
    schemaDdl.fold(r.option("inferSchema", "true"))(d => r.schema(d)).csv(path)
  }

  /** Load newline-delimited JSON (the interchange staple of LLM data
    * pipelines) into a staging DataFrame. Schema-on-read is the scale
    * trap here: inference scans the whole input once before the real
    * read, so pass the DDL whenever the shape is known. JSONL splits by
    * line, so a single huge file still fans out across tasks (unlike
    * multiline JSON). Corrupt lines land in `_corrupt_record` (Spark's
    * PERMISSIVE default) instead of failing the 100 TB job. */
  def stageJsonl(spark: SparkSession, path: String,
      schemaDdl: Option[String] = None): DataFrame = {
    val r = spark.read
    schemaDdl.fold(r)(d => r.schema(d)).json(path)
  }

  /** Write a DataFrame as newline-delimited JSON — the export face of
    * [[stageJsonl]]; one file per partition, so upstream partitioning
    * controls output sharding. */
  def sinkJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Write a curated dataset as layout-optimized parquet: hive-style
    * partition directories on `partitionBy` (so reads filtering those
    * columns prune whole directories before touching a file — the
    * dominant 100 TB read optimization) and `sortWithinPartitions` on
    * `sortBy` (clusters values within each file so parquet row-group
    * min/max statistics skip pages for range predicates on the sort
    * key — poor man's Z-order, one dimension). Partition columns must
    * be low-cardinality (source, date, lang — NOT doc ids: a
    * per-value directory with tiny files is the classic small-files
    * failure). EtlSpec pins the pruned read plan. */
  def sinkParquetClustered(df: DataFrame, path: String,
      partitionBy: Seq[String], sortBy: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    // repartition on the partition key FIRST: without it every task
    // writes its own file into every hive directory — tasks×values
    // files, the small-files failure by task count — and the sort-key
    // clustering fragments into overlapping min/max ranges. After the
    // repartition each partition value lands in one task: ~1
    // well-clustered file per directory. (A pathologically hot
    // partition value serializes through one task — salt the
    // repartition key if a single value dominates the corpus.)
    val parted =
      if (partitionBy.isEmpty) df
      else df.repartition(partitionBy.map(col): _*)
    val sorted =
      if (sortBy.isEmpty) parted
      else parted.sortWithinPartitions((partitionBy ++ sortBy).map(col): _*)
    sorted.write.mode("overwrite")
      .partitionBy(partitionBy: _*)
      .parquet(path)
  }

  /** Staging→target-table write over Spark JDBC — the sink half of the
    * reference's product loop (mapped + validated staging rows landing
    * in the live Postgres tables, `sql/V000002__data_migrations.sql`'s
    * IMPORTING→IMPORTED transition). One connection per partition with
    * `batchsize`-row inserts; `append` by default because the target is
    * a live table owned by the database — `overwrite` DROPS it and
    * recreates it with Spark-inferred types, which is never what an
    * import into an existing schema wants. Coalesce upstream if the
    * target can't take `df.rdd.getNumPartitions` concurrent writers. */
  def sinkJdbc(df: DataFrame, url: String, table: String,
      props: Map[String, String] = Map.empty,
      mode: String = "append", batchSize: Int = 1000): Unit =
    props.foldLeft(
      df.write.format("jdbc").option("url", url).option("dbtable", table)
        .option("batchsize", batchSize.toString)
    ) { case (w, (k, v)) => w.option(k, v) }
      .mode(mode).save()

  /** Postgres→staging load over Spark JDBC, partitioned for parallel
    * pull: with a numeric split column the read fans out across
    * `numPartitions` range-predicated connections (the scale path for
    * the reference's POSTGRES source); without one it is a single
    * cursor. */
  def stageJdbc(spark: SparkSession, url: String, table: String,
      props: Map[String, String] = Map.empty,
      splitBy: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val base = props.foldLeft(
      spark.read.format("jdbc").option("url", url).option("dbtable", table)
    ) { case (r, (k, v)) => r.option(k, v) }
    splitBy.fold(base) { case (col0, lo, hi, n) =>
      base.option("partitionColumn", col0)
        .option("lowerBound", lo.toString).option("upperBound", hi.toString)
        .option("numPartitions", n.toString)
    }.load()
  }

  /** XLSX staging — the reference product's headline import source —
    * via the dependency-free [[Xlsx]] reader. `path` is any
    * Hadoop-globbable location (one file, a directory, a `*.xlsx`
    * glob): workbooks fan out ONE TASK PER FILE over `binaryFiles` (a
    * zip is not splittable, and the format's 1,048,576-row sheet cap
    * bounds per-task memory by construction — the 100 TB shape is many
    * workbooks, not one huge one). The header comes from the first
    * file; all files in a multi-file stage must share it (row width is
    * padded/truncated to the header — staging validation catches
    * drift, exactly as it does for CSV).
    *
    * All columns surface as nullable strings: staging is
    * schema-on-read, typing belongs to the mapping stage. */
  def stageXlsx(spark: SparkSession, path: String,
      sheet: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val files = spark.sparkContext.binaryFiles(path)
    // A zero-match path must say so plainly. Hadoop reports the two
    // empty cases differently — a glob matching nothing throws
    // InvalidInputException during split computation, an existing-but-
    // empty directory just yields no partitions — so both are funneled
    // into the same message here. The header workbook is parsed once on
    // the driver and once again in the executor pass — accepted: a
    // workbook is format-capped small, and distinguishing "the first
    // file" inside the distributed flatMap would couple the parse to
    // glob ordering.
    val headFile =
      try files.take(1)
      catch {
        case e: org.apache.hadoop.mapreduce.lib.input.InvalidInputException =>
          throw new IllegalArgumentException(s"no workbooks match $path", e)
      }
    require(headFile.nonEmpty, s"no workbooks match $path")
    val header = Xlsx.parse(headFile(0)._2.toArray(), sheet).header
    require(header.nonEmpty, s"no header row in first workbook at $path")
    val schema = StructType(header.map(StructField(_, StringType,
      nullable = true)))
    val n = header.size
    val rows = files.flatMap { case (file, pds) =>
      val parsed = Xlsx.parse(pds.toArray(), sheet)
      // the row pad/truncate below is POSITIONAL (it exists for ragged
      // rows within a sheet) — a workbook with the same columns in a
      // different order, or different columns entirely, would be
      // silently misaligned into the wrong fields. The per-file header
      // is already parsed right here, so mismatches are rejected at
      // stage time instead.
      require(parsed.header == header,
        s"workbook $file header ${parsed.header.mkString("[", ",", "]")} " +
          s"does not match the stage header ${header.mkString("[", ",", "]")}" +
          " (positional staging would misalign its rows)")
      parsed.rows.map(r => Row.fromSeq(r.padTo(n, null).take(n)))
    }
    spark.createDataFrame(rows, schema)
  }

  /** GOOGLE_SPREADSHEET staging over the sheet's standard CSV export —
    * the public interop path for the reference's declared source
    * (data_migration_sources, sql/V000002__data_migrations.sql:21-28;
    * the reference's own loader is closed-source cloud). A sheet
    * downloaded via File → Download → CSV, or fetched from
    * `/export?format=csv&gid=…` by any out-of-band job, lands at
    * `path` and stages here with the export dialect pinned:
    *
    *   - first row is the header (Sheets always emits it);
    *   - RFC-4180 quoting with DOUBLED quotes (`""`) as the escape —
    *     Spark's csv default escape is backslash, which would corrupt
    *     any cell containing one, so `escape` is set to `"`;
    *   - cells may contain NEWLINES (quoted in the export) →
    *     `multiLine`, which makes a file one task. That is the honest
    *     shape: a sheet is capped at 10M cells, so per-file size is
    *     bounded by the format (the XLSX one-task-per-file argument) —
    *     a multi-tab/multi-sheet stage globs many files and fans out
    *     file-per-task;
    *   - everything surfaces as nullable strings (staging is
    *     schema-on-read; typing belongs to the mapping stage, same
    *     contract as [[stageXlsx]]). Empty cells are null.
    */
  def stageGsheetCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** Declared-but-connector-dependent sources. The LIVE Google Sheets
    * API needs an authenticated connector this zero-egress container
    * cannot have — stage the sheet's CSV export via [[stageGsheetCsv]]
    * instead; Salesforce likewise fails loudly with the dependency it
    * needs. The import flow itself is source-agnostic — any
    * `() => DataFrame` plugs into runImport. */
  def stageGoogleSheet(spark: SparkSession, sheetId: String): DataFrame =
    throw new UnsupportedOperationException(
      "live Google Sheets staging requires an API connector; " +
        "export the sheet as CSV and stage it with stageGsheetCsv, or " +
        "pass the connector's DataFrame to runImport(load = ...)")
  def stageSalesforce(spark: SparkSession, soql: String): DataFrame =
    throw new UnsupportedOperationException(
      "Salesforce staging requires an API connector; " +
        "pass its DataFrame to runImport(load = ...)")

  /** One declarative validation rule over the staging frame. */
  final case class Rule(name: String, column: String, violation: Column)

  /** Derive rules from the SMO rows of the target table:
    *   - not-null columns without a default ⇒ null is a violation;
    *   - `character varying(n)` / `character(n)` types ⇒ length > n;
    *   - generated columns ('g' pseudo-constraint) ⇒ any non-null value
    *     (they cannot be written to — sql/V000006…sql:59-77).
    * Columns absent from staging are skipped (mapped imports rename
    * before validating). */
  def rulesFromSmo(smo: DataFrame, schemaName: String, tableName: String,
      stagingCols: Seq[String]): Seq[Rule] = {
    val rows = smo
      .filter(col("schema_name") === schemaName && col("table_name") === tableName)
      .select("column_name", "data_type", "not_null", "default_value", "constraints")
      .collect() // catalog-sized (one table's columns), not data-sized
    val varcharN = """character(?: varying)?\((\d+)\)""".r
    rows.toSeq.filter(r => stagingCols.contains(r.getString(0))).flatMap { r =>
      val c = r.getString(0)
      val generated = Option(r.getSeq[org.apache.spark.sql.Row](4))
        .exists(_.exists(_.getAs[String]("type") == "g"))
      val notNull =
        if (r.getBoolean(2) && r.isNullAt(3) && !generated)
          Some(Rule(s"not_null", c, col(c).isNull))
        else None
      val maxLen = r.getString(1) match {
        case varcharN(n) =>
          Some(Rule(s"max_length_$n", c, length(col(c)) > n.toInt))
        case _ => None
      }
      val gen =
        if (generated) Some(Rule("generated_readonly", c, col(c).isNotNull))
        else None
      notNull.toSeq ++ maxLen ++ gen
    }
  }

  /** Evaluate rules in ONE aggregation pass: (rule, column, violations).
    * No rules is no check: an empty frame, and no job. */
  def validate(staging: DataFrame, rules: Seq[Rule]): DataFrame = {
    val spark = staging.sparkSession
    import spark.implicits._
    val counts =
      if (rules.isEmpty) Nil
      else {
        val row = staging.agg(
          count(lit(1)).as("_total"),
          rules.map(r => count(when(r.violation, 1)).as(s"${r.name}:${r.column}")): _*)
          .collect()(0)
        rules.map { r =>
          (r.name, r.column, row.getAs[Long](s"${r.name}:${r.column}"),
            row.getAs[Long]("_total"))
        }
      }
    counts.toDF("rule", "column", "violations", "total_rows")
  }

  /** FK pre-validation: staging values with no match in the reference
    * table (left-anti join; Catalyst broadcasts small reference sides).
    * The reference key is renamed before the join, so a staging frame
    * that also carries a column named `refCol` stays unambiguous. */
  def fkViolations(staging: DataFrame, fkCol: String,
      ref: DataFrame, refCol: String): DataFrame =
    staging.filter(col(fkCol).isNotNull)
      .join(ref.select(col(refCol).as("__graft_fk_ref")),
        col(fkCol) === col("__graft_fk_ref"), "left_anti")
      .groupBy(col(fkCol)).agg(count(lit(1)).as("n_rows"))

  /** One column mapping: staging column → target column via a bidi fn's
    * forward transform. */
  final case class ColumnMapping(from: String, to: String, fn: BidiFn)

  /** Project staging to the target shape (bidi forward transforms). */
  def applyMapping(staging: DataFrame, mappings: Seq[ColumnMapping]): DataFrame =
    staging.select(mappings.map(m => m.fn.forward(col(m.from)).as(m.to)): _*)

  /** Full import run with bookkeeping: LOADING → LOADED → IMPORTING →
    * IMPORTED (or *_FAILED), optimistic-version checked at every step.
    * The sink is injected (JDBC writer in production, parquet in tests).
    * Returns the final migration row; `summary` carries the validation
    * counts as JSON (`[]` when the target yields no rules). A failure
    * after LOADED — in `rules`, validation or the sink — lands
    * IMPORT_FAILED with an `{"error":…}` summary and is rethrown. */
  def runImport(
      store: MigrationStore,
      source: MigrationSource,
      mdeName: String,
      load: () => DataFrame,
      mappings: Seq[ColumnMapping],
      rules: DataFrame => Seq[Rule],
      sink: DataFrame => Unit): DataMigration = {
    val m = store.create(source, mdeName)
    val staged =
      try {
        val df = load()
        df.persist()
        df.count() // materialize the load before declaring LOADED
        df
      } catch {
        case e: Exception =>
          store.transition(m.id, MigrationState.LoadFailed, m.version,
            Some(s"""{"error":${jsonStr(e.getMessage)}}"""))
          throw e
      }
    val loaded = store.transition(m.id, MigrationState.Loaded, m.version)
    val mapped = applyMapping(staged, mappings)
    // IMPORT_FAILED is reached from LOADED only through IMPORTING
    def failed(importing: DataMigration, summary: String): DataMigration =
      store.transition(importing.id, MigrationState.ImportFailed,
        importing.version, Some(summary))
    def startImport(): DataMigration =
      store.transition(loaded.id, MigrationState.Importing, loaded.version)
    val checks =
      try validate(mapped, rules(mapped)).collect()
      catch {
        case e: Exception =>
          failed(startImport(), errorJson(e))
          throw e
      }
    val summaryJson = checks.map(r =>
        s"""{"rule":${jsonStr(r.getString(0))},"column":${jsonStr(r.getString(1))},""" +
          s""""violations":${r.getLong(2)}}""")
      .mkString("[", ",", "]")
    val importing = startImport()
    if (checks.exists(_.getAs[Long]("violations") > 0))
      failed(importing, summaryJson)
    else
      try {
        sink(mapped)
        store.transition(importing.id, MigrationState.Imported,
          importing.version, Some(summaryJson))
      } catch {
        case e: Exception =>
          failed(importing, errorJson(e))
          throw e
      }
  }

  private def errorJson(e: Exception): String =
    s"""{"error":${jsonStr(e.getMessage)}}"""

  private def jsonStr(s: String): String =
    "\"" + Option(s).getOrElse("").flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
