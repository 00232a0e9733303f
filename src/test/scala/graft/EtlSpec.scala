package graft

import graft.etl._
import graft.mapping.BidiRegistry
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Import-flow tests: the migration state machine with optimistic
  * locking, SMO-derived validation rules, FK anti-join checks, bidi
  * mapping, and the end-to-end staged import (happy + failure paths). */
class EtlSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(4)

  test("state machine: legal path walks, illegal jumps rejected") {
    val s = new MigrationStore
    val m = s.create(MigrationSource.Csv, "products")
    assert(m.state == "LOADING" && m.version == 0)
    val loaded = s.transition(m.id, MigrationState.Loaded, 0)
    assert(loaded.version == 1)
    intercept[IllegalStateException] { // LOADED -> IMPORTED skips IMPORTING
      s.transition(m.id, MigrationState.Imported, 1)
    }
    val imp = s.transition(m.id, MigrationState.Importing, 1)
    assert(imp.importStartedAt.isDefined)
    val done = s.transition(m.id, MigrationState.Imported, 2)
    assert(done.importedAt.isDefined && done.version == 3)
    intercept[IllegalStateException] { // terminal
      s.transition(m.id, MigrationState.Importing, 3)
    }
  }

  test("optimistic lock: stale version rejected (M7 trigger analog)") {
    val s = new MigrationStore
    val m = s.create(MigrationSource.Xlsx, "x")
    s.transition(m.id, MigrationState.Loaded, 0)
    val e = intercept[IllegalStateException] {
      s.transition(m.id, MigrationState.Importing, 0) // stale
    }
    assert(e.getMessage.contains("version conflict"))
  }

  test("rulesFromSmo: not-null, varchar length, generated-readonly") {
    import spark.implicits._
    val smo = Seq(
      ("s", "t", "name", "character varying(5)", true, null: String, null: Seq[(String, String, String, String)]),
      ("s", "t", "id", "bigint", true, "nextval('seq')", null: Seq[(String, String, String, String)]),
      ("s", "t", "derived", "numeric", false, null: String, Seq(("generated_column", "g", "(a+b)", null: String))),
      ("s", "t", "note", "text", false, null: String, null: Seq[(String, String, String, String)]))
      .toDF("schema_name", "table_name", "column_name", "data_type",
        "not_null", "default_value", "raw_constraints")
      .withColumn("constraints", when(col("raw_constraints").isNotNull,
        transform(col("raw_constraints"), c => struct(
          c.getField("_1").as("name"), c.getField("_2").as("type"),
          c.getField("_3").as("definition"), c.getField("_4").as("sequence_name")))))
    val rules = Import.rulesFromSmo(smo, "s", "t",
      Seq("name", "id", "derived", "note"))
    assert(rules.map(r => (r.name, r.column)).toSet == Set(
      ("not_null", "name"), ("max_length_5", "name"),
      ("generated_readonly", "derived")))
    // id is not-null but serial-defaulted -> no rule; note nullable -> none

    val staging = Seq(("okay", 1L, null: String, "x"),
        ("toolong!", 2L, "oops", null: String),
        (null: String, 3L, null: String, "y"))
      .toDF("name", "id", "derived", "note")
    val v = Import.validate(staging, rules).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(v(("not_null", "name")) == 1)
    assert(v(("max_length_5", "name")) == 1)
    assert(v(("generated_readonly", "derived")) == 1)
  }

  test("fk violations: anti-join finds dangling keys") {
    import spark.implicits._
    val staging = Seq(
        (Some(1L), "a"), (Some(2L), "b"), (Some(99L), "c"),
        (Some(99L), "d"), (None: Option[Long], "e"))
      .toDF("cust_id", "v")
    val ref = Seq(1L, 2L, 3L).toDF("c_id")
    // the second input also carries a staging column named like the
    // reference key, which an unqualified join condition would make
    // ambiguous
    Seq(staging, staging.withColumn("c_id", lit(3L))).foreach { in =>
      val bad = Import.fkViolations(in, "cust_id", ref, "c_id").collect()
      assert(bad.length == 1)
      assert(bad(0).getAs[Long]("cust_id") == 99L && bad(0).getAs[Long]("n_rows") == 2)
    }
  }

  test("jsonl roundtrip: documents -> sink -> stage, schema + rows survive") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_jsonl").toString + "/docs"
    val docs = Tables.df(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("source"), col("text"))
    Import.sinkJsonl(docs, dir)
    // explicit-schema read (the scale path — no inference scan)
    val back = Import.stageJsonl(spark, dir,
      Some("doc_id BIGINT, source STRING, text STRING"))
    assert(back.schema.map(f => f.name -> f.dataType) ==
      docs.schema.map(f => f.name -> f.dataType))
    val a = docs.orderBy("doc_id").collect()
    val b = back.orderBy("doc_id").collect()
    assert(a.sameElements(b))
    // corrupt lines surface in _corrupt_record, not as a job failure
    Files.write(java.nio.file.Paths.get(dir, "bad.json"),
      "{not valid json\n".getBytes)
    // Spark disallows querying ONLY _corrupt_record from a raw file
    // scan — materialize the parse first (cache), then inspect
    val withBad = Import.stageJsonl(spark, dir,
      Some("doc_id BIGINT, source STRING, text STRING, _corrupt_record STRING"))
      .persist()
    assert(withBad.count() == a.length + 1)
    assert(withBad.filter(col("_corrupt_record").isNotNull).count() == 1)
    withBad.unpersist(blocking = false)
  }

  test("gsheet csv staging: export dialect round-trips doubled quotes, embedded newlines, unicode; e2e lands IMPORTED; live stub stays loud") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_gsheet").toFile.getAbsolutePath
    // exactly what Sheets' /export?format=csv emits for a 3×3 tab:
    // CRLF rows, quoting only where needed, "" as the quote escape,
    // a quoted cell with a real newline, an empty cell, and unicode
    val export = "name,note,qty\r\n" +
      "alice,\"says \"\"hi\"\", twice\",3\r\n" +
      "böb,\"line one\nline two\",\r\n" +
      "carol,plain,7\r\n"
    Files.writeString(java.nio.file.Path.of(s"$dir/tab1.csv"), export)
    val staged = Import.stageGsheetCsv(spark, s"$dir/tab1.csv")
    // schema-on-read: all nullable strings, header from row 1
    assert(staged.schema.map(_.name) == Seq("name", "note", "qty"))
    assert(staged.schema.forall(f =>
      f.dataType == org.apache.spark.sql.types.StringType && f.nullable))
    val rows = staged.collect().map(r =>
      (r.getString(0), r.getString(1), Option(r.getString(2))))
      .sortBy(_._1).toSeq
    assert(rows == Seq(
      ("alice", "says \"hi\", twice", Some("3")),
      ("böb", "line one\nline two", None),
      ("carol", "plain", Some("7"))))
    // the staged frame plugs into the SAME import flow as every source
    val store = new MigrationStore
    val reg = BidiRegistry.withDefaults
    var sunk: Array[Row] = Array.empty
    val result = Import.runImport(
      store, MigrationSource.GoogleSpreadsheet, "people",
      load = () => Import.stageGsheetCsv(spark, s"$dir/tab1.csv"),
      mappings = Seq(Import.ColumnMapping("name", "name", reg("trim_str"))),
      rules = _ => Seq(Import.Rule("not_null", "name", col("name").isNull)),
      sink = df => sunk = df.collect())
    assert(result.state == "IMPORTED")
    assert(sunk.map(_.getString(0)).sorted
      .sameElements(Array("alice", "böb", "carol")))
    assert(store.list.map(m => (m.source, m.state)) ==
      Seq(("GOOGLE_SPREADSHEET", "IMPORTED")))
    // the LIVE-API entry points stay loud, pointing at the CSV path
    val g = intercept[UnsupportedOperationException] {
      Import.stageGoogleSheet(spark, "someSheetId")
    }
    assert(g.getMessage.contains("stageGsheetCsv"))
    val s = intercept[UnsupportedOperationException] {
      Import.stageSalesforce(spark, "SELECT Id FROM Account")
    }
    assert(s.getMessage.contains("connector"))
  }

  test("end-to-end import: CSV -> map -> validate -> sink, states land IMPORTED") {
    import spark.implicits._
    val dir = Files.createTempDirectory("etl").toFile.getAbsolutePath
    Files.writeString(java.nio.file.Path.of(s"$dir/in.csv"),
      "raw_name,tags\n  alice  ,\"a,b\"\n  bob ,c\n")
    val store = new MigrationStore
    val reg = BidiRegistry.withDefaults
    var sunk: Array[Row] = Array.empty
    val result = Import.runImport(
      store, MigrationSource.Csv, "people",
      load = () => Import.stageCsv(spark, s"$dir/in.csv"),
      mappings = Seq(
        Import.ColumnMapping("raw_name", "name", reg("trim_str")),
        Import.ColumnMapping("tags", "tag_array", reg("split_comma_array"))),
      rules = df => Seq(Import.Rule("not_null", "name", col("name").isNull)),
      sink = df => sunk = df.collect())
    assert(result.state == "IMPORTED")
    assert(result.summary.get.contains("\"violations\":0"))
    assert(sunk.map(_.getString(0)).sorted.sameElements(Array("alice", "bob")))
    assert(sunk.find(_.getString(0) == "alice").get
      .getSeq[String](1) == Seq("a", "b"))
    assert(store.list.map(_.state) == Seq("IMPORTED"))
  }

  test("jdbc e2e: stage -> map -> validate -> sinkJdbc -> read back from a real DB") {
    // Derby embedded (ships with Spark's jars) stands in for the
    // reference's live Postgres target: a REAL JDBC database, in
    // memory, no server. Columns are created quoted-lowercase because
    // Spark's JDBC writer quotes identifiers per dialect.
    val url = "jdbc:derby:memory:graftetl;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      """CREATE TABLE people("name" VARCHAR(50) NOT NULL, "tag_csv" VARCHAR(100))""")
    finally conn.close()
    val dir = Files.createTempDirectory("etl_jdbc").toFile.getAbsolutePath
    Files.writeString(java.nio.file.Path.of(s"$dir/in.csv"),
      "raw_name,tags\n  alice  ,\"a,b\"\n  bob ,c\n")
    val store = new MigrationStore
    val reg = BidiRegistry.withDefaults
    val result = Import.runImport(
      store, MigrationSource.Csv, "people",
      load = () => Import.stageCsv(spark, s"$dir/in.csv"),
      mappings = Seq(
        Import.ColumnMapping("raw_name", "name", reg("trim_str")),
        Import.ColumnMapping("tags", "tag_csv", reg("identity"))),
      rules = df => Seq(Import.Rule("not_null", "name", col("name").isNull)),
      sink = df => Import.sinkJdbc(df, url, "people"))
    assert(result.state == "IMPORTED")
    assert(store.list.map(_.state) == Seq("IMPORTED"))
    // the rows are really in the database: read back over JDBC
    val back = Import.stageJdbc(spark, url, "people")
      .collect().map(r => (r.getAs[String]("name"), r.getAs[String]("tag_csv")))
      .sortBy(_._1)
    assert(back.toSeq == Seq(("alice", "a,b"), ("bob", "c")))
    // append semantics: a second import lands MORE rows, never drops
    Import.sinkJdbc(spark.createDataFrame(
        java.util.Arrays.asList(Row("zoe", "z")),
        back.headOption.map(_ => Import.stageJdbc(spark, url, "people").schema)
          .get),
      url, "people")
    assert(Import.stageJdbc(spark, url, "people").count() == 3)
  }

  test("import with violations lands IMPORT_FAILED with summary, sink never runs") {
    import spark.implicits._
    val store = new MigrationStore
    var sinkRan = false
    val result = Import.runImport(
      store, MigrationSource.Postgres, "bad",
      load = () => Seq((null: String, 1), ("x", 2)).toDF("name", "n"),
      mappings = Seq(Import.ColumnMapping("name", "name",
        BidiRegistry.withDefaults("identity"))),
      rules = _ => Seq(Import.Rule("not_null", "name", col("name").isNull)),
      sink = _ => sinkRan = true)
    assert(result.state == "IMPORT_FAILED")
    assert(!sinkRan)
    assert(result.summary.get.contains("\"violations\":1"))
  }

  test("a target with no rules validates nothing and lands IMPORTED with summary []") {
    import spark.implicits._
    val store = new MigrationStore
    var sunk = 0
    val result = Import.runImport(
      store, MigrationSource.Csv, "free_text",
      load = () => Seq("a", "b").toDF("note"),
      mappings = Seq(Import.ColumnMapping("note", "note",
        BidiRegistry.withDefaults("identity"))),
      rules = _ => Nil, // e.g. only nullable text columns
      sink = df => sunk = df.collect().length)
    assert(result.state == "IMPORTED" && result.summary.contains("[]"))
    assert(sunk == 2)
  }

  test("a throwing rules callback or validation lands IMPORT_FAILED with the error and rethrows") {
    import spark.implicits._
    val failures = Seq[(String, DataFrame => Seq[Import.Rule])](
      "no smo for target" -> (_ => throw new IllegalStateException("no smo for target")),
      "absent_col" -> (_ => Seq(Import.Rule("not_null", "absent_col",
        col("absent_col").isNull))))
    failures.foreach { case (message, rules) =>
      val store = new MigrationStore
      var sinkRan = false
      val e = intercept[Exception] {
        Import.runImport(store, MigrationSource.Csv, "people",
          load = () => Seq("a").toDF("name"),
          mappings = Seq(Import.ColumnMapping("name", "name",
            BidiRegistry.withDefaults("identity"))),
          rules = rules,
          sink = _ => sinkRan = true)
      }
      assert(e.getMessage.contains(message))
      assert(store.list.size == 1)
      val m = store.list.head
      // LOADED -> IMPORTING -> IMPORT_FAILED, as a failed sink goes
      assert(m.state == "IMPORT_FAILED" && m.version == 3 &&
        m.importStartedAt.isDefined, m)
      assert(m.summary.exists(_.startsWith("""{"error":""")), m)
      assert(m.summary.exists(_.contains(message)), m)
      assert(!sinkRan)
    }
  }

  test("import job budget: an IMPORTED and an IMPORT_FAILED run take a pinned number of jobs") {
    val dir = Files.createTempDirectory("etl_jobs").toFile.getAbsolutePath
    val reg = BidiRegistry.withDefaults
    def importOnce(name: String, csv: String): (DataMigration, Int) = {
      Files.writeString(java.nio.file.Path.of(s"$dir/$name.csv"), csv)
      var m: DataMigration = null
      val jobs = org.apache.spark.JobTally.of(spark.sparkContext) {
        m = Import.runImport(new MigrationStore, MigrationSource.Csv, "people",
          load = () => Import.stageCsv(spark, s"$dir/$name.csv",
            Some("id BIGINT, raw_name STRING, code STRING")),
          mappings = Seq(Import.ColumnMapping("id", "id", reg("identity")),
            Import.ColumnMapping("raw_name", "name", reg("trim_str")),
            Import.ColumnMapping("code", "code", reg("identity"))),
          rules = _ => Seq(Import.Rule("not_null", "name", col("name").isNull),
            Import.Rule("max_length_4", "code", length(col("code")) > 4)),
          sink = _.write.mode("append").parquet(s"$dir/sink"))
      }.jobs
      (m, jobs)
    }
    val (good, goodJobs) = importOnce("good", "id,raw_name,code\n1, alice ,K1\n2,bob,K22\n")
    val (bad, badJobs) = importOnce("bad", "id,raw_name,code\n1,,K1\n2,bob,K22222\n")
    assert(good.state == "IMPORTED" && bad.state == "IMPORT_FAILED")
    // measured on Spark 4.1.2 with AQE, one job per query stage: the
    // staged load's count and validation's aggregate, and on the
    // IMPORTED path the sink's write
    assert(goodJobs <= 6, s"IMPORTED ran $goodJobs jobs")
    assert(badJobs <= 5, s"IMPORT_FAILED ran $badJobs jobs")
  }

  test("xlsx staging: real workbook -> stage -> map -> validate -> sink lands IMPORTED") {
    val dir = Files.createTempDirectory("xlsx").toFile.getAbsolutePath
    val path = s"$dir/people.xlsx"
    writeTestXlsx(path)
    // default sheet = first in workbook tab order
    val staged = Import.stageXlsx(spark, path)
    assert(staged.columns.toSeq == Seq("raw_name", "qty", "active", "note"))
    val rows = staged.collect().map(r => (r.getString(0), r.getString(1),
      r.getString(2), r.getString(3)))
    // shared string (untrimmed), number as raw text, b=1 boolean,
    // missing cell NULL
    assert(rows.contains(("  alice  ", "3", "true", null)))
    // rich-text shared string runs concatenate, but the rPh phonetic
    // guide in the fixture must NOT leak into the value; sparse row (B
    // skipped); inline string with a comma survives (no CSV quoting)
    assert(rows.contains(("bob", null, "false", "note, with comma")))
    assert(rows.length == 2)
    // sheet selection by workbook name, not part order
    val other = Import.stageXlsx(spark, path, sheet = Some("Other"))
    assert(other.columns.toSeq == Seq("k"))
    assert(other.collect().map(_.getString(0)).toSeq == Seq("42"))
    intercept[IllegalArgumentException] {
      Import.stageXlsx(spark, path, sheet = Some("NoSuchSheet"))
    }
    // a zero-match glob reports plainly (Hadoop's InvalidInputException
    // is translated), instead of a raw split-computation stack
    val noMatch = intercept[IllegalArgumentException] {
      Import.stageXlsx(spark, s"$dir/absent-*.xlsx")
    }
    assert(noMatch.getMessage.contains("no workbooks match"))
    // the full import flow over the staged workbook
    val store = new MigrationStore
    val reg = BidiRegistry.withDefaults
    var sunk: Array[Row] = Array.empty
    val result = Import.runImport(
      store, MigrationSource.Xlsx, "people",
      load = () => Import.stageXlsx(spark, path),
      mappings = Seq(
        Import.ColumnMapping("raw_name", "name", reg("trim_str")),
        Import.ColumnMapping("qty", "qty", reg("identity"))),
      rules = _ => Seq(Import.Rule("not_null", "name", col("name").isNull)),
      sink = df => sunk = df.collect())
    assert(result.state == "IMPORTED")
    assert(sunk.map(_.getString(0)).sorted.sameElements(Array("alice", "bob")))
  }

  test("xlsx parser: bijective base-26 refs, header fallbacks") {
    assert(Xlsx.colIndex("A1") == 0)
    assert(Xlsx.colIndex("Z9") == 25)
    assert(Xlsx.colIndex("AA10") == 26)
    assert(Xlsx.colIndex("AB1") == 27)
    assert(Xlsx.colIndex("BA7") == 52)
  }

  /** Hand-assembled SpreadsheetML zip — shared strings (plain +
    * rich-text runs), inline strings, numbers, booleans, a sparse row,
    * and a second sheet to exercise name-based selection. */
  private def writeTestXlsx(path: String): Unit = {
    val sstXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="2" uniqueCount="2">
        |<si><t xml:space="preserve">  alice  </t></si>
        |<si><r><t>bo</t></r><r><t>b</t></r><rPh sqref="A3"><t>bob-furigana</t></rPh><phoneticPr fontId="1"/></si>
        |</sst>""".stripMargin
    val wbXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets>
        |<sheet name="People" sheetId="1" r:id="rId1"/>
        |<sheet name="Other" sheetId="2" r:id="rId2"/>
        |</sheets></workbook>""".stripMargin
    val relsXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>
        |</Relationships>""".stripMargin
    val sheet1Xml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |<row r="1">
        |<c r="A1" t="inlineStr"><is><t>raw_name</t></is></c>
        |<c r="B1" t="inlineStr"><is><t>qty</t></is></c>
        |<c r="C1" t="inlineStr"><is><t>active</t></is></c>
        |<c r="D1" t="inlineStr"><is><t>note</t></is></c>
        |</row>
        |<row r="2">
        |<c r="A2" t="s"><v>0</v></c>
        |<c r="B2"><v>3</v></c>
        |<c r="C2" t="b"><v>1</v></c>
        |</row>
        |<row r="3">
        |<c r="A3" t="s"><v>1</v></c>
        |<c r="C3" t="b"><v>0</v></c>
        |<c r="D3" t="inlineStr"><is><t>note, with comma</t></is></c>
        |</row>
        |</sheetData></worksheet>""".stripMargin
    val sheet2Xml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |<sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c></row>
        |<row r="2"><c r="A2"><v>42</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(path))
    try Seq(
      "xl/workbook.xml" -> wbXml,
      "xl/_rels/workbook.xml.rels" -> relsXml,
      "xl/sharedStrings.xml" -> sstXml,
      "xl/worksheets/sheet1.xml" -> sheet1Xml,
      "xl/worksheets/sheet2.xml" -> sheet2Xml).foreach { case (name, xml) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      zos.closeEntry()
    } finally zos.close()
  }

  /** In-memory SpreadsheetML zip from (partName -> xml) entries. */
  private def zipBytes(entries: (String, Array[Byte])*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    try entries.foreach { case (name, bytes) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(bytes)
      zos.closeEntry()
    } finally zos.close()
    bos.toByteArray
  }

  private def ws(cells: String): Array[Byte] =
    s"""<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$cells</sheetData></worksheet>"""
      .getBytes("UTF-8")

  private def inlineRow(r: Int, vals: String*): String =
    s"""<row r="$r">""" + vals.zipWithIndex.map { case (v, i) =>
      s"""<c r="${('A' + i).toChar}$r" t="inlineStr"><is><t>$v</t></is></c>"""
    }.mkString + "</row>"

  test("xlsx staging rejects a workbook whose header differs from the stage header") {
    val dir = Files.createTempDirectory("xlsx_mix").toFile.getAbsolutePath
    writeTestXlsx(s"$dir/a.xlsx")
    // same columns, first two swapped — positional staging would load
    // qty into raw_name; the stage must throw instead
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.xlsx"),
      zipBytes("xl/worksheets/sheet1.xml" ->
        ws(inlineRow(1, "qty", "raw_name", "active", "note") +
          inlineRow(2, "3", "zoe", "true", "n"))))
    val e = intercept[Exception] {
      Import.stageXlsx(spark, s"$dir/*.xlsx").collect()
    }
    def msgs(t: Throwable): List[String] =
      if (t == null) Nil else Option(t.getMessage).toList ::: msgs(t.getCause)
    assert(msgs(e).exists(_.contains("does not match the stage header")),
      msgs(e))
  }

  test("xlsx sheet directory matches the relationship id by LOCAL name") {
    // producer uses a different namespace prefix for the rel id: the
    // named-sheet request must still resolve (not silently fall back)
    val wb =
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:ns1="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="First" sheetId="1" ns1:id="rId1"/><sheet name="Second" sheetId="2" ns1:id="rId2"/></sheets></workbook>"""
        .stripMargin.getBytes("UTF-8")
    val rels =
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Type="t" Target="worksheets/sheet2.xml"/>
        |</Relationships>""".stripMargin.getBytes("UTF-8")
    val bytes = zipBytes(
      "xl/workbook.xml" -> wb,
      "xl/_rels/workbook.xml.rels" -> rels,
      "xl/worksheets/sheet1.xml" -> ws(inlineRow(1, "a") + inlineRow(2, "1")),
      "xl/worksheets/sheet2.xml" -> ws(inlineRow(1, "b") + inlineRow(2, "2")))
    val second = Xlsx.parse(bytes, Some("Second"))
    assert(second.header == Vector("b") && second.rows == Vector(Vector("2")))
  }

  test("xlsx rid resolution: exact r:id beats other *:id attributes; xmlns:id never wins") {
    val rels =
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>
        |</Relationships>""".stripMargin.getBytes("UTF-8")
    val sheet = ws(inlineRow(1, "real") + inlineRow(2, "42"))
    // an unrelated foo:id sits BEFORE r:id in document order: a
    // first-local-name-match scan resolves the bogus value and the
    // sheet lookup dies — the exact r:id node must win
    val wbShadow =
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships" xmlns:foo="urn:x">
        |<sheets><sheet name="Only" sheetId="1" foo:id="rIdBOGUS" r:id="rId1"/></sheets></workbook>"""
        .stripMargin.getBytes("UTF-8")
    val shadowed = Xlsx.parse(zipBytes(
      "xl/workbook.xml" -> wbShadow,
      "xl/_rels/workbook.xml.rels" -> rels,
      "xl/worksheets/sheet1.xml" -> sheet), Some("Only"))
    assert(shadowed.header == Vector("real"))
    // no exact r:id/id: the local-name fallback still resolves odd
    // prefixes, but must skip the xmlns:id NAMESPACE DECLARATION that
    // also has local name "id"
    val wbDecl =
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:ns1="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="Only" sheetId="1" xmlns:id="urn:y" ns1:id="rId1"/></sheets></workbook>"""
        .stripMargin.getBytes("UTF-8")
    val declared = Xlsx.parse(zipBytes(
      "xl/workbook.xml" -> wbDecl,
      "xl/_rels/workbook.xml.rels" -> rels,
      "xl/worksheets/sheet1.xml" -> sheet), Some("Only"))
    assert(declared.header == Vector("real"))
  }

  test("xlsx first-sheet fallback orders worksheet parts numerically") {
    // no workbook directory at all: sheet2 must beat sheet10 (a
    // lexicographic sort picks sheet10.xml first)
    val bytes = zipBytes(
      "xl/worksheets/sheet10.xml" -> ws(inlineRow(1, "tenth")),
      "xl/worksheets/sheet2.xml" -> ws(inlineRow(1, "second")))
    assert(Xlsx.parse(bytes).header == Vector("second"))
    // relationship XML under xl/worksheets/_rels/ is NOT a sheet and
    // must never win the fallback despite its low digit sort key
    val withRels = zipBytes(
      "xl/worksheets/_rels/sheet1.xml.rels" ->
        """<?xml version="1.0"?><Relationships/>""".getBytes("UTF-8"),
      "xl/worksheets/sheet2.xml" -> ws(inlineRow(1, "second")))
    assert(Xlsx.parse(withRels).header == Vector("second"))
    // a minimal producer's lone digitless sheet.xml sorts first
    val digitless = zipBytes(
      "xl/worksheets/sheet.xml" -> ws(inlineRow(1, "only")),
      "xl/worksheets/extra7.xml" -> ws(inlineRow(1, "numbered")))
    assert(Xlsx.parse(digitless).header == Vector("only"))
  }

  test("xlsx zip-bomb guard refuses oversized decompressed parts") {
    // ~257 MiB of zeros compresses to well under a MiB; the reader must
    // refuse while reading, not buffer the expansion
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    zos.putNextEntry(new java.util.zip.ZipEntry("xl/sharedStrings.xml"))
    val chunk = new Array[Byte](1 << 20)
    for (_ <- 0 until 257) zos.write(chunk)
    zos.closeEntry()
    zos.close()
    val e = intercept[IllegalArgumentException] { Xlsx.parse(bos.toByteArray) }
    assert(e.getMessage.contains("zip-bomb guard"))
  }

  test("clustered parquet sink: partition dirs prune, sort key clusters row groups") {
    val docs = Tables.df(spark, "/root/testdata/sf0.001", "documents")
    val dir = Files.createTempDirectory("graft_clustered").toString
    Import.sinkParquetClustered(docs, dir,
      partitionBy = Seq("source"), sortBy = Seq("doc_id"))
    // hive-style partition directories exist
    val subdirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(subdirs.exists(_.startsWith("source=")), subdirs.mkString(", "))
    // a filter on the partition column becomes a PartitionFilter —
    // directory pruning, zero data files of other sources touched
    val read = spark.read.parquet(dir).filter(col("source") === "src3")
    val plan = read.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters: [isnotnull(source"),
      plan.linesIterator.filter(_.contains("Partition")).mkString("\n"))
    assert(read.count() ==
      docs.filter(col("source") === "src3").count())
    // round-trip fidelity: same rows, schema survives partition split
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    assert(back.columns.toSet == docs.columns.toSet)
  }
}
