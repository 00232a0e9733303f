package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The AdventureWorks-scale golden suite — every pinned value mirrors the
  * reference's canonical integration test
  * (/root/reference/clojure/test/io/schemamap/core_test.clj:19-254) over
  * the AwFixture catalog, in the reference's own order: i18n roundtrip,
  * list_tenants redefinition, MDE top-10 with round(prob,2), the
  * production.document.rowguid SMO row, define_concept idempotency +
  * dynamic columns query, the full status golden row, and the what-if
  * cascade drop with baseline restore.
  */
class AwGoldenSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(8)
  private lazy val engine = {
    val e = new Engine(spark, AwFixture.build(spark))
    // core_test.clj:55-72 — the app redefines list_tenants with its own SQL
    e.fragments.update("list_tenants",
      """SELECT '1' AS tenant_id, 'test_tenant' AS tenant_short_name,
        |       'Test Tenant' AS tenant_display_name, 'en_US' AS tenant_locale,
        |       CAST(null AS STRING) AS tenant_data""".stripMargin)
    e
  }

  private val baselinePerSchema = Seq(
    ("sales", 233L), ("production", 208L), ("pr", 188L), ("sa", 150L),
    ("humanresources", 118L), ("person", 94L), ("pe", 82L),
    ("purchasing", 67L), ("pu", 51L), ("hr", 45L))

  private def perSchema(e: Engine): Seq[(String, Long)] =
    e.smo.groupBy("schema_name").count().orderBy(desc("count"))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))

  test("i18n value can be fetched (core_test.clj:49-54)") {
    engine.updateI18n("""{"test": 42}""")
    assert(engine.i18n == """{"test": 42}""")
  }

  test("i18n locale lookups over the adventureworks fixture (core.clj:18-33)") {
    val fixture = java.nio.file.Path.of(
      "/root/reference/fixtures/adventureworks_i18n.json")
    assume(java.nio.file.Files.exists(fixture), "reference fixture not present")
    engine.updateI18n(java.nio.file.Files.readString(fixture))
    val v = engine.i18nView
    assert(v.locales.toSet == Set("en", "de"))
    assert(v.model("de", "product").contains("Produkt"))
    assert(v.model("en", "product").contains("Product"))
    assert(v.attribute("de", "product", "productnumber").contains("Produkt Nummer"))
    assert(v.attribute("en", "product", "reorderpoint").contains("Reorder Point"))
    // enum-valued attribute: stored code → localized label
    assert(v.enumLabels("de", "product", "productline") ==
      Map("S" -> "Standard", "T" -> "Tour", "M" -> "Berg", "R" -> "Straße"))
    assert(v.enumLabels("en", "product", "productline")("R") == "Road")
    assert(v.attribute("de", "product", "productline").isEmpty) // enum ≠ plain
    assert(v.models("de") == Seq("product"))
    engine.updateI18n("{}") // restore the default store for other tests
  }

  test("redefined list_tenants returns the app's tenant row (core_test.clj:55-72)") {
    val t = engine.listTenants.collect()
    assert(t.length == 1)
    assert(t(0).getString(0) == "1")
    assert(t(0).getString(1) == "test_tenant")
    assert(t(0).getString(2) == "Test Tenant")
    assert(t(0).getString(3) == "en_US")
    assert(t(0).isNullAt(4))
  }

  test("MDE candidates top-10 with round(prob, 2) (core_test.clj:77-132)") {
    val got = engine.masterDataEntityCandidates.limit(10)
      .select(col("schema_name"), col("table_name"), col("approx_rows"),
        col("foreign_key_count"),
        round(col("probability_master_data").cast("decimal(18,8)"), 2)
          .cast("decimal(10,2)").as("rounded_probability"))
      .collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDecimal(4).toPlainString))
    assert(got == AwFixture.GoldenMde)
  }

  test("the most-constrained indexed SMO row is production.document.rowguid (core_test.clj:133-162)") {
    val r = engine.smo
      .filter(col("indexes").isNotNull && col("constraints").isNotNull)
      .orderBy(size(col("constraints")).desc)
      .limit(1).collect()(0)
    assert(r.getAs[String]("schema_name") == "production")
    assert(r.getAs[String]("table_name") == "document")
    assert(r.getAs[String]("column_name") == "rowguid")
    assert(r.getAs[String]("object_type") == "r")
    assert(r.getAs[String]("data_type") == "uuid")
    assert(r.getAs[Boolean]("not_null"))
    assert(r.getAs[Int]("attnum") == 11)
    assert(r.getAs[String]("default_value") == "uuid_generate_v1()")
    assert(r.getAs[String]("table_description") == "Product maintenance documents.")
    assert(r.getAs[String]("column_description") ==
      "ROWGUIDCOL number uniquely identifying the record. Required for FileStream.")
    val cons = r.getSeq[Row](r.fieldIndex("constraints"))
    assert(cons.length == 1)
    assert(cons(0).getAs[String]("name") == "document_rowguid_key")
    assert(cons(0).getAs[String]("type") == "u")
    assert(cons(0).getAs[String]("definition") == "UNIQUE (rowguid)")
    assert(cons(0).isNullAt(cons(0).fieldIndex("sequence_name")))
    val idx = r.getSeq[Row](r.fieldIndex("indexes"))
    assert(idx.length == 1)
    assert(idx(0).getAs[String]("name") == "document_rowguid_key")
    assert(idx(0).getAs[String]("type") == "u")
    assert(idx(0).getAs[String]("definition") == "btree (rowguid)")
    assert(idx(0).getAs[Boolean]("immediate"))
  }

  test("define_concept is idempotent and may call earlier concepts (core_test.clj:163-177)") {
    (1 to 2).foreach { _ =>
      // the reference's concept body calls schemamap.is_natural_key(smo);
      // here that is the earlier-defined concept's is_* column
      engine.defineConcept("hasura_enum_table",
        "column_name = 'value' and data_type = 'text' and is_natural_key")
    }
    assert(engine.columns.filter(col("is_hasura_enum_table")).count() == 0L)
  }

  test("status golden row (core_test.clj:178-208)") {
    val st = engine.status.collect()(0)
    AwFixture.Golden.foreach { case (k, v) =>
      assert(st.getAs[Long](k) == v, s"status.$k")
    }
    val tenants = st.getAs[String]("tenants")
    assert(tenants.contains("\"tenant_short_name\":\"test_tenant\""))
    assert(tenants.contains("\"tenant_display_name\":\"Test Tenant\""))
    assert(st.isNullAt(st.fieldIndex("master_data_entities")))
  }

  test("what-if cascade drop shrinks production and its pr mirror, baseline restores (core_test.clj:209-254)") {
    assert(perSchema(engine) == baselinePerSchema)
    val dropped = engine.whatIfDropTable("production", "document")
    assert(perSchema(dropped) == Seq(
      ("sales", 233L), ("production", 195L), ("pr", 175L), ("sa", 150L),
      ("humanresources", 118L), ("person", 94L), ("pe", 82L),
      ("purchasing", 67L), ("pu", 51L), ("hr", 45L)))
    // the original engine is untouched — the rollback analog is free
    assert(perSchema(engine) == baselinePerSchema)
  }

  test("what-if keeps the host's hooks and derives its SMO without rebuilding or caching") {
    engine.smo.count() // the parent's SMO is materialized before the simulation
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val sim = engine.whatIfDropTable("production", "document")
    val st = sim.status.collect()(0)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    assert(st.getAs[String]("tenants") ==
      engine.status.collect()(0).getAs[String]("tenants"))
    assert(st.getAs[String]("tenants").contains("\"tenant_short_name\":\"test_tenant\""))
    val rebuilt = graft.smo.SmoBuilder.build(sim.currentSnapshot, sim.ignoredSchemas)
    assert(sim.smo.exceptAll(rebuilt).isEmpty)
    assert(rebuilt.exceptAll(sim.smo).isEmpty)
  }
}
