package graft

import graft.catalog.CatalogSnapshot
import graft.concepts.ConceptRegistry
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden-value tests for the schemamap-core half of the engine over a
  * miniature AdventureWorks-shaped catalog fixture, mirroring the
  * reference's integration suite
  * (/root/reference/clojure/test/io/schemamap/core_test.clj:19-254):
  * SMO shape + a pinned single row, concept columns, the one-row status
  * rollup, MDE-candidate scoring order, fragment redefinition guards,
  * define-concept idempotency, and the what-if drop simulation.
  */
class EngineSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(8)

  // schema_name, table_name, relkind, description, approx_rows
  private def relations = Seq(
    Row("sales", "customer", "r", "customers", 20000L),
    Row("sales", "order", "r", null, 500000L),
    Row("production", "product", "r", "master products", 504L),
    Row("production", "doc", "r", null, 400L),
    Row("public", "flyway_schema_history", "r", null, 20L),
    Row("secret", "hidden", "r", null, 10L), // no-usage schema → ignored
    Row("sales", "v_orders", "v", null, 0L))

  // schema, table, column, attnum, type, not_null, default, desc, dropped, generated
  private def attributes = Seq(
    Row("sales", "customer", "id", 1, "bigint", true, "nextval('customer_id_seq')", null, false, null),
    Row("sales", "customer", "email", 2, "text", true, null, null, false, null),
    Row("sales", "customer", "created_at", 3, "timestamptz", true, "now()", null, false, null),
    Row("sales", "customer", "country_code", 4, "text", false, null, null, false, null),
    Row("sales", "customer", "dropped_col", 5, "text", false, null, null, true, null),
    Row("sales", "order", "id", 1, "bigint", true, "nextval('order_id_seq')", null, false, null),
    Row("sales", "order", "customer_id", 2, "bigint", true, null, null, false, null),
    Row("sales", "order", "parent_order_id", 3, "bigint", false, null, null, false, null),
    Row("sales", "order", "total_cents", 4, "bigint", true, "0", null, false, null),
    Row("sales", "order", "total_dollars", 5, "numeric", false, "(total_cents / 100.0)", null, false, "s"),
    Row("production", "product", "sku", 1, "text", true, null, "natural key", false, null),
    Row("production", "product", "name", 2, "text", true, null, null, false, null),
    Row("production", "doc", "id", 1, "bigint", true, "nextval('doc_id_seq')", null, false, null),
    Row("production", "doc", "rowguid", 2, "uuid", true, "uuid_generate_v1()", null, false, null),
    Row("production", "doc", "product_sku", 3, "text", false, null, null, false, null),
    Row("public", "flyway_schema_history", "installed_rank", 1, "integer", true, null, null, false, null),
    Row("secret", "hidden", "x", 1, "text", false, null, null, false, null),
    Row("sales", "v_orders", "id", 1, "bigint", false, null, null, false, null))

  // schema, table, name, type, definition, keys, fkeys, seq, ref_schema, ref_table
  private def constraints = Seq(
    Row("sales", "customer", "customer_pkey", "p", "PRIMARY KEY (id)",
      Seq(1), null, "customer_id_seq", null, null),
    Row("sales", "customer", "customer_email_key", "u", "UNIQUE (email)",
      Seq(2), null, null, null, null),
    Row("sales", "order", "order_pkey", "p", "PRIMARY KEY (id)",
      Seq(1), null, "order_id_seq", null, null),
    Row("sales", "order", "order_customer_fk", "f",
      "FOREIGN KEY (customer_id) REFERENCES customer(id)",
      Seq(2), Seq(1), null, "sales", "customer"),
    Row("sales", "order", "order_parent_fk", "f",
      "FOREIGN KEY (parent_order_id) REFERENCES order(id)",
      Seq(3), Seq(1), null, "sales", "order"),
    Row("sales", "order", "order_total_check", "c", "CHECK (total_cents >= 0)",
      Seq(4), null, null, null, null),
    Row("production", "product", "product_pkey", "p", "PRIMARY KEY (sku)",
      Seq(1), null, null, null, null),
    Row("production", "doc", "doc_pkey", "p", "PRIMARY KEY (id)",
      Seq(1), null, "doc_id_seq", null, null),
    Row("production", "doc", "doc_product_fk", "f",
      "FOREIGN KEY (product_sku) REFERENCES production.product(sku)",
      Seq(3), Seq(1), null, "production", "product"))

  // schema, table, name, uniq, excl, prim, valid, immediate, defn, keys
  private def indexes = Seq(
    Row("production", "doc", "doc_rowguid_idx", true, false, false, true, true,
      "btree (rowguid)", Seq(2)),
    Row("sales", "order", "order_customer_idx", false, false, false, true, true,
      "btree (customer_id)", Seq(2)),
    Row("sales", "customer", "customer_pkey", true, false, true, true, true,
      "btree (id)", Seq(1)), // primary → excluded from SMO indexes
    Row("sales", "order", "order_invalid_idx", false, false, false, false, true,
      "btree (total_cents)", Seq(4))) // invalid → excluded

  private def schemaPrivs = Seq(
    Row("sales", true), Row("production", true), Row("public", true),
    Row("secret", false))

  private lazy val snap = CatalogSnapshot.fromRows(
    spark, relations, attributes, constraints, indexes, schemaPrivs)

  private lazy val engine = new Engine(spark, snap)

  /** The fixture catalog cut to its `production` schema. */
  private lazy val productionOnly = CatalogSnapshot.fromRows(spark,
    relations.filter(_.getString(0) == "production"),
    attributes.filter(_.getString(0) == "production"),
    constraints.filter(_.getString(0) == "production"),
    indexes.filter(_.getString(0) == "production"),
    schemaPrivs)

  /** Janino compiles allowed in a repeated engine cycle: measured 0 with
    * the session's generated-code cache (Sessions.CodegenCacheEntries),
    * 16 with Spark's default of 100 entries. */
  private val MaxRecompiles = 4

  test("SMO: one row per live column, ignored schemas excluded, ordered") {
    val smo = engine.smo.collect()
    // 14 live columns: 4 customer (dropped excluded) + 5 order + 2 product
    // + 3 doc + 1 flyway + 1 v_orders; secret.hidden excluded
    assert(smo.length == 16)
    assert(!smo.exists(_.getAs[String]("schema_name") == "secret"))
    val key = smo.map(r => (r.getAs[String]("schema_name"),
      r.getAs[String]("table_name"), r.getAs[String]("column_name")))
    assert(key.sameElements(key.sorted))
  }

  test("SMO golden row: production.doc.rowguid (core_test.clj:133-162 analog)") {
    val r = engine.smo.filter(
      col("table_name") === "doc" && col("column_name") === "rowguid").collect()(0)
    assert(r.getAs[String]("data_type") == "uuid")
    assert(r.getAs[Boolean]("not_null"))
    assert(r.getAs[String]("default_value") == "uuid_generate_v1()")
    assert(r.getAs[Int]("attnum") == 2)
    assert(r.isNullAt(r.fieldIndex("constraints"))) // pk is on id, not rowguid
    val idx = r.getSeq[Row](r.fieldIndex("indexes"))
    assert(idx.length == 1)
    assert(idx.head.getAs[String]("name") == "doc_rowguid_idx")
    assert(idx.head.getAs[String]("type") == "u")
    assert(idx.head.getAs[String]("definition") == "btree (rowguid)")
  }

  test("SMO: generated column becomes a 'g' pseudo-constraint") {
    val r = engine.smo.filter(col("column_name") === "total_dollars").collect()(0)
    val cs = r.getSeq[Row](r.fieldIndex("constraints"))
    assert(cs.exists(c => c.getAs[String]("type") == "g"
      && c.getAs[String]("name") == "generated_column"))
  }

  test("SMO: primary/invalid indexes excluded, sequence_name only on p") {
    val order = engine.smo.filter(col("table_name") === "order"
      && col("column_name") === "total_cents").collect()(0)
    assert(order.isNullAt(order.fieldIndex("indexes"))) // invalid idx dropped
    val id = engine.smo.filter(col("table_name") === "customer"
      && col("column_name") === "id").collect()(0)
    assert(id.isNullAt(id.fieldIndex("indexes"))) // primary idx dropped
    val pk = id.getSeq[Row](id.fieldIndex("constraints")).head
    assert(pk.getAs[String]("sequence_name") == "customer_id_seq")
  }

  test("concepts: pii, metadata, keys, natural vs surrogate, self-ref, external-ref") {
    val cols = engine.columns.collect()
    def one(t: String, c: String) =
      cols.find(r => r.getAs[String]("table_name") == t
        && r.getAs[String]("column_name") == c).get
    assert(one("customer", "email").getAs[Boolean]("is_pii"))
    assert(one("customer", "created_at").getAs[Boolean]("is_metadata"))
    assert(one("flyway_schema_history", "installed_rank")
      .getAs[Boolean]("is_schema_migration_table"))
    // product.sku: pk, no sequence, no default → natural key
    assert(one("product", "sku").getAs[Boolean]("is_natural_key"))
    assert(!one("product", "sku").getAs[Boolean]("is_surrogate_key"))
    // customer.id: serial pk → surrogate
    assert(one("customer", "id").getAs[Boolean]("is_surrogate_key"))
    assert(!one("customer", "id").getAs[Boolean]("is_natural_key"))
    // order.parent_order_id references its own table
    assert(one("order", "parent_order_id").getAs[Boolean]("is_self_reference"))
    assert(!one("order", "customer_id").getAs[Boolean]("is_self_reference"))
    // country_code: not an FK, matches %_code%
    assert(one("customer", "country_code").getAs[Boolean]("is_external_reference"))
    assert(!one("order", "customer_id").getAs[Boolean]("is_external_reference"))
  }

  test("is_indexed leading-space quirk is faithful (SURVEY §2.2 P9)") {
    def indexedOf(e: Engine, t: String, c: String): Boolean =
      e.columns.filter(col("table_name") === t && col("column_name") === c)
        .collect()(0).getAs[Boolean]("is_indexed")
    // doc.rowguid has ONLY a unique index — quirk mode misses it ('u' arm
    // is ' u'), fixed mode catches it.
    assert(!indexedOf(engine, "doc", "rowguid"))
    val fixed = new Engine(spark, snap, indexedSpaceQuirk = false)
    assert(indexedOf(fixed, "doc", "rowguid"))
    // order.customer_id has a plain 'i' index — hit in both modes.
    assert(indexedOf(engine, "order", "customer_id"))
  }

  test("status rollup golden (core_test.clj:178-208 analog)") {
    val s = engine.status.collect()(0)
    assert(s.getAs[Long]("schema_count") == 3)
    assert(s.getAs[Long]("table_count") == 6)
    assert(s.getAs[Long]("column_count") == 16)
    assert(s.getAs[Long]("schema_migration_table_count") == 1)
    assert(s.getAs[Long]("pii_count") == 1) // email
    assert(s.getAs[Long]("metadata_count") == 1) // created_at
    assert(s.getAs[Long]("primary_key_count") == 4)
    assert(s.getAs[Long]("foreign_key_count") == 3)
    assert(s.getAs[Long]("natural_key_count") == 1)
    assert(s.getAs[Long]("surrogate_key_count") == 3)
    assert(s.getAs[Long]("self_reference_count") == 1)
    assert(s.getAs[Long]("check_constrained_count") == 1)
    assert(s.getAs[Long]("generated_count") == 1)
    assert(s.isNullAt(s.fieldIndex("tenants"))) // none defined yet
    assert(s.isNullAt(s.fieldIndex("master_data_entities")))
  }

  test("verify_installation flips as tenants + MDEs get defined") {
    val before = engine.verifyInstallation.collect()(0)
    assert(!before.getAs[Boolean]("tenants_defined"))
    assert(!before.getAs[Boolean]("mdes_defined"))

    engine.fragments.update("list_tenants",
      """SELECT 'acme' AS tenant_id, 'acme' AS tenant_short_name,
        |'Acme Corp' AS tenant_display_name, 'en-US' AS tenant_locale,
        |CAST(null AS STRING) AS tenant_data""".stripMargin)
    engine.defineMasterDataEntity("products",
      "SELECT 'p1' AS sku, 'widget' AS name")
    val after = engine.verifyInstallation.collect()(0)
    assert(after.getAs[Boolean]("tenants_defined"))
    assert(after.getAs[Boolean]("mdes_defined"))

    val s = engine.status.collect()(0)
    assert(s.getAs[String]("tenants").contains("acme"))
    assert(s.getAs[String]("master_data_entities").contains("products"))
  }

  test("fragment redefinition guards: schema mismatch + command rejected") {
    intercept[IllegalArgumentException] {
      engine.fragments.update("list_tenants", "SELECT 1 AS wrong_shape")
    }
    intercept[IllegalArgumentException] {
      engine.fragments.update("ignored_schemas", "DROP TABLE foo")
    }
    intercept[IllegalArgumentException] {
      engine.fragments.update("nope", "SELECT 1")
    }
  }

  test("MDE referenced-table extraction (J9: even false-join declarations)") {
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "email").createOrReplaceTempView("sales_customer")
    Seq((1L, 1L)).toDF("id", "customer_id").createOrReplaceTempView("sales_order")
    engine.defineMasterDataEntity("xref",
      """SELECT c.id FROM sales_customer c
        |LEFT JOIN sales_order o ON o.customer_id = c.id AND false""".stripMargin)
    assert(engine.mdeReferencedTables("xref") == Seq("sales_customer", "sales_order"))
  }

  test("defineConcept is idempotent and widens columns (core_test.clj:163-171)") {
    engine.defineConcept("timestampy", "data_type = 'timestamptz'")
    engine.defineConcept("timestampy", "data_type = 'timestamptz'") // idempotent
    val cols = engine.columns
    assert(cols.columns.count(_ == "is_timestampy") == 1)
    assert(cols.filter(col("is_timestampy")).count() == 1) // created_at
    // status re-derives: custom concepts don't break the rollup
    assert(engine.status.count() == 1)
  }

  test("MDE candidate scoring: small+referenced table wins (core_test.clj:73-132)") {
    val rows = engine.masterDataEntityCandidates.collect()
    // product: 504 rows (small → high rows term), 1 inbound FK;
    // order: 500k rows, 1 inbound (self) FK; customer: 20k rows, 1 inbound.
    assert(rows.head.getAs[String]("table_name") == "product")
    val scores = rows.map(_.getAs[Float]("probability_master_data"))
    assert(scores.sameElements(scores.sorted.reverse))
    assert(scores.forall(s => s >= 0f && s <= 1f))
    // views and ignored tables never rank
    assert(!rows.exists(_.getAs[String]("table_name") == "v_orders"))
    assert(!rows.exists(_.getAs[String]("schema_name") == "secret"))
  }

  test("what-if drop cascades: rows vanish, inbound FKs dropped, baseline intact") {
    val sim = engine.whatIfDropTable("sales", "customer")
    val simCols = sim.columns
    assert(simCols.filter(col("table_name") === "customer").count() == 0)
    // order's FK to customer is gone, its self-FK survives
    val orderCustId = simCols.filter(col("table_name") === "order"
      && col("column_name") === "customer_id").collect()(0)
    assert(!orderCustId.getAs[Boolean]("is_foreign_key"))
    val parent = simCols.filter(col("column_name") === "parent_order_id").collect()(0)
    assert(parent.getAs[Boolean]("is_self_reference"))
    // the real engine still sees the full catalog (rollback analog)
    assert(engine.columns.filter(col("table_name") === "customer").count() == 4)
  }

  test("what-if SMO: derived from the cached SMO, equal to a rebuild, no cache entry added") {
    engine.smo.count() // the parent's SMO is materialized before the simulation
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val sim = engine.whatIfDropTable("sales", "customer")
    assert(sim.status.collect().head.getAs[Long]("column_count") == 12L)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    val rebuilt = graft.smo.SmoBuilder.build(sim.currentSnapshot, sim.ignoredSchemas)
    assert(sim.smo.exceptAll(rebuilt).isEmpty)
    assert(rebuilt.exceptAll(sim.smo).isEmpty)
    // order's FK to customer left its constraints array; the array of a
    // column whose only constraint it was is null, as the builder packs it
    val custId = sim.smo.filter(col("table_name") === "order"
      && col("column_name") === "customer_id").collect()(0)
    assert(custId.isNullAt(custId.fieldIndex("constraints")))
    // the simulation holds the parent's SMO as of the call: after the
    // parent refreshes to a changed snapshot it answers for the old one
    val parent = new Engine(spark, snap)
    val held = parent.whatIfDropTable("sales", "customer")
    parent.refresh(productionOnly)
    assert(parent.status.collect().head.getAs[Long]("column_count") == 5L)
    assert(held.status.collect().head.getAs[Long]("column_count") == 12L)
  }

  test("SMO leaf: one single-partition node with the builder's rows, in order") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.LogicalRDD
    val e = new Engine(spark, snap)
    val smo = e.smo
    val leaf = smo.queryExecution.analyzed
    assert(leaf.isInstanceOf[LogicalRDD] && leaf.children.isEmpty, leaf.treeString)
    // its size is its stored partition's, not the builder's join estimate
    assert(leaf.stats.sizeInBytes > 0 && leaf.stats.sizeInBytes < (1 << 20), leaf.stats)
    assert(smo.queryExecution.sparkPlan.outputPartitioning == SinglePartition)
    // a per-table aggregate over the leaf needs no shuffle
    val perTable = smo.groupBy(col("schema_name"), col("table_name")).count()
    assert(perTable.collect().length == 6)
    val plan = perTable.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    val rebuilt = graft.smo.SmoBuilder.build(snap, e.ignoredSchemas)
    assert(smo.exceptAll(rebuilt).isEmpty)
    assert(rebuilt.exceptAll(smo).isEmpty)
    val key = smo.collect().map(r => (r.getAs[String]("schema_name"),
      r.getAs[String]("table_name"), r.getAs[String]("column_name")))
    assert(key.sameElements(key.sorted))
  }

  test("catalog job budget: each catalog op runs a pinned number of Spark jobs") {
    val e = new Engine(spark, snap)
    val ops = Seq[(String, () => Any)](
      "refresh" -> (() => e.refresh(snap)),
      "status" -> (() => e.status.collect()),
      "columns" -> (() => e.columns.filter(col("is_pii")).select("column_name").collect()),
      "mde" -> (() => e.masterDataEntityCandidates.limit(10).collect()),
      "whatif" -> (() => e.whatIfDropTable("sales", "customer").status.collect()))
    // count the first cycle and a second: MDE's inbound-FK join is a
    // shuffle-hash join, so a session's first ranking runs no extra job
    // (a sort-merge join left AQE to race the two sides to a broadcast)
    def cycle() = ops.map { case (op, run) =>
      op -> org.apache.spark.JobTally.of(spark.sparkContext)(run()).jobs
    }.toMap
    val (first, second) = (cycle(), cycle())
    val got = first.map { case (op, n) => op -> math.max(n, second(op)) }
    // measured on Spark 4.1.2 with AQE, which runs one job per query
    // stage and per broadcast. Reads plan over the SMO leaf, whose one
    // partition lets their per-table aggregates skip the shuffle: an
    // exchange over the SMO, or a rebuild of it, goes over the budget.
    val budget = Map("refresh" -> 10, "status" -> 3, "columns" -> 1,
      "mde" -> 7, "whatif" -> 7)
    budget.foreach { case (op, max) =>
      assert(got(op) <= max, s"$op ran ${got(op)} jobs, budget $max: $got")
    }
  }

  test("a catalog-sized broadcast hash relation holds one 1 MiB memory page") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    // string keys build an UnsafeHashedRelation, whose map takes its
    // first memory page whole however few rows it holds: at Spark's
    // default page size (up to 64 MiB) each such broadcast pinned that
    // much driver heap until the ContextCleaner ran
    val joined = snap.attributes.join(broadcast(snap.relations),
      Seq("schema_name", "table_name"))
    assert(joined.collect().length == attributes.length)
    object Plans extends AdaptiveSparkPlanHelper
    val exchanges = Plans.collect(joined.queryExecution.executedPlan) {
      case b: BroadcastExchangeExec => b
    }
    assert(exchanges.length == 1, joined.queryExecution.executedPlan)
    // the exchange's data size is its HashedRelation's estimatedSize: the
    // map's pages plus its pointer array (1 KiB here), so one 1 MiB page
    // reads just over 1 MiB
    val relationBytes = exchanges.head.metrics("dataSize").value
    val MiB = 1L << 20
    assert(relationBytes < 2 * MiB, s"$relationBytes bytes")
    assert(org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes <= MiB)
  }

  test("a repeated engine cycle reuses its generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val e = new Engine(spark, snap)
    def cycle(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      e.refresh(snap)
      e.status.collect()
      e.columns.filter(col("is_pii")).select("column_name").collect()
      e.masterDataEntityCandidates.limit(10).collect()
      e.whatIfDropTable("sales", "customer").status.collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    val first = cycle()
    val second = cycle()
    assert(second <= MaxRecompiles, s"first pass compiled $first, second $second")
    // refresh leaves the SMO materialized: reading it runs one
    // single-task job, and no stage of the build
    val read = org.apache.spark.JobTally.of(spark.sparkContext)(e.smo.collect())
    assert(read == org.apache.spark.JobTally(jobs = 1, tasks = 1), read)
  }

  test("bidi mapping fns: forward/backward roundtrip where exact") {
    import spark.implicits._
    val reg = engine.bidiFns
    val df = Seq("  padded  ", "a,b,c").toDF("v")
    val split = reg("split_comma_array")
    val rt = df.select(split.backward(split.forward(col("v"))).as("v")).collect()
    assert(rt.map(_.getString(0)).sameElements(Array("  padded  ", "a,b,c")))
    val trimmed = df.select(reg("trim_str").forward(col("v"))).collect()
    assert(trimmed.head.getString(0) == "padded")
    assert(reg.names == Seq("identity", "split_comma_array", "trim_str"))
  }

  test("SparkCatalogSource: engine introspects the session's own tables") {
    import spark.implicits._
    Seq((1L, "a@x.com"), (2L, "b@y.org")).toDF("id", "email")
      .createOrReplaceTempView("introspect_me")
    val snap = graft.catalog.SparkCatalogSource.snapshot(spark)
    val e = new Engine(spark, snap)
    val me = e.columns.filter(col("table_name") === "introspect_me").collect()
    assert(me.length == 2)
    assert(me.forall(_.getAs[String]("object_type") == "v"))
    val email = me.find(_.getAs[String]("column_name") == "email").get
    assert(email.getAs[Boolean]("is_pii"))
    assert(email.getAs[String]("data_type") == "string")
    // no constraint metadata in Spark: key concepts degrade to false
    assert(!email.getAs[Boolean]("is_primary_key"))
    assert(e.status.count() == 1)
  }

  test("EngineState round-trips SQL concepts, fragments, MDEs, i18n") {
    val dir = java.nio.file.Files.createTempDirectory("graftstate")
    val e1 = new Engine(spark, snap)
    e1.defineConcept("texty", "data_type = 'text'")
    e1.fragments.update("list_tenants",
      """SELECT 't1' AS tenant_id, 't1' AS tenant_short_name,
        |'T1' AS tenant_display_name, 'de-DE' AS tenant_locale,
        |CAST(null AS STRING) AS tenant_data""".stripMargin)
    e1.defineMasterDataEntity("things", "SELECT 1 AS thing_id")
    e1.updateI18n("""{"de":{"status":"Zustand"}}""")
    EngineState.save(e1, dir)

    val e2 = EngineState.load(new Engine(spark, snap), dir)
    assert(e2.listConcepts.contains("texty"))
    assert(e2.columns.filter(col("is_texty")).count() ==
      e1.columns.filter(col("is_texty")).count())
    assert(e2.listTenants.collect()(0).getString(0) == "t1")
    assert(e2.listMdes.collect().map(_.getString(0)).contains("things"))
    assert(e2.i18n.contains("Zustand"))
  }

  test("refresh reads the privileges of the snapshot it swaps in") {
    val e2 = new Engine(spark, snap)
    assert(e2.smo.filter(col("schema_name") === "production").count() > 0)
    val revoked = CatalogSnapshot.fromRows(spark, relations, attributes,
      constraints, indexes,
      schemaPrivs.map(r => if (r.getString(0) == "production") Row("production", false) else r))
    e2.refresh(revoked)
    assert(e2.smo.filter(col("schema_name") === "production").count() == 0)
    assert(e2.smo.filter(col("schema_name") === "sales").count() > 0)
  }

  test("refresh swaps snapshots atomically") {
    val e2 = new Engine(spark, snap)
    val before = e2.smo.count()
    e2.refresh(productionOnly)
    assert(e2.smo.count() < before)
    assert(e2.smo.collect().forall(_.getAs[String]("schema_name") == "production"))
  }
}
