package graft

import graft.catalog.CatalogSnapshot
import graft.concepts.ConceptRegistry
import graft.mapping.BidiRegistry
import graft.registry.{FragmentRegistry, Volatility, FragmentDef}
import graft.smo.SmoBuilder
import graft.scoring.Scoring
import graft.status.Status
import org.apache.spark.sql.{DataFrame, LocalLeaf, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType, StringType}

import scala.collection.mutable

/** The embedded-library facade — the Spark-first equivalent of installing
  * the reference's schema + SDK into a database (SURVEY.md §3). State:
  *
  *   - an immutable CatalogSnapshot and the SMO built from it (refresh()
  *     builds the new SMO, then swaps both in at once — the matview
  *     semantics of sql/V000001__init.sql:376-386 without locks);
  *   - a ConceptRegistry (defineConcept widens columns()/status() on the
  *     next call — the dynamic-view regeneration of V000012…sql:1-31);
  *   - a FragmentRegistry (list_tenants / ignored_schemas / MDE hooks);
  *   - a BidiRegistry (import value mappings);
  *   - a single-row i18n store (V000001…sql:255-274).
  *
  * Every read path is a pure function of (snapshot, registries), which is
  * what makes whatIf() a DataFrame transformation instead of the
  * reference's rollback-only transaction dance (core_test.clj:209-254).
  *
  * The SMO is held as a lineage-free leaf: refresh() runs the builder
  * once and keeps its one sorted partition as a local checkpoint under a
  * one-node plan that declares `SinglePartition` (LocalLeaf).
  * Status, columns, what-if and import rules plan over that leaf, and
  * their per-table aggregates need no exchange. No cache entry is
  * registered, so the builder's plan and broadcasts are freed once the
  * leaf exists, and a superseded SMO, or that of a dropped Engine, is
  * released by Spark's ContextCleaner once nothing references it.
  * Caveat of a local checkpoint: its one block lives on one executor; on
  * a cluster, losing that executor fails SMO reads until the next
  * refresh().
  */
final class Engine private (
    val spark: SparkSession,
    initialSnapshot: CatalogSnapshot,
    indexedSpaceQuirk: Boolean,
    val fragments: FragmentRegistry,
    mdeDefs: mutable.LinkedHashMap[String, String],
    initialSmo: Option[DataFrame]) {

  def this(spark: SparkSession, initialSnapshot: CatalogSnapshot,
      indexedSpaceQuirk: Boolean = true) =
    this(spark, initialSnapshot, indexedSpaceQuirk,
      FragmentRegistry.withDefaults(spark), mutable.LinkedHashMap(), None)

  @volatile private var snapshot: CatalogSnapshot = initialSnapshot
  @volatile private var heldSmo: Option[DataFrame] = initialSmo
  @volatile private var conceptsReg: ConceptRegistry =
    ConceptRegistry.builtins(indexedSpaceQuirk)
  @volatile private var i18nValue: String = "{}"

  var bidiFns: BidiRegistry = BidiRegistry.withDefaults

  // ---- snapshot / SMO ----------------------------------------------------

  def currentSnapshot: CatalogSnapshot = snapshot

  /** refresh(): build the SMO of the (possibly new) snapshot as a
    * lineage-free leaf, then swap it in — write-new-then-swap is the
    * CONCURRENTLY mode of update_schema_metadata_overview. */
  def refresh(newSnapshot: CatalogSnapshot = snapshot): Unit = synchronized {
    // materialized before the swap, like REFRESH CONCURRENTLY
    val fresh = LocalLeaf(SmoBuilder.build(newSnapshot, ignoredSchemasOf(newSnapshot)))
    snapshot = newSnapshot
    heldSmo = Some(fresh)
  }

  def ignoredSchemas: DataFrame = ignoredSchemasOf(snapshot)

  private def ignoredSchemasOf(snap: CatalogSnapshot): DataFrame =
    SmoBuilder.ignoredSchemas(snap, fragments.df("ignored_schemas"))

  /** The SMO matview analog (held until refresh). */
  def smo: DataFrame = heldSmo.getOrElse { refresh(); heldSmo.get }

  // ---- concepts ------------------------------------------------------------

  def concepts: ConceptRegistry = conceptsReg

  /** define_concept(name, boolSql) — idempotent; columns()/status()
    * pick the new column up immediately (M5/M6). */
  def defineConcept(name: String, boolSql: String): String = {
    conceptsReg = conceptsReg.defineSql(name, boolSql)
    name
  }

  def listConcepts: Seq[String] = conceptsReg.names

  /** The dynamic `columns` view: SMO widened with is_* per concept. */
  def columns: DataFrame = conceptsReg.applyAll(smo)

  // ---- tenants / MDEs / status --------------------------------------------

  def listTenants: DataFrame = fragments.df("list_tenants")

  def defineMasterDataEntity(name: String, selectSql: String): Unit = {
    val fragName = s"mde_$name"
    val schema = spark.sql(selectSql).schema
    fragments.register(FragmentDef(fragName, selectSql, schema, Volatility.Stable))
    mdeDefs(name) = selectSql
    spark.sql(selectSql).createOrReplaceTempView(fragName)
  }

  def listMdes: DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      mdeDefs.keys.toSeq.sorted.map(org.apache.spark.sql.Row(_)).asJava,
      StructType(Seq(StructField("mde_name", StringType, nullable = false))))
  }

  def mdeReferencedTables(name: String): Seq[String] =
    fragments.referencedTables(s"mde_$name")

  /** SQL text of defined MDEs — the persistable form (EngineState). */
  def mdeSqlDefs: Seq[(String, String)] = mdeDefs.toSeq

  /** The status rollup. The tenant and MDE JSON is read when this frame
    * is built, not when it runs (Status.status): a host fragment that
    * reads a table runs its collect here. */
  def status: DataFrame = Status.status(columns, listTenants, listMdes)

  def verifyInstallation: DataFrame = Status.verifyInstallation(listTenants, listMdes)

  /** Reads the ignored schemas when the frame is built (Scoring). */
  def masterDataEntityCandidates: DataFrame =
    Scoring.masterDataEntityCandidates(snapshot, fragments.df("ignored_schemas"))

  // ---- i18n ----------------------------------------------------------------

  def i18n: String = i18nValue
  def updateI18n(json: String): Unit = i18nValue = json

  /** Locale-keyed lookup over the stored document (the host-app
    * convention exercised by fixtures/adventureworks_i18n.json). */
  def i18nView: graft.registry.I18n = new graft.registry.I18n(i18nValue)

  // ---- what-if -------------------------------------------------------------

  /** Simulate `DROP TABLE schema.table CASCADE` against the snapshot and
    * return a new Engine view of the hypothetical catalog — the purely
    * functional analog of the reference's transactional what-if test
    * (core_test.clj:209-254). Cascade semantics: the table's rows vanish
    * from every dataset; FK constraints on OTHER tables that reference
    * the dropped table are dropped; and views depending on any dropped
    * relation (snapshot.dependencies, the pg_depend analog) are dropped
    * transitively — that is what shrinks the abbreviation-view schemas
    * in the reference's what-if golden (production 208→195 AND pr
    * 188→175, core_test.clj:236-248).
    *
    * The dependency closure is computed driver-side: edges are
    * catalog-scale (one per view×base-relation, ≤10^5 for thousand-table
    * databases), not data-scale, so a collect here is the same class of
    * operation as the reference walking pg_depend inside Postgres. The
    * dropped relations and the dropped FKs (a second collect) enter the
    * simulated plans as literals, not as joins.
    *
    * Snapshot semantics: the simulated engine's SMO is derived from this
    * engine's SMO as of the call (its rows minus the dropped relations',
    * its constraint arrays minus the dropped FKs), not rebuilt, and not
    * materialized: it adds no cache entry. It reads this engine's SMO
    * leaf and keeps it alive by reference, so if this engine
    * refreshes later, the simulation still answers for the old snapshot
    * from the old leaf. Its `currentSnapshot` is the pruned snapshot,
    * which scoring reads and an explicit `refresh()` rebuilds from. The
    * simulation shares this engine's fragment registry (tenants, ignored
    * schemas, MDE fragments), MDE definitions, concepts, bidi functions
    * and i18n document, so status and scoring see the host's hooks. */
  def whatIfDropTable(schemaName: String, tableName: String): Engine = {
    val byRef = snapshot.dependencies
      .select("referenced_schema", "referenced_table", "dependent_schema", "dependent_table")
      .collect()
      .groupMap(r => (r.getString(0), r.getString(1)))(r => (r.getString(2), r.getString(3)))
    val dropped = mutable.Set((schemaName, tableName))
    val frontier = mutable.Queue((schemaName, tableName))
    while (frontier.nonEmpty) {
      val t = frontier.dequeue()
      byRef.getOrElse(t, Array.empty[(String, String)]).foreach { dep =>
        if (dropped.add(dep)) frontier.enqueue(dep)
      }
    }
    // one literal membership test: its generated code is the same
    // whatever the number of dropped relations
    val droppedLit = typedLit(dropped.toSeq)
    def live(s: String, t: String) =
      !array_contains(droppedLit, struct(col(s).as("_1"), col(t).as("_2")))
    def not(df: DataFrame) = df.filter(live("schema_name", "table_name"))
    val inboundFk = coalesce(col("references_schema"), lit("")) === schemaName &&
      coalesce(col("references_table"), lit("")) === tableName
    val sim = CatalogSnapshot(
      not(snapshot.relations), not(snapshot.attributes),
      not(snapshot.constraints).filter(!inboundFk), not(snapshot.indexes),
      snapshot.schemaPrivs,
      snapshot.dependencies.filter(live("dependent_schema", "dependent_table")),
      snapshot.roles, snapshot.roleMembers,
      // DROP ... CASCADE also revokes grants on the dropped relations
      snapshot.grants.filter(live("table_schema", "table_name")))
    val simSmo = SmoBuilder.withoutConstraints(not(smo),
      snapshot.constraints.filter(inboundFk))
    val e = new Engine(spark, sim, indexedSpaceQuirk, fragments, mdeDefs,
      Some(simSmo))
    e.conceptsReg = this.conceptsReg
    e.bidiFns = this.bidiFns
    e.i18nValue = this.i18nValue
    e
  }
}
