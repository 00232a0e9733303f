package graft.concepts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import java.util.regex.Pattern
import scala.collection.immutable.VectorMap

/** A named boolean predicate over an SMO row — the reference's dynamic
  * "concept" system (/root/reference/sql/V000010__schema_concepts.sql:36-49).
  * The predicate is a Catalyst Column expression, so concept evaluation
  * stays inside whole-stage codegen; no UDFs.
  */
final case class ConceptDef(name: String, predicate: Column)

/** Registry of concepts. Applying it widens the SMO DataFrame with one
  * `is_<name>` column per concept. Predicates are EVALUATED in definition
  * order — a later concept may reference an earlier one's `is_<name>`
  * column, mirroring how the reference's concept functions call
  * previously-created concept functions (core_test.clj:166:
  * hasura_enum_table calls schemamap.is_natural_key(smo)) — but the view
  * PROJECTS the is_* columns alphabetically, exactly how the reference
  * regenerates its `columns` view sorted by concept name
  * (sql/V000012__more_concepts.sql:1-31). Redefinition replaces in place
  * (the reference's `create or replace function`), and is idempotent
  * (core_test.clj:163-171).
  *
  * The definition order is cut into dependency layers once per registry,
  * that is at define: a concept starts a new layer only if it references
  * the is_* column of a concept in the current one. Applying the registry
  * is one projection per layer, so the builtins are one projection.
  */
final class ConceptRegistry private (
    private val defs: VectorMap[String, Column],
    /** SQL text of SQL-defined concepts — the persistable subset. */
    val sqlDefs: Map[String, String]) {

  private val layers: Vector[Vector[(String, Column)]] =
    defs.foldLeft(Vector(Vector.empty[(String, Column)])) { case (ls, d @ (_, pred)) =>
      if (ls.last.exists { case (n, _) => ConceptRegistry.reads(pred, n) }) ls :+ Vector(d)
      else ls.init :+ (ls.last :+ d)
    }

  def define(name: String, predicate: Column): ConceptRegistry =
    new ConceptRegistry(defs.updated(name, predicate), sqlDefs - name)

  /** define_concept(name, bool_select_sql): the SQL-text form, parsed with
    * Spark's own expression parser (functions.expr ⇒
    * sessionState.sqlParser.parseExpression). The expression sees the SMO
    * columns directly, e.g. "column_name in ('created_at','updated_at')". */
  def defineSql(name: String, boolSql: String): ConceptRegistry =
    new ConceptRegistry(defs.updated(name, expr(boolSql)),
      sqlDefs.updated(name, boolSql))

  def names: Seq[String] = defs.keys.toSeq.sorted

  def predicate(name: String): Column = defs(name)

  def contains(name: String): Boolean = defs.contains(name)

  /** Fold `is_<concept>` columns onto the SMO (redefine_smo_view_with_
    * concepts): one projection per layer adds its is_* columns, and the
    * last layer's also orders them by name for view-shape parity with
    * the reference. */
  def applyAll(smo: DataFrame): DataFrame = {
    val inner = layers.init.foldLeft(smo) { (df, layer) =>
      df.select(col("*") +: layer.map { case (n, p) => p.as(s"is_$n") }: _*)
    }
    val last = layers.last.toMap
    inner.select((smo.columns.toSeq.map(col) ++ names.map(n =>
      last.get(n).fold(col(s"is_$n"))(_.as(s"is_$n")))): _*)
  }
}

object ConceptRegistry {
  def empty: ConceptRegistry = new ConceptRegistry(VectorMap.empty, Map.empty)

  /** Whether a predicate's SQL text names the concept's is_* column. A
    * false hit, in a string literal say, only costs one more projection. */
  private def reads(p: Column, concept: String): Boolean =
    s"(?i)(?<![\\w$$])${Pattern.quote(s"is_$concept")}(?![\\w$$])".r
      .findFirstIn(p.toString).nonEmpty

  /** PG semantics: jsonb_array_elements(NULL) yields no rows, so EXISTS
    * over a NULL packed array is FALSE — Spark's exists() returns NULL
    * there, hence the coalesce. */
  private def existsIn(arrayCol: String, p: Column => Column): Column =
    coalesce(exists(col(arrayCol), p), lit(false))

  private def cType(in: String*) : Column => Column =
    x => x.getField("type").isin(in: _*)

  /** The reference's 60-alternative anchored case-insensitive PII matcher
    * (sql/V000010__schema_concepts.sql:51-55), verbatim. */
  val PiiRegex: String =
    "^(email|first_name|last_name|full_name|middle_name|phone|telephone|" +
    "mobile|address|street|city|state|zip|postal|ssn|social_security|dob|" +
    "date_of_birth|birthdate|credit_card|ccn|card_number|passport|" +
    "driver_license|license_number|national_id|tax_id|tin|ein|bank_account|" +
    "account_number|routing_number|iban|bic|swift|personal_id|medicare|" +
    "medicaid|health_insurance|policy_number|insurance_number|patient_id|" +
    "member_id|user_id|username|login|password|secret|token|api_key|auth)"

  /** Known migration-tool tables (sql/V000010…sql:61-85). */
  val SchemaMigrationTables: Seq[String] = Seq(
    "schema_migrations", "flyway_schema_history", "databasechangelog",
    "databasechangeloglock", "django_migrations", "alembic_version",
    "alembic_version_table", "knex_migrations", "knex_migrations_lock",
    "phinxlog", "typeorm_metadata", "goose_db_version")

  /** The 15 built-in concepts of V000010 + V000012.
    *
    * @param indexedSpaceQuirk the reference's is_indexed tests type IN
    *   ('p',' u','x') / ('i',' u','x') with a literal leading space before
    *   'u' (sql/V000012…sql:79-90), so unique constraints/indexes are
    *   matched only via their other arms. True (default) replicates the
    *   quirk for golden parity; false fixes the comparison.
    */
  def builtins(indexedSpaceQuirk: Boolean = true): ConceptRegistry = {
    val pii = lower(col("column_name")).rlike(PiiRegex)
    val metadata = col("column_name").isin("created_at", "updated_at", "version")
    val schemaMigrationTable = col("table_name").isin(SchemaMigrationTables: _*)
    val primaryKey = existsIn("constraints", cType("p"))
    val foreignKey = existsIn("constraints", cType("f"))
    val uniqueKey = existsIn("constraints", cType("u")) ||
      existsIn("indexes", cType("u"))
    val checkConstrained = existsIn("constraints", cType("c"))
    val exclusionConstrained = existsIn("constraints", cType("x"))
    val uTok = if (indexedSpaceQuirk) " u" else "u"
    val indexed = existsIn("constraints", cType("p", uTok, "x")) ||
      existsIn("indexes", cType("i", uTok, "x"))
    val generated = existsIn("constraints", cType("g"))
    val naturalKey = existsIn("constraints",
      x => x.getField("type") === "p" && x.getField("sequence_name").isNull) &&
      col("default_value").isNull
    val surrogateKey = primaryKey && !naturalKey
    // ilike with the table name embedded in the pattern
    // (sql/V000012…sql:114-121): lower both sides and use the dynamic-
    // pattern `like(str, pattern)` so '_' in table names keeps its LIKE
    // wildcard meaning, faithful to the reference.
    val selfReference = existsIn("constraints",
      x => x.getField("type") === "f" &&
        like(lower(x.getField("definition")),
          concat(lit("% references "), lower(col("table_name")), lit("(%"))))
    val externalReference = !foreignKey && Seq("%_id", "%url%", "%uri%",
      "%_ref%", "%_code%", "%uuid%", "%guid%", "%external_%")
      .map(lower(col("column_name")).like).reduce(_ || _)
    val ignoredTable = schemaMigrationTable

    empty
      .define("pii", pii)
      .define("metadata", metadata)
      .define("schema_migration_table", schemaMigrationTable)
      .define("primary_key", primaryKey)
      .define("foreign_key", foreignKey)
      .define("unique_key", uniqueKey)
      .define("check_constrained", checkConstrained)
      .define("exclusion_constrained", exclusionConstrained)
      .define("indexed", indexed)
      .define("generated", generated)
      .define("natural_key", naturalKey)
      .define("surrogate_key", surrogateKey)
      .define("self_reference", selfReference)
      .define("external_reference", externalReference)
      .define("ignored_table", ignoredTable)
  }
}
