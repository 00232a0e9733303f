package graft.status

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one-row status rollup over the concept-widened columns view —
  * re-expression of the reference's status view
  * (/root/reference/sql/V000012__more_concepts.sql:148-171).
  *
  * Two aggregate levels, one shuffle each: the columns fold into one row
  * per table (column counts, FILTERed counts, and whether any column
  * carries a table-level flag), and the tables fold into the rollup,
  * where the reference's tuple-distinct counts become plain counts and
  * the distinct schema count a set of schema names. Pre-aggregated
  * partials cross both shuffles, which is the plan shape that survives a
  * 100× wider SMO. It also avoids count(DISTINCT) over several different
  * inputs: Spark plans that with an Expand whose projections come out in
  * a different order on every call, so each call compiled new code.
  */
object Status {

  private def countIf(cond: Column): Column = count(when(cond, 1))

  /** Column-level FILTERed counts: summed over tables. */
  private val columnCounts = Seq("pii", "metadata", "primary_key",
    "foreign_key", "unique_key", "check_constrained", "exclusion_constrained",
    "indexed", "generated", "natural_key", "surrogate_key", "self_reference",
    "external_reference")

  /** Table-level counts: tables with any column flagged. */
  private val tableCounts = Seq("schema_migration_table", "ignored_table")

  /** @param columns the SMO widened by ConceptRegistry.applyAll — must
    *   contain every is_* referenced below.
    * @param tenants list_tenants() rows (tenant_id, tenant_short_name,
    *   tenant_display_name, tenant_locale, tenant_data)
    * @param mdes list_mdes() rows (mde_name)
    */
  def status(columns: DataFrame, tenants: DataFrame, mdes: DataFrame): DataFrame = {
    val tables = columns.groupBy(col("schema_name"), col("table_name")).agg(
      count(lit(1)).as("column_count"),
      tableCounts.map(c => max(col(s"is_$c")).as(s"is_$c")) ++
        columnCounts.map(c => countIf(col(s"is_$c")).as(s"${c}_count")): _*)
    def total(c: String): Column = coalesce(sum(col(c)), lit(0L)).as(c)
    val counts = tables.agg(
      size(collect_set(col("schema_name"))).cast("long").as("schema_count"),
      Seq(count(lit(1)).as("table_count"), total("column_count")) ++
        tableCounts.map(c => countIf(col(s"is_$c")).as(s"${c}_count")) ++
        columnCounts.map(c => total(s"${c}_count")): _*)

    // the two scalar subqueries (jsonb_agg ... order by) become 1-row DFs
    // cross-joined in — registry data is tiny, both sides broadcast.
    // array_sort on the struct orders by its first field, matching the
    // reference's ORDER BY tenant_id / mde_name; empty → NULL like
    // jsonb_agg over an empty set.
    def packedJson(df: DataFrame, name: String): DataFrame = {
      val arr = array_sort(collect_list(struct(df.columns.map(col): _*)))
      df.agg(when(size(arr) > 0, to_json(arr)).as(name))
    }

    counts
      .crossJoin(broadcast(packedJson(tenants, "tenants")))
      .crossJoin(broadcast(packedJson(mdes, "master_data_entities")))
  }

  /** verify_installation() (sql/V000001__init.sql:388-393). */
  def verifyInstallation(tenants: DataFrame, mdes: DataFrame): DataFrame = {
    val t = tenants.filter(col("tenant_id").isNotNull).limit(1).count() > 0
    val m = mdes.filter(col("mde_name").isNotNull).limit(1).count() > 0
    tenants.sparkSession.range(1)
      .select(lit(t).as("tenants_defined"), lit(m).as("mdes_defined"))
  }
}
