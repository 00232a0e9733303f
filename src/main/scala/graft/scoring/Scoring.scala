package graft.scoring

import graft.catalog.CatalogSnapshot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** master_data_entity_candidates — heuristic ranking of tables by
  * probability of being master data, re-expressing
  * /root/reference/sql/V000001__init.sql:209-253 (the reference names the
  * function master_date_entity_candidates — a typo it preserves; we keep
  * the corrected name and note the quirk here).
  *
  * Semantics preserved exactly:
  *   - approx_rows comes from planner statistics (pg_class.reltuples),
  *     never count(*); our snapshot carries it, and Engine.fromData fills
  *     it from LogicalPlan.stats when snapshotting Spark tables.
  *   - fk_count counts constraints REFERENCING the table (confrelid join,
  *     line 225), i.e. inbound edges — not the table's own FKs.
  *   - the score's rows term REWARDS FEWER rows (master data ≈ small
  *     reference tables): (max_rows - rows) / (max_rows - min_rows).
  *   - degenerate branch: if max_fk = min_fk = 0 the fk term is dropped
  *     and the rows term gets full weight (lines 242-244).
  *   - any NULL (from a nullif(…, 0) div-guard) nullifies the WHOLE score
  *     expression, then coalesce(…, 0) — so a uniform fk distribution
  *     with max_fk > 0 zeroes every score. Faithful to the reference.
  *   - float32 ("real") arithmetic, matching the reference's ::real casts.
  */
object Scoring {

  /** @param ignored ignored schema names in its first column, read when
    *   this frame is built, as are the schemas without usage in
    *   `snap.schemaPrivs`, which are ignored too (SmoBuilder.ignoredSchemas):
    *   both enter the plan as one literal list. */
  def masterDataEntityCandidates(
      snap: CatalogSnapshot, ignored: DataFrame): DataFrame = {
    val noUsage = snap.schemaPrivs.filter(!col("has_usage")).select(col("schema_name"))
    val skip = (noUsage.collect() ++ ignored.collect()).flatMap(r => Option(r.getString(0)))
    val tables = snap.relations.filter(col("relkind") === "r" &&
      !array_contains(typedLit(skip.distinct.toSeq), col("schema_name")))

    // inbound-FK counts: group the 'f' constraints by their referenced
    // table, then left-join — equivalent to the reference's
    // left join pg_constraint on confrelid = oid + count(con.*).
    val inbound = snap.constraints
      .filter(col("constraint_type") === "f" && col("references_table").isNotNull)
      .groupBy(col("references_schema").as("schema_name"),
        col("references_table").as("table_name"))
      .agg(count(lit(1)).as("fk_in"))

    // broadcast hint: a planned sort-merge join left AQE to switch to a
    // broadcast at run time, and a session's first, cold ranking lost
    // that race and ran one extra job. The hint fixes the plan; with
    // 1 MiB memory pages (Sessions.PageSizeBytes) the catalog-sized hash
    // relation holds one small page until the context cleaner frees it.
    // The extremes over every table are a window over one partition.
    val fkIn = coalesce(col("fk_in"), lit(0L))
    val all = Window.partitionBy()
    val tablestats = tables
      .join(broadcast(inbound), Seq("schema_name", "table_name"), "left")
      .select(col("schema_name"), col("table_name"), col("approx_rows"),
        fkIn.as("foreign_key_count"),
        min(col("approx_rows")).over(all).as("min_rows"),
        max(col("approx_rows")).over(all).as("max_rows"),
        min(fkIn).over(all).as("min_fk"), max(fkIn).over(all).as("max_fk"))

    val rowsTerm = (col("max_rows") - col("approx_rows")).cast("float") /
      nullif((col("max_rows") - col("min_rows")), lit(0L)).cast("float")
    val fkTerm = (col("foreign_key_count") - col("min_fk")).cast("float") /
      nullif((col("max_fk") - col("min_fk")), lit(0L)).cast("float")

    tablestats
      .select(col("schema_name"), col("table_name"), col("approx_rows"),
        col("foreign_key_count"),
        coalesce(
          when(col("max_fk") === col("min_fk") && col("max_fk") === 0, rowsTerm)
            .otherwise(lit(0.5f) * rowsTerm + lit(0.5f) * fkTerm),
          lit(0f)).cast("float").as("probability_master_data"))
      .orderBy(col("probability_master_data").desc)
  }
}
