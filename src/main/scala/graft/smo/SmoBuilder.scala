package graft.smo

import graft.catalog.CatalogSnapshot
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Builds the Schema Metadata Overview — one row per
  * (schema, table, column) with packed constraint/index arrays. This is
  * the engine's central IR, re-expressing the reference's materialized
  * view (/root/reference/sql/V000009__track_index_definitions_in_smo.sql:
  * 2-133) as a declarative Spark plan:
  *
  *   - the ignored-schema NOT IN of every CTE (lines 21,42,57,76,97)
  *     becomes a broadcast left-anti join;
  *   - the generated-columns-as-pseudo-constraints UNION ALL (lines 59-76)
  *     becomes unionByName of a second projection of attributes;
  *   - the equi + attnum = any(keys) theta joins (lines 130-131) become
  *     equi joins with an array_contains residual — Catalyst plans the
  *     equi part as a hash/broadcast join, so there is no cartesian blowup;
  *   - jsonb_agg(distinct ...) FILTER packing (lines 112-127) becomes
  *     collect_set(when(...)) + array_sort, with empty→null to preserve
  *     the reference's NULL-when-no-matches semantics. Order inside the
  *     arrays is canonicalized by array_sort over the struct (the
  *     reference's jsonb_agg(distinct) is also value-ordered).
  *
  * `build` ends in one partition, sorted by (schema_name, table_name,
  * column_name) inside it: coalesce(1) + sortWithinPartitions, not a
  * global orderBy, which would run a range-sampling job on every build.
  * Engine.refresh holds that partition as its SMO leaf, so reads over it
  * see the rows in this order, and need no exchange to group them by
  * table.
  *
  * Scale note: catalog snapshots are small (≤10^5 rows) so every dimension
  * here broadcasts, and the joins and partial aggregates run in parallel;
  * only the final aggregate and sort run in one task. Re-verified at a
  * generated 10^4-table catalog (~2×10^5 SMO rows, 4 cores): refresh
  * takes as long as with the old global sort. Status, which groups the
  * one-partition leaf in one task, keeps up to about 5×10^3 tables and
  * is 1.7× slower at 10^4 (SCALE.md, "Catalog SMO").
  */
object SmoBuilder {

  /** The packed element types, mirroring SURVEY.md §1.3. */
  val constraintStructFields: Seq[String] =
    Seq("name", "type", "definition", "sequence_name")
  val indexStructFields: Seq[String] =
    Seq("name", "type", "definition", "immediate")

  private def notIgnored(df: DataFrame, ignored: DataFrame): DataFrame =
    df.join(broadcast(ignored), Seq("schema_name"), "left_anti")

  /** Privilege-derived + registry-provided ignored schemas (the reference's
    * ignored_schemas CTE, sql/V000009…sql:3-10): one column `schema_name`. */
  def ignoredSchemas(snap: CatalogSnapshot, registryIgnored: DataFrame): DataFrame = {
    val noUsage = snap.schemaPrivs.filter(!col("has_usage")).select(col("schema_name"))
    noUsage.union(registryIgnored.toDF("schema_name")).distinct()
  }

  /** One element of the `constraints` array. sequence_name only applies
    * to 'p' constraints (sql/V000009…sql:117-119). */
  private def packedConstraint(name: Column, tpe: Column, definition: Column,
      sequenceName: Column): Column =
    struct(name.as("name"), tpe.as("type"), definition.as("definition"),
      when(tpe === "p", sequenceName).as("sequence_name"))

  private def packed(c: Column): Column = {
    val arr = array_sort(c)
    when(size(arr) > 0, arr) // jsonb_agg FILTER yields NULL, not []
  }

  /** `smo` with the snapshot constraint rows `dropped` (constraintsSchema)
    * taken out of the `constraints` array of each of their table's rows:
    * what `build` gives once those rows leave the snapshot, without
    * rebuilding. Rows are matched in the form `build` packs them, and an
    * array left empty becomes null, as `build` leaves it. `dropped` is
    * grouped per table and broadcast, so it must be catalog-sized. */
  def withoutConstraints(smo: DataFrame, dropped: DataFrame): DataFrame = {
    val gone = dropped
      .groupBy(col("schema_name"), col("table_name"))
      .agg(collect_set(packedConstraint(col("constraint_name"),
        col("constraint_type"), col("definition"), col("sequence_name")))
        .as("dropped_constraints"))
    smo.join(broadcast(gone), Seq("schema_name", "table_name"), "left")
      .withColumn("constraints",
        when(col("dropped_constraints").isNull, col("constraints"))
          .otherwise(packed(array_except(col("constraints"),
            col("dropped_constraints")))))
      .drop("dropped_constraints")
  }

  def build(snap: CatalogSnapshot, ignored: DataFrame): DataFrame = {
    val base = notIgnored(
      snap.relations.filter(col("relkind").isin("r", "v", "m")), ignored)
      .select(col("schema_name"), col("table_name"),
        col("relkind").as("object_type"),
        col("description").as("table_description"))

    val columns = notIgnored(
      snap.attributes.filter(col("attnum") > 0 && !col("is_dropped")), ignored)
      .select(col("schema_name"), col("table_name"), col("column_name"),
        col("data_type"), col("not_null"), col("default_value"),
        col("column_description"), col("attnum"))

    // real constraints ++ generated columns as pseudo-constraints
    // (sql/V000006…sql:59-77: they cannot be written to, so the import
    // planner must treat them as constrained).
    val realConstraints = notIgnored(snap.constraints, ignored)
      .select(col("schema_name"), col("table_name"), col("constraint_name"),
        col("constraint_type"), col("definition").as("constraint_definition"),
        col("constraint_keys"), col("sequence_name"))
    val generatedConstraints = notIgnored(
      snap.attributes.filter(col("generated").isin("s", "v")), ignored)
      .select(col("schema_name"), col("table_name"),
        lit("generated_column").as("constraint_name"),
        lit("g").as("constraint_type"),
        col("default_value").as("constraint_definition"),
        array(col("attnum")).as("constraint_keys"),
        lit(null).cast("string").as("sequence_name"))
    val constraints = realConstraints.unionByName(generatedConstraints)

    val indexes = notIgnored(
      snap.indexes.filter(!col("is_primary") && col("is_valid")), ignored)
      .select(col("schema_name"), col("table_name"), col("index_name"),
        when(col("is_unique"), "u").when(col("is_exclusion"), "x")
          .otherwise("i").as("index_type"),
        // idempotent on fixtures that pre-strip; mirrors sql/V000009…sql:89
        regexp_replace(col("definition"), "(^.*USING )", "").as("index_definition"),
        col("immediate").as("index_immediate"),
        col("index_keys"))

    val ct = constraints
      .withColumnRenamed("schema_name", "ct_schema")
      .withColumnRenamed("table_name", "ct_table")
    val ix = indexes
      .withColumnRenamed("schema_name", "ix_schema")
      .withColumnRenamed("table_name", "ix_table")

    val joined = base
      .join(columns, Seq("schema_name", "table_name"))
      .join(ct,
        col("schema_name") === col("ct_schema")
          && col("table_name") === col("ct_table")
          && array_contains(col("constraint_keys"), col("attnum")), "left")
      .join(ix,
        col("schema_name") === col("ix_schema")
          && col("table_name") === col("ix_table")
          && array_contains(col("index_keys"), col("attnum")), "left")

    val constraintStruct = packedConstraint(col("constraint_name"),
      col("constraint_type"), col("constraint_definition"), col("sequence_name"))
    val indexStruct = struct(
      col("index_name").as("name"),
      col("index_type").as("type"),
      col("index_definition").as("definition"),
      col("index_immediate").as("immediate"))

    joined
      .groupBy(col("schema_name"), col("table_name"), col("column_name"),
        col("object_type"), col("table_description"), col("data_type"),
        col("not_null"), col("default_value"), col("column_description"),
        col("attnum"))
      .agg(
        packed(collect_set(when(col("constraint_name").isNotNull, constraintStruct)))
          .as("constraints"),
        packed(collect_set(when(col("index_name").isNotNull, indexStruct)))
          .as("indexes"))
      .coalesce(1)
      .sortWithinPartitions(col("schema_name"), col("table_name"),
        col("column_name"))
  }
}
