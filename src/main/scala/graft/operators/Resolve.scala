package graft.operators

import graft.functions.TextFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Entity resolution over dirty string keys — the record-linkage step a
  * multi-source training corpus needs before any per-entity dedup or
  * survivorship (two catalogs spelling the same product/author/site
  * slightly differently must resolve to one entity, or per-entity caps
  * and dedup silently undercount).
  *
  * The classic shape: canonicalize → exact-group → block → match. Exact
  * grouping FIRST is the 100 TB design decision: the fuzzy join runs on
  * the DISTINCT canonical names (bounded vocabulary), never on the
  * records themselves — a corpus with billions of rows but millions of
  * names fuzzy-joins the millions, and each resolved name pair maps
  * back to records as a plain equi-join.
  */
object Resolve {

  private def par(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  /** Exact-group step shared by the pair and entity-id operators: one
    * row per DISTINCT non-empty canonical name, with the min record id
    * as its representative and the record support count. */
  private def canonicalNames(recs: DataFrame, idCol: String,
      nameCol: String, norm: Column => Column): DataFrame =
    recs
      .select(norm(col(nameCol)).as("name"), col(idCol).as("rid"))
      .filter(length(col("name")) > 0)
      .groupBy(col("name"))
      .agg(min(col("rid")).as("rep_id"), count(lit(1)).as("n_recs"))
      .repartition(par(recs), col("name"))

  /** Blocked fuzzy pairing over canonical names: pairs of DISTINCT
    * normalized names that (a) share at least one blocking token and
    * (b) sit within `maxDist` Levenshtein edits — each pair annotated
    * with the min-id representative and record support of both sides,
    * ready for the existing CC + survivorship pipeline
    * ([[Clusters.connectedComponents]] / canonical-keep) to turn edges
    * into entity ids.
    *
    * Blocking is standard token blocking with a size cap: a name enters
    * the candidate stage once per distinct token, and tokens whose
    * block exceeds `maxBlock` names are dropped entirely — a stop-token
    * ("inc", "ltd", "the") blocks half the vocabulary into one O(n²)
    * block, and a pair sharing ONLY stop-tokens is noise anyway (the
    * same df-cap reasoning as the shingle index). Candidates come from
    * Dedup.cappedPairs, the capped stage every pair operator shares:
    * one groupBy(token) collects each block's names through
    * graft_caplist, so no block is self-joined or persisted. Pairs are
    * deduplicated across blocks BEFORE the edit-distance gate, so
    * Levenshtein (O(len²) per pair, the expensive predicate) runs once
    * per candidate pair. Spark's `levenshtein` and DuckDB's are both
    * exact integer DP — the gate is engine-portable.
    *
    * Scale: one shuffle to distinct the names, one on the blocking
    * token (capped at maxBlock + 1 names of state per token), one to
    * dedup candidate pairs; the name table re-joins only on equality.
    *
    * @return (name_a, name_b, dist, id_a, id_b, n_a, n_b) with
    *   name_a < name_b, dist in [1, maxDist]
    */
  def fuzzyNamePairs(recs: DataFrame, idCol: String, nameCol: String,
      maxDist: Int, maxBlock: Long = 1000L,
      norm: Column => Column = TextFns.normText): DataFrame =
    pairsFromNames(canonicalNames(recs, idCol, nameCol, norm), maxDist,
      maxBlock)

  /** The block–pair–gate stages over an already-built names frame —
    * shared so [[entityIds]] computes the record-scale exact-group scan
    * ONCE (persisted) instead of once per consumer. */
  private def pairsFromNames(names: DataFrame, maxDist: Int,
      maxBlock: Long): DataFrame = {
    require(maxDist >= 1, s"fuzzyNamePairs: maxDist must be >= 1, got $maxDist")
    require(maxBlock >= 2 && maxBlock < Int.MaxValue,
      s"fuzzyNamePairs: maxBlock must be in [2, ${Int.MaxValue}), got $maxBlock")
    // token blocking: each name is an id and each of its distinct tokens
    // a key of the shared capped stage. (name, token) rows are distinct,
    // so the stage's `size(ids) <= maxBlock` is the block-size rule.
    // threshold form of the gate: the DP abandons a pair the moment its
    // running band exceeds maxDist (returns -1) — O(len·maxDist) per
    // pair instead of O(len²), and the exact distance is still returned
    // for every pair inside the gate (identical to the unbounded form
    // there, which is what the oracle replays)
    Dedup.cappedPairs(names.select(col("name"),
        explode(array_distinct(TextFns.tokens(col("name")))).as("blk")),
        col("blk"), col("name"), Some(maxBlock.toInt))
      .select(col("ida").as("name_a"), col("idb").as("name_b"),
        levenshtein(col("ida"), col("idb"), maxDist).as("dist"))
      .filter(col("dist") >= 1)
      .join(names.select(col("name").as("name_a"), col("rep_id").as("id_a"),
        col("n_recs").as("n_a")), Seq("name_a"))
      .join(names.select(col("name").as("name_b"), col("rep_id").as("id_b"),
        col("n_recs").as("n_b")), Seq("name_b"))
      .select(col("name_a"), col("name_b"), col("dist"),
        col("id_a"), col("id_b"), col("n_a"), col("n_b"))
  }

  /** End-to-end entity-id assignment: every record whose canonical name
    * is non-empty gets an `entity_id` — the min record id reachable
    * through the fuzzy-pair graph (names within `maxDist` edits sharing
    * a block token resolve to one entity, transitively). The id is
    * CONTENT-derived (min original record id of the entity), so it is
    * stable across runs, engines, and cluster layouts — never a
    * monotonically_increasing_id.
    *
    * Composition, all at name-vocabulary (not record) scale:
    * [[fuzzyNamePairs]] emits rep-id edges → `Clusters
    * .connectedComponents` closes them transitively (checkpointed
    * pointer-doubling, holds at 10^9 edges) → names not in any edge
    * keep their own rep as a singleton entity → ONE record-scale
    * equi-join maps records to entities through their name. Empty /
    * NULL canonical names carry no linkage evidence and are excluded
    * (same contract as the pair stage).
    *
    * @return (rid, name, entity_id) — one row per contributing record
    */
  def entityIds(recs: DataFrame, idCol: String, nameCol: String,
      maxDist: Int, maxBlock: Long = 1000L,
      norm: Column => Column = TextFns.normText): DataFrame = {
    // persisted: the names frame is name-vocabulary-scale (tiny) but
    // its LINEAGE is the record-scale exact-group scan, and it feeds
    // three consumers (blocking, the pair-side rejoins, nameEntity) —
    // without the pin each consumer re-runs the record scan. Persisted
    // under the repo's caller-clears-cache convention (Verify/the
    // ingest loops clear per call).
    val names = canonicalNames(recs, idCol, nameCol, norm).persist()
    val edges = pairsFromNames(names, maxDist, maxBlock)
      .select(col("id_a").as("ida"), col("id_b").as("idb"))
    val cc = Clusters.connectedComponents(edges)
      .select(col("doc_id").as("rep_id"), col("cluster_id"))
    val nameEntity = names
      .join(cc, Seq("rep_id"), "left")
      .select(col("name"),
        coalesce(col("cluster_id"), col("rep_id")).as("entity_id"))
    recs
      .select(col(idCol).as("rid"),
        norm(col(nameCol)).as("name"))
      .join(nameEntity, Seq("name"))
      .select(col("rid"), col("name"), col("entity_id"))
  }

  /** Survivorship: one golden record per resolved entity. The canonical
    * name and every requested attribute survive by MODE — the most
    * frequent non-NULL value across the entity's records, ties broken
    * by the value itself ascending — so the pick is deterministic,
    * engine-portable, and content-derived (never "first row wins",
    * which is partition-order roulette on a cluster).
    *
    * Each attribute is its own small aggregation at ENTITY scale
    * (groupBy (entity, value) + per-entity top-1 window), then the
    * picks equi-join back — k attributes cost k entity-scale shuffles,
    * never a record-scale one beyond the initial id mapping. The top-1
    * window compiles to WindowGroupLimit (map-side per-group limit), so
    * a mega-entity with millions of records never serializes through
    * one task's full sort.
    *
    * @return (entity_id, n_records, canonical_name, attrs*) — one row
    *   per entity; an attribute that is NULL on every record of an
    *   entity stays NULL
    */
  def goldenRecords(recs: DataFrame, idCol: String, nameCol: String,
      maxDist: Int, attrs: Seq[String],
      maxBlock: Long = 1000L,
      norm: Column => Column = TextFns.normText): DataFrame = {
    // the pipeline introduces working columns; an attribute shadowing
    // one would produce an ambiguous-column error naming neither the
    // operator nor the offending attr — refuse up front instead
    val reserved = Set("rid", "name", "entity_id", "cnt", "rk",
      "n_records", "canonical_name")
    require(!attrs.exists(reserved), s"goldenRecords: attribute names " +
      s"${attrs.filter(reserved).mkString(", ")} collide with the " +
      s"operator's working columns (${reserved.mkString(", ")}) — " +
      "alias them before calling")
    val ids = entityIds(recs, idCol, nameCol, maxDist, maxBlock, norm)
    // ONE record-scale exchange feeds the whole fan-out: ending the
    // shared prefix at a repartition(entity_id) EXCHANGE (not a persist)
    // lets AQE's runtime exchange reuse dedupe the k+2 identical
    // consumer subtrees — the r12 rule: chains that end at a shuffle
    // exchange are deduped at runtime, map-side chains are not — so the
    // record-scale join runs once without pinning a cache. hash(
    // entity_id) then statically satisfies EVERY downstream operator:
    // each modePick's groupBy(entity_id, value) (subset rule), its
    // top-1 window, the n_records groupBy, and the final entity_id
    // equi-joins — zero further exchanges over record- or entity-scale
    // data (guide §2.4: establish the partitioning once). A previous
    // attempt put the repartition UNDER a persist: the cache boundary
    // (AdaptiveSparkPlan inside InMemoryRelation) hides partitioning
    // from the consumers' static plans, which re-inserted every
    // exchange — the exchange must be visible to EnsureRequirements.
    // By-column repartition (no fixed width), so AQE can still size it.
    // Skew-safe: the per-attribute top-1 windows still compile to
    // WindowGroupLimit, and a mega-entity's aggregation state is the
    // same per-key state the post-shuffle aggregate held before.
    val joined = recs
      .select((col(idCol).as("rid") +: attrs.map(col)): _*)
      .join(ids, Seq("rid"))
      .repartition(col("entity_id"))
    def modePick(valueCol: String, outName: String): DataFrame = {
      val w = Window.partitionBy(col("entity_id"))
        .orderBy(col("cnt").desc, col(valueCol).asc)
      joined
        .filter(col(valueCol).isNotNull)
        .groupBy(col("entity_id"), col(valueCol))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("entity_id"), col(valueCol).as(outName))
    }
    val base = joined.groupBy(col("entity_id"))
      .agg(count(lit(1)).as("n_records"))
    val withName = base.join(modePick("name", "canonical_name"),
      Seq("entity_id"))
    attrs.foldLeft(withName)((acc, a) =>
      acc.join(modePick(a, a), Seq("entity_id"), "left"))
  }
}
