package graft

import graft.operators.Skew
import graft.registry.Grants
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality assertions — the scale contract, checked at test speed:
  * filters reach the parquet scan, projections prune columns, small
  * dimensions broadcast, salted joins preserve results while splitting
  * hot keys. A regression here is a 100 TB regression that sf0.01
  * row-counts would never catch. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local(8)
  private val sf = "/root/testdata/sf0.001"
  // jobs of the df-capped ngramJaccardPairs stage that perfbench's
  // curate op runs, collected on sf0.001
  private val CuratePairJobs = 9
  // jobs of p05_embed_neardup at sf0.01, warm, 8 cores: 8 with the
  // blocking stage on list_id (11 when the cells were a persisted
  // self-join)
  private val P05Jobs = 8

  private def fmt(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private def plan(name: String): String =
    fmt(SparkEntry.queries(name)(spark, sf))

  test("p42: sequence dedup plans no pairwise joins, one gram shuffle") {
    val p = plan("p42_repeated_spans")
    // nothing quadratic: the whole operator is explode → count → semi →
    // window → doc-keyed joins — a cartesian or nested-loop node here
    // means a candidate-generation regression
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the seed-merge windows run per doc (lag + running sum share one
    // doc_id sort/exchange — windowspecdefinition keyed on doc_id)
    assert("windowspecdefinition\\(doc_id#\\d+L, pos#".r
        .findFirstIn(p).isDefined,
      p.linesIterator.filter(_.contains("Window")).mkString("\n"))
  }

  test("triage: the gated batch is checkpoint-fenced so gate maps stay off the scan side") {
    import graft.operators.{Decontaminate, Ingest, ShingleIndex}
    import spark.implicits._
    val docs = Tables.df(spark, sf, "documents").select(col("doc_id"), col("text"))
    try {
      ShingleIndex.build(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", "graft_plan_t")
      val sketch = Decontaminate.gramSketch(
        Decontaminate.evalGrams(docs.limit(3).select(col("text")), "text", 8)
          .select(col("g")), estimatedGrams = 1L << 12)
      val out = Ingest.triage(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", Ingest.Config("graft_plan_t", Some(sketch)))
      val p = fmt(out)
      // the localCheckpoint boundary must be present: without it,
      // Catalyst pushes the survivors filter (gate chain inlined) below
      // the id repartition onto the raw scan — the measured 11s-vs-0.5s
      // serialization at sf0.1
      assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
        p.take(1200))
      // and the Bloom probe must NOT appear above any parquet scan of
      // the batch (it evaluates before the fence, post-repartition)
      val scanSection = p.linesIterator
        .dropWhile(l => !l.contains("Scan parquet"))
        .takeWhile(l => !l.contains("ExistingRDD")).mkString("\n")
      assert(!scanSection.contains("graft_might_contain"), scanSection.take(600))
    } finally Seq("graft_plan_t_idx", "graft_plan_t_sh", "graft_plan_t_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("q2: predicate pushes into the parquet scan") {
    val p = plan("q2_filter_pushdown")
    val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p).get.group(1)
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"), pushed)
    assert(pushed.contains("LessThan(l_quantity"), pushed)
  }

  test("q1: scan reads only the columns the aggregate needs") {
    val p = plan("q1_agg_pricing")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).get.group(1)
    val cols = read.split(",").map(_.split(":")(0)).toSet
    assert(cols == Set("l_returnflag", "l_linestatus", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax"), read)
  }

  test("q3: dimension tables broadcast, fact side streams") {
    val p = plan("q3_join_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "small-dim join should not SMJ")
  }

  test("SMO builder: ignored-schema anti-joins broadcast") {
    val snap = graft.catalog.CatalogSnapshot.fromRows(spark,
      Seq(org.apache.spark.sql.Row("s", "t", "r", null, 1L)),
      Seq(org.apache.spark.sql.Row("s", "t", "c", 1, "text", false, null, null, false, null)),
      Seq.empty, Seq.empty, Seq.empty)
    val e = new Engine(spark, snap)
    // the builder's plan: the engine holds only its materialized leaf
    val p = graft.smo.SmoBuilder.build(snap, e.ignoredSchemas)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("whole-stage codegen covers the dot-product pair scan") {
    val embs = Tables.df(spark, sf, "embeddings")
    val df = graft.operators.Dedup
      .embeddingNearDupPairs(embs, "vec_id", "embedding", 0.45)
    assert(fmt(df).contains("graft_dot"))
    // force execution so AQE finalizes. Catalyst pushes the
    // `cos > threshold` predicate INTO the nested-loop join condition —
    // the right plan (no 2M-row intermediate), compiled by
    // GeneratePredicate with DotProduct.doGenCode inlined. Pin that the
    // dot stays in the join condition and the probe side is codegen'd.
    df.collect() // count() would spawn a separate execution; collect
    // finalizes THIS df's AQE plan
    val fin = df.queryExecution.executedPlan.toString
    val dotLine = fin.linesIterator.find(_.contains("graft_dot"))
    assert(dotLine.isDefined, fin.take(800))
    assert(dotLine.get.contains("Join"),
      s"expected graft_dot pushed into the join condition: ${dotLine.get.take(200)}")
    assert(fin.contains("*("), "no WholeStageCodegen stage in final plan")
  }

  test("range kernels == sliced HOF forms bit-for-bit; NULL on out-of-range; codegen'd") {
    import graft.operators.Similarity
    val e = Tables.df(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // a deterministic flat "codebook": 8 codes × 8 dims
    val flat = typedlit((0 until 64).map(i => i * 0.25 - 3.0))
    val ranged = e.select(col("vec_id"),
      call_function("graft_dot_range", col("v"), flat,
        lit(16), lit(40), lit(8)).as("d"),
      call_function("graft_l2_range", col("v"), flat,
        lit(16), lit(40), lit(8)).as("l"))
    // the forms the kernels replaced: slice + element HOF folds — the
    // swap must be IEEE-invisible (same products, same order, 0.0 init)
    val sliced = e.select(col("vec_id"),
      Similarity.dot(slice(col("v"), 17, 8), slice(flat, 41, 8)).as("d"),
      aggregate(zip_with(slice(col("v"), 17, 8), slice(flat, 41, 8),
        (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x).as("l"))
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect().map(r =>
        (java.lang.Double.doubleToLongBits(r.getDouble(1)),
          java.lang.Double.doubleToLongBits(r.getDouble(2))))
    assert(bits(ranged).sameElements(bits(sliced)))
    // out-of-range / negative offsets are NULL (the slice/element_at
    // composition's behavior), never an ANSI error
    val edge = e.limit(1).select(
      call_function("graft_dot_range", col("v"), flat,
        lit(60), lit(0), lit(8)).as("a"),
      call_function("graft_l2_range", col("v"), flat,
        lit(0), lit(-1), lit(8)).as("b")).head()
    assert(edge.isNullAt(0) && edge.isNullAt(1))
    // near-MAX_VALUE offsets must not wrap the int bounds check into a
    // passing guard (an out-of-bounds unsafe read): still NULL
    val wrap = e.limit(1).select(
      call_function("graft_dot_range", col("v"), flat,
        lit(Int.MaxValue - 3), lit(0), lit(8)).as("a"),
      call_function("graft_l2_range", col("v"), flat,
        lit(0), lit(Int.MaxValue - 3), lit(8)).as("b")).head()
    assert(wrap.isNullAt(0) && wrap.isNullAt(1))
    // the scoring projection stays inside whole-stage codegen
    val fin = ranged.queryExecution.executedPlan.toString
    assert(fin.contains("*("), "no WholeStageCodegen stage")
  }

  test("optimizer rule rewrites the HOF dot-product pattern to graft_dot") {
    import spark.implicits._
    // parquet-backed so ConvertToLocalRelation cannot pre-fold the plan
    val e = Tables.df(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val hof = e.select(col("vec_id"),
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
        lit(0.0d), (acc, x) => acc + x).as("d"))
    val optimized = hof.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_dot"), optimized)
    assert(!optimized.contains("aggregate(zip_with"), optimized)
    // rewrite is value-preserving vs the native path
    val native = e.select(col("vec_id"),
      graft.operators.Similarity.dot(col("v"), col("v")).as("d"))
    assert(hof.orderBy("vec_id").collect().map(_.getDouble(1))
      .sameElements(native.orderBy("vec_id").collect().map(_.getDouble(1))))
    // non-matching shapes are left alone (sum without product)
    val plain = e.select(
      aggregate(col("v"), lit(0.0d), (acc, x) => acc + x).as("s"))
    assert(!plain.queryExecution.optimizedPlan.toString.contains("graft_dot"))
  }

  test("fuzzy name pairs: blocking is one caplist aggregate, no block self-join or cache") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import spark.implicits._
    val d = Seq((1L, "acme widget corp"), (2L, "acme widgets corp"),
      (3L, "zenith lamps")).toDF("id", "name")
    val p = graft.operators.Resolve
      .fuzzyNamePairs(d, "id", "name", maxDist = 2).queryExecution.optimizedPlan
    val caplists = p.collect { case a: Aggregate
      if a.aggregateExpressions.exists(_.exists(_.isInstanceOf[graft.expressions.CapList])) => a }
    assert(caplists.size == 1, p.treeString)
    val blkJoins = p.collect { case j: Join
      if j.condition.exists(_.references.exists(_.name == "blk")) => j }
    assert(blkJoins.isEmpty, p.treeString)
    assert(p.collect { case r: InMemoryRelation => r }.isEmpty, p.treeString)
  }

  test("band and cell near-dup pairs: one collect aggregate on the key, no key self-join or key cache") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Collect
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import spark.implicits._
    val keyCols = Set("bk", "band", "blk", "key", "list_id")
    val hashes = Seq((1L, 42L), (2L, 43L), (3L, 1L << 40)).toDF("id", "h")
    val plans: Seq[(String, LogicalPlan)] =
      Seq("p03_minhash_lsh", "p04_simhash", "p05_embed_neardup").map(q =>
        q -> SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan) ++
      Seq(0L, 2L).map(cap => s"hamming maxKeyFreq=$cap" -> graft.operators.Dedup
        .hammingNearDupPairs(hashes, "id", "h", 3, maxKeyFreq = cap)
        .queryExecution.optimizedPlan)
    for ((name, p) <- plans) {
      val collects = p.collect { case a: Aggregate
        if a.aggregateExpressions.exists(_.exists(_.isInstanceOf[Collect[_]])) => a }
      assert(collects.size == 1, s"$name\n${p.treeString}")
      assert(collects.head.groupingExpressions.flatMap(_.references)
        .exists(r => keyCols(r.name)), s"$name\n${p.treeString}")
      val keyJoins = p.collect { case j: Join
        if j.condition.exists(_.references.exists(r => keyCols(r.name))) => j }
      assert(keyJoins.isEmpty, s"$name\n${p.treeString}")
      val keyCaches = p.collect { case r: InMemoryRelation
        if r.output.exists(a => keyCols(a.name)) => r }
      assert(keyCaches.isEmpty, s"$name\n${p.treeString}")
    }
    spark.catalog.clearCache()
  }

  test("incremental IVF near-dups collect only the batch: stored cells stream, never one row") {
    import graft.operators.IvfIndex
    import org.apache.spark.sql.catalyst.expressions.aggregate.Collect
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import spark.implicits._
    val store = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val batch = Seq((10L, Seq(0.99f, 0.1f)), (11L, Seq(0.98f, 0.12f)))
      .toDF("vec_id", "embedding")
    try {
      IvfIndex.build(store, "vec_id", "embedding", "graft_planivf", nCells = 2)
      val p = IvfIndex.incrementalNearDups(batch, "vec_id", "embedding",
        "graft_planivf", threshold = 0.9).queryExecution.optimizedPlan
      def readsCells(n: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        n.exists {
          case r: LogicalRelation =>
            r.catalogTable.exists(_.identifier.table == "graft_planivf_cells")
          case _ => false
        }
      val collects = p.collect { case a: Aggregate
        if a.aggregateExpressions.exists(_.exists(_.isInstanceOf[Collect[_]])) => a }
      assert(collects.nonEmpty, p.treeString)
      assert(!collects.exists(readsCells), p.treeString)
      assert(readsCells(p), p.treeString)
    } finally {
      Seq("graft_planivf_cells", "graft_planivf_cent")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
    }
  }

  test("p05 job budget at sf0.01") {
    val q = SparkEntry.queries("p05_embed_neardup")
    val sf01 = new java.io.File(sf).getParent + "/sf0.01" // beside sf0.001
    // warm once, so the measured run pays no first-run job
    q(spark, sf01).collect()
    spark.catalog.clearCache()
    val n = org.apache.spark.JobTally.of(spark.sparkContext)(
      q(spark, sf01).collect()).jobs
    spark.catalog.clearCache()
    assert(n <= P05Jobs, s"p05 ran $n jobs, budget $P05Jobs")
  }

  test("curate pair-stage job budget: string ids run no more jobs than long ids") {
    import graft.operators.Dedup
    val docs = Tables.df(spark, sf, "documents")
    def jobs(idType: String) = {
      val d = docs.select(col("doc_id").cast(idType).as("doc_id"), col("text"))
      val n = org.apache.spark.JobTally.of(spark.sparkContext)(
        Dedup.ngramJaccardPairs(d, "doc_id", "text", maxDocFreq = Some(20))
          .collect()).jobs
      spark.catalog.clearCache()
      n
    }
    // warm once, so neither side pays a first-run job
    jobs("bigint")
    val long = jobs("bigint")
    val str = jobs("string")
    // measured on Spark 4.1.2 with AQE (one job per query stage and per
    // broadcast)
    assert(long <= CuratePairJobs, s"long ids ran $long jobs, budget $CuratePairJobs")
    assert(str <= long, s"string ids ran $str jobs, long ids $long")
  }

  test("salted join: same rows as plain join, salt splits the hot key") {
    import spark.implicits._
    // left: hot key 1 (1000 rows), cold keys; right: tiny dim
    val left = (1 to 1000).map(i => (1L, i.toLong)) ++
      Seq((2L, 2000L), (3L, 3000L))
    val l = left.toDF("k", "payload")
    val r = Seq((1L, "hot"), (2L, "cold2"), (3L, "cold3"), (4L, "unmatched"))
      .toDF("k", "label")
    val salted = Skew.saltedJoin(l, r, "k", "payload", salt = 8)
      .select("k", "payload", "label")
    val plain = l.join(r, Seq("k")).select("k", "payload", "label")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("bucketed tables co-locate: fact-fact join plans without exchanges") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      (1 to 1000).map(i => (i.toLong, s"o$i")).toDF("k", "ov")
        .write.bucketBy(8, "k").sortBy("k").mode("overwrite")
        .saveAsTable("bkt_orders")
      (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "lv")
        .write.bucketBy(8, "k").sortBy("k").mode("overwrite")
        .saveAsTable("bkt_lines")
      val joined = spark.table("bkt_orders").join(spark.table("bkt_lines"), "k")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"bucketed join should not shuffle:\n${p.take(600)}")
      assert(joined.count() == 1000)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_lines")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("theta-shaped operators never plan nested-loop or cartesian joins") {
    // the no-equi-key band join and the df-capped near-dup pipelines
    // exist precisely to avoid BroadcastNestedLoopJoin/CartesianProduct
    // — a regression to either is the 100 TB failure mode
    Seq("q23_band_join", "p02b_ngram_jaccard_capped", "p28_containment",
      "p59_entity_resolution", "p60_entity_ids", "p63_golden_record")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans BNLJ")
        assert(!p.contains("CartesianProduct"), s"$q plans cartesian")
      }
  }

  test("p61: the CMS pre-filter runs map-side, below every shuffle") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join}
    val lp = SparkEntry.queries("p61_cms_heavy_hitters")(spark, sf)
      .queryExecution.optimizedPlan
    // the sketch gate is the least(element_at ...) >= minDf predicate;
    // its subtree must be aggregate- and join-free — grams thin
    // MAP-SIDE off the scan, only survivors reach the exact groupBy
    val gates = lp.collect {
      case f: Filter if f.condition.toString.contains("element_at") => f
    }
    assert(gates.nonEmpty, s"no sketch-gate filter in:\n$lp")
    gates.foreach { f =>
      assert(f.child.collect { case a: Aggregate => a }.isEmpty &&
        f.child.collect { case j: Join => j }.isEmpty,
        s"sketch gate above a shuffle stage:\n${f.treeString.take(1200)}")
    }
  }

  test("p57: BM25 joins broadcast the bounded query-side sets, never cartesian") {
    // node-count on the physical tree (formatted explain prints each
    // node twice — tree line + detail section — and double-counts)
    val p = SparkEntry.queries("p57_bm25_retrieval")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "BM25 plans cartesian")
    // query vocab, df table, query terms: all O(queries) — each must
    // broadcast into the postings stream, never shuffle the corpus
    // side on a tiny key set
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"expected >=3 broadcast joins in BM25 plan:\n${p.take(2000)}")
    // the only nested-loops are 1-row stats crosses: the contrib ×
    // stats broadcast, plus the stats row's own n_docs × sum_dl
    // composition (row count crossed with the tf-derived length sum —
    // the shape that keeps the corpus tokenize single-pass)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2,
      "unexpected nested-loop joins beyond the 1-row stats crosses")
    // per-query top-k compiles to the map-side group limit
    assert(p.contains("WindowGroupLimit"), "no WindowGroupLimit in BM25 plan")
  }

  test("q22 as-of join plans as one exchange + window, no join node") {
    val p = plan("q22_asof_join")
    assert(!p.contains("Join"), s"asof should have no join node:\n$p")
    assert(p.contains("Window"), p)
    assert("(?m)^\\(\\d+\\) Exchange\\b".r.findAllIn(p).size == 1,
      s"asof should shuffle exactly once:\n$p")
  }

  test("p26 KMV sketch aggregates map-side before the exchange") {
    val p = plan("p26_kmv_distinct")
    // a PARTIAL-mode graft_kmv aggregate must exist in the plan — the
    // proof that sketch buffers merge map-side and the shuffle carries
    // serialized sketches, not raw hashes
    assert(p.contains("partial_graft_kmv"),
      s"no partial-mode graft_kmv aggregate in plan:\n${p.take(800)}")
    assert(p.contains("ObjectHashAggregate"), p.take(400))
  }

  test("graft_kll sketch aggregates map-side before the exchange; p77 token stream avoids cartesians") {
    import org.apache.spark.sql.functions.{call_function, col, lit}
    import spark.implicits._
    // partial-mode graft_kll in the plan = sketch ladders merge
    // map-side and the shuffle carries serialized buffers, not raw
    // doubles — the same 100 TB proof as the KMV pin
    val p = fmt((1 to 100).map(i => (i % 3, i.toDouble)).toDF("g", "x")
      .groupBy(col("g"))
      .agg(call_function("graft_kll", col("x"), lit(64), lit(0.5))))
    assert(p.contains("partial_graft_kll"),
      s"no partial-mode graft_kll aggregate in plan:\n${p.take(800)}")
    assert(p.contains("ObjectHashAggregate"), p.take(400))
    // the token-stream materialization keeps p68b's join discipline
    val p77 = plan("p77_bpe_tokens")
    assert(!p77.contains("CartesianProduct")
      && !p77.contains("BroadcastNestedLoopJoin"), p77.take(800))
    assert(p77.contains("SortMergeJoin") || p77.contains("BroadcastHashJoin"),
      p77.take(800))
  }

  test("p12 multimodal decode is map-only: payloads never shuffle") {
    val p = plan("p12_multimodal")
    // exactly two exchanges, both ABOVE the decode where rows are narrow
    // features: the kind-rollup hash exchange and the final sort's range
    // exchange. A third means blobs are being shuffled before decode —
    // at corpus scale that is a whole-corpus write+read for nothing.
    assert("(?m)^\\(\\d+\\) Exchange\\b".r.findAllIn(p).size == 2,
      s"only the post-decode rollup/sort may shuffle:\n$p")
    // and both sit above the object-decode boundary: formatted-mode node
    // ids are assigned leaves-first, so every exchange id must exceed
    // the DeserializeToObject id that feeds the codec mapPartitions
    def ids(node: String): List[Int] =
      s"(?m)^\\((\\d+)\\) $node\\b".r.findAllMatchIn(p)
        .map(_.group(1).toInt).toList
    val deser = ids("DeserializeToObject")
    val exch = ids("Exchange")
    assert(deser.size == 1, p.take(600))
    assert(exch.forall(_ > deser.head),
      s"an exchange sits below the decode:\n$p")
  }

  test("p33 quantize audit is a pure map: zero exchanges") {
    val p = plan("p33_quantize")
    assert(!"(?m)^\\(\\d+\\) Exchange\\b".r.findAllIn(p).hasNext,
      s"quantize audit must not shuffle:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("p79/p80 multilingual text pipeline is a pure map: zero exchanges, zero joins, no UDFs") {
    // normalization and script-ID must stay per-row codegen'd maps
    // over the union scan — an exchange or join here means the regex/
    // when-chain design regressed to something that shuffles a 100 TB
    // corpus to canonicalize it
    Seq("p79_unicode_norm", "p80_langid_script",
      "p81_quality_multilingual").foreach { q =>
      val p = plan(q)
      assert(!"(?m)^\\(\\d+\\) Exchange\\b".r.findAllIn(p).hasNext,
        s"$q must not shuffle:\n$p")
      assert(!p.contains("Join"), s"$q must not join:\n$p")
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
        s"$q must stay UDF-free:\n$p")
    }
  }

  test("p72 dsir scoring pass is a pure map: zero exchanges, zero joins") {
    // the histograms collect O(buckets) during construction; the frame
    // the caller runs must score each row against the literal ratio
    // array with no shuffle — a join or exchange here means the dense-
    // literal design regressed to a per-feature lookup join (corpus-
    // scale shuffle at 100 TB)
    val p = plan("p72_dsir_weights")
    assert(!"(?m)^\\(\\d+\\) Exchange\\b".r.findAllIn(p).hasNext,
      s"dsir scoring must not shuffle:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("p74 hard negatives: every join broadcasts the bounded pair side — no sort-merge, no cartesian") {
    // pairs are training batches, not the corpus: a sort-merge join
    // anywhere here means the 100 TB corpus got shuffled for a
    // bounded-side lookup. The one BroadcastNestedLoopJoin is the
    // design (the exact scoring pass: non-equi self-exclusion against
    // the BROADCAST bounded query set — the bruteForceTopK shape); it
    // must build the broadcast side, never fall back to a cartesian.
    val p = plan("p74_hard_negatives")
    assert(!p.contains("SortMergeJoin"), s"corpus-shuffling join:\n$p")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert("BroadcastNestedLoopJoin Inner BuildRight".r
      .findAllIn(p).size == 1, s"scoring pass shape changed:\n$p")
  }

  test("p76 sample serve reads only the winner partitions — never the corpus") {
    // the store's contract: serving the balanced sample touches the
    // ≤ cells·k local-winner rows, not the embedding corpus. A corpus
    // scan here means serve regressed to recomputing the quota.
    val p = plan("p76_sample_store")
    assert(p.contains("graft_p76_smpl"), p.take(600))
    assert(!p.contains("embeddings"),
      s"sample serve must not scan the corpus:\n$p")
  }

  test("q27 resample: grid + LOCF plan has no join node") {
    val p = plan("q27_resample")
    assert(!p.contains("Join"), s"resample should be windows, not joins:\n$p")
    assert(p.contains("Window"), p)
    assert(p.contains("Generate"), "grid must come from sequence+explode")
  }

  test("q26 pivot aggregates once: no extra shuffle beyond the groupBy") {
    val p = plan("q26_pivot")
    assert(!p.contains("Join"), p)
    assert("(?m)^\\(\\d+\\) Exchange\\b".r.findAllIn(p).size == 1,
      s"pivot should shuffle exactly once (the groupBy):\n$p")
  }

  test("p34 bloom probe filters the gram stream before any join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val lp = SparkEntry.queries("p34_bloom_decontaminate")(spark, sf)
      .queryExecution.optimizedPlan
    val probes = lp.collect {
      case f: Filter if f.condition.toString.contains("might_contain") => f
    }
    assert(probes.nonEmpty, s"no might_contain filter in:\n$lp")
    // the probe's subtree must be join-free: grams thin map-side off
    // the scan, they are never shuffled raw into the verify join
    probes.foreach { f =>
      val joinsBelow = f.child.collect { case j: Join => j }
      assert(joinsBelow.isEmpty,
        s"bloom probe sits above a join:\n${f.treeString.take(1500)}")
    }
  }

  test("p25b: every non-equi broadcast is the O(K) centroid set, never a corpus side") {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    // static plan (no AQE) so the join tree is inspectable pre-execution
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = SparkEntry.queries("p25b_knn_label_ivf")(spark, sf)
        .queryExecution.executedPlan
      val bnljs = p.collect { case b: BroadcastNestedLoopJoinExec => b }
      // the centroid cross joins (assignment + probes) are the only
      // legitimate non-equi broadcasts
      assert(bnljs.nonEmpty, "expected centroid cross joins in the IVF plan")
      bnljs.foreach { b =>
        val bcast = if (b.buildSide == BuildLeft) b.left else b.right
        assert(PlanSpec.hasFixedKLimit(bcast),
          s"non-equi broadcast without a fixed-K limit (corpus-sized at " +
            s"scale):\n${bcast.treeString.take(1200)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("kmeans-centroid IVF assignment broadcasts the O(K) local center set") {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val embs = Tables.df(spark, sf, "embeddings")
    val km = graft.operators.Similarity.kmeansCentroids(embs, "embedding", 8)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = graft.operators.Similarity.ivfTopK(
          embs.filter(col("vec_id") % 50 === 0), embs, "vec_id", "embedding",
          5, nCells = 8, nProbe = 3, centroidsOverride = Some(km))
        .queryExecution.executedPlan
      val bnljs = p.collect { case b: BroadcastNestedLoopJoinExec => b }
      assert(bnljs.nonEmpty)
      // the learned centers are a driver-local K-row relation: the
      // broadcast side must bottom out in a LocalTableScan, never a
      // corpus scan
      bnljs.foreach { b =>
        val bcast = if (b.buildSide == BuildLeft) b.left else b.right
        assert(PlanSpec.hasLocalScan(bcast),
          s"kmeans assignment broadcast is not the local center set:\n" +
            bcast.treeString.take(1200))
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("graft_hamming == the HOF fold it replaced; NULL on length mismatch; codegen'd") {
    import graft.operators.Similarity
    val e = Tables.df(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // packs from real vectors, compared against a fixed literal pack —
    // native kernel vs the zip_with/aggregate form, value-for-value
    val lit2 = typedlit(Seq(0x0F0F0F0F0F0F0F0FL, -1L))
    val wide = e.select(col("vec_id"),
      concat(Similarity.signPack(col("v")), array(lit(-1L))).as("p"))
    val native = wide.select(col("vec_id"),
      call_function("graft_hamming", col("p"), lit2).as("h"))
    val hof = wide.select(col("vec_id"),
      aggregate(zip_with(col("p"), lit2,
          (x, y) => call_function("bit_count", x.bitwiseXOR(y))),
        lit(0), (acc, x) => acc + x).as("h"))
    def vals(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(vals(native).sameElements(vals(hof)))
    // length mismatch is NULL (zip_with's null-padding poisons the HOF
    // fold the same way), never a wrong small distance
    val mm = e.limit(1).select(call_function("graft_hamming",
      Similarity.signPack(col("v")), lit2).as("h")).head()
    assert(mm.isNullAt(0))
    // the shortlist projection stays inside whole-stage codegen
    assert(native.queryExecution.executedPlan.toString.contains("*("),
      "no WholeStageCodegen stage")
  }

  test("graft_normalize: golden codepoints, ASCII pass-through, hash unification, codegen'd") {
    import graft.functions.TextFns
    import spark.implicits._
    val composed = "caf\u00e9"       // e-acute as one codepoint
    val decomposed = "cafe\u0301"    // e + combining acute
    val compat = "\ufb01ne \uff21\u2460" // fi-ligature, fullwidth A, circled 1
    val d = Seq(
      (1L, composed), (2L, decomposed),
      (3L, compat),
      (4L, "plain ascii stays put"),
      (5L, null.asInstanceOf[String]))
      .toDF("id", "s")
    val out = d.select(col("id"),
        TextFns.unicodeNorm(col("s"), "NFC").as("nfc"),
        TextFns.unicodeNorm(col("s")).as("nfkc"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2)))).toMap
    // canonical equivalence unifies under BOTH forms
    assert(out(1L)._1 == out(2L)._1 && out(1L)._2 == out(2L)._2)
    assert(out(1L)._1 == composed, "NFC must pick the composed form")
    // compatibility folds only under NFKC
    assert(out(3L)._2 == "fine A1")
    assert(out(3L)._1 == compat, "NFC must NOT compat-fold")
    // ASCII identity; NULL propagates
    assert(out(4L) == (("plain ascii stays put", "plain ascii stays put")))
    assert(!out.contains(5L) || out(5L) == ((null, null)))
    assert(d.filter(col("id") === 5L).select(
      TextFns.unicodeNorm(col("s"))).head().isNullAt(0))
    // the point of the operator: md5 keys unify after normalization
    val hashes = d.filter(col("id").isin(1L, 2L))
      .select(md5(TextFns.unicodeNorm(col("s"))).as("h"),
        md5(col("s")).as("raw"))
      .collect()
    assert(hashes.map(_.getString(0)).distinct.length == 1,
      "normalized md5s must collide")
    assert(hashes.map(_.getString(1)).distinct.length == 2,
      "raw md5s must differ — that is the bug this fixes")
    // stays inside whole-stage codegen over a real scan (the local
    // fixture above constant-folds to a LocalTableScan, proving nothing)
    val plan = Tables.df(spark, sf, "documents")
      .select(TextFns.unicodeNorm(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(") && plan.contains("graft_normalize"),
      "normalize must run inside a WholeStageCodegen stage")
    // invalid form fails at analysis, loudly
    intercept[Exception] {
      d.select(TextFns.unicodeNorm(col("s"), "NFX")).collect()
    }
  }

  test("p50: the Hamming scan streams 8-byte packs, never the float vectors") {
    val p = plan("p50_binary_ann")
    // candidate generation is the broadcast(query-packs) nested-loop
    // over the corpus packs; anything sort-merge or cartesian here
    // means the scale shape regressed
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    // the streamed side of that join must carry ONLY (neighbor_id, cb):
    // the 64×-smaller pack column, with the embedding projected away
    // BEFORE the join — if cv/embedding leaks into this projection the
    // whole point of the 1-bit tier (bandwidth-bound candidate scan)
    // is gone at 100 TB
    // (neighbor_id may appear bare or as an inline `vec_id AS
    // neighbor_id` alias depending on how the projections collapse —
    // both carry exactly the two pack-side columns)
    assert(("Output \\[2\\]: \\[(\\w+#\\d+L AS )?neighbor_id#\\d+L, " +
        ".*AS cb#\\d+\\]").r.findFirstIn(p).isDefined,
      p.linesIterator.filter(_.contains("cb#")).mkString("\n"))
    // exact vectors re-attach for the shortlist via broadcast hash
    // joins (the shortlist is |Q|·oversample·k rows)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("p56: the rank filter compiles to a map-side WindowGroupLimit") {
    val p = plan("p56_exact_sample")
    // TWO WindowGroupLimit nodes — the partial (before the exchange,
    // every map task keeps its local top-k per group) and the final:
    // the property that makes a skewed mega-group contribute k rows
    // per upstream partition instead of its whole population
    assert("(?m)^\\(\\d+\\) WindowGroupLimit\\b".r.findAllIn(p).size >= 2,
      p.linesIterator.filter(_.contains("Window")).mkString("\n"))
  }

  test("p66 hybrid fusion: no cartesian anywhere; fusion adds one (query, item) shuffle over top-k rows") {
    val p = plan("p66_hybrid_rrf")
    // the dense branch's broadcast nested loop (bounded query set ×
    // corpus, p06's shape) is expected; a CartesianProduct is not
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the fused per-item sum is a real aggregate, not a window over
    // a re-sorted corpus
    assert(p.contains("HashAggregate"), p.take(800))
  }

  test("p68b BPE encode: fold runs per distinct word; corpus join is an equi join, never a cartesian") {
    val p = plan("p68b_bpe_encode")
    assert(!p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the word -> symbol-length mapping joins back on the word key
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      p.take(800))
  }

  test("p70 sampled quantiles: the hash selector filters below the histogram aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
    val lp = SparkEntry.queries("p70_sampled_quantiles")(spark, sf)
      .queryExecution.optimizedPlan
    // the md5 selector must sit directly over the scan projection: a
    // selector above the histogram groupBy would shuffle the FULL
    // corpus to compute a sampled statistic
    val sel = lp.collect {
      case f: Filter if f.condition.toString.contains("md5") => f
    }
    assert(sel.nonEmpty, s"no md5 sample selector in:\n$lp")
    sel.foreach { f =>
      val aggsBelow = f.child.collect { case a: Aggregate => a }
      assert(aggsBelow.isEmpty,
        s"sample selector sits above an aggregate:\n${f.treeString.take(1200)}")
    }
  }

  test("grants plan: role validation, supabase normalization, quoting") {
    assert(Grants.validRoleName("app_reader"))
    assert(!Grants.validRoleName("x; drop table users--"))
    assert(Grants.normalizeUsername("postgres.abcdefghij12") == "postgres")
    assert(Grants.normalizeUsername("plain_user") == "plain_user")
    val sql = Grants.grantUsageSql("postgres.abcdefghij12", Seq("sales", "Weird Schema"))
    assert(sql.exists(_ == "grant usage on schema sales to postgres"))
    assert(sql.exists(_.contains("\"Weird Schema\"")))
    intercept[IllegalArgumentException] {
      Grants.grantUsageSql("bad;role", Seq("s"))
    }
    assert(Grants.createRolesSql.length == 4)
  }
}

object PlanSpec {
  import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec,
    LocalTableScanExec, SparkPlan, TakeOrderedAndProjectExec}
  import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

  /** True when the subtree bottoms out in a fixed-K limit. Spark plans
    * the SECOND reference to a shared broadcast as a leaf
    * ReusedExchangeExec whose original sits in `child` outside normal
    * children traversal — exactly the reuse we WANT (the centroid set
    * broadcasts once for assignment + probes), so recurse through it. */
  def hasFixedKLimit(p: SparkPlan): Boolean =
    p.collect {
      case g: GlobalLimitExec => g: Any
      case l: LocalLimitExec => l: Any
      case t: TakeOrderedAndProjectExec => t: Any
      case r: ReusedExchangeExec if hasFixedKLimit(r.child) => r: Any
    }.nonEmpty

  /** True when the subtree bottoms out in a driver-local relation
    * (through reused exchanges, as above). */
  def hasLocalScan(p: SparkPlan): Boolean =
    p.collect {
      case l: LocalTableScanExec => l: Any
      case r: ReusedExchangeExec if hasLocalScan(r.child) => r: Any
    }.nonEmpty
}
