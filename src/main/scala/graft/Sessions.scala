package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession construction so every entry point (Verify, Bench,
  * tests, library users) gets the same scale-oriented defaults.
  *
  * Generated-code cache: Spark keeps each compiled whole-stage and
  * expression class in an LRU cache of `spark.sql.codegen.cache.maxEntries`
  * classes (default 100). One host-app session cycle (SMO refresh, status,
  * columns, MDE top-10, what-if status, two imports) used about 95–110
  * classes and one corpus cycle (curation, a BM25 query set, a CMS ingest
  * batch) 145, so at the default every cycle evicted what the next one
  * needed and compiled it again with Janino, each class starting cold in
  * the JIT. Counted with Spark's `CodegenMetrics`, a whole host-app run
  * touches at most 150 distinct classes, a whole corpus run 177, and one
  * `graft.Bench` query at most 46 (the suite pass compiles about 1,300,
  * each once). A host serving both sessions from one JVM thus needs at
  * most about 330; [[CodegenCacheEntries]] is the smallest round size with
  * 2× headroom over that. The conf is static: it takes effect only if it
  * is set before the JVM's first query, so a host that builds its own
  * SparkSession must set it there too.
  *
  * Memory pages: every Tungsten consumer (a broadcast
  * `UnsafeHashedRelation`, a per-task `BytesToBytesMap`, hash aggregate or
  * sorter) allocates its memory in pages of `spark.buffer.pageSize`, and
  * its first page whole, however little it holds. Spark's default is the
  * execution pool over (cores × 16), rounded up to a power of two and
  * clamped to 1–64 MiB: 16 MiB at a 3 GB heap and 4 cores, 64 MiB at
  * 8 GB. Each string-keyed broadcast hash relation over a catalog-sized
  * frame (an SMO build join, an ignored-schema anti-join, what-if's
  * dropped-set join) then pinned one such page on the driver until the
  * ContextCleaner ran: 102 MB of `long[]` pages in the catalog session's
  * 201 MB live heap. [[PageSizeBytes]] is Spark's own floor, 1 MiB; a
  * consumer that needs more takes more pages, and a record larger than a
  * page gets a page of its own size. The bound it implies: a task's page
  * table holds 8,192 pages, so one task can address 8 GiB, above any
  * task's share of a local session's execution memory. This conf is
  * static too: it is read when the SparkContext starts, so a host that
  * builds its own SparkSession must set it there.
  */
object Sessions {
  /** `spark.sql.codegen.cache.maxEntries`; see the object doc. */
  val CodegenCacheEntries = 1000

  /** `spark.buffer.pageSize`, in bytes; see the object doc. */
  val PageSizeBytes: Long = 1L << 20

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.buffer.pageSize", PageSizeBytes.toString)
      // a whole-stage class named after its stage id is new code whenever
      // the id differs, and AQE numbers a query's stages in the order it
      // plans them, which varies with the order sibling stages finish
      .config("spark.sql.codegen.useIdInClassName", "false")
      // explode()-inferred size(...)>0 filters get pushed below the
      // repartition WITH the generator expression fully inlined — for
      // array-building lambdas over tokenized text that re-evaluates the
      // tokenizer per element on the pre-shuffle (single-file = single
      // core) side (30s vs 2s on the bigram pipeline). The filter is
      // redundant for our generators: explode of an empty array yields
      // no rows anyway.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      // the driver's events table carries parquet TIMESTAMP(NANOS);
      // read it as long and normalize in Tables.df.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", math.max(cpus, 4)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
