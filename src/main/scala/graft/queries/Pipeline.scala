package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.TextFns
import graft.operators.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators as driver-gated queries over the
  * documents/embeddings tables: the dedup family (exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, embedding cosine), similarity search (exact
  * top-k + LSH ANN), text analysis (language ID, quality scoring, token
  * counting, fingerprinting), and the multimodal binary-column pipeline.
  *
  * Every DuckDB oracle is generated from the SAME Scala constants as the
  * Spark plan (minhash parameters, language profiles, thresholds), and
  * all cross-engine hashing goes through md5 — the two engines compute
  * bit-identical results, including the doubles (sequential left-to-right
  * folds in both).
  */
object Pipeline {

  // ---- shared oracle-SQL fragments (DuckDB dialect) -----------------------

  /** trim/collapse/strip — must mirror TextFns.normText exactly. */
  private def normSql(c: String) =
    s"trim(regexp_replace(regexp_replace(lower($c), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  private def toksSql(norm: String) =
    s"list_filter(string_split_regex($norm, '\\s+'), tk -> length(tk) > 0)"

  /** Distinct word n-grams — mirrors TextFns.wordShingles. */
  private def shinglesSql(toks: String, n: Int) =
    s"list_distinct(list_transform(generate_series(0, greatest(len($toks)-$n, 0)), " +
      s"i -> array_to_string($toks[i+1:i+$n], ' ')))"

  private def hash32Sql(c: String) =
    s"(('0x' || substr(md5($c), 1, 8))::BIGINT)"

  /** Sequential-order squared L2 — mirrors Similarity's PQ-encode fold
    * (the ::DOUBLE casts are identity on the already-double slices). */
  private def l2sqSql(a: String, b: String) =
    s"list_reduce(list_transform(generate_series(1, len($a)), " +
      s"i -> ($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE)), " +
      "(x, y) -> x + y)"

  /** Sequential double dot product — mirrors Similarity.dot. */
  private def dotSql(a: String, b: String) =
    s"list_reduce(list_transform(generate_series(1, len($a)), " +
      s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (x, y) -> x + y)"

  private def cosSql(a: String, b: String) =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  private val ShingleN = 5
  private val JaccardNum = 7 // threshold num/den = 0.7, checked in integers
  private val JaccardDen = 10
  private val MinhashK = 32
  private val LshBands = 8
  private val NearDupCos = 0.45
  private val TopK = 5
  // df-cap for the clustered-dedup pipelines: shingles in more docs than
  // this never generate candidates (Σdf² stays linear in corpus size)
  private val JaccardMaxDf = 20
  // IVF: fixed centroid count (corpus-size-independent — broadcast and
  // assignment cost are O(K) and O(nK) at any scale; tune toward √n per
  // corpus); vectors multi-assign to their IvfProbe nearest cells
  private val IvfCells = 64
  private val IvfProbe = 3
  // product quantization: m subspaces × nCodes codes (dim 64 → 8-dim
  // subvectors; encoded row = 8 small ints vs 64 floats ≈ 32× smaller)
  private val PqM = 8
  private val PqCodes = 32
  // binary (1-bit) ANN: Hamming shortlist keeps oversample×k candidates
  private val BinOversample = 4
  // epoch-shuffle seed (a training run varies this per epoch)
  private val ShuffleSeed = 42L
  // TF-IDF terms reported per doc; sequence-packing context window
  private val TfidfTopK = 3
  private val PackBudget = 256
  // boilerplate mining: trigrams, top 20 by document frequency
  private val BoilerN = 3
  private val BoilerTopK = 20
  // embeddings table dimensionality (TESTDATA.md)
  private val EmbDim = 64
  // chunk-level boilerplate removal: token window + doc-frequency cap
  private val ChunkW = 5
  private val ChunkMaxDf = 3
  // sequence-level dedup: seed-gram width (minimum removable span)
  private val SeqW = 10
  // kNN label probe: every KnnHoldMod-th vector is held out as a query
  private val KnnHoldMod = 20
  // KMV distinct sketch size (relative error ~ 1/sqrt(k-2) ~ 13%)
  private val KmvK = 64
  // containment threshold: contained doc's shingles >= 9/10 covered
  private val ContainNum = 9
  private val ContainDen = 10
  // semantic-decontamination cosine threshold (embedding-space leak)
  private val SemanticThr = 0.3
  // dataset-build quality gate: minimum token count to keep a doc
  private val BuildMinTokens = 30

  /** Shared CTE block `ex → common → exf`: the reference form of the
    * hashed, df-capped inverted index that Dedup's capped stages
    * (cappedCandidates → cappedPairs, incrementalCandidates) fuse into
    * one caplist aggregate. The df-cap drops exactly the same postings,
    * and the collision behavior matches (extra candidates are
    * re-verified on the string arrays; merged df counts can in
    * principle cap out a rare shingle, identically in both engines, so
    * parity holds either way — see the cappedCandidates scaladoc). `sh`
    * must expose (doc_id, shingles [, extra]). The single source of
    * the hash60-index/df-cap SQL: p02b/p13/p15 (via cappedPairsCtes),
    * p28, and p30 all splice this block. */
  private def cappedIndexCtes(cap: Int, extra: String = ""): String = {
    val ex = if (extra.isEmpty) "" else s", $extra"
    s"""ex AS (SELECT doc_id$ex,
       |       ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS s
       |       FROM sh),
       |common AS (SELECT s FROM ex GROUP BY s HAVING COUNT(*) > $cap),
       |exf AS (SELECT e.doc_id$ex, e.s
       |        FROM ex e ANTI JOIN common USING (s))""".stripMargin
  }

  /** Shared CTE block `sh → … → pairs` mirroring
    * Dedup.ngramJaccardPairs(maxDocFreq = Some(cap)): candidates from
    * the df-capped inverted index, exact intersection verify over the
    * full shingle arrays. `rel` must expose (doc_id, text). */
  private def cappedPairsCtes(rel: String, cap: Int): String = {
    val sh = shinglesSql(toksSql(normSql("text")), ShingleN)
    s"""sh AS (SELECT doc_id, $sh AS shingles FROM $rel),
       |${cappedIndexCtes(cap)},
       |cnd AS (
       |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT c.ida, c.idb
       |  FROM cnd c
       |  JOIN sh sa ON sa.doc_id = c.ida
       |  JOIN sh sb ON sb.doc_id = c.idb
       |  WHERE len(list_intersect(sa.shingles, sb.shingles)) * $JaccardDen >=
       |    (len(sa.shingles) + len(sb.shingles)
       |      - len(list_intersect(sa.shingles, sb.shingles))) * $JaccardNum)""".stripMargin
  }

  // ---- dedup --------------------------------------------------------------

  private def p01(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.df(spark, dir, "documents"), "doc_id", "text")

  private val p01Sql =
    s"""SELECT md5(${normSql("text")}) AS text_hash,
       |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
       |FROM documents GROUP BY 1""".stripMargin

  private def p02(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.df(spark, dir, "documents"),
      "doc_id", "text", ShingleN, JaccardNum, JaccardDen)

  private val p02Sql = {
    val sh = shinglesSql(toksSql(normSql("text")), ShingleN)
    s"""WITH sh AS (SELECT doc_id, $sh AS shingles FROM documents),
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |pairs AS (
       |  SELECT a.doc_id AS ida, b.doc_id AS idb, COUNT(*) AS inter
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT p.ida, p.idb, p.inter,
       |  (len(sa.shingles) + len(sb.shingles) - p.inter)::BIGINT AS union_sz
       |FROM pairs p
       |JOIN sh sa ON sa.doc_id = p.ida
       |JOIN sh sb ON sb.doc_id = p.idb
       |WHERE p.inter * $JaccardDen >=
       |  (len(sa.shingles) + len(sb.shingles) - p.inter) * $JaccardNum""".stripMargin
  }

  /** The 100 TB n-gram path: p02 above is the EXACTNESS BASELINE (full
    * inverted index, Σdf² candidate cost — fine at validation scale,
    * quadratic in boilerplate-shingle df at corpus scale); this variant
    * gates the df-capped index + exact-verify path that the clustered
    * pipelines (p13/p15) already compose. Reported (inter, union_sz)
    * are still the true full-array values. */
  private def p02b(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.df(spark, dir, "documents"),
      "doc_id", "text", ShingleN, JaccardNum, JaccardDen,
      maxDocFreq = Some(JaccardMaxDf))
      .select(col("ida"), col("idb"), col("inter").cast("long").as("inter"),
        col("union_sz").cast("long").as("union_sz"))

  private val p02bSql = {
    val inter = "len(list_intersect(sa.shingles, sb.shingles))"
    // cappedPairsCtes' final `pairs` CTE goes unused here (it carries no
    // inter/union columns); DuckDB is fine with an unreferenced CTE
    s"""WITH ${cappedPairsCtes("documents", JaccardMaxDf)}
       |SELECT c.ida, c.idb,
       |  $inter::BIGINT AS inter,
       |  (len(sa.shingles) + len(sb.shingles) - $inter)::BIGINT AS union_sz
       |FROM cnd c
       |JOIN sh sa ON sa.doc_id = c.ida
       |JOIN sh sb ON sb.doc_id = c.idb
       |WHERE $inter * $JaccardDen >=
       |  (len(sa.shingles) + len(sb.shingles) - $inter) * $JaccardNum""".stripMargin
  }

  private def p03(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(Tables.df(spark, dir, "documents"),
      "doc_id", "text", ShingleN, MinhashK, LshBands, JaccardNum, JaccardDen)
      .select(col("ida"), col("idb"),
        col("inter").cast("long").as("inter"),
        col("union_sz").cast("long").as("union_sz"))

  private val p03Sql = {
    val sh = shinglesSql(toksSql(normSql("text")), ShingleN)
    val sigExprs = TextFns.minhashParams(MinhashK).map { case (a, b) =>
      s"list_min(list_transform(shingles, s -> ($a * ${hash32Sql("s")} + $b) % ${TextFns.MinhashPrime}))"
    }.mkString("[", ",\n    ", "]")
    val r = MinhashK / LshBands
    s"""WITH sh AS (SELECT doc_id, $sh AS shingles FROM documents),
       |sig AS (SELECT doc_id, shingles, $sigExprs AS sig FROM sh
       |        WHERE len(shingles) > 0),
       |keys AS (
       |  SELECT doc_id, g.band,
       |    md5(array_to_string(sig[g.band*$r+1 : g.band*$r+$r], ',')) AS key
       |  FROM sig, generate_series(0, ${LshBands - 1}) g(band)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM keys a JOIN keys b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT c.ida, c.idb,
       |  len(list_intersect(sa.shingles, sb.shingles))::BIGINT AS inter,
       |  (len(sa.shingles) + len(sb.shingles)
       |    - len(list_intersect(sa.shingles, sb.shingles)))::BIGINT AS union_sz
       |FROM cand c
       |JOIN sh sa ON sa.doc_id = c.ida
       |JOIN sh sb ON sb.doc_id = c.idb
       |WHERE len(list_intersect(sa.shingles, sb.shingles)) * $JaccardDen >=
       |  (len(sa.shingles) + len(sb.shingles)
       |    - len(list_intersect(sa.shingles, sb.shingles))) * $JaccardNum""".stripMargin
  }

  private def p04(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.df(spark, dir, "documents"), "doc_id", "text")

  private val p04Sql = {
    val toks = toksSql(normSql("text"))
    val hash60 = "('0x' || substr(md5(tk), 1, 15))::BIGINT"
    s"""WITH h AS (
       |  SELECT doc_id,
       |    list_transform($toks, tk -> $hash60) AS th
       |  FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    list_sum(list_transform(generate_series(0, 59), b ->
       |      CASE WHEN 2 * len(list_filter(th, x -> ((x >> b) & 1) = 1)) >= len(th)
       |           THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS simhash
       |  FROM h),
       |blk AS (
       |  SELECT doc_id, simhash, g.blk, ((simhash >> (g.blk*15)) & 32767) AS key
       |  FROM f, generate_series(0, 3) g(blk)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
       |    a.simhash AS sa, b.simhash AS sb
       |  FROM blk a JOIN blk b
       |    ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT ida, idb, CAST(bit_count(xor(sa, sb)) AS INT) AS dist
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin
  }

  /** Embedding near-dup, bucketed: IVF-cell multi-assignment candidate
    * generation + exact cosine verify inside candidates only — linear
    * candidate growth, no corpus broadcast. The brute-force all-pairs
    * variant (Dedup.embeddingNearDupPairs) stays as the spec-side
    * recall baseline. */
  private def p05(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfNearDupPairs(Tables.df(spark, dir, "embeddings"),
      "vec_id", "embedding", NearDupCos, IvfCells, IvfProbe)

  private val p05Sql =
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings
       |       WHERE list_reduce(list_transform(generate_series(1, len(embedding)), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y) > 0),
       |cent AS (
       |  SELECT vec_id AS list_id, embedding AS centroid FROM v
       |  ORDER BY ${hash32Sql("CAST(vec_id AS VARCHAR)")}, vec_id
       |  LIMIT $IvfCells),
       |assigned AS (
       |  SELECT list_id, vec_id, embedding FROM (
       |    SELECT c.list_id, v.vec_id, v.embedding,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosSql("v.embedding", "c.centroid")} DESC, c.list_id) AS r
       |    FROM v, cent c)
       |  WHERE r <= $IvfProbe),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
       |  FROM assigned a JOIN assigned b
       |    ON a.list_id = b.list_id AND a.vec_id < b.vec_id)
       |SELECT c.ida, c.idb
       |FROM cand c
       |JOIN v va ON va.vec_id = c.ida
       |JOIN v vb ON vb.vec_id = c.idb
       |WHERE ${cosSql("va.embedding", "vb.embedding")} > $NearDupCos""".stripMargin

  /** Near-dup clusters: connected components over df-capped
    * exact-verified Jaccard pair edges (one keeper = min doc_id per
    * component). The df cap keeps candidate generation linear in corpus
    * size; the oracle replays the capped pair query and closes it
    * transitively with a recursive CTE — feasible at oracle scale,
    * while the Spark side runs checkpointed min-label propagation with
    * pointer doubling (Clusters.connectedComponents) that holds at 10^9
    * edges. */
  private def p13(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Clusters.connectedComponents(
      Dedup.ngramJaccardPairs(Tables.df(spark, dir, "documents"),
        "doc_id", "text", ShingleN, JaccardNum, JaccardDen,
        maxDocFreq = Some(JaccardMaxDf)))

  private val p13Sql =
    s"""WITH RECURSIVE
       |${cappedPairsCtes("documents", JaccardMaxDf)},
       |und AS (SELECT ida AS u, idb AS v FROM pairs
       |        UNION SELECT idb, ida FROM pairs),
       |reach AS (
       |  SELECT u, v FROM und
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u
       |  WHERE r.u != e.v)
       |SELECT n.u AS doc_id, least(n.u, MIN(r.v)) AS cluster_id
       |FROM (SELECT DISTINCT u FROM und) n
       |JOIN reach r ON r.u = n.u
       |GROUP BY n.u""".stripMargin

  // ---- similarity search --------------------------------------------------

  private def p06(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.df(spark, dir, "embeddings")
    Similarity.bruteForceTopK(v.filter(col("vec_id") % 50 === 0), v,
        "vec_id", "embedding", TopK)
      .withColumnRenamed("rank", "rnk")
  }

  private val p06Sql =
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings
       |       WHERE list_reduce(list_transform(generate_series(1, len(embedding)), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y) > 0),
       |q AS (SELECT * FROM v WHERE vec_id % 50 = 0),
       |s AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM q JOIN v c ON q.vec_id != c.vec_id),
       |r AS (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM s)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id
       |FROM r WHERE rnk <= $TopK""".stripMargin

  /** LSH ANN, oracle-gated: the ±1 hyperplanes are deterministic Scala
    * literals (Similarity.hyperplanes), so the oracle embeds them as
    * DuckDB list literals exactly as p03Sql embeds the minhash params —
    * sketch bits, band keys, candidate join, and exact re-rank all
    * mirror bit-for-bit (sequential double folds both sides).
    * PipelineSpec additionally pins recall ≥ 0.6 vs the exact top-k. */
  private def p07(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.df(spark, dir, "embeddings")
    Similarity.lshTopK(v.filter(col("vec_id") % 50 === 0), v,
        "vec_id", "embedding", TopK)
      .withColumnRenamed("rank", "rnk")
  }

  private val p07Sql = {
    val bands = 16; val bitsPerBand = 4; val dim = 64
    val planes = Similarity.hyperplanes(bands * bitsPerBand, dim)
    def planeLit(p: Seq[Double]): String =
      p.map(x => if (x > 0) "1.0" else "-1.0").mkString("([", ",", "])")
    def keyExpr(vec: String, b: Int): String =
      (0 until bitsPerBand).map { i =>
        val d = dotSql(vec, planeLit(planes(b * bitsPerBand + i)))
        s"(CASE WHEN $d >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    def keyed(idAs: String, where: String): String =
      (0 until bands).map { b =>
        s"  SELECT vec_id AS $idAs, $b AS band, ${keyExpr("embedding", b)} AS key FROM v$where"
      }.mkString("\nUNION ALL\n")
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings
       |       WHERE list_reduce(list_transform(generate_series(1, len(embedding)), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y) > 0),
       |qk AS (
       |${keyed("query_id", " WHERE vec_id % 50 = 0")}),
       |ck AS (
       |${keyed("neighbor_id", "")}),
       |cand AS (
       |  SELECT DISTINCT q.query_id, c.neighbor_id
       |  FROM qk q JOIN ck c ON q.band = c.band AND q.key = c.key
       |  WHERE q.query_id != c.neighbor_id),
       |sc AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |    ${cosSql("vq.embedding", "vc.embedding")} AS cos
       |  FROM cand cd
       |  JOIN v vq ON vq.vec_id = cd.query_id
       |  JOIN v vc ON vc.vec_id = cd.neighbor_id),
       |res AS (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM sc)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id
       |FROM res WHERE rnk <= $TopK""".stripMargin
  }

  /** IVF ANN, oracle-gated: centroid seeding (fixed-K top-K-by-hash —
    * a TakeOrderedAndProject, no count() action and no global window
    * anywhere in the plan), cell assignment, probe selection, and
    * re-rank are all deterministic (bit-exact cosines, id tie-breaks),
    * so even the approximate result is exactly reproducible in SQL. */
  private def p14(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.df(spark, dir, "embeddings")
    Similarity.ivfTopK(v.filter(col("vec_id") % 50 === 0), v,
        "vec_id", "embedding", TopK, nCells = IvfCells, nProbe = IvfProbe)
      .withColumnRenamed("rank", "rnk")
  }

  private val p14Sql =
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings
       |       WHERE list_reduce(list_transform(generate_series(1, len(embedding)), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y) > 0),
       |cent AS (
       |  SELECT vec_id AS list_id, embedding AS centroid FROM v
       |  ORDER BY ${hash32Sql("CAST(vec_id AS VARCHAR)")}, vec_id
       |  LIMIT $IvfCells),
       |assigned AS (
       |  SELECT list_id, vec_id, embedding FROM (
       |    SELECT c.list_id, v.vec_id, v.embedding,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosSql("v.embedding", "c.centroid")} DESC, c.list_id) AS r
       |    FROM v, cent c)
       |  WHERE r = 1),
       |probes AS (
       |  SELECT query_id, qv, list_id FROM (
       |    SELECT q.vec_id AS query_id, q.embedding AS qv, c.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosSql("q.embedding", "c.centroid")} DESC, c.list_id) AS r
       |    FROM v q, cent c WHERE q.vec_id % 50 = 0)
       |  WHERE r <= $IvfProbe),
       |res AS (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM (
       |    SELECT p.query_id, a.vec_id AS neighbor_id,
       |      ${cosSql("p.qv", "a.embedding")} AS cos
       |    FROM probes p JOIN assigned a USING (list_id)
       |    WHERE p.query_id != a.vec_id))
       |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id
       |FROM res WHERE rnk <= $TopK""".stripMargin

  // ---- text analysis ------------------------------------------------------

  private def p08(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    val toks = TextFns.tokens(TextFns.normText(col("text")))
    val scored = docs.select(col("doc_id"), col("lang"), toks.as("toks"))
      .select(Seq(col("doc_id"), col("lang")) ++
        TextFns.LangProfiles.map { case (l, words) =>
          TextFns.stopwordHits(col("toks"), words).as(s"s_$l")
        }: _*)
    val langs = TextFns.LangProfiles.map(_._1)
    val pred = langs.init.foldRight(lit(langs.last)) { (l, rest) =>
      val beats = langs.filter(_ != l)
        .map(o => col(s"s_$l") >= col(s"s_$o")).reduce(_ && _)
      when(beats, lit(l)).otherwise(rest)
    }
    scored.select(col("doc_id"), col("lang"), pred.as("lang_pred"))
  }

  private val p08Sql = {
    val toks = toksSql(normSql("text"))
    val scoreCols = TextFns.LangProfiles.map { case (l, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(toks, tk -> list_contains($list, tk))) AS s_$l"
    }.mkString(",\n    ")
    val langs = TextFns.LangProfiles.map(_._1)
    val cases = langs.init.map { l =>
      val beats = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $beats THEN '$l'"
    }.mkString("\n    ")
    s"""WITH t AS (SELECT doc_id, lang, $toks AS toks FROM documents),
       |sc AS (SELECT doc_id, lang,
       |    $scoreCols
       |  FROM t)
       |SELECT doc_id, lang,
       |  CASE $cases
       |    ELSE '${langs.last}' END AS lang_pred
       |FROM sc""".stripMargin
  }

  /** The p09 quality-score frame, the ONE definition of the heuristic —
    * p09 gates it directly and p43 composes on it with `extra`
    * passthrough columns (so budget selection never re-scans documents
    * to re-attach its group column). */
  private def qualityFrame(docs: DataFrame,
      extra: Seq[String] = Nil): DataFrame = {
    val toks = TextFns.tokens(TextFns.normText(col("text")))
    val en = TextFns.LangProfiles.head._2
    val keep = extra.map(col)
    docs.select(Seq(col("doc_id")) ++ keep ++ Seq(
        length(col("text")).as("n_chars_raw"), toks.as("toks"),
        length(regexp_replace(col("text"), "[^.!?,;:]", "")).as("punct_chars")): _*)
      .select(Seq(col("doc_id")) ++ keep ++ Seq(col("n_chars_raw"),
        size(col("toks")).as("n_tokens"),
        TextFns.stopwordHits(col("toks"), en).as("stop_hits"),
        col("punct_chars")): _*)
      .select(Seq(col("doc_id")) ++ keep ++ Seq(col("n_chars_raw"),
        col("n_tokens"), col("stop_hits"), col("punct_chars"),
        // zero-token docs (empty/whitespace/punctuation-only) score 0
        // outright: the ratio terms are 0/0 there, and ANSI mode would
        // kill the whole job on one such row (n_tokens > 0 implies
        // n_chars_raw > 0, so one guard covers both divisions)
        when(col("n_tokens") === 0, lit(0.0)).otherwise(
          lit(0.5) * least(lit(1.0), col("n_tokens").cast("double") / 100.0)
          + lit(0.3) * (col("stop_hits").cast("double") / col("n_tokens"))
          + lit(0.2) * (lit(1.0) - col("punct_chars").cast("double") / col("n_chars_raw")))
          .as("quality")): _*)
  }

  private def p09(spark: SparkSession, dir: String): DataFrame =
    qualityFrame(Tables.df(spark, dir, "documents"))

  /** The p09 score CTE chain (t → m → q) — the one SQL definition,
    * spliced by p09Sql and p43Sql. `extraDef` defines passthrough
    * columns in the first CTE (", source AS grp"), `extraRef` carries
    * them through the rest (", grp"). */
  private def qualityCtes(extraDef: String = "",
      extraRef: String = ""): String = {
    val toks = toksSql(normSql("text"))
    val en = TextFns.LangProfiles.head._2.map(w => s"'$w'").mkString("[", ",", "]")
    s"""t AS (
       |  SELECT doc_id$extraDef, CAST(length(text) AS INT) AS n_chars_raw,
       |    $toks AS toks,
       |    CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS INT) AS punct_chars
       |  FROM documents),
       |m AS (
       |  SELECT doc_id$extraRef, n_chars_raw,
       |    CAST(len(toks) AS INT) AS n_tokens,
       |    CAST(len(list_filter(toks, tk -> list_contains($en, tk))) AS INT) AS stop_hits,
       |    punct_chars
       |  FROM t),
       |q AS (
       |  SELECT doc_id$extraRef, n_chars_raw, n_tokens, stop_hits, punct_chars,
       |    CASE WHEN n_tokens = 0 THEN CAST(0 AS DOUBLE) ELSE
       |      0.5 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
       |      + 0.3 * (CAST(stop_hits AS DOUBLE) / n_tokens)
       |      + 0.2 * (1.0 - CAST(punct_chars AS DOUBLE) / n_chars_raw)
       |    END AS quality
       |  FROM m)""".stripMargin
  }

  private val p09Sql =
    s"""WITH ${qualityCtes()}
       |SELECT doc_id, n_chars_raw, n_tokens, stop_hits, punct_chars, quality
       |FROM q""".stripMargin

  // token-budget curation: per-source budget for p43's selection cut.
  // 500 BINDS at every gated SF (measured per-source token mass: ~155
  // at sf0.001, ~1.5k at sf0.01, ~14k at sf0.1) — a budget the corpus
  // never reaches would leave the drop branch dead in the oracle gate.
  private val BudgetTokens = 500L

  /** Token-budget curation (operators/Corpus.tokenBudgetSelect): rank
    * each source's docs by the p09 quality score (total order via the
    * id tie-break) and keep the prefix whose running token total fits
    * the budget — the "best N tokens per domain" selection step. One
    * documents scan: the group column rides through [[qualityFrame]]. */
  private def p43(spark: SparkSession, dir: String): DataFrame = {
    val scored = qualityFrame(Tables.df(spark, dir, "documents"),
        extra = Seq("source"))
      .select(col("doc_id"), col("source").as("grp"),
        col("n_tokens"), col("quality"))
    graft.operators.Corpus.tokenBudgetSelect(
        scored, "doc_id", "grp", "n_tokens", "quality", BudgetTokens)
      .select(col("doc_id"), col("grp"), col("n_tokens").cast("long").as("n_tokens"),
        col("quality"), col("cum_tokens"), col("kept"))
  }

  private val p43Sql =
    s"""WITH ${qualityCtes(", source AS grp", ", grp")}
       |SELECT doc_id, grp, CAST(n_tokens AS BIGINT) AS n_tokens, quality,
       |  CAST(SUM(n_tokens) OVER (PARTITION BY grp
       |    ORDER BY quality DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
       |  SUM(n_tokens) OVER (PARTITION BY grp
       |    ORDER BY quality DESC, doc_id
       |    ROWS UNBOUNDED PRECEDING) <= $BudgetTokens AS kept
       |FROM q""".stripMargin

  // p43b bin count: coarse enough that the boundary bin really differs
  // from the exact cut at the gated SFs (the approximation contract has
  // a visible gap to pin), fine enough that kept mass lands close
  private val BudgetBins = 64

  /** Histogram-cutoff token budget (operators/Corpus
    * .tokenBudgetHistogram) — p43's selection recomputed the way a
    * 100 TB run must: no per-doc window, per-group state bounded by
    * the bin count. Same one-scan scoring frame as p43; the oracle
    * reproduces the bin arithmetic token-for-token, so the gate proves
    * the approximate path's EXACT semantics (which docs each bin holds
    * and where the cutoff lands), not just its aggregate mass. */
  private def p43b(spark: SparkSession, dir: String): DataFrame = {
    val scored = qualityFrame(Tables.df(spark, dir, "documents"),
        extra = Seq("source"))
      .select(col("doc_id"), col("source").as("grp"),
        col("n_tokens"), col("quality"))
    graft.operators.Corpus.tokenBudgetHistogram(
        scored, "doc_id", "grp", "n_tokens", "quality", BudgetTokens,
        bins = BudgetBins)
      .select(col("doc_id"), col("grp"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("quality"), col("score_bin"), col("kept"))
  }

  private val p43bSql =
    s"""WITH ${qualityCtes(", source AS grp", ", grp")},
       |rng AS (
       |  SELECT grp, min(quality) AS smin, max(quality) AS smax
       |  FROM q GROUP BY grp),
       |b AS (
       |  SELECT q.doc_id, q.grp, CAST(q.n_tokens AS BIGINT) AS n_tokens,
       |    q.quality,
       |    CASE WHEN r.smax > r.smin THEN CAST(least(floor(
       |        (q.quality - r.smin) / (r.smax - r.smin) * $BudgetBins),
       |        ${BudgetBins - 1}) AS INT)
       |      ELSE 0 END AS score_bin
       |  FROM q JOIN rng r ON q.grp = r.grp),
       |h AS (
       |  SELECT grp, score_bin, SUM(n_tokens) AS btoks
       |  FROM b GROUP BY grp, score_bin),
       |c AS (
       |  SELECT grp, score_bin, SUM(btoks) OVER (PARTITION BY grp
       |    ORDER BY score_bin DESC ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM h),
       |cut AS (
       |  SELECT grp, MAX(score_bin) AS cutbin
       |  FROM c WHERE cum > $BudgetTokens GROUP BY grp)
       |SELECT b.doc_id, b.grp, b.n_tokens, b.quality, b.score_bin,
       |  (cut.cutbin IS NULL OR b.score_bin > cut.cutbin) AS kept
       |FROM b LEFT JOIN cut ON b.grp = cut.grp""".stripMargin

  private def p10(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    docs.select(col("doc_id"),
      size(TextFns.tokens(col("text"))).as("ws_tokens"),
      size(regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("sub_tokens"))
  }

  private val p10Sql =
    s"""SELECT doc_id,
       |  CAST(len(list_filter(string_split_regex(text, '\\s+'), tk -> length(tk) > 0)) AS INT) AS ws_tokens,
       |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS sub_tokens
       |FROM documents""".stripMargin

  private def p11(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    // normalized text and its token array are materialized attributes
    // before the shingle window slices them — the wordShingles CSE
    // trap (O(tokens²) re-tokenize per row when the window slices an
    // inline expression; see Ingest.triage)
    docs.select(col("doc_id"), TextFns.normText(col("text")).as("normed"))
      .select(col("doc_id"), col("normed"),
        TextFns.tokens(col("normed")).as("toks"))
      .select(col("doc_id"),
        TextFns.hash60(col("normed")).as("fingerprint"),
        array_min(transform(TextFns.wordShingles(col("toks"), ShingleN),
          s => TextFns.hash32(s))).as("min_shingle_hash"))
  }

  private val p11Sql = {
    val sh = shinglesSql(toksSql(normSql("text")), ShingleN)
    s"""SELECT doc_id,
       |  ('0x' || substr(md5(${normSql("text")}), 1, 15))::BIGINT AS fingerprint,
       |  list_min(list_transform($sh, s -> ${hash32Sql("s")})) AS min_shingle_hash
       |FROM documents""".stripMargin
  }

  /** End-to-end corpus curation — the composed training-data pipeline:
    * quality-score every doc, drop low quality, cluster near-dups among
    * survivors, keep one doc per cluster (min id) plus all unclustered
    * docs, then report the surviving corpus per source. Exercises the
    * full operator chain in one plan-DAG. */
  private def p15(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    val toks = TextFns.tokens(TextFns.normText(col("text")))
    val en = TextFns.LangProfiles.head._2
    val scored = docs
      .select(col("doc_id"), col("source"), col("text"),
        length(col("text")).as("n_chars_raw"), toks.as("toks"),
        length(regexp_replace(col("text"), "[^.!?,;:]", "")).as("punct_chars"))
      .select(col("doc_id"), col("source"), col("text"),
        size(col("toks")).as("n_tokens"),
        when(size(col("toks")) === 0, lit(0.0)).otherwise(
          lit(0.5) * least(lit(1.0), size(col("toks")).cast("double") / 100.0)
          + lit(0.3) * (TextFns.stopwordHits(col("toks"), en).cast("double")
            / size(col("toks")))
          + lit(0.2) * (lit(1.0) - col("punct_chars").cast("double")
            / col("n_chars_raw"))).as("quality"))
    val good = scored.filter(col("quality") >= 0.2).persist()
    val pairs = Dedup.ngramJaccardPairs(
      good.select(col("doc_id"), col("text")), "doc_id", "text",
      ShingleN, JaccardNum, JaccardDen, maxDocFreq = Some(JaccardMaxDf))
    val clusters = graft.operators.Clusters.connectedComponents(pairs)
    good.join(clusters, Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"))
  }

  private val p15Sql = {
    val toksS = toksSql(normSql("text"))
    val en = TextFns.LangProfiles.head._2.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH RECURSIVE
       |scored AS (
       |  SELECT doc_id, source, text,
       |    CAST(len($toksS) AS INT) AS n_tokens,
       |    CASE WHEN len($toksS) = 0 THEN CAST(0 AS DOUBLE) ELSE
       |      0.5 * least(1.0, CAST(len($toksS) AS DOUBLE) / 100.0)
       |      + 0.3 * (CAST(len(list_filter($toksS, tk -> list_contains($en, tk))) AS DOUBLE)
       |          / len($toksS))
       |      + 0.2 * (1.0 - CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE)
       |          / length(text))
       |    END AS quality
       |  FROM documents),
       |good AS (SELECT * FROM scored WHERE quality >= 0.2),
       |${cappedPairsCtes("good", JaccardMaxDf)},
       |und AS (SELECT ida AS u, idb AS v FROM pairs
       |        UNION SELECT idb, ida FROM pairs),
       |reach AS (
       |  SELECT u, v FROM und
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u
       |  WHERE r.u != e.v),
       |cc AS (
       |  SELECT n.u AS doc_id, least(n.u, MIN(r.v)) AS cluster_id
       |  FROM (SELECT DISTINCT u FROM und) n
       |  JOIN reach r ON r.u = n.u
       |  GROUP BY n.u)
       |SELECT g.source, COUNT(*) AS n_docs,
       |  CAST(SUM(g.n_tokens) AS BIGINT) AS total_tokens
       |FROM good g LEFT JOIN cc ON cc.doc_id = g.doc_id
       |WHERE cc.cluster_id IS NULL OR cc.cluster_id = g.doc_id
       |GROUP BY g.source""".stripMargin
  }

  /** Gopher-style lexical quality rules (Rae et al. 2021, §A1.1 —
    * published filter heuristics): word-count bounds, mean-word-length
    * bounds, symbol-to-word ratio, fraction of words with an alphabetic
    * character, minimum stopword hits. Per-doc booleans + overall pass,
    * aggregated per source. All integer/length arithmetic. */
  private def p16(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    val toks = TextFns.tokens(col("text"))
    val en = TextFns.LangProfiles.head._2
    // zero-token docs: every ratio is NULL (0/0 otherwise — ANSI mode
    // would kill the job; NULL also sidesteps DuckDB's NaN-sorts-high
    // comparison semantics), so all range rules fail for them
    def ratio(c: org.apache.spark.sql.Column) =
      when(size(col("toks")) > 0, c / size(col("toks")))
    val d = docs.select(col("doc_id"), col("source"), toks.as("toks"))
      .select(col("doc_id"), col("source"),
        size(col("toks")).as("n_words"),
        ratio(aggregate(transform(col("toks"), t => length(t)),
          lit(0), (acc, x) => acc + x).cast("double")).as("mean_word_len"),
        ratio(size(filter(col("toks"), t => t.rlike("[#…]")))
          .cast("double")).as("symbol_ratio"),
        ratio(size(filter(col("toks"), t => t.rlike("[a-zA-Z]")))
          .cast("double")).as("alpha_frac"),
        TextFns.stopwordHits(transform(col("toks"), t => lower(t)), en)
          .as("stop_hits"))
    val pass = col("n_words") >= 5 && col("n_words") <= 100000 &&
      col("mean_word_len") >= 2.0 && col("mean_word_len") <= 10.0 &&
      col("symbol_ratio") <= 0.1 && col("alpha_frac") >= 0.8 &&
      col("stop_hits") >= 1
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("n_words") >= 5 && col("n_words") <= 100000, 1))
          .as("ok_words"),
        count(when(col("mean_word_len") >= 2.0 && col("mean_word_len") <= 10.0, 1))
          .as("ok_word_len"),
        count(when(col("alpha_frac") >= 0.8, 1)).as("ok_alpha"),
        count(when(col("stop_hits") >= 1, 1)).as("ok_stop"),
        count(when(pass, 1)).as("n_pass"))
  }

  private val p16Sql = {
    val toksS = toksSql("text")
    val en = TextFns.LangProfiles.head._2.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(len($toksS) AS INT) AS n_words,
       |    CASE WHEN len($toksS) = 0 THEN NULL ELSE
       |      CAST(list_sum(list_transform($toksS, t -> length(t))) AS DOUBLE)
       |        / len($toksS) END AS mean_word_len,
       |    CASE WHEN len($toksS) = 0 THEN NULL ELSE
       |      CAST(len(list_filter($toksS, t -> regexp_matches(t, '[#…]'))) AS DOUBLE)
       |        / len($toksS) END AS symbol_ratio,
       |    CASE WHEN len($toksS) = 0 THEN NULL ELSE
       |      CAST(len(list_filter($toksS, t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE)
       |        / len($toksS) END AS alpha_frac,
       |    CAST(len(list_filter(list_transform($toksS, t -> lower(t)),
       |      tk -> list_contains($en, tk))) AS INT) AS stop_hits
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_docs,
       |  COUNT(*) FILTER (WHERE n_words BETWEEN 5 AND 100000) AS ok_words,
       |  COUNT(*) FILTER (WHERE mean_word_len BETWEEN 2.0 AND 10.0) AS ok_word_len,
       |  COUNT(*) FILTER (WHERE alpha_frac >= 0.8) AS ok_alpha,
       |  COUNT(*) FILTER (WHERE stop_hits >= 1) AS ok_stop,
       |  COUNT(*) FILTER (WHERE n_words BETWEEN 5 AND 100000
       |    AND mean_word_len BETWEEN 2.0 AND 10.0 AND symbol_ratio <= 0.1
       |    AND alpha_frac >= 0.8 AND stop_hits >= 1) AS n_pass
       |FROM d GROUP BY source""".stripMargin
  }

  /** Repetition scoring (the other Gopher family): fraction of all
    * word-bigram occurrences taken by the single most frequent bigram —
    * high values flag template/boilerplate docs. Inverted-index shape
    * (explode + count + max), shuffles on (doc, bigram). */
  private def p17(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    val toks = TextFns.tokens(TextFns.normText(col("text")))
    val bigrams = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        // docs with < 2 tokens have no bigrams and drop out here —
        // unguarded, element_at(toks, i+2) is an ANSI out-of-bounds
        // ERROR on 0/1-token docs (one empty doc kills the job)
        when(size(col("toks")) >= 2,
          transform(sequence(lit(0), size(col("toks")) - 2),
            i => concat_ws(" ", element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2))))
          .otherwise(array().cast("array<string>")).as("bigrams"))
      .select(col("doc_id"), explode(col("bigrams")).as("bg"))
    bigrams.groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("cnt")).as("top_bigram_cnt"),
        sum(col("cnt")).cast("long").as("n_bigrams"))
      .select(col("doc_id"), col("top_bigram_cnt"), col("n_bigrams"),
        (col("top_bigram_cnt").cast("double") / col("n_bigrams"))
          .as("top_bigram_frac"))
  }

  private val p17Sql = {
    val toksS = toksSql(normSql("text"))
    s"""WITH t AS (SELECT doc_id, $toksS AS toks FROM documents),
       |bg AS (
       |  SELECT doc_id,
       |    unnest(CASE WHEN len(toks) >= 2 THEN
       |      list_transform(generate_series(0, len(toks)-2),
       |        i -> concat_ws(' ', toks[i+1], toks[i+2]))
       |      ELSE [] END) AS bg
       |  FROM t),
       |cnts AS (
       |  SELECT doc_id, bg, COUNT(*) AS cnt FROM bg GROUP BY 1, 2)
       |SELECT doc_id, MAX(cnt) AS top_bigram_cnt,
       |  CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
       |  CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_bigram_frac
       |FROM cnts GROUP BY doc_id""".stripMargin
  }

  /** Deterministic stratified sampling: keep a doc iff
    * md5-hash32(doc_id) mod 100 < pct — reproducible across runs,
    * engines, and cluster sizes (no rand(), no per-partition state),
    * the property a training-data pipeline needs for resumable /
    * auditable corpus subsets. Reported per source stratum. */
  private def p18(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    val keep = TextFns.hash32(col("doc_id").cast("string")) % 100 < 20
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(keep, 1)).as("n_sampled"))
  }

  private val p18Sql =
    s"""SELECT source, COUNT(*) AS n_docs,
       |  COUNT(*) FILTER (WHERE
       |    ${hash32Sql("CAST(doc_id AS VARCHAR)")} % 100 < 20) AS n_sampled
       |FROM documents GROUP BY source""".stripMargin

  /** Chunk-level boilerplate removal (operators/Dedup.chunkDedup): drop
    * 5-token chunks occurring in more than ChunkMaxDf docs, reassemble,
    * and hash the surviving text so reassembly order is verified. */
  private def p23(spark: SparkSession, dir: String): DataFrame =
    Dedup.chunkDedup(Tables.df(spark, dir, "documents"), "doc_id", "text",
      ChunkW, ChunkMaxDf)

  private val p23Sql = {
    val toks = toksSql(normSql("text"))
    val w = ChunkW
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |px AS (
       |  SELECT doc_id, toks,
       |    unnest(generate_series(0,
       |      greatest(CAST(ceil(len(toks) / $w.0) AS INT) - 1, 0))) AS pos
       |  FROM t),
       |ch AS (
       |  SELECT doc_id, pos,
       |    -- COALESCE: DuckDB's array_to_string([]) is NULL where
       |    -- Spark's array_join([]) is '' — a zero-token doc must
       |    -- yield the same single empty chunk in both engines
       |    COALESCE(array_to_string(toks[pos*$w+1 : pos*$w+$w], ' '), '')
       |      AS chunk
       |  FROM px),
       |b AS (SELECT chunk FROM ch GROUP BY chunk
       |      HAVING COUNT(DISTINCT doc_id) > $ChunkMaxDf),
       |f AS (SELECT ch.doc_id, ch.pos, ch.chunk, (b.chunk IS NOT NULL) AS boiler
       |      FROM ch LEFT JOIN b ON ch.chunk = b.chunk)
       |SELECT doc_id, COUNT(*) AS n_chunks,
       |  COUNT(*) FILTER (WHERE boiler) AS n_removed,
       |  CAST(COALESCE(SUM(CASE WHEN length(chunk) = 0 THEN 0
       |    ELSE len(string_split(chunk, ' ')) END) FILTER (WHERE NOT boiler),
       |    0) AS BIGINT) AS tokens_kept,
       |  md5(COALESCE(string_agg(chunk, ' ' ORDER BY pos)
       |    FILTER (WHERE NOT boiler), '')) AS kept_text_hash
       |FROM f GROUP BY doc_id""".stripMargin
  }

  /** Sequence-level (variable-length) dedup: maximal repeated token
    * spans ≥ SeqW via seed-gram detection + per-doc run merge
    * (operators/Dedup.repeatedSpanDedup — the suffix-array-style dedup
    * of Lee et al. 2022 in distributed form), reassembly hash-verified
    * like p23. */
  private def p42(spark: SparkSession, dir: String): DataFrame =
    Dedup.repeatedSpanDedup(Tables.df(spark, dir, "documents"),
      "doc_id", "text", SeqW)

  private val p42Sql = {
    val toks = toksSql(normSql("text"))
    val w = SeqW
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |g0 AS (
       |  SELECT doc_id, toks,
       |    unnest(generate_series(0, len(toks) - $w)) AS pos
       |  FROM t WHERE len(toks) >= $w),
       |g AS (
       |  SELECT doc_id, pos,
       |    ('0x' || substr(md5(array_to_string(toks[pos+1 : pos+$w], ' ')),
       |      1, 15))::BIGINT AS s
       |  FROM g0),
       |d AS (SELECT s FROM g GROUP BY s HAVING COUNT(*) >= 2),
       |sd AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (s)),
       |r AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER w IS NULL
       |           OR pos - lag(pos) OVER w > $w THEN 1 ELSE 0 END AS nr
       |  FROM sd WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |rid AS (
       |  SELECT doc_id, pos, SUM(nr) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS UNBOUNDED PRECEDING) AS run_id
       |  FROM r),
       |runs AS (
       |  SELECT doc_id, run_id, MIN(pos) AS rs, MAX(pos) + $w - 1 AS re
       |  FROM rid GROUP BY 1, 2),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_runs, SUM(re - rs + 1) AS covered,
       |    MAX(re - rs + 1) AS maxrun
       |  FROM runs GROUP BY 1),
       |tok AS (
       |  SELECT doc_id, toks,
       |    unnest(generate_series(0, len(toks) - 1)) AS i
       |  FROM t WHERE len(toks) > 0),
       |keep AS (
       |  SELECT tok.doc_id, tok.i, tok.toks[tok.i + 1] AS tk
       |  FROM tok LEFT JOIN runs ON tok.doc_id = runs.doc_id
       |    AND tok.i BETWEEN runs.rs AND runs.re
       |  WHERE runs.rs IS NULL),
       |kt AS (
       |  SELECT doc_id, string_agg(tk, ' ' ORDER BY i) AS kept
       |  FROM keep GROUP BY 1)
       |SELECT t.doc_id,
       |  CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |  CAST(COALESCE(agg.covered, 0) AS BIGINT) AS covered_tokens,
       |  CAST(COALESCE(agg.n_runs, 0) AS BIGINT) AS n_runs,
       |  CAST(COALESCE(agg.maxrun, 0) AS INT) AS max_run_len,
       |  md5(COALESCE(kt.kept, '')) AS kept_text_hash
       |FROM t
       |LEFT JOIN agg ON t.doc_id = agg.doc_id
       |LEFT JOIN kt ON t.doc_id = kt.doc_id""".stripMargin
  }

  /** Per-source token-length distribution audit: exact interpolated
    * quantiles from a value histogram (operators/Corpus.tokenQuantiles —
    * state bounded by distinct lengths, not rows). */
  private def p24(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.tokenQuantiles(
      Tables.df(spark, dir, "documents"), "source", "text")
      .withColumnRenamed("grp", "source")

  private val p24Sql = {
    val toks = toksSql(normSql("text"))
    val probs = Seq("p25" -> "0.25", "p50" -> "0.5", "p90" -> "0.9",
      "p99" -> "0.99")
    // CAST the prob literal to DOUBLE: DuckDB parses 0.9 as exact
    // DECIMAL and would interpolate in decimal arithmetic, diverging
    // from Spark's IEEE754 doubles at the last ulp. Cast first so both
    // engines run the identical double expression bit-for-bit.
    def idx(p: String, total: String) = s"CAST($p AS DOUBLE)*($total-1)"
    val los = probs.map { case (l, p) =>
      s"""    MIN(CASE WHEN cum >= floor(${idx(p, "total")})+1 THEN n END) AS lo_$l,
         |    MIN(CASE WHEN cum >= ceil(${idx(p, "total")})+1 THEN n END) AS hi_$l"""
        .stripMargin
    }.mkString(",\n")
    val qs = probs.map { case (l, p) =>
      s"""  CAST(lo_$l AS DOUBLE) + (${idx(p, "tt.total")} - floor(${idx(p, "tt.total")}))
         |    * CAST(hi_$l - lo_$l AS DOUBLE) AS $l""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (
       |  SELECT source AS grp, CAST(len($toks) AS INT) AS n FROM documents),
       |h AS (SELECT grp, n, COUNT(*) AS cnt FROM t GROUP BY 1, 2),
       |tt AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS total,
       |         MIN(n) AS min_tokens, MAX(n) AS max_tokens,
       |         CAST(SUM(n*cnt) AS BIGINT) AS sum_tokens
       |       FROM h GROUP BY 1),
       |c AS (SELECT h.grp, h.n, h.cnt, tt.total,
       |        SUM(h.cnt) OVER (PARTITION BY h.grp ORDER BY h.n
       |          ROWS UNBOUNDED PRECEDING) AS cum
       |      FROM h JOIN tt USING (grp)),
       |a AS (SELECT grp,
       |$los
       |  FROM c GROUP BY grp)
       |SELECT a.grp AS source, tt.total AS n_docs, tt.min_tokens,
       |  tt.max_tokens,
       |  CAST(tt.sum_tokens AS DOUBLE) / tt.total AS mean_tokens,
       |$qs
       |FROM a JOIN tt USING (grp)""".stripMargin
  }

  /** kNN label probe over the embedding column
    * (operators/Similarity.knnClassify): every 20th vector held out,
    * label predicted by 5-NN cosine majority vote, per-label accuracy. */
  private def p25(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.df(spark, dir, "embeddings")
    Similarity.knnClassify(
      embs.filter(col("vec_id") % KnnHoldMod === 0),
      embs.filter(col("vec_id") % KnnHoldMod =!= 0),
      "vec_id", "embedding", "label", TopK)
  }

  private val p25Sql =
    s"""WITH q AS (SELECT vec_id, embedding, label FROM embeddings
       |           WHERE vec_id % $KnnHoldMod = 0
       |           AND list_reduce(list_transform(generate_series(1, len(embedding)), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y) > 0),
       |c AS (SELECT vec_id, embedding, label FROM embeddings
       |      WHERE vec_id % $KnnHoldMod <> 0
       |      AND list_reduce(list_transform(generate_series(1, len(embedding)), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y) > 0),
       |p AS (
       |  SELECT q.vec_id AS query_id, q.label AS qlabel,
       |    c.vec_id AS neighbor_id, c.label AS nbr_label,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM q, c),
       |r AS (
       |  SELECT query_id, qlabel, nbr_label,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM p),
       |v AS (SELECT query_id, qlabel, nbr_label, COUNT(*) AS votes
       |      FROM r WHERE rnk <= $TopK GROUP BY 1, 2, 3),
       |pr AS (
       |  SELECT query_id, qlabel, nbr_label AS pred_label,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY votes DESC, nbr_label) AS vr
       |  FROM v)
       |SELECT qlabel AS label, COUNT(*) AS n_queries,
       |  COUNT(*) FILTER (WHERE pred_label = qlabel) AS n_correct,
       |  CAST(COUNT(*) FILTER (WHERE pred_label = qlabel) AS DOUBLE)
       |    / COUNT(*) AS accuracy
       |FROM pr WHERE vr = 1 GROUP BY qlabel""".stripMargin

  /** kNN label probe composed with the SCALE neighbor stage: identical
    * holdout split, vote, and rollup to p25, but neighbors come from
    * [[Similarity.ivfTopK]] — fixed-K deterministic centroids, corpus
    * shuffled once on list_id, O(K) broadcasts — instead of p25's
    * brute-force stage, whose `broadcast(queries)` dies when the
    * holdout is a corpus fraction (here |Q| = corpus/20). Centroid
    * seeding, assignment, probes, and re-rank are all deterministic
    * (id tie-breaks), so even this approximate composition is exactly
    * reproducible in SQL: the oracle splices p14's IVF CTEs (seeded
    * from the corpus side only) into p25's vote/rollup CTEs. */
  private def p25b(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.df(spark, dir, "embeddings")
    Similarity.knnClassify(
      embs.filter(col("vec_id") % KnnHoldMod === 0),
      embs.filter(col("vec_id") % KnnHoldMod =!= 0),
      "vec_id", "embedding", "label", TopK,
      neighbors = Similarity.ivfTopK(_, _, _, _, _, IvfCells, IvfProbe))
  }

  private val p25bSql =
    s"""WITH q AS (SELECT vec_id, embedding, label FROM embeddings
       |           WHERE vec_id % $KnnHoldMod = 0
       |           AND list_reduce(list_transform(generate_series(1, len(embedding)), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y) > 0),
       |c AS (SELECT vec_id, embedding, label FROM embeddings
       |      WHERE vec_id % $KnnHoldMod <> 0
       |      AND list_reduce(list_transform(generate_series(1, len(embedding)), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y) > 0),
       |cent AS (
       |  SELECT vec_id AS list_id, embedding AS centroid FROM c
       |  ORDER BY ${hash32Sql("CAST(vec_id AS VARCHAR)")}, vec_id
       |  LIMIT $IvfCells),
       |assigned AS (
       |  SELECT list_id, vec_id, embedding, label FROM (
       |    SELECT ct.list_id, c.vec_id, c.embedding, c.label,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
       |        ORDER BY ${cosSql("c.embedding", "ct.centroid")} DESC, ct.list_id) AS r
       |    FROM c, cent ct)
       |  WHERE r = 1),
       |probes AS (
       |  SELECT query_id, qv, qlabel, list_id FROM (
       |    SELECT q.vec_id AS query_id, q.embedding AS qv,
       |      q.label AS qlabel, ct.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosSql("q.embedding", "ct.centroid")} DESC, ct.list_id) AS r
       |    FROM q, cent ct)
       |  WHERE r <= $IvfProbe),
       |res AS (
       |  SELECT query_id, qlabel, nbr_label,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM (
       |    SELECT p.query_id, p.qlabel, a.vec_id AS neighbor_id,
       |      a.label AS nbr_label,
       |      ${cosSql("p.qv", "a.embedding")} AS cos
       |    FROM probes p JOIN assigned a USING (list_id)
       |    WHERE p.query_id != a.vec_id)),
       |v AS (SELECT query_id, qlabel, nbr_label, COUNT(*) AS votes
       |      FROM res WHERE rnk <= $TopK GROUP BY 1, 2, 3),
       |pr AS (
       |  SELECT query_id, qlabel, nbr_label AS pred_label,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY votes DESC, nbr_label) AS vr
       |  FROM v)
       |SELECT qlabel AS label, COUNT(*) AS n_queries,
       |  COUNT(*) FILTER (WHERE pred_label = qlabel) AS n_correct,
       |  CAST(COUNT(*) FILTER (WHERE pred_label = qlabel) AS DOUBLE)
       |    / COUNT(*) AS accuracy
       |FROM pr WHERE vr = 1 GROUP BY qlabel""".stripMargin

  /** Distinct-token cardinality per source via the native KMV sketch
    * aggregate (expressions/KmvSketch — O(k) state, mergeable, exact
    * below k), with the true distinct count alongside so the estimate
    * quality is visible. The oracle replays the sketch definition
    * exactly: k smallest distinct hashes via ROW_NUMBER ≤ k. */
  private def p26(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    docs.select(col("source"),
        explode(TextFns.tokens(TextFns.normText(col("text")))).as("tok"))
      .select(col("source"), TextFns.hash60(col("tok")).as("h"))
      .groupBy(col("source"))
      .agg(call_function("graft_kmv", col("h"), lit(KmvK)).as("est_distinct"),
        count_distinct(col("h")).as("n_distinct_hash"))
  }

  private val p26Sql = {
    val toks = toksSql(normSql("text"))
    val hashSpace = s"${1L << 60}.0"
    s"""WITH tk AS (
       |  SELECT source,
       |    ('0x' || substr(md5(unnest($toks)), 1, 15))::BIGINT AS h
       |  FROM documents),
       |d AS (SELECT DISTINCT source, h FROM tk),
       |r AS (SELECT source, h,
       |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
       |      FROM d),
       |a AS (SELECT source, COUNT(*) AS nd,
       |        MAX(CASE WHEN rn = $KmvK THEN h END) AS hk
       |      FROM r GROUP BY source)
       |SELECT source,
       |  CASE WHEN nd < $KmvK THEN CAST(nd AS DOUBLE)
       |       ELSE CAST(${KmvK - 1} AS DOUBLE)
       |         / (CAST(hk AS DOUBLE) / $hashSpace) END AS est_distinct,
       |  nd AS n_distinct_hash
       |FROM a""".stripMargin
  }

  /** Temperature-flattened mixture sampling (Corpus.temperatureSample,
    * τ = 0.5): per-source keep probability √share normalized to the
    * largest source, docs kept by deterministic hash mod. */
  private def p27(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.temperatureSample(
      Tables.df(spark, dir, "documents"), "source", "doc_id", "text")
      .withColumnRenamed("grp", "source")
      .withColumnRenamed("grp_tokens", "source_tokens")

  private val p27Sql = {
    val toks = toksSql(normSql("text"))
    s"""WITH t AS (
       |  SELECT source AS grp, doc_id, CAST(len($toks) AS INT) AS n
       |  FROM documents),
       |per AS (SELECT grp, COUNT(*) AS n_docs,
       |          CAST(SUM(n) AS BIGINT) AS grp_tokens
       |        FROM t GROUP BY 1),
       |tot AS (SELECT CAST(SUM(grp_tokens) AS BIGINT) AS tot FROM per),
       |w AS (SELECT grp, n_docs, grp_tokens,
       |        CAST(grp_tokens AS DOUBLE) / tt.tot AS token_share,
       |        sqrt(CAST(grp_tokens AS DOUBLE) / tt.tot) AS w
       |      FROM per, tot tt),
       |wm AS (SELECT MAX(w) AS wmax FROM w),
       |probs AS (SELECT grp, n_docs, grp_tokens, token_share,
       |            w / wm.wmax AS p_keep FROM w, wm),
       |kept AS (
       |  SELECT t.grp, COUNT(*) AS n_kept
       |  FROM t JOIN probs USING (grp)
       |  WHERE ${hash32Sql("CAST(doc_id AS VARCHAR)")} % 1000000
       |    < CAST(FLOOR(p_keep * 1000000) AS BIGINT)
       |  GROUP BY 1)
       |SELECT p.grp AS source, p.n_docs, p.grp_tokens AS source_tokens,
       |  p.token_share, p.p_keep, COALESCE(k.n_kept, 0) AS n_kept
       |FROM probs p LEFT JOIN kept k USING (grp)""".stripMargin
  }

  /** Asymmetric containment near-dup (Dedup.containmentPairs): directed
    * (container, contained) pairs where ≥ 90% of the smaller doc's
    * shingles appear in the larger — the quote/subset duplication
    * symmetric Jaccard misses. Same df-capped hashed index as p02b. */
  private def p28(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.df(spark, dir, "documents"),
      "doc_id", "text", ShingleN, ContainNum, ContainDen, JaccardMaxDf)

  private val p28Sql = {
    val sh = shinglesSql(toksSql(normSql("text")), ShingleN)
    s"""WITH sh AS (SELECT doc_id, $sh AS shingles FROM documents),
       |${cappedIndexCtes(JaccardMaxDf)},
       |cnd AS (
       |  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
       |  FROM exf a JOIN exf b ON a.s = b.s AND a.doc_id < b.doc_id),
       |sc AS (
       |  SELECT c.ida, c.idb,
       |    len(list_intersect(sa.shingles, sb.shingles)) AS inter,
       |    len(sa.shingles) AS na, len(sb.shingles) AS nb
       |  FROM cnd c
       |  JOIN sh sa ON sa.doc_id = c.ida
       |  JOIN sh sb ON sb.doc_id = c.idb)
       |SELECT
       |  CASE WHEN na <= nb THEN idb ELSE ida END AS container_id,
       |  CASE WHEN na <= nb THEN ida ELSE idb END AS contained_id,
       |  CAST(inter AS INT) AS inter,
       |  CAST(CASE WHEN na <= nb THEN na ELSE nb END AS INT) AS contained_sz
       |FROM sc
       |WHERE inter * $ContainDen
       |  >= (CASE WHEN na <= nb THEN na ELSE nb END) * $ContainNum""".stripMargin
  }

  /** Full dataset-build pipeline — the second flagship DAG (p15 curates
    * by near-dup clustering; this one chains the OTHER families): exact
    * dedup keepers → benchmark decontamination against the held-out
    * doc_id%97 slice → token-count quality gate → per-source sequence
    * packing, with per-source accounting of every stage's drops. One
    * composed plan; the multi-consumer frames persist once each. */
  private def p29(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    val withHash = docs.select(col("doc_id"), col("source"), col("text"),
      md5(TextFns.normText(col("text"))).as("_h"))
    val keepers = withHash.groupBy(col("_h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val deduped = withHash.join(keepers, Seq("_h", "doc_id")).persist()
    val verdicts = graft.operators.Decontaminate.ngramOverlap(
      deduped.select(col("doc_id"), col("text")),
      docs.filter(col("doc_id") % 97 === 0).select(col("text")),
      "doc_id", "text", n = ShingleN, minHits = 3).persist()
    val q = deduped
      .join(verdicts.filter(!col("contaminated")).select("doc_id"), "doc_id")
      .withColumn("n_tokens",
        size(TextFns.tokens(TextFns.normText(col("text"))))).persist()
    val kept = q.filter(col("n_tokens") >= BuildMinTokens).persist()
    val windows = graft.operators.Corpus
      .packSequences(kept, "source", "doc_id", "text", PackBudget)
      .groupBy(col("grp").as("source")).agg(count(lit(1)).as("n_windows"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(deduped.groupBy(col("source"))
        .agg(count(lit(1)).as("_nd")), Seq("source"), "left")
      .join(deduped.join(verdicts.filter(col("contaminated"))
          .select("doc_id"), "doc_id")
        .groupBy(col("source")).agg(count(lit(1)).as("_nc")),
        Seq("source"), "left")
      .join(q.filter(col("n_tokens") < BuildMinTokens)
        .groupBy(col("source")).agg(count(lit(1)).as("_nq")),
        Seq("source"), "left")
      .join(kept.groupBy(col("source")).agg(count(lit(1)).as("_nk"),
        sum(col("n_tokens")).cast("long").as("_kt")), Seq("source"), "left")
      .join(windows, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        (col("n_docs") - coalesce(col("_nd"), lit(0L))).as("n_exact_dupes"),
        coalesce(col("_nc"), lit(0L)).as("n_contaminated"),
        coalesce(col("_nq"), lit(0L)).as("n_low_quality"),
        coalesce(col("_nk"), lit(0L)).as("n_kept"),
        coalesce(col("_kt"), lit(0L)).as("kept_tokens"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"))
  }

  private val p29Sql = {
    val toks = toksSql(normSql("text"))
    val sh = shinglesSql(toksSql(normSql("text")), ShingleN)
    s"""WITH h AS (
       |  SELECT doc_id, source, text, md5(${normSql("text")}) AS hh
       |  FROM documents),
       |keep AS (SELECT hh, MIN(doc_id) AS kid FROM h GROUP BY hh),
       |dd AS (SELECT h.doc_id, h.source, h.text
       |       FROM h JOIN keep ON h.hh = keep.hh AND h.doc_id = keep.kid),
       |ev AS (SELECT DISTINCT unnest($sh) AS s
       |       FROM documents WHERE doc_id % 97 = 0),
       |cg AS (SELECT doc_id, unnest($sh) AS s FROM dd),
       |hits AS (SELECT cg.doc_id, COUNT(DISTINCT cg.s) AS hh
       |         FROM cg JOIN ev USING (s) GROUP BY 1),
       |flag AS (SELECT dd.doc_id, dd.source, dd.text,
       |           COALESCE(hits.hh, 0) >= 3 AS contam
       |         FROM dd LEFT JOIN hits USING (doc_id)),
       |cl AS (SELECT doc_id, source, text,
       |         CAST(len($toks) AS INT) AS n_tokens
       |       FROM flag WHERE NOT contam),
       |kept AS (SELECT * FROM cl WHERE n_tokens >= $BuildMinTokens),
       |pk AS (
       |  SELECT source, n_tokens,
       |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS tokens_before
       |  FROM kept),
       |win AS (
       |  SELECT source, COUNT(DISTINCT CAST(FLOOR(
       |    CAST(tokens_before AS DOUBLE) / $PackBudget) AS BIGINT))
       |    AS n_windows
       |  FROM pk GROUP BY 1),
       |base AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
       |nd AS (SELECT source, COUNT(*) AS c FROM dd GROUP BY 1),
       |nc AS (SELECT source, COUNT(*) AS c FROM flag WHERE contam GROUP BY 1),
       |nq AS (SELECT source, COUNT(*) AS c FROM cl
       |       WHERE n_tokens < $BuildMinTokens GROUP BY 1),
       |nk AS (SELECT source, COUNT(*) AS c,
       |         CAST(SUM(n_tokens) AS BIGINT) AS kt FROM kept GROUP BY 1)
       |SELECT b.source, b.n_docs,
       |  b.n_docs - COALESCE(nd.c, 0) AS n_exact_dupes,
       |  COALESCE(nc.c, 0) AS n_contaminated,
       |  COALESCE(nq.c, 0) AS n_low_quality,
       |  COALESCE(nk.c, 0) AS n_kept,
       |  COALESCE(nk.kt, 0) AS kept_tokens,
       |  COALESCE(win.n_windows, 0) AS n_windows
       |FROM base b
       |LEFT JOIN nd USING (source) LEFT JOIN nc USING (source)
       |LEFT JOIN nq USING (source) LEFT JOIN nk USING (source)
       |LEFT JOIN win USING (source)""".stripMargin
  }

  /** Incremental ingest dedup (Dedup.incrementalNearDupPairs): the
    * doc_id%3==0 slice plays the new batch, the rest the existing
    * corpus; near-dups of new docs against old+new, old×old never
    * paired. */
  private def p30(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    Dedup.incrementalNearDupPairs(
      docs.filter(col("doc_id") % 3 =!= 0).select(col("doc_id"), col("text")),
      docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"), col("text")),
      "doc_id", "text", ShingleN, JaccardNum, JaccardDen, JaccardMaxDf)
  }

  private val p30Sql = {
    val sh = shinglesSql(toksSql(normSql("text")), ShingleN)
    s"""WITH sh AS (
       |  SELECT doc_id, $sh AS shingles, (doc_id % 3 = 0) AS is_new
       |  FROM documents),
       |${cappedIndexCtes(JaccardMaxDf, "is_new")},
       |cnd AS (
       |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS match_id,
       |    b.is_new AS match_is_new
       |  FROM exf a JOIN exf b ON a.s = b.s AND a.is_new
       |    AND (a.doc_id < b.doc_id OR NOT b.is_new)
       |    AND a.doc_id <> b.doc_id)
       |SELECT c.new_id, c.match_id,
       |  CAST(len(list_intersect(sa.shingles, sb.shingles)) AS INT) AS inter,
       |  CAST(len(sa.shingles) + len(sb.shingles)
       |    - len(list_intersect(sa.shingles, sb.shingles)) AS INT) AS union_sz,
       |  c.match_is_new
       |FROM cnd c
       |JOIN sh sa ON sa.doc_id = c.new_id
       |JOIN sh sb ON sb.doc_id = c.match_id
       |WHERE len(list_intersect(sa.shingles, sb.shingles)) * $JaccardDen >=
       |  (len(sa.shingles) + len(sb.shingles)
       |    - len(list_intersect(sa.shingles, sb.shingles))) * $JaccardNum""".stripMargin
  }

  // ---- multimodal ---------------------------------------------------------

  private def p12(spark: SparkSession, dir: String): DataFrame =
    Multimodal.featureSummary(Tables.df(spark, dir, "documents"))

  /** Byte-based like the Spark side (StubCodec sums UTF-8 payload
    * bytes and uses the byte length): octet_length(encode(text)) and a
    * hex-pair walk over the encoded blob — identical to Spark for
    * non-ASCII text too, making the cross-engine contract explicit. */
  private val p12Sql =
    """WITH feat AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      |    CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |    -- COALESCE: a zero-byte payload sums to 0 on the Spark side,
      |    -- but list_sum over DuckDB's empty series is NULL and would
      |    -- silently drop the item from MIN/MAX
      |    COALESCE(list_sum(list_transform(generate_series(1, octet_length(encode(text))),
      |      i -> ('0x' || substr(hex(encode(text)), 2*i-1, 2))::BIGINT)), 0)::BIGINT AS checksum
      |  FROM documents)
      |SELECT kind, COUNT(*) AS n_items,
      |  SUM(n_bytes)::BIGINT AS total_bytes,
      |  MIN(16 + (checksum % 64))::INT AS min_width,
      |  MAX(16 + ((checksum // 64) % 64))::INT AS max_height,
      |  SUM(checksum)::BIGINT AS checksum_sum
      |FROM feat GROUP BY kind ORDER BY kind""".stripMargin

  /** Benchmark decontamination over the documents table: docs whose id
    * is ≡0 mod 97 stand in for the eval suite; every other doc is
    * scored by distinct eval-n-gram overlap and flagged at ≥3 hits.
    * The eval-gram set broadcasts; the corpus is never shuffled by
    * gram (operators/Decontaminate scaladoc). */
  private def p19(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    graft.operators.Decontaminate.ngramOverlap(
      docs.filter(col("doc_id") % 97 =!= 0).select(col("doc_id"), col("text")),
      docs.filter(col("doc_id") % 97 === 0).select(col("text")),
      "doc_id", "text", n = ShingleN, minHits = 3)
  }

  private val p19Sql = {
    val sh = shinglesSql(toksSql(normSql("text")), ShingleN)
    s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0),
       |ev AS (SELECT DISTINCT unnest($sh) AS s
       |       FROM documents WHERE doc_id % 97 = 0),
       |cg AS (SELECT doc_id, unnest($sh) AS s FROM corpus),
       |hits AS (
       |  SELECT cg.doc_id, COUNT(DISTINCT cg.s) AS h
       |  FROM cg JOIN ev USING (s) GROUP BY 1)
       |SELECT c.doc_id,
       |  COALESCE(h.h, 0)::BIGINT AS eval_gram_hits,
       |  COALESCE(h.h, 0) >= 3 AS contaminated
       |FROM corpus c LEFT JOIN hits h USING (doc_id)""".stripMargin
  }

  /** Bloom-filter decontamination: same verdicts as p19 (the oracle IS
    * p19's — exactness is the point: the native Bloom sketch only
    * pre-filters; survivors exact-verify). */
  private def p34(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    graft.operators.Decontaminate.bloomNgramOverlap(
      docs.filter(col("doc_id") % 97 =!= 0).select(col("doc_id"), col("text")),
      docs.filter(col("doc_id") % 97 === 0).select(col("text")),
      "doc_id", "text", n = ShingleN, minHits = 3,
      estimatedGrams = 1L << 16) // ~1% of docs are eval side
  }

  /** Compression-ratio quality signal (deflate level 6). No DuckDB
    * oracle — SQL engines ship no deflate scalar — so the driver
    * records the weaker rows-only check; determinism and the
    * repetitive-compresses-better ordering are spec-pinned instead. */
  private def p35(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.compressionSignals(
      Tables.df(spark, dir, "documents"), "doc_id", "text")

  /** The SQL-expressible half of the compression signal, oracle-gated:
    * (doc_id, n_bytes) — the utf-8 byte length the ratio denominates —
    * against DuckDB octet_length(encode(text)). The deflate half
    * (n_compressed, ratio) is pinned by golden values in CorpusSpec
    * (DEFLATE level 6 over fixed input is deterministic; the goldens
    * were produced by an INDEPENDENT zlib — CPython's — so the gate is
    * cross-implementation, not self-referential). Together with p35's
    * rows-only check this closes the one ungated CORRECTNESS row. */
  private def p35b(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.compressionSignals(
      Tables.df(spark, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_bytes"))

  private val p35bSql =
    // coalesce mirrors compressionSignals' NULL-text→empty-bytes rule
    """SELECT doc_id,
      |  CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes
      |FROM documents""".stripMargin

  /** Cross-source duplication matrix — corpus governance: how many
    * near-dup pairs link each (unordered) source pair. Reuses the
    * df-capped pair machinery; sources attach to the (tiny) verified
    * pair list by id join, so the matrix costs two broadcast-sized
    * joins beyond p02b. Diagonal rows (sa = sb) are intra-source
    * duplication. */
  private def p37(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    val src = docs.select(col("doc_id"), col("source"))
    Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        ShingleN, JaccardNum, JaccardDen, maxDocFreq = Some(JaccardMaxDf))
      .join(src.select(col("doc_id").as("ida"), col("source").as("_sa")), "ida")
      .join(src.select(col("doc_id").as("idb"), col("source").as("_sb")), "idb")
      .select(least(col("_sa"), col("_sb")).as("sa"),
        greatest(col("_sa"), col("_sb")).as("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  private val p37Sql =
    s"""WITH ${cappedPairsCtes("documents", JaccardMaxDf)}
       |SELECT least(da.source, db.source) AS sa,
       |  greatest(da.source, db.source) AS sb,
       |  COUNT(*) AS n_pairs
       |FROM pairs p
       |JOIN documents da ON da.doc_id = p.ida
       |JOIN documents db ON db.doc_id = p.idb
       |GROUP BY 1, 2""".stripMargin

  /** Per-source embedding centroids in long format (source ⋈ vectors on
    * id, then exact-decimal per-dimension means — order-independent, so
    * bit-reproducible by the oracle). */
  private def p36(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.df(spark, dir, "embeddings")
    val d = Tables.df(spark, dir, "documents")
      .select(col("doc_id").as("vec_id"), col("source"))
    Similarity.dimensionMeans(
      e.join(broadcast(d), Seq("vec_id")), "source", "embedding")
      .withColumnRenamed("grp", "source")
  }

  private val p36Sql =
    s"""WITH j AS (
       |  SELECT d.source, e.embedding
       |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
       |x AS (
       |  SELECT source, t.i,
       |    -- integer picounits via double: identical op sequence to
       |    -- the Spark side (float->double, *1e12, round-away-from-
       |    -- zero, bigint). SUM(u) widens to HUGEINT here; Spark sums
       |    -- the longs into DECIMAL(38,0) — both exact integer sums,
       |    -- and both final casts to DOUBLE are correctly rounded
       |    CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1e12) AS BIGINT)
       |      AS u
       |  FROM j, (SELECT unnest(generate_series(1, $EmbDim)) AS i) t)
       |SELECT source, CAST(i AS INT) AS dim, COUNT(*) AS n_vecs,
       |  CAST(SUM(u) AS DOUBLE)
       |    / (CAST(COUNT(*) AS DOUBLE) * 1e12) AS mean_val
       |FROM x GROUP BY source, i""".stripMargin

  /** Text-level PII redaction (Corpus.piiRedact): emails → IPv4s →
    * phone-shaped digit runs, counted and replaced sequentially; the
    * oracle replays the identical regex cascade (patterns live in the
    * Java-regex ∩ RE2 common subset) and md5-verifies the fully
    * redacted text, not just the counts. */
  private def p38(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.piiRedact(
      Tables.df(spark, dir, "documents"), "doc_id", "text")

  private val p38Sql = {
    import graft.operators.Corpus.{EmailPat, Ipv4Pat, PhonePat}
    s"""WITH r1 AS (
       |  SELECT doc_id,
       |    len(regexp_extract_all(text, '$EmailPat')) AS n_emails,
       |    regexp_replace(text, '$EmailPat', '<EMAIL>', 'g') AS t1
       |  FROM documents),
       |r2 AS (
       |  SELECT doc_id, n_emails,
       |    len(regexp_extract_all(t1, '$Ipv4Pat')) AS n_ips,
       |    regexp_replace(t1, '$Ipv4Pat', '<IP>', 'g') AS t2
       |  FROM r1)
       |SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
       |  CAST(n_ips AS BIGINT) AS n_ips,
       |  CAST(len(regexp_extract_all(t2, '$PhonePat')) AS BIGINT)
       |    AS n_phones,
       |  md5(regexp_replace(t2, '$PhonePat', '<PHONE>', 'g'))
       |    AS redacted_hash
       |FROM r2""".stripMargin
  }

  /** Semantic decontamination (Similarity.semanticContamination):
    * corpus embeddings within cosine $SemanticThr of ANY eval-split
    * embedding, candidates via shared IVF cells — the paraphrase-leak
    * complement to p19/p34's lexical gates. Deterministic centroids +
    * id tie-breaks make the approximate candidate set itself
    * oracle-reproducible, like p14/p25b. */
  private def p39(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.df(spark, dir, "embeddings")
    Similarity.semanticContamination(
      embs.filter(col("vec_id") % 97 =!= 0),
      embs.filter(col("vec_id") % 97 === 0),
      "vec_id", "embedding", SemanticThr, IvfCells, IvfProbe)
  }

  private val p39Sql =
    s"""WITH c AS (SELECT vec_id, embedding FROM embeddings
       |       WHERE vec_id % 97 <> 0
       |       AND list_reduce(list_transform(generate_series(1, len(embedding)), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y) > 0),
       |e AS (SELECT vec_id AS eval_id, embedding AS ev FROM embeddings
       |      WHERE vec_id % 97 = 0
       |      AND list_reduce(list_transform(generate_series(1, len(embedding)), i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), (x, y) -> x + y) > 0),
       |cent AS (
       |  SELECT vec_id AS list_id, embedding AS centroid FROM c
       |  ORDER BY ${hash32Sql("CAST(vec_id AS VARCHAR)")}, vec_id
       |  LIMIT $IvfCells),
       |ac AS (
       |  SELECT list_id, vec_id FROM (
       |    SELECT ct.list_id, c.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
       |        ORDER BY ${cosSql("c.embedding", "ct.centroid")} DESC, ct.list_id) AS r
       |    FROM c, cent ct)
       |  WHERE r <= $IvfProbe),
       |ae AS (
       |  SELECT list_id, eval_id FROM (
       |    SELECT ct.list_id, e.eval_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.eval_id
       |        ORDER BY ${cosSql("e.ev", "ct.centroid")} DESC, ct.list_id) AS r
       |    FROM e, cent ct)
       |  WHERE r <= $IvfProbe),
       |cand AS (
       |  SELECT DISTINCT ac.vec_id, ae.eval_id
       |  FROM ac JOIN ae USING (list_id)),
       |hits AS (
       |  SELECT cd.vec_id, COUNT(*) AS n
       |  FROM cand cd
       |  JOIN c ON c.vec_id = cd.vec_id
       |  JOIN e ON e.eval_id = cd.eval_id
       |  WHERE ${cosSql("c.embedding", "e.ev")} > $SemanticThr
       |  GROUP BY 1)
       |SELECT c.vec_id, COALESCE(h.n, 0) AS n_eval_near,
       |  COALESCE(h.n, 0) > 0 AS contaminated
       |FROM c LEFT JOIN hits h ON h.vec_id = c.vec_id""".stripMargin

  /** Self-LM repetitiveness score (Corpus.lmBigramScore): mean bigram
    * conditional probability under the corpus' own bigram model —
    * the log-free, bit-reproducible stand-in for CCNet-style LM
    * perplexity filtering. The oracle rebuilds the model and folds the
    * per-position rationals in the same order; its 2-arg list_reduce
    * starts from the first element where Spark folds from 0.0 — equal
    * because 0.0 + p ≡ p exactly for the positive probabilities here. */
  private def p40(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.lmBigramScore(
      Tables.df(spark, dir, "documents"), "doc_id", "text")

  private val p40Sql = {
    val toks = toksSql(normSql("text"))
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |bg0 AS (
       |  SELECT doc_id, toks,
       |    unnest(generate_series(0, len(toks) - 2)) AS pos
       |  FROM t WHERE len(toks) >= 2),
       |bg AS (
       |  SELECT doc_id, CAST(pos AS INT) AS pos, toks[pos + 1] AS w1,
       |    toks[pos + 1] || ' ' || toks[pos + 2] AS bigram
       |  FROM bg0),
       |c2 AS (SELECT bigram, COUNT(*) AS c2 FROM bg GROUP BY 1),
       |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
       |p AS (
       |  SELECT bg.doc_id, bg.pos,
       |    CAST(c2.c2 AS DOUBLE) / CAST(c1.c1 AS DOUBLE) AS p
       |  FROM bg JOIN c2 USING (bigram) JOIN c1 USING (w1)),
       |s AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    list_reduce(list(p ORDER BY pos), (x, y) -> x + y) AS psum
       |  FROM p GROUP BY doc_id)
       |SELECT t.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams,
       |  s.psum / CAST(s.n_bigrams AS DOUBLE) AS avg_p
       |FROM t LEFT JOIN s ON s.doc_id = t.doc_id""".stripMargin
  }

  // n-gram width / hit floor / sketch size for the ingest Bloom gate —
  // package-visible so IngestSpec's FP-freedom measurement certifies
  // THESE parameters, not a re-typed copy that could silently drift
  private[graft] val IngestBloomN = 8
  private[graft] val IngestBloomMinHits = 2
  private[graft] val IngestSketchGrams = 1L << 18

  /** The composed production ingest round (operators/Ingest.triage),
    * driver-gated end to end: docs ≢0 (mod 3) are the INDEXED corpus
    * (ShingleIndex.build — the persisted path), docs ≡0 (mod 3) are the
    * ingest batch, docs ≡0 (mod 97) stand in for the eval suite (same
    * split as p19). Every fate is deterministic and SQL-expressible:
    * scrub is the p38 regex cascade, the quality gate is p29's token
    * floor, the Bloom gate resolves to exact distinct-gram overlap (the
    * sketch is sized so its false-positive mass is ≪ 1 row across all
    * SFs — any Bloom/oracle divergence FAILS the gate, which is the
    * point), and the dedup stage is p30's capped incremental pairs
    * through the persisted index (row-equality pinned by
    * DedupIndexSpec). */
  /** The shared memoized-build protocol behind the steady-state index
    * queries (p41/p44/p48): a one-time index build keyed by a content
    * fingerprint `(n, ids)` — a different SF dir, changed data, or any
    * missing table rebuilds; a matching one reuses. Results are
    * identical either way (the index specs pin build/append
    * row-equality), so correctness never depends on which path ran; in
    * Bench, run 1 pays the cold build and best-of-two reports the
    * steady state. head(1), not head(): a torn write (dropTable ran,
    * the insert didn't) leaves the fp table EXISTING but EMPTY — that
    * must read as "stale, rebuild", not throw. */
  /** Content fingerprint of an embeddings frame — THE memoization key
    * the vector store builds compare. p66b, p74b, and p76 SHARE stores
    * through equal fingerprints, so the expression must stay
    * bit-identical across call sites: a drifted copy would make the
    * sharers alternately invalidate and rebuild the common index every
    * sweep. Keys hash the VECTORS, not just ids (SF dirs share vec_id
    * ranges — an id-only key would reuse the wrong corpus' index after
    * a same-JVM SF switch). */
  private def embFingerprint(v: DataFrame): org.apache.spark.sql.Row =
    v.agg(count(lit(1)).cast("long").as("n"),
      sum(xxhash64(col("vec_id"), col("embedding"))
        .bitwiseAND(lit(0xFFFFFFFFL))).cast("long").as("ids")).head()

  /** Content fingerprint of a documents frame — the text-store twin of
    * [[embFingerprint]] (p64's posting index is shared by p64 and
    * p66b through it).
    *
    * Fingerprints are memo keys, not oracle surface, so they use the
    * codegen-native xxhash64 over the raw columns (arrays hash
    * directly — no cast-to-string materialization, no md5), masked to
    * 32 bits so the ANSI sum has the same 2^31-row overflow headroom
    * as the hash32 form it replaced. Changing the function invalidates
    * stored `graft_*_fp` rows once — memoizedBuild rebuilds and
    * re-stamps on the first post-upgrade call, by design. */
  private def docsFingerprint(docs: DataFrame): org.apache.spark.sql.Row =
    docs.agg(count(lit(1)).cast("long").as("n"),
      sum(xxhash64(col("doc_id"), col("text"))
        .bitwiseAND(lit(0xFFFFFFFFL))).cast("long").as("ids")).head()

  private def memoizedBuild(spark: SparkSession, fpTable: String,
      fp: org.apache.spark.sql.Row, requiredTables: Seq[String])(
      build: => Unit): Unit = {
    import spark.implicits._
    val fpOk = (fpTable +: requiredTables)
      .forall(spark.catalog.tableExists) && {
        val rs = spark.table(fpTable).head(1)
        rs.nonEmpty && rs(0).getLong(0) == fp.getLong(0) &&
          rs(0).getLong(1) == fp.getLong(1)
      }
    if (!fpOk) {
      build
      graft.operators.BatchTable.dropTable(spark, fpTable)
      Seq((fp.getLong(0), fp.getLong(1))).toDF("n", "ids")
        .write.saveAsTable(fpTable)
    }
  }

  private def p41(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val evalDocs = docs.filter(col("doc_id") % 97 === 0).select(col("text"))
    // MEMOIZED index build: production builds the corpus index once and
    // pays per-ingest triage cost thereafter — rebuilding it per call
    // would make this query measure a one-time setup instead of the
    // steady-state ingest round. The build is keyed by a corpus
    // fingerprint (count + id-sum, one cheap scan): a different SF dir,
    // a changed corpus, or a missing table rebuilds; a matching one
    // reuses. Results are identical either way (DedupIndexSpec pins
    // build/append row-equality), so correctness never depends on which
    // path ran; in Bench, run 1 pays the cold build and best-of-two
    // reports the steady state — both honest, and the cold cost stays
    // visible in run-1 logs. Geometry (parts×buckets bounds file
    // count) is sized to the ≤sf0.1 bench corpora; production sizes it
    // up with the corpus (build's scaladoc).
    import spark.implicits._
    // the fingerprint must depend on the TEXTS, not just ids: the
    // driver's SF dirs share id ranges (sf0.001 and sf0.01 both carry
    // doc_id 0..499 with different texts), so a (count, id-sum) key
    // collides across SFs and a same-JVM SF switch — Bench warms every
    // query at the sf0.01 sibling dir — would silently triage against
    // the wrong corpus' index. xxhash64(id, text) masked to 32 bits
    // keeps the ANSI sum far below Long range at any realistic corpus
    // size (2^32 per row ⇒ 2^63 needs ~2^31 rows); memo key only, not
    // oracle surface — see docsFingerprint's rationale.
    val fp = corpus.agg(count(lit(1)).cast("long").as("n"),
      sum(xxhash64(col("doc_id"), col("text"))
        .bitwiseAND(lit(0xFFFFFFFFL))).cast("long").as("ids")).head()
    memoizedBuild(spark, "graft_p41_fp", fp, Seq("graft_p41_meta")) {
      graft.operators.ShingleIndex.build(corpus, "doc_id", "text",
        "graft_p41", buckets = 32, parts = 16)
    }
    val sketch = graft.operators.Decontaminate.gramSketch(
      graft.operators.Decontaminate
        .evalGrams(evalDocs, "text", IngestBloomN).select(col("g")),
      estimatedGrams = IngestSketchGrams)
    graft.operators.Ingest.triage(batch, "doc_id", "text",
      graft.operators.Ingest.Config("graft_p41", Some(sketch),
        bloomN = IngestBloomN, bloomMinHits = IngestBloomMinHits,
        minTokens = BuildMinTokens,
        num = JaccardNum, den = JaccardDen, maxDocFreq = JaccardMaxDf))
  }

  private val p41Sql = {
    import graft.operators.Corpus.{EmailPat, Ipv4Pat, PhonePat}
    val toks = toksSql(normSql("text"))
    val sh5 = shinglesSql(toks, ShingleN)
    val sh8 = shinglesSql(toks, IngestBloomN)
    s"""WITH base AS (
       |  SELECT doc_id,
       |    regexp_replace(regexp_replace(regexp_replace(text,
       |      '$EmailPat', '<EMAIL>', 'g'), '$Ipv4Pat', '<IP>', 'g'),
       |      '$PhonePat', '<PHONE>', 'g') AS text
       |  FROM documents WHERE doc_id % 3 = 0),
       |gt AS (
       |  SELECT doc_id, text,
       |    CAST(COALESCE(len($toks), 0) AS BIGINT) AS n_tokens
       |  FROM base),
       |ev AS (
       |  SELECT DISTINCT ('0x' || substr(md5(unnest($sh8)), 1, 15))::BIGINT AS g
       |  FROM documents WHERE doc_id % 97 = 0),
       |bg AS (
       |  SELECT doc_id, ('0x' || substr(md5(unnest($sh8)), 1, 15))::BIGINT AS g
       |  FROM gt),
       |-- COUNT(*), not COUNT(DISTINCT g): the probe counts the doc's
       |-- DISTINCT GRAM STRINGS (one list entry each), so two strings
       |-- sharing a hash60 value contribute two hits in both engines
       |hits AS (
       |  SELECT bg.doc_id, COUNT(*) AS h FROM bg JOIN ev USING (g)
       |  GROUP BY 1),
       |gate AS (
       |  SELECT gt.doc_id, gt.text, gt.n_tokens,
       |    COALESCE(h.h, 0) >= $IngestBloomMinHits AS contaminated
       |  FROM gt LEFT JOIN hits h USING (doc_id)),
       |surv AS (SELECT doc_id, text FROM gate
       |         WHERE n_tokens >= $BuildMinTokens AND NOT contaminated),
       |sh AS (
       |  SELECT doc_id, $sh5 AS shingles, FALSE AS is_new
       |  FROM documents WHERE doc_id % 3 <> 0
       |  UNION ALL
       |  SELECT doc_id, $sh5 AS shingles, TRUE AS is_new FROM surv),
       |${cappedIndexCtes(JaccardMaxDf, "is_new")},
       |cnd AS (
       |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS match_id,
       |    b.is_new AS match_is_new
       |  FROM exf a JOIN exf b ON a.s = b.s AND a.is_new
       |    AND (a.doc_id < b.doc_id OR NOT b.is_new)
       |    AND a.doc_id <> b.doc_id),
       |pr AS (
       |  SELECT c.new_id, c.match_id, c.match_is_new
       |  FROM cnd c
       |  JOIN sh sa ON sa.doc_id = c.new_id
       |  JOIN sh sb ON sb.doc_id = c.match_id
       |  WHERE len(list_intersect(sa.shingles, sb.shingles)) * $JaccardDen >=
       |    (len(sa.shingles) + len(sb.shingles)
       |      - len(list_intersect(sa.shingles, sb.shingles))) * $JaccardNum),
       |dr AS (
       |  SELECT new_id AS doc_id, match_id AS d FROM pr WHERE NOT match_is_new
       |  UNION ALL
       |  SELECT match_id AS doc_id, new_id AS d FROM pr WHERE match_is_new),
       |dup AS (SELECT doc_id, MIN(d) AS dup_of FROM dr GROUP BY 1)
       |SELECT g.doc_id, g.text, g.n_tokens,
       |  CASE WHEN g.n_tokens < $BuildMinTokens THEN 'low_quality'
       |       WHEN g.contaminated THEN 'contaminated'
       |       WHEN d.dup_of IS NOT NULL THEN 'duplicate'
       |       ELSE 'accepted' END AS fate,
       |  CASE WHEN g.n_tokens >= $BuildMinTokens AND NOT g.contaminated
       |       THEN d.dup_of END AS dup_of
       |FROM gate g LEFT JOIN dup d USING (doc_id)""".stripMargin
  }

  // ---- corpus statistics --------------------------------------------------

  /** TF-IDF top terms per doc — rational idf (tf·N/df in one double
    * division), so the approximate-free score is bit-reproducible; no
    * driver action for N (1-row aggregate broadcast). */
  private def p20(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.tfidfTopTerms(
      Tables.df(spark, dir, "documents"), "doc_id", "text", TfidfTopK)

  private val p20Sql = {
    val toks = toksSql(normSql("text"))
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |n AS (SELECT COUNT(*) AS n_docs FROM t),
       |ex AS (SELECT doc_id, unnest(toks) AS term FROM t),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
       |s AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.doc_freq,
       |    CAST(tf.tf * n.n_docs AS DOUBLE) / df.doc_freq AS score
       |  FROM tf JOIN df USING (term), n),
       |r AS (
       |  SELECT doc_id, term, tf, doc_freq, score,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, term) AS rnk
       |  FROM s)
       |SELECT doc_id, term, tf, doc_freq, score, CAST(rnk AS INT) AS rnk
       |FROM r WHERE rnk <= $TfidfTopK""".stripMargin
  }

  /** Domain-mixture reweighting: per-source token mass + the uniform-
    * target sampling weight (exact rational arithmetic, one division). */
  private def p21(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.domainMixWeights(
      Tables.df(spark, dir, "documents"), "source", "text")

  private val p21Sql = {
    val toks = toksSql(normSql("text"))
    s"""WITH per AS (
       |  SELECT source AS domain, COUNT(*) AS n_docs,
       |    SUM(len($toks))::BIGINT AS domain_tokens
       |  FROM documents GROUP BY 1),
       |tot AS (SELECT SUM(domain_tokens)::BIGINT AS total_tokens,
       |               COUNT(*) AS n_domains FROM per)
       |SELECT p.domain, p.n_docs, p.domain_tokens,
       |  CAST(p.domain_tokens AS DOUBLE) / t.total_tokens AS token_share,
       |  CASE WHEN p.domain_tokens > 0 THEN CAST(t.total_tokens AS DOUBLE)
       |    / (t.n_domains * p.domain_tokens) END AS mix_weight
       |FROM per p, tot t""".stripMargin
  }

  /** Sequence packing: concat-and-chunk per source into $PackBudget-token
    * context windows (partitioned running sum — no global sort). */
  private def p22(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.packSequences(
      Tables.df(spark, dir, "documents"), "source", "doc_id", "text",
      PackBudget)
      .withColumnRenamed("grp", "domain")

  private val p22Sql = {
    val toks = toksSql(normSql("text"))
    s"""WITH t AS (
       |  SELECT source AS domain, doc_id,
       |    CAST(len($toks) AS INT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT domain, doc_id, n_tokens,
       |    COALESCE(SUM(n_tokens) OVER (PARTITION BY domain ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS tokens_before
       |  FROM t)
       |SELECT domain,
       |  CAST(FLOOR(CAST(tokens_before AS DOUBLE) / $PackBudget) AS BIGINT)
       |    AS bin_id,
       |  COUNT(*) AS n_docs, SUM(n_tokens)::BIGINT AS bin_tokens
       |FROM c GROUP BY 1, 2""".stripMargin
  }

  /** Deterministic hash train/val/test split (80/10/10) — reproducible
    * across engines/cluster sizes, stable under corpus growth. */
  private def p31(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.splitStats(
      Tables.df(spark, dir, "documents"), "doc_id", "text")

  private val p31Sql = {
    val toks = toksSql(normSql("text"))
    val bucket = s"(${hash32Sql("CAST(doc_id AS VARCHAR)")} % 100)"
    s"""SELECT CASE WHEN $bucket < 80 THEN 'train'
       |            WHEN $bucket < 90 THEN 'val'
       |            ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs, SUM(len($toks))::BIGINT AS total_tokens
       |FROM documents GROUP BY 1""".stripMargin
  }

  /** Corpus-wide boilerplate mining: top word-trigrams by document
    * frequency — the complement view of the dedup df-cap. */
  private def p32(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.topNgrams(
      Tables.df(spark, dir, "documents"), "doc_id", "text",
      BoilerN, BoilerTopK)

  private val p32Sql = {
    val sh = shinglesSql(toksSql(normSql("text")), BoilerN)
    s"""WITH sh AS (SELECT doc_id, $sh AS shingles FROM documents),
       |ex AS (SELECT unnest(shingles) AS ngram FROM sh),
       |df AS (SELECT ngram, COUNT(*) AS df FROM ex GROUP BY 1
       |       HAVING COUNT(*) >= 2),
       |r AS (SELECT ngram, df,
       |        ROW_NUMBER() OVER (ORDER BY df DESC, ngram) AS rnk FROM df)
       |SELECT ngram, df, CAST(rnk AS INT) AS rnk
       |FROM r WHERE rnk <= $BoilerTopK""".stripMargin
  }

  /** int8 embedding-quantization audit: per-vector scale + worst
    * reconstruction error, element-wise IEEE doubles (bit-exact). */
  private def p33(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8Audit(
      Tables.df(spark, dir, "embeddings"), "vec_id", "embedding")

  private val p33Sql =
    s"""WITH v AS (
       |  SELECT vec_id,
       |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS am,
       |    embedding
       |  FROM embeddings),
       |s AS (SELECT vec_id, embedding, 127.0 / am AS scale
       |      FROM v WHERE am > 0)
       |SELECT vec_id, scale,
       |  list_max(list_transform(embedding,
       |    x -> abs(x::DOUBLE - floor(x::DOUBLE * scale + 0.5) / scale)))
       |    AS max_abs_err
       |FROM s""".stripMargin

  /** The streaming EMBEDDING-ingest round's batch body, driver-gated —
    * the vector twin of p41 and the oracle gate for the round-9 IVF
    * lifecycle: vec_id ≢0 (mod 3) is the INDEXED corpus
    * (operators/IvfIndex.build — the persisted path, memoized behind a
    * vector fingerprint exactly like p41's corpus index), vec_id ≡0
    * (mod 3) the ingest batch. Near-dup triage runs through
    * IvfIndex.incrementalNearDups (candidates share a probed cell with
    * a stored vector or a same-batch vector; exact cosine verify;
    * old×old never pairs) and fates follow
    * Streams.vectorIngestBatch's keeper rule: a batch vector matching
    * any stored vector — or a SMALLER-id batch vector — is a duplicate
    * with min-id dup_of; vectors cosine cannot compare are zero_norm;
    * the rest accept. Every stage (hash-seeded centroids, probe=1
    * store assignment, IvfProbe batch multi-assignment, cosines, the
    * keeper min) is deterministic with id tie-breaks, so the persisted
    * path's verdicts are exactly reproducible in SQL — the same CTE
    * skeleton as p14's, split store/batch. */
  private def p44(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.df(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val store = embs.filter(col("vec_id") % 3 =!= 0)
    val batch = embs.filter(col("vec_id") % 3 === 0)
    import spark.implicits._
    // memoized build, p41's discipline: the fingerprint depends on the
    // VECTORS, not just ids (the SF dirs share vec_id ranges — an
    // id-only key would reuse the wrong corpus' index after a same-JVM
    // SF switch). String-rendered arrays are deterministic and this
    // key never crosses engines.
    val fp = embFingerprint(store)
    memoizedBuild(spark, "graft_p44_fp", fp,
        Seq("graft_p44_cells", "graft_p44_cent")) {
      graft.operators.IvfIndex.build(store, "vec_id", "embedding",
        "graft_p44", nCells = IvfCells)
    }
    val dups = graft.operators.IvfIndex.incrementalNearDups(
      batch, "vec_id", "embedding", "graft_p44", NearDupCos, IvfProbe)
    // keeper rule shared with Streams.vectorIngestBatch — the gate and
    // the streaming loop must agree fate-for-fate by construction
    val dropped = graft.operators.IvfIndex.dupKeeperMap(dups)
    batch
      .withColumn("_n2", Similarity.dot(col("embedding"), col("embedding")))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(coalesce(col("_n2"), lit(0.0)) <= 0, lit("zero_norm"))
          .when(col("dup_of").isNotNull, lit("duplicate"))
          .otherwise(lit("accepted")).as("fate"),
        when(coalesce(col("_n2"), lit(0.0)) > 0, col("dup_of")).as("dup_of"))
  }

  private val p44Sql =
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings
       |       WHERE ${dotSql("embedding", "embedding")} > 0),
       |st AS (SELECT vec_id, embedding FROM v WHERE vec_id % 3 <> 0),
       |bt AS (SELECT vec_id, embedding FROM v WHERE vec_id % 3 = 0),
       |cent AS (
       |  SELECT vec_id AS list_id, embedding AS centroid FROM st
       |  ORDER BY ${hash32Sql("CAST(vec_id AS VARCHAR)")}, vec_id
       |  LIMIT $IvfCells),
       |sa AS (
       |  SELECT list_id, vec_id, embedding FROM (
       |    SELECT c.list_id, s.vec_id, s.embedding,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id
       |        ORDER BY ${cosSql("s.embedding", "c.centroid")} DESC, c.list_id) AS r
       |    FROM st s, cent c)
       |  WHERE r = 1),
       |ba AS (
       |  SELECT list_id, vec_id, embedding FROM (
       |    SELECT c.list_id, b.vec_id, b.embedding,
       |      ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |        ORDER BY ${cosSql("b.embedding", "c.centroid")} DESC, c.list_id) AS r
       |    FROM bt b, cent c)
       |  WHERE r <= $IvfProbe),
       |cnd AS (
       |  SELECT DISTINCT a.vec_id, s.vec_id AS match_id, FALSE AS match_is_new
       |  FROM ba a JOIN sa s USING (list_id)
       |  WHERE a.vec_id <> s.vec_id
       |  UNION ALL
       |  SELECT DISTINCT a.vec_id, b.vec_id AS match_id, TRUE AS match_is_new
       |  FROM ba a JOIN ba b USING (list_id)
       |  WHERE a.vec_id < b.vec_id),
       |vr AS (
       |  SELECT c.vec_id, c.match_id, c.match_is_new
       |  FROM cnd c
       |  JOIN v va ON va.vec_id = c.vec_id
       |  JOIN v vb ON vb.vec_id = c.match_id
       |  WHERE ${cosSql("va.embedding", "vb.embedding")} > $NearDupCos),
       |dp AS (
       |  SELECT vec_id, MIN(d) AS dup_of FROM (
       |    SELECT vec_id, match_id AS d FROM vr WHERE NOT match_is_new
       |    UNION ALL
       |    SELECT match_id AS vec_id, vec_id AS d FROM vr WHERE match_is_new)
       |  GROUP BY 1)
       |SELECT b.vec_id,
       |  CASE WHEN COALESCE(${dotSql("b.embedding", "b.embedding")}, 0) <= 0
       |         THEN 'zero_norm'
       |       WHEN dp.dup_of IS NOT NULL THEN 'duplicate'
       |       ELSE 'accepted' END AS fate,
       |  CASE WHEN COALESCE(${dotSql("b.embedding", "b.embedding")}, 0) > 0
       |       THEN dp.dup_of END AS dup_of
       |FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 3 = 0) b
       |LEFT JOIN dp USING (vec_id)""".stripMargin

  /** Product-quantization ANN, oracle-gated end-to-end: codebook
    * sampling (the same hash-order rule as p14's centroids), per-
    * subspace nearest-code encoding (squared L2, first-match/lowest-code
    * tie-break both engines), and asymmetric-distance scoring (exact
    * query × quantized corpus, per-subspace dot products summed in
    * subspace order — Spark's reduceLeft ≡ the oracle's
    * list_reduce(list(t ORDER BY j))) are all deterministic, so the
    * approximate result replays exactly in SQL. Recall vs exact top-k is
    * MEASURED separately (tools/RecallProbe), as with LSH/IVF. */
  private def p45(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.df(spark, dir, "embeddings")
    Similarity.pqTopK(v.filter(col("vec_id") % 50 === 0), v,
        "vec_id", "embedding", TopK, m = PqM, nCodes = PqCodes)
      .withColumnRenamed("rank", "rnk")
  }

  private val p45Sql = {
    val ds = EmbDim / PqM
    def sub(arr: String, j: String) = s"$arr[$j*$ds+1 : ($j+1)*$ds]"
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings
       |       WHERE ${dotSql("embedding", "embedding")} > 0),
       |nv AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> x::DOUBLE / sqrt(${dotSql("embedding", "embedding")})) AS nvec
       |  FROM v),
       |js AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS j),
       |cb AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS code, nvec
       |  FROM (SELECT vec_id, ${hash32Sql("CAST(vec_id AS VARCHAR)")} AS h,
       |          nvec
       |        FROM nv ORDER BY 2, 1 LIMIT $PqCodes)),
       |cbs AS (
       |  SELECT t.j, cb.code, ${sub("cb.nvec", "t.j")} AS sub
       |  FROM cb, js t),
       |vs AS (
       |  SELECT n.vec_id, t.j, ${sub("n.nvec", "t.j")} AS sub
       |  FROM nv n, js t),
       |dst AS (
       |  SELECT vs.vec_id, vs.j, cbs.code,
       |    ${l2sqSql("vs.sub", "cbs.sub")} AS d
       |  FROM vs JOIN cbs ON vs.j = cbs.j),
       |ec AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT vec_id, j, code,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, j
       |        ORDER BY d, code) AS r
       |    FROM dst)
       |  WHERE r = 1),
       |tm AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, e.j,
       |    ${dotSql(sub("q.nvec", "e.j"), "cs.sub")} AS t
       |  FROM nv q, ec e
       |  JOIN cbs cs ON cs.j = e.j AND cs.code = e.code
       |  WHERE q.vec_id % 50 = 0 AND q.vec_id <> e.vec_id),
       |sc AS (
       |  SELECT query_id, neighbor_id,
       |    list_reduce(list(t ORDER BY j), (x, y) -> x + y) AS adc
       |  FROM tm GROUP BY 1, 2),
       |res AS (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adc DESC, neighbor_id) AS rnk
       |  FROM sc)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id
       |FROM res WHERE rnk <= $TopK""".stripMargin
  }

  /** Centroid-drift audit, oracle-gated: frozen centroids from the
    * p44-convention store subset (vec_id ≢0 mod 3), every vector
    * assigned to its nearest frozen cell, per-group EXACT-decimal mean
    * assignment cosine (p36's picounit arithmetic — order-independent,
    * bit-reproducible). The batch group's mean falling below the base's
    * is the "rebuild the IVF index" signal IvfIndex.append documents;
    * IvfIndex.driftReport is the same measurement over the live store
    * (spec-pinned to this operator). */
  private def p46(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.df(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        when(col("vec_id") % 3 === 0, lit("batch"))
          .otherwise(lit("base")).as("grp"))
    val cent = Similarity.topKByHashCentroids(
      Similarity.withNorm(v.filter(col("grp") =!= "batch"),
        "vec_id", "embedding", "cid", "cv"),
      "cid", "cv", IvfCells)
    Similarity.assignmentDrift(v, "grp", "vec_id", "embedding", cent)
  }

  private val p46Sql =
    s"""WITH v AS (
       |  SELECT vec_id, embedding,
       |    CASE WHEN vec_id % 3 = 0 THEN 'batch' ELSE 'base' END AS grp
       |  FROM embeddings
       |  WHERE ${dotSql("embedding", "embedding")} > 0),
       |cent AS (
       |  SELECT vec_id AS list_id, embedding AS centroid FROM v
       |  WHERE grp <> 'batch'
       |  ORDER BY ${hash32Sql("CAST(vec_id AS VARCHAR)")}, vec_id
       |  LIMIT $IvfCells),
       |a AS (
       |  SELECT grp, vec_id, c_cos FROM (
       |    SELECT v.grp, v.vec_id,
       |      ${cosSql("v.embedding", "c.centroid")} AS c_cos,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosSql("v.embedding", "c.centroid")} DESC,
       |          c.list_id) AS r
       |    FROM v, cent c)
       |  WHERE r = 1)
       |SELECT grp, COUNT(*) AS n_vecs,
       |  CAST(SUM(CAST(round(c_cos * 1e12) AS BIGINT)) AS DOUBLE)
       |    / (CAST(COUNT(*) AS DOUBLE) * 1e12) AS mean_cos
       |FROM a GROUP BY grp""".stripMargin

  /** IVF-PQ residual ANN (IVFADC), oracle-gated end-to-end: p14's
    * deterministic coarse quantizer (hash-sampled centroids, cosine
    * desc / list_id tie-break assignment) composed with p45's PQ
    * machinery, applied to the RESIDUAL x̂ − ĉ(x) instead of x̂. Scores
    * decompose exactly as ⟨q̂,ĉ⟩ + Σⱼ⟨q̂ⱼ,bookⱼ[codeⱼ]⟩, and every
    * stage — residual arithmetic, hash-order codebook sample, nearest-
    * code encode, per-subspace ADC fold, the final qc + adc addition —
    * is IEEE-deterministic with id tie-breaks, so the approximate
    * result replays token-for-token in SQL. Recall vs exact top-k is
    * MEASURED (tools/RecallProbe `ivfpq` variants): residuals are what
    * rescue PQ in the clustered regime where absolute-position codes
    * collapse (plain pq ~0.01 recall there). */
  private def p47(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.df(spark, dir, "embeddings")
    Similarity.ivfPqTopK(v.filter(col("vec_id") % 50 === 0), v,
        "vec_id", "embedding", TopK, nCells = IvfCells, nProbe = IvfProbe,
        m = PqM, nCodes = PqCodes)
      .withColumnRenamed("rank", "rnk")
  }

  private val p47Sql = {
    val ds = EmbDim / PqM
    def sub(arr: String, j: String) = s"$arr[$j*$ds+1 : ($j+1)*$ds]"
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings
       |       WHERE ${dotSql("embedding", "embedding")} > 0),
       |nv AS (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> x::DOUBLE / sqrt(${dotSql("embedding", "embedding")})) AS nvec
       |  FROM v),
       |cent AS (
       |  SELECT vec_id AS list_id, embedding AS centroid FROM v
       |  ORDER BY ${hash32Sql("CAST(vec_id AS VARCHAR)")}, vec_id
       |  LIMIT $IvfCells),
       |uc AS (
       |  SELECT list_id, list_transform(centroid,
       |    x -> x::DOUBLE / sqrt(${dotSql("centroid", "centroid")})) AS ucent
       |  FROM cent),
       |asn AS (
       |  SELECT vec_id, list_id FROM (
       |    SELECT v.vec_id, c.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosSql("v.embedding", "c.centroid")} DESC,
       |          c.list_id) AS r
       |    FROM v, cent c)
       |  WHERE r = 1),
       |rs AS (
       |  SELECT n.vec_id, a.list_id,
       |    list_transform(generate_series(1, len(n.nvec)),
       |      i -> n.nvec[i] - u.ucent[i]) AS rv
       |  FROM nv n JOIN asn a USING (vec_id) JOIN uc u USING (list_id)),
       |js AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS j),
       |rcb AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS code, rv
       |  FROM (SELECT vec_id, ${hash32Sql("CAST(vec_id AS VARCHAR)")} AS h,
       |          rv
       |        FROM rs ORDER BY 2, 1 LIMIT $PqCodes)),
       |cbs AS (
       |  SELECT t.j, rcb.code, ${sub("rcb.rv", "t.j")} AS sub
       |  FROM rcb, js t),
       |vs AS (
       |  SELECT r.vec_id, r.list_id, t.j, ${sub("r.rv", "t.j")} AS sub
       |  FROM rs r, js t),
       |dst AS (
       |  SELECT vs.vec_id, vs.list_id, vs.j, cbs.code,
       |    ${l2sqSql("vs.sub", "cbs.sub")} AS d
       |  FROM vs JOIN cbs ON vs.j = cbs.j),
       |ec AS (
       |  SELECT vec_id, list_id, j, code FROM (
       |    SELECT vec_id, list_id, j, code,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, j
       |        ORDER BY d, code) AS r
       |    FROM dst)
       |  WHERE r = 1),
       |qv AS (
       |  SELECT v.vec_id, v.embedding, n.nvec
       |  FROM v JOIN nv n USING (vec_id)
       |  WHERE v.vec_id % 50 = 0),
       |pr AS (
       |  SELECT s.query_id, s.list_id, s.qn,
       |    ${dotSql("s.qn", "u.ucent")} AS qc
       |  FROM (
       |    SELECT q.vec_id AS query_id, c.list_id, q.nvec AS qn,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosSql("q.embedding", "c.centroid")} DESC,
       |          c.list_id) AS r
       |    FROM qv q, cent c) s
       |  JOIN uc u USING (list_id)
       |  WHERE s.r <= $IvfProbe),
       |tm AS (
       |  SELECT p.query_id, e.vec_id AS neighbor_id, p.qc, e.j,
       |    ${dotSql(sub("p.qn", "e.j"), "cs.sub")} AS t
       |  FROM pr p JOIN ec e ON e.list_id = p.list_id
       |  JOIN cbs cs ON cs.j = e.j AND cs.code = e.code
       |  WHERE p.query_id <> e.vec_id),
       |sc AS (
       |  SELECT query_id, neighbor_id,
       |    qc + list_reduce(list(t ORDER BY j), (x, y) -> x + y) AS score
       |  FROM tm GROUP BY query_id, neighbor_id, qc),
       |res AS (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, neighbor_id) AS rnk
       |  FROM sc)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id
       |FROM res WHERE rnk <= $TopK""".stripMargin
  }

  /** Persisted IVFADC store, oracle-gated: IvfIndex.build(pq=…) stamps
    * residual codes into the bucketed cell store (memoized behind p44's
    * vector fingerprint discipline) and topKAdc serves the SAME rows as
    * the in-memory ivfPqTopK (IvfIndexSpec pins the equivalence
    * row-for-row; the scan reads codes, never cv), so p47's oracle SQL
    * replays the stored path token-for-token. This is the driver gate
    * for the serve shape a 100 TB embedding store actually runs —
    * assignment/residual/encode paid at build, queries read m ints per
    * candidate. */
  private def p48(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.df(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    import spark.implicits._
    val fp = embFingerprint(v)
    memoizedBuild(spark, "graft_p48_fp", fp,
        Seq("graft_p48_cells", "graft_p48_cent", "graft_p48_books")) {
      graft.operators.IvfIndex.build(v, "vec_id", "embedding", "graft_p48",
        nCells = IvfCells,
        pq = Some(graft.operators.IvfIndex.PqSpec(PqM, PqCodes)))
    }
    graft.operators.IvfIndex.topKAdc(v.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", "graft_p48", TopK, IvfProbe)
      .withColumnRenamed("rank", "rnk")
  }

  /** int8-dequantized cosine top-k, oracle-gated: p33's exact floor
    * quantization (both engines floor, never round — the engines'
    * native roundings disagree) feeds p06's exact-cosine rank kernel;
    * every value is element-wise IEEE double, so the 4×-compressed
    * serving tier replays bit-for-bit in SQL. The tinyint storage hop
    * is value-lossless (integers in [-127,127]), so the oracle
    * dequantizes directly as floor(x·scale+0.5)/scale. */
  private def p49(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.df(spark, dir, "embeddings")
    Similarity.int8TopK(v.filter(col("vec_id") % 50 === 0), v,
        "vec_id", "embedding", TopK)
      .withColumnRenamed("rank", "rnk")
  }

  private val p49Sql =
    s"""WITH dq AS (
       |  SELECT vec_id,
       |    list_transform(embedding,
       |      x -> floor(x::DOUBLE * scale + 0.5) / scale) AS dv
       |  FROM (
       |    SELECT vec_id, embedding, 127.0 / am AS scale FROM (
       |      SELECT vec_id, embedding,
       |        list_max(list_transform(embedding, x -> abs(x::DOUBLE)))
       |          AS am
       |      FROM embeddings)
       |    WHERE am > 0)),
       |q AS (SELECT vec_id, embedding FROM embeddings
       |      WHERE vec_id % 50 = 0
       |        AND ${dotSql("embedding", "embedding")} > 0),
       |s AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${dotSql("q.embedding", "c.dv")}
       |      / (sqrt(${dotSql("q.embedding", "q.embedding")})
       |         * sqrt(${dotSql("c.dv", "c.dv")})) AS cos
       |  FROM q JOIN dq c ON q.vec_id != c.vec_id),
       |r AS (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM s)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id
       |FROM r WHERE rnk <= $TopK""".stripMargin

  /** Binary (1-bit sign) quantized ANN, oracle-gated: the corpus packs
    * to one long per 64 dims (Similarity.signPack), the shortlist ranks
    * by XOR-popcount Hamming distance (asc, id tie-break), and the
    * exact-cosine re-rank runs only on the oversample×k shortlist. The
    * oracle replays the Hamming count as a per-dimension sign-mismatch
    * sum — identical by construction to bit_count(xor) over the packs —
    * so the most aggressive tier of the quantization ladder
    * (float→int8→PQ→1 bit) is exactly reproducible in SQL. */
  private def p50(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.df(spark, dir, "embeddings")
    Similarity.binaryTopK(v.filter(col("vec_id") % 50 === 0), v,
        "vec_id", "embedding", TopK, oversample = BinOversample)
      .withColumnRenamed("rank", "rnk")
  }

  private val p50Sql =
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings
       |       WHERE ${dotSql("embedding", "embedding")} > 0),
       |q AS (SELECT * FROM v WHERE vec_id % 50 = 0),
       |h AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    list_reduce(list_transform(generate_series(1, len(q.embedding)),
       |      i -> CASE WHEN (q.embedding[i]::DOUBLE >= 0)
       |                  <> (c.embedding[i]::DOUBLE >= 0)
       |           THEN 1 ELSE 0 END), (x, y) -> x + y) AS ham
       |  FROM q JOIN v c ON q.vec_id != c.vec_id),
       |shortl AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY ham, neighbor_id) AS r
       |    FROM h)
       |  WHERE r <= ${TopK * BinOversample}),
       |sc AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    ${cosSql("vq.embedding", "vc.embedding")} AS cos
       |  FROM shortl s
       |  JOIN v vq ON vq.vec_id = s.query_id
       |  JOIN v vc ON vc.vec_id = s.neighbor_id),
       |res AS (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM sc)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id
       |FROM res WHERE rnk <= $TopK""".stripMargin

  /** IVF-residual binary ANN, oracle-gated: p50's 1-bit tier re-based
    * on within-cell residuals (sign bits of v − c(cell), the same
    * rescue-by-residual as IVF-PQ vs plain PQ). Assignment, residual
    * signs, Hamming shortlist, and exact re-rank are all deterministic,
    * so the approximation replays exactly in SQL. */
  private def p53(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.df(spark, dir, "embeddings")
    Similarity.ivfBinaryTopK(v.filter(col("vec_id") % 50 === 0), v,
        "vec_id", "embedding", TopK, nCells = IvfCells, nProbe = IvfProbe,
        oversample = BinOversample)
      .withColumnRenamed("rank", "rnk")
  }

  private val p53Sql =
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings
       |       WHERE ${dotSql("embedding", "embedding")} > 0),
       |cent AS (
       |  SELECT vec_id AS list_id, embedding AS centroid FROM v
       |  ORDER BY ${hash32Sql("CAST(vec_id AS VARCHAR)")}, vec_id
       |  LIMIT $IvfCells),
       |asn AS (
       |  SELECT list_id, vec_id, embedding FROM (
       |    SELECT c.list_id, v.vec_id, v.embedding,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosSql("v.embedding", "c.centroid")} DESC,
       |          c.list_id) AS r
       |    FROM v, cent c)
       |  WHERE r = 1),
       |qpr AS (
       |  SELECT list_id, query_id, embedding FROM (
       |    SELECT c.list_id, q.vec_id AS query_id, q.embedding,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosSql("q.embedding", "c.centroid")} DESC,
       |          c.list_id) AS r
       |    FROM (SELECT * FROM v WHERE vec_id % 50 = 0) q, cent c)
       |  WHERE r <= $IvfProbe),
       |h AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    list_reduce(list_transform(generate_series(1, len(p.embedding)),
       |      i -> CASE WHEN
       |          ((p.embedding[i]::DOUBLE - ct.centroid[i]::DOUBLE) >= 0)
       |          <> ((a.embedding[i]::DOUBLE - ct.centroid[i]::DOUBLE) >= 0)
       |        THEN 1 ELSE 0 END), (x, y) -> x + y) AS ham
       |  FROM qpr p
       |  JOIN asn a USING (list_id)
       |  JOIN cent ct USING (list_id)
       |  WHERE p.query_id <> a.vec_id),
       |shortl AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY ham, neighbor_id) AS r
       |    FROM h)
       |  WHERE r <= ${TopK * BinOversample}),
       |sc AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    ${cosSql("vq.embedding", "vc.embedding")} AS cos
       |  FROM shortl s
       |  JOIN v vq ON vq.vec_id = s.query_id
       |  JOIN v vc ON vc.vec_id = s.neighbor_id),
       |res AS (
       |  SELECT query_id, neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM sc)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id
       |FROM res WHERE rnk <= $TopK""".stripMargin

  /** Persisted binary store, oracle-gated: IvfIndex.build(binary=true)
    * stamps raw-residual sign packs into the bucketed cell store
    * (memoized behind the p44/p48 vector-fingerprint discipline) and
    * topKBinary serves the SAME rows as the in-memory ivfBinaryTopK
    * (IvfIndexSpec pins the equivalence row-for-row; the shortlist
    * scan reads cb — one long per 64 dims — never cv), so p53's oracle
    * SQL replays the stored path token-for-token. */
  private def p54(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.df(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val fp = embFingerprint(v)
    memoizedBuild(spark, "graft_p54_fp", fp,
        Seq("graft_p54_cells", "graft_p54_cent")) {
      graft.operators.IvfIndex.build(v, "vec_id", "embedding", "graft_p54",
        nCells = IvfCells, binary = true)
    }
    graft.operators.IvfIndex.topKBinary(v.filter(col("vec_id") % 50 === 0),
        "vec_id", "embedding", "graft_p54", TopK, IvfProbe,
        oversample = BinOversample)
      .withColumnRenamed("rank", "rnk")
  }

  /** Deterministic epoch shuffle, oracle-gated: contiguous 1-based
    * training positions in (hash32(seed|id), id) order via
    * range-partition + within-partition sort + zipWithIndex — never a
    * single-partition global window. The oracle IS the single-partition
    * form (ROW_NUMBER over the total order), fine at oracle scale;
    * matching it row-for-row proves the distributed index assignment
    * equals the logical total order. */
  private def p51(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.epochShuffle(
      Tables.df(spark, dir, "documents"), "doc_id", ShuffleSeed)

  private val p51Sql =
    s"""WITH k AS (
       |  SELECT doc_id,
       |    ${hash32Sql(s"'$ShuffleSeed|' || CAST(doc_id AS VARCHAR)")} AS skey
       |  FROM documents)
       |SELECT doc_id, skey,
       |  ROW_NUMBER() OVER (ORDER BY skey, doc_id) AS pos
       |FROM k""".stripMargin

  /** Global greedy packing over the epoch-shuffle order, oracle-gated:
    * the step after p51 in a real training pipeline — walk the corpus
    * in shuffle order accumulating tokens and assign each doc the
    * context-window bin its running offset lands in. The running total
    * is Corpus.orderedPrefixSum (range partition + two-phase scan —
    * never the single-partition window the oracle's `SUM OVER (ORDER
    * BY …)` would force on Spark); the oracle IS that single-partition
    * form, so matching it row-for-row proves the distributed prefix
    * sum equals the logical running total. p22 remains the per-GROUP
    * packing (bins never straddle groups); this is the global form
    * (docs straddle bins, bin id = exclusive-prefix ÷ budget). */
  private def p55(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    val keyed = docs.select(col("doc_id"),
      TextFns.hash32(concat_ws("|", lit(ShuffleSeed),
        col("doc_id").cast("string"))).as("skey"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
    graft.operators.Corpus
      .orderedPrefixSum(keyed, Seq("skey", "doc_id"), "n_tokens",
        "cum_tokens")
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
        floor((col("cum_tokens") - col("n_tokens")) / lit(PackBudget))
          .cast("long").as("bin"))
  }

  private val p55Sql =
    s"""WITH k AS (
       |  SELECT doc_id,
       |    ${hash32Sql(s"'$ShuffleSeed|' || CAST(doc_id AS VARCHAR)")}
       |      AS skey,
       |    CAST(len(list_filter(string_split_regex(text, '\\s+'),
       |      tk -> length(tk) > 0)) AS BIGINT) AS n_tokens
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(SUM(n_tokens) OVER (ORDER BY skey, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS BIGINT) AS cum_tokens
       |  FROM k)
       |SELECT doc_id, n_tokens, cum_tokens,
       |  CAST(floor((cum_tokens - n_tokens) / $PackBudget) AS BIGINT)
       |    AS bin
       |FROM o""".stripMargin

  /** Deterministic exact-k per-group sample, oracle-gated: each source
    * keeps exactly min(k, |group|) docs by (hash32(id), id) rank — the
    * exact-count companion to the proportional samplers (p18/p27/p31),
    * what eval-set construction and per-domain caps actually need. The
    * rank filter compiles to WindowGroupLimit (map-side per-group
    * top-k, pinned in PlanSpec). */
  private def p56(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.exactKPerGroup(
      Tables.df(spark, dir, "documents"), "source", "doc_id", TopK * 4)

  private val p56Sql =
    s"""SELECT grp, doc_id, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT source AS grp, doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY ${hash32Sql("CAST(doc_id AS VARCHAR)")}, doc_id)
       |      AS rnk
       |  FROM documents)
       |WHERE rnk <= ${TopK * 4}""".stripMargin

  /** Near-dup survivorship, oracle-gated: p13's connected components
    * (same capped-pair graph) plus a canonical pick per family — max
    * n_chars, min-id tie-break — mapping EVERY doc (singletons map to
    * themselves) to the one copy a curated corpus keeps. The oracle
    * replays the recursive closure and the window pick. */
  private def p52(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    val clusters = graft.operators.Clusters.connectedComponents(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", ShingleN,
        JaccardNum, JaccardDen, maxDocFreq = Some(JaccardMaxDf)))
    Dedup.canonicalKeep(docs, "doc_id", "n_chars", clusters)
  }

  private val p52Sql =
    s"""WITH RECURSIVE
       |${cappedPairsCtes("documents", JaccardMaxDf)},
       |und AS (SELECT ida AS u, idb AS v FROM pairs
       |        UNION SELECT idb, ida FROM pairs),
       |reach AS (
       |  SELECT u, v FROM und
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u
       |  WHERE r.u != e.v),
       |cl AS (
       |  SELECT n.u AS doc_id, least(n.u, MIN(r.v)) AS cluster_id
       |  FROM (SELECT DISTINCT u FROM und) n
       |  JOIN reach r ON r.u = n.u
       |  GROUP BY n.u),
       |al AS (
       |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       |    d.n_chars
       |  FROM documents d LEFT JOIN cl c USING (doc_id)),
       |k AS (
       |  SELECT cluster_id, doc_id AS kept_id FROM (
       |    SELECT cluster_id, doc_id,
       |      ROW_NUMBER() OVER (PARTITION BY cluster_id
       |        ORDER BY n_chars DESC, doc_id) AS r
       |    FROM al)
       |  WHERE r = 1)
       |SELECT a.doc_id, a.cluster_id, k.kept_id,
       |  a.doc_id = k.kept_id AS is_kept
       |FROM al a JOIN k USING (cluster_id)""".stripMargin

  // BM25 query-by-example retrieval: every BmQueryMod-th doc is a
  // query, its leading-window terms score the whole corpus
  private val BmQueryMod = 250
  private val BmTerms = 8
  private val BmK1 = 1.2
  private val BmB = 0.75
  // count-min sketch: depth x width doc-frequency counter matrix;
  // probe docs supply the candidate n-grams whose df is estimated
  private val CmsDepth = 4
  private val CmsWidth = 512
  private val CmsProbeMod = 250
  // heavy-hitter df threshold: ~150 trigrams qualify at sf0.01
  private val HhMinDf = 5L
  // entity resolution: levenshtein gate on canonical part names
  private val ResolveMaxDist = 2

  /** BM25 retrieval, oracle-gated: rank the corpus against each query
    * doc's leading terms, keep the top k. Scoring keeps idf as the RAW
    * odds ratio (no log — engine libm divergence) and sums per-term
    * contributions in FIXED first-occurrence-position order, so the
    * double is bit-identical in both engines (see
    * [[graft.operators.Corpus.bm25TopK]]). The oracle replays
    * tokenize → tf/dl → query-vocab df → odds-ratio BM25 → fixed-order
    * sum → per-query window verbatim. */
  private def p57(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.bm25TopK(
      Tables.df(spark, dir, "documents"), "doc_id", "text",
      col("doc_id") % BmQueryMod === 0, BmTerms, TopK,
      k1 = BmK1, b = BmB)

  /** The full BM25 CTE chain ending in `lexr(query_id, doc_id, score,
    * rnk)` — ranked but NOT yet cut to k. Shared verbatim by p57/p64
    * (their gate IS these CTEs + `rnk <= TopK`) and spliced into p66's
    * hybrid fusion as the lexical branch, so the fused contributions
    * come from the exact doubles the BM25 gates already proved. */
  private def bm25RankedCtes: String = {
    val toks = toksSql(normSql("text"))
    val kk1 = BmK1 + 1.0
    val omb = 1.0 - BmB
    val cMax = (1 to BmTerms).map(p =>
      s"MAX(CASE WHEN pos = $p THEN c END) AS c$p").mkString(", ")
    val cSum = (1 to BmTerms).map(p => s"coalesce(c$p, CAST(0.0 AS DOUBLE))")
      .mkString(" + ")
    s"""t AS (SELECT doc_id, $toks AS toks FROM documents),
       |st AS (SELECT COUNT(*) AS n_docs,
       |        SUM(len(toks))::DOUBLE / COUNT(*) AS avgdl FROM t),
       |q0 AS (SELECT doc_id AS query_id,
       |        unnest(toks[1:$BmTerms]) AS term,
       |        unnest(generate_series(1, least(len(toks), $BmTerms))) AS pos
       |       FROM t WHERE doc_id % $BmQueryMod = 0),
       |q AS (SELECT query_id, term, MIN(pos) AS pos FROM q0 GROUP BY 1, 2),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
       |       FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
       |             FROM t)
       |       GROUP BY 1, 2),
       |post AS (SELECT tf.* FROM tf
       |         JOIN (SELECT DISTINCT term FROM q) v USING (term)),
       |dfq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY 1),
       |contrib AS (
       |  SELECT q.query_id, q.pos, p.doc_id,
       |    ((st.n_docs::DOUBLE - dfq.df + CAST(0.5 AS DOUBLE))
       |        / (dfq.df + CAST(0.5 AS DOUBLE))) *
       |    ((p.tf * CAST($kk1 AS DOUBLE)) /
       |      (p.tf + CAST($BmK1 AS DOUBLE) * (CAST($omb AS DOUBLE)
       |        + CAST($BmB AS DOUBLE) * (p.dl / st.avgdl)))) AS c
       |  FROM post p JOIN dfq USING (term) JOIN q USING (term), st
       |  WHERE p.doc_id != q.query_id),
       |summed AS (SELECT query_id, doc_id, $cMax FROM contrib GROUP BY 1, 2),
       |sc AS (SELECT query_id, doc_id, $cSum AS score FROM summed),
       |lexr AS (
       |  SELECT query_id, doc_id, score,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS rnk
       |  FROM sc)""".stripMargin
  }

  private val p57Sql =
    s"""WITH $bm25RankedCtes
       |SELECT query_id, CAST(rnk AS INT) AS rnk, doc_id, score
       |FROM lexr WHERE rnk <= $TopK""".stripMargin

  /** Store-served BM25, oracle-gated by p57's SQL: the SAME queries
    * answered from the persisted posting index
    * ([[graft.operators.PostingIndex.topK]]) instead of the in-memory
    * corpus scan. Serving goes through the identical scoring core
    * ([[graft.operators.Corpus.bm25Score]] — shared, not re-derived),
    * so the doubles match the oracle bit-for-bit; the index build is
    * memoized on the corpus fingerprint like every store query. */
  private def p64(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    import spark.implicits._
    val fp = docsFingerprint(docs)
    memoizedBuild(spark, "graft_p64_fp", fp,
        Seq("graft_p64_post", "graft_p64_stats", "graft_p64_meta")) {
      graft.operators.PostingIndex.build(docs, "doc_id", "text", "graft_p64")
    }
    graft.operators.PostingIndex.topK(
      docs.filter(col("doc_id") % BmQueryMod === 0),
      "doc_id", "text", "graft_p64", BmTerms, TopK, k1 = BmK1, b = BmB)
  }

  /** Count-min sketch df estimation, oracle-gated: build the depth ×
    * width counter matrix over doc-distinct trigrams, then answer
    * point df queries for the probe docs' trigrams — the dictionary-
    * free frequency oracle ([[graft.operators.Corpus.cmsNgramMatrix]]).
    * Pure integer sums, so the whole sketch (build AND probe) replays
    * bit-exactly in SQL. */
  private def p58(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    val matrix = graft.operators.Corpus.cmsNgramMatrix(
      docs, "doc_id", "text", BoilerN, CmsDepth, CmsWidth)
    val cands = Dedup
      .shingleDocs(docs.filter(col("doc_id") % CmsProbeMod === 0),
        "doc_id", "text", BoilerN)
      .select(explode(col("shingles")).as("ngram")).distinct()
    graft.operators.Corpus.cmsEstimateDf(
      matrix, cands, "ngram", CmsDepth, CmsWidth)
  }

  private val p58Sql = {
    val sh = shinglesSql(toksSql(normSql("text")), BoilerN)
    def bkt(row: String, g: String) =
      s"(${hash32Sql(s"'cms' || $row || ':' || $g")} % $CmsWidth)"
    s"""WITH sh AS (SELECT doc_id, $sh AS shingles FROM documents),
       |g AS (SELECT unnest(shingles) AS ngram FROM sh),
       |rg AS (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS rw,
       |         ngram FROM g),
       |m AS (SELECT rw, ${bkt("rw", "ngram")} AS bucket, COUNT(*) AS cnt
       |      FROM rg GROUP BY 1, 2),
       |c AS (SELECT DISTINCT ngram FROM (
       |        SELECT unnest(shingles) AS ngram FROM sh
       |        WHERE doc_id % $CmsProbeMod = 0)),
       |cr AS (SELECT ngram, unnest(generate_series(0, ${CmsDepth - 1}))
       |         AS rw FROM c),
       |cb AS (SELECT ngram, rw, ${bkt("rw", "ngram")} AS bucket FROM cr)
       |SELECT ngram, MIN(COALESCE(cnt, 0)) AS df_est
       |FROM cb LEFT JOIN m USING (rw, bucket)
       |GROUP BY ngram""".stripMargin
  }

  /** Entity resolution, oracle-gated: blocked fuzzy self-join over the
    * DISTINCT canonical part names — token blocking, cross-block pair
    * dedup, then the exact-integer levenshtein gate
    * ([[graft.operators.Resolve.fuzzyNamePairs]]). Both engines run
    * the same DP edit distance, so the pair set matches exactly. */
  private def p59(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Resolve.fuzzyNamePairs(
      Tables.df(spark, dir, "part"), "p_partkey", "p_name",
      ResolveMaxDist)

  /** Shared oracle CTEs for the entity-resolution stages: canonical
    * name groups over `part`, token blocking with the 1000-name cap,
    * cross-block-deduped candidate pairs, and the levenshtein gate —
    * the SQL mirror of Resolve.canonicalNames + fuzzyNamePairs. */
  private val resolveCtes = {
    val toks = toksSql("name")
    s"""names AS (
       |  SELECT name, MIN(rid) AS rep_id, COUNT(*) AS n_recs FROM (
       |    SELECT ${normSql("p_name")} AS name, p_partkey AS rid
       |    FROM part) n
       |  WHERE length(name) > 0 GROUP BY name),
       |blocks AS (
       |  SELECT name, unnest(list_distinct($toks)) AS blk FROM names),
       |bsz AS (SELECT blk FROM blocks GROUP BY blk
       |        HAVING COUNT(*) <= 1000),
       |kept AS (SELECT b.blk, b.name FROM blocks b JOIN bsz USING (blk)),
       |cand AS (
       |  SELECT DISTINCT a.name AS name_a, b.name AS name_b
       |  FROM kept a JOIN kept b ON a.blk = b.blk AND a.name < b.name),
       |d AS (
       |  SELECT name_a, name_b,
       |    CAST(levenshtein(name_a, name_b) AS INT) AS dist
       |  FROM cand)""".stripMargin
  }

  private val p59Sql =
    s"""WITH $resolveCtes
       |SELECT d.name_a, d.name_b, d.dist, na.rep_id AS id_a,
       |  nb.rep_id AS id_b, na.n_recs AS n_a, nb.n_recs AS n_b
       |FROM d
       |JOIN names na ON na.name = d.name_a
       |JOIN names nb ON nb.name = d.name_b
       |WHERE d.dist <= $ResolveMaxDist""".stripMargin

  /** Entity-id assignment, oracle-gated: the fuzzy pair graph closed
    * transitively, every part record labeled with the min reachable
    * record id of its entity ([[graft.operators.Resolve.entityIds]]).
    * The Spark side runs the scale-adaptive CC (single-task union-find
    * here, pointer-doubling at 10^9 edges); the oracle closes the same
    * rep-id edges with a recursive CTE — both converge to the same
    * min-id labels, so the match is exact. */
  private def p60(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Resolve.entityIds(
      Tables.df(spark, dir, "part"), "p_partkey", "p_name",
      ResolveMaxDist)

  private val p60Sql =
    s"""WITH RECURSIVE
       |$resolveCtes,
       |e AS (
       |  SELECT na.rep_id AS id_a, nb.rep_id AS id_b
       |  FROM d
       |  JOIN names na ON na.name = d.name_a
       |  JOIN names nb ON nb.name = d.name_b
       |  WHERE d.dist <= $ResolveMaxDist),
       |und AS (SELECT id_a AS u, id_b AS v FROM e
       |        UNION SELECT id_b, id_a FROM e),
       |reach AS (
       |  SELECT u, v FROM und
       |  UNION
       |  SELECT r.u, e2.v FROM reach r JOIN und e2 ON r.v = e2.u
       |  WHERE r.u != e2.v),
       |cl AS (
       |  SELECT n.u AS rep_id, least(n.u, MIN(r.v)) AS cluster_id
       |  FROM (SELECT DISTINCT u FROM und) n
       |  JOIN reach r ON r.u = n.u
       |  GROUP BY n.u),
       |ne AS (
       |  SELECT names.name,
       |    COALESCE(cl.cluster_id, names.rep_id) AS entity_id
       |  FROM names LEFT JOIN cl USING (rep_id))
       |SELECT p.rid, p.name, ne.entity_id
       |FROM (SELECT p_partkey AS rid, ${normSql("p_name")} AS name
       |      FROM part) p
       |JOIN ne USING (name)""".stripMargin

  /** Survivorship, oracle-gated: one golden record per resolved
    * entity — canonical name and attributes survive by deterministic
    * mode (count DESC, value ASC), never first-row-wins
    * ([[graft.operators.Resolve.goldenRecords]]). The oracle extends
    * p60's entity CTEs with per-attribute mode windows. */
  private def p63(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Resolve.goldenRecords(
      Tables.df(spark, dir, "part"), "p_partkey", "p_name",
      ResolveMaxDist, Seq("p_brand", "p_size"))

  private val p63Sql =
    s"""WITH RECURSIVE
       |$resolveCtes,
       |e AS (
       |  SELECT na.rep_id AS id_a, nb.rep_id AS id_b
       |  FROM d
       |  JOIN names na ON na.name = d.name_a
       |  JOIN names nb ON nb.name = d.name_b
       |  WHERE d.dist <= $ResolveMaxDist),
       |und AS (SELECT id_a AS u, id_b AS v FROM e
       |        UNION SELECT id_b, id_a FROM e),
       |reach AS (
       |  SELECT u, v FROM und
       |  UNION
       |  SELECT r.u, e2.v FROM reach r JOIN und e2 ON r.v = e2.u
       |  WHERE r.u != e2.v),
       |cl AS (
       |  SELECT n.u AS rep_id, least(n.u, MIN(r.v)) AS cluster_id
       |  FROM (SELECT DISTINCT u FROM und) n
       |  JOIN reach r ON r.u = n.u
       |  GROUP BY n.u),
       |ne AS (
       |  SELECT names.name,
       |    COALESCE(cl.cluster_id, names.rep_id) AS entity_id
       |  FROM names LEFT JOIN cl USING (rep_id)),
       |rec AS (
       |  SELECT ne.entity_id, p.name, p.p_brand, p.p_size
       |  FROM (SELECT p_partkey AS rid, ${normSql("p_name")} AS name,
       |          p_brand, p_size FROM part) p
       |  JOIN ne USING (name)),
       |base AS (SELECT entity_id, COUNT(*) AS n_records FROM rec
       |         GROUP BY 1),
       |nm0 AS (SELECT entity_id, name, COUNT(*) AS cnt FROM rec
       |        GROUP BY 1, 2),
       |nm AS (SELECT entity_id, name AS canonical_name FROM (
       |         SELECT entity_id, name, ROW_NUMBER() OVER (
       |           PARTITION BY entity_id ORDER BY cnt DESC, name) AS rk
       |         FROM nm0) WHERE rk = 1),
       |b0 AS (SELECT entity_id, p_brand, COUNT(*) AS cnt FROM rec
       |       WHERE p_brand IS NOT NULL GROUP BY 1, 2),
       |b AS (SELECT entity_id, p_brand FROM (
       |        SELECT entity_id, p_brand, ROW_NUMBER() OVER (
       |          PARTITION BY entity_id ORDER BY cnt DESC, p_brand) AS rk
       |        FROM b0) WHERE rk = 1),
       |s0 AS (SELECT entity_id, p_size, COUNT(*) AS cnt FROM rec
       |       WHERE p_size IS NOT NULL GROUP BY 1, 2),
       |s AS (SELECT entity_id, p_size FROM (
       |        SELECT entity_id, p_size, ROW_NUMBER() OVER (
       |          PARTITION BY entity_id ORDER BY cnt DESC, p_size) AS rk
       |        FROM s0) WHERE rk = 1)
       |SELECT base.entity_id, base.n_records, nm.canonical_name,
       |  b.p_brand, s.p_size
       |FROM base
       |JOIN nm USING (entity_id)
       |LEFT JOIN b USING (entity_id)
       |LEFT JOIN s USING (entity_id)""".stripMargin

  /** CMS-filtered exact heavy hitters, oracle-gated: grams whose
    * document frequency reaches HhMinDf, found through the map-side
    * count-min pre-filter ([[graft.operators.Corpus.cmsHeavyHitters]]).
    * The sketch over-counts only, so the exact recount of survivors is
    * provably the full answer; the oracle replays matrix, estimates,
    * and exact df in pure integers. */
  private def p61(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.cmsHeavyHitters(
      Tables.df(spark, dir, "documents"), "doc_id", "text",
      BoilerN, CmsDepth, CmsWidth, HhMinDf)

  private val p61Sql = {
    val sh = shinglesSql(toksSql(normSql("text")), BoilerN)
    def bkt(row: String, g: String) =
      s"(${hash32Sql(s"'cms' || $row || ':' || $g")} % $CmsWidth)"
    s"""WITH sh AS (SELECT doc_id, $sh AS shingles FROM documents),
       |g AS (SELECT doc_id, unnest(shingles) AS ngram FROM sh),
       |rg AS (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS rw,
       |         ngram FROM g),
       |m AS (SELECT rw, ${bkt("rw", "ngram")} AS bucket, COUNT(*) AS cnt
       |      FROM rg GROUP BY 1, 2),
       |hh AS (SELECT ngram, COUNT(*) AS df FROM g GROUP BY 1
       |       HAVING COUNT(*) >= $HhMinDf),
       |hr AS (SELECT ngram, df,
       |         unnest(generate_series(0, ${CmsDepth - 1})) AS rw
       |       FROM hh),
       |hb AS (SELECT ngram, df, rw, ${bkt("rw", "ngram")} AS bucket
       |       FROM hr)
       |SELECT ngram, MAX(df) AS df, MIN(COALESCE(m.cnt, 0)) AS df_est
       |FROM hb LEFT JOIN m USING (rw, bucket)
       |GROUP BY ngram""".stripMargin
  }

  /** Store-served heavy hitters, oracle-gated by p61's SQL: the same
    * exact answer, but the gate counters come from the PERSISTED
    * [[graft.operators.CmsStore]] (accumulated once, memoized on the
    * corpus fingerprint) instead of a per-query matrix build — the
    * incremental-ingest serving shape. Exactness does not depend on
    * the store being fresh (the recount is authoritative); the oracle
    * equality here additionally pins that the stored counters ARE the
    * from-scratch matrix, i.e. cmsMerge distributivity survived the
    * store round-trip. */
  private def p65(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    import spark.implicits._
    val fp = docsFingerprint(docs)
    memoizedBuild(spark, "graft_p65_fp", fp,
        Seq("graft_p65_cms", "graft_p65_meta")) {
      graft.operators.CmsStore.build(docs, "doc_id", "text", "graft_p65",
        BoilerN, CmsDepth, CmsWidth)
    }
    graft.operators.CmsStore.heavyHitters(
      docs, "doc_id", "text", "graft_p65", HhMinDf)
  }

  /** Leakage-safe split, oracle-gated: the p13 near-dup clusters become
    * the split key, so no near-dup family straddles train/test
    * ([[graft.operators.Corpus.splitByGroup]]). The oracle replays the
    * capped pair generation, closes clusters with the recursive CTE,
    * and re-runs the md5 bucket split on the group key. */
  private def p62(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    val clusters = graft.operators.Clusters.connectedComponents(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", ShingleN,
        JaccardNum, JaccardDen, maxDocFreq = Some(JaccardMaxDf)))
    graft.operators.Corpus.splitByGroup(docs, "doc_id", "text", clusters)
  }

  private val p62Sql = {
    val toks = toksSql(normSql("text"))
    val bucket = s"(${hash32Sql("CAST(grp_key AS VARCHAR)")} % 100)"
    s"""WITH RECURSIVE
       |${cappedPairsCtes("documents", JaccardMaxDf)},
       |und AS (SELECT ida AS u, idb AS v FROM pairs
       |        UNION SELECT idb, ida FROM pairs),
       |reach AS (
       |  SELECT u, v FROM und
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u
       |  WHERE r.u != e.v),
       |cl AS (SELECT n.u AS doc_id, least(n.u, MIN(r.v)) AS cluster_id
       |       FROM (SELECT DISTINCT u FROM und) n
       |       JOIN reach r ON r.u = n.u
       |       GROUP BY n.u),
       |k AS (SELECT d.doc_id,
       |        COALESCE(cl.cluster_id, d.doc_id) AS grp_key,
       |        len($toks) AS n
       |      FROM documents d LEFT JOIN cl USING (doc_id))
       |SELECT CASE WHEN $bucket < 80 THEN 'train'
       |            WHEN $bucket < 90 THEN 'val'
       |            ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs,
       |  COUNT(DISTINCT grp_key) AS n_groups,
       |  SUM(n)::BIGINT AS total_tokens
       |FROM k GROUP BY 1""".stripMargin
  }

  // hybrid retrieval: each branch contributes its top-RrfPoolK list,
  // fused by reciprocal rank with the standard c = 60
  private val RrfPoolK = 10
  private val RrfC = 60

  /** Hybrid retrieval, oracle-gated: BM25 (p57's lexical branch over
    * `documents`) and exact cosine (p06's dense branch over the
    * id-aligned `embeddings`) each rank the corpus for the SAME query
    * docs; [[graft.operators.Corpus.rrfFuse]] combines the two
    * top-[[RrfPoolK]] lists by reciprocal rank. The oracle splices the
    * shared [[bm25RankedCtes]] block with a p06-style cosine ranking
    * and replays the fixed-branch-order 1/(c+rank) sum exactly — ranks
    * are integers, so the fused doubles are bit-identical. A query doc
    * whose embedding is zero-norm (cosine undefined) simply has no
    * dense branch, identically in both engines. */
  private def p66(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    val emb = Tables.df(spark, dir, "embeddings")
    val lex = graft.operators.Corpus
      .bm25TopK(docs, "doc_id", "text",
        col("doc_id") % BmQueryMod === 0, BmTerms, RrfPoolK,
        k1 = BmK1, b = BmB)
      .select(col("query_id"), col("doc_id").as("item_id"), col("rnk"))
    val vec = Similarity
      .bruteForceTopK(emb.filter(col("vec_id") % BmQueryMod === 0), emb,
        "vec_id", "embedding", RrfPoolK)
      .select(col("query_id"), col("neighbor_id").as("item_id"),
        col("rank").as("rnk"))
    graft.operators.Corpus.rrfFuse(Seq(lex, vec), TopK, c = RrfC)
  }

  private val p66Sql =
    s"""WITH $bm25RankedCtes,
       |ev AS (SELECT vec_id, embedding FROM embeddings
       |       WHERE ${dotSql("embedding", "embedding")} > 0),
       |evq AS (SELECT * FROM ev WHERE vec_id % $BmQueryMod = 0),
       |vsc AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS item_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS cos
       |  FROM evq q JOIN ev c ON q.vec_id != c.vec_id),
       |vecr AS (
       |  SELECT query_id, item_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, item_id) AS rnk
       |  FROM vsc),
       |u AS (
       |  SELECT query_id, doc_id AS item_id, 0 AS br,
       |    CAST(1.0 AS DOUBLE) / ($RrfC + rnk) AS contrib
       |  FROM lexr WHERE rnk <= $RrfPoolK
       |  UNION ALL
       |  SELECT query_id, item_id, 1 AS br,
       |    CAST(1.0 AS DOUBLE) / ($RrfC + rnk) AS contrib
       |  FROM vecr WHERE rnk <= $RrfPoolK),
       |f AS (
       |  SELECT query_id, item_id,
       |    coalesce(MAX(CASE WHEN br = 0 THEN contrib END),
       |             CAST(0.0 AS DOUBLE))
       |  + coalesce(MAX(CASE WHEN br = 1 THEN contrib END),
       |             CAST(0.0 AS DOUBLE)) AS rrf
       |  FROM u GROUP BY 1, 2)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, item_id, rrf FROM (
       |  SELECT query_id, item_id, rrf,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rrf DESC, item_id) AS rnk
       |  FROM f)
       |WHERE rnk <= $TopK""".stripMargin

  // MMR diversification: shortlist depth and trade-off weight
  private val MmrPoolK = 15
  private val MmrLambda = 0.5

  /** MMR diversified rerank, oracle-gated: greedy
    * maximal-marginal-relevance selection over each query's cosine
    * shortlist ([[graft.operators.Similarity.mmrRerank]]). Greedy
    * selection is sequential in k, so the oracle unrolls the k rounds
    * as CTE layers — anti-join away the picks so far, per-candidate
    * MAX pairwise cosine against them, λ·rel − (1−λ)·maxSim argmax —
    * exactly the relational rounds the Spark plan runs. λ = 0.5 halves
    * exactly, MAX over doubles is merge-order-free, and all cosines
    * are the shared sequential fold, so every mmr double matches
    * bit-for-bit. */
  private def p67(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.df(spark, dir, "embeddings")
    Similarity.mmrRerank(emb.filter(col("vec_id") % 50 === 0), emb,
      "vec_id", "embedding", MmrPoolK, TopK, MmrLambda)
  }

  private val p67Sql = {
    def mmr(rel: String, ms: String) =
      s"CAST($MmrLambda AS DOUBLE) * $rel" +
        s" - CAST(${1.0 - MmrLambda} AS DOUBLE) * $ms"
    def pick(i: Int, src: String, msim: String) =
      s"""s$i AS (
         |  SELECT query_id, item_id, mmr, CAST($i AS INT) AS rnk FROM (
         |    SELECT query_id, item_id, mmr,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY mmr DESC, item_id) AS r
         |    FROM (SELECT query_id, item_id, ${mmr("rel", msim)} AS mmr
         |          FROM $src))
         |  WHERE r = 1)""".stripMargin
    val rounds = (2 to TopK).map { i =>
      s"""rem$i AS (
         |  SELECT s.query_id, s.item_id, s.rel FROM sh s
         |  ANTI JOIN a${i - 1} p
         |    ON s.query_id = p.query_id AND s.item_id = p.item_id),
         |ms$i AS (
         |  SELECT r.query_id, r.item_id, r.rel,
         |    MAX(${cosSql("vc.embedding", "vs.embedding")}) AS msim
         |  FROM rem$i r
         |  JOIN a${i - 1} p ON p.query_id = r.query_id
         |  JOIN ev vc ON vc.vec_id = r.item_id
         |  JOIN ev vs ON vs.vec_id = p.item_id
         |  GROUP BY 1, 2, 3),
         |${pick(i, s"ms$i", "msim")},
         |a$i AS (SELECT * FROM a${i - 1} UNION ALL SELECT * FROM s$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (SELECT vec_id, embedding FROM embeddings
       |       WHERE ${dotSql("embedding", "embedding")} > 0),
       |evq AS (SELECT * FROM ev WHERE vec_id % 50 = 0),
       |sh0 AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS item_id,
       |    ${cosSql("q.embedding", "c.embedding")} AS rel
       |  FROM evq q JOIN ev c ON q.vec_id != c.vec_id),
       |sh AS (SELECT query_id, item_id, rel FROM (
       |    SELECT query_id, item_id, rel,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY rel DESC, item_id) AS r
       |    FROM sh0)
       |  WHERE r <= $MmrPoolK),
       |${pick(1, "sh", "CAST(0.0 AS DOUBLE)")},
       |a1 AS (SELECT * FROM s1),
       |$rounds
       |SELECT query_id, rnk, item_id, mmr FROM a$TopK""".stripMargin
  }

  /** Store-served hybrid retrieval, oracle-gated: the SAME fusion as
    * p66 but with BOTH branches answered from persisted indexes — BM25
    * from the posting index (p64's `graft_p64`, shared fingerprint →
    * shared build) and dense ANN from a full-corpus IVF cell store
    * ([[graft.operators.IvfIndex.topK]], hash centroids, nProbe
    * probes). This is the end-to-end serving story: retrieval never
    * re-tokenizes the corpus and never re-reads raw embeddings outside
    * the probed cells. The dense branch is IVF-approximate, and the
    * oracle replays exactly that — p14's centroid/assignment/probe
    * CTEs at the hybrid query set — fused with the shared
    * [[bm25RankedCtes]] block by the same fixed-branch-order
    * reciprocal-rank sum. */
  private def p66b(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val embs = Tables.df(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    import spark.implicits._
    val fpD = docsFingerprint(docs)
    memoizedBuild(spark, "graft_p64_fp", fpD,
        Seq("graft_p64_post", "graft_p64_stats", "graft_p64_meta")) {
      graft.operators.PostingIndex.build(docs, "doc_id", "text", "graft_p64")
    }
    val lex = graft.operators.PostingIndex.topK(
        docs.filter(col("doc_id") % BmQueryMod === 0), "doc_id", "text",
        "graft_p64", BmTerms, RrfPoolK, k1 = BmK1, b = BmB)
      .select(col("query_id"), col("doc_id").as("item_id"), col("rnk"))
    // vector-content fingerprint, p44's discipline (id-only keys reuse
    // the wrong corpus' index after a same-JVM SF switch)
    val fpV = embFingerprint(embs)
    memoizedBuild(spark, "graft_p66_fp", fpV,
        Seq("graft_p66_cells", "graft_p66_cent")) {
      graft.operators.IvfIndex.build(embs, "vec_id", "embedding",
        "graft_p66", nCells = IvfCells)
    }
    val vec = graft.operators.IvfIndex.topK(
        embs.filter(col("vec_id") % BmQueryMod === 0), "vec_id",
        "embedding", "graft_p66", RrfPoolK, nProbe = IvfProbe)
      .select(col("query_id"), col("neighbor_id").as("item_id"),
        col("rank").as("rnk"))
    graft.operators.Corpus.rrfFuse(Seq(lex, vec), TopK, c = RrfC)
  }

  private val p66bSql =
    s"""WITH $bm25RankedCtes,
       |ev AS (SELECT vec_id, embedding FROM embeddings
       |       WHERE ${dotSql("embedding", "embedding")} > 0),
       |cent AS (
       |  SELECT vec_id AS list_id, embedding AS centroid FROM ev
       |  ORDER BY ${hash32Sql("CAST(vec_id AS VARCHAR)")}, vec_id
       |  LIMIT $IvfCells),
       |assigned AS (
       |  SELECT list_id, vec_id, embedding FROM (
       |    SELECT c.list_id, v.vec_id, v.embedding,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosSql("v.embedding", "c.centroid")} DESC, c.list_id) AS r
       |    FROM ev v, cent c)
       |  WHERE r = 1),
       |probes AS (
       |  SELECT query_id, qv, list_id FROM (
       |    SELECT q.vec_id AS query_id, q.embedding AS qv, c.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosSql("q.embedding", "c.centroid")} DESC, c.list_id) AS r
       |    FROM ev q, cent c WHERE q.vec_id % $BmQueryMod = 0)
       |  WHERE r <= $IvfProbe),
       |vecr AS (
       |  SELECT query_id, neighbor_id AS item_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS rnk
       |  FROM (
       |    SELECT p.query_id, a.vec_id AS neighbor_id,
       |      ${cosSql("p.qv", "a.embedding")} AS cos
       |    FROM probes p JOIN assigned a USING (list_id)
       |    WHERE p.query_id != a.vec_id)),
       |u AS (
       |  SELECT query_id, doc_id AS item_id, 0 AS br,
       |    CAST(1.0 AS DOUBLE) / ($RrfC + rnk) AS contrib
       |  FROM lexr WHERE rnk <= $RrfPoolK
       |  UNION ALL
       |  SELECT query_id, item_id, 1 AS br,
       |    CAST(1.0 AS DOUBLE) / ($RrfC + rnk) AS contrib
       |  FROM vecr WHERE rnk <= $RrfPoolK),
       |f AS (
       |  SELECT query_id, item_id,
       |    coalesce(MAX(CASE WHEN br = 0 THEN contrib END),
       |             CAST(0.0 AS DOUBLE))
       |  + coalesce(MAX(CASE WHEN br = 1 THEN contrib END),
       |             CAST(0.0 AS DOUBLE)) AS rrf
       |  FROM u GROUP BY 1, 2)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, item_id, rrf FROM (
       |  SELECT query_id, item_id, rrf,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rrf DESC, item_id) AS rnk
       |  FROM f)
       |WHERE rnk <= $TopK""".stripMargin

  // drift monitor: token-count histogram bin width
  private val DriftBinW = 8L

  /** Corpus drift monitor, oracle-gated: per-language chi-square of the
    * odd-doc half's token-length histogram against the even-doc half
    * ([[graft.operators.Corpus.histogramDrift]] — in production the
    * two sides are yesterday's snapshot and today's batch; the halves
    * make a deterministic fixture). Counts are integers, expected
    * masses one exact division each, and the per-group sum folds terms
    * in bin order (sort_array + aggregate ↔ list_sort + list_reduce),
    * so the chi-square doubles replay bit-exactly. */
  private def p69(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.df(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(TextFns.tokens(TextFns.normText(col("text")))).cast("long")
          .as("ntok"))
    graft.operators.Corpus.histogramDrift(
      t.filter(col("doc_id") % 2 === 0), t.filter(col("doc_id") % 2 =!= 0),
      "lang", "ntok", DriftBinW)
  }

  private val p69Sql = {
    val toks = toksSql(normSql("text"))
    s"""WITH t AS (SELECT doc_id, lang, len($toks) AS ntok FROM documents),
       |hr AS (SELECT lang AS grp, ntok // $DriftBinW AS bin, COUNT(*) AS r
       |       FROM t WHERE doc_id % 2 = 0 GROUP BY 1, 2),
       |hc AS (SELECT lang AS grp, ntok // $DriftBinW AS bin, COUNT(*) AS o
       |       FROM t WHERE doc_id % 2 != 0 GROUP BY 1, 2),
       |j AS (SELECT COALESCE(hr.grp, hc.grp) AS grp,
       |        COALESCE(hr.bin, hc.bin) AS bin,
       |        COALESCE(r, 0) AS r, COALESCE(o, 0) AS o
       |      FROM hr FULL OUTER JOIN hc
       |        ON hr.grp = hc.grp AND hr.bin = hc.bin),
       |tt AS (SELECT grp, SUM(r)::BIGINT AS n_ref, SUM(o)::BIGINT AS n_cur,
       |         COUNT(*) AS n_bins
       |       FROM j GROUP BY 1),
       |tm AS (SELECT grp, bin, n_ref, n_cur, n_bins,
       |         (o - e) * (o - e) / e AS t2
       |       FROM (SELECT j.grp, j.bin, j.o, tt.n_ref, tt.n_cur, tt.n_bins,
       |               (j.r + 1)::DOUBLE * tt.n_cur::DOUBLE
       |                 / (tt.n_ref + tt.n_bins)::DOUBLE AS e
       |             FROM j JOIN tt USING (grp)
       |             WHERE tt.n_cur > 0))
       |SELECT grp, n_ref, n_cur, n_bins, n_bins - 1 AS dof,
       |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(list_sort(list({'b': bin, 't': t2})), s -> s.t)),
       |    (x, y) -> x + y) AS chi2
       |FROM tm GROUP BY grp, n_ref, n_cur, n_bins""".stripMargin
  }

  // sampled quantiles: every 2nd doc by id-hash enters the sample
  private val SampleQMod = 2

  /** Sampled continuous quantiles, oracle-gated: per-language quartiles
    * of chars-per-token (a genuinely continuous ratio — distinct
    * values ≈ rows, where p24's exact histogram would degenerate)
    * over the deterministic hash sample
    * ([[graft.operators.Corpus.sampledQuantiles]]). The oracle replays
    * the selector, the sample histogram, and the exact rank/lerp
    * arithmetic of p24 on the sampled doubles. */
  private def p70(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.tokens(TextFns.normText(col("text")))
    val t = Tables.df(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"), size(toks).as("nt"))
      .filter(col("nt") > 0)
      .select(col("doc_id"), col("lang"),
        (col("n_chars").cast("double") / col("nt").cast("double"))
          .as("cpt"))
    graft.operators.Corpus.sampledQuantiles(t, "lang", "doc_id", "cpt",
      SampleQMod)
  }

  private val p70Sql = {
    val toks = toksSql(normSql("text"))
    val probs = Seq("p25" -> "0.25", "p50" -> "0.5", "p90" -> "0.9",
      "p99" -> "0.99")
    def idx(p: String, total: String) = s"CAST($p AS DOUBLE)*($total-1)"
    val los = probs.map { case (l, p) =>
      s"""    MIN(CASE WHEN cum >= floor(${idx(p, "total")})+1 THEN v END) AS lo_$l,
         |    MIN(CASE WHEN cum >= ceil(${idx(p, "total")})+1 THEN v END) AS hi_$l"""
        .stripMargin
    }.mkString(",\n")
    val qs = probs.map { case (l, p) =>
      s"""  lo_$l + (${idx(p, "tt.total")} - floor(${idx(p, "tt.total")}))
         |    * (hi_$l - lo_$l) AS $l""".stripMargin
    }.mkString(",\n")
    s"""WITH t0 AS (SELECT doc_id, lang, n_chars, len($toks) AS nt
       |            FROM documents),
       |s AS (SELECT lang AS grp,
       |        CAST(n_chars AS DOUBLE) / CAST(nt AS DOUBLE) AS v
       |      FROM t0
       |      WHERE nt > 0
       |        AND ${hash32Sql("CAST(doc_id AS VARCHAR)")} % $SampleQMod = 0),
       |h AS (SELECT grp, v, COUNT(*) AS cnt FROM s GROUP BY 1, 2),
       |tt AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS total,
       |         MIN(v) AS min_v, MAX(v) AS max_v
       |       FROM h GROUP BY 1),
       |c AS (SELECT h.grp, h.v, h.cnt, tt.total,
       |        SUM(h.cnt) OVER (PARTITION BY h.grp ORDER BY h.v
       |          ROWS UNBOUNDED PRECEDING) AS cum
       |      FROM h JOIN tt USING (grp)),
       |a AS (SELECT grp,
       |$los
       |  FROM c GROUP BY grp)
       |SELECT a.grp, tt.total AS n_sampled, tt.min_v, tt.max_v,
       |$qs
       |FROM a JOIN tt USING (grp)""".stripMargin
  }

  // quality trim band: keep the [10%, 99%] chars-per-token band
  private val TrimLo = "0.1"
  private val TrimHi = "0.99"

  /** Per-group quantile trim, oracle-gated: the quality-bucket
    * curation step ([[graft.operators.Corpus.quantileTrim]]) — keep
    * only docs whose chars-per-token ratio lies inside their
    * language's sampled [10%, 99%] quantile band (drops both the
    * degenerate-short tail and the outlier top percentile, per
    * domain, without sorting the corpus). The oracle replays p70's
    * selector/histogram/rank-lerp chain at the band probabilities and
    * applies the identical BETWEEN filter. */
  private def p78(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.tokens(TextFns.normText(col("text")))
    val t = Tables.df(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"), size(toks).as("nt"))
      .filter(col("nt") > 0)
      .select(col("doc_id"), col("lang"),
        (col("n_chars").cast("double") / col("nt").cast("double"))
          .as("cpt"))
    graft.operators.Corpus.quantileTrim(t, "lang", "doc_id", "cpt",
      SampleQMod, loP = TrimLo.toDouble, hiP = TrimHi.toDouble)
  }

  private val p78Sql = {
    val toks = toksSql(normSql("text"))
    def idx(p: String, total: String) = s"CAST($p AS DOUBLE)*($total-1)"
    s"""WITH t0 AS (SELECT doc_id, lang, n_chars, len($toks) AS nt
       |            FROM documents),
       |r AS (SELECT doc_id, lang,
       |        CAST(n_chars AS DOUBLE) / CAST(nt AS DOUBLE) AS cpt
       |      FROM t0 WHERE nt > 0),
       |s AS (SELECT lang AS grp, cpt AS v FROM r
       |      WHERE ${hash32Sql("CAST(doc_id AS VARCHAR)")} % $SampleQMod = 0),
       |h AS (SELECT grp, v, COUNT(*) AS cnt FROM s GROUP BY 1, 2),
       |tt AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS total
       |       FROM h GROUP BY 1),
       |c AS (SELECT h.grp, h.v, h.cnt, tt.total,
       |        SUM(h.cnt) OVER (PARTITION BY h.grp ORDER BY h.v
       |          ROWS UNBOUNDED PRECEDING) AS cum
       |      FROM h JOIN tt USING (grp)),
       |a AS (SELECT grp,
       |    MIN(CASE WHEN cum >= floor(${idx(TrimLo, "total")})+1 THEN v END) AS lo_l,
       |    MIN(CASE WHEN cum >= ceil(${idx(TrimLo, "total")})+1 THEN v END) AS hi_l,
       |    MIN(CASE WHEN cum >= floor(${idx(TrimHi, "total")})+1 THEN v END) AS lo_h,
       |    MIN(CASE WHEN cum >= ceil(${idx(TrimHi, "total")})+1 THEN v END) AS hi_h
       |  FROM c GROUP BY grp),
       |th AS (SELECT a.grp,
       |  lo_l + (${idx(TrimLo, "tt.total")} - floor(${idx(TrimLo, "tt.total")}))
       |    * (hi_l - lo_l) AS lo,
       |  lo_h + (${idx(TrimHi, "tt.total")} - floor(${idx(TrimHi, "tt.total")}))
       |    * (hi_h - lo_h) AS hi
       |  FROM a JOIN tt USING (grp))
       |SELECT r.doc_id, r.lang, r.cpt
       |FROM r LEFT JOIN th ON r.lang = th.grp
       |WHERE th.grp IS NULL OR (r.cpt >= th.lo AND r.cpt <= th.hi)"""
      .stripMargin
  }

  // ---- multilingual text pipeline (p79/p80) -------------------------------

  /** Planted multilingual fixture rows (negative ids — disjoint from the
    * generated corpus, which is ASCII-only and would make a Unicode
    * oracle row vacuous): unsegmented Chinese, Japanese kana+kanji,
    * Hangul, Cyrillic, Arabic, Greek, Devanagari with combining vowel
    * signs, PRE-COMPOSED and explicitly DECOMPOSED Latin accents (the
    * ́-spelled row reaches both engines as the same decomposed
    * codepoints, so NFC composition itself is under test), full-width
    * forms + a ligature (NFC must NOT fold them — that's NFKC), and
    * empty/whitespace-only edges. Spliced VERBATIM into both the Spark
    * plan and the DuckDB VALUES clause, so both engines normalize
    * identical inputs. Deliberately absent: U+0130/final-sigma-in-caps
    * (the few codepoints where Java full case mapping and utf8proc's
    * per-codepoint lower() disagree — see TextFns.normTextUnicode). */
  private val MultilingualFixture: Seq[(Long, String)] = Seq(
    -1L -> "Привет МИР это тестовый документ на русском языке!",
    -2L -> "日本語のテキストです。カタカナとひらがなと漢字、句読点あり",
    -3L -> "这是一个中文测试文档，没有空格。标点符号！",
    -4L -> "مرحبا بالعالم هذا نص عربي للاختبار",
    -5L -> "한국어 텍스트 문서입니다",
    -6L -> "Café résumé naïve déjà vu — el niño español",
    -7L -> "Café résumé déjà vu",
    -8L -> "Ελληνικά κείμενο δοκιμής",
    -9L -> "नमस्ते दुनिया यह हिंदी पाठ है",
    -10L -> "Mixed English with 日本語 and Русский words, plus 123 numbers",
    -11L -> "ＦＵＬＬＷＩＤＴＨ ｔｅｘｔ １２３ and the ﬁne ligature",
    -12L -> "",
    -13L -> "   \t\n  ")

  private def fixtureValuesSql: String =
    MultilingualFixture.map { case (id, t) =>
      s"(CAST($id AS BIGINT), '${t.replace("'", "''")}')"
    }.mkString(", ")

  /** documents ∪ fixture — the input of both multilingual queries, at
    * every scale (the fixture exercises the Unicode paths; the corpus
    * keeps the queries honest about the ASCII fast path and volume). */
  private def docsWithFixture(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.df(spark, dir, "documents").select(col("doc_id"), col("text"))
      .unionByName(MultilingualFixture.toDF("doc_id", "text"))
  }

  /** DuckDB twin of TextFns.normTextUnicode (NFC form): nfc_normalize +
    * lower + CJK char spacing + [^\p{L}\p{M}\p{N}] strip + collapse.
    * RE2 script classes mirror Java's \p{IsX} spellings. */
  private def normUniSql(c: String) =
    s"trim(regexp_replace(regexp_replace(regexp_replace(" +
      s"lower(nfc_normalize($c)), " +
      "'([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'), " +
      "'[^\\p{L}\\p{M}\\p{N}]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Unicode-aware canonicalization, oracle-gated end-to-end: the full
    * graft_normalize(NFC) → lower → CJK-space → \p-class strip chain
    * hash-compared against DuckDB's independent implementation
    * (nfc_normalize + utf8proc lower + RE2) over the real corpus PLUS
    * the planted multilingual fixture. md5 hashes the normalized BYTES,
    * so a green row proves byte-identical normalization — the property
    * every md5-keyed operator downstream (dedup, shingles, BM25 terms,
    * BPE words) inherits when threading TextFns.unicodeNormalizer. */
  private def p79(spark: SparkSession, dir: String): DataFrame =
    docsWithFixture(spark, dir)
      .select(col("doc_id"),
        TextFns.normTextUnicode(col("text")).as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        size(TextFns.tokens(col("norm_text"))).cast("long").as("n_tokens"),
        md5(col("norm_text")).as("text_hash"))

  private val p79Sql =
    s"""WITH mul(doc_id, text) AS (VALUES $fixtureValuesSql),
       |u AS (SELECT doc_id, text FROM documents
       |      UNION ALL SELECT doc_id, text FROM mul),
       |n AS (SELECT doc_id, ${normUniSql("text")} AS norm_text FROM u)
       |SELECT doc_id, norm_text,
       |  CAST(len(${toksSql("norm_text")}) AS BIGINT) AS n_tokens,
       |  md5(norm_text) AS text_hash
       |FROM n""".stripMargin

  /** Shared multilingual base of p80/p81: (doc_id, toks, lang_pred)
    * over documents ∪ fixture — the [[TextFns.withLangPred]] scaffold
    * (NFC-normalized raw text feeds the script counts, the Unicode
    * token array feeds the Latin stopword fallback and p81's quality
    * features downstream). */
  private def multiBase(spark: SparkSession, dir: String): DataFrame =
    TextFns.withLangPred(docsWithFixture(spark, dir), "text",
      carry = Seq("doc_id"))

  /** The SQL twin of [[multiBase]]: CTE chain ending in
    * `lp(doc_id, toks, lang_pred)`. */
  private def multiBaseSql: String = {
    val scoreCols = TextFns.LatinProfiles.map { case (l, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(toks, tk -> list_contains($list, tk))) AS s_$l"
    }.mkString(",\n    ")
    val langs = TextFns.LatinProfiles.map(_._1)
    val latinCases = langs.init.map { l =>
      val beats = langs.filter(_ != l).map(o => s"s_$l >= s_$o")
        .mkString(" AND ")
      s"WHEN $beats THEN '$l'"
    }.mkString(" ")
    val scriptCnts = TextFns.ScriptLangs.map { case (lang, scripts, _, _) =>
      val cls = scripts.map(s => s"\\p{$s}").mkString
      s"length(nfc) - length(regexp_replace(nfc, '[$cls]', '', 'g')) AS c_$lang"
    }.mkString(",\n    ")
    val scriptCases = TextFns.ScriptLangs.map { case (lang, _, num, den) =>
      s"WHEN c_$lang * $den >= n_lm * $num THEN '$lang'"
    }.mkString("\n    ")
    s"""WITH mul(doc_id, text) AS (VALUES $fixtureValuesSql),
       |u AS (SELECT doc_id, text FROM documents
       |      UNION ALL SELECT doc_id, text FROM mul),
       |b AS (SELECT doc_id, nfc_normalize(text) AS nfc FROM u),
       |t AS (SELECT doc_id, nfc, ${toksSql(normUniSql("nfc"))} AS toks
       |      FROM b),
       |sc AS (SELECT doc_id, toks,
       |    length(nfc) - length(regexp_replace(nfc, '[\\p{L}\\p{M}]', '', 'g'))
       |      AS n_lm,
       |    $scriptCnts,
       |    $scoreCols
       |  FROM t),
       |lp AS (SELECT doc_id, toks,
       |  CASE WHEN n_lm IS NULL OR n_lm = 0 THEN 'und'
       |    $scriptCases
       |    ELSE CASE $latinCases ELSE '${langs.last}' END
       |  END AS lang_pred
       |  FROM sc)""".stripMargin
  }

  /** Script-aware language ID (TextFns.scriptLangId): codepoint-block
    * evidence decides non-Latin scripts (kana→ja before Han→zh, then
    * Hangul/Cyrillic/Arabic/Devanagari/Greek at 30% of letter+mark
    * chars — integer cross-multiplied, exact in both engines), no
    * letters at all → 'und', and Latin-script text falls through to
    * the p08 stopword argmax (en/de/fr/es). Replaces nothing: p08 stays
    * as the ASCII-profile baseline; this is the multilingual face. */
  private def p80(spark: SparkSession, dir: String): DataFrame =
    multiBase(spark, dir).select(col("doc_id"), col("lang_pred"))

  private val p80Sql =
    s"""$multiBaseSql
       |SELECT doc_id, lang_pred FROM lp""".stripMargin

  // language-aware quality gate: minimum tokens + per-language
  // stopword-ratio floor (1/20), waived for languages without a
  // profile (low-resource rule — no evidence is not failure)
  private val QualMinTokens = 3
  private val QualStopNum = 1
  private val QualStopDen = 20

  /** Language-AWARE quality gating — the multilingual face of p09:
    * stopword evidence only counts against the doc's OWN language's
    * profile (the p09 English list scores every non-English doc as
    * garbage), CJK profiles live in the char-token space the spacing
    * normalizer produces, and unprofiled languages waive the stopword
    * floor instead of failing it. Pure per-row maps over the shared
    * [[multiBase]]; exact integer cross-multiplication for the ratio
    * floor, so both engines agree bit-for-bit. */
  private def p81(spark: SparkSession, dir: String): DataFrame = {
    val profiles = TextFns.LatinProfiles ++ TextFns.ScriptProfiles
    val hits = profiles.foldRight(lit(null).cast("long")) {
      case ((l, words), rest) =>
        when(col("lang_pred") === l,
          TextFns.stopwordHits(col("toks"), words).cast("long"))
          .otherwise(rest)
    }
    multiBase(spark, dir)
      .select(col("doc_id"), col("lang_pred"),
        size(col("toks")).cast("long").as("n_tokens"),
        hits.as("stop_hits"))
      .select(col("doc_id"), col("lang_pred"), col("n_tokens"),
        col("stop_hits"),
        (col("n_tokens") >= QualMinTokens &&
          (col("stop_hits").isNull ||
            col("stop_hits") * QualStopDen >=
              col("n_tokens") * QualStopNum)).as("keep"))
  }

  private val p81Sql = {
    val profiles = TextFns.LatinProfiles ++ TextFns.ScriptProfiles
    val hitCases = profiles.map { case (l, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"WHEN lang_pred = '$l' THEN " +
        s"CAST(len(list_filter(toks, tk -> list_contains($list, tk))) AS BIGINT)"
    }.mkString("\n    ")
    s"""$multiBaseSql,
       |q AS (SELECT doc_id, lang_pred,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CASE $hitCases ELSE NULL END AS stop_hits
       |  FROM lp)
       |SELECT doc_id, lang_pred, n_tokens, stop_hits,
       |  (n_tokens >= $QualMinTokens AND (stop_hits IS NULL OR
       |    stop_hits * $QualStopDen >= n_tokens * $QualStopNum)) AS keep
       |FROM q""".stripMargin
  }

  // length-bucketed batching: rows per accelerator batch
  private val LenBatchSize = 16

  /** Length-bucketed batching, oracle-gated: per-batch padding
    * efficiency under (len, id)-ordered runs of [[LenBatchSize]]
    * ([[graft.operators.Corpus.lengthBatches]] — the global order via
    * the distributed prefix sum, never a single-partition window; the
    * oracle replays it as the one-partition ROW_NUMBER it is
    * semantically, the p51/p55 precedent). Pure integers. */
  private def p71(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.lengthBatches(
      Tables.df(spark, dir, "documents"), "doc_id", "text", LenBatchSize)

  private val p71Sql = {
    val toks = toksSql(normSql("text"))
    s"""WITH t AS (SELECT doc_id, len($toks) AS len FROM documents),
       |r AS (SELECT doc_id, len,
       |        ROW_NUMBER() OVER (ORDER BY len, doc_id) AS rn
       |      FROM t),
       |b AS (SELECT (rn - 1) // $LenBatchSize AS batch, len FROM r)
       |SELECT batch, COUNT(*) AS n_docs, MAX(len) AS max_len,
       |  SUM(len)::BIGINT AS sum_len,
       |  (COUNT(*) * MAX(len) - SUM(len))::BIGINT AS padding
       |FROM b GROUP BY 1""".stripMargin
  }

  // DSIR: hashed-ngram bucket count (fixed model size at any corpus SF)
  private val DsirBuckets = 512

  /** DSIR importance weights, oracle-gated: every document scored by
    * how English-like (lang='en' is the target domain) its hashed
    * unigram+bigram profile is ([[graft.operators.Corpus.dsirWeights]]).
    * The oracle rebuilds both bucket histograms, the add-one-smoothed
    * ratio table, and replays the per-doc fold in the identical
    * feature-position order (unigrams then bigrams — the p40 log-free
    * pattern), so the weight doubles hash-match bit-for-bit. */
  private def p72(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    // target = an in-corpus slice ⇒ the shared-feature-frame path: one
    // tokenize pass serves both histograms and the scoring (weights
    // bit-identical to dsirWeights(docs, docs.filter(…), …) — DsirSpec
    // pins the equality, the p72 oracle hash-gates the output)
    graft.operators.Corpus.dsirWeightsWithin(docs,
      col("lang") === "en", "doc_id", "text", DsirBuckets)
  }

  /** Shared CTE block: features → histograms → smoothed ratio list →
    * per-doc position-ordered fold. Ends with CTE `w(doc_id, n_feats,
    * weight)`. */
  private val dsirCtes = {
    val toks = toksSql(normSql("text"))
    val B = DsirBuckets
    s"""t AS (SELECT doc_id, lang, $toks AS toks FROM documents),
       |f AS (SELECT doc_id, lang,
       |        list_concat(
       |          list_transform(toks, tk -> ${hash32Sql("tk")} % $B),
       |          COALESCE(CASE WHEN len(toks) >= 2 THEN
       |            list_transform(range(0, len(toks) - 1),
       |              i -> ${hash32Sql("(toks[i+1] || ' ' || toks[i+2])")} % $B)
       |          END, []::BIGINT[])) AS fb
       |      FROM t),
       |src AS (SELECT b, COUNT(*) AS c
       |        FROM (SELECT unnest(fb) AS b FROM f) GROUP BY 1),
       |tgt AS (SELECT b, COUNT(*) AS c
       |        FROM (SELECT unnest(fb) AS b FROM f WHERE lang = 'en')
       |        GROUP BY 1),
       |tot AS (SELECT (SELECT COALESCE(SUM(c), 0) FROM src) AS st,
       |               (SELECT COALESCE(SUM(c), 0) FROM tgt) AS tt),
       |r AS (SELECT list(
       |        (CAST(COALESCE(tg.c, 0) + 1 AS DOUBLE) * CAST(st + $B AS DOUBLE))
       |        / (CAST(COALESCE(sr.c, 0) + 1 AS DOUBLE) * CAST(tt + $B AS DOUBLE))
       |        ORDER BY g.b) AS rl
       |      FROM generate_series(0, ${B - 1}) g(b)
       |      LEFT JOIN src sr ON sr.b = g.b
       |      LEFT JOIN tgt tg ON tg.b = g.b
       |      CROSS JOIN tot),
       |w AS (SELECT doc_id, CAST(len(fb) AS BIGINT) AS n_feats,
       |        CASE WHEN len(fb) > 0 THEN
       |          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |            list_transform(fb, x -> rl[x + 1])),
       |            (a, v) -> a + v) / CAST(len(fb) AS DOUBLE)
       |        END AS weight
       |      FROM f CROSS JOIN r)""".stripMargin
  }

  private val p72Sql =
    s"""WITH $dsirCtes
       |SELECT doc_id, n_feats, weight FROM w""".stripMargin

  /** DSIR importance resampling, oracle-gated: the deterministic
    * keep-with-probability-w/wmax acceptance test over the p72 weights
    * ([[graft.operators.Corpus.dsirSelect]]) — u·wmax < w·10^6 with a
    * hash-uniform u, one multiply each side. */
  private def p72b(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.dsirSelect(p72(spark, dir))

  private val p72bSql =
    s"""WITH $dsirCtes,
       |m AS (SELECT MAX(weight) AS wmax FROM w WHERE n_feats > 0)
       |SELECT doc_id, n_feats, weight
       |FROM w CROSS JOIN m
       |WHERE n_feats > 0
       |  AND CAST(${hash32Sql("('dsir|' || CAST(doc_id AS VARCHAR))")}
       |        % 1000000 AS DOUBLE) * wmax
       |      < weight * CAST(1000000 AS DOUBLE)""".stripMargin

  /** Cluster-balanced sample, oracle-gated: an exact-[[TopK]] quota
    * per embedding cluster ([[Similarity.clusterBalancedSample]] over
    * the p14 deterministic hash-centroid cells) — the SemDeDup/
    * DataComp topic-balance curation step: the sample covers the
    * embedding space's structure, not its frequency mass. The oracle
    * replays the centroid sample, the probe-1 assignment (cosine desc,
    * list_id tie-break), and the hash-order quota rank. */
  private def p73(spark: SparkSession, dir: String): DataFrame =
    Similarity.clusterBalancedSample(
      Tables.df(spark, dir, "embeddings"), "vec_id", "embedding",
      IvfCells, TopK)

  private val p73Sql =
    s"""WITH v AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  WHERE ${dotSql("embedding", "embedding")} > 0),
       |cent AS (
       |  SELECT vec_id AS list_id, embedding AS centroid FROM v
       |  ORDER BY ${hash32Sql("CAST(vec_id AS VARCHAR)")}, vec_id
       |  LIMIT $IvfCells),
       |a AS (
       |  SELECT list_id, vec_id FROM (
       |    SELECT c.list_id, v.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosSql("v.embedding", "c.centroid")} DESC,
       |          c.list_id) AS r
       |    FROM v, cent c)
       |  WHERE r = 1)
       |SELECT grp, doc_id, CAST(rnk AS INT) AS rnk FROM (
       |  SELECT list_id AS grp, vec_id AS doc_id,
       |    ROW_NUMBER() OVER (PARTITION BY list_id
       |      ORDER BY ${hash32Sql("CAST(vec_id AS VARCHAR)")}, vec_id)
       |      AS rnk
       |  FROM a)
       |WHERE rnk <= $TopK""".stripMargin

  /** Store-served DSIR weights, gated by p72's oracle SQL (the
    * p64/p65/p48 store-equivalence precedent): the
    * [[graft.operators.DsirStore]] built from the same corpus + target
    * must serve weights bit-identical to the one-shot operator —
    * proving the persisted histogram pair round-trips the model
    * exactly. Build memoized by corpus fingerprint. */
  private def p75(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    import spark.implicits._
    val fp = docsFingerprint(docs)
    memoizedBuild(spark, "graft_p75_fp", fp,
        Seq("graft_p75_tgt", "graft_p75_dsir", "graft_p75_meta")) {
      graft.operators.DsirStore.build(docs,
        docs.filter(col("lang") === "en"), "doc_id", "text",
        "graft_p75", DsirBuckets)
    }
    graft.operators.DsirStore.weights(docs, "doc_id", "text", "graft_p75")
  }

  // hard-negative mining: query subset + false-negative margin
  private val HardNegMod = 50
  private val HnMargin = 0.02

  /** Hard-negative mining, oracle-gated: contrastive (query, positive)
    * pairs — the deterministic (vec_id, vec_id+1) fixture over the
    * % [[HardNegMod]] query subset — each mined for the [[TopK]] most
    * similar candidates that are not the query, not a positive, and at
    * least [[HnMargin]] below the least-positive cosine
    * ([[Similarity.hardNegatives]]). Every cosine is the exact
    * dot/norm kernel and the margin gate one subtract + compare, so
    * the oracle replays pair construction, positive cosines, the
    * anti-joined candidate set, the gate, and the rank bit-exactly. */
  private def p74(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.df(spark, dir, "embeddings")
    val pairs = embs.filter(col("vec_id") % HardNegMod === 0)
      .select(col("vec_id").as("query_id"),
        (col("vec_id") + 1).as("pos_id"))
    Similarity.hardNegatives(pairs, embs, "vec_id", "embedding",
      TopK, HnMargin)
  }

  private val p74Sql =
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE ${dotSql("embedding", "embedding")} > 0),
       |p AS (SELECT vec_id AS query_id, vec_id + 1 AS pos_id
       |      FROM embeddings WHERE vec_id % $HardNegMod = 0),
       |pc AS (SELECT p.query_id,
       |         MIN(${cosSql("q.embedding", "o.embedding")}) AS pos_cos
       |       FROM p JOIN v q ON q.vec_id = p.query_id
       |              JOIN v o ON o.vec_id = p.pos_id
       |       GROUP BY 1),
       |qs AS (SELECT pc.query_id, pc.pos_cos, q.embedding AS qe
       |       FROM pc JOIN v q ON q.vec_id = pc.query_id),
       |c AS (SELECT qs.query_id, v.vec_id AS neighbor_id,
       |        ${cosSql("qs.qe", "v.embedding")} AS cos, qs.pos_cos
       |      FROM qs, v
       |      WHERE v.vec_id <> qs.query_id
       |        AND NOT EXISTS (SELECT 1 FROM p
       |              WHERE p.query_id = qs.query_id
       |                AND p.pos_id = v.vec_id)
       |        AND ${cosSql("qs.qe", "v.embedding")}
       |              < qs.pos_cos - $HnMargin)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, cos,
       |  pos_cos
       |FROM (SELECT query_id, neighbor_id, cos, pos_cos,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, neighbor_id) AS rnk
       |      FROM c)
       |WHERE rnk <= $TopK""".stripMargin

  /** Store-served cluster-balanced sample, gated by p73's oracle SQL
    * (the store-equivalence precedent): the
    * [[graft.operators.SampleStore]] built from the same corpus must
    * serve a sample bit-identical to the one-shot operator — proving
    * the persisted local-quota winners round-trip the min-k structure
    * exactly. Build memoized by vector-content fingerprint. */
  private def p76(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.df(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    import spark.implicits._
    val fpV = embFingerprint(embs)
    memoizedBuild(spark, "graft_p76_fp", fpV,
        Seq("graft_p76_cent", "graft_p76_smpl", "graft_p76_meta")) {
      graft.operators.SampleStore.build(embs, "vec_id", "embedding",
        "graft_p76", IvfCells, TopK)
    }
    graft.operators.SampleStore.sample(spark, "graft_p76")
  }

  // store-served hard negatives: ANN shortlist oversample
  private val HnPoolK = TopK * 4

  /** Store-served hard negatives, oracle-gated: the same gate and
    * ranking as p74 with the candidate stream answered by the
    * persisted IVF index (the p66b store, shared build) at a
    * [[HnPoolK]] oversample — the 100 TB form where the corpus never
    * rescans for candidate generation
    * ([[Similarity.hardNegativesFromShortlist]]). The oracle replays
    * the IVF shortlist with p14's CTE skeleton (assignment, probes,
    * in-cell exact-cosine rank) and then the identical pos-exclusion /
    * margin / rank algebra over it. */
  private def p74b(spark: SparkSession, dir: String): DataFrame = {
    val embs = Tables.df(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    import spark.implicits._
    val fpV = embFingerprint(embs)
    memoizedBuild(spark, "graft_p66_fp", fpV,
        Seq("graft_p66_cells", "graft_p66_cent")) {
      graft.operators.IvfIndex.build(embs, "vec_id", "embedding",
        "graft_p66", nCells = IvfCells)
    }
    val queries = embs.filter(col("vec_id") % HardNegMod === 0)
    val pairs = queries.select(col("vec_id").as("query_id"),
      (col("vec_id") + 1).as("pos_id"))
    val shortlist = graft.operators.IvfIndex.topK(queries, "vec_id",
      "embedding", "graft_p66", HnPoolK, nProbe = IvfProbe)
    Similarity.hardNegativesFromShortlist(shortlist, pairs, embs,
      "vec_id", "embedding", TopK, HnMargin)
  }

  private val p74bSql =
    s"""WITH v AS (SELECT vec_id, embedding FROM embeddings
       |           WHERE ${dotSql("embedding", "embedding")} > 0),
       |cent AS (
       |  SELECT vec_id AS list_id, embedding AS centroid FROM v
       |  ORDER BY ${hash32Sql("CAST(vec_id AS VARCHAR)")}, vec_id
       |  LIMIT $IvfCells),
       |assigned AS (
       |  SELECT list_id, vec_id, embedding FROM (
       |    SELECT c.list_id, v.vec_id, v.embedding,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${cosSql("v.embedding", "c.centroid")} DESC,
       |          c.list_id) AS r
       |    FROM v, cent c)
       |  WHERE r = 1),
       |probes AS (
       |  SELECT query_id, qv, list_id FROM (
       |    SELECT q.vec_id AS query_id, q.embedding AS qv, c.list_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosSql("q.embedding", "c.centroid")} DESC,
       |          c.list_id) AS r
       |    FROM v q, cent c WHERE q.vec_id % $HardNegMod = 0)
       |  WHERE r <= $IvfProbe),
       |sl AS (
       |  SELECT query_id, neighbor_id, cos FROM (
       |    SELECT p.query_id, a.vec_id AS neighbor_id,
       |      ${cosSql("p.qv", "a.embedding")} AS cos,
       |      ROW_NUMBER() OVER (PARTITION BY p.query_id
       |        ORDER BY ${cosSql("p.qv", "a.embedding")} DESC,
       |          a.vec_id) AS rnk
       |    FROM probes p JOIN assigned a USING (list_id)
       |    WHERE p.query_id != a.vec_id)
       |  WHERE rnk <= $HnPoolK),
       |pp AS (SELECT vec_id AS query_id, vec_id + 1 AS pos_id
       |       FROM embeddings WHERE vec_id % $HardNegMod = 0),
       |pc AS (SELECT pp.query_id,
       |         MIN(${cosSql("q.embedding", "o.embedding")}) AS pos_cos
       |       FROM pp JOIN v q ON q.vec_id = pp.query_id
       |              JOIN v o ON o.vec_id = pp.pos_id
       |       GROUP BY 1),
       |c AS (SELECT sl.query_id, sl.neighbor_id, sl.cos, pc.pos_cos
       |      FROM sl JOIN pc USING (query_id)
       |      WHERE NOT EXISTS (SELECT 1 FROM pp
       |              WHERE pp.query_id = sl.query_id
       |                AND pp.pos_id = sl.neighbor_id)
       |        AND sl.cos < pc.pos_cos - $HnMargin)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, cos,
       |  pos_cos
       |FROM (SELECT query_id, neighbor_id, cos, pos_cos,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, neighbor_id) AS rnk
       |      FROM c)
       |WHERE rnk <= $TopK""".stripMargin

  // BPE tokenizer training: learned merge rounds for the driver gate
  private val BpeRounds = 3

  /** BPE merge learning, oracle-gated: the first [[BpeRounds]] learned
    * merges — pair, round, weighted count
    * ([[graft.operators.Corpus.bpeLearn]]). BPE rounds are inherently
    * sequential, so the oracle unrolls them: each layer re-derives the
    * best pair itself (weighted adjacent-pair counts over the word
    * vocabulary, ORDER BY cnt DESC, lft, rgt LIMIT 1) and applies it
    * with the identical left-fold — `list_reduce` over
    * separator-joined symbols, fusing when the accumulator ends with
    * SEP+lft — so the oracle proves the LEARNING, not just a replay of
    * Spark's choices. Counts are pure integers; ties break on binary
    * string order in both engines. */
  private def p68(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Corpus.bpeMergeFrame(
      Tables.df(spark, dir, "documents"), "doc_id", "text", BpeRounds)

  /** The shared BPE CTE chain: w0/c0 (word vocab + initial chars),
    * then per round i: pair counts p{i}, argmax b{i}, folded vocab
    * c{i}. Ends with c[rounds] holding the final symbol lists. */
  private def bpeCtes(rounds: Int): String = {
    val toks = toksSql(normSql("text"))
    def fold(b: String) =
      s"list_filter(string_split(list_reduce(list_prepend('', syms), " +
        s"(acc, s) -> CASE WHEN ends_with(acc, chr(31) || $b.lft) " +
        s"AND s = $b.rgt THEN acc || s ELSE acc || chr(31) || s END), " +
        "chr(31)), x -> x != '')"
    val rounds_ = (1 to rounds).map { i =>
      s"""p$i AS (
         |  SELECT pr.l AS lft, pr.r AS rgt, SUM(cnt)::BIGINT AS cnt
         |  FROM (SELECT cnt,
         |          unnest(list_transform(generate_series(1, len(syms) - 1),
         |            i -> {'l': syms[i], 'r': syms[i + 1]})) AS pr
         |        FROM c${i - 1})
         |  GROUP BY 1, 2),
         |b$i AS (SELECT lft, rgt, cnt FROM p$i
         |        ORDER BY cnt DESC, lft, rgt LIMIT 1),
         |c$i AS (SELECT word, c${i - 1}.cnt, ${fold("b")} AS syms
         |        FROM c${i - 1} CROSS JOIN b$i b)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (SELECT word, COUNT(*) AS cnt
       |       FROM (SELECT unnest($toks) AS word FROM documents)
       |       GROUP BY 1),
       |c0 AS (SELECT word, cnt,
       |        list_filter(string_split(word, ''), s -> s != '') AS syms
       |       FROM w0),
       |$rounds_""".stripMargin
  }

  private val p68Sql = {
    val union = (1 to BpeRounds).map(i =>
      s"SELECT $i AS rnd, lft, rgt, cnt FROM b$i").mkString("\nUNION ALL\n")
    s"""WITH ${bpeCtes(BpeRounds)}
       |SELECT CAST(rnd AS INT) AS rnd, lft, rgt, cnt FROM ($union)"""
      .stripMargin
  }

  /** BPE encode, oracle-gated: per-document word and token counts
    * under the [[BpeRounds]] learned merges
    * ([[graft.operators.Corpus.bpeTokenCounts]]) — the folds run once
    * per distinct word, the corpus pays one word → length join. The
    * oracle extends [[bpeCtes]] with the same join + sums. */
  private def p68b(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    graft.operators.Corpus.bpeTokenCounts(docs, "doc_id", "text",
      graft.operators.Corpus.bpeLearn(docs, "doc_id", "text", BpeRounds))
  }

  private val p68bSql = {
    val toks = toksSql(normSql("text"))
    s"""WITH ${bpeCtes(BpeRounds)},
       |enc AS (SELECT word, len(syms) AS n_syms FROM c$BpeRounds),
       |dw AS (SELECT doc_id, unnest($toks) AS word FROM documents)
       |SELECT doc_id, COUNT(*) AS n_words, SUM(e.n_syms)::BIGINT AS n_tokens
       |FROM dw JOIN enc e USING (word)
       |GROUP BY doc_id""".stripMargin
  }

  /** The full BPE token stream, oracle-gated: per-document symbols in
    * word order under the [[BpeRounds]] learned merges
    * ([[graft.operators.Corpus.bpeEncode]]) — the materialization step
    * the packing operators consume. Surfaced space-joined (one scalar
    * string per doc) so the cross-engine compare stays on hashable
    * scalar columns; the join is lossless because the normalized token
    * alphabet is [a-z0-9] (no symbol can contain a space). The oracle
    * extends [[bpeCtes]] with the same positional reassembly:
    * position-sorted list aggregation, flatten, join. */
  private def p77(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.df(spark, dir, "documents")
    graft.operators.Corpus.bpeEncode(docs, "doc_id", "text",
      graft.operators.Corpus.bpeLearn(docs, "doc_id", "text", BpeRounds))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        array_join(col("toks"), " ").as("toks"))
  }

  private val p77Sql = {
    val toks = toksSql(normSql("text"))
    s"""WITH ${bpeCtes(BpeRounds)},
       |enc AS (SELECT word, syms FROM c$BpeRounds),
       |dw AS (SELECT doc_id, pw.pos AS pos, pw.word AS word
       |       FROM (SELECT doc_id,
       |               unnest(list_transform(generate_series(1, len(t)),
       |                 i -> {'pos': i, 'word': t[i]})) AS pw
       |             FROM (SELECT doc_id, $toks AS t FROM documents))),
       |agg AS (SELECT doc_id,
       |          flatten(list_transform(
       |            list_sort(list({'pos': pos, 'syms': e.syms})),
       |            x -> x.syms)) AS tl
       |        FROM dw JOIN enc e USING (word)
       |        GROUP BY doc_id)
       |SELECT doc_id, CAST(len(tl) AS BIGINT) AS n_tokens,
       |       array_to_string(tl, ' ') AS toks
       |FROM agg""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("p01_exact_dedup", p01, Some(p01Sql)),
    QueryDef("p02_ngram_jaccard", p02, Some(p02Sql)),
    QueryDef("p02b_ngram_jaccard_capped", p02b, Some(p02bSql)),
    QueryDef("p03_minhash_lsh", p03, Some(p03Sql)),
    QueryDef("p04_simhash", p04, Some(p04Sql)),
    QueryDef("p05_embed_neardup", p05, Some(p05Sql)),
    QueryDef("p13_dedup_clusters", p13, Some(p13Sql)),
    QueryDef("p06_cosine_topk", p06, Some(p06Sql)),
    QueryDef("p07_lsh_ann", p07, Some(p07Sql)),
    QueryDef("p14_ivf_ann", p14, Some(p14Sql)),
    QueryDef("p08_langid", p08, Some(p08Sql)),
    QueryDef("p09_quality", p09, Some(p09Sql)),
    QueryDef("p10_token_count", p10, Some(p10Sql)),
    QueryDef("p11_fingerprint", p11, Some(p11Sql)),
    QueryDef("p12_multimodal", p12, Some(p12Sql)),
    QueryDef("p15_curation", p15, Some(p15Sql)),
    QueryDef("p16_gopher_rules", p16, Some(p16Sql)),
    QueryDef("p17_repetition", p17, Some(p17Sql)),
    QueryDef("p18_stratified_sample", p18, Some(p18Sql)),
    QueryDef("p19_decontaminate", p19, Some(p19Sql)),
    QueryDef("p20_tfidf", p20, Some(p20Sql)),
    QueryDef("p21_domain_mix", p21, Some(p21Sql)),
    QueryDef("p22_seq_pack", p22, Some(p22Sql)),
    QueryDef("p23_chunk_dedup", p23, Some(p23Sql)),
    QueryDef("p24_token_quantiles", p24, Some(p24Sql)),
    QueryDef("p25_knn_label", p25, Some(p25Sql)),
    QueryDef("p25b_knn_label_ivf", p25b, Some(p25bSql)),
    QueryDef("p26_kmv_distinct", p26, Some(p26Sql)),
    QueryDef("p27_temperature_mix", p27, Some(p27Sql)),
    QueryDef("p28_containment", p28, Some(p28Sql)),
    QueryDef("p29_dataset_build", p29, Some(p29Sql)),
    QueryDef("p30_incremental_dedup", p30, Some(p30Sql)),
    QueryDef("p31_split", p31, Some(p31Sql)),
    QueryDef("p32_boilerplate_ngrams", p32, Some(p32Sql)),
    QueryDef("p33_quantize", p33, Some(p33Sql)),
    QueryDef("p34_bloom_decontaminate", p34, Some(p19Sql)),
    QueryDef("p35_compression", p35, None),
    QueryDef("p35b_compression_bytes", p35b, Some(p35bSql)),
    QueryDef("p36_source_centroids", p36, Some(p36Sql)),
    QueryDef("p37_cross_source_dup", p37, Some(p37Sql)),
    QueryDef("p38_pii_redact", p38, Some(p38Sql)),
    QueryDef("p39_semantic_decontaminate", p39, Some(p39Sql)),
    QueryDef("p40_lm_score", p40, Some(p40Sql)),
    QueryDef("p41_ingest_triage", p41, Some(p41Sql)),
    QueryDef("p42_repeated_spans", p42, Some(p42Sql)),
    QueryDef("p43_token_budget", p43, Some(p43Sql)),
    QueryDef("p43b_token_budget_histogram", p43b, Some(p43bSql)),
    QueryDef("p44_vector_ingest", p44, Some(p44Sql)),
    QueryDef("p45_pq_ann", p45, Some(p45Sql)),
    QueryDef("p46_centroid_drift", p46, Some(p46Sql)),
    QueryDef("p47_ivfpq_ann", p47, Some(p47Sql)),
    QueryDef("p48_ivfpq_store", p48, Some(p47Sql)),
    QueryDef("p49_int8_ann", p49, Some(p49Sql)),
    QueryDef("p50_binary_ann", p50, Some(p50Sql)),
    QueryDef("p51_epoch_shuffle", p51, Some(p51Sql)),
    QueryDef("p52_canonical_keep", p52, Some(p52Sql)),
    QueryDef("p53_ivf_binary_ann", p53, Some(p53Sql)),
    QueryDef("p54_binary_store", p54, Some(p53Sql)),
    QueryDef("p55_epoch_pack", p55, Some(p55Sql)),
    QueryDef("p56_exact_sample", p56, Some(p56Sql)),
    QueryDef("p57_bm25_retrieval", p57, Some(p57Sql)),
    QueryDef("p58_cms_df_estimate", p58, Some(p58Sql)),
    QueryDef("p59_entity_resolution", p59, Some(p59Sql)),
    QueryDef("p60_entity_ids", p60, Some(p60Sql)),
    QueryDef("p61_cms_heavy_hitters", p61, Some(p61Sql)),
    QueryDef("p62_leakage_safe_split", p62, Some(p62Sql)),
    QueryDef("p63_golden_record", p63, Some(p63Sql)),
    QueryDef("p64_bm25_store", p64, Some(p57Sql)),
    QueryDef("p65_cms_store_hh", p65, Some(p61Sql)),
    QueryDef("p66_hybrid_rrf", p66, Some(p66Sql)),
    QueryDef("p67_mmr_rerank", p67, Some(p67Sql)),
    QueryDef("p68_bpe_merges", p68, Some(p68Sql)),
    QueryDef("p68b_bpe_encode", p68b, Some(p68bSql)),
    QueryDef("p77_bpe_tokens", p77, Some(p77Sql)),
    QueryDef("p66b_hybrid_store", p66b, Some(p66bSql)),
    QueryDef("p69_drift_chi2", p69, Some(p69Sql)),
    QueryDef("p70_sampled_quantiles", p70, Some(p70Sql)),
    QueryDef("p78_quality_trim", p78, Some(p78Sql)),
    QueryDef("p71_length_batching", p71, Some(p71Sql)),
    QueryDef("p72_dsir_weights", p72, Some(p72Sql)),
    QueryDef("p72b_dsir_select", p72b, Some(p72bSql)),
    QueryDef("p73_cluster_balance", p73, Some(p73Sql)),
    QueryDef("p74_hard_negatives", p74, Some(p74Sql)),
    QueryDef("p75_dsir_store", p75, Some(p72Sql)),
    QueryDef("p74b_hard_negatives_store", p74b, Some(p74bSql)),
    QueryDef("p76_sample_store", p76, Some(p73Sql)),
    QueryDef("p79_unicode_norm", p79, Some(p79Sql)),
    QueryDef("p80_langid_script", p80, Some(p80Sql)),
    QueryDef("p81_quality_multilingual", p81, Some(p81Sql)))
}
