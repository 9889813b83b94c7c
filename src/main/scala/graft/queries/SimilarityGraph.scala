package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Artifacts
import graft.Artifacts.tableFingerprint
import graft.ops.{Dedup, Similarity}
import graft.queries.Common.{T, bm25Cte, dotSql, normSqSql}
import graft.queries.Oracle.{Published, Sql, publishOracle}
import graft.sources.Tables

/** The similarity-search and graph family over the `embeddings` table:
  * exact, int8, LSH, IVF and PQ nearest-neighbour search, hybrid and MMR
  * retrieval, and the graph analytics (PageRank, triangles, components,
  * degree, BFS, neighbour Jaccard, LOF) over the one persisted kNN edge
  * table. Each query's body sits beside its oracle.
  */
object SimilarityGraph {

  val queries: Seq[Query] = Seq(
    Query("simsearch_topk", q_simsearch_topk, Sql(topkOracleSql)),
    Query("simsearch_int8", q_simsearch_int8, Sql(int8OracleSql)),
    // The LSH family (round 14): each query publishes its oracle with
    // plane literals generated from the fixture's autoPlanesSchedule. The
    // uniform-8s fallback is the byte-identical below-floor text for a
    // process that has not run the query.
    Query("simsearch_lsh", q_simsearch_lsh, Published(lshOracleSql())),
    Query("simsearch_recall_audit", q_simsearch_recall_audit,
      Published(recallAuditOracle())),
    Query("simsearch_knn_graph", q_simsearch_knn_graph,
      Published(knnGraphOracleSql())),
    // the incremental merge must EQUAL the full rebuild — same oracle
    Query("simsearch_knn_incr", q_simsearch_knn_incr,
      Published(knnGraphOracleSql())),
    // the persisted centroids / codebooks, published as literals
    Query("simsearch_ivf", q_simsearch_ivf, Published()),
    Query("simsearch_pq", q_simsearch_pq, Published()),
    // nProbe = nLists makes IVF exhaustive ≡ brute force: same oracle
    Query("simsearch_ivf_exact", q_simsearch_ivf_exact, Sql(topkOracleSql)),
    Query("simsearch_hybrid", q_simsearch_hybrid, Sql(hybridOracleSql)),
    Query("simsearch_mmr", q_simsearch_mmr, Sql(mmrOracle)),
    Query("graph_pagerank", q_graph_pagerank, Published(pagerankOracle())),
    Query("graph_triangles", q_graph_triangles, Published(trianglesOracle())),
    Query("graph_cc", q_graph_cc, Published(graphCcOracle())),
    Query("graph_degree", q_graph_degree, Published(graphDegreeOracle())),
    Query("graph_bfs", q_graph_bfs, Published(graphBfsOracle())),
    Query("graph_jaccard_nbrs", q_graph_jaccard_nbrs,
      Published(graphJaccardNbrsOracle())),
    Query("ml_lof", q_ml_lof, Published(lofOracle())))

  // ---------------------------------------------------------------------
  // Shared by the family: the embeddings count and LSH schedule, the
  // persisted kNN edge table, and the SQL twins of its buckets and edges
  // ---------------------------------------------------------------------

  /** Memoized embeddings row count — the LSH surfaces size their bucket
    * bits from it, and before round 12 every `*Auto` call re-ran the
    * count job (8+ graph-family call sites per pass; r11 ADVICE).
    */
  private def embCount(s: SparkSession, dir: String): Long =
    Artifacts.remember(s"embcount|$dir") {
      java.lang.Long.valueOf(T(s, dir, "embeddings").count())
    }.longValue()

  /** The fixture's per-table bucket-bit schedule
    * ([[graft.ops.Similarity.autoPlanesSchedule]] over the memoized
    * count) — THE parameterization every LSH-family query runs AND
    * publishes its oracle under (round 14, r13 verdict #6: the r12-era
    * embAutoPlanes THREW past the 10240-vector floor because the static
    * 8-plane oracle SQL could not describe a scheduled fixture; now each
    * query publishes schedule-generated plane literals via
    * [[publishOracle]], so any fixture size oracle-checks). Below the
    * floor the schedule is all-8s: plans, oracle text, and hashes are
    * byte-identical to the static era.
    */
  private def embSchedule(s: SparkSession, dir: String): Seq[Int] =
    Artifacts.remember(s"embsched|$dir") {
      Similarity.autoPlanesSchedule(embCount(s, dir))
    }

  /** THE kNN edge table (k = 3, density-scaled LSH) — fingerprint-keyed,
    * commit-gated, persisted ONCE per corpus and served to the whole
    * graph family (`graph_cc/bfs/degree/pagerank/triangles/jaccard_nbrs`,
    * `ml_lof`, `simsearch_knn_graph`): before round 12 each of those 8
    * queries re-ran the identical LSH bucket join (~1 s apiece at sf0.1
    * — the round-11 verdict's largest pure-waste block). The registry
    * discipline is the same as bands/IVF/PQ/ShingleIndex.
    *
    * Incremental-merge contract (the ShingleIndex discipline applied to
    * the graph): the hyperplanes are md5-derived constants — data-
    * independent — so NEW vectors hash into the existing bucket space
    * without refit. Delta edges = bucket-join(new, base ∪ new); affected
    * base nodes (those gaining a candidate) re-rank over (their old
    * top-k ∪ new candidates) — sound because an old candidate outside
    * the old top-k can never enter the merged top-k (k better neighbors
    * already existed). Full rebuild is only forced when the corpus
    * crosses an [[graft.ops.Similarity.autoPlanes]] bucket-bit threshold
    * (bits = log₂(n/40)); [[graft.ops.SimilaritySpec]] pins the
    * no-drift property: merge(edges(base), delta) == edges(base ∪ delta).
    */
  private def knnEdges(s: SparkSession, dir: String): DataFrame = {
    val sched = embSchedule(s, dir)
    // hoisted: a quoted literal inside the key interpolation would blind
    // RegistryFingerprintSpec's static fingerprint tripwire
    val schedKey = sched.mkString(".")
    val path = Artifacts.materialize(s, "knnedges",
        // v2: density-SCHEDULED bucket bits (in the key — a schedule
        // change can never serve a stale edge table); all-8s below the
        // floor, so every oracle fixture's artifact bytes are unchanged
        s"knnedges-v2|k=3|sched=$schedKey|$dir|${
          tableFingerprint(s, s"$dir/embeddings.parquet")}") { out =>
      Similarity.knnGraphSched(T(s, dir, "embeddings"), "vec_id",
          "embedding", 3, sched)
        .write.mode("overwrite").parquet(out)
    }
    Tables.resolve(s, path)
  }

  /** The shared `v/b/bl` CTE prefix reproducing HyperplaneBuckets' exact
    * per-table bucket longs in SQL (plane literals inlined) — used by the
    * lsh-pairs and knn-graph oracles.
    *
    * Parameterized by the LSH schedule (round 14, the r13 verdict's #6):
    * table t sums exactly `schedule(t)` sign bits — the SQL twin of
    * [[graft.ops.Similarity.autoPlanesSchedule]]'s masked expression
    * (bit b of table t comes from plane (t, b), so summing the first
    * p_t bits IS the masked bucket). A uniform all-8s schedule emits
    * byte-identical text to the historical static oracles, so every
    * below-floor fixture's oracle SQL — and hash — is untouched.
    */
  private def lshBucketCtes(schedule: Seq[Int], dim: Int): String = {
    def planeLit(t: Int, p: Int): String =
      Similarity.planeVector(t, p, dim).map(_.toString).mkString("[", ", ", "]")
    def bucketSql(t: Int): String = (0 until schedule(t)).map { p =>
      s"(CASE WHEN ${dotSql("vd", planeLit(t, p))} >= 0 THEN (${1L << p})::BIGINT ELSE 0 END)"
    }.mkString(" + ")
    val bucketCols = schedule.indices.map(t => s"${bucketSql(t)} AS bk$t").mkString(", ")
    val blUnion = schedule.indices
      .map(t => s"SELECT vec_id, $t AS tbl, bk$t AS bucket FROM b")
      .mkString(" UNION ALL ")
    s"""v AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings),
       |b AS (SELECT vec_id, $bucketCols FROM v),
       |bl AS ($blUnion)""".stripMargin
  }

  /** Uniform 8×8 schedule — the historical static-oracle setting and
    * the [[graft.ops.Similarity.autoPlanesSchedule]] floor value; every
    * LSH-family oracle builder defaults to it so the below-floor text
    * stays byte-identical to the pre-schedule static SQL.
    */
  private val u8: Seq[Int] = Seq.fill(8)(8)

  /** kNN-graph edge CTE chain (ends in `e(src, dst)`) — the exact
    * simsearch_knn_graph edge set, shared by the graph_cc /
    * graph_degree oracles (pagerank/triangles use [[knnRankCtes]]).
    */
  private def knnEdgeCtes(schedule: Seq[Int] = u8): String =
    s"""${lshBucketCtes(schedule, 64)},
       |cand AS (SELECT DISTINCT a.vec_id AS qid, b2.vec_id AS nid
       |         FROM bl a JOIN bl b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket
       |          AND a.vec_id <> b2.vec_id),
       |n0 AS (SELECT vec_id, ${normSqSql("embedding")} AS nsq FROM embeddings),
       |sc0 AS (SELECT c.qid, c.nid,
       |         ${dotSql("ea.embedding", "eb.embedding")} AS dot,
       |         na.nsq AS naa, nb.nsq AS nbb
       |       FROM cand c
       |       JOIN embeddings ea ON ea.vec_id = c.qid
       |       JOIN embeddings eb ON eb.vec_id = c.nid
       |       JOIN n0 na ON na.vec_id = c.qid
       |       JOIN n0 nb ON nb.vec_id = c.nid),
       |rk0 AS (SELECT qid, nid, dot, naa, nbb,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY dot / sqrt(naa * nbb) DESC, nid) AS rnk
       |      FROM sc0),
       |e AS (SELECT qid AS src, nid AS dst,
       |        1.0 - round(dot / sqrt(naa * nbb), 6) AS dist
       |      FROM rk0 WHERE rnk <= 3)""".stripMargin

  /** The kNN-graph edges `e(src, dst)` — each vector's top 3 LSH
    * candidates by cosine, ties by neighbor id — as the CTE chain shared
    * by the pagerank and triangle oracles.
    */
  private def knnRankCtes(schedule: Seq[Int]): String =
    s"""${lshBucketCtes(schedule, 64)},
       |cand AS (SELECT DISTINCT a.vec_id AS qid, b2.vec_id AS nid
       |         FROM bl a JOIN bl b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket
       |          AND a.vec_id <> b2.vec_id),
       |n0 AS (SELECT vec_id, ${normSqSql("embedding")} AS nsq FROM embeddings),
       |sc AS (SELECT c.qid, c.nid,
       |         ${dotSql("ea.embedding", "eb.embedding")} AS dot,
       |         na.nsq AS naa, nb.nsq AS nbb
       |       FROM cand c
       |       JOIN embeddings ea ON ea.vec_id = c.qid
       |       JOIN embeddings eb ON eb.vec_id = c.nid
       |       JOIN n0 na ON na.vec_id = c.qid
       |       JOIN n0 nb ON nb.vec_id = c.nid),
       |r AS (SELECT qid, nid,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY dot / sqrt(naa * nbb) DESC, nid) AS rnk
       |      FROM sc),
       |e AS (SELECT qid AS src, nid AS dst FROM r WHERE rnk <= 3)""".stripMargin

  /** The LSH candidate pairs `sc(vec_a, vec_b, dot, naa, nbb)` with
    * their dot products and squared norms, as the CTE chain shared by
    * the LSH and recall-audit oracles.
    */
  private def lshPairCtes(schedule: Seq[Int]): String =
    s"""${lshBucketCtes(schedule, 64)},
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
       |         FROM bl a JOIN bl b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket
       |          AND a.vec_id < b2.vec_id),
       |n AS (SELECT vec_id, ${normSqSql("embedding")} AS nsq FROM embeddings),
       |sc AS (SELECT c.vec_a, c.vec_b,
       |         ${dotSql("ea.embedding", "eb.embedding")} AS dot,
       |         na.nsq AS naa, nb.nsq AS nbb
       |       FROM cand c
       |       JOIN embeddings ea ON ea.vec_id = c.vec_a
       |       JOIN embeddings eb ON eb.vec_id = c.vec_b
       |       JOIN n na ON na.vec_id = c.vec_a
       |       JOIN n nb ON nb.vec_id = c.vec_b)""".stripMargin

  /** DuckDB DOUBLE[] literal that parses EXACTLY: a plain decimal
    * literal goes through DECIMAL(18,17) and the cast to DOUBLE can
    * drift 1 ulp from the shortest-round-trip value (measured: 16 of a
    * 512-entry codebook's elements drifted), while VARCHAR→DOUBLE is a
    * correctly-rounded decimal parse — Double.toString round-trips.
    */
  private def doubleArraySql(v: Seq[Double]): String =
    s"list_transform(string_split('${v.mkString("|")}', '|'), x -> CAST(x AS DOUBLE))"

  // ---------------------------------------------------------------------
  // Nearest-neighbour search
  // ---------------------------------------------------------------------

  private def q_simsearch_topk(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings")
    Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), e, "vec_id", "embedding", 5)
      .orderBy("qid", "rnk")
  }

  /** Brute-force cosine top-k oracle — shared by simsearch_topk and
    * simsearch_ivf_exact (IVF with nProbe = nLists is exhaustive, so the
    * two queries are value-identical by construction).
    */
  private def topkOracleSql: String =
    s"""WITH dots AS (
       | SELECT q.vec_id AS qid, c.vec_id AS nid,
       |  ${dotSql("q.embedding", "c.embedding")} AS dot,
       |  ${normSqSql("q.embedding")} AS nq,
       |  ${normSqSql("c.embedding")} AS nc
       | FROM embeddings q, embeddings c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
       |ranked AS (
       | SELECT qid, nid, dot/sqrt(nq*nc) AS cos_sim,
       |  row_number() OVER (PARTITION BY qid ORDER BY dot/sqrt(nq*nc) DESC, nid) AS rnk
       | FROM dots)
       |SELECT qid, nid, cos_sim, rnk FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /** Top-k through an int8-quantized corpus — the storage-scale ANN
    * path (4× smaller vectors; recall vs float spec'd in SimilaritySpec).
    * ORACLE-CHECKED since round 10: every step of the quantize →
    * dequantize → cosine chain is IEEE-portable once spelled out —
    * DuckDB executes FLOAT arithmetic in genuine float32 (verified), so
    * `qscale = f32(f64(max|x|)/127)` matches Spark's float-coerced
    * division, `round(f64(x)/f64(qscale))` rounds the identical double
    * in both engines (HALF_UP vs half-away agree on doubles — a double
    * whose shortest repr ends in .5 IS exactly .5), the f32 code·scale
    * product is the correctly-rounded f32 multiply on both sides, and
    * the downstream cosine is the repo's bit-exact sequential-fold
    * double discipline (topkOracleSql).
    */
  private def q_simsearch_int8(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings")
    val dq = Similarity.quantizeInt8(e, "embedding")
      .select(col("vec_id"),
        Similarity.dequantizeInt8(col("codes"), col("qscale")).as("embedding"))
    Similarity.bruteForceTopK(e.filter(col("vec_id") < 10), dq, "vec_id", "embedding", 5)
      .orderBy("qid", "rnk")
  }

  /** int8 oracle: replay the float32 quantization exactly (DuckDB FLOAT
    * math is native f32 — see q_simsearch_int8), then the standard topk
    * body.
    */
  private def int8OracleSql: String =
    """WITH mx AS (SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(x))) AS m FROM embeddings),
      |qz AS (SELECT vec_id, embedding,
      |    CAST(CASE WHEN m = 0 THEN 1.0
      |              ELSE CAST(m AS DOUBLE) / 127.0 END AS FLOAT) AS qscale
      |  FROM mx),
      |dq AS (SELECT vec_id,
      |    list_transform(embedding, x ->
      |      CAST(CAST(round(CAST(x AS DOUBLE) / CAST(qscale AS DOUBLE))
      |        AS TINYINT) AS FLOAT) * qscale) AS embedding
      |  FROM qz),
      |dots AS (
      | SELECT q.vec_id AS qid, c.vec_id AS nid,
      |  list_sum(list_transform(list_zip(q.embedding, c.embedding),
      |    x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE))) AS dot,
      |  list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nq,
      |  list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))) AS nc
      | FROM embeddings q, dq c WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
      |ranked AS (
      | SELECT qid, nid, dot/sqrt(nq*nc) AS cos_sim,
      |  row_number() OVER (PARTITION BY qid ORDER BY dot/sqrt(nq*nc) DESC, nid) AS rnk
      | FROM dots)
      |SELECT qid, nid, cos_sim, rnk FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /** LSH-bucketed approximate near-dup pairs — the 100 TB path. The
    * hyperplanes are md5-derived plan-time constants, so the oracle
    * inlines the IDENTICAL plane literals and reproduces the exact
    * buckets (round 2: upgraded from spark-only to oracle-checked);
    * recall vs the brute-force baseline is additionally unit-tested.
    */
  private def q_simsearch_lsh(s: SparkSession, dir: String): DataFrame = {
    val sched = embSchedule(s, dir)
    publishOracle("simsearch_lsh", lshOracleSql(sched))
    Similarity.lshCosinePairsSched(T(s, dir, "embeddings"), "vec_id",
        "embedding", 0.3, sched)
      .orderBy("vec_a", "vec_b")
  }

  /** LSH oracle: the hyperplanes are deterministic md5-derived driver
    * constants (Similarity.planeVector), so the SQL embeds the SAME
    * literals the Spark plan does — bucket bits, candidate pairs, and
    * re-scores are then bit-identical. Mirrors `lshCosinePairsSched`
    * (one table per schedule entry, dim 64, threshold 0.3).
    */
  private def lshOracleSql(schedule: Seq[Int] = u8): String = {
    s"""WITH ${lshPairCtes(schedule)}
       |SELECT vec_a, vec_b, round(dot / sqrt(naa * nbb), 6) AS cos_sim
       |FROM sc WHERE dot / sqrt(naa * nbb) >= 0.3
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** LSH RECALL AUDIT — "measure, don't guess" as a first-class query:
    * the candidate-generation recall of the production LSH path against
    * the exact all-pairs ground truth at the same threshold (τ = 0.4).
    * Because LSH candidates are re-scored EXACTLY, the approximate pair
    * set is a subset of the exact one, so recall = count ratio — no
    * pair join needed. At scale the exact side is the one-off audit you
    * run on a sample; the plan shapes are the two already-shipped
    * pipelines.
    */
  private def q_simsearch_recall_audit(s: SparkSession, dir: String): DataFrame = {
    val sched = embSchedule(s, dir)
    publishOracle("simsearch_recall_audit", recallAuditOracle(sched))
    val e = T(s, dir, "embeddings")
    val exact = Similarity.cosinePairs(e, "vec_id", "embedding", 0.4)
      .agg(count(lit(1)).as("n_exact"))
    val approx = Similarity.lshCosinePairsSched(e, "vec_id", "embedding", 0.4,
      sched)
      .agg(count(lit(1)).as("n_lsh"))
    exact.crossJoin(approx)
      .select(col("n_exact"), col("n_lsh"),
        round(col("n_lsh").cast("double") /
          nullif(col("n_exact").cast("double"), lit(0.0)), 6).as("recall"))
  }

  /** Recall-audit oracle: the lsh CTEs + an exact all-pairs count at
    * the same threshold; same subset argument, same count ratio.
    */
  private def recallAuditOracle(schedule: Seq[Int] = u8): String = {
    s"""WITH ${lshPairCtes(schedule)},
       |lp AS (SELECT count(*) AS n_lsh FROM sc
       |       WHERE dot / sqrt(NULLIF(naa * nbb, 0)) >= 0.4),
       |ex AS (SELECT count(*) AS n_exact
       |       FROM embeddings a3 JOIN embeddings b3
       |         ON a3.vec_id < b3.vec_id
       |       WHERE ${dotSql("a3.embedding", "b3.embedding")}
       |         / sqrt(NULLIF(${normSqSql("a3.embedding")}
       |             * ${normSqSql("b3.embedding")}, 0)) >= 0.4)
       |SELECT n_exact, n_lsh,
       |  round(CAST(n_lsh AS DOUBLE) / NULLIF(CAST(n_exact AS DOUBLE), 0), 6)
       |    AS recall
       |FROM ex CROSS JOIN lp""".stripMargin
  }

  /** Approximate k-NN graph ([[graft.ops.Similarity.knnGraph]]) — each
    * vector's top-3 among its LSH candidates; the neighbor-graph step
    * behind SemDeDup clustering and graph-based ANN. Oracle-checked via
    * inlined plane literals (the simsearch_lsh pattern).
    */
  private def q_simsearch_knn_graph(s: SparkSession, dir: String): DataFrame = {
    publishOracle("simsearch_knn_graph", knnGraphOracleSql(embSchedule(s, dir)))
    knnEdges(s, dir).orderBy("qid", "rnk")
  }

  /** k-NN graph oracle: identical plane literals → identical buckets →
    * identical candidate sets; the per-source rank then agrees because
    * the cosine arithmetic is the same IEEE sequence on both sides and
    * ties break by neighbor id.
    */
  private def knnGraphOracleSql(schedule: Seq[Int] = u8): String = {
    s"""WITH ${lshBucketCtes(schedule, 64)},
       |cand AS (SELECT DISTINCT a.vec_id AS qid, b2.vec_id AS nid
       |         FROM bl a JOIN bl b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket
       |          AND a.vec_id <> b2.vec_id),
       |n AS (SELECT vec_id, ${normSqSql("embedding")} AS nsq FROM embeddings),
       |sc AS (SELECT c.qid, c.nid,
       |         ${dotSql("ea.embedding", "eb.embedding")} AS dot,
       |         na.nsq AS naa, nb.nsq AS nbb
       |       FROM cand c
       |       JOIN embeddings ea ON ea.vec_id = c.qid
       |       JOIN embeddings eb ON eb.vec_id = c.nid
       |       JOIN n na ON na.vec_id = c.qid
       |       JOIN n nb ON nb.vec_id = c.nid),
       |r AS (SELECT qid, nid, dot / sqrt(naa * nbb) AS cr,
       |        row_number() OVER (PARTITION BY qid
       |          ORDER BY dot / sqrt(naa * nbb) DESC, nid) AS rnk
       |      FROM sc)
       |SELECT qid, nid, round(cr, 6) AS cos_sim, rnk
       |FROM r WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin
  }

  /** INCREMENTAL kNN-graph maintenance as a driver-gated no-drift check
    * (the dedup_incremental discipline, round 12): yesterday's edge
    * table for the base corpus (vec_id % 5 ≠ 0) is registry-persisted;
    * the query merges today's delta (every fifth vector) via
    * [[graft.ops.Similarity.knnGraphMerge]] — delta bucket-join +
    * affected-node re-rank over (old top-k ∪ new candidates), untouched
    * base edges served as-is — and the ORACLE is the full-rebuild kNN
    * SQL over the whole corpus, so any drift between the merge algebra
    * and a rebuild (lost candidates, stale ranks, tie-break skew)
    * hash-fails at the driver, not just in a spec. Sound because the
    * hyperplanes are data-independent constants: delta vectors hash
    * into the existing bucket space with no refit (a full rebuild is
    * only forced at an autoPlanes bit threshold — see [[knnEdges]]).
    */
  private def q_simsearch_knn_incr(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings")
    val base = e.filter(col("vec_id") % 5 =!= 0)
    val delta = e.filter(col("vec_id") % 5 === 0)
    // schedule from the SAME density rule as knnEdges (r12 ADVICE: a
    // literal 8 here diverged from the merged graph past the autoPlanes
    // floor); in the key so a schedule change can never serve a stale
    // base. knnGraphMergeSched's caller contract requires the merge to
    // run at the base's schedule.
    val sched = embSchedule(s, dir)
    publishOracle("simsearch_knn_incr", knnGraphOracleSql(sched))
    val schedKey = sched.mkString(".") // see knnEdges' tripwire note
    val basePath = Artifacts.materialize(s, "knnbase",
        s"knnbase-v2|k=3|sched=$schedKey|mod5|$dir|${
          tableFingerprint(s, s"$dir/embeddings.parquet")}") { out =>
      Similarity.knnGraphSched(base, "vec_id", "embedding", 3, sched)
        .write.mode("overwrite").parquet(out)
    }
    Similarity.knnGraphMergeSched(s.read.parquet(basePath), base, delta,
        "vec_id", "embedding", 3, sched)
      .orderBy("qid", "rnk")
  }

  /** IVF coarse-quantizer ANN — probe-limited top-k with a PREFIT
    * quantizer. The k-means fit runs once per corpus and is persisted
    * under a content-keyed registry path (the disk-registry pattern,
    * like text_langid_trained's materialized profile); every later
    * execution — including the bench's warm rep — loads the centroid
    * table and searches with a pure centroid-literal plan, no MLlib
    * jobs.
    *
    * ORACLE-CHECKED (round 11, the dedup_semantic seed-oracle trick):
    * the persisted centroids are published to the oracle as VALUES
    * literals ([[ivfOracleSqlFor]]), and DuckDB re-derives assignment,
    * probe ranking, and the probe-limited top-k independently — the
    * k-means FIT stays spec'd (SimilaritySpec) and exactness-checked by
    * simsearch_ivf_exact's nProbe=all ≡ brute-force identity.
    */
  private def q_simsearch_ivf(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings")
    // the data fingerprint in the key invalidates the persisted quantizer
    // if the embeddings fixture is ever regenerated
    val fp = tableFingerprint(s, s"$dir/embeddings.parquet")
    val path = Artifacts.path("ivf",
      s"ivf-v1|$dir|$fp|embedding|nLists=16|seed=42|maxIter=8", ".parquet")
    val model = Similarity.fitOrLoadIvf(e, "embedding", path, nLists = 16, seed = 42L)
    // publish the served centroids for the oracle dump
    publishOracle("simsearch_ivf", ivfOracleSqlFor(
      model.centroids.map { case (id, v) =>
        s"($id, ${doubleArraySql(v)})"
      }.mkString(", ")))
    Similarity.ivfSearch(model, e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", 5, nProbe = 4)
      .select(col("qid"), col("nid"), round(col("cos_sim"), 6).as("cos_sim"), col("rnk"))
      .orderBy("qid", "rnk")
  }

  /** simsearch_ivf oracle (round 11): with the persisted centroids as
    * literal inputs, the whole IVF serving path — squared-L2 assignment
    * (NearestCentroid's `‖c‖² − 2·q·c` with ties → lowest id), cosine
    * probe ranking, probe-list join, final top-k — is re-derived
    * independently in SQL. Float discipline as simsearch_ivf_exact:
    * both engines evaluate the same double arithmetic left to right, so
    * order statistics agree; cos_sim rounds to 6 on both sides.
    */
  private def ivfOracleSqlFor(vals: String): String =
    s"""WITH cent AS (SELECT * FROM (VALUES $vals) AS t(cluster, cvec)),
         |ad AS (SELECT e.vec_id, e.embedding, c.cluster,
         |    ${normSqSql("c.cvec")} - 2.0 * ${dotSql("e.embedding", "c.cvec")} AS d
         |  FROM embeddings e CROSS JOIN cent c),
         |asg AS (SELECT vec_id, embedding, cluster FROM (
         |    SELECT vec_id, embedding, cluster,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY d ASC, cluster) AS rn
         |    FROM ad) WHERE rn = 1),
         |probes AS (SELECT qid, qv, nq, cluster FROM (
         |    SELECT q.vec_id AS qid, q.embedding AS qv,
         |      ${normSqSql("q.embedding")} AS nq, c.cluster,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dotSql("q.embedding", "c.cvec")}
         |          / sqrt(NULLIF(${normSqSql("c.cvec")}, 0)) DESC, c.cluster)
         |        AS crnk
         |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10)
         |  WHERE crnk <= 4),
         |ranked AS (SELECT qid, nid, cos_raw,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY cos_raw DESC, nid) AS rnk
         |  FROM (SELECT p.qid, a.vec_id AS nid,
         |      ${dotSql("p.qv", "a.embedding")}
         |        / sqrt(NULLIF(p.nq * ${normSqSql("a.embedding")}, 0)) AS cos_raw
         |    FROM asg a JOIN probes p USING (cluster)
         |    WHERE p.qid <> a.vec_id))
         |SELECT qid, nid, round(cos_raw, 6) AS cos_sim,
         |  CAST(rnk AS BIGINT) AS rnk
         |FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /** Product-quantization ANN — the 32×-compression storage path (m=8
    * subspace codes per vector instead of 64 floats). Codebook fit-once
    * under a fingerprinted registry path (the IVF discipline); search
    * decodes-on-scan and reuses the shared top-k machinery, so the
    * query measures the PQ serving plan: m literal lookups + native dot
    * per corpus row. Recall vs brute force is spec'd in SimilaritySpec.
    *
    * ORACLE-CHECKED (round 11, the simsearch_ivf centroid-literal
    * trick): with the persisted codebooks as VALUES literals, the WHOLE
    * serving path — per-subspace squared-L2 encoding (ties → lowest
    * code), decode-by-lookup, cosine top-k — is re-derived in SQL;
    * cos_sim ships unrounded (the bruteForceTopK discipline: both
    * engines derive bit-identical doubles from the same codebook
    * values). The k-means codebook FIT stays spec'd.
    */
  private def q_simsearch_pq(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings")
    val fp = tableFingerprint(s, s"$dir/embeddings.parquet")
    // every fit hyperparameter is IN the key (the IVF discipline): a
    // changed fit depth must mint a new artifact, never serve a stale one
    val path = Artifacts.path("pq",
      s"pq-v1|$dir|$fp|embedding|m=8|k=64|seed=42|maxIter=8", ".parquet")
    val model = Similarity.fitOrLoadPq(e, "embedding", path,
      m = 8, k = 64, seed = 42L, maxIter = 8)
    // publish the served codebooks for the oracle dump (see ivf)
    publishOracle("simsearch_pq", pqOracleSqlFor(model.subDim,
      (for (j <- 0 until model.m; (c, i) <- model.codebooks(j).zipWithIndex)
        yield s"($j, $i, ${doubleArraySql(c)})")
        .mkString(", ")))
    Similarity.pqTopK(model, e.filter(col("vec_id") < 10), e, "vec_id", "embedding", 5)
      .select(col("qid"), col("nid"), col("cos_sim"), col("rnk"))
      .orderBy("qid", "rnk")
  }

  /** simsearch_pq oracle (round 11): with the persisted codebooks as
    * literal inputs, DuckDB re-encodes every corpus vector (argmin of
    * `‖c‖² − 2·v_sub·c` per subspace, ties → lowest code), rebuilds the
    * decoded approximation by ordered lookup, and re-ranks the cosine
    * top-k — the full PQ serving path, independent of the Spark plan.
    */
  private def pqOracleSqlFor(subDim: Int, vals: String): String =
    s"""WITH cb AS (SELECT * FROM (VALUES $vals) AS t(sub, code, cvec)),
           |dd AS (SELECT e.vec_id, cb.sub, cb.code, cb.cvec,
           |    ${normSqSql("cb.cvec")} - 2.0 * list_sum(list_transform(
           |      list_zip(e.embedding[cb.sub * $subDim + 1 : cb.sub * $subDim + $subDim],
           |        cb.cvec),
           |      x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE))) AS d
           |  FROM embeddings e CROSS JOIN cb),
           |enc AS (SELECT vec_id, sub, cvec FROM (
           |    SELECT vec_id, sub, cvec,
           |      row_number() OVER (PARTITION BY vec_id, sub
           |        ORDER BY d ASC, code) AS rn
           |    FROM dd) WHERE rn = 1),
           |dec AS (SELECT vec_id, flatten(list(cvec ORDER BY sub)) AS dv
           |  FROM enc GROUP BY 1),
           |dots AS (SELECT q.vec_id AS qid, c.vec_id AS nid,
           |    ${dotSql("q.embedding", "c.dv")} AS dot,
           |    ${normSqSql("q.embedding")} AS nq, ${normSqSql("c.dv")} AS nc
           |  FROM embeddings q CROSS JOIN dec c
           |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
           |ranked AS (SELECT qid, nid,
           |    dot / sqrt(NULLIF(nq * nc, 0)) AS cos_sim,
           |    row_number() OVER (PARTITION BY qid
           |      ORDER BY dot / sqrt(NULLIF(nq * nc, 0)) DESC, nid) AS rnk
           |  FROM dots)
           |SELECT qid, nid, cos_sim, CAST(rnk AS BIGINT) AS rnk
           |FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /** Oracle leg for the IVF path: probing ALL lists (nProbe = nLists)
    * makes the inverted-file search exhaustive — every corpus vector is
    * scored for every query exactly once, so the result is identical to
    * brute force and the query reuses simsearch_topk's oracle SQL. This
    * hash-checks the whole IVF machinery (assignment, probe ranking, the
    * probe-list join, final top-k) rather than leaving it spark-only;
    * approximation quality at nProbe < nLists stays spec'd in
    * SimilaritySpec. Same prefit registry quantizer as simsearch_ivf —
    * no extra fit.
    */
  private def q_simsearch_ivf_exact(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings")
    val fp = tableFingerprint(s, s"$dir/embeddings.parquet")
    val path = Artifacts.path("ivf",
      s"ivf-v1|$dir|$fp|embedding|nLists=16|seed=42|maxIter=8", ".parquet")
    val model = Similarity.fitOrLoadIvf(e, "embedding", path, nLists = 16, seed = 42L)
    Similarity.ivfSearch(model, e.filter(col("vec_id") < 10), e,
        "vec_id", "embedding", 5, nProbe = 16)
      .orderBy("qid", "rnk")
  }

  /** HYBRID retrieval — the production search shape: a lexical BM25 leg
    * and a dense cosine leg fused by Reciprocal Rank Fusion
    * (rrf = Σ_leg 1/(60 + rank), the Cormack et al. constant). Each leg
    * contributes its top-50 (selected by a TOTAL order: rounded score
    * desc, id — cross-engine deterministic); a doc in one leg only gets
    * that leg's term. Scale: each leg is already bounded (top-k via
    * TakeOrdered, no global sort); the fusion is a full-outer join of two
    * 50-row frames — driver-trivial, executor-local.
    */
  private def q_simsearch_hybrid(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lexTop = graft.ops.Search.bm25(T(s, dir, "documents"), "doc_id", "text",
        Seq("data", "model", "training"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(50)
    val lex = lexTop.withColumn("lex_rank",
      row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
        .cast("long"))
      .select(col("doc_id").as("id"), col("lex_rank"))
    val e = T(s, dir, "embeddings")
    val dense = Similarity.bruteForceTopK(e.filter(col("vec_id") === 0), e,
        "vec_id", "embedding", 50)
      .select(col("nid").as("id"), col("rnk").as("dense_rank"))
    lex.join(dense, Seq("id"), "full_outer")
      .select(col("id"),
        round(coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0)), 6)
          .as("rrf"),
        col("lex_rank"), col("dense_rank"))
      .orderBy("id")
  }

  /** Hybrid oracle: the shared BM25 chain for the lexical leg, the
    * brute-force cosine for the dense leg, fused by the same RRF.
    */
  private def hybridOracleSql: String =
    s"""WITH $bm25Cte,
       |lex AS (SELECT id, lex_rank FROM (
       |  SELECT doc_id AS id,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
       |  FROM b) WHERE lex_rank <= 50),
       |dots AS (SELECT c.vec_id AS id,
       |    ${dotSql("q.embedding", "c.embedding")}
       |      / sqrt(NULLIF(${normSqSql("q.embedding")}
       |          * ${normSqSql("c.embedding")}, 0)) AS cos
       |  FROM embeddings q, embeddings c
       |  WHERE q.vec_id = 0 AND c.vec_id <> 0),
       |dense AS (SELECT id, dense_rank FROM (
       |  SELECT id, row_number() OVER (ORDER BY cos DESC, id) AS dense_rank
       |  FROM dots) WHERE dense_rank <= 50)
       |SELECT id,
       |  round(coalesce(1.0/(60 + lex_rank), 0)
       |    + coalesce(1.0/(60 + dense_rank), 0), 6) AS rrf,
       |  lex_rank, dense_rank
       |FROM lex FULL OUTER JOIN dense USING (id)
       |ORDER BY id""".stripMargin

  /** MMR diversified retrieval (Carbonell & Goldstein 1998 — the RAG
    * re-ranking staple): greedy top-10 from the query's top-50 cosine
    * candidates maximizing λ·relevance − (1−λ)·max-sim-to-selected
    * (λ = 0.7), so near-duplicate hits can't crowd the result list.
    * The greedy loop is EXPRESSED RELATIONALLY over the bounded 50-row
    * candidate frame (anti-join selected → join max-sim → TakeOrdered 1
    * on the UNROUNDED score with id tie-break — the bruteForceTopK
    * discipline), ten micro-steps on localCheckpoint'd 50-row frames;
    * candidate generation is the only corpus-scale stage. Pairwise sims
    * and scores reuse the oracle-proven cosine expression tree, so the
    * WHOLE greedy selection is hash-checked.
    */
  private def q_simsearch_mmr(s: SparkSession, dir: String): DataFrame = {
    val e = T(s, dir, "embeddings")
    val cand = Similarity.bruteForceTopK(e.filter(col("vec_id") === 0), e,
        "vec_id", "embedding", 50)
      .select(col("nid").as("id"), col("cos_sim").as("rel"))
      .localCheckpoint()
    val ce = cand.select("id")
      .join(e, col("id") === col("vec_id"))
      .select(col("id"), col("embedding"))
    val half = Similarity.cosinePairs(ce, "id", "embedding", threshold = -1.0)
    // MODEL-SIZED greedy on the driver (round 14, the agg_markov_stationary
    // precedent): the candidate set is FIXED at 50 by construction — top-50
    // of one query vector — so the greedy's state is 50 (id, rel) rows plus
    // the C(50,2) pair-similarity matrix, bounded regardless of corpus
    // scale. The previous shape ran 9 sequential join+orderBy+limit(1)+
    // localCheckpoint Spark jobs over these ≤50-row frames (~27 jobs,
    // ~1.9 s at sf0.1 — pure fixed job-launch cost). Arithmetic and
    // tie-breaks are replayed verbatim: sc = 0.7·rel − 0.3·max(cos_sim over
    // selected) in IEEE double with the same literals; argmax resolves ties
    // on min id (the orderBy(sc desc, id) contract); round(mmr, 6) stays a
    // Column op. Oracle SQL unchanged, hashes unchanged.
    import s.implicits._
    val candArr = cand.collect()
      .map(r => (r.getLong(0), r.getDouble(1))) // ≤ 50 rows, bounded
    val sim = new scala.collection.mutable.HashMap[(Long, Long), Double]
    half.select(col("vec_a"), col("vec_b"), col("cos_sim")).collect()
      .foreach { r => // ≤ C(50,2) rows, bounded
        val a = r.getLong(0); val b = r.getLong(1); val c = r.getDouble(2)
        sim((a, b)) = c; sim((b, a)) = c
      }
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val first = candArr.reduceLeft { (x, y) =>
      if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x
    }
    selected += ((1L, first._1, first._2))
    for (k <- 2 to 10) {
      val chosen = selected.map(_._2).toSet
      var best: (Long, Double) = null
      for ((id, rel) <- candArr if !chosen.contains(id)) {
        val mx = chosen.iterator.map(b => sim((id, b))).max
        val sc = 0.7 * rel - 0.3 * mx
        if (best == null || sc > best._2 || (sc == best._2 && id < best._1))
          best = (id, sc)
      }
      selected += ((k.toLong, best._1, best._2))
    }
    selected.toSeq.toDF("rank", "id", "mmr")
      .select(col("rank"), col("id"), round(col("mmr"), 6).as("mmr"))
      .orderBy("rank")
  }

  /** MMR oracle (mirrors q_simsearch_mmr): top-50 candidates, full
    * pairwise sims, ten unrolled greedy steps each picking the argmax of
    * the identical unrounded score with id tie-break.
    */
  private def mmrOracle: String = {
    val steps = (2 to 10).map { k =>
      s"""s$k AS (SELECT c.id, $k AS rank, 0.7 * c.rel - 0.3 * m.mx AS mmr
         |  FROM cand c JOIN (SELECT ida, max(sim) AS mx FROM ps
         |      WHERE idb IN (SELECT id FROM u${k - 1}) GROUP BY 1) m
         |    ON m.ida = c.id
         |  WHERE c.id NOT IN (SELECT id FROM u${k - 1})
         |  ORDER BY 0.7 * c.rel - 0.3 * m.mx DESC, c.id LIMIT 1),
         |u$k AS MATERIALIZED (SELECT * FROM u${k - 1} UNION ALL SELECT * FROM s$k)"""
    }.mkString(",\n|")
    s"""WITH dots AS (
       |  SELECT c.vec_id AS id, c.embedding,
       |    ${dotSql("q.embedding", "c.embedding")} AS dot,
       |    ${normSqSql("q.embedding")} AS nq,
       |    ${normSqSql("c.embedding")} AS nc
       |  FROM embeddings q, embeddings c
       |  WHERE q.vec_id = 0 AND c.vec_id <> 0),
       |cand AS MATERIALIZED (SELECT id, embedding, dot / sqrt(nq * nc) AS rel
       |  FROM dots ORDER BY dot / sqrt(nq * nc) DESC, id LIMIT 50),
       |ps AS MATERIALIZED (SELECT a.id AS ida, b.id AS idb,
       |    ${dotSql("a.embedding", "b.embedding")}
       |      / sqrt(NULLIF(${normSqSql("a.embedding")}
       |          * ${normSqSql("b.embedding")}, 0)) AS sim
       |  FROM cand a JOIN cand b ON a.id <> b.id),
       |s1 AS (SELECT id, 1 AS rank, rel AS mmr FROM cand
       |  ORDER BY rel DESC, id LIMIT 1),
       |u1 AS MATERIALIZED (SELECT * FROM s1),
       |$steps
       |SELECT CAST(rank AS BIGINT) AS rank, id, round(mmr, 6) AS mmr
       |FROM u10 ORDER BY rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Graph analytics over the kNN edge table. Each oracle builder takes
  // the LSH schedule, so a query publishes the text for its fixture;
  // the declarations' fallback is the uniform-8s default.
  // ---------------------------------------------------------------------

  /** PAGERANK over the kNN similarity graph — graph centrality as a
    * data-curation signal (representativeness of each vector in the
    * corpus neighborhood structure; the graph-analytics flagship beside
    * dedup_clusters' label propagation). ALL-INTEGER damped power
    * iteration in micro-units: pr₀ = 1e6; each round contrib = pr div
    * outdeg (non-negative ⇒ Spark div ≡ DuckDB //), inflow = exact
    * BIGINT sum, pr' = 150000 + (850·inflow) div 1000 (d = 0.85) — ten
    * rounds, bit-exact, no float ever. Dangling/orphan LSH nodes keep
    * the base mass (leak accepted and mirrored — the textbook
    * simplification, documented). Plan: edge table built once (the
    * oracle-checked knnGraph), localCheckpoint'd and reused across
    * rounds; each round is one keyed join + one hash-agg — the
    * dedup_clusters iterative discipline (per-round job overhead
    * amortizes at scale; lineage truncated every round).
    */
  private def q_graph_pagerank(s: SparkSession, dir: String): DataFrame = {
    publishOracle("graph_pagerank", pagerankOracle(embSchedule(s, dir)))
    val edges = knnEdges(s, dir)
      .select(col("qid").as("src"), col("nid").as("dst"))
    val nodes = T(s, dir, "embeddings").select(col("vec_id").as("id"))
    graft.ops.Graph.pagerank(edges, nodes, rounds = 10)
      .select(col("id").as("vec_id"), col("pr"))
      .orderBy("vec_id")
  }

  /** PageRank oracle: the knn-graph CTEs verbatim (same edges), then ten
    * UNROLLED power-iteration CTEs (a recursive CTE cannot aggregate in
    * its recursive member) replaying the identical integer arithmetic.
    */
  private def pagerankOracle(schedule: Seq[Int] = u8): String = {
    val iters = (1 to 10).map { k =>
      s"""p$k AS (SELECT nn.vec_id,
         |    150000 + (850 * COALESCE(f.inflow, 0)) // 1000 AS pr
         |  FROM (SELECT vec_id FROM embeddings) nn
         |  LEFT JOIN (SELECT ed.dst AS vec_id,
         |      CAST(sum(p${k - 1}.pr // ed.deg) AS BIGINT) AS inflow
         |    FROM ed JOIN p${k - 1} ON p${k - 1}.vec_id = ed.src
         |    GROUP BY 1) f USING (vec_id))"""
    }.mkString(",\n|")
    s"""WITH ${knnRankCtes(schedule)},
       |d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, d.deg FROM e JOIN d USING (src)),
       |p0 AS (SELECT vec_id, CAST(1000000 AS BIGINT) AS pr FROM embeddings),
       |$iters
       |SELECT vec_id, CAST(pr AS BIGINT) AS pr FROM p10
       |ORDER BY vec_id""".stripMargin
  }

  /** TRIANGLE counting + local clustering coefficient over the kNN
    * similarity graph ([[graft.ops.Graph.triangles]]) — community
    * tightness per node, the MapReduce triangle-enumeration classic;
    * joins keyed and bounded by k·|V|, all-integer until the one
    * mirrored coefficient division. Nodes the LSH left edgeless are
    * absent by contract (degree-0 has no coefficient).
    */
  private def q_graph_triangles(s: SparkSession, dir: String): DataFrame = {
    publishOracle("graph_triangles", trianglesOracle(embSchedule(s, dir)))
    val edges = knnEdges(s, dir)
      .select(col("qid").as("src"), col("nid").as("dst"))
    graft.ops.Graph.triangles(edges)
      .select(col("v").as("vec_id"), col("deg"), col("triangles"),
        col("clustering"))
      .orderBy("vec_id")
  }

  /** Triangle/clustering oracle: the knn CTEs verbatim, symmetrized
    * ordered edges, the identical a<b<c enumeration and corner credits.
    */
  private def trianglesOracle(schedule: Seq[Int] = u8): String =
    s"""WITH ${knnRankCtes(schedule)},
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |        FROM e),
       |deg AS (SELECT v, count(*) AS deg FROM (
       |          SELECT a AS v FROM und UNION ALL SELECT b FROM und)
       |        GROUP BY 1),
       |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |        FROM und e1 JOIN und e2 ON e2.a = e1.b
       |        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
       |cr AS (SELECT v, count(*) AS triangles FROM (
       |          SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
       |          UNION ALL SELECT z FROM tri)
       |        GROUP BY 1)
       |SELECT deg.v AS vec_id, deg.deg,
       |  COALESCE(cr.triangles, 0) AS triangles,
       |  round(2.0 * CAST(COALESCE(cr.triangles, 0) AS DOUBLE)
       |    / NULLIF(CAST(deg.deg * (deg.deg - 1) AS DOUBLE), 0), 6)
       |    AS clustering
       |FROM deg LEFT JOIN cr ON cr.v = deg.v
       |ORDER BY vec_id""".stripMargin

  /** CONNECTED COMPONENTS over the kNN similarity graph — the global
    * cluster structure next to graph_pagerank's centrality and
    * graph_triangles' local tightness. Same iterative min-label
    * propagation as dedup_clusters ([[graft.ops.Dedup.duplicateClusters]]:
    * per round one keyed join + one hash-agg, lineage checkpointed,
    * convergence-checked fixpoint — maxIter raised to 64 because a kNN
    * graph's diameter can far exceed a near-dup clique's). LSH-orphaned
    * nodes (no candidates ⇒ no edges) are singleton components by
    * contract — every vector gets a component id and size. At 100 TB
    * this is the Kiveris et al. connectivity recipe: each round shuffles
    * ids only, driver state is nil.
    */
  private def q_graph_cc(s: SparkSession, dir: String): DataFrame = {
    publishOracle("graph_cc", graphCcOracle(embSchedule(s, dir)))
    val e = T(s, dir, "embeddings")
    val pairs = knnEdges(s, dir)
      .select(col("qid").as("doc_a"), col("nid").as("doc_b"))
    // two-phase CC (round 14): partition-local union-find + min-label
    // rounds on the CONTRACTED boundary graph — the ml_dbscan shape (r11),
    // output pinned equal to duplicateClusters in DedupSpec. The kNN
    // graph's many shallow components made per-round job launches the
    // cost, exactly the ε-graph profile.
    val labels = Dedup.duplicateClustersTwoPhase(pairs, maxIter = 64)
      .select(col("doc_id").as("vec_id"), col("canonical_id").as("lbl"))
    val all = e.select(col("vec_id"))
      .join(labels, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), coalesce(col("lbl"), col("vec_id")).as("comp"))
    val sz = all.groupBy("comp").agg(count(lit(1)).as("n_members"))
    all.join(sz, "comp")
      .select(col("vec_id"), col("comp"), col("n_members"))
      .orderBy("vec_id")
  }

  private def graphCcOracle(schedule: Seq[Int] = u8): String =
    s"""WITH RECURSIVE ${knnEdgeCtes(schedule)},
       |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
       |nod AS (SELECT vec_id AS id FROM embeddings),
       |reach(node, label) AS (
       |  SELECT id, id FROM nod
       |  UNION
       |  SELECT und.dst, r2.label FROM reach r2 JOIN und ON und.src = r2.node),
       |comp AS (SELECT node AS vec_id, min(label) AS comp
       |  FROM reach GROUP BY 1),
       |sz AS (SELECT comp, count(*) AS n_members FROM comp GROUP BY 1)
       |SELECT c.vec_id, c.comp, s.n_members
       |FROM comp c JOIN sz s USING (comp) ORDER BY vec_id""".stripMargin

  /** Per-node DEGREE table over the kNN similarity graph: out-degree
    * (≤ k by construction), in-degree (the "how often am I someone's
    * neighbor" curation signal — high in-degree = hub/representative,
    * zero = outlier), and undirected degree. Three hash-aggs of an
    * ids-only edge list joined back to the node table — every shuffle
    * carries two longs per edge.
    */
  private def q_graph_degree(s: SparkSession, dir: String): DataFrame = {
    publishOracle("graph_degree", graphDegreeOracle(embSchedule(s, dir)))
    val e = T(s, dir, "embeddings")
    // persisted-parquet input: re-scanning it per agg is cheaper than a
    // localCheckpoint materialization (the pre-r12 checkpoint existed to
    // avoid re-running the LSH build, which now happens once per corpus)
    val edges = knnEdges(s, dir)
      .select(col("qid").as("src"), col("nid").as("dst"))
    val outd = edges.groupBy(col("src").as("vec_id"))
      .agg(count(lit(1)).as("out_deg"))
    val ind = edges.groupBy(col("dst").as("vec_id"))
      .agg(count(lit(1)).as("in_deg"))
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val undd = und.select(col("a").as("vec_id"))
      .unionByName(und.select(col("b").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("und_deg"))
    e.select(col("vec_id"))
      .join(outd, Seq("vec_id"), "left_outer")
      .join(ind, Seq("vec_id"), "left_outer")
      .join(undd, Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("und_deg"), lit(0L)).as("und_deg"))
      .orderBy("vec_id")
  }

  private def graphDegreeOracle(schedule: Seq[Int] = u8): String =
    s"""WITH ${knnEdgeCtes(schedule)},
       |outd AS (SELECT src AS vec_id, count(*) AS out_deg FROM e GROUP BY 1),
       |ind AS (SELECT dst AS vec_id, count(*) AS in_deg FROM e GROUP BY 1),
       |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e),
       |undd AS (SELECT v AS vec_id, count(*) AS und_deg FROM (
       |    SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY 1)
       |SELECT em.vec_id, COALESCE(out_deg, 0) AS out_deg,
       |  COALESCE(in_deg, 0) AS in_deg, COALESCE(und_deg, 0) AS und_deg
       |FROM embeddings em LEFT JOIN outd USING (vec_id)
       |LEFT JOIN ind USING (vec_id) LEFT JOIN undd USING (vec_id)
       |ORDER BY vec_id""".stripMargin

  /** Multi-source BFS hop distance over the (symmetrized) kNN graph —
    * "how many similarity hops from the nearest class-0 exemplar", the
    * graph-proximity curation signal (label propagation radius, seed
    * expansion). Frontier iteration: hop k's frontier = neighbors of
    * hop k−1 not yet visited — each round ONE ids-only join + distinct
    * + anti-join, localCheckpoint'd; rounds bounded at 10 (hops beyond
    * that report unreachable = −1, a documented contract, NOT an
    * approximation knob — the oracle applies the same bound). All
    * integer, no tie-breaks needed (min-hop is unique).
    */
  private def q_graph_bfs(s: SparkSession, dir: String): DataFrame = {
    publishOracle("graph_bfs", graphBfsOracle(embSchedule(s, dir)))
    val e = T(s, dir, "embeddings")
    val dirEdges = knnEdges(s, dir)
      .select(col("qid").as("src"), col("nid").as("dst"))
    val edges = dirEdges
      .unionByName(dirEdges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    val maxHops = 10
    // Per-round state = a LIST of per-hop checkpointed frames (round 14):
    // the previous shape re-materialized the WHOLE growing visited set
    // every round (O(V) rows × rounds) plus a separate isEmpty job on the
    // frontier — 3 jobs/round. Now each round materializes only ITS hop's
    // frontier; the dedup anti-join reads the union of the already-cached
    // hop frames lazily, and the convergence check rides the
    // just-checkpointed (tiny) frontier. Hop assignment unchanged
    // (min-hop is unique), same rows, same oracle.
    val seeds = e.filter(col("label") === 0)
      .select(col("vec_id"), lit(0).as("hops")).localCheckpoint()
    val parts = scala.collection.mutable.ArrayBuffer[DataFrame](seeds)
    var frontier = seeds.select(col("vec_id"))
    var done = frontier.isEmpty
    var k = 1
    while (k <= maxHops && !done) {
      val visitedIds = parts.map(_.select(col("vec_id")))
        .reduce(_ unionByName _)
      val next = edges.join(frontier, edges("src") === frontier("vec_id"))
        .select(col("dst").as("vec_id")).distinct()
        .join(visitedIds, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), lit(k).as("hops"))
        .localCheckpoint()
      done = next.isEmpty
      parts += next
      frontier = next.select(col("vec_id"))
      k += 1
    }
    val visited = parts.reduce(_ unionByName _)
    e.select(col("vec_id")).join(visited, Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("hops"), lit(-1)).cast("long").as("hops"))
      .orderBy("vec_id")
  }

  private def graphBfsOracle(schedule: Seq[Int] = u8): String =
    s"""WITH RECURSIVE ${knnEdgeCtes(schedule)},
       |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
       |seeds AS (SELECT vec_id FROM embeddings WHERE label = 0),
       |walk(node, d) AS (
       |  SELECT vec_id, 0 FROM seeds
       |  UNION
       |  SELECT und.dst, w.d + 1 FROM walk w JOIN und ON und.src = w.node
       |  WHERE w.d < 10),
       |best AS (SELECT node AS vec_id, min(d) AS hops FROM walk GROUP BY 1)
       |SELECT em.vec_id, CAST(COALESCE(b.hops, -1) AS BIGINT) AS hops
       |FROM embeddings em LEFT JOIN best b USING (vec_id)
       |ORDER BY vec_id""".stripMargin

  /** Neighbor-set Jaccard over the undirected kNN graph — the classic
    * link-prediction / community-overlap score. Candidate pairs come
    * from a WEDGE JOIN (two edges sharing an endpoint), so work is
    * Σ deg² — bounded by the kNN construction, never all-pairs; the
    * intersection is an exact integer count and the union follows by
    * inclusion-exclusion from exact degrees. Emits pairs with
    * jaccard ≥ 0.4 plus whether the pair is itself an edge (predicted
    * vs existing link).
    */
  private def q_graph_jaccard_nbrs(s: SparkSession, dir: String): DataFrame = {
    publishOracle("graph_jaccard_nbrs", graphJaccardNbrsOracle(embSchedule(s, dir)))
    val dirEdges = knnEdges(s, dir)
      .select(col("qid").as("src"), col("nid").as("dst"))
    val und = dirEdges
      .unionByName(dirEdges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint()
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    val inter = und.as("e1").join(und.as("e2"),
        col("e1.dst") === col("e2.dst") && col("e1.src") < col("e2.src"))
      .groupBy(col("e1.src").as("a"), col("e2.src").as("b"))
      .agg(count(lit(1)).as("inter"))
    val isEdge = und.select(col("src").as("a"), col("dst").as("b"),
      lit(true).as("is_edge"))
    inter
      .join(deg.select(col("src").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("src").as("b"), col("deg").as("db")), "b")
      .join(isEdge, Seq("a", "b"), "left_outer")
      .select(col("a"), col("b"), col("inter"),
        round(col("inter").cast("double")
          / (col("da") + col("db") - col("inter")).cast("double"), 6)
          .as("jaccard"),
        coalesce(col("is_edge"), lit(false)).as("is_edge"))
      .filter(col("jaccard") >= 0.4)
      .orderBy("a", "b")
  }

  private def graphJaccardNbrsOracle(schedule: Seq[Int] = u8): String =
    s"""WITH ${knnEdgeCtes(schedule)},
       |und AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
       |deg AS (SELECT src, count(*) AS deg FROM und GROUP BY 1),
       |ix AS (SELECT e1.src AS a, e2.src AS b, count(*) AS inter
       |  FROM und e1 JOIN und e2 ON e1.dst = e2.dst AND e1.src < e2.src
       |  GROUP BY 1, 2),
       |j AS (SELECT ix.a, ix.b, CAST(ix.inter AS BIGINT) AS inter,
       |    round(CAST(ix.inter AS DOUBLE)
       |      / CAST(da.deg + db.deg - ix.inter AS DOUBLE), 6) AS jaccard,
       |    COALESCE(ed.is_edge, FALSE) AS is_edge
       |  FROM ix JOIN deg da ON da.src = ix.a JOIN deg db ON db.src = ix.b
       |  LEFT JOIN (SELECT src AS a, dst AS b, TRUE AS is_edge FROM und) ed
       |    ON ed.a = ix.a AND ed.b = ix.b)
       |SELECT a, b, inter, jaccard, is_edge FROM j WHERE jaccard >= 0.4
       |ORDER BY a, b""".stripMargin

  /** LOCAL OUTLIER FACTOR (Breunig et al. 2000) over the kNN similarity
    * graph — density-relative outlier scoring (LOF ≫ 1 = the point's
    * neighborhood is much denser than the point itself; the classic
    * embedding-space anomaly screen beside ml_isolation_forest's
    * partition-based one). Distances are cosine (1 − the graph's
    * 6-dp edge similarity). The float-sum hazards are quantized away:
    * reach-dist(p←o) = max(kdist(o), d(p,o)) is FLOORED TO PPM before
    * the per-node sum (order-independent integer addition), and
    * lrd = n·10¹² div Σreach_ppm is one integer division, so lof =
    * Σ lrd(o) / (n·lrd(p)) divides exactly-known integers — bit-identical
    * in any engine. Zero-distance cliques (exact-duplicate vectors) pin
    * the denominator at 1 instead of ∞ (documented determinism rule).
    * Plan shape: the edge list is built once (ids-only LSH candidate
    * shuffles), then three keyed hash-aggs/joins of an ids+ints frame —
    * the same 100 TB shape as graph_degree.
    */
  private def q_ml_lof(s: SparkSession, dir: String): DataFrame = {
    publishOracle("ml_lof", lofOracle(embSchedule(s, dir)))
    val edges = knnEdges(s, dir)
      .select(col("qid"), col("nid"), (lit(1.0) - col("cos_sim")).as("dist"))
    val kd = edges.groupBy("qid").agg(max("dist").as("kdist"))
    val reach = edges
      .join(kd.select(col("qid").as("nid"), col("kdist").as("kdist_o")), "nid")
      .select(col("qid"),
        floor(greatest(col("kdist_o"), col("dist")) * lit(1000000.0))
          .cast("long").as("reach_ppm"))
    val lrd = reach.groupBy("qid")
      .agg(sum("reach_ppm").as("sr"), count(lit(1)).as("n"))
      .select(col("qid"), col("n"),
        expr("(n * 1000000000000) div greatest(sr, 1)").as("lrd_ppm"))
    edges
      .join(lrd.select(col("qid").as("nid"), col("lrd_ppm").as("lrd_o")), "nid")
      .groupBy("qid").agg(sum("lrd_o").as("sl"))
      .join(lrd, "qid")
      .select(col("qid").as("vec_id"), col("n").as("n_nbr"),
        round(col("sl").cast("double")
          / (col("n") * col("lrd_ppm")).cast("double"), 6).as("lof"))
      .orderBy("vec_id")
  }

  private def lofOracle(schedule: Seq[Int] = u8): String =
    s"""WITH ${knnEdgeCtes(schedule)},
       |kd AS (SELECT src, max(dist) AS kdist FROM e GROUP BY 1),
       |reach AS (SELECT e.src AS p,
       |    CAST(floor(greatest(kd.kdist, e.dist) * 1000000.0) AS BIGINT)
       |      AS reach_ppm
       |  FROM e JOIN kd ON kd.src = e.dst),
       |lrd AS (SELECT p, CAST(count(*) AS BIGINT) AS n,
       |    (CAST(count(*) AS BIGINT) * 1000000000000)
       |      // greatest(CAST(sum(reach_ppm) AS BIGINT), 1) AS lrd_ppm
       |  FROM reach GROUP BY 1),
       |sl AS (SELECT e.src AS p, CAST(sum(lo.lrd_ppm) AS BIGINT) AS sl
       |  FROM e JOIN lrd lo ON lo.p = e.dst GROUP BY 1)
       |SELECT l.p AS vec_id, l.n AS n_nbr,
       |  round(CAST(sl.sl AS DOUBLE) / CAST(l.n * l.lrd_ppm AS DOUBLE), 6)
       |    AS lof
       |FROM lrd l JOIN sl USING (p) ORDER BY vec_id""".stripMargin
}
