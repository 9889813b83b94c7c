package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** What more than one query family uses: the fixture-table resolver and
  * the SQL fragments several oracles share.
  */
object Common {

  private[graft] def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.resolve(s, s"$dir/$name.parquet")

  /** Sequential double-fold list dot product — DuckDB's list_sum folds
    * left-to-right exactly like Spark's `aggregate`, so the doubles are
    * bit-identical (see Similarity.dot).
    */
  private[graft] def dotSql(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)))"
  private[graft] def normSqSql(a: String) =
    s"list_sum(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))"

  /** Shared BM25 CTE chain ending in `b(doc_id, bm25)` — the full
    * inverted-index algebra mirrored from [[graft.ops.Search.bm25]]
    * (k1 = 1.2, b = 0.75, query = data/model/training). Scores are
    * rounded to 6 INSIDE the CTE so every consumer (the ranking join in
    * the hybrid oracle included) orders on cross-engine-identical values.
    */
  private[graft] def bm25Cte: String =
    """toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
      |q(term) AS (SELECT * FROM (VALUES ('data'), ('model'), ('training'))),
      |tf AS (SELECT t.doc_id, t.term, count(*) AS tf
      |       FROM toks t JOIN q USING (term) GROUP BY 1, 2),
      |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      |sc AS (
      |  SELECT tf.doc_id,
      |    ln(1 + (s.n - df.df + 0.5)/(df.df + 0.5))
      |      * tf.tf * (1.2 + 1)
      |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)) AS sterm
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats s),
      |b AS (SELECT doc_id, round(sum(sterm), 6) AS bm25 FROM sc GROUP BY 1)"""
      .stripMargin
}
