"""Round-8 twenty-fifth-wave queries: Kneser-Ney
smoothing and local clustering coefficients.

Per-query rationale lives in each function docstring; registry/oracle
conventions in queries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from weather_api_automate_etl_spark.queries import query, t
from weather_api_automate_etl_spark.queries_ext import _MINHASH_SIG_SQL

_TOKENS_SQL = "regexp_split_to_array(lower(trim(text)), '\\s+')"

_KN_ORACLE = f"""
    WITH tk AS (
      SELECT list_filter({_TOKENS_SQL}, t -> t != '') AS tk FROM documents
    ),
    bg AS (
      SELECT tk[CAST(i AS INTEGER)] AS a, tk[CAST(i AS INTEGER) + 1] AS b
      FROM tk, UNNEST(range(1, len(tk))) AS u(i)
      WHERE len(tk) >= 2
    ),
    cab AS (SELECT a, b, COUNT(*) AS c_ab FROM bg GROUP BY a, b),
    hist AS (
      SELECT a, CAST(SUM(c_ab) AS DOUBLE) AS c_a,
             CAST(COUNT(*) AS DOUBLE) AS n1p_fwd
      FROM cab GROUP BY a
    ),
    cont AS (
      SELECT b, CAST(COUNT(*) AS DOUBLE) AS n1p_rev FROM cab GROUP BY b
    ),
    total AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_types FROM cab)
    SELECT cab.a, cab.b, CAST(cab.c_ab AS BIGINT) AS c_ab,
           ROUND((cab.c_ab - 0.75) / hist.c_a
                 + (0.75 * hist.n1p_fwd / hist.c_a)
                   * (cont.n1p_rev / total.n_types), 6) AS p_kn
    FROM cab JOIN hist USING (a) JOIN cont USING (b), total
"""


@query("q_kneser_ney", oracle=_KN_ORACLE, tags=("text",))
def q_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram table over the documents corpus
    (operators/textops.py::kneser_ney_bigram, D=0.75): P_KN(b|a) =
    (c(a,b)−D)/c(a) + λ(a)·N1+(·,b)/N1+(·,·). The corpus's templated
    text makes continuation counts genuinely diverge from raw frequency
    (the collocation-locked words KN was invented for), and the
    discount mass conservation Σ_b P_KN(b|a) = 1 is pinned per history
    in test_wave25."""
    from weather_api_automate_etl_spark.operators import textops

    return textops.kneser_ney_bigram(
        t(spark, sf_dir, "documents"), "text", discount=0.75
    )


_LCC_ORACLE = _MINHASH_SIG_SQL + """
    , pairs AS (
      SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
      FROM sig a JOIN sig b
        ON a.band_id = b.band_id AND a.bucket = b.bucket
           AND a.doc_id < b.doc_id
    ),
    sym AS (SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs),
    deg AS (SELECT u, count(*) AS d FROM sym GROUP BY u),
    o AS (
      SELECT s.u, s.v, dv.d AS dv
      FROM sym s JOIN deg du ON du.u = s.u JOIN deg dv ON dv.u = s.v
      WHERE (du.d < dv.d) OR (du.d = dv.d AND s.u < s.v)
    ),
    w AS (
      SELECT a.u, a.v AS x, b.v AS y
      FROM o a JOIN o b ON a.u = b.u
      WHERE (a.dv < b.dv) OR (a.dv = b.dv AND a.v < b.v)
    ),
    tri AS (
      SELECT w.u, w.x, w.y FROM w
      WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.x AND o.v = w.y)
    ),
    mem AS (
      SELECT u AS node FROM tri
      UNION ALL SELECT x FROM tri
      UNION ALL SELECT y FROM tri
    ),
    tc AS (SELECT node, count(*) AS n_triangles FROM mem GROUP BY node)
    SELECT deg.u AS doc_id, CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
           ROUND(2.0 * COALESCE(tc.n_triangles, 0)
                 / (deg.d * (deg.d - 1)), 6) AS lcc
    FROM deg LEFT JOIN tc ON tc.node = deg.u
    WHERE deg.d >= 2
"""


@query("q_clustering_coeff", oracle=_LCC_ORACLE, tags=("dedup", "graph"))
def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the MinHash+LSH near-dup
    pair graph (operators/graph.py::local_clustering): 2·tri/(deg·(deg−1))
    for every degree-≥2 node. lcc=1 marks clique-dense template families
    (collapse-safe), lcc→0 marks chain bridges (the docs that make
    connected-component dedup over-delete) — the decision statistic
    q_triangle_count's raw counts feed. The oracle replays the
    degree-ordered orientation and wedge closure, then joins degrees
    back for the ratio."""
    from weather_api_automate_etl_spark.operators import dedup, graph

    docs = t(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(
        docs, "doc_id", "text", num_hashes=8, band_size=2
    )
    pairs = dedup.minhash_candidate_pairs(sig, "doc_id")
    return graph.local_clustering(pairs, node_id="doc_id")
