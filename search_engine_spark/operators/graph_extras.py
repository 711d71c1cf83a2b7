"""Graph analytics over the head-term co-occurrence graph — exact twins.

Corpus-level graph operators (a family the engine lacked): build an
undirected graph whose nodes are the ``PR_TOPN`` highest-df terms and
whose edges connect terms co-occurring in at least 60% of documents
(scale-invariant relative threshold, compared as exact integers
``5·n_co ≥ 3·n_docs``), then:

- ``term_pagerank`` — two unrolled PageRank iterations (damping 0.85).
  The iterative-algorithm exactness recipe is the same one
  ``kmeans_clusters`` proved: every per-edge contribution
  ``r(u)/deg(u)`` is quantized to int64 1e-12 quanta BEFORE the
  reorder-sensitive SUM, and the rank update is the identical IEEE
  expression on both engines, so two engines disagree on nothing.
- ``term_triangles`` — triangle participation per term plus the local
  clustering coefficient ``2·tri/(deg·(deg−1))`` (one IEEE division).
  Triangles enumerate over the CANONICAL (a<b) edge set with the
  a<b<c orientation, the standard trick that makes distributed
  triangle counting shuffle-bounded.

Scale: the node cap bounds everything — each document contributes at
most ``PR_TOPN²`` term pairs (the per-doc self-join is filtered to the
broadcast node list BEFORE pairing), the edge set is ≤ C(PR_TOPN, 2)
rows, and both the PageRank joins and the triangle join run on that
capped frame. At production scale the same shape holds with PR_TOPN in
the 10⁴ range (edges ≤ 5·10⁷ — one modest shuffle); beyond that, the
orientation trick plus degree-based edge partitioning is the published
distributed-triangle recipe this implements in miniature.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .corpus_queries import (
    _TOKS_SQL,
    _docs,
    _stop_filtered_terms,
    _stop_in,
)

PR_TOPN = 40
# edge iff co-doc count ≥ 3/5 of all docs (exact integer cross-multiply)
PR_EDGE_NUM = 3
PR_EDGE_DEN = 5
PR_DAMP = 0.85
PR_QUANTA = 1e12


def _canonical_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) with src < dst: head-term pairs co-occurring in at
    least PR_EDGE_NUM/PR_EDGE_DEN of all documents."""
    ex = _stop_filtered_terms(spark, sf_dir).distinct()
    nodes = (
        ex.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(PR_TOPN)
        .select("term")
    )
    nd = ex.join(F.broadcast(nodes), "term").select("doc_id", "term")
    a = nd.alias("a")
    b = nd.alias("b")
    pairs = (
        a.join(b, F.col("a.doc_id") == F.col("b.doc_id"))
        .filter(F.col("a.term") < F.col("b.term"))
        .groupBy(
            F.col("a.term").alias("src"), F.col("b.term").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_co"))
    )
    n_docs = _docs(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        pairs.crossJoin(F.broadcast(n_docs))
        .filter(
            F.lit(PR_EDGE_DEN) * F.col("n_co")
            >= F.lit(PR_EDGE_NUM) * F.col("n_docs")
        )
        .select("src", "dst")
    )


_EDGES_SQL = f"""
ex AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
  ) WHERE len(term) >= 2 AND term NOT IN ({_stop_in})
), nodes AS (
  SELECT term FROM ex GROUP BY term
  ORDER BY count(*) DESC, term LIMIT {PR_TOPN}
), nd AS (
  SELECT ex.doc_id, ex.term FROM ex JOIN nodes USING (term)
), nn AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), ecan AS (
  SELECT a.term AS src, b.term AS dst
  FROM nd a JOIN nd b ON a.doc_id = b.doc_id AND a.term < b.term
  CROSS JOIN nn
  GROUP BY a.term, b.term, n_docs
  HAVING {PR_EDGE_DEN} * CAST(count(*) AS BIGINT) >= {PR_EDGE_NUM} * n_docs
)"""


# --------------------------------------------------------------------------
# PageRank, two unrolled iterations over the capped term graph
# --------------------------------------------------------------------------

def q_term_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ecan = _canonical_edges(spark, sf_dir)
    edges = ecan.union(
        ecan.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("d_src")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    n = edges.agg(F.countDistinct("src").cast("long").alias("n"))
    ed = edges.join(
        F.broadcast(deg), F.col("src") == F.col("d_src")
    ).crossJoin(F.broadcast(n))
    # iteration 1 from the uniform vector r0 = 1/n
    q1 = F.round(
        ((F.lit(1.0) / F.col("n")) / F.col("deg")) * F.lit(PR_QUANTA), 0
    ).cast("long")
    r1 = ed.groupBy(F.col("dst").alias("term")).agg(
        F.sum(q1).cast("long").alias("sq"), F.first("n").alias("n1")
    ).select(
        "term",
        (
            F.lit(1 - PR_DAMP) / F.col("n1")
            + F.lit(PR_DAMP) * (F.col("sq") / F.lit(PR_QUANTA))
        ).alias("r"),
    )
    # iteration 2 from r1
    ed2 = ed.join(r1.withColumnRenamed("term", "r_src"),
                  F.col("src") == F.col("r_src"))
    q2 = F.round((F.col("r") / F.col("deg")) * F.lit(PR_QUANTA), 0).cast(
        "long"
    )
    r2 = ed2.groupBy(F.col("dst").alias("term")).agg(
        F.sum(q2).cast("long").alias("sq"), F.first("n").alias("n1")
    )
    out = r2.join(
        F.broadcast(deg), F.col("term") == F.col("d_src")
    ).select(
        "term",
        F.col("deg"),
        F.round(
            F.lit(1 - PR_DAMP) / F.col("n1")
            + F.lit(PR_DAMP) * (F.col("sq") / F.lit(PR_QUANTA)),
            9,
        ).alias("pagerank"),
    )
    return out.orderBy(F.desc("pagerank"), F.asc("term"))


SQL_TERM_PAGERANK = f"""
WITH {_EDGES_SQL}, edges AS (
  SELECT src, dst FROM ecan UNION ALL SELECT dst, src FROM ecan
), deg AS (
  SELECT src AS d_src, CAST(count(*) AS BIGINT) AS deg
  FROM edges GROUP BY 1
), ngraph AS (
  SELECT CAST(count(DISTINCT src) AS BIGINT) AS n FROM edges
), it1 AS (
  SELECT dst AS term,
         CAST(sum(CAST(round(((1.0 / n) / deg) * {PR_QUANTA:.1f})
                       AS BIGINT)) AS BIGINT) AS sq
  FROM edges JOIN deg ON src = d_src CROSS JOIN ngraph
  GROUP BY dst
), r1 AS (
  SELECT term, {1 - PR_DAMP} / n + {PR_DAMP} * (sq / {PR_QUANTA:.1f}) AS r
  FROM it1 CROSS JOIN ngraph
), it2 AS (
  SELECT dst AS term,
         CAST(sum(CAST(round((r / deg) * {PR_QUANTA:.1f}) AS BIGINT))
              AS BIGINT) AS sq
  FROM edges JOIN deg ON src = d_src JOIN r1 ON src = r1.term
  GROUP BY dst
)
SELECT it2.term, deg,
       round({1 - PR_DAMP} / n + {PR_DAMP} * (sq / {PR_QUANTA:.1f}), 9)
         AS pagerank
FROM it2 JOIN deg ON it2.term = d_src CROSS JOIN ngraph
ORDER BY pagerank DESC, term ASC
"""


# --------------------------------------------------------------------------
# Triangle participation + local clustering coefficient
# --------------------------------------------------------------------------

def q_term_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ecan = _canonical_edges(spark, sf_dir)
    e1 = ecan.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = ecan.select(F.col("src").alias("b2"), F.col("dst").alias("c2"))
    e3 = ecan.select(F.col("src").alias("a3"), F.col("dst").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c2") == F.col("c3")),
        )
        .select("a", "b", F.col("c2").alias("c"))
    )
    members = (
        tri.select(F.col("a").alias("term"))
        .union(tri.select(F.col("b").alias("term")))
        .union(tri.select(F.col("c").alias("term")))
    )
    cnt = members.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("n_tri")
    )
    edges = ecan.union(
        ecan.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("term")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    out = deg.join(cnt, "term", "left").select(
        "term",
        "deg",
        F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
    )
    clustering = F.when(
        F.col("deg") >= 2,
        F.round(
            (F.lit(2.0) * F.col("n_tri"))
            / (F.col("deg") * (F.col("deg") - F.lit(1))),
            9,
        ),
    ).otherwise(F.lit(0.0))
    return out.select(
        "term", "deg", "n_tri", clustering.alias("clustering")
    ).orderBy(F.desc("n_tri"), F.asc("term"))


SQL_TERM_TRIANGLES = f"""
WITH {_EDGES_SQL}, tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM ecan e1
  JOIN ecan e2 ON e1.dst = e2.src
  JOIN ecan e3 ON e3.src = e1.src AND e3.dst = e2.dst
), members AS (
  SELECT a AS term FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
), cnt AS (
  SELECT term, CAST(count(*) AS BIGINT) AS n_tri FROM members GROUP BY 1
), edges AS (
  SELECT src, dst FROM ecan UNION ALL SELECT dst, src FROM ecan
), deg AS (
  SELECT src AS term, CAST(count(*) AS BIGINT) AS deg
  FROM edges GROUP BY 1
)
SELECT deg.term, deg,
       CAST(coalesce(n_tri, 0) AS BIGINT) AS n_tri,
       CASE WHEN deg >= 2
            THEN round((2.0 * coalesce(n_tri, 0)) / (deg * (deg - 1)), 9)
            ELSE 0.0 END AS clustering
FROM deg LEFT JOIN cnt ON deg.term = cnt.term
ORDER BY n_tri DESC, deg.term ASC
"""


EXTRA_QUERIES = {
    "term_pagerank": (q_term_pagerank, SQL_TERM_PAGERANK),
    "term_triangles": (q_term_triangles, SQL_TERM_TRIANGLES),
}
