"""Iterative link-graph analytics: integer-exact PageRank.

Web-corpus curation ranks pages/domains by link authority (the classic
quality prior for crawl selection — Page et al. 1999; CommonCrawl's
harmonic-centrality rankings serve the same role).  PageRank is
iterative, which most SQL-oracle harnesses skip; this one is built on
PURE INTEGER arithmetic so a fixed-iteration run is bit-exact across
engines: ranks are scaled longs, the per-edge contribution is an exact
floor division, and the damping mix ``(1-d) + d * incoming`` is applied
with integer numerator/denominator.  No doubles anywhere, so the ANSI
oracle (5 unrolled CTE iterations in DuckDB) hash-matches exactly — the
usual float-PageRank caveat ("sums in different orders drift") does not
apply.

Scale shape (100 TB / 10^12-page graph):

- each iteration is ONE shuffle-join of ``edges ⋈ ranks`` on ``src``
  (contributions) plus ONE groupBy on ``dst`` with a map-side-combinable
  ``sum`` — the canonical distributed PageRank plan.  The rank vector is
  O(nodes), never collected; iteration count is a fixed small constant.
- out-degrees are computed once, up front, and joined into the edge
  list so the per-iteration join carries the precomputed divisor.
- integer bound: with ``scale=10**12`` total rank mass is ``n * scale``;
  incoming sums are accumulated as ``decimal(38,0)`` so mass
  concentration on hub nodes cannot overflow long even at 10^9+ nodes,
  and only the final damped rank (bounded by the mass) returns to long.

Reference semantics: OSMNetFusion has no link analytics — this is part
of the web-corpus operator surface grafted onto the engine (SURVEY §6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["derive_link_graph", "pagerank"]


def _fdiv(num, den):
    """Exact floor division of non-negative longs via the pmod-subtract
    idiom (``/`` on longs is double division — rounds past 2^53)."""
    return ((num - F.pmod(num, den)).cast("decimal(38,0)") / den).cast("long")


def derive_link_graph(docs: DataFrame, id_col: str = "doc_id",
                      n_links: int = 3) -> DataFrame:
    """Deterministic synthetic link graph over a dense id domain.

    For each doc ``i`` emit ``n_links`` out-edges to
    ``(i * P_j + Q_j) mod n`` (bumped by one if that lands on ``i``), a
    fixed affine family that every engine reproduces exactly.  This is a
    test-scale generator standing in for a real (url → url) link table;
    ``pagerank`` itself takes any (src, dst) edge list.  The modulus
    ``n`` comes from a one-row count aggregate cross-joined in
    (broadcast, no shuffle of the fact table).
    """
    n = docs.select(F.count("*").cast("long").alias("__n"))
    base = docs.select(F.col(id_col).cast("long").alias("src")).crossJoin(n)
    out = None
    for j in range(n_links):
        p, q = 31 + 6 * j, 17 + 11 * j
        dst = F.pmod(F.col("src") * p + q, F.col("__n"))
        dst = F.when(dst == F.col("src"),
                     F.pmod(dst + 1, F.col("__n"))).otherwise(dst)
        e = base.select("src", dst.alias("dst"))
        out = e if out is None else out.unionByName(e)
    return out.where(F.col("src") != F.col("dst")).distinct()


def derive_link_graph_sql(table: str = "documents", id_col: str = "doc_id",
                          n_links: int = 3) -> str:
    """DuckDB twin of :func:`derive_link_graph` (same affine family)."""
    parts = []
    for j in range(n_links):
        p, q = 31 + 6 * j, 17 + 11 * j
        d0 = f"(({id_col}::BIGINT * {p} + {q}) % __n + __n) % __n"
        d = f"(CASE WHEN {d0} = {id_col} THEN ({d0} + 1) % __n ELSE {d0} END)"
        parts.append(
            f"SELECT {id_col}::BIGINT AS src, {d} AS dst "
            f"FROM {table} CROSS JOIN (SELECT count(*)::BIGINT AS __n "
            f"FROM {table}) __c"
        )
    u = " UNION ALL ".join(parts)
    return f"SELECT DISTINCT src, dst FROM ({u}) __e WHERE src <> dst"


def pagerank(edges: DataFrame, iters: int = 5, scale: int = 10 ** 12,
             d_num: int = 85, d_den: int = 100) -> DataFrame:
    """Fixed-iteration integer PageRank over an edge list (src, dst).

    Every node appearing as src or dst participates.  Rank is a scaled
    long starting at ``scale``; each iteration sets

        rank'(v) = (scale * (d_den - d_num)) // d_den
                 + (d_num * sum_{u->v} rank(u) // outdeg(u)) // d_den

    i.e. classic damped PageRank with exact integer floor arithmetic
    (dangling mass is dropped, the convention the oracle replays).
    Returns (node, rank) — bit-exact across engines and partitionings.
    """
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outd = edges.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    ej = edges.join(outd, "src")  # carries the divisor with each edge
    base = (scale * (d_den - d_num)) // d_den
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank"))
    for _ in range(iters):
        contrib = (
            ej.join(ranks, ej["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                _fdiv(F.col("rank"), F.col("outdeg"))
                .cast("decimal(38,0)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        s = F.coalesce(F.col("s"), F.lit(0).cast("decimal(38,0)"))
        num = (s * d_num).cast("decimal(38,0)")
        dampened = (
            (num - num % d_den) / d_den  # exact: numerator made divisible
        ).cast("long")
        ranks = (
            nodes.join(contrib, "node", "left")
            .select("node", (F.lit(base) + dampened).alias("rank"))
        )
    return ranks


def pagerank_sql(edges_cte: str, iters: int = 5, scale: int = 10 ** 12,
                 d_num: int = 85, d_den: int = 100) -> str:
    """ANSI oracle: the same fixed-point iteration unrolled as CTEs."""
    base = (scale * (d_den - d_num)) // d_den
    ctes = [
        f"e AS ({edges_cte})",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "outd AS (SELECT src, count(*)::BIGINT AS outdeg FROM e GROUP BY 1)",
        f"r0 AS (SELECT node, {scale}::BIGINT AS rank FROM nodes)",
    ]
    for i in range(iters):
        prev, cur = f"r{i}", f"r{i + 1}"
        ctes.append(f"""{cur} AS (
    SELECT n.node,
           {base}::BIGINT + COALESCE(
             (s.s * {d_num} - ((s.s * {d_num}) % {d_den})) / {d_den},
             0)::BIGINT AS rank
    FROM nodes n LEFT JOIN (
      SELECT e.dst AS node,
             sum((r.rank - (r.rank % outd.outdeg)) / outd.outdeg)::HUGEINT AS s
      FROM e JOIN outd ON outd.src = e.src
             JOIN {prev} r ON r.node = e.src
      GROUP BY 1) s ON s.node = n.node)""")
    return ("WITH " + ",\n  ".join(ctes)
            + f"\n  SELECT node, rank FROM r{iters}")
