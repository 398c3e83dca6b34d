"""Iterative graph operators over edge-list DataFrames.

Connected components lives in :mod:`operators.dedup` (it grew out of
near-dup canonicalization); this module holds the rank-propagation
family. Same determinism discipline as the rest of the repo: all
iteration state is exact integer arithmetic (fixed-point scaling +
integer division), so a SQL oracle can replay every iteration
bit-for-bit — "probabilistic-looking" iterative algorithms are pure
functions once their arithmetic is pinned.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chapterhouseqe_spark.operators.util import ensure_parallelism
from chapterhouseqe_spark.session import checkpoint, keep

logger = logging.getLogger(__name__)

# Small-graph kernel cap, shared by the iterative operators here and
# connected_components (operators/dedup.py). The iterative frames these
# operators shuffle are tiny in every graded use (near-dup pair graphs:
# hundreds of edges; the supplier graph: dimension-bounded), yet each
# Spark round costs several scheduler round-trips + exchanges — 20-40
# sub-second jobs per query. At or below this cap the exact integer
# recurrence runs in numpy on collected (src, dst) int pairs instead —
# identical arithmetic (int64 adds / floor divisions / mins are
# schedule-independent), identical results, zero per-round jobs. Above
# the cap (or for non-integral ids) the distributed loops run
# unchanged, so the 100 TB posture is untouched.
SMALL_GRAPH_MAX_EDGES = 2_000_000


def _small_graph(e: DataFrame, src: str, dst: str, op: str, fits=None):
    """The small-graph dispatch of every iterative graph operator here
    and ``connected_components``: ``(n_edges, small)``.

    Counts ``e`` — the caller's persisted or checkpointed edge frame,
    so the count is also its materializing action — and, at or under
    SMALL_GRAPH_MAX_EDGES with integral ``src``/``dst`` columns,
    collects it as ``small = (ids, src_idx, dst_idx, numpy id dtype,
    ddl)`` for the caller's numpy kernel. ``fits(small, n_edges)`` lets
    a kernel add its own precondition (a work bound, an id universe).
    ``small`` is None when the caller
    must run its distributed loop; the path taken is logged either way.
    """
    import numpy as np
    from pyspark.sql import types as T

    n_edges = e.count()
    ints = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    small = None
    if n_edges > SMALL_GRAPH_MAX_EDGES:
        why = f"n_edges={n_edges} > cap {SMALL_GRAPH_MAX_EDGES}"
    elif not all(isinstance(e.schema[c].dataType, ints) for c in (src, dst)):
        # both endpoints: a non-integral dst would otherwise die inside
        # to_numpy instead of falling back to the distributed loop
        why = "non-integral ids"
    else:
        pdf = e.select(src, dst).toPandas()
        s = pdf[src].to_numpy(np.int64)
        d = pdf[dst].to_numpy(np.int64)
        ids = np.unique(np.concatenate([s, d]))
        ddl = e.schema[src].dataType.simpleString()
        np_id = {"bigint": np.int64, "int": np.int32, "smallint": np.int16,
                 "tinyint": np.int8}[ddl]
        small = (ids, np.searchsorted(ids, s), np.searchsorted(ids, d),
                 np_id, ddl)
        why = f"kernel precondition not met, n_nodes={len(ids)}"
        if fits is not None and not fits(small, n_edges):
            small = None
    if small is None:
        logger.info(
            "%s: small-graph kernel declined (%s) — distributed loop", op, why
        )
    else:
        logger.info(
            "%s: small-graph kernel engaged (n_edges=%d)", op, n_edges
        )
    return n_edges, small


def pagerank_fixed_point(
    edges: DataFrame,
    n_iter: int = 3,
    scale: int = 1_000_000,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """PageRank with integer fixed-point arithmetic — deterministic and
    cross-engine replayable (Page et al. 1999; the arithmetic variant,
    not the semantics, is the novelty here).

    Ranks are scaled integers (init ``scale`` per node). Per iteration::

        contrib(v) = Σ_{u→v} rank(u) DIV out_deg(u)      -- exact BIGINT
        rank'(v)   = (100-d)·scale DIV 100 + d·contrib(v) DIV 100

    Integer division everywhere (Spark ``div`` = DuckDB ``//``), so
    every iteration is exact and order-insensitive — no float summation
    to diverge between engines. Dangling nodes (no out-edges) simply
    leak their rank, the standard simplification when the graph is
    known to be non-dangling or the leak is acceptable; redistribute
    explicitly if not.

    Returns (id, rank) for every node (sources ∪ destinations).

    100 TB shape: per iteration ONE shuffle join of ranks onto edges
    keyed by src (degree is a static frame joined alongside) and ONE
    map-side-combinable groupBy(dst); the node frame re-enters via a
    left join to keep zero-in-degree nodes. ``n_iter`` is a fixed
    small constant; production would persist the edge frame with its
    degree column once (done here) and checkpoint ranks every few
    iterations to bound lineage (n_iter ≤ 5 here, so plan depth is
    fine without it).
    """
    # the distinct edge frame feeds degree, the per-iteration join, AND
    # the node census — persist it once or the (possibly expensive)
    # edge derivation replays for every consumer in every iteration
    e = keep(
        ensure_parallelism(edges)
        .select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
    )
    # r13 optimization: under the small-graph cap the whole fixed-point
    # recurrence runs in numpy on the collected integer edge list — the
    # arithmetic is exact int64 (adds, floor divisions), so the result
    # is bit-identical to the distributed loop's, without 3 rounds x
    # (join + agg + join) of sub-second Spark jobs. The gate's count
    # materializes the persist either way.
    _, small = _small_graph(e, "src", "dst", "pagerank_fixed_point")
    if small is not None:
        import numpy as np
        import pandas as pd

        node_ids, si, di, np_id, id_ddl = small
        n = len(node_ids)
        base_v = (100 - damping_pct) * scale // 100
        schema = f"id {id_ddl}, rank bigint"
        if n == 0:
            return edges.sparkSession.createDataFrame([], schema)
        odeg = np.bincount(si, minlength=n)
        r = np.full(n, scale, np.int64)
        for _ in range(n_iter):
            share = r[si] // odeg[si]  # ranks/degrees nonnegative
            contrib = np.zeros(n, np.int64)
            np.add.at(contrib, di, share)  # int64-exact
            r = base_v + (damping_pct * contrib) // 100
        return edges.sparkSession.createDataFrame(
            pd.DataFrame({"id": node_ids.astype(np_id), "rank": r}), schema
        )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e_deg = keep(e.join(deg, "src"))
    nodes = keep(
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    # Materialize both caches BEFORE the final job references e_deg
    # n_iter times and nodes n_iter+1 times: persisted-but-lazy frames
    # multiply referenced within one job race their own block
    # computation, re-deriving the (possibly expensive) edge lineage
    # per subtree instance (the kcore lesson, PLANS.md round 12).
    e_deg.count()
    nodes.count()
    base = (100 - damping_pct) * scale // 100
    ranks = nodes.select("id", F.lit(scale).cast("long").alias("rank"))
    for _ in range(n_iter):
        contrib = (
            e_deg.join(ranks, e_deg.src == ranks.id)
            .select(
                "dst",
                F.call_function("div", F.col("rank"), F.col("deg")).alias("share"),
            )
            .groupBy("dst")
            .agg(F.sum("share").alias("contrib"))
        )
        ranks = nodes.join(
            contrib, nodes.id == contrib.dst, "left"
        ).select(
            "id",
            (
                F.lit(base).cast("long")
                + F.call_function(
                    "div",
                    F.lit(damping_pct)
                    * F.coalesce(F.col("contrib"), F.lit(0).cast("long")),
                    F.lit(100),
                )
            ).alias("rank"),
        )
    return ranks


def pagerank_oracle_sql(
    edges_sql: str,
    n_iter: int = 3,
    scale: int = 1_000_000,
    damping_pct: int = 85,
    final_select: str = "SELECT id, r AS rank FROM {final}",
) -> str:
    """DuckDB replay of :func:`pagerank_fixed_point`: the same
    ``n_iter`` integer-arithmetic iterations as unrolled CTEs (the
    kmeans_lloyd oracle technique applied to rank propagation)."""
    base = (100 - damping_pct) * scale // 100
    parts = [
        f"edges AS (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)",
        "deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src)",
        f"r0 AS (SELECT id, CAST({scale} AS BIGINT) AS r FROM nodes)",
    ]
    for it in range(1, n_iter + 1):
        parts.append(
            f"""c{it} AS (
      SELECT e.dst AS id, SUM(r.r // g.d) AS contrib
      FROM edges e
      JOIN r{it - 1} r ON r.id = e.src
      JOIN deg g ON g.src = e.src
      GROUP BY e.dst
    )"""
        )
        parts.append(
            f"""r{it} AS (
      SELECT n.id,
             CAST({base} + ({damping_pct} * COALESCE(c.contrib, 0)) // 100
                  AS BIGINT) AS r
      FROM nodes n LEFT JOIN c{it} c ON c.id = n.id
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + final_select.format(final=f"r{n_iter}")
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact triangle count via degree-ordered wedges (Suri &
    Vassilvitskii 2011, "Counting Triangles and the Curse of the Last
    Reducer" — the standard distributed formulation).

    The input is treated as an UNDIRECTED simple graph (edges
    canonicalized to unordered distinct pairs). Each edge is oriented
    from its lower-(degree, id) endpoint to the higher one; every
    triangle then has exactly ONE node with two outgoing oriented
    edges, so counting (wedge ∈ oriented-edge) hits each triangle
    once — no 3x/6x overcounting to divide away.

    Returns one row: (n_nodes, n_edges, n_triangles).

    100 TB shape: the orientation is the entire skew defense — a
    celebrity node of degree d contributes wedges only through edges
    where it is the LOW end, so per-node wedge counts are bounded by
    the graph's arboricity rather than d² (the "last reducer" the
    paper names). Cost: one degree aggregation, one wedge self-join
    keyed on the low node, one membership join keyed on the wedge's
    far pair — three shuffles total, AQE-skew-managed.
    """
    und = keep(
        ensure_parallelism(edges)
        .select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = keep(
        und.select(F.col("a").alias("v"))
        .union(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient low (d, id) -> high (d, id)
    e = keep(
        und.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("w")))
            .alias("o")
        )
        .select(F.col("o.u").alias("u"), F.col("o.w").alias("w"))
    )
    # r14 optimization (r13 verdict item 4 — this query's 22 sub-second
    # jobs across three persist seams were the extended tier's largest
    # row): under the shared small-graph cap the whole count runs in
    # numpy on the collected canonical edge list. n_triangles is ONE
    # exact integer — any correct algorithm returns the identical row —
    # and the kernel replays the same degree-ordered formulation
    # (low-(degree,id) orientation). Bitset edge-iterator: for every
    # oriented edge (u,w) the contribution is |N+(u) ∩ N+(w)| — one
    # AND + popcount over nw words, so total work is n_edges · nw
    # SEQUENTIAL word ops, independent of the Σoutdeg² wedge mass
    # (indirect gathers defeat the prefetcher; the bitset form touches
    # memory linearly). The adjacency matrix (n·nw·8 bytes) and the AND
    # work (n_edges·nw words) are both bounded before any allocation;
    # over-bound graphs, over-cap edge counts and non-integral ids run
    # the distributed arboricity-bounded iterator below.
    def bitset_fits(small, n_edges):
        n = len(small[0])
        nw = (n + 63) // 64  # bitset words per adjacency row
        return n * nw * 8 <= 128_000_000 and n_edges * nw <= 400_000_000

    n_edges, small = _small_graph(
        und, "a", "b", "triangle_count", fits=bitset_fits
    )
    if small is not None:
        import numpy as np

        node_ids, ai, bi, _np_id, _id_ddl = small
        n = len(node_ids)
        n_tri = 0
        if n:
            nw = (n + 63) // 64
            deg_v = np.bincount(ai, minlength=n) + np.bincount(bi, minlength=n)
            # total order (degree, id): id index breaks ties — exactly
            # the distributed orientation's (d, id) rule
            okey = deg_v.astype(np.int64) * n + np.arange(n, dtype=np.int64)
            low_first = okey[ai] < okey[bi]
            u = np.where(low_first, ai, bi)
            w = np.where(low_first, bi, ai)
            adj = np.zeros((n, nw), np.uint64)
            np.bitwise_or.at(
                adj, (u, w >> 6), np.uint64(1) << (w & 63).astype(np.uint64)
            )
            acc = adj[u] & adj[w]  # (n_edges, nw), row-wise AND
            # SWAR popcount — elementwise arithmetic, no lookups
            m1 = np.uint64(0x5555555555555555)
            m2 = np.uint64(0x3333333333333333)
            m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
            h01 = np.uint64(0x0101010101010101)
            acc -= (acc >> np.uint64(1)) & m1
            acc = (acc & m2) + ((acc >> np.uint64(2)) & m2)
            acc = (acc + (acc >> np.uint64(4))) & m4
            n_tri = int(((acc * h01) >> np.uint64(56)).sum(dtype=np.uint64))
        return edges.sparkSession.createDataFrame(
            [(int(n), int(n_edges), n_tri)],
            "n_nodes long, n_edges long, n_triangles long",
        )
    # Materialize both remaining caches before the wedge job references
    # deg twice and e twice — lazy persists multiply referenced in one
    # job race their own block computation (the kcore lesson, PLANS.md
    # round 12). The gate's count already materialized und and is the
    # n_edges the result needs.
    n_nodes = deg.count()
    e.count()
    # Edge-iterator form of the same degree-ordered count (r13
    # optimization round, guide §2.3/§2.4): a triangle {u,w,x} with
    # orientation u->w, u->x, w->x is found at its (u,w) edge as a
    # common out-neighbor x — so n_triangles = sum over oriented edges
    # (u,w) of |N+(u) ∩ N+(w)|, with N+ the out-adjacency under the
    # SAME low-(degree,id) orientation. Identical integer to the
    # wedge-join formulation (each triangle counted exactly once at
    # its lowest-(degree,id) node), but the O(sum outdeg²) wedge rows
    # are never materialized or shuffled: on the sf0.1 supplier graph
    # (~1k nodes, ~300k edges, dense) the wedge join + membership join
    # burned 124 CPU-seconds building and hash-joining ~45M wedge
    # rows; the intersect form walks the same wedge mass inside a
    # codegen'd array op per edge, no Generate, no exchange of wedge
    # rows. Per-node out-adjacency stays arboricity-bounded by the
    # orientation — the paper's "last reducer" defense carries over
    # unchanged (a celebrity node's array is only its LOW-end edges).
    adj = e.groupBy("u").agg(F.collect_list("w").alias("ns"))
    tri = (
        e.join(adj.select(F.col("u"), F.col("ns").alias("ns_u")), "u")
        .join(
            adj.select(F.col("u").alias("w"), F.col("ns").alias("ns_w")),
            "w",
        )
        .select(
            F.size(F.array_intersect("ns_u", "ns_w")).cast("long").alias("c")
        )
        .agg(F.sum("c").alias("n_triangles"))
    )
    # n_nodes/n_edges as plan literals: the counts above already
    # materialized the caches and ARE those values, so no tail
    # re-aggregates und and deg inside broadcast subtrees (r13
    # optimization round; guide §2.4).
    return tri.select(
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
    )


def kcore_survivors(
    edges: DataFrame,
    k: int = 2,
    n_rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-round k-core peel (Seidman 1983; the Batagelj-Zaversnik
    peel expressed as synchronized rounds): repeatedly drop nodes whose
    degree among the still-alive nodes is < k. Survivors of the k-core
    are the densely inter-connected cliques — over a near-dup pair
    graph this surfaces TEMPLATE FARMS (boilerplate families where
    every doc is a near-dup of many others), which chain-shaped serial
    edits (core 1) never reach.

    ``n_rounds`` is a FIXED constant in the graded form so a SQL
    oracle can replay every round as an unrolled CTE (the
    pagerank_fixed_point technique); peeling is monotone, so once a
    round removes nothing every later round is a no-op — pick
    ``n_rounds`` past measured convergence and fixed-round == fixpoint
    (production would loop with an early-out count check instead).

    Returns (id, deg): the round-``n_rounds`` within-core degree of
    each surviving node. All arithmetic is exact integer counting.

    100 TB shape: the undirected arc frame is persisted once; each
    round is two semi-joins of the (shrinking) alive set onto the arcs
    plus one map-side-combinable groupBy — alive shrinks monotonically,
    so round cost falls; the arc frame never re-derives.
    """
    canon = (
        ensure_parallelism(edges)
        .select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # Eager localCheckpoint, not plain persist (the connected_components
    # iteration-hygiene discipline): it materializes the arc blocks once
    # AND truncates lineage, so each round's plan is one block-scan deep
    # instead of embedding the (possibly very expensive) edge-derivation
    # subtree three times per round (arcs + both alive semi-join sides),
    # nested deeper every round. Over an exact-jaccard pair graph at
    # sf0.1 the analyzer/optimizer cost of those growing plans was
    # 1.8-5.8s PER ROUND of a 31s run; with truncation each round is
    # ~0.3s. The blocks live on executors until the query ends —
    # an executor loss mid-peel fails the job (no lineage to recompute
    # through), the standard iterative-graph trade.
    arcs = checkpoint(
        canon.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
            canon.select(F.col("v").alias("a"), F.col("u").alias("b"))
        )
    )
    # NOTE (r13 optimization, resumed session): the small-graph numpy
    # kernel that pays off for connected_components and pagerank was
    # tried HERE too and measured a consistent +0.25s (warm min-of-3
    # 3.12 -> 3.37s on graph_kcore_dup_families): the peel is only
    # n_rounds x (one join-agg) over already-checkpointed tiny frames,
    # so the collect + createDataFrame overhead exceeds the saved
    # scheduler latency. Reverted; the distributed peel below stands.
    alive = checkpoint(arcs.select(F.col("a").alias("id")).distinct())
    # NOTE (r13 optimization round): broadcasting the node-sized alive
    # set here was tried and REVERTED — the shuffle plan's semi-joins
    # and the groupBy(a) share arc partitioning that the broadcast
    # form throws away (an arc-sized exchange per round came back),
    # and the bench's shared-session core tier measured the query 2x
    # slower with the broadcasts in. Guide §2.4: keyed-alike
    # operations sharing one exchange beat removing the exchange from
    # just the join.
    deg = None
    for _ in range(n_rounds):
        deg = (
            arcs.join(alive.withColumnRenamed("id", "a"), "a")
            .join(alive.withColumnRenamed("id", "b"), "b")
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # eager: materializes this round before the next builds on it;
        # every generation is released with the query's scope, never
        # mid-peel (the blocks are a checkpointed frame's ONLY copy).
        alive = checkpoint(
            deg.filter(F.col("deg") >= k)
            .select(F.col("a").alias("id"))
        )
    # The result persists + materializes so the caller's collect reads
    # cache; if evicted it recomputes from the arc/alive CHECKPOINT
    # blocks (one join-agg), never from the raw edge derivation — the
    # recompute cliff the old persist-then-unpersist shape left open
    # (measured: a ~3 min sf1 run turned into a 30-min recompute).
    out = keep(
        deg.filter(F.col("deg") >= k)
        .select(F.col("a").alias("id"), F.col("deg"))
    )
    out.count()
    return out


def kcore_oracle_sql(
    edges_sql: str,
    k: int = 2,
    n_rounds: int = 3,
    final_select: str = "SELECT id, deg FROM {final}",
) -> str:
    """DuckDB replay of :func:`kcore_survivors`: the same fixed
    ``n_rounds`` peel as unrolled CTEs."""
    # MATERIALIZED: every peel round references arcs twice; without the
    # hint DuckDB re-inlines the (possibly expensive) edge derivation
    # into each of the 2*n_rounds references
    parts = [
        f"""canon AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM ({edges_sql}) WHERE src != dst
    )""",
        "arcs AS MATERIALIZED (SELECT u AS a, v AS b FROM canon"
        " UNION ALL SELECT v, u FROM canon)",
        "alive0 AS (SELECT DISTINCT a AS id FROM arcs)",
    ]
    for it in range(1, n_rounds + 1):
        parts.append(
            f"""deg{it} AS (
      SELECT e.a, CAST(COUNT(*) AS BIGINT) AS deg
      FROM arcs e
      JOIN alive{it - 1} x ON x.id = e.a
      JOIN alive{it - 1} y ON y.id = e.b
      GROUP BY e.a
    )"""
        )
        parts.append(
            f"alive{it} AS (SELECT a AS id FROM deg{it} WHERE deg >= {k})"
        )
    final = (
        f"(SELECT a AS id, deg FROM deg{n_rounds} WHERE deg >= {k})"
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + final_select.format(
        final=final
    )
