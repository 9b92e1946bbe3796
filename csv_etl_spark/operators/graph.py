"""Link-graph analytics — PageRank-style centrality over an edge table.

Why in a training-data engine: crawl-frontier prioritization ranks
domains by link centrality before fetching (Common Crawl publishes
exactly such a harmonic-centrality ranking of its web graph), and
link-based quality signals feed corpus curation the same way the text
quality gates do.  The operator is deliberately the SIMPLIFIED power
iteration (fixed iteration count, dangling mass not redistributed —
Page et al. 1999's recurrence without the dangling patch), which keeps
every step a plain join + aggregate that any SQL engine can replay.

Engine-parity discipline: per-node contributions are quantized
(round to 8 digits, summed exactly as scaled longs — bit-identical to
the DECIMAL(38,8) spelling the SQL oracle uses) so the aggregate
is order-independent — the same quantize→decimal-sum convention the
stats operators use — and each iteration's ranks are rounded to
``round_digits``.  Two engines running the same edge table therefore
produce bit-identical ranks.

Scale shape (r11 re-measured): the link table (src, dst, out-degree) is
built by ONE fused src-keyed collect_set aggregation (dedup + degree +
src partitioning in a single exchange; the old distinct→degree→join→
repartition chain moved the edge table three times) and persisted; each
iteration is one equijoin of the stationary links with the n_nodes-row
rank frame plus one map-side-combinable SCALED-LONG sum keyed on
``dst`` (bit-identical to the decimal spelling, ~30% faster — see the
in-function notes).  An r11 A/B also showed the iteration join is
insensitive to explicit link-partition width at 60M edges (alternating
runs: 147 s vs 154 s medians, inside this box's noise), so no width
pinning is imposed.  Rank frames are n_nodes rows — never joined wider
than the edge table.  No
driver-side collect anywhere; the node count rides a broadcast
one-row aggregate.  Lineage grows linearly in ``iters`` (small fixed
counts — 3-10 — are the intended regime).  Each iteration's rank frame
is ``localCheckpoint``-ed (the ``dedup.resolve_duplicate_clusters``
pattern): without it the plan for iteration t contains iterations
1..t-1, so analysis/codegen cost grows per iteration and the measured
per-decade exponent went super-linear (α=1.096 at the 60M-row decade,
BENCHNOTES_r9_late) even though the data-side work is linear in edges.
Checkpointing makes every iteration start from a materialized
n_nodes-row frame with constant-size plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._cache import BoundedPersistCache

# the (src, dst, outdeg) link table is re-read by every power iteration
# (iters consumers): per the repo's multi-consumer rule it must be
# persisted or the edge scan + degree agg recompute per iteration.
_LINKS_CACHE = BoundedPersistCache(max_entries=4)


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    iters: int = 3,
    round_digits: int = 6,
    dedup: str = "agg",
) -> DataFrame:
    """Fixed-``iters`` PageRank power iteration over a directed edge
    table (parallel edges collapse to one).  Returns one row per node:
    ``(node_id, pagerank)``.

    Recurrence (simplified, no dangling-mass redistribution — a node
    with no out-edges leaks its mass, the standard simplification when
    ranks are used ordinally for prioritization)::

        pr_0(v)   = 1 / N
        pr_t+1(v) = (1 - d) / N + d * Σ_{(u,v) ∈ E} pr_t(u) / outdeg(u)

    with every contribution quantized to 8 digits and summed EXACTLY
    (scaled-long integer addition — bit-identical to a DECIMAL(38,8)
    sum, order-independent across engines / partitionings) and every
    rank rounded to ``round_digits``.  Nodes are the union of both edge
    endpoints; isolated ranks converge to (1-d)/N.

    ``dedup``: ``"agg"`` (default) fuses parallel-edge dedup + degree
    into one collect_set aggregation — fastest, but buffers each src's
    full out-neighbor set, so switch to ``"distinct"`` when the graph
    may contain hubs with ≥~1M out-degree (see the in-function hazard
    note for the buffer math)."""
    raw = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    # FUSED index build (r11): ONE src-keyed collect_set aggregation
    # performs parallel-edge dedup, out-degree, AND src partitioning in
    # a single exchange; the explode back to (src, outdeg, dst) rows is
    # map-side, so the persisted frame keeps the aggregation's
    # HashPartitioning(src) for free.  The spelling it replaces —
    # distinct → degree groupBy → equijoin → repartition — moved the
    # full edge table through THREE exchanges for the same table
    # (measured 19.6 s vs 14.8 s at 61M single-direction edges; the r11
    # bisect also showed the iteration joins are insensitive to the
    # exact partition width, so no explicit repartition is added back).
    # Hazard note: the per-src set must fit one aggregation buffer —
    # fine for out-degree-bounded graphs (web out-links, part/supplier
    # co-supply).  The buffer holds BOXED JVM objects, ~10-20× the raw
    # width, so a single ~1M-out-degree hub already means a
    # multi-hundred-MB aggregation buffer and likely executor OOM
    # (r11 ADVICE corrected the earlier 100M figure, which was off by
    # two orders of magnitude).  For graphs that may contain ≥~1M-out-
    # degree hubs use ``dedup="distinct"``, the old three-exchange
    # spelling, whose degree count never buffers the neighbor set.
    # Auto-detection is deliberately not done: an exact max-out-degree
    # probe is itself a full src-keyed shuffle — the same cost the
    # probe would be trying to avoid.
    if dedup == "agg":
        g = raw.groupBy("src").agg(F.collect_set("dst").alias("_ds"))
        built = g.select(
            "src",
            F.size("_ds").alias("outdeg"),
            F.explode("_ds").alias("dst"),
        )
    elif dedup == "distinct":
        e = raw.distinct()
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        built = e.join(deg, "src")
    else:
        raise ValueError("dedup must be 'agg' or 'distinct'")
    links = _LINKS_CACHE.get_or_persist(built, "pagerank_links")
    # nodes derives from the PERSISTED link table (every edge's src is in
    # deg by construction, so links ≡ e + outdeg) and is itself persisted:
    # it feeds the init frame plus every iteration's left join — without
    # the cache each iteration re-runs the raw edge scan + distinct
    # (observed as lineitem×36 dup scans in the r9 plan audit)
    nodes = _LINKS_CACHE.get_or_persist(
        links.select(F.col("src").alias("node_id"))
        .unionByName(links.select(F.col("dst").alias("node_id")))
        .distinct(),
        "pagerank_nodes",
    )
    n_frame = nodes.agg(F.count(F.lit(1)).alias("_n"))
    pr = nodes.crossJoin(F.broadcast(n_frame)).select(
        "node_id",
        F.round(F.lit(1.0) / F.col("_n"), round_digits).alias("pagerank"),
    )
    d = float(damping)
    n_iters = int(iters)
    for i in range(n_iters):
        # Quantized sum as SCALED LONGS (r11): the round-8 contribution
        # is held as its exact 1e-8-units integer and summed with plain
        # vectorized long addition — provably BIT-IDENTICAL to the
        # DECIMAL(38,8) spelling it replaces (|round(x,8)·1e8| ≤ 1e8
        # sits 7 orders below 2^53, so the scaled double rounds to the
        # exact integer; the long sum is the same exact value the
        # decimal sum held; exact→double conversion then rounds
        # identically in both spellings — verified 0 mismatches over
        # 61M contributions) while decimal arithmetic is interpreted
        # 128-bit (measured 8.0 s vs 5.5 s per iteration at 61M).
        # Overflow bound: per-node Σ < 2^63 holds until in-degree
        # ~9×10¹⁰ — beyond any real graph.
        contribs = (
            links.join(pr, links["src"] == pr["node_id"])
            .select(
                F.col("dst").alias("node_id"),
                F.round(
                    F.round(F.col("pagerank") / F.col("outdeg"), 8) * 1e8
                )
                .cast("long")
                .alias("_c"),
            )
            .groupBy("node_id")
            .agg((F.sum("_c") / F.lit(1e8)).alias("_in"))
        )
        pr = (
            nodes.join(contribs, "node_id", "left")
            .crossJoin(F.broadcast(n_frame))
            .select(
                "node_id",
                F.round(
                    F.lit(1.0 - d) / F.col("_n")
                    + F.lit(d) * F.coalesce(F.col("_in"), F.lit(0.0)),
                    round_digits,
                ).alias("pagerank"),
            )
        )
        # truncate lineage so iteration i+1's plan does not contain
        # iterations 1..i (see module docstring); the LAST iteration is
        # left un-checkpointed so the caller's action drives it lazily
        # and downstream projections still prune through it
        if i < n_iters - 1:
            pr = pr.localCheckpoint(eager=True)
    return pr
