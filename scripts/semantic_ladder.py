#!/usr/bin/env python
"""SCALE ladder for ``semantic_dedup`` (r13 verdict ask #3).

SemDeDup is the op a 100 TB curation run leans on, and it was the only
major dedup family with no measured per-decade exponent.  Its scale
claim is structural — clustering bounds the pairwise term to
Σ|cluster|², so with ``n_centroids ∝ N`` (constant expected cluster
size) total cost is linear — and this ladder measures that claim on the
HARD embedding corpora (gen_hard_embeddings.py: √N hierarchical
clusters, Zipf sizes, mixed densities — the family where k-means cells
genuinely cut neighborhoods and sizes are skewed, i.e. the unflattering
regime for a Σ|cluster|² bound).

Measured per decade (200k → 2M vectors, same corpus family):

* ``semantic_dedup_prop`` — the PRODUCTION spelling: n_centroids =
  max(8, N // 512) (constant ~512-row expected cells, the bounded-cell
  tier's discipline), threshold 0.9, default max_cluster_size guard.
* the FAIL-OPEN guard exercised for real (verdict "done" condition): a
  run with max_cluster_size small enough that the Zipf skew trips it —
  oversized clusters must come back kept=true (no wrong drops) and the
  run must complete at the capped cost, with the skipped-cluster census
  recorded.

Usage: python scripts/semantic_ladder.py --out FILE.json
       [--sizes sf10_hard,sf100_hard] [--runs 3] [--guard-cap 2000]
       [--codebook firstn|table]

``--codebook table`` (r15, verdict ask #1) switches the codebook source
from the deterministic first-(N//512) rows to the PRODUCTION fit:
``semantic_dedup(n_centroids=N//512)`` dispatches internally to
``kmeans_codebook_table`` (since r15: global distributed Lloyd over a
TABLE codebook, sharded routing) and, past the 4096-cell assignment cap
(the 20M point: ~39k cells), to ``assign_to_centroids_sharded`` —
measuring the exact path a 100 TB SemDeDup (n_centroids ∝ N) takes end
to end.  The fit sample is capped at ~400k rows (Lloyd only steers the
codebook; the downstream assignment always sees the full corpus).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from pathlib import Path
from statistics import median

import pandas as pd  # noqa: F401  (pandas_udf type-hint resolution)

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SCALE = REPO / "scripts" / "scale"
N_AT = {
    "sf10_hard": 200_000,
    "sf100_hard": 2_000_000,
    "sf1000_hard": 20_000_000,
}
# timed passes per size: the 20M point is a ~1 h pass — one timed run
# (the stats + guard passes reuse its cached assignment, see below)
RUNS_CAP = {"sf100_hard": 2, "sf1000_hard": 1}
OP = "semantic_dedup_prop"


def main() -> None:
    args = sys.argv[1:]
    if "--out" not in args:
        raise SystemExit(
            "usage: semantic_ladder.py --out FILE.json "
            "[--sizes sf10_hard,sf100_hard] [--runs 3] [--guard-cap 2000]"
        )
    out_name = args[args.index("--out") + 1]
    sizes = ["sf10_hard", "sf100_hard"]
    if "--sizes" in args:
        sizes = args[args.index("--sizes") + 1].split(",")
    n_runs = 3
    if "--runs" in args:
        n_runs = int(args[args.index("--runs") + 1])
    guard_cap = 2000
    if "--guard-cap" in args:
        guard_cap = int(args[args.index("--guard-cap") + 1])
    codebook = "firstn"
    if "--codebook" in args:
        codebook = args[args.index("--codebook") + 1]
        assert codebook in ("firstn", "table"), codebook
    guard_size = None
    if "--guard-size" in args:
        guard_size = args[args.index("--guard-size") + 1]
    # r16: separately time the codebook FIT per size (table mode) so an
    # end-to-end slowdown can be attributed fit-vs-downstream — the r15
    # 2-3x 2M regression went unadjudicated for lack of exactly this
    stages = "--stages" in args
    # table mode reports under its own operator key so SCALE.md keeps
    # the r14 firstn-codebook row alongside instead of overwriting it
    global OP
    if codebook == "table":
        OP = "semantic_dedup_prop_tablefit"

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    from pyspark.sql import functions as F

    import bench
    from csv_etl_spark import get_spark
    from csv_etl_spark.operators import similarity

    spark = get_spark("semantic-ladder")
    spark.sparkContext.setLogLevel("ERROR")
    env_start = bench._env_stamp()

    @F.pandas_udf("long")
    def _noop(s: pd.Series) -> pd.Series:
        return s

    spark.range(0, 1024, 1, 32).select(_noop(F.col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()

    from csv_etl_spark.operators._cache import clear_all

    def run_dedup(sf_dir: str, n: int, cap: int | None):
        # deterministic first-(N//512) codebook — the contract queries'
        # convention, same as the knn ladders.  NOT kmeans_centroids: its
        # engine-portable Lloyd step rebuilds an O(k x dim) broadcast-
        # LITERAL expression tree per iteration, and Catalyst ANALYSIS of
        # that tree is the bottleneck past a few hundred centroids
        # (measured: the 390-centroid fit at 200k sat idle for minutes in
        # analysis; 3907 at 2M would be hours).  Fitting large codebooks
        # belongs to the sampled table-codebook discipline
        # (ivf_two_level / knn_join_sharded); the ladder measures the
        # OPERATOR's scale shape — assignment + bounded per-cluster
        # self-join — which is codebook-source-independent.
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cells = max(8, n // 512)
        if codebook == "table":
            # PRODUCTION path: internal kmeans_codebook_table fit (>256
            # cells) + sharded assignment past 4096 cells.  Coarse-fit
            # sample capped ~400k rows — the interpreted literal-tree
            # Lloyd step only steers ≤256 coarse cells.
            return similarity.semantic_dedup(
                e,
                n_centroids=cells,
                threshold=0.9,
                kmeans_iters=2,
                sample_fraction=min(0.5, 400_000 / n),
                max_cluster_size=cap,
            )
        cents = (
            e.orderBy("vec_id")
            .limit(cells)
            .select(
                F.col("vec_id").cast("int").alias("centroid_id"),
                F.col("embedding").alias("centroid_vec"),
            )
        )
        return similarity.semantic_dedup(
            e,
            threshold=0.9,
            centroids=cents,
            max_cluster_size=cap,
        )

    from pyspark import StorageLevel

    results: dict[str, list[float]] = {}
    stats: dict[str, dict] = {}
    fit_secs: dict[str, float] = {}
    env_runs: dict[str, list] = {}
    for size in sizes:
        sf_dir = str(SCALE / size)
        if not (SCALE / size / "embeddings.parquet").exists():
            print(f"skip {size}: corpus missing", file=sys.stderr)
            continue
        n = N_AT[size]
        results[size] = []
        env_runs[size] = []
        if stages and codebook == "table":
            # FIT STAGE alone, same params the internal dispatch uses.
            # The codebook is discarded afterwards: the timed end-to-end
            # runs below re-fit internally, keeping them protocol-
            # comparable with the r14/r15 ladder rows.
            cells = max(8, n // 512)
            e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            t0 = time.perf_counter()
            cb = similarity.kmeans_codebook_table(
                e,
                n_centroids=cells,
                kmeans_iters=2,
                sample_fraction=min(0.5, 400_000 / n),
            )
            n_cells = cb.count()
            fit_secs[size] = round(time.perf_counter() - t0, 3)
            print(
                f"{size} fit-only: {fit_secs[size]}s ({n_cells} cells)",
                file=sys.stderr,
                flush=True,
            )
            similarity.release_sharded_broadcasts()
            clear_all()
        runs_for_size = min(n_runs, RUNS_CAP.get(size, n_runs))
        out = None
        for i in range(runs_for_size):
            env_runs[size].append(bench._env_stamp())
            out = run_dedup(sf_dir, n, 100_000)
            last = i == runs_for_size - 1
            if last:
                # the final timed run persists its (id, cluster, kept)
                # output so the stats pass below is a cheap agg instead
                # of a full third pipeline pass (3 narrow columns; the
                # materialization rides the timed noop write — documented
                # protocol difference vs r14)
                out = out.persist(StorageLevel.MEMORY_AND_DISK)
            t0 = time.perf_counter()
            out.write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 3)
            results[size].append(dt)
            env_runs[size].append(bench._env_stamp())
            print(f"{size} run{i}: {dt}s", file=sys.stderr, flush=True)
            if not last:
                clear_all()
        # result-shape stats off the persisted final run: kept fraction +
        # the cluster-size census the Σ|cluster|² claim rides on
        agg = out.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("kept"),
        ).collect()[0]
        csizes = (
            out.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("sz"))
            .agg(
                F.count(F.lit(1)).alias("n_clusters"),
                F.max("sz").alias("max_sz"),
                F.sum(F.col("sz") * F.col("sz")).alias("sum_sq"),
            )
            .collect()[0]
        )
        stats[size] = {
            "rows": int(agg["rows"]),
            "kept": int(agg["kept"]),
            "n_centroids": max(8, n // 512),
            "n_clusters_used": int(csizes["n_clusters"]),
            "max_cluster": int(csizes["max_sz"]),
            "sum_sq_pairs": int(csizes["sum_sq"]),
            "sum_sq_over_linear": round(
                csizes["sum_sq"] / (n * 512), 3
            ),
        }
        print(f"{size} stats: {stats[size]}", file=sys.stderr, flush=True)
        out.unpersist()
        if size != sizes[-1]:
            # the guard pass (below) runs at the LAST size and reuses
            # its cached assignment (identical fit + routing; only the
            # cluster-size cap differs) — keep the operator caches warm
            clear_all()

    # FAIL-OPEN GUARD, exercised at the big size: cap far below the
    # measured max cluster so the skip branch runs for real.  Oversized
    # clusters' members must ALL come back kept=true.
    guard: dict = {}
    big = guard_size or sizes[-1]
    if (SCALE / big / "embeddings.parquet").exists():
        n = N_AT[big]
        sf_dir = str(SCALE / big)
        t0 = time.perf_counter()
        out = run_dedup(sf_dir, n, guard_cap)
        e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        sizes_df = out.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("sz"),
            F.sum(F.when(~F.col("kept"), 1).otherwise(0)).alias("dropped"),
        )
        over = sizes_df.filter(F.col("sz") > guard_cap)
        row = over.agg(
            F.count(F.lit(1)).alias("n_over"),
            F.sum("dropped").alias("drops_in_over"),
            F.sum("sz").alias("rows_in_over"),
        ).collect()[0]
        guard = {
            "cap": guard_cap,
            "sec": round(time.perf_counter() - t0, 3),
            "oversized_clusters": int(row["n_over"] or 0),
            "rows_in_oversized": int(row["rows_in_over"] or 0),
            # the whole guarantee: fail-open means ZERO drops inside
            # skipped clusters
            "drops_in_oversized": int(row["drops_in_over"] or 0),
            "total_rows": e.count(),
        }
        print(f"guard: {guard}", file=sys.stderr, flush=True)
        clear_all()

    med = {s: round(median(r), 3) for s, r in results.items() if r}
    payload: dict = {
        "median_sec_big": {OP: med},
        "codebook": codebook,
        "protocol": (
            "semantic_dedup (SemDeDup ε-graph) over the HARD embedding "
            "corpora; codebook = "
            + (
                "PRODUCTION table fit: n_centroids=N//512 via internal "
                "kmeans_codebook_table dispatch (coarse-fit sample capped "
                "~400k rows), sharded assignment past 4096 cells"
                if codebook == "table"
                else "deterministic first-(N//512) vectors (constant "
                "~512-row expected cells)"
            )
            + "; threshold 0.9, default max_cluster_size=100k; noop-write "
            "timed (final run per size persists its 3-col output so stats "
            "ride it — r15 protocol), caches cleared between timed runs; "
            f"n_runs {n_runs} (caps: {RUNS_CAP}); one session; guard = "
            f"fail-open run at max_cluster_size={guard_cap} reusing the "
            "last size's cached assignment"
        ),
        "runs_sec": results,
        "stats": stats,
        "fail_open_guard": guard,
        "env": {"start": env_start, "end": bench._env_stamp()},
    }
    if fit_secs:
        payload["fit_only_sec"] = fit_secs
    if any(env_runs.values()):
        # per-run calibration stamps (before/after each timed run, in
        # order) — host SIMD oscillation shows up here directly
        payload["env_runs"] = env_runs
    if "sf10_hard" in med and "sf100_hard" in med:
        payload["decade_alpha_big"] = {
            OP: {
                "200k->2M": round(
                    math.log10(med["sf100_hard"] / med["sf10_hard"]), 3
                )
            }
        }
    if "sf100_hard" in med and "sf1000_hard" in med:
        payload.setdefault("decade_alpha_big", {}).setdefault(OP, {})[
            "2M->20M"
        ] = round(math.log10(med["sf1000_hard"] / med["sf100_hard"]), 3)
    out_path = REPO / "bench_records" / out_name
    if out_path.exists():
        raise SystemExit(
            f"{out_path} exists — evidence files are append-or-version "
            "(ARCHITECTURE.md §4); pick a new name"
        )
    out_path.write_text(json.dumps(payload, indent=1))
    print(json.dumps(payload, indent=1))


if __name__ == "__main__":
    main()
