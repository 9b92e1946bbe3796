"""Similarity search over embedding columns (``array<float>``).

Two paths, same output contract (probe_id, neighbor_id, cosine, rank):

* brute_force_topk — exact: broadcast the (small) probe set against every
  vector; per-row dot products via zip_with/aggregate (JVM-side, no UDF),
  then a top-k window per probe.  The correctness baseline; at 100 TB this
  is a full scan but embarrassingly parallel (no shuffle until the final
  per-probe top-k, which is tiny).

* ivf_topk — IVF-style approximate: centroids from ``kmeans_centroids``
  (sampled Lloyd iterations, engine-portable) or a deterministic first-n
  fallback; assigns every vector to its nearest centroid (map-only,
  broadcast centroids) and probes only the ``nprobe`` closest centroid
  partitions per query.  With nprobe == n_centroids it degrades to exact
  (used by the tests); with nprobe « n_centroids the scan cost drops
  ~nprobe/n_centroids — the 100 TB path, where the cluster assignment is
  precomputed once and stored as a partition column.

* random_hyperplane_buckets — SimHash-for-vectors: sign pattern against
  ``n_planes`` fixed pseudo-random hyperplanes → integer bucket; used for
  embedding near-dup joins (bucket-equijoin instead of cross join).
"""

from __future__ import annotations

import functools
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_arrow(a: Column, b: Column) -> Column:
    """Arrow-batched dot product, BIT-IDENTICAL to ``dot``.

    Catalyst higher-order functions are CodegenFallback — every
    zip_with/aggregate lambda is interpreted per ELEMENT with boxed
    InternalRows, measured at ~50k 64-dim dots/s/core (a thread dump of
    the r10 kNN-graph ladder showed straggler tasks spending 100% of
    their CPU inside ``ArrayAggregate.eval``).  This kernel moves ONLY
    the fold to an Arrow batch: a per-DIMENSION vectorized left fold
    (``acc += a[:, j] * b[:, j]`` for j = 0..dim-1), which performs the
    exact same IEEE-754 double operation sequence per pair as the
    Catalyst fold — same element order, same intermediate rounding —
    so results are bit-identical (test_arrow_kernel_bit_parity fuzzes
    this) and every SQL oracle replays unchanged.  ~40x on the pair-
    scoring hot path at sf10.

    Requires fixed-dimension non-null vectors (every embedding table
    here); the surrounding norm division/guard stays JVM-side."""
    import pandas as pd  # noqa: F811 (module import is for type hints)
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("double")
    def _fold(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if not len(xs):
            return pd.Series([], dtype="float64")
        A = np.vstack(xs.to_numpy()).astype("float64")
        B = np.vstack(ys.to_numpy()).astype("float64")
        acc = np.zeros(len(A), dtype="float64")
        for j in range(A.shape[1]):
            acc += A[:, j] * B[:, j]
        return pd.Series(acc)

    return _fold(a, b)


# the Catalyst-literal / plain-collect codebook cap: assignments over
# codebooks at or under this many cells go through _codebook_arrays and
# the broadcast struct-array spelling; past it, callers must take the
# torrent-broadcast sharded path (assign_to_centroids_sharded).
_ASSIGN_LITERAL_CELLS = 4096


def _codebook_arrays(centroids: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Collect a centroid table to (ids, matrix) sorted by centroid_id —
    driver-side and BOUNDED: every caller enforces the 4096-cell literal
    cap (kmeans_centroids raises above it; knn codebooks clamp at
    min(4096, √N)), so this is the same ≤4096-row collect the broadcast
    struct-array spelling already does.  The bound is also ENFORCED
    here at the collect site: a caller that slipped an unbounded frame
    through would otherwise silently pull it all onto the driver."""
    rows = (
        centroids.select("centroid_id", "centroid_vec")
        .limit(_ASSIGN_LITERAL_CELLS + 1)
        .collect()
    )
    if len(rows) > _ASSIGN_LITERAL_CELLS:
        raise ValueError(
            "_codebook_arrays: centroid frame exceeds the 4096-cell "
            "driver-collect cap; shard the codebook or raise k-means k"
        )
    rows.sort(key=lambda r: int(r["centroid_id"]))
    ids = np.array([int(r["centroid_id"]) for r in rows], dtype="int64")
    mat = np.array(
        [[float(x) for x in r["centroid_vec"]] for r in rows], dtype="float64"
    )
    return ids, mat


def _fold_sims(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, m) cosine matrix with the EXACT fold op order of
    ``cosine(vec, cent)``: dot accumulated sequentially over dimension j
    (``acc[:, k] += V[:, j] * C[k, j]`` via one outer-product accumulate
    per j), norms accumulated in the same j order, denom = vnorm*cnorm,
    guarded division — every IEEE double op matches the Catalyst/DuckDB
    fold, so argmax/ordering decisions are bit-faithful."""
    n, d = V.shape
    m = C.shape[0]
    acc = np.zeros((n, m), dtype="float64")
    vn = np.zeros(n, dtype="float64")
    cn = np.zeros(m, dtype="float64")
    for j in range(d):
        acc += V[:, j : j + 1] * C[:, j][None, :]
        vn += V[:, j] * V[:, j]
        cn += C[:, j] * C[:, j]
    denom = np.sqrt(vn)[:, None] * np.sqrt(cn)[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        sims = np.where(denom > 0, acc / np.where(denom == 0, 1.0, denom), 0.0)
    return sims


def _sims_matmul(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Fast cosine matrix via one BLAS matmul — used for SELECTION only
    (argmax / top-k candidate picking), never for emitted values.  BLAS
    pairwise summation differs from the fold order by ≤ ~1e-13 on unit-
    scale vectors; every selection made on it carries a margin ≥ 1e-9
    and falls back to ``_fold_sims`` when the decision gap is inside
    the margin, so selections are provably identical to fold-exact."""
    num = V @ C.T
    vn = np.sqrt((V * V).sum(axis=1))
    cn = np.sqrt((C * C).sum(axis=1))
    denom = vn[:, None] * cn[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom > 0, num / np.where(denom == 0, 1.0, denom), 0.0)


# decision-gap margin for matmul-based selection: BLAS-vs-fold error is
# ≤ ~2e-13 on cosine-scale values; any ordering decision with a gap
# below this margin is re-decided on the exact fold
_SELECT_MARGIN = 1e-9


def cosine_with_norms_arrow(
    a: Column, b: Column, na: Column, nb: Column
) -> Column:
    """``cosine_with_norms`` with the dot on the Arrow kernel — the
    default for the PAIR-SCORING selects of the heavy embedding
    operators (where millions of dots flow through one projection).
    Bit-identical to the builtin spelling; routing/assignment argmaxes
    keep the pure-Column form (they run inside HOF lambdas over
    broadcast codebooks, where a UDF cannot appear and volumes are
    n_rows x n_cells, not pairs)."""
    denom = na * nb
    return F.when(denom > 0, dot_arrow(a, b) / denom).otherwise(F.lit(0.0))


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def cosine_with_norms(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine(a, b)`` with both L2 norms HOISTED to precomputed
    columns — arithmetically identical (same dot fold, same norm values,
    same ``denom > 0`` guard, so results are bit-identical and every SQL
    oracle replays unchanged), but each norm is computed once per ROW
    instead of once per PAIR.  Pair scoring dominates every embedding
    operator, and the measured cost split is ~3:1 norms:dot (two extra
    64-element interpreted HOF folds per pair), so hoisting cuts the
    hot path ~3x.  Callers compute ``l2_norm`` per side BEFORE the
    pair-generating join and carry it as a column."""
    denom = na * nb
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def topk_per_probe(scored: DataFrame, k: int, probe_col: str = "probe_id") -> DataFrame:
    """Exact per-probe top-k over (probe, neighbor_id, cosine) rows, in two
    stages.

    A single ``Window.partitionBy(probe_id)`` would shuffle EVERY scored row
    into n_probes reducer tasks — with ~10 probes that is a ~10-task
    bottleneck no matter how many executors exist (the inverse of the
    per-row-unique-key window anti-pattern).  Stage 1 ranks within
    (probe, physical input partition): the exchange key has cardinality
    n_probes × n_input_partitions, so scored rows spread across the whole
    cluster and at most k rows per (probe, partition) survive.  Stage 2's
    global per-probe window then receives ≤ k × n_input_partitions rows per
    probe instead of N.  Both stages share one deterministic ordering
    (cosine desc, neighbor_id asc), and the global top-k is contained in
    the union of the local top-ks, so the result is row-identical to the
    single-window spelling."""
    order = [F.col("cosine").desc(), F.col("neighbor_id").asc()]
    local_w = Window.partitionBy(probe_col, "_pid").orderBy(*order)
    pruned = (
        scored.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lrk", F.row_number().over(local_w))
        .filter(F.col("_lrk") <= k)
        .drop("_pid", "_lrk")
    )
    w = Window.partitionBy(probe_col).orderBy(*order)
    return pruned.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# brute_force_topk collects the probe set to the driver when it fits this
# bound and scores it with ONE pass of the corpus through Arrow (the
# per-batch cosine matrix is row-blocked to ~32 MB).  1024 probes × 64
# dims × 8 B ≈ 0.5 MB of closure — driver-safe by construction.  Larger
# probe sets fall back to the crossJoin spelling.
_BRUTE_BLAS_MAX_PROBES = 1024


def brute_force_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
) -> DataFrame:
    """Exact cosine top-k.  Excludes self-matches (same id);
    deterministic tie-break on neighbor id; cosine rounded to 6 places.

    Scale path (r14): when the probe set fits ``_BRUTE_BLAS_MAX_PROBES``
    it is collected and closed over, and scoring is ONE ``mapInPandas``
    pass of the corpus — each corpus row crosses Arrow once, and each
    batch emits only its per-probe top-(k+1) shortlist.  The previous
    crossJoin spelling shipped N × m pair rows (each carrying BOTH
    full vectors) through the Python runner: ~500 GB of Arrow traffic
    at 20M × 50 — measured stalling the 20M-hard recall protocol
    (BENCHNOTES_r14 driver-stall finding).  The kernel reproduces the
    Catalyst fold exactly (per-dimension double accumulate for norms
    and dots, same ``denom > 0`` guard), so cosines are bit-identical
    to the crossJoin spelling and every SQL oracle replays unchanged;
    per-batch selection keeps a 2×10⁻⁶ value margin so no row that
    could enter the global top-k under ROUNDED ordering is dropped by
    an unrounded shortlist.  Probe sets above the bound (rare: probes-
    as-corpus belongs to ``knn_join``) take the old broadcast-crossJoin
    path unchanged.

    EAGER: sizing the probe set runs a bounded Spark action
    (``limit(1025).collect()`` on ``probes``) AT CALL TIME — unlike
    most operators here, calling this function triggers a job even if
    the returned frame is never executed (same documented trade as the
    LSH hot-bucket guard; the probe rows are needed driver-side to
    build the closure)."""
    probe_rows = (
        probes.select(probe_id_col, probe_vec_col)
        .limit(_BRUTE_BLAS_MAX_PROBES + 1)
        .collect()
    )
    if not probe_rows:
        # empty probe set: the pre-r14 crossJoin spelling returned an
        # empty frame gracefully; preserve that contract (r14 ADVICE —
        # the BLAS kernel would raise unpacking a 0-row matrix).  Empty
        # scored rows through the normal top-k keep the schema identical.
        scored = (
            probes.limit(0)
            .select(probe_id_col)
            .crossJoin(vectors.limit(0).select(F.col(id_col).alias("neighbor_id")))
            .withColumn("cosine", F.round(F.lit(0.0).cast("double"), 6))
        )
        return topk_per_probe(scored, k, probe_id_col)
    if len(probe_rows) <= _BRUTE_BLAS_MAX_PROBES:
        scored = _brute_scored_blas(
            vectors, probe_rows, k, id_col, vec_col, probe_id_col, probes
        )
        return topk_per_probe(scored, k, probe_id_col)
    joined = (
        vectors.withColumn("_vnorm", l2_norm(F.col(vec_col)))
        .crossJoin(
            F.broadcast(
                probes.withColumn("_pnorm", l2_norm(F.col(probe_vec_col)))
            )
        )
        .filter(F.col(id_col) != F.col(probe_id_col))
    )
    scored = joined.select(
        F.col(probe_id_col),
        F.col(id_col).alias("neighbor_id"),
        F.round(
            cosine_with_norms_arrow(
                F.col(vec_col), F.col(probe_vec_col), F.col("_vnorm"), F.col("_pnorm")
            ),
            6,
        ).alias("cosine"),
    )
    return topk_per_probe(scored, k, probe_id_col)


def _brute_scored_blas(
    vectors: DataFrame,
    probe_rows: list,
    k: int,
    id_col: str,
    vec_col: str,
    probe_id_col: str,
    probes: DataFrame,
) -> DataFrame:
    """(probe_id, neighbor_id, cosine) shortlist rows for the collected
    probe set — one Arrow pass of the corpus, per-batch top-(k+1) with a
    2e-6 raw-cosine margin (see brute_force_topk), cosine rounded
    JVM-side with the same F.round the crossJoin spelling uses."""
    pids = [r[0] for r in probe_rows]
    pmat = np.array([list(r[1]) for r in probe_rows], dtype=np.float64)
    m, dim = pmat.shape
    # probe norms: same per-dimension double fold as l2_norm
    pn = np.zeros(m)
    for j in range(dim):
        pn += pmat[:, j] * pmat[:, j]
    pn = np.sqrt(pn)
    pid_arr = np.asarray(pids)
    # row-block so the per-block cosine matrix stays ~32 MB
    block = max(256, 4_000_000 // max(1, m))
    margin = 2e-6
    keep_n = k + 1  # +1 absorbs the (single possible) self-match

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_all = pdf[id_col].to_numpy()
            vecs = pdf[vec_col].to_numpy()
            out_p, out_n, out_c = [], [], []
            for lo in range(0, len(pdf), block):
                hi = min(lo + block, len(pdf))
                V = np.stack(vecs[lo:hi]).astype(np.float64)
                b = V.shape[0]
                ids = ids_all[lo:hi]
                vn = np.zeros(b)
                dots = np.zeros((b, m))
                for j in range(dim):
                    col = V[:, j]
                    vn += col * col
                    dots += col[:, None] * pmat[None, :, j]
                vn = np.sqrt(vn)
                denom = vn[:, None] * pn[None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(denom > 0, dots / denom, 0.0)
                for p in range(m):
                    c = cos[:, p]
                    if b > keep_n:
                        thr = np.partition(c, b - keep_n)[b - keep_n]
                        sel = np.flatnonzero(c >= thr - margin)
                    else:
                        sel = np.arange(b)
                    sel = sel[ids[sel] != pid_arr[p]]
                    if len(sel) == 0:
                        continue
                    out_p.append(np.full(len(sel), pid_arr[p]))
                    out_n.append(ids[sel])
                    out_c.append(c[sel])
            if out_p:
                yield pd.DataFrame(
                    {
                        probe_id_col: np.concatenate(out_p),
                        "neighbor_id": np.concatenate(out_n),
                        "cosine": np.concatenate(out_c),
                    }
                )

    ptype = probes.schema[probe_id_col].dataType.simpleString()
    ntype = vectors.schema[id_col].dataType.simpleString()
    shortlist = vectors.select(id_col, vec_col).mapInPandas(
        gen, schema=f"{probe_id_col} {ptype}, neighbor_id {ntype}, cosine double"
    )
    return shortlist.select(
        probe_id_col, "neighbor_id", F.round("cosine", 6).alias("cosine")
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dtype: str = "int",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max(|v|)/127``,
    ``q_i = round(v_i / scale)`` ∈ [-127, 127] (zero vector → all-zero q,
    scale 0).  Returns ``(id_col, qvec: array<dtype>, scale: double)``.

    ``dtype="tinyint"`` stores the codes as actual int8 — the REAL 4×
    byte cut for shuffle-bound paths (array<int> elements serialize at
    4 B, same as the float32 source; the r14 20M kNN probe shuffle was
    ~90 GB at float32 and only tinyint brings it under this sandbox's
    disk).  The default stays ``int`` because the oracle-checked
    ``ann_quantized`` contract pins that schema; the VALUES are
    identical either way ([-127, 127] fits both).

    This is the storage/shuffle scale path for every embedding operator:
    an int8 codebook is 4× smaller than float32, so ANN scans, near-dup
    self-joins and semantic-dedup shuffles move a quarter of the bytes —
    and COSINE IS SCALE-INVARIANT, so downstream cosine math runs on the
    quantized vectors directly (scales cancel; ``quantized_topk`` proves
    recall survives).  ``scale`` is carried for operators that need
    magnitudes back (dot products, L2 reconstruction ≈ q_i × scale).

    Map-only JVM fold per row, no UDF, no shuffle.  Engine-portable by
    construction: max/divide/round(half-away-from-zero) compute on IEEE
    doubles identically in Spark and DuckDB, so the oracle re-derives the
    exact same int codes.

    Two-step projection ON PURPOSE: an expression referenced inside a
    HOF lambda is inlined and re-evaluated PER ELEMENT, so spelling the
    scale inline makes the O(dim) max-fold run dim times — O(dim²) per
    row (measured 24.4s vs 1.6s for 20k × dim-512 vectors).  Projecting
    ``_scale`` first and referencing the attribute TWICE in the outer
    select blocks CollapseProject from re-inlining it (its
    expensive-expression-used-more-than-once rule), keeping the fold
    once-per-row."""
    v = F.col(vec_col)
    amax = F.aggregate(
        v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    staged = df.select(
        F.col(id_col), v, (amax / F.lit(127.0)).alias("_scale")
    )
    q = F.when(
        F.col("_scale") > 0,
        F.transform(
            v, lambda x: F.round(x.cast("double") / F.col("_scale")).cast(dtype)
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast(dtype)))
    return staged.select(
        F.col(id_col), q.alias("qvec"), F.col("_scale").alias("scale")
    )


def quantized_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "probe_vec",
) -> DataFrame:
    """Brute-force cosine top-k over int8-QUANTIZED vectors — the
    bandwidth-bound scan at 100 TB reads 4× fewer bytes than the float32
    path for a recall loss that int8 symmetric quantization keeps
    negligible (|Δcos| ≲ 1/127 per component pair).  Same output contract
    as ``brute_force_topk``; cosine here is the quantized approximation."""
    qv = quantize_embeddings(vectors, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col), F.col("qvec").alias(vec_col)
    )
    qp = quantize_embeddings(probes, id_col=probe_id_col, vec_col=probe_vec_col).select(
        F.col(probe_id_col), F.col("qvec").alias(probe_vec_col)
    )
    return brute_force_topk(
        qv,
        qp,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        probe_id_col=probe_id_col,
        probe_vec_col=probe_vec_col,
    )


def make_probes(
    vectors: DataFrame, n: int = 10, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic probe set: the n smallest ids."""
    return (
        vectors.orderBy(id_col)
        .limit(n)
        .select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec"))
    )


def kmeans_centroids(
    vectors: DataFrame,
    n_centroids: int = 8,
    iters: int = 2,
    sample_fraction: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Sampled Lloyd k-means under cosine similarity — real centroids for
    ``ivf_topk`` (replacing the first-n-vectors placeholder).

    Engine-portable by construction so a SQL oracle can replicate it:

    * the training sample is the md5-hash sample of ``operators.sampling``
      (layout-independent, reproducible in any engine);
    * init = the first ``n_centroids`` vectors by id (deterministic);
    * each Lloyd step assigns sample points to the most-cosine-similar
      centroid (ties → lowest centroid id) and recomputes each centroid as
      the element-wise mean of its members ROUNDED to ``round_digits`` —
      the rounding collapses the ~1e-13 summation-order drift between
      Spark's distributed avg and a sequential engine, so both derive
      bit-identical centroids;
    * an empty cluster keeps its previous centroid.

    Scale shape: assignment is the same broadcast-literal argmax as
    ``ivf_topk`` (map-only over the sample); the mean is a (cluster, pos)
    groupBy over sample_rows × dim rows — bounded by the SAMPLE, not the
    corpus (pass ``sample_fraction`` ≪ 1 at scale).  Each iteration moves
    only n_centroids × dim rounded doubles to the driver — model
    parameters, the same shape MLlib's KMeans keeps on the driver.

    Driver-round-trip bound: the loop is ``iters`` sequential jobs, each
    collecting the n_centroids × dim model and re-broadcasting it as a
    literal expression tree.  That tree has O(n_centroids × dim) nodes,
    so very large codebooks would blow up Catalyst analysis long before
    the driver's memory — ``n_centroids`` is capped at 4096 (a 100 TB
    IVF index wants ~√N partitions ≲ thousands; for genuinely larger
    codebooks use hierarchical/two-level IVF, i.e. run this per
    top-level cell)."""
    from csv_etl_spark.operators.sampling import hash_sample

    if n_centroids > 4096:
        raise ValueError(
            f"n_centroids={n_centroids} exceeds 4096: the broadcast-literal "
            "centroid array is an O(n_centroids x dim) expression tree; use "
            "ivf_two_level_topk (coarse literal + fine broadcast TABLE) for "
            "larger codebooks"
        )

    sample = vectors.select(F.col(id_col), F.col(vec_col))
    if sample_fraction is not None:
        sample = hash_sample(sample, id_col, sample_fraction)

    first = vectors.orderBy(id_col).limit(n_centroids).select(vec_col).collect()
    cents: list[tuple[int, list[float]]] = [
        (i, [float(x) for x in row[vec_col]]) for i, row in enumerate(first)
    ]

    for _ in range(iters):
        # centroid norms as Python-side literals: IEEE double left-fold
        # + sqrt, the same op sequence as l2_norm's Catalyst fold, so
        # the similarity values are bit-identical to the unhoisted
        # spelling while each centroid's norm is computed once per
        # ITERATION instead of once per (row, centroid)
        cent_lit = F.array(
            *[
                F.struct(
                    F.lit(cid).alias("centroid_id"),
                    F.array(*[F.lit(v) for v in vec]).alias("centroid_vec"),
                    F.lit(math.sqrt(sum(v * v for v in vec))).alias("centroid_norm"),
                )
                for cid, vec in cents
            ]
        )
        sims = F.transform(
            cent_lit,
            lambda c: cosine_with_norms(
                F.col(vec_col),
                c.getField("centroid_vec"),
                F.col("_vnorm"),
                c.getField("centroid_norm"),
            ),
        )
        assigned = (
            sample.withColumn("_vnorm", l2_norm(F.col(vec_col)))
            .withColumn("_sims", sims)
            .withColumn("_best", F.array_position(F.col("_sims"), F.array_max(F.col("_sims"))))
            .select(
                F.element_at(cent_lit, F.col("_best").cast("int"))
                .getField("centroid_id")
                .alias("cluster"),
                F.col(vec_col),
            )
            .select("cluster", F.posexplode(vec_col).alias("pos", "val"))
        )
        means = (
            assigned.groupBy("cluster", "pos")
            .agg(F.round(F.avg(F.col("val").cast("double")), round_digits).alias("val"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "val"))).alias("pv"))
            .select("cluster", F.transform("pv", lambda s: s.getField("val")).alias("vec"))
            .collect()
        )
        refined = {int(r["cluster"]): [float(x) for x in r["vec"]] for r in means}
        cents = [(cid, refined.get(cid, vec)) for cid, vec in cents]

    # model-sized literal (≤ _KMEANS_LITERAL_MAX rows): inline-VALUES
    # LocalRelation so consumers' broadcast builds stay JVM-only — the
    # last createDataFrame literal frame in operator code (r17)
    from csv_etl_spark.local import local_values_frame

    return local_values_frame(
        vectors.sparkSession,
        [(cid, [float(x) for x in vec]) for cid, vec in cents],
        "centroid_id int, centroid_vec array<double>",
    )


# past this many centroids, kmeans_centroids' engine-portable Lloyd step
# is ANALYSIS-bound: each iteration rebuilds an O(k × dim) broadcast-
# literal expression tree and Catalyst analysis of it dominates (r14
# semantic ladder: a 390-cell fit at 200k rows sat idle-CPU for minutes;
# 3907 cells projects to hours).  Larger codebooks are fitted by the
# global table-Lloyd (kmeans_codebook_table).
_KMEANS_LITERAL_MAX = 256


def codebook_table_cells_bound(n_centroids: int) -> int:
    """UPPER bound on the cell count ``kmeans_codebook_table`` can emit
    for a requested ``n_centroids`` — exactly ``n_centroids`` since r15
    (init is the first n rows by id and Lloyd never adds cells; a corpus
    smaller than n yields fewer).  Kept as a function so the dispatch
    sites stay decoupled from the fitter's internals: callers pick the
    assignment tier from the request without counting the fitted table —
    a count would re-run the whole fit pipeline."""
    return n_centroids


def kmeans_codebook_table(
    vectors: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 2,
    sample_fraction: float | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Data-adapted FLAT codebook of ≤ ``n_centroids`` cells as a TABLE —
    the fit path for codebooks past ``_KMEANS_LITERAL_MAX`` (SemDeDup at
    100 TB wants ~100k clusters; the literal-tree Lloyd step cannot go
    there, see the constant above).

    GLOBAL distributed Lloyd with the exact semantics of
    ``kmeans_centroids`` — md5-hash training sample, first-``n`` by-id
    init, cosine assignment (ties → lowest centroid id), per-cluster
    element-wise means rounded to ``round_digits``, empty clusters keep
    their previous centroid — but every step stays a TABLE:

    * assignment goes through ``assign_to_centroids_sharded`` (one
      torrent broadcast of the codebook instead of an O(k × dim)
      Catalyst literal tree): EXACT flat routing (``m_super=None``,
      bit-faithful to ``assign_to_centroids``) up to
      ``_KMEANS_LITERAL_MAX`` (256) cells — the range where the parity
      test pins this fitter element-wise equal to the literal one —
      hierarchical m_super routing past it (approximate
      assignment inside Lloyd — the standard large-k trade; centroid
      placement stays globally free, unlike a coarse-partition-
      constrained fit, which CODEBOOK_QUALITY_r15 measured 16+ recall
      points below a flat literal fit at equal cell count);
    * means are one (cluster, pos) aggregation of the sample — never
      collected as rows: the codebook is never materialized as a
      Catalyst literal tree; per iteration the sharded router does
      collect the codebook arrays driver-side to fit supers and
      torrent-broadcast them, so driver traffic is bounded by the 2^18-
      cell broadcast cap (~128 MB) per iteration, and the fit scales to
      ~2^18 cells.

    Per-iteration cost = one routing pass + one bounded aggregation over
    the SAMPLE (pass ``sample_fraction`` ≪ 1 at scale), i.e. the same
    assignment pass the downstream consumer (``semantic_dedup``,
    ``knn_join_sharded``) pays once anyway.  Deterministic: no RNG, and
    the mean rounding collapses distributed summation-order drift
    run-to-run exactly as in ``kmeans_centroids``.  NOT SQL-replicable
    (the sharded router is the production spelling) — contract queries
    keep the deterministic first-k convention.  Returns
    ``(centroid_id int, centroid_vec array<double>)`` — drop-in wherever
    a codebook table is accepted."""
    from csv_etl_spark.operators.sampling import hash_sample

    if n_centroids <= 0:
        raise ValueError(f"n_centroids must be positive: {n_centroids}")

    sample = vectors.select(F.col(id_col), F.col(vec_col))
    if sample_fraction is not None:
        sample = hash_sample(sample, id_col, sample_fraction)

    codebook = (
        vectors.orderBy(id_col)
        .limit(n_centroids)
        .select(
            (F.row_number().over(Window.orderBy(F.col(id_col))) - 1)
            .cast("int")
            .alias("centroid_id"),
            F.col(vec_col).cast("array<double>").alias("centroid_vec"),
        )
    )
    # Lloyd-internal routing: exact flat only where the LITERAL fitter
    # could also go (≤ _KMEANS_LITERAL_MAX — there the two fitters are
    # element-wise equal, pinned by test); past it the hierarchical
    # m_super router cuts per-row routing from C sims to ~√C·(1+spill·m)
    # — at 3906 cells the flat spelling's n×C sims traffic measured
    # memory-bandwidth-bound (minutes per sample pass on this host) while
    # approximate in-Lloyd assignment is the standard large-k trade and
    # leaves centroid placement globally free.
    m_super = None if n_centroids <= _KMEANS_LITERAL_MAX else 4

    for _ in range(int(kmeans_iters)):
        _bc_mark = len(_SHARDED_BROADCASTS)
        assigned = assign_to_centroids_sharded(
            sample, codebook, id_col=id_col, vec_col=vec_col, m_super=m_super
        )
        means = (
            assigned.select("cluster", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg(F.col("val").cast("double")), round_digits).alias("val"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "val"))).alias("pv"))
            .select(
                F.col("cluster").alias("centroid_id"),
                F.transform("pv", lambda s: s.getField("val")).alias("new_vec"),
            )
        )
        # empty clusters keep their previous centroid (same rule as the
        # literal fitter); one small broadcast join, codebook-sized.
        # localCheckpoint materializes THIS iteration's codebook and
        # truncates lineage (codebook-sized, ≤ torrent-broadcast cap), so
        # iterations don't recompute each other and the router broadcast
        # can be released immediately
        codebook = (
            codebook.join(F.broadcast(means), "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce(F.col("new_vec"), F.col("centroid_vec")).alias(
                    "centroid_vec"
                ),
            )
            .localCheckpoint(eager=True)
        )
        # scoped: only the broadcasts THIS iteration's router shipped —
        # broadcasts backing still-live frames from unrelated earlier
        # knn_join_sharded calls stay persisted (ADVICE r15)
        release_sharded_broadcasts_since(_bc_mark)

    return codebook


def assign_to_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_norm: bool = False,
    kernel: str = "arrow",
) -> DataFrame:
    """Assign every vector to its most-cosine-similar centroid — MAP-ONLY
    (never a row_number() over Window.partitionBy(vec_id), which would
    shuffle N × n_centroids rows — the one scale-killer here at 100 TB).

    ``kernel="arrow"`` (default): one Arrow-batched UDF computes the
    full similarity matrix per batch with the EXACT fold op order of the
    builtin spelling (``_fold_sims``) and takes np.argmax — first max
    over the centroid_id-sorted codebook, the identical tie rule — so
    cluster assignments are bit-faithful while running ~20x faster than
    the interpreted HOF transform (r10 thread dumps showed the argmax
    lambda dominating the kNN ladder).  The codebook collect is bounded
    by the 4096-cell literal cap all callers enforce.

    ``kernel="builtin"``: the pure-Column spelling — broadcast the
    centroid set as one array-of-structs row, similarities via
    transform, argmax via array_position (first max after array_sort on
    centroid_id ⇒ lowest-id tie break).  Kept as the parity reference
    (test_assign_kernels_agree) and for plans that must stay UDF-free.

    Returns (id_col, vec_col, cluster); with ``keep_norm=True`` also
    ``_vnorm`` (the row's L2 norm, same fold order both kernels) so
    downstream pair scoring reuses it instead of recomputing per pair."""
    if kernel == "arrow":
        from pyspark.sql.pandas.functions import pandas_udf

        ids, mat = _codebook_arrays(centroids)
        # cluster keeps the codebook's centroid_id type (callers pass int
        # or bigint ids; the output schema must match the builtin's)
        cid_sql = centroids.schema["centroid_id"].dataType.simpleString()
        np_dtype = {"int": "int32", "bigint": "int64"}.get(cid_sql, "int64")
        ids_t = ids.astype(np_dtype)

        @pandas_udf(f"cluster {cid_sql}, _vnorm double")
        def _assign(vs: pd.Series) -> pd.DataFrame:
            if not len(vs):
                return pd.DataFrame(
                    {
                        "cluster": pd.Series([], dtype=np_dtype),
                        "_vnorm": pd.Series([], dtype="float64"),
                    }
                )
            V = np.vstack(vs.to_numpy()).astype("float64")
            # matmul argmax; rows whose top-2 gap is inside the BLAS
            # error margin re-decide on the exact fold (incl. bit-exact
            # ties -> first max = lowest centroid_id, the builtin rule)
            sims = _sims_matmul(V, mat)
            best = sims.argmax(axis=1)
            if sims.shape[1] > 1:
                p = np.partition(sims, sims.shape[1] - 2, axis=1)
                risky = (p[:, -1] - p[:, -2]) < _SELECT_MARGIN
                if risky.any():
                    best[risky] = _fold_sims(V[risky], mat).argmax(axis=1)
            vn = np.zeros(len(V), dtype="float64")
            for j in range(V.shape[1]):
                vn += V[:, j] * V[:, j]
            return pd.DataFrame(
                {"cluster": ids_t[best], "_vnorm": np.sqrt(vn)}
            )

        out_cols = [F.col(id_col), F.col(vec_col)] + (
            [F.col("_a._vnorm").alias("_vnorm")] if keep_norm else []
        )
        return vectors.withColumn("_a", _assign(F.col(vec_col))).select(
            *out_cols, F.col("_a.cluster").alias("cluster")
        )
    cent_arr = centroids.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "centroid_id",
                    "centroid_vec",
                    l2_norm(F.col("centroid_vec")).alias("centroid_norm"),
                )
            )
        ).alias("_cents")
    )
    sims = F.transform(
        F.col("_cents"),
        lambda c: cosine_with_norms(
            F.col(vec_col),
            c.getField("centroid_vec"),
            F.col("_vnorm"),
            c.getField("centroid_norm"),
        ),
    )
    out_cols = [id_col, vec_col] + (["_vnorm"] if keep_norm else [])
    return (
        vectors.withColumn("_vnorm", l2_norm(F.col(vec_col)))
        .crossJoin(F.broadcast(cent_arr))
        .withColumn("_sims", sims)
        .withColumn("_best", F.array_position(F.col("_sims"), F.array_max(F.col("_sims"))))
        .select(
            *out_cols,
            F.element_at(F.col("_cents"), F.col("_best").cast("int"))
            .getField("centroid_id")
            .alias("cluster"),
        )
    )


def semantic_dedup(
    vectors: DataFrame,
    n_centroids: int = 8,
    threshold: float = 0.9,
    kmeans_iters: int = 2,
    sample_fraction: float | None = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    max_cluster_size: int | None = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    recipe): k-means-cluster the embedding space, then compare pairs ONLY
    within a cluster and drop every vector that has a more-senior (lower
    id) τ-neighbor in its cluster.  Returns one row per input vector:
    (id_col, cluster, kept).

    Keeper rule: drop v iff ∃ u in the same cluster with id(u) < id(v) and
    cos(u, v) ≥ threshold — the "ε-graph min-neighbor" rule.  Fully
    parallel and deterministic (no sequential greedy state); coarser than
    greedy-sequential dedup when τ-neighborhoods chain, which matches
    SemDeDup's keep-one-representative intent.

    Scale shape: clustering bounds the quadratic term — the self-join is
    per-cluster (shuffle on the cluster key), so cost is Σ|cluster|², not
    N².  At 100 TB pick n_centroids ∝ corpus size (SemDeDup uses ~100k
    clusters for billions of docs) so clusters stay ~constant-sized; the
    assignment step is the same map-only broadcast argmax as ``ivf_topk``
    and the k-means fit touches only the hash sample.

    ``max_cluster_size`` guards the degenerate case where k-means
    collapses (near-identical embeddings, bad init) and one cluster holds
    ~everything — Σ|cluster|² silently becomes N².  Clusters larger than
    the cap SKIP the pairwise check: their members all come back
    ``kept = true`` (a no-op gate, never a wrong drop), the same
    fail-open trade as ``jaccard_pairs``'s frequent-shingle cap.  The
    cluster-size census rides the already-persisted assignment (one tiny
    ≤ n_centroids-row agg, broadcast back).  Default 100k ≈ SemDeDup's
    own cluster granularity; pass None to disable."""
    sharded_assign = False
    if centroids is None:
        if n_centroids > _KMEANS_LITERAL_MAX:
            # the literal-tree Lloyd fit is Catalyst-analysis-bound past
            # a few hundred cells (measured, r14 semantic ladder) — run
            # the global table-Lloyd instead.  100 TB guidance:
            # n_centroids ∝ N (SemDeDup's own granularity) lands here.
            centroids = kmeans_codebook_table(
                vectors,
                n_centroids=n_centroids,
                id_col=id_col,
                vec_col=vec_col,
                kmeans_iters=kmeans_iters,
                sample_fraction=sample_fraction,
            )
            # past the literal cap, assignment must take the sharded
            # torrent-broadcast tier (r14 ADVICE: the table fit reached
            # 100k cells but assignment still crashed at 4097).  The
            # bound is the fitter's structural maximum, so the decision
            # costs nothing — no count of the fitted table.
            sharded_assign = (
                codebook_table_cells_bound(n_centroids) > _ASSIGN_LITERAL_CELLS
            )
        else:
            centroids = kmeans_centroids(
                vectors,
                n_centroids=n_centroids,
                iters=kmeans_iters,
                sample_fraction=sample_fraction,
                id_col=id_col,
                vec_col=vec_col,
            )
    else:
        # explicit codebook: one BOUNDED count picks the assignment tier
        # (≤4097 rows scanned; callers pass materialized tables, so this
        # probe is cheap — the fitted paths above never pay it)
        sharded_assign = (
            centroids.limit(_ASSIGN_LITERAL_CELLS + 1).count()
            > _ASSIGN_LITERAL_CELLS
        )
    # keep_norm: the per-cluster self-join below reuses the hoisted
    # norms (and they persist with the frame), so the ε-check is one
    # dot per pair instead of a full cosine
    if sharded_assign:
        assigned = assign_to_centroids_sharded(
            vectors, centroids, id_col=id_col, vec_col=vec_col, keep_norm=True
        )
    else:
        assigned = assign_to_centroids(
            vectors, centroids, id_col=id_col, vec_col=vec_col, keep_norm=True
        )
    # `assigned` feeds three branches (both sides of the per-cluster
    # self-join plus the final keeper left-join); without a persist the
    # broadcast-argmax assignment and the upstream scan recompute ~3x
    # (ADVICE round 4).  Same bounded-cache pattern as the LSH bucket
    # projection above — entries are session-scoped and unpersisted on
    # eviction.  An untrackable plan passes through unpersisted (an
    # untracked persist would leak for the session's lifetime); the ~3x
    # recompute is the documented fallback price.
    assigned = _ASSIGNED_CACHE.get_or_persist(assigned, "semantic_dedup")

    pairable = assigned
    if max_cluster_size is not None:
        small = (
            assigned.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("_csize"))
            .filter(F.col("_csize") <= max_cluster_size)
            .select("cluster")
        )
        # ≤ n_centroids rows — broadcast, no extra shuffle on the big side
        pairable = assigned.join(F.broadcast(small), "cluster")
    a = pairable.select(
        F.col("cluster"),
        F.col(id_col).alias("_id_a"),
        F.col(vec_col).alias("_vec_a"),
        F.col("_vnorm").alias("_na"),
    )
    b = pairable.select(
        F.col("cluster"),
        F.col(id_col).alias("_id_b"),
        F.col(vec_col).alias("_vec_b"),
        F.col("_vnorm").alias("_nb"),
    )
    dups = (
        a.join(b, "cluster")
        .filter(F.col("_id_a") < F.col("_id_b"))
        .filter(
            cosine_with_norms_arrow(
                F.col("_vec_a"), F.col("_vec_b"), F.col("_na"), F.col("_nb")
            )
            >= threshold
        )
        .select(F.col("_id_b").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(dups.withColumn("_dup", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("kept"),
        )
    )


def ivf_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN.  ``centroids`` defaults to the first n_centroids
    vectors by id (deterministic, zero-cost — used by the nprobe==all exact
    path); pass ``kmeans_centroids(...)`` for data-adapted cells (the
    quality path — see test_ivf_kmeans_recall).  Assignment and
    probe-routing are broadcast map-joins; only routed clusters are
    scanned."""
    if centroids is None:
        centroids = (
            vectors.orderBy(id_col)
            .limit(n_centroids)
            .select(
                F.col(id_col).alias("centroid_id"),
                F.col(vec_col).alias("centroid_vec"),
            )
        )

    assigned = assign_to_centroids(
        vectors, centroids, id_col=id_col, vec_col=vec_col, keep_norm=True
    )

    # route each probe to its nprobe nearest clusters (norms hoisted:
    # probe norm once per probe, centroid norm once per centroid)
    probe_routes = (
        probes.withColumn("_pnorm", l2_norm(F.col("probe_vec")))
        .crossJoin(
            F.broadcast(
                centroids.withColumn("_cnorm", l2_norm(F.col("centroid_vec")))
            )
        )
        .select(
            "probe_id",
            "probe_vec",
            "_pnorm",
            "centroid_id",
            cosine_with_norms(
                F.col("probe_vec"),
                F.col("centroid_vec"),
                F.col("_pnorm"),
                F.col("_cnorm"),
            ).alias("_sim"),
        )
        .withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("probe_id").orderBy(F.col("_sim").desc(), F.col("centroid_id"))
            ),
        )
        .filter(F.col("_rk") <= nprobe)
        .select(
            "probe_id", "probe_vec", "_pnorm", F.col("centroid_id").alias("cluster")
        )
    )

    # scan only the routed clusters
    joined = assigned.join(F.broadcast(probe_routes), "cluster").filter(
        F.col(id_col) != F.col("probe_id")
    )
    scored = joined.select(
        "probe_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            cosine_with_norms_arrow(
                F.col(vec_col), F.col("probe_vec"), F.col("_vnorm"), F.col("_pnorm")
            ),
            6,
        ).alias("cosine"),
    )
    return topk_per_probe(scored, k, "probe_id")


def knn_join(
    left: DataFrame,
    right: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int | None = 2,
    left_id_col: str = "probe_id",
    left_vec_col: str = "probe_vec",
    right_id_col: str = "vec_id",
    right_vec_col: str = "embedding",
    exclude_same_id: bool = False,
) -> DataFrame:
    """k-nearest-neighbor JOIN between two LARGE vector tables — the
    co-partitioned sibling of ``ivf_topk``.  Every existing ANN path here
    broadcasts the probe set, which is right when probes are a handful of
    queries; building a k-NN GRAPH (SemDeDup's ε-graph over the whole
    corpus, kNN-LM retrieval sets, link-based curation) makes the probe
    side the SAME size as the corpus, and a broadcast is exactly the
    wrong plan.  Here NEITHER side is broadcast — only the centroid
    codebook is:

    * right side: map-only Arrow argmax assignment to its nearest cell
      (``assign_to_centroids``, matmul selection + fold-exact fallback);
    * left side: map-only Arrow routing to its ``nprobe`` nearest cells
      (NO window, NO shuffle — cardinality fan-out is exactly nprobe);
    * ONE shuffle on the cell key co-partitions both big sides into a
      grouped ``applyInPandas`` scorer: the member×probe similarity
      matrix is a BLAS matmul used for candidate selection, survivors
      (a margin-safe superset of the rounded top-k, ~k per probe per
      cell) are re-scored with the fold-exact op order and return to
      the JVM as SKINNY (probe, neighbor, cosine) rows — vectors cross
      the Arrow boundary once per member + nprobe per probe, never per
      pair;
    * rounding (HALF_UP) and the per-probe exact top-k
      (``topk_per_probe``) stay JVM-side, so ordering/tie semantics are
      the pure-Column ones and the SQL oracle replays the pipeline.

    ``nprobe=None`` routes every cell — the result is then provably
    EQUAL to brute force (each (left, right) pair scored exactly once
    since a right row lives in exactly one cell), which is the oracle
    discipline for the exact twin.  Ties break (cosine DESC, neighbor_id
    ASC) everywhere.  Returns (probe_id, neighbor_id, cosine, rank).

    100 TB shape: cost ≈ |left| × nprobe/n_cells × |right| pair scores
    as BLAS flops spread over cells; skewed cells are AQE-splittable
    because the grouping key is a plain shuffle.  The codebook stays
    ≤4096 cells — for larger codebooks compose with the two-level
    assignment (``assign_two_level``) as ``ivf_two_level_topk`` does.

    VALIDITY BOUND (r12 tier map): with the FLOP-optimal √N codebook
    this tier's total work is N^1.5 by design — measured α 1.17 at the
    2M-vector decade — and √N outgrows the 4096-literal codebook cap at
    ~16M vectors.  Past ``KNN_FLAT_MAX_N`` use :func:`knn_join_sharded`
    (bounded cells, hierarchical routing, measured α 0.99), or call
    :func:`knn_join_auto` which dispatches on corpus size
    automatically."""
    # probe routing on the same Arrow kernel as assignment: one batched
    # UDF computes the fold-exact similarity matrix and takes the
    # nprobe best cells per probe via a STABLE argsort on -sims — equal
    # sims keep codebook order (centroid_id asc), the identical tie rule
    # as the builtin array_sort((-sim, cid)) struct spelling.  The
    # interpreted HOF transform this replaces dominated the r10 kNN
    # ladder (44 s of the 67 s sf1 point was routing).
    from pyspark.sql.pandas.functions import pandas_udf

    ids, mat = _codebook_arrays(centroids)
    cid_sql = centroids.schema["centroid_id"].dataType.simpleString()
    np_dtype = {"int": "int32", "bigint": "int64"}.get(cid_sql, "int64")
    ids_t = ids.astype(np_dtype)
    n_take = int(nprobe) if nprobe is not None else len(ids)

    @pandas_udf(f"cells array<{cid_sql}>, _pnorm double")
    def _route(vs: pd.Series) -> pd.DataFrame:
        if not len(vs):
            return pd.DataFrame(
                {
                    "cells": pd.Series([], dtype=object),
                    "_pnorm": pd.Series([], dtype="float64"),
                }
            )
        V = np.vstack(vs.to_numpy()).astype("float64")
        # matmul selection; only the MEMBERSHIP of the routed cell set
        # matters downstream (the equijoin ignores order), so a row is
        # risky only when the boundary gap sims[n_take-1]-sims[n_take]
        # is inside the BLAS error margin — those rows re-route on the
        # exact fold with the builtin (sim desc, cid asc) stable order
        sims = _sims_matmul(V, mat)
        order = np.argsort(-sims, axis=1, kind="stable")
        if n_take < sims.shape[1]:
            srt = np.take_along_axis(sims, order, axis=1)
            risky = (srt[:, n_take - 1] - srt[:, n_take]) < _SELECT_MARGIN
            if risky.any():
                e_order = np.argsort(
                    -_fold_sims(V[risky], mat), axis=1, kind="stable"
                )
                order[risky] = e_order
        order = order[:, :n_take]
        vn = np.zeros(len(V), dtype="float64")
        for j in range(V.shape[1]):
            vn += V[:, j] * V[:, j]
        return pd.DataFrame(
            {
                "cells": [ids_t[row].tolist() for row in order],
                "_pnorm": np.sqrt(vn),
            }
        )

    routed = (
        left.withColumn("_r", _route(F.col(left_vec_col)))
        .select(
            F.col(left_id_col).alias("probe_id"),
            F.col(left_vec_col).alias("_pvec"),
            F.explode(F.col("_r.cells")).alias("cluster"),
        )
    )
    assigned = assign_to_centroids(
        right, centroids, id_col=right_id_col, vec_col=right_vec_col
    )
    # PER-CELL GROUPED SCORING (applyInPandas on the cell key): members
    # and routed probes co-shuffle once on `cluster`; the member×probe
    # similarity matrix is computed inside the kernel with the
    # fold-exact op order (_fold_sims) and only SKINNY
    # (probe_id, neighbor_id, cosine) rows return to the JVM.  The
    # pair-level spelling this replaces shipped BOTH 64-float vectors
    # across the Arrow boundary per scored PAIR — ~550 B × |pairs|
    # (≈98 GB at the 200k-vector decade) versus one vector per member +
    # nprobe per probe here.  Rounding (F.round HALF_UP) and the
    # two-stage top-k stay JVM-side so ordering/tie semantics and the
    # SQL oracles are untouched.
    _guard_integral_ids(left, left_id_col, right, right_id_col)
    return _grouped_cell_topk(
        routed, assigned, k, exclude_same_id, right_id_col, right_vec_col
    )


def _guard_integral_ids(left, left_id_col, right, right_id_col) -> None:
    _integral = {"tinyint", "smallint", "int", "bigint"}
    for _df, _c, _side_name in (
        (left, left_id_col, "left"),
        (right, right_id_col, "right"),
    ):
        _t = _df.schema[_c].dataType.simpleString()
        if _t not in _integral:
            # the grouped scorer carries ids through a fixed
            # 'probe_id long, neighbor_id long' Arrow schema; a string
            # id would silently cast to NULL and drop/corrupt pairs —
            # fail loudly instead (ADVICE r10).
            raise TypeError(
                f"knn_join: {_side_name} id column {_c!r} has type {_t}; "
                "only integral ids survive the grouped Arrow scorer. "
                "Derive a surrogate (e.g. xxhash64(id) or "
                "monotonically_increasing_id) and join back after."
            )


def _grouped_cell_topk(
    routed: DataFrame,
    assigned: DataFrame,
    k: int,
    exclude_same_id: bool,
    right_id_col: str,
    right_vec_col: str,
) -> DataFrame:
    """The shared PER-CELL GROUPED SCORING stage of the kNN joins (see
    ``knn_join``'s docstring for the full plan rationale): ``routed``
    carries (cluster, probe_id, _pvec), ``assigned`` the right rows plus
    their ``cluster``; one cell-keyed shuffle co-partitions both, the
    member×probe matmul selects candidates, survivors re-score with the
    fold-exact op order, and rounding + the two-stage per-probe top-k
    stay JVM-side."""
    excl = bool(exclude_same_id)
    u = assigned.select(
        "cluster",
        F.lit(0).alias("_side"),
        F.col(right_id_col).cast("long").alias("_rid"),
        F.col(right_vec_col).alias("_v"),
    ).unionByName(
        routed.select(
            "cluster",
            F.lit(1).alias("_side"),
            F.col("probe_id").cast("long").alias("_rid"),
            F.col("_pvec").alias("_v"),
        )
    )
    kk = int(k)

    def _score_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        mem = pdf[pdf["_side"] == 0]
        prb = pdf[pdf["_side"] == 1]
        if not len(mem) or not len(prb):
            return pd.DataFrame(
                {
                    "probe_id": pd.Series([], dtype="int64"),
                    "neighbor_id": pd.Series([], dtype="int64"),
                    "cosine": pd.Series([], dtype="float64"),
                }
            )
        Vm = np.vstack(mem["_v"].to_numpy()).astype("float64")
        Vp = np.vstack(prb["_v"].to_numpy()).astype("float64")
        mid = mem["_rid"].to_numpy()
        pid = prb["_rid"].to_numpy()
        # matmul sims for CANDIDATE SELECTION only (never emitted)
        sims = _sims_matmul(Vm, Vp)  # (n_members, n_probes)
        exclmask = (
            mid[:, None] == pid[None, :]
            if excl
            else np.zeros(sims.shape, dtype=bool)
        )
        # EXACT per-(probe, cell) pre-prune: the JVM top-k orders by
        # round(cosine, 6) and rounding moves a value by ≤ 5e-7, so any
        # pair that can place in the rounded top-k has exact cosine ≥
        # kth_best_exact − 1e-6; matmul-vs-fold error adds ≤ ~2e-13.
        # Keeping everything ≥ kth_best_matmul − 2e-6 therefore provably
        # contains the exact rounded top-k while shrinking rows returned
        # to the JVM from |members| × |probes| to ~k per (probe, cell).
        s = np.where(exclmask, -np.inf, sims)
        n_m = s.shape[0]
        if n_m > kk:
            thr = np.partition(s, n_m - kk, axis=0)[n_m - kk]
        else:
            thr = np.full(s.shape[1], -np.inf)
        keepmat = (s >= thr[None, :] - 2e-6) & ~exclmask
        mi, pi = np.nonzero(keepmat)
        # emitted values are FOLD-EXACT: re-score only the kept pairs
        # with the same per-dimension left fold as the builtin cosine
        A, B = Vm[mi], Vp[pi]
        acc = np.zeros(len(mi), dtype="float64")
        nm = np.zeros(n_m, dtype="float64")
        npn = np.zeros(len(pid), dtype="float64")
        for j in range(Vm.shape[1]):
            acc += A[:, j] * B[:, j]
            nm += Vm[:, j] * Vm[:, j]
            npn += Vp[:, j] * Vp[:, j]
        denom = np.sqrt(nm)[mi] * np.sqrt(npn)[pi]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(
                denom > 0, acc / np.where(denom == 0, 1.0, denom), 0.0
            )
        return pd.DataFrame(
            {"probe_id": pid[pi], "neighbor_id": mid[mi], "cosine": cos}
        )

    scored = (
        u.groupBy("cluster")
        .applyInPandas(_score_cell, "probe_id long, neighbor_id long, cosine double")
        .select(
            "probe_id",
            "neighbor_id",
            F.round(F.col("cosine"), 6).alias("cosine"),
        )
    )
    return topk_per_probe(scored, k, "probe_id")


# driver-collect cap for the sharded-routing codebook: 2^18 cells ×
# 64 dims × 8 B = 128 MB of numpy, shipped to executors as ONE torrent
# broadcast (never a Catalyst literal, never a task-closure pickle).
# At 512 members/cell this covers a ~134M-vector corpus; past that,
# raise members_per_cell (cells shrink proportionally) — the loud error
# below says so.
_SHARDED_CODEBOOK_CAP = 1 << 18


def _codebook_arrays_large(
    centroids: DataFrame, max_cells: int = _SHARDED_CODEBOOK_CAP
) -> tuple[np.ndarray, np.ndarray]:
    """``_codebook_arrays`` for the sharded-routing tier: same
    (ids, matrix sorted by centroid_id) contract, but with the cap
    raised from the 4096 Catalyst-literal bound to the numpy-broadcast
    bound — this codebook only ever lives as a torrent-broadcast numpy
    matrix inside Arrow kernels, so the literal-expression limit does
    not apply.  Still enforced AT THE COLLECT SITE."""
    rows = (
        centroids.select("centroid_id", "centroid_vec")
        .limit(int(max_cells) + 1)
        .collect()
    )
    if len(rows) > max_cells:
        raise ValueError(
            f"_codebook_arrays_large: centroid frame exceeds the "
            f"{max_cells}-cell driver-collect cap; raise members_per_cell "
            "so the codebook shrinks (cells = N / members_per_cell)"
        )
    rows.sort(key=lambda r: int(r["centroid_id"]))
    ids = np.array([int(r["centroid_id"]) for r in rows], dtype="int64")
    mat = np.array(
        [[float(x) for x in r["centroid_vec"]] for r in rows], dtype="float64"
    )
    return ids, mat


# live codebook broadcasts from knn_join_sharded calls this session —
# see release_sharded_broadcasts() below
_SHARDED_BROADCASTS: list = []


def release_sharded_broadcasts(blocking: bool = True, destroy: bool = False) -> int:
    """Release every codebook broadcast shipped by prior
    ``knn_join_sharded`` calls (ADVICE r12: each call torrent-broadcasts
    up to ~128 MB and bench/recall loops would otherwise accumulate them
    for the session lifetime).

    ``unpersist`` drops executor-side copies (a later re-execution of a
    returned frame refetches from the driver, so it is always safe);
    ``destroy=True`` additionally frees the driver-side copy but makes
    any still-unconsumed returned DataFrame unusable —
    ``_cache.clear_all()`` uses it between benchmark passes, where
    nothing is live.
    Returns the number of broadcasts released."""
    n = len(_SHARDED_BROADCASTS)
    for bc in _SHARDED_BROADCASTS:
        try:
            if destroy:
                bc.destroy()
            else:
                bc.unpersist(blocking=blocking)
        except Exception:
            pass  # session already stopped — nothing to free
    _SHARDED_BROADCASTS.clear()
    return n


def release_sharded_broadcasts_since(mark: int, blocking: bool = True) -> int:
    """Release ONLY the codebook broadcasts registered after ``mark`` (a
    prior ``len(_SHARDED_BROADCASTS)`` snapshot) — the scoped spelling
    for callers that spawn router broadcasts inside a loop
    (``kmeans_codebook_table``'s Lloyd iterations) without touching
    broadcasts backing still-live frames from unrelated earlier
    ``knn_join_sharded`` calls (ADVICE r15: the global release inside the
    fit loop silently degraded concurrent consumers — safe, since
    executors refetch from the driver, but a surprising side effect).
    Returns the number released."""
    released = _SHARDED_BROADCASTS[mark:]
    for bc in released:
        try:
            bc.unpersist(blocking=blocking)
        except Exception:
            pass  # session already stopped — nothing to free
    del _SHARDED_BROADCASTS[mark:]
    return len(released)


def knn_join_sharded(
    left: DataFrame,
    right: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int | None = 2,
    m_super: int | None = 4,
    n_super: int | None = None,
    spill: int = 2,
    super_iters: int = 3,
    left_id_col: str = "probe_id",
    left_vec_col: str = "probe_vec",
    right_id_col: str = "vec_id",
    right_vec_col: str = "embedding",
    exclude_same_id: bool = False,
) -> DataFrame:
    """``knn_join`` for the BOUNDED-CELL codebook regime — the ≥16M-
    vector kNN-graph tier (r11 verdict ask #1).

    Why a tier exists at all: the flat √N-cell IVF graph's total work is
    N^1.5 BY DESIGN — routing costs N·cells sims, scanning costs
    N·nprobe·(N/cells), and the sum is minimized at cells ≈ √(nprobe·N)
    (measured α=1.17 at the 2M-vector decade; the "more cells" fix was
    refuted at 2.5× worse because flat routing flops then dominate —
    BENCHNOTES_r11_knn2.json).  This operator breaks the trade by
    fixing BOTH terms:

    * **bounded cells**: the caller passes a codebook of
      cells ≈ N / members_per_cell (the ``knn_graph_sharded`` query uses
      max(⌊√N⌋, ⌈N/512⌉)), so the scan term is N·nprobe·members — LINEAR
      in N at constant nprobe.  Measured recall of the bounded-cell
      candidate set on the 10-cluster corpora: 1.000 @200k at nprobe=2
      (vs flat's 0.996) because the per-probe scanned volume
      (nprobe×512) stays at the flat reference's 200k level while
      neighbors keep getting closer as N grows; RECALL.md carries the
      per-decade rows.
    * **hierarchical routing**: probes route through TWO exact-argmax
      levels instead of one flat scan of all C centroids — first the
      ``n_super = ⌈√C⌉`` SUPER-centroids (``super_iters`` rounds of
      driver-side spherical k-means over the codebook, init = first-√C
      rows, deterministic given the codebook), then exactly over the
      centroids belonging to the ``m_super`` nearest super-cells, with
      each centroid SPILLED into its ``spill`` nearest supers so a true
      cell on a super boundary stays reachable from either side (raw
      first-√C supers without spill measured recall 0.72-0.80 — the
      RECALL.md finding-4 pruning trap; k-means+spill closes it).
      Routing cost per vector is √C·(1+spill·m_super) sims instead of
      C — at C=3906 (2M vectors) that is ~560 vs 3906, and
      asymptotically N^0.25·(1+spill·m) per vector, i.e. total routing
      N^1.25 with a tiny constant (a third level would give N^1.125;
      two levels carry to ~10⁹ vectors before routing re-dominates,
      documented honestly).  Super-membership is computed ONCE
      driver-side (C×√C sims per k-means round) and the whole codebook
      ships as one torrent broadcast, never a Catalyst literal and
      never a per-task closure pickle.

    ``m_super=None`` disables the hierarchy: stage 2 ranks ALL C
    centroids with the identical stable (sim desc, centroid_id asc) tie
    rule, making routing EXACTLY the flat argmax — with that spelling
    the pipeline is a flat IVF over the bounded codebook and the SQL
    oracle replays it in full (the ``knn_graph_sharded`` correctness
    discipline).  ``nprobe=None`` additionally routes every cell,
    giving provable brute-force equality.  Both sides (members route to
    their 1 nearest cell, probes to their ``nprobe`` nearest) go
    through the same kernel, and the scoring stage is the exact
    ``knn_join`` grouped-cell scorer (fold-exact emitted values,
    JVM-side rounding and two-stage top-k), so result semantics are
    identical between the tiers.

    100 TB shape: one cell-keyed shuffle co-partitions both sides; cell
    population is bounded by construction (≈members_per_cell), so no
    task outgrows memory and AQE handles residual skew; the broadcast
    is ≤128 MB at the 2^18-cell cap."""
    _guard_integral_ids(left, left_id_col, right, right_id_col)
    mk_router, n_cells, cid_sql = _sharded_router_factory(
        centroids,
        m_super=m_super,
        n_super=n_super,
        spill=spill,
        super_iters=super_iters,
        caller="knn_join_sharded",
    )
    take = int(nprobe) if nprobe is not None else n_cells
    routed = left.withColumn(
        "_cells", mk_router(take)(F.col(left_vec_col))
    ).select(
        F.col(left_id_col).alias("probe_id"),
        F.col(left_vec_col).alias("_pvec"),
        F.explode(F.col("_cells")).alias("cluster"),
    )
    assigned = right.withColumn(
        "_cells", mk_router(1)(F.col(right_vec_col))
    ).select(
        right_id_col,
        right_vec_col,
        F.element_at(F.col("_cells"), 1).alias("cluster"),
    )
    return _grouped_cell_topk(
        routed, assigned, k, exclude_same_id, right_id_col, right_vec_col
    )


def _sharded_router_factory(
    centroids: DataFrame,
    m_super: int | None = 4,
    n_super: int | None = None,
    spill: int = 2,
    super_iters: int = 3,
    caller: str = "sharded router",
):
    """The sharded tier's torrent-broadcast hierarchical router, shared
    by ``knn_join_sharded`` (both sides) and
    ``assign_to_centroids_sharded`` (member-style single-cell routing).
    Collects the codebook once under the 2^18-cell cap, fits the
    super-centroid hierarchy driver-side, ships ONE broadcast
    (registered for ``release_sharded_broadcasts``), and returns
    ``(mk_router, n_cells, cid_sql)`` where ``mk_router(n_take)`` is a
    pandas UDF mapping a vector column to its ``n_take`` nearest cell
    ids (``m_super=None`` ⇒ exact flat argmax, the SQL-replayable
    spelling).  See ``knn_join_sharded``'s docstring for the full
    routing-design rationale."""
    ids, mat = _codebook_arrays_large(centroids)
    n_cells = len(ids)
    if n_cells == 0:
        raise ValueError(f"{caller}: empty centroid frame")
    cid_sql = centroids.schema["centroid_id"].dataType.simpleString()
    np_dtype = {"int": "int32", "bigint": "int64"}.get(cid_sql, "int64")
    ids_t = ids.astype(np_dtype)

    if n_super is None:
        n_super = max(1, math.isqrt(n_cells - 1) + 1) if n_cells > 1 else 1
    n_super = min(int(n_super), n_cells)
    # Super-centroids: ``super_iters`` rounds of driver-side spherical
    # k-means over the CODEBOOK (init = first-√C rows, deterministic
    # given the codebook; C×√C sims per round, trivial next to one
    # routing pass over the corpus).  Better-shaped supers cut
    # boundary misses — the r12 recall measurement of raw first-√C
    # supers read 0.72-0.80 vs the ≥0.9 target.  Membership only
    # steers which centroids stage 2 CONSIDERS under m_super pruning —
    # the m_super=None exact spelling never reads any of this — so
    # matmul precision is sufficient throughout.
    smat = mat[:n_super].copy()
    _chunk = 65536
    for _ in range(int(super_iters)):
        assign1 = np.empty(n_cells, dtype="int64")
        for off in range(0, n_cells, _chunk):
            assign1[off : off + _chunk] = np.argmax(
                _sims_matmul(mat[off : off + _chunk], smat), axis=1
            )
        for s in range(n_super):
            sel = assign1 == s
            if sel.any():
                smat[s] = mat[sel].mean(axis=0)
    # SPILLED membership: each centroid lands in its ``spill`` nearest
    # supers, so a probe whose true cell sits on a super boundary still
    # reaches it through either side — the redundancy that closes the
    # hierarchical-pruning recall gap (RECALL.md finding 4) at the cost
    # of ~spill× stage-2 candidates.
    n_spill = max(1, min(int(spill), n_super))
    members: list[np.ndarray] = []
    spill_assign = np.empty((n_cells, n_spill), dtype="int64")
    for off in range(0, n_cells, _chunk):
        sims_c = _sims_matmul(mat[off : off + _chunk], smat)
        spill_assign[off : off + _chunk] = np.argsort(
            -sims_c, axis=1, kind="stable"
        )[:, :n_spill]
    for s in range(n_super):
        members.append(np.nonzero((spill_assign == s).any(axis=1))[0])
    cn = np.sqrt((mat * mat).sum(axis=1))

    sc = centroids.sparkSession.sparkContext
    bc = sc.broadcast(
        {
            "ids_t": ids_t,
            "mat": mat,
            "smat": smat,
            "members": members,
            "cn": cn,
        }
    )
    # each call ships up to ~128 MB (2^18-cell cap); without tracking,
    # repeated calls (recall ladders, bench loops) accumulate broadcasts
    # for the session lifetime.  Registered here, released via
    # release_sharded_broadcasts() once the returned frame is consumed
    # (_cache.clear_all() does this between benchmark passes).
    _SHARDED_BROADCASTS.append(bc)
    m_val = None if m_super is None else min(int(m_super), n_super)

    def _mk_router(n_take: int):
        from pyspark.sql.pandas.functions import pandas_udf

        @pandas_udf(f"array<{cid_sql}>")
        def _route(vs: pd.Series) -> pd.Series:
            cb = bc.value
            _ids, _mat, _smat = cb["ids_t"], cb["mat"], cb["smat"]
            _members, _cn = cb["members"], cb["cn"]
            if not len(vs):
                return pd.Series([], dtype=object)
            V = np.vstack(vs.to_numpy()).astype("float64")
            vn = np.sqrt((V * V).sum(axis=1))
            n_rows = len(V)
            if m_val is None:
                # exact flat routing: matmul selection + O(C)
                # argpartition of the top n_take+1 (a full per-row
                # argsort is O(C log C) and measured 10-40× the
                # partition cost at C~4k — it throttled the table-Lloyd
                # fit's sample assignment), then a stable sort of the
                # small slice.  Candidates are pre-sorted ascending so
                # the stable argsort's ties resolve to the lowest
                # centroid_id — the flat rule.  The boundary gap is
                # computed from the slice VALUES (exact regardless of
                # which tied ids argpartition picked); a gap inside the
                # margin — which also covers any exact tie across the
                # n_take cut — falls back to the full fold-exact
                # ordering, so selections stay provably identical to
                # the old full-argsort spelling.
                sims = _sims_matmul(V, _mat)
                C = sims.shape[1]
                k1 = min(n_take + 1, C)
                part = np.sort(
                    np.argpartition(-sims, k1 - 1, axis=1)[:, :k1], axis=1
                )
                pvals = np.take_along_axis(sims, part, axis=1)
                loc = np.argsort(-pvals, axis=1, kind="stable")
                order = np.take_along_axis(part, loc, axis=1)
                if n_take < C:
                    srt = np.take_along_axis(pvals, loc, axis=1)
                    risky = (
                        srt[:, n_take - 1] - srt[:, n_take]
                    ) < _SELECT_MARGIN
                    if risky.any():
                        e_order = np.argsort(
                            -_fold_sims(V[risky], _mat), axis=1, kind="stable"
                        )[:, :k1]
                        order[risky] = e_order
                order = order[:, :n_take]
                return pd.Series([_ids[row].tolist() for row in order])
            # stage 1: m_val nearest super-cells (matmul + risky refold)
            ssims = _sims_matmul(V, _smat)
            sorder = np.argsort(-ssims, axis=1, kind="stable")
            if m_val < ssims.shape[1]:
                ssrt = np.take_along_axis(ssims, sorder, axis=1)
                risky = (ssrt[:, m_val - 1] - ssrt[:, m_val]) < _SELECT_MARGIN
                if risky.any():
                    e_order = np.argsort(
                        -_fold_sims(V[risky], _smat), axis=1, kind="stable"
                    )
                    sorder[risky] = e_order
            top_s = sorder[:, :m_val]
            # stage 2: exact ranking over the centroids of the routed
            # supers, GROUPED BY SUPER-COMBINATION: rows sharing the
            # same m_val-super set share one candidate list, so each
            # group is ONE dense BLAS matmul (V_group × candidates)
            # instead of a per-row padded gather.  On clustered corpora
            # a 10k-row Arrow batch collapses to a handful of combos —
            # the r12 padded-einsum spelling this replaces was
            # memory-bound on the (rows, M, dim) gather and measured
            # 169 s at the 2M-graph decade.  Candidate lists are
            # np.unique'd (spilled membership overlaps; ascending order
            # also makes the stable argsort's ties resolve to the
            # lowest centroid_id, the flat rule).
            order_key = np.sort(top_s, axis=1)
            uq, inv = np.unique(order_key, axis=0, return_inverse=True)
            out: list = [None] * n_rows
            for g in range(len(uq)):
                rows_idx = np.nonzero(inv == g)[0]
                cands = np.unique(
                    np.concatenate([_members[s] for s in uq[g]])
                )
                if not len(cands):
                    # every routed super is empty (possible on tiny
                    # codebooks where spill assignment leaves a super
                    # memberless): fall back to exact flat routing over
                    # the whole codebook rather than silently dropping
                    # the rows (empty _cells → explode drops probes /
                    # NULL cluster for members)
                    cands = np.arange(len(_mat), dtype="int64")
                t = min(n_take, len(cands))
                sims = _sims_matmul(V[rows_idx], _mat[cands])
                g_order = np.argsort(-sims, axis=1, kind="stable")
                if t < len(cands):
                    srt = np.take_along_axis(sims, g_order, axis=1)
                    risky = (srt[:, t - 1] - srt[:, t]) < _SELECT_MARGIN
                    for j in np.nonzero(risky)[0]:
                        e = _fold_sims(
                            V[rows_idx[j] : rows_idx[j] + 1], _mat[cands]
                        )[0]
                        g_order[j] = np.argsort(-e, kind="stable")
                picked = cands[g_order[:, :t]]
                for j, i in enumerate(rows_idx):
                    out[i] = _ids[picked[j]].tolist()
            return pd.Series(out)

        return _route

    return _mk_router, n_cells, cid_sql


def assign_to_centroids_sharded(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_norm: bool = False,
    m_super: int | None = 4,
    n_super: int | None = None,
    spill: int = 2,
    super_iters: int = 3,
) -> DataFrame:
    """``assign_to_centroids`` for codebooks PAST the 4096-cell
    Catalyst-literal / driver-collect cap (SemDeDup at 100 TB wants
    ~100k cells, and ``kmeans_codebook_table`` fits them — r14 ADVICE:
    the fit path extended past 4096 cells but assignment still crashed
    there).  Same (id, vec[, _vnorm], cluster) contract and the same
    map-only shape — one routing pass, no shuffle — but the codebook
    ships as ONE torrent broadcast (2^18-cell cap ≈ 128 MB) and each
    vector routes through the sharded tier's two-level hierarchy:
    ``m_super`` nearest super-cells, then exact argmax over their
    spill-redundant members.  Routing cost per vector is
    √C·(1+spill·m_super) sims instead of C — at C=100k that is ~2.9k
    vs 100k.  Deterministic given the codebook; ``m_super=None`` makes
    routing the EXACT flat argmax over all C cells (the stable
    sim-desc / centroid_id-asc tie rule, bit-faithful to
    ``assign_to_centroids``) at C-sims-per-vector cost.  Hierarchical
    assignment may route a boundary vector to its second-nearest cell —
    for the partition-shaped callers (``semantic_dedup``) that is the
    same fail-open trade as its cluster-size cap (a possibly-missed
    pair, never a wrong drop).  ``keep_norm`` hoists the row L2 norm
    JVM-side with the identical ``l2_norm`` fold."""
    mk_router, _, _ = _sharded_router_factory(
        centroids,
        m_super=m_super,
        n_super=n_super,
        spill=spill,
        super_iters=super_iters,
        caller="assign_to_centroids_sharded",
    )
    out_cols = [F.col(id_col), F.col(vec_col)] + (
        [l2_norm(F.col(vec_col)).alias("_vnorm")] if keep_norm else []
    )
    return vectors.withColumn("_cells", mk_router(1)(F.col(vec_col))).select(
        *out_cols, F.element_at(F.col("_cells"), 1).alias("cluster")
    )


# Crossover between the flat √N-cell kNN-graph tier and the bounded-cell
# sharded tier: the flat design's total work is N^1.5 by construction
# (BENCHNOTES_r11_knn2.json measured the asymptote), and √N also hits the
# 4096 Catalyst-literal codebook cap at 4096² ≈ 16.8M vectors — past ~16M
# BOTH the cost model and the codebook representation say switch.
# Mirrored machine-readably in __spark_entry__.tier_bounds().
KNN_FLAT_MAX_N = 16_000_000
KNN_SHARDED_NPROBE_CAP = 16


def sharded_nprobe_auto(
    n: int, cells: int, nprobe: int, cap: int = KNN_SHARDED_NPROBE_CAP
) -> int:
    """Volume-equalizing nprobe raise for the bounded-cell sharded tier
    (r13, measured in KNN_NPROBE_r13.json / RECALL_r13.json).

    The bounded rule ``cells = max(√N, ⌈N/512⌉)`` shrinks the per-probe
    scanned volume by ``cells/√N`` relative to the flat √N reference
    once N passes 512² — the measured recall cost on the hard 2M corpus
    is 0.940 → 0.884 at nprobe=2 (a 2.76× volume deficit).  Raising
    nprobe by that ratio restores flat-equivalent volume; each raised
    probe still scans a CONSTANT nprobe_eff × 512 rows, so the graph's
    linear total scan term survives (measured: 53–57 s at 2M across
    nprobe 2..8 — the raise is ~free where it matters).

    The CAP keeps the term linear long-term: uncapped, the ratio grows
    as √N/512 and the graph would be N^1.5 again.  cap=16 holds volume
    parity exactly to the 16M tier switch (16×512 ≈ 2×√16M); past it
    the per-probe deficit grows as √N/4096 — ~2.4× at 100M, ~7.7× at
    1B — and recall follows the measured decay curve.  Corpora out
    there need :func:`calibrate_nprobe` on a sample (or an explicit
    nprobe) instead of this default.  The cap bounds only the
    auto-raise: a caller's explicit nprobe is never lowered, even when
    it exceeds the cap (that's the user buying recall with scan cost,
    a decision this default must not override)."""
    if cells <= 0 or nprobe <= 0:
        raise ValueError(f"cells/nprobe must be positive: {cells}, {nprobe}")
    root = max(1, math.isqrt(max(1, n)))
    # the cap bounds only the AUTO-raise; an explicit nprobe above the
    # cap is the caller overriding the default cost/recall trade and is
    # honored verbatim (r13 advice: min-outside silently lowered it)
    return max(int(nprobe), min(int(cap), -(-int(nprobe) * int(cells) // root)))


def knn_join_auto(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    nprobe: int | None = 2,
    m_super: int | None = 4,
    left_id_col: str = "probe_id",
    left_vec_col: str = "probe_vec",
    right_id_col: str = "vec_id",
    right_vec_col: str = "embedding",
    exclude_same_id: bool = False,
    n_right: int | None = None,
) -> DataFrame:
    """kNN join/graph with AUTOMATIC tier dispatch (r12 verdict ask #6)
    — the user-facing entry point that picks between the two measured
    tiers instead of leaving the switch in docstrings, mirroring
    ``freq_cap``'s auto-switch discipline:

    * ``N ≤ KNN_FLAT_MAX_N`` (16M): :func:`knn_join` over a flat
      ``max(8, min(4096, ⌊√N⌋))``-cell codebook — the FLOP-optimal flat
      IVF balance, recommended below the crossover (N^1.5 total but the
      constant wins at these sizes; measured α 1.17 at 2M).
    * ``N > KNN_FLAT_MAX_N``: :func:`knn_join_sharded` over a bounded
      ``max(⌊√N⌋, ⌈N/512⌉)``-cell codebook with hierarchical
      ``m_super``-routed super-centroids — linear scan term, ~N^1.25
      routing (measured α 0.99 at the 2M decade, SCALE.md).

    The codebook is built here by the deterministic smallest-id
    convention both registry contract queries use (first ``cells``
    vectors of ``right`` by id), so results are replicable; callers who
    trained k-means codebooks should call the tier functions directly.
    ``n_right`` skips the sizing ``count()`` when the caller already
    knows it (e.g. from parquet metadata).  Everything else passes
    through unchanged; result schema and tie rules are identical across
    tiers (same grouped-cell scorer).

    Past the 16M switch, don't trust the default nprobe raise on your
    own corpus: sample ~1–2M vectors, run :func:`nprobe_recall_curve`,
    and pass the cheapest nprobe clearing your recall target explicitly
    (never lowered, even above the cap) — see README "Past 16M vectors:
    calibrate, don't trust" and bench_records/KNN_NPROBE_r13.json for
    the worked example."""
    n = int(n_right) if n_right is not None else right.count()
    if n <= KNN_FLAT_MAX_N:
        cells = max(8, min(4096, math.isqrt(n)))
    else:
        cells = max(8, math.isqrt(n), -(-n // 512))
    cents = (
        right.orderBy(right_id_col)
        .limit(cells)
        .select(
            F.col(right_id_col).cast("int").alias("centroid_id"),
            F.col(right_vec_col).alias("centroid_vec"),
        )
    )
    common = dict(
        k=k,
        nprobe=nprobe,
        left_id_col=left_id_col,
        left_vec_col=left_vec_col,
        right_id_col=right_id_col,
        right_vec_col=right_vec_col,
        exclude_same_id=exclude_same_id,
    )
    if n <= KNN_FLAT_MAX_N:
        return knn_join(left, right, cents, **common)
    # bounded regime: cells = max(√N, N/512) exceeds √N, so the default
    # nprobe would scan cells/√N× fewer rows per probe than the flat
    # reference and recall drops (0.884 vs 0.940 measured at 2M on the
    # hard corpus) — auto-raise by the volume ratio, capped to keep the
    # scan term linear (see sharded_nprobe_auto)
    if nprobe is not None:
        common["nprobe"] = sharded_nprobe_auto(n, cells, int(nprobe))
    return knn_join_sharded(left, right, cents, m_super=m_super, **common)


def fine_centroid_table(
    vectors: DataFrame,
    coarse: DataFrame,
    n_fine_per_cell: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fine-centroid table for the two-level IVF: within each coarse
    cell, the ``n_fine_per_cell`` smallest-id member vectors become that
    cell's fine centroids — the same deterministic convention as
    ``ivf_topk``'s default centroids, which keeps the whole index
    engine-portable (a SQL oracle can rebuild it) and makes the
    exact-routing path provably equal to brute force.

    Returns ``(coarse_id, fine_id, fine_vec)`` with fine_id dense 0..m-1
    per cell.  This is a TABLE, not a broadcast literal — which is the
    entire point: total centroids = n_coarse × n_fine_per_cell can go
    far past the 4096-literal Catalyst cap (kmeans_centroids' documented
    limit); only the n_coarse COARSE codebook rides the expression tree.

    Cost shape: coarse assignment is map-only (broadcast-literal
    argmax); the per-cell top-n is ONE shuffle of (id, vec, cluster) on
    the coarse key — index-BUILD cost, paid once and amortized over
    every probe batch, exactly like training any IVF index.  At 100 TB
    build the index from a hash_sample of the corpus instead of the
    full set (sampling changes which vectors act as centroids, not the
    operator's shape)."""
    assigned = assign_to_centroids(vectors, coarse, id_col=id_col, vec_col=vec_col)
    w = Window.partitionBy("cluster").orderBy(id_col)
    return (
        assigned.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_fine_per_cell)
        .select(
            F.col("cluster").alias("coarse_id"),
            (F.col("_rk") - 1).cast("int").alias("fine_id"),
            F.col(vec_col).alias("fine_vec"),
        )
    )


def fine_centroid_table_kmeans(
    vectors: DataFrame,
    coarse: DataFrame,
    n_fine_per_cell: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 4,
    sample_per_cell: int = 2048,
) -> DataFrame:
    """Data-adapted fine codebook for the two-level IVF — the QUALITY
    mode the r10 recall measurement showed the deterministic
    ``fine_centroid_table`` lacks (RECALL.md: first-k-by-id fine
    centroids are consecutive-id clumps, capping two-level recall at
    ~0.6-0.7 where single-level √N IVF reaches 0.996).  Per coarse
    cell, a small Lloyd k-means runs INSIDE one ``applyInPandas`` group:
    members are ordered by id, the first ``sample_per_cell`` rows are
    the deterministic training sample, init = the sample's first
    ``n_fine_per_cell`` rows, then ``kmeans_iters`` numpy iterations
    (euclidean on the unit-norm vectors ≈ spherical k-means).  Fully
    deterministic (no RNG), distributed (one task per coarse cell,
    training cost bounded by ``sample_per_cell`` regardless of corpus
    size) — but NOT SQL-replicable: the deterministic table remains the
    verification mode, this is the production-recall mode (pass the
    result as ``fine=`` to ``ivf_two_level_topk``).

    Returns ``(coarse_id, fine_id, fine_vec)`` like the deterministic
    builder; empty cells yield no rows, cells smaller than
    ``n_fine_per_cell`` yield one centroid per member."""
    assigned = assign_to_centroids(vectors, coarse, id_col=id_col, vec_col=vec_col)
    m = int(n_fine_per_cell)
    iters = int(kmeans_iters)
    cap = int(sample_per_cell)

    def _fit_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).head(cap)
        V = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
        k = min(m, len(V))
        cents = V[:k].copy()
        vsq = (V * V).sum(axis=1)
        for _ in range(iters):
            # argmin ||v-c||² via the matmul identity: the explicit
            # (n, k, dim) difference tensor is O(n·k·dim) memory; BLAS
            # keeps this at O(n·k)
            d2 = vsq[:, None] - 2.0 * (V @ cents.T) + (cents * cents).sum(axis=1)[None, :]
            lab = d2.argmin(axis=1)
            sums = np.zeros_like(cents)
            np.add.at(sums, lab, V)
            cnt = np.bincount(lab, minlength=k).astype("float64")
            nz = cnt > 0
            cents[nz] = sums[nz] / cnt[nz, None]
        cluster = pdf["cluster"].iloc[0]
        return pd.DataFrame(
            {
                "coarse_id": [cluster] * k,
                "fine_id": np.arange(k, dtype="int32"),
                "fine_vec": [c.astype("float32").tolist() for c in cents],
            }
        )

    cid_sql = assigned.schema["cluster"].dataType.simpleString()
    return assigned.groupBy("cluster").applyInPandas(
        _fit_cell,
        f"coarse_id {cid_sql}, fine_id int, fine_vec array<float>",
    )


def assign_two_level(
    vectors: DataFrame,
    coarse: DataFrame,
    fine: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_norm: bool = False,
) -> DataFrame:
    """Assign every vector to its (coarse_id, fine_id) bucket.  Coarse:
    the broadcast-literal argmax of ``assign_to_centroids``.  Fine: the
    fine table is rolled up to ONE ROW PER COARSE CELL (an array of
    fine structs), broadcast-hash-joined on coarse_id, then the same
    array-argmax — so the fine step is also map-only: no row
    multiplication (a plain vectors×fine join would emit n_fine rows
    per vector before the argmax) and no corpus shuffle.  Ties break on
    the lowest fine_id via array_sort + first-max, mirroring
    assign_to_centroids.  Returns (id_col, vec_col, coarse_id,
    fine_id)."""
    cells = fine.groupBy("coarse_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "fine_id",
                    "fine_vec",
                    l2_norm(F.col("fine_vec")).alias("fine_norm"),
                )
            )
        ).alias("_fines")
    )
    a = assign_to_centroids(
        vectors, coarse, id_col=id_col, vec_col=vec_col, keep_norm=True
    ).select(id_col, vec_col, "_vnorm", F.col("cluster").alias("coarse_id"))
    sims = F.transform(
        F.col("_fines"),
        lambda c: cosine_with_norms(
            F.col(vec_col),
            c.getField("fine_vec"),
            F.col("_vnorm"),
            c.getField("fine_norm"),
        ),
    )
    out_cols = [id_col, vec_col] + (["_vnorm"] if keep_norm else [])
    return (
        a.join(F.broadcast(cells), "coarse_id")
        .withColumn("_sims", sims)
        .withColumn("_best", F.array_position(F.col("_sims"), F.array_max(F.col("_sims"))))
        .select(
            *out_cols,
            "coarse_id",
            F.element_at(F.col("_fines"), F.col("_best").cast("int"))
            .getField("fine_id")
            .alias("fine_id"),
        )
    )


def ivf_two_level_topk(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 5,
    n_coarse: int = 8,
    n_fine_per_cell: int = 8,
    nprobe_coarse: int | None = 2,
    nprobe_fine: int | None = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse: DataFrame | None = None,
    fine: DataFrame | None = None,
) -> DataFrame:
    """Two-level IVF ANN — the codebook scale tier past kmeans_centroids'
    4096-literal cap (similarity.py's documented 100 TB gap): a coarse
    codebook small enough to ride the broadcast-literal argmax routes
    into a FINE codebook that lives as a broadcast-joined table, so
    total cells = n_coarse × n_fine_per_cell reach the ≥64k a 100 TB
    embedding corpus wants (√N cells at N≈10⁹ vectors) while no Catalyst
    expression tree ever exceeds n_coarse literals.

    Defaults are deterministic (coarse = first n_coarse vectors by id,
    fine = first n_fine members per cell — fine_centroid_table); pass
    data-adapted frames (e.g. kmeans_centroids per level) for recall.
    ``nprobe_coarse=None`` / ``nprobe_fine=None`` mean "all" — with both
    None the scan covers every bucket and the result EQUALS brute force
    (the ann_ivf_exact oracle discipline).

    Plan shape: probe routing is two broadcast joins over list-sized
    frames (probes×coarse, routed×fine) with per-probe row_number ranks
    — never over the corpus; the corpus-side work is the map-only
    two-level assignment plus ONE keyed equijoin on (coarse_id, fine_id)
    against the broadcast routed buckets, then TakeOrderedAndProject
    top-k.  Zero corpus shuffles beyond the index build."""
    if coarse is None:
        coarse = (
            vectors.orderBy(id_col)
            .limit(n_coarse)
            .select(
                F.col(id_col).alias("centroid_id"),
                F.col(vec_col).alias("centroid_vec"),
            )
        )
    if fine is None:
        fine = fine_centroid_table(
            vectors, coarse, n_fine_per_cell, id_col=id_col, vec_col=vec_col
        )

    assigned = assign_two_level(
        vectors, coarse, fine, id_col=id_col, vec_col=vec_col, keep_norm=True
    )

    # level-1 routing: nprobe_coarse nearest coarse cells per probe
    # (norms hoisted per side — cosine_with_norms)
    c_sim = cosine_with_norms(
        F.col("probe_vec"), F.col("centroid_vec"), F.col("_pnorm"), F.col("_cnorm")
    )
    c_routes = (
        probes.withColumn("_pnorm", l2_norm(F.col("probe_vec")))
        .crossJoin(
            F.broadcast(
                coarse.withColumn("_cnorm", l2_norm(F.col("centroid_vec")))
            )
        )
        .select(
            "probe_id", "probe_vec", "_pnorm",
            F.col("centroid_id").alias("coarse_id"),
            c_sim.alias("_csim"),
        )
    )
    if nprobe_coarse is not None:
        c_routes = (
            c_routes.withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("probe_id").orderBy(
                        F.col("_csim").desc(), F.col("coarse_id")
                    )
                ),
            )
            .filter(F.col("_rk") <= nprobe_coarse)
            .drop("_rk")
        )
    c_routes = c_routes.drop("_csim")

    # level-2 routing: nprobe_fine nearest fine cells within routed coarse
    f_sim = cosine_with_norms(
        F.col("probe_vec"), F.col("fine_vec"), F.col("_pnorm"), F.col("_fnorm")
    )
    f_routes = c_routes.join(
        F.broadcast(fine.withColumn("_fnorm", l2_norm(F.col("fine_vec")))),
        "coarse_id",
    ).select(
        "probe_id", "probe_vec", "_pnorm", "coarse_id", "fine_id",
        f_sim.alias("_fsim"),
    )
    if nprobe_fine is not None:
        f_routes = (
            f_routes.withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("probe_id").orderBy(
                        F.col("_fsim").desc(), F.col("coarse_id"), F.col("fine_id")
                    )
                ),
            )
            .filter(F.col("_rk") <= nprobe_fine)
            .drop("_rk")
        )
    f_routes = f_routes.drop("_fsim")

    joined = assigned.join(
        F.broadcast(f_routes), ["coarse_id", "fine_id"]
    ).filter(F.col(id_col) != F.col("probe_id"))
    scored = joined.select(
        "probe_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            cosine_with_norms_arrow(
                F.col(vec_col), F.col("probe_vec"), F.col("_vnorm"), F.col("_pnorm")
            ),
            6,
        ).alias("cosine"),
    )
    return topk_per_probe(scored, k, "probe_id")


def ivf_two_level_sharded(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_coarse: int | None = None,
    corpus_size: int | None = None,
    coarse_cap: int = 4096,
) -> DataFrame:
    """The RECALL-TARGET spelling of the two-level tier (r10 verdict ask
    #3 — RECALL.md's own production guidance made the implemented
    default): the fine level is pure SHARDING, never pruning.

    RECALL.md's r10 measurement showed hierarchical PRUNING is what
    costs recall — every fine-pruned variant ceilinged at 0.61–0.74
    @200k while flat √N IVF reads 0.996 — because a probe's true
    neighbors spread across fine cells outside its top-nprobe_fine.
    This mode routes ``nprobe_coarse`` coarse cells and scans ALL fine
    shards within them (``nprobe_fine=None``), so the candidate set is
    EXACTLY a flat IVF's over the coarse codebook; the fine level keeps
    its real job for the >4096-cell regime — splitting each coarse
    cell's members into bounded sub-buckets so no Catalyst literal
    array and no single equijoin bucket outgrows its task.

    Auto-sizing (overridable): ``n_coarse = min(coarse_cap, ⌈√N⌉)``.
    Below the cap this IS flat √N IVF (measured 0.996 @200k) sharded;
    past it, the coarse probe count auto-raises as
    ``nprobe_eff = ⌈nprobe × ⌈√N⌉ / n_coarse⌉`` — each capped coarse
    cell covers √N/cap flat cells' worth of corpus, so raising probes
    by the same ratio keeps the scanned volume equal to the flat
    reference while the bigger cells cut FEWER neighborhoods at their
    boundaries (recall ≥ the flat equivalent at equal scan; measured in
    RECALL.md's two_level_sharded_cap rows).  ``corpus_size`` skips the
    sizing ``count()`` when the caller already knows N (index-build
    cost either way)."""
    n = int(corpus_size) if corpus_size is not None else vectors.count()
    target_cells = max(8, min(int(math.isqrt(max(1, n))), n))
    if n_coarse is None:
        n_coarse = min(int(coarse_cap), target_cells)
    n_fine = max(1, -(-target_cells // int(n_coarse)))  # ceil div
    nprobe_eff = min(
        int(n_coarse), max(int(nprobe), -(-int(nprobe) * target_cells // int(n_coarse)))
    )
    return ivf_two_level_topk(
        vectors,
        probes,
        k=k,
        n_coarse=int(n_coarse),
        n_fine_per_cell=int(n_fine),
        nprobe_coarse=nprobe_eff,
        nprobe_fine=None,
        id_col=id_col,
        vec_col=vec_col,
    )


def nprobe_recall_curve(
    vectors: DataFrame,
    probes: DataFrame,
    k: int = 5,
    nprobe_grid: tuple[int, ...] = (1, 2, 4, 8),
    n_centroids: int = 8,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Measured recall@k AND scan cost per nprobe, as ONE distributed
    plan — the calibration primitive behind :func:`calibrate_nprobe`.

    The 100 TB workflow this exists for: you cannot brute-force the full
    corpus, but you CAN brute-force a hash_sample of it against a probe
    sample, sweep nprobe on the sampled index, and then run the big job
    at the cheapest nprobe that clears the recall target (RECALL_r13's
    hard-corpus rows are exactly this curve, measured by hand until
    now).  One assignment pass and one candidate join serve the WHOLE
    grid: candidates are generated once at max(grid) routes with their
    route rank retained, the grid is exploded over them, and each grid
    value re-ranks only the candidates whose route rank qualifies — no
    per-nprobe rescan of the corpus.

    Returns ``(nprobe int, recall_at_k double, avg_scanned double)``,
    one row per grid value: recall@k vs the exact brute-force top-k
    over the same probes, and the mean per-probe candidate count (the
    cost axis — scan rows/probe = nprobe × N/cells, so the curve is
    directly a cost/recall frontier).  Probes whose candidate set is
    empty count as recall 0, not dropped.  ``centroids`` defaults to
    the deterministic smallest-id codebook (the registry convention, so
    a SQL oracle can replay the whole curve); pass
    ``kmeans_centroids(...)`` to calibrate the quality path."""
    grid = sorted({int(g) for g in nprobe_grid})
    if not grid or grid[0] < 1:
        raise ValueError(f"nprobe_grid must be positive ints, got {nprobe_grid}")
    max_np = grid[-1]
    if centroids is None:
        centroids = (
            vectors.orderBy(id_col)
            .limit(n_centroids)
            .select(
                F.col(id_col).alias("centroid_id"),
                F.col(vec_col).alias("centroid_vec"),
            )
        )

    exact = brute_force_topk(
        vectors, probes, k=k, id_col=id_col, vec_col=vec_col
    ).select("probe_id", "neighbor_id")

    assigned = assign_to_centroids(
        vectors, centroids, id_col=id_col, vec_col=vec_col, keep_norm=True
    )
    routes = (
        probes.withColumn("_pnorm", l2_norm(F.col("probe_vec")))
        .crossJoin(
            F.broadcast(
                centroids.withColumn("_cnorm", l2_norm(F.col("centroid_vec")))
            )
        )
        .select(
            "probe_id",
            "probe_vec",
            "_pnorm",
            "centroid_id",
            cosine_with_norms(
                F.col("probe_vec"),
                F.col("centroid_vec"),
                F.col("_pnorm"),
                F.col("_cnorm"),
            ).alias("_sim"),
        )
        .withColumn(
            "_route_rk",
            F.row_number().over(
                Window.partitionBy("probe_id").orderBy(
                    F.col("_sim").desc(), F.col("centroid_id")
                )
            ),
        )
        .filter(F.col("_route_rk") <= max_np)
        .select(
            "probe_id",
            "probe_vec",
            "_pnorm",
            F.col("centroid_id").alias("cluster"),
            "_route_rk",
        )
    )
    cand = (
        assigned.join(F.broadcast(routes), "cluster")
        .filter(F.col(id_col) != F.col("probe_id"))
        .select(
            "probe_id",
            F.col(id_col).alias("neighbor_id"),
            F.round(
                cosine_with_norms_arrow(
                    F.col(vec_col),
                    F.col("probe_vec"),
                    F.col("_vnorm"),
                    F.col("_pnorm"),
                ),
                6,
            ).alias("cosine"),
            "_route_rk",
        )
    )
    # one candidate row fans out to every grid value it qualifies for;
    # |grid| × candidates rows total — calibration runs on samples, and
    # the window key (nprobe, probe_id) spreads across |grid| × |probes|
    # reducers
    grid_col = F.explode(
        F.array(*[F.lit(g) for g in grid])
    ).alias("nprobe")
    exploded = cand.select("*", grid_col).filter(
        F.col("_route_rk") <= F.col("nprobe")
    )
    approx = (
        exploded.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("nprobe", "probe_id").orderBy(
                    F.col("cosine").desc(), F.col("neighbor_id")
                )
            ),
        )
        .filter(F.col("_rk") <= k)
        .select("nprobe", "probe_id", "neighbor_id")
    )
    hits = approx.join(exact, ["probe_id", "neighbor_id"]).groupBy(
        "nprobe", "probe_id"
    ).agg(F.count("*").alias("_n_hit"))
    scanned = exploded.groupBy("nprobe", "probe_id").agg(
        F.count("*").alias("_n_scan")
    )
    universe = probes.select("probe_id").select("probe_id", grid_col)
    per_probe = (
        universe.join(hits, ["nprobe", "probe_id"], "left")
        .join(scanned, ["nprobe", "probe_id"], "left")
        .select(
            "nprobe",
            F.coalesce(F.col("_n_hit"), F.lit(0)).alias("_n_hit"),
            F.coalesce(F.col("_n_scan"), F.lit(0)).alias("_n_scan"),
        )
    )
    return (
        per_probe.groupBy("nprobe")
        .agg(
            F.round(
                F.avg(F.col("_n_hit").cast("double") / F.lit(float(k))), 6
            ).alias("recall_at_k"),
            F.round(F.avg(F.col("_n_scan").cast("double")), 6).alias(
                "avg_scanned"
            ),
        )
        .orderBy("nprobe")
    )


def calibrate_nprobe(
    vectors: DataFrame,
    probes: DataFrame,
    target_recall: float = 0.9,
    k: int = 5,
    nprobe_grid: tuple[int, ...] = (1, 2, 4, 8),
    n_centroids: int = 8,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[int, list[dict]]:
    """Pick the CHEAPEST nprobe meeting a recall target, from the
    measured :func:`nprobe_recall_curve` — the sample-then-scale tuning
    step a 100 TB ANN job runs before committing the full scan.

    Returns ``(nprobe, curve)`` where curve is the collected list of
    ``{nprobe, recall_at_k, avg_scanned}`` rows (bounded by
    ``len(nprobe_grid)`` — the ONLY driver-side materialization here).
    If no grid value reaches the target the largest is returned with
    the curve as evidence; callers should then widen the grid, grow the
    codebook, or switch tiers (see ``knn_join_auto``)."""
    curve_df = nprobe_recall_curve(
        vectors,
        probes,
        k=k,
        nprobe_grid=nprobe_grid,
        n_centroids=n_centroids,
        centroids=centroids,
        id_col=id_col,
        vec_col=vec_col,
    )
    curve = [r.asDict() for r in curve_df.collect()]
    for row in curve:
        if row["recall_at_k"] >= target_recall:
            return int(row["nprobe"]), curve
    return int(curve[-1]["nprobe"]) if curve else max(nprobe_grid), curve


@functools.cache
def _hyperplanes_cached(dim: int, n_planes: int):
    """numpy dim × n_planes plane matrix, cached per (dim, n_planes)."""
    return np.array(_hyperplanes(dim, n_planes)).T


# bounded session-aware cache for the persisted bucketed projection used by
# embedding_dup_pairs (see csv_etl_spark.operators._cache)
from csv_etl_spark.operators._cache import BoundedPersistCache  # noqa: E402

_BUCKET_CACHE = BoundedPersistCache(max_entries=4)

# persisted centroid-assignment used 3x inside semantic_dedup
_ASSIGNED_CACHE = BoundedPersistCache(max_entries=4)


def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Fixed pseudo-random unit hyperplanes (deterministic LCG — no RNG
    state, reproducible across engines/runs)."""
    planes = []
    seed = 1234567
    for p in range(n_planes):
        row = []
        for d in range(dim):
            seed = (seed * 1103515245 + 12345) % (1 << 31)
            row.append((seed / float(1 << 31)) * 2.0 - 1.0)
        norm = math.sqrt(sum(x * x for x in row)) or 1.0
        planes.append([x / norm for x in row])
    return planes


def random_hyperplane_buckets(
    df: DataFrame, dim: int | None = None, n_planes: int = 8, vec_col: str = "embedding"
) -> DataFrame:
    """Append an integer LSH bucket: bit p = sign(v · plane_p).

    Implemented as a vectorized Pandas UDF (one numpy matmul of each Arrow
    batch against the fixed plane matrix).  A pure-Column spelling (n_planes
    × dim literal arrays under fold lambdas) is semantically identical but
    generates a pathologically large expression tree — several seconds of
    codegen before the first row moves; batch-matrix math is the case
    vectorized UDFs exist for.

    ``dim`` is taken from the vectors themselves (the plane matrix is a
    deterministic function of (dim, n_planes), so every batch/worker/run
    derives the identical planes); pass it only to assert an expected width.
    """
    from pyspark.sql.functions import pandas_udf

    weights = (1 << np.arange(n_planes)).astype(np.int64)
    expect_dim = dim

    @pandas_udf("long")
    def bucket_of(vecs: pd.Series) -> pd.Series:
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)  # batch × dim
        if expect_dim is not None and mat.shape[1] != expect_dim:
            raise ValueError(f"expected dim {expect_dim}, got {mat.shape[1]}")
        planes_t = _hyperplanes_cached(mat.shape[1], n_planes)
        bits = (mat @ planes_t) >= 0.0  # batch × n_planes
        return pd.Series(bits @ weights)

    return df.withColumn("lsh_bucket", bucket_of(F.col(vec_col)))


def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    dim: int | None = None,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup: bucket-equijoin on random-hyperplane signature,
    verify cosine ≥ threshold.  Near-identical vectors agree on all sign
    bits with high probability; the join is keyed, never O(n²).

    The bucketed projection is computed once across full parallelism and
    persisted: the 8 hyperplane dot products per row are the expensive
    part, and both sides of the self-join (plus the verify) would
    otherwise re-evaluate them per mention (HOF lambdas are opaque to
    Catalyst CSE).  The persisted frame is registered in a session-aware
    bounded cache (shared policy with the shingle table) so repeated
    calls reuse it and evictees are unpersisted — it no longer leaks for
    the life of the session."""
    from pyspark.storagelevel import StorageLevel

    from csv_etl_spark.sources.tables import ensure_parallelism

    src = ensure_parallelism(df.select(F.col(id_col), F.col(vec_col)))
    # dim participates in the key: the plane matrix is a function of
    # (dim, n_planes), so the same frame bucketed at a different declared
    # dim must not reuse the cached projection
    key = BoundedPersistCache.key_for(src, dim, n_planes, vec_col)
    b = _BUCKET_CACHE.get(key)
    if b is None:
        # norm computed BEFORE the persist: it rides the cached frame,
        # so the verify step scores pairs with one dot (cosine_with_norms)
        b = random_hyperplane_buckets(src, dim, n_planes, vec_col).withColumn(
            "_vnorm", l2_norm(F.col(vec_col))
        )
        if key is not None:
            b = b.persist(StorageLevel.MEMORY_AND_DISK)
            _BUCKET_CACHE.put(key, b)
    left = b.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        F.col("_vnorm").alias("na"), F.col("lsh_bucket").alias("ba"),
    )
    right = b.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        F.col("_vnorm").alias("nb"), F.col("lsh_bucket").alias("bb"),
    )
    pairs = left.join(right, (F.col("ba") == F.col("bb")) & (F.col("id_a") < F.col("id_b")))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(
                cosine_with_norms_arrow(
                    F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def standardize_embeddings(
    df: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """Per-DIMENSION z-score standardization of an embedding column —
    the feature-normalization step before distance-based ops whose
    metric is not scale-invariant (euclidean k-means, IVF residuals,
    whitened LSH; cosine does not need it).  Adds ``standardized``:
    element i becomes (x_i - mean_i) / std_i (population std;
    zero-variance dimensions map to 0.0 rather than NaN).

    Plan shape (r16 rewrite — arithmetic unchanged, see below): the
    per-dimension moments come from ONE ``posexplode`` → dim-group
    aggregate with map-side partials (the shuffle carries only
    dim × n_partitions partial rows — never dim × the row count), the
    ≤dim-row moment frame folds into two (dim → mean/std) MAPS in a
    single-row frame, and that broadcasts back via crossJoin so the
    z-transform stays a map-only in-row ``transform``.  The previous
    spelling computed the same 2·dim moments as 2·dim fused column
    aggregates over the array — one job fewer, but the 129-expression
    tree (dim=64) cost ~4 s of driver expression construction plus
    ~5 s of analysis/optimization PER CALL and fell out of whole-stage
    codegen (``spark.sql.codegen.maxFields`` = 100 < 129), so every
    row paid interpreted evaluation of 192 array extracts; measured at
    sf0.1 the rewrite cuts the query from ~11 s to ~2 s with identical
    results (same decimal sums — decimal addition is exact and
    associative, so explode-grouped and fused sums are bit-equal).

    Engine-parity discipline (the stats.py moment rules): elements are
    rounded to 6 decimals and summed as DECIMAL(18,6)/(37,12) so the
    moments are bit-identical on any partitioning and any engine;
    means/stds/z-scores are all rounded to 6.  Variance uses the
    ROUNDED mean (deterministic everywhere; the O(1e-6) bias is far
    below embedding noise).

    Determinism assumption (r17, ADVICE r16): the row count ``_n`` runs
    as its own tiny aggregate job, SEPARATE from the moment scan (the
    fused spelling computed both atomically; the count cannot ride the
    posexplode aggregate because exploding drops null/empty vectors the
    count must include).  ``df`` must therefore be stable across jobs —
    no ``sample()``/``rand()``-derived input, no source mutated between
    jobs — or the count can disagree with the sums and skew the moments.
    Every operator call site feeds it deterministic projections of
    parquet scans, which satisfies this."""
    if dim < 1:
        raise ValueError("dim must be >= 1")

    # decimal(18,6): the square's product type is decimal(37,12) — exact
    # in BOTH Spark and DuckDB (a (38,6) square would overflow 38 digits
    # and silently rescale); 18 digits is 1e12 headroom over any unit-ish
    # embedding element
    v6 = F.round(F.col("_e").cast("double"), 6).cast("decimal(18,6)")
    per_dim = (
        df.select(F.posexplode(vec_col).alias("_i", "_e"))
        .select("_i", v6.alias("_v"))
        .groupBy("_i")
        .agg(
            F.sum("_v").alias("_s"),
            F.sum(F.col("_v") * F.col("_v")).alias("_q"),
        )
    )
    # row count in its own tiny aggregate (the fused spelling had it in
    # the same agg): for parquet sources this is a metadata-only scan
    n_frame = df.agg(F.count(F.lit(1)).alias("_n"))
    mean = F.round(F.col("_s").cast("double") / F.col("_n"), 6)
    var = F.col("_q").cast("double") / F.col("_n") - mean * mean
    per = per_dim.crossJoin(F.broadcast(n_frame)).select(
        "_i",
        mean.alias("_m"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("_sd"),
    )
    # struct-entry maps, NOT map_from_arrays(collect_list, collect_list):
    # collect_list skips NULL means (an all-null dimension), which would
    # misalign keys and values
    stats = per.agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_i"), F.col("_m")))
        ).alias("_mm"),
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_i"), F.col("_sd")))
        ).alias("_sm"),
    )

    z = F.transform(
        F.col(vec_col),
        lambda e, i: F.when(
            F.element_at("_sm", i) == 0.0, F.lit(0.0)
        ).otherwise(
            F.round(
                (F.round(e.cast("double"), 6) - F.element_at("_mm", i))
                / F.element_at("_sm", i),
                6,
            )
        ),
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn("standardized", z)
        .drop("_mm", "_sm")
    )
