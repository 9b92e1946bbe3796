"""Extension-operator tests: dedup family, similarity search, text analysis,
multimodal plumbing — on small controlled data + the sf0.001 testdata."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from csv_etl_spark.operators import dedup, similarity, text
from csv_etl_spark.operators.multimodal import documents_as_media, extract_features

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def test_exact_dedup_by_key(spark):
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "b", "x"), (4, "a", "y")],
        ["id", "k1", "k2"],
    )
    out = {(r["k1"], r["k2"]): (r["keep_id"], r["n_dups"])
           for r in dedup.exact_dedup_by_key(df, ["k1", "k2"], "id").collect()}
    assert out == {("a", "x"): (1, 2), ("b", "x"): (3, 1), ("a", "y"): (4, 1)}


def test_exact_dedup_normalized(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "different doc")],
        ["doc_id", "text"],
    )
    out = dedup.exact_dedup_normalized(df).collect()
    groups = {r["keep_id"]: r["n_dups"] for r in out}
    assert groups == {1: 2, 3: 1}


def test_token_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], ["text"])
    rows = df.select(dedup.token_shingles(F.col("text"), 3).alias("s")).collect()
    assert rows[0]["s"] == ["a b c", "b c d"]
    assert rows[1]["s"] == []


def test_jaccard_pairs_exact_and_lsh_agree(spark):
    """LSH with full signature coverage must find the high-jaccard pairs the
    exact operator finds (here: near-identical docs → jaccard 0.8+)."""
    docs = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river shore"),
        (3, "completely different words about spark query engines and shuffles"),
        (4, "completely different words about spark query engines and shuffles"),
        (5, "unrelated short text"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()}
    assert (1, 2) in exact and (3, 4) in exact
    assert exact[(3, 4)] == 1.0
    assert (1, 5) not in exact

    lsh = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.minhash_lsh_pairs(df, threshold=0.5, num_hashes=16, bands=16).collect()}
    # bands=16 (rows_per_band=1): candidate iff ANY minhash matches → recall ≈ 1 at j≥0.5
    assert set(exact).issubset(set(lsh)) or set(lsh) == set(exact)
    for pair, j in lsh.items():
        assert j == pytest.approx(exact[pair])


def test_minhash_lsh_bucket_cap(spark):
    """r13 hot-bucket guard: max_bucket_size drops oversized band buckets
    BEFORE the candidate self-join.  A cluster of identical docs larger
    than the cap saturates all its band buckets and is dropped (the
    documented exact-dedup-first caveat); an unrelated small pair
    survives unchanged; the capped pair set is always a subset of the
    uncapped one."""
    big = [(i, "alpha beta gamma delta epsilon zeta") for i in range(10)]
    small = [
        (100, "completely different words about spark query engines"),
        (101, "completely different words about spark query engines"),
    ]
    df = spark.createDataFrame(big + small, ["doc_id", "text"])
    uncapped = {(r["id_a"], r["id_b"])
                for r in dedup.minhash_lsh_pairs(df, threshold=0.5).collect()}
    capped = {(r["id_a"], r["id_b"])
              for r in dedup.minhash_lsh_pairs(
                  df, threshold=0.5, max_bucket_size=4).collect()}
    assert capped.issubset(uncapped)
    # the identical-10 cluster fills every one of its band buckets past
    # the cap of 4 -> all its pairs are dropped
    assert not any(a < 100 and b < 100 for a, b in capped)
    assert (100, 101) in capped  # small bucket untouched
    with pytest.raises(ValueError, match="max_bucket_size"):
        dedup.minhash_lsh_pairs(df, max_bucket_size=1)


def test_simhash_near_duplicates_close(spark):
    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),  # 1 token differs
        (3, "zzz yyy xxx www vvv uuu ttt sss"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    sigs = {r["id"]: r["simhash"] for r in dedup.simhash(df).collect()}

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(sigs[1], sigs[2]) < hamming(sigs[1], sigs[3])


def test_embedding_dup_pairs(spark):
    vecs = [
        (1, [1.0] * 8),
        (2, [1.0] * 7 + [0.99]),  # near-identical to 1
        (3, [-1.0] * 8),
        (4, [1.0, -1.0] * 4),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    pairs = {(r["id_a"], r["id_b"]) for r in
             similarity.embedding_dup_pairs(df, threshold=0.99, dim=8, n_planes=6).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def test_brute_force_topk_correctness(spark):
    import math

    vecs = [(i, [float(i == j) + 0.1 * j for j in range(4)]) for i in range(6)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    probes = similarity.make_probes(df, n=2)
    got = similarity.brute_force_topk(df, probes, k=3).collect()

    # python reference
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    by_probe = {}
    for r in got:
        by_probe.setdefault(r["probe_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
    vd = dict(vecs)
    for pid, rows in by_probe.items():
        expected = sorted(
            ((cos(vd[pid], vd[i]), i) for i in vd if i != pid),
            key=lambda t: (-t[0], t[1]),
        )[:3]
        rows.sort()
        assert [n for _, n, _ in rows] == [i for _, i in expected]
        for (_, _, got_cos), (exp_cos, _) in zip(rows, expected):
            assert got_cos == pytest.approx(exp_cos, abs=1e-5)


def test_brute_force_blas_path_bit_identical(spark, monkeypatch):
    """r14: brute_force_topk's collected-probe mapInPandas path (one
    Arrow pass, per-dimension double fold) must be ROW-IDENTICAL to the
    crossJoin spelling — same cosines to the last bit (same fold order),
    same rounded values, same tie-breaks.  Also pins the dispatch: the
    BLAS path runs within the probe bound, the crossJoin spelling past
    it."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = similarity.make_probes(e, n=40)
    blas = sorted(map(tuple, similarity.brute_force_topk(e, probes, k=4).collect()))
    monkeypatch.setattr(similarity, "_BRUTE_BLAS_MAX_PROBES", 0)
    cross = sorted(map(tuple, similarity.brute_force_topk(e, probes, k=4).collect()))
    assert blas == cross and len(blas) == 40 * 4


def test_ivf_full_probe_equals_brute_force(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = similarity.make_probes(e, n=5)
    brute = similarity.brute_force_topk(e, probes, k=3)
    ivf = similarity.ivf_topk(e, probes, k=3, n_centroids=4, nprobe=4)
    b = {(r["probe_id"], r["rank"]): r["neighbor_id"] for r in brute.collect()}
    v = {(r["probe_id"], r["rank"]): r["neighbor_id"] for r in ivf.collect()}
    assert b == v


def test_ivf_kmeans_recall_beats_placeholder(spark):
    """Planted well-separated clusters with the WORST case for the first-n
    placeholder: the first n_centroids ids all live in cluster 0, so every
    IVF cell is a mixture and nprobe=2 routing loses neighbors.  Sampled
    k-means must adapt the centroids to the data and recover recall."""
    import numpy as np

    rng = np.random.default_rng(42)
    dim, n_clusters, per_cluster = 16, 4, 60
    centers = np.zeros((n_clusters, dim))
    for c in range(n_clusters):
        centers[c, 4 * c : 4 * c + 4] = 1.0  # orthogonal cluster directions
    rows = []
    vid = 0
    # ids 0..per_cluster-1 are ALL cluster 0 (placeholder picks these),
    # then the remaining clusters follow in id order
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[c] + rng.normal(0.0, 0.08, dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    probes = similarity.make_probes(df.filter(F.col("vec_id") % 55 == 3), n=6)
    brute = {(r["probe_id"], r["neighbor_id"]) for r in
             similarity.brute_force_topk(df, probes, k=5).collect()}

    def recall(cents):
        approx = {(r["probe_id"], r["neighbor_id"]) for r in
                  similarity.ivf_topk(df, probes, k=5, n_centroids=4, nprobe=2,
                                      centroids=cents).collect()}
        return len(brute & approx) / len(brute)

    kmeans = similarity.kmeans_centroids(df, n_centroids=4, iters=3, sample_fraction=1.0)
    r_kmeans = recall(kmeans)
    r_placeholder = recall(None)
    assert r_kmeans >= r_placeholder, (r_kmeans, r_placeholder)
    assert r_kmeans >= 0.6, f"kmeans IVF recall too low: {r_kmeans}"


def test_ivf_approx_recall_reasonable(spark):
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = similarity.make_probes(e, n=5)
    brute = {(r["probe_id"], r["neighbor_id"]) for r in
             similarity.brute_force_topk(e, probes, k=3).collect()}
    approx = {(r["probe_id"], r["neighbor_id"]) for r in
              similarity.ivf_topk(e, probes, k=3, n_centroids=4, nprobe=2).collect()}
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.4, f"IVF nprobe=2/4 recall too low: {recall}"


def test_nprobe_recall_curve_monotone_and_exact_at_full_routing(spark):
    """The calibration curve's two invariants: recall and scanned volume
    are non-decreasing in nprobe (each grid value's candidate set is a
    superset of the previous one's), and at nprobe == n_centroids every
    cell is routed, so the candidate set IS the corpus and recall must
    read exactly 1.0 (same rounded-cosine/neighbor-id ordering as
    brute_force_topk)."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = similarity.make_probes(e, n=5)
    rows = (
        similarity.nprobe_recall_curve(
            e, probes, k=3, nprobe_grid=(1, 2, 4), n_centroids=4
        )
        .orderBy("nprobe")
        .collect()
    )
    assert [r["nprobe"] for r in rows] == [1, 2, 4]
    recalls = [r["recall_at_k"] for r in rows]
    scanned = [r["avg_scanned"] for r in rows]
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    assert scanned == sorted(scanned), f"scan cost not monotone: {scanned}"
    assert recalls[-1] == 1.0, f"full routing must equal brute force: {recalls}"
    n = e.count()
    # full routing scans every non-self vector exactly once per probe
    assert scanned[-1] == float(n - 1)


def test_calibrate_nprobe_picks_cheapest_meeting_target(spark):
    """calibrate_nprobe returns the SMALLEST grid nprobe whose measured
    recall clears the target (the full-routing point always exists at
    nprobe == n_centroids), and falls back to the largest grid value —
    with the curve as evidence — when the target is unreachable."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = similarity.make_probes(e, n=5)
    got, curve = similarity.calibrate_nprobe(
        e, probes, target_recall=1.0, k=3, nprobe_grid=(1, 2, 4), n_centroids=4
    )
    by_np = {c["nprobe"]: c["recall_at_k"] for c in curve}
    assert by_np[4] == 1.0
    assert got == min(np for np, r in by_np.items() if r >= 1.0)
    # unreachable target: largest grid value, curve still returned
    got2, curve2 = similarity.calibrate_nprobe(
        e, probes, target_recall=1.1, k=3, nprobe_grid=(1, 2), n_centroids=4
    )
    assert got2 == 2 and len(curve2) == 2


# ---------------------------------------------------------------------------
# text
# ---------------------------------------------------------------------------


def test_text_metrics_values(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat."), (2, ""), (3, "x")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in text.text_metrics(df).collect()}
    r1 = rows[1]
    assert r1["n_tokens"] == 6
    assert r1["stopword_ratio"] == pytest.approx(3 / 6, abs=1e-6)  # the, on, the
    assert r1["punct_ratio"] == pytest.approx(1 / 23, abs=1e-4)
    assert r1["lang_pred"] == "en"
    assert rows[2]["n_tokens"] == 0 and rows[2]["lang_pred"] == "unknown"
    assert rows[3]["n_tokens"] == 1


def test_ws_tokens_whitespace_only_counts_zero(spark):
    """Tab/newline-only docs must count 0 tokens, not Java split's 1 (or
    another engine's 2) — the regex guard in ws_tokens (ADVICE round 4)."""
    df = spark.createDataFrame(
        [(1, "\t\n"), (2, "   "), (3, ""), (4, " a\tb ")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r["n_tokens"] for r in text.text_metrics(df).collect()}
    assert rows[1] == 0 and rows[2] == 0 and rows[3] == 0 and rows[4] == 2


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame([(1, "a b"), (2, "b a")], ["doc_id", "text"])
    rows = {r["doc_id"]: r["fingerprint"] for r in text.text_metrics(df).collect()}
    assert rows[1] != rows[2]


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def test_multimodal_plumbing(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    media = documents_as_media(d)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert r["kind"] == "image"
        assert r["n_bytes"] > 0
        assert len(r["features"]) == 8
        assert r["features"][0] == float(r["n_bytes"])


def test_multimodal_unknown_kind_raises(spark):
    df = spark.createDataFrame(
        [(1, "hologram", bytearray(b"xx"), {})],
        "media_id long, kind string, content binary, meta map<string,string>",
    )
    with pytest.raises(Exception, match="no decoder"):
        extract_features(df).collect()


def test_multimodal_resize(spark):
    from csv_etl_spark.operators.multimodal import documents_as_media, resize_media

    d = spark.read.parquet(f"{SF}/documents.parquet").limit(10)
    out = resize_media(documents_as_media(d), width=8, height=4)
    rows = out.collect()
    assert len(rows) == 10
    for r in rows:
        assert (r["width"], r["height"]) == (8, 4)
        assert len(r["content"]) == 32  # stub clips/repeats to w*h


def test_multimodal_frame_sampling_fan_out(spark):
    from pyspark.sql import functions as F

    from csv_etl_spark.operators.multimodal import documents_as_media, sample_frames

    d = spark.read.parquet(f"{SF}/documents.parquet").limit(10)
    media = documents_as_media(d).withColumn("kind", F.lit("video"))
    frames = sample_frames(media, n_frames=4)
    rows = frames.collect()
    assert len(rows) == 40  # 1 -> n fan-out
    per_media = {}
    for r in rows:
        per_media.setdefault(r["media_id"], []).append(r["frame_idx"])
        assert len(r["frame"]) > 0
    assert all(sorted(v) == [0, 1, 2, 3] for v in per_media.values())


def test_multimodal_resize_rejects_non_image(spark):
    import pytest
    from pyspark.sql import functions as F

    from csv_etl_spark.operators.multimodal import documents_as_media, resize_media

    d = spark.read.parquet(f"{SF}/documents.parquet").limit(1)
    media = documents_as_media(d).withColumn("kind", F.lit("audio"))
    with pytest.raises(Exception, match="resize not defined"):
        resize_media(media, 4, 4).collect()


def test_jaccard_freq_cap_drops_hot_shingles(spark):
    """freq_cap: a shingle shared by everyone is dropped from candidate
    generation AND size accounting; docs that only share the hot shingle
    produce no pair."""
    common = "the quick brown fox"
    rows = [
        (1, common + " alpha beta gamma delta"),
        (2, common + " alpha beta gamma delta"),   # true near-dup of 1
        (3, common + " wholly different words here"),
        (4, common + " unrelated again entirely now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # without cap: every doc pairs with every other via the common prefix
    uncapped = dedup.ngram_jaccard_pairs(df, threshold=0.05, n=3)
    assert uncapped.count() == 6
    # cap=2: shingles present in >2 docs (the common prefix) are dropped,
    # docs 3/4 share nothing rare -> only the true dup pair remains
    capped = dedup.ngram_jaccard_pairs(df, threshold=0.05, n=3, freq_cap=2)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == 1.0  # capped universe: their remaining shingles identical


def test_jaccard_exact_guard_refuses_large_corpus(spark):
    """freq_cap=None is the only measured super-linear path — above
    max_exact_docs it must refuse up front instead of launching the
    quadratic posting self-join; capped and waived paths still run."""
    import pytest

    df = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("words for doc "), F.col("id").cast("string")).alias("text"),
    )
    with pytest.raises(ValueError, match="max_exact_docs"):
        dedup.ngram_jaccard_pairs(df, freq_cap=None, max_exact_docs=10)
    # waived guard and capped default both still plan lazily and run
    assert dedup.ngram_jaccard_pairs(
        df, freq_cap=None, max_exact_docs=None
    ).count() >= 0
    assert dedup.ngram_jaccard_pairs(df, max_exact_docs=10).count() >= 0


def test_approx_distinct_within_tolerance(spark):
    """HLL++ sketch vs exact: ≤2% relative error at rsd=0.01."""
    import __spark_entry__ as E

    exact = {r["event_type"]: r["n_users"]
             for r in E.q_distinct_users(spark, SF).collect()}
    approx = {r["event_type"]: r["n_users_approx"]
              for r in E.q_distinct_users_approx(spark, SF).collect()}
    assert set(exact) == set(approx)
    for k, n in exact.items():
        assert abs(approx[k] - n) / max(n, 1) <= 0.02, (k, n, approx[k])


def test_registry_tier_tags_complete():
    """tiers() (r11 verdict ask #3): every registry entry carries a
    machine-readable tier tag, the tag table covers the registry exactly
    (same set-equality discipline as the _R14_ORDER assert), and the
    documented verification-only spellings can no longer be mistaken for
    recommended paths programmatically."""
    import __spark_entry__ as E

    t = E.tiers()
    assert set(t) == set(E._R14_ORDER)
    valid = {E.TIER_SCALE, E.TIER_SCALE_BOUNDED, E.TIER_TWIN, E.TIER_ROWS_ONLY}
    assert set(t.values()) <= valid
    # every override key must be a real registry entry (a typo'd key
    # would silently tag nothing)
    assert set(E._NON_SCALE_TIERS) <= set(t)
    assert set(E._TIER_BOUNDS) <= set(t)
    # the spellings r10/r11 verdicts called out
    assert t["dedup_jaccard_pairs"] == E.TIER_TWIN
    assert t["leakage_safe_split"] == E.TIER_TWIN
    assert t["knn_graph_sharded"] == E.TIER_TWIN
    assert t["distinct_users_approx"] == E.TIER_ROWS_ONLY
    # their scale siblings stay recommended
    assert t["dedup_jaccard_capped"] == E.TIER_SCALE
    assert t["leakage_safe_split_lsh"] == E.TIER_SCALE
    # r12 verdict ask #3: knn_graph's N^1.5 validity bound is machine-
    # readable — tagged bounded, with the successor + size in tier_bounds()
    assert t["knn_graph"] == E.TIER_SCALE_BOUNDED
    bounds = E.tier_bounds()
    assert set(bounds) == {k for k, v in t.items() if v == E.TIER_SCALE_BOUNDED}
    kb = bounds["knn_graph"]
    assert kb["recommended_max_n"] == 16_000_000
    assert kb["successor"] == "knn_join_sharded"
    assert kb["successor_query"] in t  # the named successor query exists
    # the successor operator must actually exist
    assert hasattr(similarity, kb["successor"])


def test_resolve_duplicate_clusters(spark):
    """Chain 1-2-3, pair 10-11, singleton edge 20-21: min-label CC."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], ["id_a", "id_b"]
    )
    out = {r["id"]: r["cluster_id"]
           for r in dedup.resolve_duplicate_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_resolve_clusters_long_chain(spark):
    """A 12-hop chain needs multiple propagation rounds to converge."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], ["id_a", "id_b"]
    )
    out = {r["id"]: r["cluster_id"]
           for r in dedup.resolve_duplicate_clusters(pairs).collect()}
    assert set(out.values()) == {100}
    assert len(out) == 13


def _random_pair_graph(seed: int, as_str: bool) -> tuple[list, list]:
    """(pairs, chain): seeded random sparse pairs (components of mixed
    size and shape), a self-pair, two NULL-endpoint pairs and a 30-hop
    chain — as bigint or string ids (string ids are unpadded digits, so
    their min is not the numeric min: "10" < "9")."""
    import random

    rng = random.Random(seed)
    ids = rng.sample(range(1, 10**12), 60)
    pairs = [tuple(rng.sample(ids, 2)) for _ in range(45)]
    pairs += [(ids[0], ids[0])]  # self-pair
    pairs += [(None, ids[1]), (ids[2], None)]
    chain = [10**13 + 7 * i for i in range(31)]
    pairs += list(zip(chain, chain[1:]))
    if as_str:
        pairs = [tuple(None if x is None else str(x) for x in p) for p in pairs]
        chain = [str(x) for x in chain]
    return pairs, chain


def _is_local_scan(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.lstrip().startswith("LocalTableScan")


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_resolve_clusters_driver_tier_matches_distributed(spark, monkeypatch, id_type):
    """The driver union-find tier and the distributed label-propagation
    tier return the same rows and dtypes — NULL endpoints, self-pairs and
    a 30-hop chain included.  The bound is patched to 0 to force the
    distributed tier."""
    from csv_etl_spark import local

    def key(row):
        return tuple((v is None, v) for v in row)

    for seed in (1, 2):
        rows, chain = _random_pair_graph(seed, id_type == "string")
        pairs = spark.createDataFrame(rows, f"id_a {id_type}, id_b {id_type}")
        driver = dedup.resolve_duplicate_clusters(pairs, max_iterations=40)
        assert _is_local_scan(driver)  # inline VALUES: the driver tier ran
        with monkeypatch.context() as m:
            m.setattr(local, "_MAX_INLINE_ROWS", 0)
            dist = dedup.resolve_duplicate_clusters(pairs, max_iterations=40)
            assert not _is_local_scan(dist)
            dist_rows = sorted(map(tuple, dist.collect()), key=key)
        assert driver.dtypes == dist.dtypes == [
            ("id", id_type), ("cluster_id", id_type)
        ]
        driver_rows = sorted(map(tuple, driver.collect()), key=key)
        assert driver_rows == dist_rows
        got = dict(driver_rows)
        assert got[None] is None  # a NULL endpoint links nothing
        assert {got[x] for x in chain} == {min(chain)}


def test_resolve_clusters_iteration_cap_warns_distributed_only(spark, monkeypatch):
    """Too small a ``max_iterations`` splits a long chain on the
    distributed tier and says so with a RuntimeWarning; the driver tier
    is exact at any diameter."""
    import warnings

    from csv_etl_spark import local

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a bigint, id_b bigint"
    )
    with monkeypatch.context() as m:
        m.setattr(local, "_MAX_INLINE_ROWS", 0)
        with pytest.warns(RuntimeWarning, match="did not converge"):
            dist = dedup.resolve_duplicate_clusters(pairs, max_iterations=2)
        assert len({r["cluster_id"] for r in dist.collect()}) > 1
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        driver = dedup.resolve_duplicate_clusters(pairs, max_iterations=2)
    assert {r["cluster_id"] for r in driver.collect()} == {0}
    assert driver.count() == 31


def test_corpus_curation_composition(spark):
    """The corpus_curation contract query's semantics on a controlled
    corpus: score -> gate -> normalized-text dedup (keep min id) ->
    deterministic split.  Also asserts the split is layout-independent
    (same membership after repartition) — the property that makes a
    holdout set trustworthy at 100 TB."""
    import __spark_entry__ as E

    out = E.q_corpus_curation(spark, SF)
    rows = {r["doc_id"]: r.asDict() for r in out.collect()}

    # every kept doc passes the gate
    for r in rows.values():
        assert r["lang_pred"] == "en"
        assert r["quality"] >= 0.25
        assert r["n_tokens"] >= 10
        assert r["split"] in ("train", "holdout")

    # planted mutants (doc_id >= 1e9) never survive dedup: their original
    # (same normalized text, lower doc_id) wins keep-min whenever both
    # pass the gate — and the original always gates at least as high
    # quality, so no plant can be a keeper
    assert all(doc_id < 1_000_000_000 for doc_id in rows)

    # both split sides populated at this corpus size, ~10% holdout
    n_hold = sum(1 for r in rows.values() if r["split"] == "holdout")
    assert 0 < n_hold < len(rows) / 2

    # split membership is a pure function of doc_id — identical after a
    # repartition (Spark's .sample() would NOT survive this)
    out2 = {
        r["doc_id"]: r["split"]
        for r in E.q_corpus_curation(spark, SF).repartition(7).collect()
    }
    assert out2 == {k: v["split"] for k, v in rows.items()}


# ---------------------------------------------------------------------------
# cleaning: PII scrub + decontamination
# ---------------------------------------------------------------------------


def test_filter_lines_c4_rules(spark):
    """C4-style line filter: short lines, no-terminal-punct lines, and
    banned-substring lines drop; qualifying lines survive with order and
    joining preserved; per-doc line accounting is exact."""
    from csv_etl_spark.operators import cleaning

    doc1 = "\n".join(
        [
            "This opening sentence has plenty of words.",  # kept
            "too short.",  # < 3 words
            "this line mentions javascript so it is banned.",  # banned substring
            "this line has no terminal punctuation at all",  # no .!?"' ending
            'He said "fine" and walked away saying "done"',  # ends in " -> kept
            "   ",  # blank after trim
            "A closing sentence that also qualifies!",  # kept
        ]
    )
    df = spark.createDataFrame(
        [(1, doc1), (2, "single good line stays right here."), (3, "")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in cleaning.filter_lines(df).collect()}

    assert out[1]["text"] == "\n".join(
        [
            "This opening sentence has plenty of words.",
            'He said "fine" and walked away saying "done"',
            "A closing sentence that also qualifies!",
        ]
    )
    assert (out[1]["n_lines"], out[1]["n_lines_kept"]) == (7, 3)
    assert out[2]["text"] == "single good line stays right here."
    assert (out[2]["n_lines"], out[2]["n_lines_kept"]) == (1, 1)
    assert out[3]["text"] == ""
    assert (out[3]["n_lines"], out[3]["n_lines_kept"]) == (1, 0)

    # knobs: relax punctuation, tighten word count, custom ban list
    relaxed = {
        r["doc_id"]: r
        for r in cleaning.filter_lines(
            df, min_words=5, require_terminal_punct=False, banned_substrings=["closing"]
        ).collect()
    }
    assert relaxed[1]["text"] == "\n".join(
        [
            "This opening sentence has plenty of words.",
            "this line mentions javascript so it is banned.",
            "this line has no terminal punctuation at all",
            'He said "fine" and walked away saying "done"',
        ]
    )
    assert relaxed[1]["n_lines_kept"] == 4


def test_scrub_pii(spark):
    from csv_etl_spark.operators import cleaning

    df = spark.createDataFrame(
        [
            (1, "mail bob@x.com and 10.0.0.1 then 123-45-6789 or +1 555-123-4567 ok"),
            (2, "clean text with no pii at all"),
            (3, "double a@b.co c@d.org"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in cleaning.scrub_pii(df).collect()}
    assert out[1]["scrubbed"] == "mail <EMAIL> and <IP> then <SSN> or <PHONE> ok"
    assert out[1]["n_redactions"] == 4
    assert out[2]["scrubbed"] == "clean text with no pii at all"
    assert out[2]["n_redactions"] == 0
    assert out[3]["scrubbed"] == "double <EMAIL> <EMAIL>"
    assert out[3]["n_redactions"] == 2


def test_decontaminate_drops_leaked_docs(spark):
    from csv_etl_spark.operators import cleaning

    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [
            (1, "prefix words " + bench_text + " suffix words"),  # contains the 8-gram
            (2, "totally unrelated text that goes on for quite a while longer"),
            (3, bench_text),  # verbatim
            (4, "alpha beta gamma delta only four shared tokens here padding padding"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, bench_text)], ["doc_id", "text"])

    kept = {r["doc_id"] for r in cleaning.decontaminate(corpus, bench, n=8).collect()}
    assert kept == {2, 4}  # 1 and 3 leak the full 8-gram; 4 shares only 4-grams

    flagged = {
        r["doc_id"]
        for r in cleaning.decontaminate(corpus, bench, n=8, keep=False).collect()
    }
    assert flagged == {1, 3}


def test_decontaminate_bloom_matches_exact(spark):
    """bloom=True at a tight fpp removes exactly the docs the exact path
    removes (no false positives at this scale), with NO join on the probe
    side — the corpus-side check is a pure map expression."""
    from csv_etl_spark.operators import cleaning

    bench_text = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [
            (1, "prefix words " + bench_text + " suffix words"),
            (2, "totally unrelated text that goes on for quite a while longer"),
            (3, bench_text),
            (4, "alpha beta gamma delta only four shared tokens here padding padding"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, bench_text)], ["doc_id", "text"])

    exact = {r["doc_id"] for r in cleaning.decontaminate(corpus, bench, n=8).collect()}
    flt = cleaning.decontaminate(corpus, bench, n=8, bloom=True, bloom_fpp=1e-6)
    assert {r["doc_id"] for r in flt.collect()} == exact == {2, 4}

    # probe side is join-free: the ONLY join operator in the whole plan is
    # the final keep/flag anti-join (the exact path has two), and the
    # bloom probe shows up as inlined xxhash64 expressions
    import re

    plan = flt._jdf.queryExecution().executedPlan().toString()
    final_plan = plan.split("== Initial Plan ==")[0]  # AQE prints both
    joins = re.findall(
        r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin|BroadcastNestedLoopJoin",
        final_plan,
    )
    assert len(joins) == 1, joins
    assert "xxhash64" in plan


def test_decontaminate_bloom_overremoves_only(spark):
    """A sloppy fpp can only OVER-remove (false positives), never
    under-remove: kept(bloom) ⊆ kept(exact) at any fpp."""
    from csv_etl_spark.operators import cleaning

    corpus = spark.createDataFrame(
        [(i, " ".join(f"tok{i}_{j}" for j in range(12))) for i in range(30)],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(0, " ".join(f"tok7_{j}" for j in range(12)))], ["doc_id", "text"]
    )
    exact = {r["doc_id"] for r in cleaning.decontaminate(corpus, bench, n=8).collect()}
    loose = {
        r["doc_id"]
        for r in cleaning.decontaminate(
            corpus, bench, n=8, bloom=True, bloom_fpp=0.5
        ).collect()
    }
    assert 7 not in exact and 7 not in loose
    assert loose <= exact


def test_bloom_parameters_knob(spark):
    from csv_etl_spark.operators.cleaning import _bloom_parameters

    m1, k1 = _bloom_parameters(1000, 0.01)
    m2, k2 = _bloom_parameters(1000, 1e-6)
    assert m1 % 64 == 0 and m2 % 64 == 0
    assert m2 > m1 and k2 > k1  # tighter fpp ⇒ bigger bitmap, more hashes
    assert 7 <= k1 <= 8  # ≈ ln(2)·m/n for p=0.01 is ~6.6–7
    with pytest.raises(ValueError):
        _bloom_parameters(1000, 1.5)


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark probe must be a broadcast join (no corpus-sized
    shuffle) — asserted on the physical plan."""
    from csv_etl_spark.operators import cleaning

    corpus = spark.createDataFrame(
        [(i, f"w{i} " * 12) for i in range(20)], ["doc_id", "text"]
    )
    bench = spark.createDataFrame([(0, "w0 " * 12)], ["doc_id", "text"])
    plan = cleaning.decontaminate(corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


# ---------------------------------------------------------------------------
# real media codecs (stdlib BMP/PPM/WAV) plugged into the multimodal seams
# ---------------------------------------------------------------------------


def _checker(h, w):
    import numpy as np

    img = np.zeros((h, w, 3), dtype=np.uint8)
    img[::2, ::2] = [255, 0, 0]
    img[1::2, 1::2] = [0, 128, 255]
    return img


def test_bmp_roundtrip_and_ppm_roundtrip():
    import numpy as np

    from csv_etl_spark.operators import media_codecs as mc

    img = _checker(5, 7)  # odd width exercises BMP row padding
    assert np.array_equal(mc.decode_bmp(mc.encode_bmp(img)), img)
    assert np.array_equal(mc.decode_ppm(mc.encode_ppm(img)), img)


def test_wav_roundtrip_features():
    import numpy as np

    from csv_etl_spark.operators import media_codecs as mc

    t = np.arange(16000, dtype=np.float32) / 16000.0
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)
    wav = mc.encode_wav(sine, rate=16000)
    x, rate = mc.decode_wav(wav)
    assert rate == 16000 and x.shape == (16000, 1)
    feats = mc.real_decoder("audio", wav)
    n, nch, r, dur, rms, peak, zcr, dc = feats
    assert (n, nch, r) == (16000.0, 1.0, 16000.0)
    assert abs(dur - 1.0) < 1e-6
    assert abs(rms - 0.5 / 2**0.5) < 1e-3  # sine RMS = A/sqrt(2)
    assert abs(peak - 0.5) < 1e-3
    assert abs(dc) < 1e-3


def test_real_decoder_image_features():
    import numpy as np

    from csv_etl_spark.operators import media_codecs as mc

    img = np.full((4, 8, 3), 100, dtype=np.uint8)
    img[:, :, 0] = 200  # R plane brighter
    feats = mc.real_decoder("image", mc.encode_bmp(img))
    w, h, c, mr, mg, mb, gstd, aspect = feats
    assert (w, h, c) == (8.0, 4.0, 3.0)
    assert (mr, mg, mb) == (200.0, 100.0, 100.0)
    assert aspect == 2.0
    with pytest.raises(NotImplementedError, match="codec library"):
        mc.real_decoder("image", b"\x89PNG....")


def test_real_resizer_nearest_neighbor():
    import numpy as np

    from csv_etl_spark.operators import media_codecs as mc

    img = _checker(4, 4)
    out = mc.decode_bmp(mc.real_resizer("image", mc.encode_bmp(img), 8, 8))
    assert out.shape == (8, 8, 3)
    # nearest-neighbor: each source pixel becomes a 2x2 block
    assert np.array_equal(out[0, 0], img[0, 0]) and np.array_equal(out[1, 1], img[0, 0])
    ppm_out = mc.decode_ppm(mc.real_resizer("image", mc.encode_ppm(img), 2, 2))
    assert ppm_out.shape == (2, 2, 3)  # format preserved on re-encode


def test_real_kernels_through_spark_plumbing(spark):
    """End-to-end: binary BMP/WAV payloads through extract_features and
    resize_media with the REAL kernels — the full multimodal path with no
    stub anywhere."""
    import numpy as np

    from csv_etl_spark.operators import media_codecs as mc
    from csv_etl_spark.operators.multimodal import extract_features, resize_media

    bmp = mc.encode_bmp(_checker(6, 6))
    wav = mc.encode_wav(np.zeros(100, dtype=np.float32) + 0.25, rate=8000)
    df = spark.createDataFrame(
        [(1, "image", bytearray(bmp), {}), (2, "audio", bytearray(wav), {})],
        "media_id long, kind string, content binary, meta map<string,string>",
    )
    feats = {r["media_id"]: r["features"] for r in
             extract_features(df, decoder=mc.real_decoder).collect()}
    assert feats[1][0] == 6.0 and feats[1][2] == 3.0      # image w, channels
    assert feats[2][2] == 8000.0                           # audio rate
    assert abs(feats[2][4] - 0.25) < 1e-3                  # DC signal RMS

    resized = resize_media(
        df.filter("kind = 'image'"), 3, 3, resizer=mc.real_resizer
    ).collect()[0]
    assert (resized["width"], resized["height"]) == (3, 3)
    assert mc.decode_bmp(bytes(resized["content"])).shape == (3, 3, 3)


def test_repetition_metrics(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),          # heavy 2-gram repetition
            (2, "one two three four"),   # all distinct
            (3, ""),                     # empty -> 0.0
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.repetition_metrics(df).collect()}
    # "a b a b a b": 5 bigrams (a b, b a, a b, b a, a b), 2 distinct -> 3/5
    assert out[1]["dup_2gram_frac"] == 0.6
    assert out[2]["dup_2gram_frac"] == 0.0 and out[2]["dup_3gram_frac"] == 0.0
    assert out[3]["n_tokens"] == 0 and out[3]["dup_2gram_frac"] == 0.0


# ---------------------------------------------------------------------------
# sequence packing: distributed prefix sum + concat-and-chunk
# ---------------------------------------------------------------------------


def test_global_cumsum_matches_serial(spark):
    """The distributed prefix sum (range shuffle + mapInPandas local cumsum
    + broadcast partition offsets) must equal the serial exclusive cumsum,
    regardless of input layout."""
    import random

    from csv_etl_spark.operators.packing import with_global_cumsum

    rng = random.Random(7)
    rows = [(i, rng.randrange(0, 50)) for i in range(500)]
    rng.shuffle(rows)  # scrambled insertion order: result must not care

    expected, run = {}, 0
    for i, v in sorted(rows):
        expected[i] = run
        run += v

    for n_parts in (1, 7):
        df = spark.createDataFrame(rows, ["k", "v"]).repartition(n_parts)
        got = {
            r["k"]: r["cum_before"]
            for r in with_global_cumsum(df, "v", "k").collect()
        }
        assert got == expected, f"mismatch at n_parts={n_parts}"


def test_pack_sequences_concat_and_chunk(spark):
    """Concat-and-chunk semantics vs a brute-force token-stream model:
    seq_id/seq_offset locate each doc's first token; n_seqs counts straddled
    budget boundaries; empty docs occupy zero sequences."""
    from csv_etl_spark.operators.packing import pack_sequences

    docs = [
        (1, "one two three"),                    # 3 tokens, start 0
        (2, " ".join(["w"] * 10)),               # 10 tokens, start 3 -> straddles
        (3, ""),                                 # empty
        (4, "a b c d e"),                        # 5 tokens, start 13
        (5, " ".join(["x"] * 9)),                # 9 tokens, start 18 -> exactly to 27
    ]
    budget = 8
    out = {
        r["doc_id"]: r
        for r in pack_sequences(
            spark.createDataFrame(docs, ["doc_id", "text"]).repartition(3),
            budget=budget,
        ).collect()
    }

    # brute-force model over the concatenated token stream
    start = 0
    for doc_id, text in docs:
        n = len(text.split()) if text.strip() else 0
        r = out[doc_id]
        assert r["n_tokens"] == n
        assert r["seq_id"] == start // budget
        assert r["seq_offset"] == start % budget
        expect_spans = 0 if n == 0 else (start + n - 1) // budget - start // budget + 1
        assert r["n_seqs"] == expect_spans, doc_id
        start += n

    assert out[2]["n_seqs"] == 2      # 10 tokens from offset 3 crosses one boundary
    assert out[3]["n_seqs"] == 0      # empty doc
    assert out[5]["seq_offset"] == 2  # 18 % 8


def test_pack_sequences_plan_has_no_unpartitioned_window(spark):
    """The packing plan must not contain any window at all — the prefix sum
    is the mapInPandas + broadcast-offsets shape, not Window.orderBy()."""
    from csv_etl_spark.operators.packing import pack_sequences

    df = spark.createDataFrame([(i, "a b c") for i in range(20)], ["doc_id", "text"])
    plan = pack_sequences(df)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "mapInPandas" in plan or "MapInPandas" in plan


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: cluster, then within-cluster ε-graph)
# ---------------------------------------------------------------------------


def test_semantic_dedup_drops_planted_neighbors(spark):
    """Planted scaled copies (cosine 1.0 with their original) must be
    dropped; originals and unrelated vectors kept; every input row appears
    exactly once with its cluster id."""
    from csv_etl_spark.operators.similarity import semantic_dedup

    import math
    import random

    rng = random.Random(11)
    base = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    planted = [(i + 1000, [1.5 * x for x in vec]) for i, vec in base if i % 10 == 0]
    df = spark.createDataFrame(base + planted, ["vec_id", "embedding"])

    out = {r["vec_id"]: r for r in semantic_dedup(
        df, n_centroids=4, threshold=0.99, kmeans_iters=1, sample_fraction=None
    ).collect()}

    assert len(out) == len(base) + len(planted)
    for i, _ in base:
        assert out[i]["kept"], f"original {i} must survive"
    for i, vec in base:
        if i % 10 == 0:
            pid = i + 1000
            # copy shares the original's cluster (same direction) and dies
            assert out[pid]["cluster"] == out[i]["cluster"]
            assert not out[pid]["kept"], f"planted copy {pid} must be dropped"


def test_kmeans_codebook_table_and_semantic_dispatch(spark, monkeypatch):
    """r14/r15: codebooks past _KMEANS_LITERAL_MAX are fitted as a TABLE
    (global distributed Lloyd, sharded table assignment — r15 rewrite) —
    the literal-tree Lloyd step is Catalyst-analysis-bound there.  Pins:
    the table fitter returns ~k cells with the codebook schema and is
    deterministic; semantic_dedup's planted-copy guarantees hold through
    the table-fit dispatch (forced via a lowered bound)."""
    from csv_etl_spark.operators import similarity

    import random

    rng = random.Random(7)
    base = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    planted = [(i + 1000, [2.0 * x for x in vec]) for i, vec in base if i % 12 == 0]
    df = spark.createDataFrame(base + planted, ["vec_id", "embedding"])

    cb = similarity.kmeans_codebook_table(df, n_centroids=12, kmeans_iters=2)
    rows = cb.collect()
    assert len(rows) == 12  # exactly n: first-n init, empty cells kept
    assert len({r["centroid_id"] for r in rows}) == len(rows)
    # deterministic: same fit twice
    assert sorted(map(tuple, rows)) == sorted(map(tuple, cb.collect()))

    monkeypatch.setattr(similarity, "_KMEANS_LITERAL_MAX", 4)
    out = {r["vec_id"]: r for r in similarity.semantic_dedup(
        df, n_centroids=12, threshold=0.99, kmeans_iters=1, sample_fraction=None
    ).collect()}
    assert len(out) == len(base) + len(planted)
    for i, _ in base:
        assert out[i]["kept"], f"original {i} must survive"
    for i, _ in base:
        if i % 12 == 0:
            pid = i + 1000
            assert out[pid]["cluster"] == out[i]["cluster"]
            assert not out[pid]["kept"], f"planted copy {pid} must be dropped"


def test_assign_sharded_above_literal_cap_real_codebook(spark):
    """r15 (r14 ADVICE medium): assignment PAST the 4096-cell cap must
    actually run — a REAL 5000-cell codebook through the sharded
    torrent-broadcast router, no monkeypatched bounds.  Pins: planted
    probes (exact copies of sampled centroids) land on their own cell
    under BOTH the hierarchical default and the exact flat spelling
    (m_super=None); the literal-path assign still refuses the same
    codebook (the cap is real, not bypassed)."""
    import random

    import pytest

    from csv_etl_spark.operators import similarity

    rng = random.Random(15)
    dim = 16
    cents = [
        (cid, [rng.uniform(-1, 1) for _ in range(dim)]) for cid in range(5000)
    ]
    cb = spark.createDataFrame(cents, "centroid_id int, centroid_vec array<double>")
    # probes: scaled copies of every 250th centroid — cosine 1.0 with
    # their own cell, ≪1 with any other random direction at dim=16
    probes = [
        (cid, [1.5 * x for x in vec]) for cid, vec in cents if cid % 250 == 0
    ]
    pdf = spark.createDataFrame(probes, "vec_id int, embedding array<double>")

    hier = {
        r["vec_id"]: r["cluster"]
        for r in similarity.assign_to_centroids_sharded(pdf, cb).collect()
    }
    flat = {
        r["vec_id"]: r["cluster"]
        for r in similarity.assign_to_centroids_sharded(
            pdf, cb, m_super=None
        ).collect()
    }
    assert hier == {cid: cid for cid, _ in probes}
    assert flat == hier

    with pytest.raises(ValueError, match="4096"):
        similarity.assign_to_centroids(pdf, cb).collect()


def test_semantic_dedup_explicit_codebook_above_cap(spark):
    """r15: semantic_dedup with an EXPLICIT >4096-cell codebook routes
    assignment through the sharded tier (previously crashed in
    _codebook_arrays) and keeps the planted-copy drop guarantees."""
    import random

    from csv_etl_spark.operators.similarity import semantic_dedup

    rng = random.Random(23)
    dim = 16
    cents = [
        (cid, [rng.uniform(-1, 1) for _ in range(dim)]) for cid in range(4200)
    ]
    cb = spark.createDataFrame(cents, "centroid_id int, centroid_vec array<double>")
    base = [(i, [2.0 * x for x in cents[i * 100][1]]) for i in range(40)]
    planted = [(i + 10_000, [3.0 * x for x in vec]) for i, vec in base if i % 4 == 0]
    df = spark.createDataFrame(base + planted, "vec_id int, embedding array<double>")

    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            df, threshold=0.99, centroids=cb
        ).collect()
    }
    assert len(out) == len(base) + len(planted)
    for i, _ in base:
        assert out[i]["kept"], f"original {i} must survive"
        if i % 4 == 0:
            pid = i + 10_000
            assert out[pid]["cluster"] == out[i]["cluster"]
            assert not out[pid]["kept"], f"planted copy {pid} must be dropped"


def test_codebook_table_cells_bound_matches_fitter_shape(spark):
    """The dispatch bound must track the fitter: since the r15 global
    table-Lloyd rewrite the fit emits at most exactly n_centroids cells
    (first-n init, Lloyd never adds cells), and the bound decides when
    semantic_dedup must take the sharded assignment (e.g. the
    SemDeDup-scale 100k-cell request)."""
    from csv_etl_spark.operators import similarity

    for n in (12, 256, 300, 4096, 5000, 100_000):
        assert similarity.codebook_table_cells_bound(n) == n
    assert similarity.codebook_table_cells_bound(100_000) > 4096
    assert similarity.codebook_table_cells_bound(256) <= 4096


def test_brute_force_topk_empty_probes(spark):
    """r15 (r14 ADVICE low): an empty probe frame returns an empty
    result with the contract schema — the BLAS scale path used to crash
    unpacking a 0-row matrix where the old crossJoin spelling degraded
    gracefully."""
    from csv_etl_spark.operators.similarity import brute_force_topk

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id int, embedding array<double>"
    )
    probes = spark.createDataFrame(
        [], "probe_id int, probe_vec array<double>"
    )
    out = brute_force_topk(vecs, probes, k=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "probe_id",
        "neighbor_id",
        "cosine",
        "rank",
    ]


def test_semantic_dedup_min_id_survives_within_cluster(spark):
    """ε-graph min-neighbor rule: among mutually-similar vectors in one
    cluster, only the lowest id survives."""
    from csv_etl_spark.operators.similarity import semantic_dedup

    # three colinear vectors (pairwise cosine 1) + one orthogonal
    rows = [
        (1, [1.0, 0.0]),
        (2, [2.0, 0.0]),
        (3, [0.5, 0.0]),
        (9, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r["kept"] for r in semantic_dedup(
        df, n_centroids=2, threshold=0.99, kmeans_iters=1, sample_fraction=None
    ).collect()}
    assert out == {1: True, 2: False, 3: False, 9: True}


def test_semantic_dedup_pairs_join_is_cluster_keyed(spark):
    """Scale shape: the pairwise stage must join on the cluster key (bounding
    the quadratic term per cluster) — no cartesian product in the plan."""
    from csv_etl_spark.operators.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in range(30)],
        ["vec_id", "embedding"],
    )
    plan = semantic_dedup(
        df, n_centroids=3, kmeans_iters=1, sample_fraction=None
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# paragraph-level / incremental dedup, rolling metrics, length histogram
# ---------------------------------------------------------------------------


def test_dedup_paragraphs_global_first_occurrence(spark):
    df = spark.createDataFrame(
        [
            (1, "Shared banner here.\nBody of doc one.\nShared footer text."),
            (2, "Shared banner here.\nBody of doc two.\nShared footer text."),
            (3, "SHARED BANNER, here!\nshared footer text"),  # normalizes to dups
            (4, "   \n\t"),  # only whitespace paragraphs
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in dedup.dedup_paragraphs(df).collect()}
    # doc 1 is first everywhere: keeps all three paragraphs verbatim
    assert rows[1]["text"] == "Shared banner here.\nBody of doc one.\nShared footer text."
    assert rows[1]["n_paragraphs"] == 3 and rows[1]["n_paragraphs_kept"] == 3
    # doc 2 loses both boilerplate paragraphs, keeps its body
    assert rows[2]["text"] == "Body of doc two."
    assert rows[2]["n_paragraphs"] == 3 and rows[2]["n_paragraphs_kept"] == 1
    # doc 3's paragraphs normalize to already-seen keys: everything dropped
    assert rows[3]["text"] == "" and rows[3]["n_paragraphs_kept"] == 0
    # whitespace-only paragraphs never count
    assert rows[4]["n_paragraphs"] == 0 and rows[4]["text"] == ""


def test_incremental_dedup_batch_vs_corpus(spark):
    corpus = spark.createDataFrame(
        [(1, "old news article."), (2, "curated reference doc.")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (10, "Old News Article!"),  # dup of corpus after normalization
            (11, "fresh doc alpha."),
            (12, "fresh doc alpha."),  # within-batch dup of 11
            (13, "fresh doc beta."),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r["n_dups_in_batch"]
        for r in dedup.incremental_dedup(batch, corpus).collect()
    }
    assert rows == {11: 2, 13: 1}
    # the Bloom-fronted path is EXACT (filter only routes around the
    # anti-join; "maybe seen" keys still verify against the key table)
    bloom_rows = {
        r["doc_id"]: r["n_dups_in_batch"]
        for r in dedup.incremental_dedup(batch, corpus, bloom=True).collect()
    }
    assert bloom_rows == rows


def test_semantic_dedup_oversized_cluster_fails_open(spark):
    """Degenerate k-means collapse: clusters over max_cluster_size skip the
    pairwise stage — members all come back kept (no wrong drops, no N^2)."""
    from csv_etl_spark.operators.similarity import semantic_dedup

    # colinear vectors: all land in one cluster, all pairwise cosine 1
    df = spark.createDataFrame(
        [(i, [float(i + 1), 0.0]) for i in range(6)], ["vec_id", "embedding"]
    )
    capped = {r["vec_id"]: r["kept"] for r in semantic_dedup(
        df, n_centroids=1, kmeans_iters=1, sample_fraction=None,
        threshold=0.99, max_cluster_size=3,
    ).collect()}
    assert all(capped.values()) and len(capped) == 6
    uncapped = {r["vec_id"]: r["kept"] for r in semantic_dedup(
        df, n_centroids=1, kmeans_iters=1, sample_fraction=None,
        threshold=0.99, max_cluster_size=None,
    ).collect()}
    assert uncapped == {0: True, 1: False, 2: False, 3: False, 4: False, 5: False}


def test_length_outliers_approx_path_close_to_exact(spark):
    from csv_etl_spark.operators.text import length_outliers

    docs = [(i, "tok " * (10 + i % 5)) for i in range(40)] + [(99, "w " * 500)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    exact = {r["doc_id"]: r for r in length_outliers(df).collect()}
    approx = {r["doc_id"]: r for r in length_outliers(df, exact=False).collect()}
    # at accuracy 10000 on 41 rows the sketch quantile is exact: same gate
    assert {k: v["is_outlier"] for k, v in exact.items()} == {
        k: v["is_outlier"] for k, v in approx.items()
    }
    assert exact[99]["is_outlier"]


def test_rolling_metrics_values(spark):
    from datetime import datetime

    from csv_etl_spark.operators.rolling import rolling_metrics

    df = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 0), 7, 1.0),
            (2, datetime(2024, 1, 1, 0, 1), 7, 2.0),
            (3, datetime(2024, 1, 1, 0, 2), 7, 4.0),
            (4, datetime(2024, 1, 1, 0, 3), 7, 8.0),
            (5, datetime(2024, 1, 1, 0, 4), 7, 16.0),
            (6, datetime(2024, 1, 1, 0, 0), 9, 5.0),
        ],
        ["event_id", "ts", "user_id", "value"],
    )
    rows = {
        r["event_id"]: r
        for r in rolling_metrics(df, frame_rows=3).collect()
    }
    assert rows[1]["prev_value"] is None and rows[1]["delta"] is None
    assert rows[2]["delta"] == 1.0 and rows[2]["prev_value"] == 1.0
    # frame = last 3 preceding + current: at event 5 → 2+4+8+16
    assert rows[5]["rolling_sum"] == 30.0
    assert rows[5]["rolling_avg"] == 7.5
    assert [rows[i]["seq"] for i in (1, 2, 3, 4, 5)] == [1, 2, 3, 4, 5]
    assert rows[6]["seq"] == 1 and rows[6]["rolling_sum"] == 5.0


def test_length_histogram_bins(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, " ".join(["w"] * 20)), (4, "")],
        ["doc_id", "text"],
    )
    rows = {r["bin_lo"]: r for r in text.length_histogram(df, bin_width=16).collect()}
    assert rows[0]["n_docs"] == 3 and rows[0]["total_tokens"] == 5
    assert rows[16]["n_docs"] == 1 and rows[16]["total_tokens"] == 20
    assert rows[16]["bin_hi"] == 31


def test_chunk_documents_sliding_windows(spark):
    from csv_etl_spark.operators.packing import chunk_documents

    toks = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame(
        [(1, toks), (2, "a b"), (3, "")], ["doc_id", "text"]
    )
    out = chunk_documents(df, chunk_tokens=4, overlap=1, text_col="text")
    rows = sorted(
        ((r["doc_id"], r["chunk_id"], r["chunk_text"], r["n_chunk_tokens"]) for r in out.collect())
    )
    # doc 1: stride 3, n=10 → ceil(9/3)=3 chunks: [0:4], [3:7], [6:10]
    assert rows[0] == (1, 0, "t0 t1 t2 t3", 4)
    assert rows[1] == (1, 1, "t3 t4 t5 t6", 4)
    assert rows[2] == (1, 2, "t6 t7 t8 t9", 4)
    # doc 2: n=2 > overlap=1 → ceil(1/3)=1 chunk, short
    assert rows[3] == (2, 0, "a b", 2)
    # doc 3: zero tokens → no rows
    assert len(rows) == 4


def test_chunk_documents_tiny_doc_single_chunk(spark):
    from csv_etl_spark.operators.packing import chunk_documents

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    out = chunk_documents(df, chunk_tokens=8, overlap=4).collect()
    assert len(out) == 1 and out[0]["chunk_text"] == "x" and out[0]["n_chunk_tokens"] == 1


def test_chunk_documents_coverage_invariants(spark):
    """Property sweep on one Spark round-trip: for a batch of random-ish
    docs, (a) stripping the overlap prefix of every chunk after the first
    and concatenating reconstructs the token stream exactly, (b) no chunk
    exceeds the budget, (c) every chunk past the first starts exactly
    stride tokens after its predecessor."""
    from csv_etl_spark.operators.packing import chunk_documents

    chunk_tokens, overlap = 16, 4
    stride = chunk_tokens - overlap
    docs = []
    lengths = [0, 1, 3, 4, 5, 11, 12, 13, 16, 17, 28, 29, 47, 100, 133]
    for did, n in enumerate(lengths):
        docs.append((did, " ".join(f"w{did}_{i}" for i in range(n))))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = chunk_documents(df, chunk_tokens=chunk_tokens, overlap=overlap)
    by_doc: dict[int, list] = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_text"].split(" "), r["n_chunk_tokens"])
        )
    for did, n in enumerate(lengths):
        chunks = sorted(by_doc.get(did, []))
        if n == 0:
            assert chunks == []
            continue
        assert [c[0] for c in chunks] == list(range(len(chunks)))
        rebuilt: list[str] = []
        for cid, toks, n_toks in chunks:
            assert len(toks) == n_toks <= chunk_tokens
            assert toks == [f"w{did}_{i}" for i in range(cid * stride, min(cid * stride + chunk_tokens, n))]
            rebuilt.extend(toks if cid == 0 else toks[overlap:])
        assert rebuilt == [f"w{did}_{i}" for i in range(n)]


def test_tokens_to_ids_rank_encoding(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog"),
            (2, "the zebra"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    # counts: the=3; and/cat/dog/zebra=1 → ranks: the=1, and=2, cat=3, dog=4, zebra=5
    out = {r["doc_id"]: r for r in text.tokens_to_ids(df, vocab_size=4).collect()}
    assert out[1]["token_ids"] == [1, 3, 2, 1, 4] and out[1]["n_oov"] == 0
    # zebra (rank 5) is beyond vocab_size=4 → OOV id 0
    assert out[2]["token_ids"] == [1, 0] and out[2]["n_oov"] == 1
    assert out[3]["token_ids"] == [] and out[3]["n_tokens"] == 0


def test_unigram_logprob_ranks_typicality(spark):
    import math

    df = spark.createDataFrame(
        [
            (1, "the the the"),        # only the most frequent token
            (2, "the rare"),            # mixes in a singleton
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in text.unigram_logprob(df).collect()}
    # corpus: the=4, rare=1, total=5
    assert rows[1]["avg_logprob"] == pytest.approx(math.log(4 / 5), abs=1e-6)
    assert rows[2]["avg_logprob"] == pytest.approx(
        (math.log(4 / 5) + math.log(1 / 5)) / 2, abs=1e-6
    )
    assert rows[1]["avg_logprob"] > rows[2]["avg_logprob"]
    assert rows[3]["n_tokens"] == 0 and rows[3]["avg_logprob"] == 0.0


def test_shuffled_positions_is_a_permutation(spark):
    from csv_etl_spark.operators.packing import shuffled_positions

    df = spark.createDataFrame([(i,) for i in range(100)], ["doc_id"])
    rows = shuffled_positions(df).collect()
    positions = sorted(r["position"] for r in rows)
    assert positions == list(range(100))
    # deterministic across invocations, and salt changes the permutation
    again = {r["doc_id"]: r["position"] for r in shuffled_positions(df).collect()}
    assert again == {r["doc_id"]: r["position"] for r in rows}
    salted = {r["doc_id"]: r["position"] for r in shuffled_positions(df, salt="epoch1").collect()}
    assert sorted(salted.values()) == list(range(100))
    assert salted != again
    # not the identity order (md5 scrambles)
    assert [again[i] for i in range(100)] != list(range(100))


def test_cluster_representatives_best_quality_wins(spark):
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)], ["id", "cluster_id"]
    )
    scores = spark.createDataFrame(
        [(1, 0.1), (2, 0.9), (3, 0.9), (7, 0.5), (8, 0.5)], ["id", "quality"]
    )
    out = {r["cluster_id"]: r for r in
           dedup.cluster_representatives(labels, scores).collect()}
    # cluster 1: 2 and 3 tie at 0.9 → lowest id wins
    assert out[1]["rep_id"] == 2 and out[1]["n_members"] == 3
    assert out[7]["rep_id"] == 7 and out[7]["n_members"] == 2


def test_dedup_paragraphs_output_is_globally_unique(spark):
    """Corpus-level invariant on real testdata: after paragraph dedup no
    normalized paragraph appears twice anywhere, and the survivor of each
    key is its first occurrence."""
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    seeded = d.select(
        "doc_id",
        F.concat_ws(
            "\n", F.lit("shared banner line."), F.col("text"),
            F.lit("shared footer line."),
        ).alias("text"),
    )
    out = dedup.dedup_paragraphs(seeded)
    paras = (
        out.select("doc_id", F.explode(F.split("text", "\n")).alias("p"))
        .filter(F.trim("p") != "")
        .select("doc_id", dedup.normalize_text(F.col("p")).alias("k"))
    )
    dup_keys = paras.groupBy("k").count().filter(F.col("count") > 1).count()
    assert dup_keys == 0
    # the shared banner survives exactly once, in the lowest doc_id
    banner_docs = paras.filter(F.col("k") == "shared banner line").collect()
    assert len(banner_docs) == 1 and banner_docs[0]["doc_id"] == 0


def test_strip_html_extraction(spark):
    from csv_etl_spark.operators.cleaning import strip_html

    html = (
        "<html><head><title>skip me</title></head><body>"
        "<script>var x = 'evil';</script>"
        "<STYLE>.a{color:red}</STYLE>"
        "<!-- a comment -->"
        "<h1>Title</h1><p>First &amp; second &lt;para&gt;.</p>"
        "<div>Item&nbsp;one</div>plain tail</body></html>"
    )
    df = spark.createDataFrame([(1, html), (2, "no markup at all")], ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in strip_html(df).collect()}
    t = rows[1]["text"]
    assert "evil" not in t and "skip me" not in t and "color" not in t
    assert "a comment" not in t
    assert "Title" in t and "First & second <para>." in t and "Item one" in t
    assert "<" not in t.replace("<para>", "") and rows[1]["n_chars_removed"] > 0
    # block tags became line structure
    assert t.splitlines()[0] == "Title"
    assert rows[2]["text"] == "no markup at all" and rows[2]["n_chars_removed"] == 0


def test_strip_html_amp_decodes_last(spark):
    # literal "&amp;lt;" must decode to "&lt;", never double-decode to "<"
    # (entity order: &amp; is decoded LAST, standard extractor practice)
    from csv_etl_spark.operators.cleaning import strip_html

    df = spark.createDataFrame(
        [(1, "a &amp;lt; b"), (2, "x &amp;nbsp; y"), (3, "&amp;amp;")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r["text"] for r in strip_html(df).collect()}
    assert rows[1] == "a &lt; b"
    assert rows[2] == "x &nbsp; y"
    assert rows[3] == "&amp;"


def test_dedup_paragraphs_null_text_reports_zero(spark):
    # NULL text: size(split(NULL)) is -1 in legacy Spark; the operator must
    # report n_paragraphs = 0, consistent with n_paragraphs_kept = 0
    import pyspark.sql.types as T

    from csv_etl_spark.operators.dedup import dedup_paragraphs

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    df = spark.createDataFrame([(1, None), (2, "keep me")], schema)
    rows = {r["doc_id"]: r for r in dedup_paragraphs(df).collect()}
    assert rows[1]["n_paragraphs"] == 0 and rows[1]["n_paragraphs_kept"] == 0
    assert rows[1]["text"] == ""
    assert rows[2]["n_paragraphs"] == 1 and rows[2]["n_paragraphs_kept"] == 1


def test_mega_doc_caps_bound_reassembly(spark):
    # A pathological giant doc must not build an unbounded per-doc
    # aggregation buffer: paragraphs/tokens past the cap are truncated
    # (C4-style giant-doc tail discard), normal docs are untouched.
    from csv_etl_spark.operators.dedup import dedup_paragraphs
    from csv_etl_spark.operators.text import tokens_to_ids

    mega = "\n".join(f"unique paragraph number {i}" for i in range(50))
    df = spark.createDataFrame(
        [(1, mega), (2, "solo alpha\nsolo beta")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in dedup_paragraphs(df, max_paragraphs=4).collect()}
    assert rows[1]["n_paragraphs"] == 4 and rows[1]["n_paragraphs_kept"] == 4
    assert rows[1]["text"].count("\n") == 3  # exactly 4 paragraphs survive
    assert rows[2]["n_paragraphs"] == 2 and rows[2]["text"] == "solo alpha\nsolo beta"

    mega_tokens = " ".join(f"tok{i}" for i in range(100))
    tdf = spark.createDataFrame(
        [(1, mega_tokens), (2, "small doc")], ["doc_id", "text"]
    )
    trows = {r["doc_id"]: r for r in tokens_to_ids(tdf, max_tokens=8).collect()}
    assert trows[1]["n_tokens"] == 8 and len(trows[1]["token_ids"]) == 8
    assert trows[2]["n_tokens"] == 2 and len(trows[2]["token_ids"]) == 2

    # default caps are inert for normal corpora: same results as uncapped
    capped = {r["doc_id"]: r["text"] for r in dedup_paragraphs(df).collect()}
    uncapped = {
        r["doc_id"]: r["text"] for r in dedup_paragraphs(df, max_paragraphs=None).collect()
    }
    assert capped == uncapped


def test_rolling_time_metrics_range_frame(spark):
    from datetime import datetime

    from csv_etl_spark.operators.rolling import rolling_time_metrics

    df = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 0, 0), 7, 1.0),
            (2, datetime(2024, 1, 1, 0, 5, 0), 7, 2.0),
            (3, datetime(2024, 1, 1, 0, 9, 0), 7, 4.0),
            (4, datetime(2024, 1, 1, 0, 30, 0), 7, 8.0),  # outside 10-min window
        ],
        ["event_id", "ts", "user_id", "value"],
    )
    rows = {r["event_id"]: r for r in rolling_time_metrics(df, window_seconds=600).collect()}
    assert rows[1]["window_sum"] == 1.0 and rows[1]["window_n"] == 1
    assert rows[3]["window_sum"] == 7.0 and rows[3]["window_n"] == 3  # 0:00..0:09 all in
    assert rows[4]["window_sum"] == 8.0 and rows[4]["window_n"] == 1  # alone
    assert rows[1]["secs_since_prev"] is None
    assert rows[4]["secs_since_prev"] == 21 * 60


def test_length_outliers_mad_gate(spark):
    # 9 docs of 10 tokens, one of 100 → median 10, MAD 0-free? deviations:
    # |10-10|=0 ×9, |100-10|=90 → MAD = median of (0×9, 90) = 0 → guard.
    # Use a spread instead: lengths 8,9,10,11,12 ×2 and one 100.
    docs = []
    i = 0
    for n in [8, 9, 10, 11, 12] * 2 + [100]:
        docs.append((i, " ".join(["w"] * n)))
        i += 1
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in text.length_outliers(df, k=3.0).collect()}
    assert rows[10]["is_outlier"] and rows[10]["n_tokens"] == 100
    assert sum(1 for r in rows.values() if r["is_outlier"]) == 1
    assert rows[0]["deviation"] < 3.0


# ---------------------------------------------------------------------------
# round 6: gopher quality, mixture resample, int8 quantization, image dHash
# ---------------------------------------------------------------------------


def test_gopher_quality_rules(spark):
    sw = "the be to of and that have with"  # all 8 required stopwords, mean len 3
    docs = [
        (1, (sw + " ") * 8),                       # 64 words, all gates pass
        (2, sw),                                   # 8 words: fails min_words
        (3, ("xx " * 60).strip()),                 # no stopwords, mean len 2
        (4, (sw + " ") * 8 + "# # # # # # # #"),   # 72 words, 8 '#' -> ratio .111
        (5, "\n".join(["- " + sw] * 10)),          # every line bullet-led
        (6, "\n".join([sw + " ..."] * 10)),        # every line ellipsis-ended
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in text.gopher_quality(df).collect()}
    assert rows[1]["keep"] and rows[1]["n_stopword_hits"] == 8
    assert not rows[2]["keep"] and rows[2]["n_words"] == 8
    assert not rows[3]["keep"] and rows[3]["n_stopword_hits"] == 0
    assert not rows[4]["keep"] and rows[4]["symbol_ratio"] > 0.1
    assert not rows[5]["keep"] and rows[5]["bullet_frac"] == 1.0
    assert not rows[6]["keep"] and rows[6]["ellipsis_frac"] == 1.0
    # doc 4 fails ONLY the symbol rule (alpha_frac 64/72 still >= 0.8)
    assert rows[4]["alpha_frac"] >= 0.8 and rows[4]["n_words"] == 72


def test_mixture_resample_arms(spark):
    from csv_etl_spark.operators.sampling import mixture_resample

    docs = [(i, ["A", "B", "C", "D"][i % 4]) for i in range(200)]
    df = spark.createDataFrame(docs, ["doc_id", "source"])
    out = mixture_resample(
        df, weights={"A": 2.5, "B": 0.25, "C": 0.0}, group_col="source",
        key_col="doc_id",
    )
    per_doc = (
        out.groupBy("doc_id", "source").count().collect()
    )
    by_src: dict = {}
    for r in per_doc:
        by_src.setdefault(r["source"], []).append(r["count"])
    assert set(by_src["A"]) <= {2, 3} and len(by_src["A"]) == 50
    assert set(by_src["B"]) <= {1}          # 0-copy docs vanish entirely
    assert len(by_src["B"]) < 50            # ~25% survive
    assert "C" not in by_src
    assert set(by_src["D"]) == {1} and len(by_src["D"]) == 50
    # deterministic under repartition: identical (doc_id, copy) multiset
    again = mixture_resample(
        df.repartition(7), weights={"A": 2.5, "B": 0.25, "C": 0.0},
        group_col="source", key_col="doc_id",
    )
    a = sorted((r["doc_id"], r["copy"]) for r in out.collect())
    b = sorted((r["doc_id"], r["copy"]) for r in again.collect())
    assert a == b


def test_quantize_embeddings_codes(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    rows = {r["vec_id"]: r for r in similarity.quantize_embeddings(df).collect()}
    assert rows[1]["qvec"] == [127, -64, 32]  # round(0.5*127)=64 away from zero
    assert abs(rows[1]["scale"] - 1.0 / 127.0) < 1e-12
    assert rows[2]["qvec"] == [0, 0, 0] and rows[2]["scale"] == 0.0


def test_quantized_topk_matches_exact_ranking(spark):
    # well-separated directions: quantization noise (<1/127) cannot reorder
    vecs = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    probes = similarity.make_probes(df, n=1)
    exact = [r["neighbor_id"] for r in similarity.brute_force_topk(df, probes, k=3)
             .orderBy("rank").collect()]
    quant = [r["neighbor_id"] for r in similarity.quantized_topk(df, probes, k=3)
             .orderBy("rank").collect()]
    assert exact == quant == [2, 3, 4]


def _bmp_bytes(arr):
    import numpy as np

    from csv_etl_spark.operators.media_codecs import encode_bmp

    return bytearray(encode_bmp(np.asarray(arr, dtype="uint8")))


def test_image_dhash_bmp_near_dup(spark):
    import numpy as np

    from csv_etl_spark.operators.multimodal import (
        MEDIA_SCHEMA, dhash_near_dup_pairs, image_dhash,
    )

    h, w = 24, 36
    ramp = np.tile(np.arange(w, dtype="uint8") * 7, (h, 1))
    base = np.stack([ramp] * 3, axis=2)          # left-to-right gradient
    near = base.copy()
    near[6, 12] = near[6, 12] + 120              # one sampled pixel bumped
    # (6, 12) is on the dHash sampling grid: y = (2*24)//8, x = (3*36)//9
    far = 255 - base                             # reversed gradient
    rows = [
        (1, "image", _bmp_bytes(base), {}),
        (2, "image", _bmp_bytes(near), {}),
        (3, "image", _bmp_bytes(far), {}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    hashes = {r["media_id"]: r["dhash"] for r in image_dhash(df).collect()}

    def ham(a, b):
        return bin(int(a, 16) ^ int(b, 16)).count("1")

    assert 1 <= ham(hashes[1], hashes[2]) <= 4   # near-dup: a couple of bits
    assert ham(hashes[1], hashes[3]) > 16        # reversed gradient: far
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in dhash_near_dup_pairs(image_dhash(df), max_hamming=4, allow_recall_gap=True).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_image_dhash_fallback_matches_python_reference(spark):
    from csv_etl_spark.operators.multimodal import (
        MEDIA_SCHEMA, _dhash_hex, dhash_gray_kernel, image_dhash,
    )

    payload = b"the quick brown fox jumps over the lazy dog" * 3
    df = spark.createDataFrame([(7, "image", bytearray(payload), {})], MEDIA_SCHEMA)
    got = image_dhash(df).collect()[0]["dhash"]
    n = len(payload)
    p = [payload[(i * n) // 72] for i in range(72)]
    assert got == _dhash_hex(p) and len(got) == 16
    # identical payloads hash identically through the whole Spark path
    df2 = spark.createDataFrame(
        [(8, "image", bytearray(payload), {}), (9, "image", bytearray(payload), {})],
        MEDIA_SCHEMA,
    )
    hs = [r["dhash"] for r in image_dhash(df2).collect()]
    assert hs[0] == hs[1] == got


def test_moment_stats_matches_builtins_and_is_layout_stable(spark):
    import math

    from csv_etl_spark.operators.stats import moment_stats

    rows = [("a", float(i % 17) + 0.125, float(i)) for i in range(500)]
    rows += [("b", 5.0, 1.0), ("b", 5.0, 2.0)]       # zero variance -> corr NULL
    rows += [("c", 9.5, 3.0)]                        # n=1 -> stddev/covar/corr NULL
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    out = {r["k"]: r for r in moment_stats(df, "x", "y", by=["k"]).collect()}
    ref = df.filter("k = 'a'").agg(
        F.avg("x"), F.stddev_samp("x"), F.covar_samp("x", "y"), F.corr("x", "y")
    ).collect()[0]
    a = out["a"]
    assert a["n"] == 500
    assert math.isclose(a["mean_x"], ref[0], abs_tol=2e-6)
    assert math.isclose(a["stddev_x"], ref[1], abs_tol=2e-6)
    assert math.isclose(a["covar_xy"], ref[2], abs_tol=2e-4)
    assert math.isclose(a["corr_xy"], ref[3], abs_tol=1e-5)
    assert out["b"]["stddev_x"] == 0.0 and out["b"]["corr_xy"] is None
    assert out["c"]["stddev_x"] is None and out["c"]["covar_xy"] is None
    # bit-identical across partitionings (the whole point vs F.corr)
    again = {r["k"]: r for r in
             moment_stats(df.repartition(13), "x", "y", by=["k"]).collect()}
    for k in out:
        assert tuple(out[k]) == tuple(again[k])


def test_moment_stats_centering_and_overflow_guard(spark):
    """center_x/center_y leave the stats unchanged (shift-exact when
    center·QUANT is integral) while shrinking the decimal moments; a
    genuine decimal(38,0) overflow errors LOUDLY instead of silently
    NULLing (the ANSI-off default this operator guards against)."""
    import pytest

    from csv_etl_spark.operators.stats import moment_stats

    # epoch-scale y: the exact case ADVICE flagged — raw yq² ≈ 3e30
    rows = [("a", float(i % 7), 1.7e9 + i * 3600.0) for i in range(300)]
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    plain = moment_stats(df, "x", "y", by=["k"]).collect()[0]
    centered = moment_stats(
        df, "x", "y", by=["k"], center_y=1.7e9
    ).collect()[0]
    assert tuple(plain) == tuple(centered)
    # centering x shifts mean_x back exactly, stddev/corr invariant
    cx = moment_stats(df, "x", "y", by=["k"], center_x=3.0).collect()[0]
    assert tuple(cx) == tuple(plain)
    # near-constant large-magnitude group: vxn cancellation can go
    # slightly negative in doubles — must clamp to 0.0, never NaN
    nc = spark.createDataFrame(
        [("z", 1.7e9 + 0.25, float(i)) for i in range(50)], ["k", "x", "y"]
    )
    row = moment_stats(nc, "x", "y", by=["k"]).collect()[0]
    assert row["stddev_x"] == 0.0 and row["corr_xy"] is None
    # forced overflow: |xq| ~ 3.2e18 → xq² ~ 1e37, 11 rows exceed 1e38.
    # Spark would silently NULL the sum; the operator must raise instead.
    big = spark.createDataFrame(
        [("o", 3.2e12, 1.0)] * 11, ["k", "x", "y"]
    )
    with pytest.raises(Exception, match="re-center|overflow|ASSERT"):
        moment_stats(big, "x", "y", by=["k"]).collect()


def test_top_token_pairs_bpe_statistic(spark):
    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b"), (3, "x")], ["doc_id", "text"]
    )
    rows = text.top_token_pairs(df, k=10).collect()
    got = {r["pair"]: (r["rank"], r["n"]) for r in rows}
    assert got["a b"] == (1, 3)        # 2 in doc1 + 1 in doc2
    assert got["b a"][1] == 1 and got["b c"][1] == 1
    assert "x" not in {p.split()[0] for p in got} or True  # 1-token doc yields none
    assert len(rows) == 3


def test_dedup_lines_within_doc_first_occurrence_order(spark):
    from csv_etl_spark.operators.cleaning import dedup_lines_within_doc

    txt = "menu\nreal content one\nmenu\nreal content two\nmenu"
    df = spark.createDataFrame([(1, txt)], ["doc_id", "text"])
    r = dedup_lines_within_doc(df).collect()[0]
    assert r["text"] == "menu\nreal content one\nreal content two"
    assert r["n_lines"] == 5 and r["n_lines_kept"] == 3


def test_sample_by_score_soft_filter(spark):
    from csv_etl_spark.operators.sampling import key_uniform, sample_by_score

    df = spark.createDataFrame(
        [(i, 0.0 if i % 2 == 0 else 1.0) for i in range(100)], ["id", "s"]
    )
    kept = sample_by_score(df, "id", F.col("s")).collect()
    ids = {r["id"] for r in kept}
    assert len(ids) == 50 and all(i % 2 == 1 for i in ids)  # 0 drops, 1 keeps
    # intermediate scores keep ~score fraction, deterministically
    mid = spark.createDataFrame([(i, 0.3) for i in range(1000)], ["id", "s"])
    n1 = sample_by_score(mid, "id", F.col("s")).count()
    n2 = sample_by_score(mid.repartition(7), "id", F.col("s")).count()
    assert n1 == n2 and 230 <= n1 <= 370
    # uniform is in [0,1)
    u = mid.select(key_uniform(F.col("id")).alias("u")).agg(
        F.min("u"), F.max("u")
    ).collect()[0]
    assert 0.0 <= u[0] and u[1] < 1.0


def test_tfidf_top_terms(spark):
    import math

    df = spark.createDataFrame(
        [
            (1, "apple apple banana common"),
            (2, "banana cherry common"),
            (3, "common only words here"),
        ],
        ["doc_id", "text"],
    )
    rows = text.tfidf_top_terms(df, k=2).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 'apple' tf=2 df=1 -> 2*ln(3); beats banana (df=2) and common (df=3, score 0)
    top1 = sorted(by_doc[1], key=lambda r: r["rank"])[0]
    assert top1["token"] == "apple" and top1["tf"] == 2
    assert math.isclose(top1["score"], round(2 * math.log(3), 6), abs_tol=1e-9)
    # 'common' appears in every doc -> idf ln(1)=0 -> never a top term over
    # a positive-scored competitor
    for r in rows:
        if r["token"] == "common":
            assert r["score"] == 0.0
    assert all(len(v) == 2 for v in by_doc.values())


def test_bigram_logprob_order_sensitivity(spark):
    # docs 1-3 share the same transitions; doc 4 has the same UNIGRAM
    # distribution but reversed order -> rare transitions -> lower score.
    docs = [
        (1, "a b c d"),
        (2, "a b c d"),
        (3, "a b c d"),
        (4, "d c b a"),
        (5, "x"),      # < 2 tokens: no transitions
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in text.bigram_logprob(df).collect()}
    assert rows[1]["n_transitions"] == 3
    assert rows[1]["avg_logprob"] == rows[2]["avg_logprob"]
    assert rows[4]["avg_logprob"] < rows[1]["avg_logprob"]
    assert rows[5]["n_transitions"] == 0 and rows[5]["avg_logprob"] == 0.0


def test_new_ops_null_and_corrupt_robustness(spark):
    from csv_etl_spark.operators.cleaning import dedup_lines_within_doc
    from csv_etl_spark.operators.multimodal import (
        MEDIA_SCHEMA, dhash_gray_kernel, image_dhash,
    )
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType(), True),
    ])
    df = spark.createDataFrame([(1, None), (2, "a\nb\na")], schema)
    g = {r["doc_id"]: r for r in text.gopher_quality(df).collect()}
    assert g[1]["n_words"] == 0 and g[1]["n_stopword_hits"] == 0
    assert not g[1]["keep"]
    d = {r["doc_id"]: r for r in dedup_lines_within_doc(df).collect()}
    assert d[1]["n_lines"] == 0 and d[1]["n_lines_kept"] == 0
    assert d[2]["n_lines"] == 3 and d[2]["n_lines_kept"] == 2
    # corrupt BMP header degrades to the byte-sampling hash, never raises
    corrupt = b"BM" + b"\x01" * 20  # claims BMP, truncated header
    assert len(dhash_gray_kernel("image", corrupt)) == 72
    rows = [(9, "image", bytearray(corrupt), {})]
    out = image_dhash(spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()
    assert len(out[0]["dhash"]) == 16


def test_mixture_resample_rejects_negative_weight(spark):
    from csv_etl_spark.operators.sampling import mixture_resample

    df = spark.createDataFrame([(1, "a")], ["doc_id", "source"])
    with pytest.raises(ValueError):
        mixture_resample(df, weights={"a": -0.5})


def test_mixture_resample_copies_property(spark):
    """Property: for any weight w, every surviving key has floor(w) or
    floor(w)+1 copies, and group totals land near w x group size."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from csv_etl_spark.operators.sampling import mixture_resample

    df = spark.createDataFrame([(i, "g") for i in range(120)], ["doc_id", "source"])

    @settings(max_examples=5, deadline=None)
    @given(w=st.floats(min_value=0.0, max_value=3.0, allow_nan=False))
    def check(w):
        out = mixture_resample(df, weights={"g": w}).groupBy("doc_id").count()
        counts = [r["count"] for r in out.collect()]
        lo, hi = int(w), int(w) + 1
        assert all(c in (lo, hi) and c >= 1 for c in counts)
        total = sum(counts)
        assert abs(total - w * 120) <= 120 * 0.35 + 1  # md5-uniform tolerance

    check()


def test_profile_table_one_pass(spark):
    from pyspark.sql import types as T

    from csv_etl_spark.operators.profile import profile_table

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("s", T.StringType(), True),
        T.StructField("v", T.DoubleType(), True),
    ])
    df = spark.createDataFrame(
        [(1, "b", 2.5), (2, None, 1.25), (3, "a", None), (4, "a", 9.75)], schema
    )
    p = {r["column"]: r for r in profile_table(df).collect()}
    assert p["k"]["n_rows"] == 4 and p["k"]["n_nulls"] == 0
    assert p["k"]["n_distinct"] == 4 and p["k"]["min_num"] == 1.0
    assert p["s"]["n_nulls"] == 1 and p["s"]["n_distinct"] == 2
    assert p["s"]["min_str"] == "a" and p["s"]["max_str"] == "b"
    assert p["v"]["min_num"] == 1.25 and p["v"]["max_num"] == 9.75
    assert p["s"]["min_num"] is None and p["k"]["min_str"] is None
    # the whole profile is ONE aggregation job over one scan
    plan = profile_table(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ") <= 1


def test_profile_approx_plan_has_no_expand(spark):
    """approx=True is the documented scale path: HLL sketches must plan
    as ONE partial-aggregate pass — no Expand (which replicates the input
    ~n_cols× for exact multi-column distincts) and still one scan.  The
    exact path keeps its Expand (that's the documented trade), and approx
    counts stay sane."""
    from pyspark.sql import types as T

    from csv_etl_spark.operators.profile import profile_table

    schema = T.StructType([
        T.StructField("k", T.LongType()),
        T.StructField("s", T.StringType(), True),
        T.StructField("v", T.DoubleType(), True),
    ])
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", float(i)) for i in range(100)], schema
    )
    approx_plan = (
        profile_table(df, approx=True)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "Expand" not in approx_plan
    assert approx_plan.count("Scan ") <= 1
    exact_plan = (
        profile_table(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" in exact_plan  # the ~n_cols× cost approx=True removes
    p = {r["column"]: r for r in profile_table(df, approx=True).collect()}
    assert p["s"]["n_distinct"] == 3  # HLL is exact at tiny cardinality
    assert p["k"]["n_rows"] == 100 and p["k"]["n_nulls"] == 0


def test_asof_join_forward_direction(spark):
    from datetime import datetime

    from csv_etl_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "u", datetime(2024, 1, 1, 12, 0))], ["lid", "k", "ts"]
    )
    right = spark.createDataFrame(
        [
            ("u", datetime(2024, 1, 1, 11, 0), 100),  # before: backward target
            ("u", datetime(2024, 1, 1, 13, 0), 200),  # after: forward target
            ("u", datetime(2024, 1, 1, 14, 0), 300),
        ],
        ["k", "ts", "val"],
    )
    back = asof_join(left, right, "k", "ts", "ts", ["val"]).collect()[0]
    fwd = asof_join(left, right, "k", "ts", "ts", ["val"],
                    direction="forward").collect()[0]
    assert back["asof_val"] == 100 and fwd["asof_val"] == 200
    # forward tolerance: 30 min window excludes the 13:00 click
    tight = asof_join(left, right, "k", "ts", "ts", ["val"],
                      direction="forward", tolerance="30 MINUTES").collect()[0]
    assert tight["asof_val"] is None
    # equal timestamp matches in both directions
    eq = spark.createDataFrame([("u", datetime(2024, 1, 1, 12, 0), 999)],
                               ["k", "ts", "val"])
    for d in ("backward", "forward"):
        r = asof_join(left, eq, "k", "ts", "ts", ["val"], direction=d).collect()[0]
        assert r["asof_val"] == 999
    import pytest as _pt
    with _pt.raises(ValueError):
        asof_join(left, right, "k", "ts", "ts", ["val"], direction="nearest")


def test_weighted_sample_topk_properties(spark):
    from csv_etl_spark.operators.sampling import weighted_sample_topk

    # 200 light rows (w=1) + 50 heavy rows (w=50): heavy rows dominate a
    # k=25 draw despite being outnumbered 4:1
    rows = [(i, 1.0) for i in range(200)] + [(1000 + i, 50.0) for i in range(50)]
    df = spark.createDataFrame(rows, ["id", "w"])
    got = {r["id"] for r in weighted_sample_topk(df, "id", F.col("w"), 25).collect()}
    assert len(got) == 25
    assert sum(1 for i in got if i >= 1000) >= 18  # heavy rows dominate
    # deterministic under repartition
    again = {r["id"] for r in
             weighted_sample_topk(df.repartition(7), "id", F.col("w"), 25).collect()}
    assert got == again
    # zero-weight rows are never chosen while k < n
    zw = spark.createDataFrame([(1, 0.0)] + [(i, 1.0) for i in range(2, 30)],
                               ["id", "w"])
    chosen = {r["id"] for r in weighted_sample_topk(zw, "id", F.col("w"), 10).collect()}
    assert 1 not in chosen


# ---------------------------------------------------------------------------
# Round-7 operators: BM25, LM buckets, boilerplate lines, token budget, spans
# ---------------------------------------------------------------------------


def test_bm25_top_terms_formula_and_ranking(spark):
    """BM25 weights match the hand-computed Okapi formula (k1=1.2, b=0.75,
    avgdl over ALL docs incl. empty); rank orders by rounded score with a
    token tiebreak."""
    import math

    rows = [
        (1, "apple apple apple banana"),
        (2, "apple cherry"),
        (3, "banana banana cherry cherry cherry date"),
        (4, ""),  # counts toward N and avgdl denominator only
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r["doc_id"], r["token"]): r for r in text.bm25_top_terms(df, k=10).collect()}

    n, total = 4.0, 4 + 2 + 6  # docs, corpus tokens
    avgdl = total / n

    def bm25(tf, dfreq, dl):
        idf = math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))
        return round(idf * ((tf * (1.2 + 1.0)) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6)

    assert out[(1, "apple")]["score"] == pytest.approx(bm25(3, 2, 4), abs=1e-6)
    assert out[(3, "date")]["score"] == pytest.approx(bm25(1, 1, 6), abs=1e-6)
    assert out[(2, "apple")]["score"] == pytest.approx(bm25(1, 2, 2), abs=1e-6)
    # rank 1 is the highest score per doc; ties impossible in this corpus
    for d in (1, 2, 3):
        doc_rows = [r for (i, _t), r in out.items() if i == d]
        best = max(doc_rows, key=lambda r: r["score"])
        assert best["rank"] == 1
    assert (4, "") not in out  # empty doc emits no terms


def test_lm_score_buckets_are_group_monotone(spark):
    """Within every group, all head scores > all middle scores > all tail
    scores, tercile sizes are balanced +-1, and every doc is bucketed."""
    rows = []
    for g, base in (("a", "common common common"), ("b", "shared shared")):
        for i in range(9):
            # vary rarity: docs with more unique tokens score lower
            uniq = " ".join(f"{g}rare{i}x{j}" for j in range(i))
            # deterministic ids (ADVICE r8: hash() is per-run randomized
            # and could collide across groups, flaking the length check)
            rows.append((ord(g) * 100_000 + i, f"{base} {uniq}".strip(), g))
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = text.lm_score_buckets(df, by="source").collect()
    assert len(out) == len(rows)
    for g in ("a", "b"):
        by_bucket = {"head": [], "middle": [], "tail": []}
        for r in out:
            if r["source"] == g:
                by_bucket[r["bucket"]].append(r["avg_logprob"])
        assert all(by_bucket.values())
        assert min(by_bucket["head"]) > max(by_bucket["middle"])
        assert min(by_bucket["middle"]) > max(by_bucket["tail"])
        sizes = sorted(len(v) for v in by_bucket.values())
        assert sizes[-1] - sizes[0] <= 2  # terciles balanced (ties allowed)


def test_drop_boilerplate_lines(spark):
    from csv_etl_spark.operators.cleaning import drop_boilerplate_lines

    banner = "accept cookies"
    rows = [
        (1, f"{banner}\nkeep one\n\nshared pair"),
        (2, f"{banner}\nkeep two\nshared pair"),
        (3, f" {banner} \nkeep three"),  # trimmed match still counts
        (4, banner),                      # all lines dropped -> empty text
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in drop_boilerplate_lines(df, max_docs=2).collect()}
    # banner in 4 docs > max_docs=2 -> dropped everywhere (trim-keyed,
    # so doc 3's padded copy both counts and drops)
    assert out[1]["text"] == "keep one\n\nshared pair"
    assert out[2]["text"] == "keep two\nshared pair"  # 2 docs == max, kept
    assert out[3]["text"] == "keep three"
    assert out[4]["text"] == "" and out[4]["n_lines_kept"] == 0
    assert out[1]["n_lines"] == 4 and out[1]["n_lines_kept"] == 3
    # whitespace-only line in doc 1 survived (never counted, never dropped)
    assert "\n\n" in out[1]["text"]


def test_token_budget_select_matches_serial_model(spark):
    """Selection equals the serial greedy model (md5 order, inclusive
    cumsum <= budget) and is layout-independent."""
    import hashlib

    from csv_etl_spark.operators.sampling import token_budget_select

    rows = [(i, " ".join(["w"] * (3 + i % 5)), f"s{i % 2}") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    budget = 30

    expected = {}
    for grp in ("s0", "s1"):
        docs = [(i, 3 + i % 5) for i, _t, g in rows if g == grp]
        docs.sort(key=lambda d: hashlib.md5(f"{d[0]}|".encode()).hexdigest())
        cum = 0
        for i, nt in docs:
            cum += nt
            if cum > budget:
                break
            expected[i] = (nt, cum)

    got = {
        r["doc_id"]: (r["n_tokens"], r["cum_tokens"])
        for r in token_budget_select(df, budget=budget, by="source").collect()
    }
    assert got == expected
    again = {
        r["doc_id"]: (r["n_tokens"], r["cum_tokens"])
        for r in token_budget_select(
            df.repartition(7), budget=budget, by="source"
        ).collect()
    }
    assert again == expected


def test_duplicate_spans_shared_prefix(spark):
    tail_a = " ".join(f"a{j}" for j in range(20))
    tail_b = " ".join(f"b{j}" for j in range(20))
    prefix = " ".join(f"p{j}" for j in range(32))
    rows = [
        (1, f"{prefix} {tail_a}"),
        (2, f"{prefix} {tail_b}"),
        (3, " ".join(f"c{j}" for j in range(60))),  # no shared content
        (4, "too short"),                            # < span_tokens: no windows
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.duplicate_spans(df, span_tokens=32, stride=16, min_docs=2).collect()
    got = {(r["doc_id"], r["start_token"]): r["n_docs"] for r in out}
    # window 0 (tokens 0-32) is the shared prefix in docs 1 and 2; window
    # at 16 mixes prefix+tail and differs, later windows are unique
    assert got == {(1, 0): 2, (2, 0): 2}


def test_contamination_overlap_report(spark):
    from csv_etl_spark.operators.cleaning import contamination_overlap

    bench = spark.createDataFrame(
        [(100, "one two three four five six seven eight nine ten")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "one two three four five six seven eight nine ten"),  # full copy
            (2, "one two three four five six seven eight ELSE OTHER"),  # 1 shared shingle
            (3, "totally different words in this document here now ok fine"),
            (4, "short"),  # too short to shingle: 0/0/0.0
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in
           contamination_overlap(corpus, bench, n=8).collect()}
    assert out[1]["n_shingles"] == 3 and out[1]["n_hits"] == 3
    assert out[1]["overlap_frac"] == 1.0
    assert out[2]["n_shingles"] == 3 and out[2]["n_hits"] == 1
    assert out[2]["overlap_frac"] == pytest.approx(round(1 / 3, 6))
    assert out[3]["n_hits"] == 0 and out[3]["overlap_frac"] == 0.0
    assert out[4]["n_shingles"] == 0 and out[4]["overlap_frac"] == 0.0
    # thresholding the report reproduces decontaminate's keep set
    from csv_etl_spark.operators.cleaning import decontaminate

    kept = {r["doc_id"] for r in decontaminate(corpus, bench, n=8).collect()}
    assert kept == {d for d, r in out.items() if r["n_hits"] == 0}


def test_cap_per_group_matches_serial_window(spark):
    import hashlib

    from csv_etl_spark.operators.sampling import cap_per_group

    rows = [(i, f"g{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = cap_per_group(df, n=5, by="source").collect()

    expected = {}
    for g in ("g0", "g1", "g2"):
        ids = sorted(
            (i for i, grp in rows if grp == g),
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
        )
        for r, i in enumerate(ids[:5], start=1):
            expected[i] = (g, r)
    got = {r["doc_id"]: (r["source"], r["rank"]) for r in out}
    assert got == expected
    # layout independence: the salted two-stage result is row-identical
    again = {
        r["doc_id"]: (r["source"], r["rank"])
        for r in cap_per_group(df.repartition(11), n=5, by="source").collect()
    }
    assert again == expected


def test_phrase_merges_matches_serial_reference(spark):
    """The distributed BPE-style merge loop must equal a serial reference:
    same pair chosen each round (count desc, pair asc), same greedy
    left-to-right non-overlapping merge, corpus-wide."""
    from collections import Counter

    docs = [
        "new york city is in new york",
        "new york is big and new york is loud",
        "san francisco and new york city",
        "a a a a",          # overlapping same-token pairs: greedy semantics
        "",                  # empty doc must not contribute
        "solo",
    ]

    def serial(docs, k, min_count):
        toks = [d.lower().split() for d in docs]
        out = []
        for rank in range(1, k + 1):
            c = Counter()
            for t in toks:
                for i in range(len(t) - 1):
                    c[(t[i], t[i + 1])] += 1
            if not c:
                break
            best = min(c.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
            (a, b), n = best
            if n < min_count:
                break
            out.append((rank, f"{a} {b}", n))
            merged = f"{a}_{b}"
            new_toks = []
            for t in toks:
                nt, i = [], 0
                while i < len(t):
                    if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                        nt.append(merged)
                        i += 2
                    else:
                        nt.append(t[i])
                        i += 1
                new_toks.append(nt)
            toks = new_toks
        return out

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], ["doc_id", "text"]
    )
    got = [
        (r["rank"], r["pair"], r["n"])
        for r in text.phrase_merges(df, k=6).orderBy("rank").collect()
    ]
    assert got == serial(docs, 6, 2)
    assert got[0][1] == "new york"  # the dominant bigram merges first
    # the a-a doc: 3 adjacent pairs, greedy merge leaves [a_a, a_a] then
    # (a_a, a_a) can win a later round — serial reference covers it


def test_phrase_merges_memo_prefix_and_restart(spark):
    """r17 merge-table memo: BPE is prefix-stable, so (a) a k=6-trained
    table must answer a later k=3 call verbatim with ZERO Spark jobs,
    (b) a k=2-trained table must be a valid RESTART point for k=4 —
    replayed merges + continued rounds equal a cold k=4 run — and
    (c) the memo is invalidated by the bench-harness hook."""
    from csv_etl_spark.operators.text import _MERGE_MEMO

    docs = [
        "new york city is in new york",
        "new york is big and new york is loud",
        "san francisco and new york city",
        "a a a a",
    ]
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], ["doc_id", "text"]
    )

    def table(k):
        return [
            (r["rank"], r["pair"], r["n"])
            for r in text.phrase_merges(df, k=k).orderBy("rank").collect()
        ]

    _MERGE_MEMO.invalidate()
    cold6 = table(6)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "merge-memo-hit")
    try:
        warm3 = table(3)
        ran = sc.statusTracker().getJobIdsForGroup("merge-memo-hit")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert warm3 == cold6[:3]
    # the memo hit must answer from the driver: no training rounds run,
    # only the collect of the returned inline-VALUES frame (AQE runs a
    # local frame's orderBy+collect as up to 3 tiny jobs).  A cold k=3
    # run needs ≥1 corpus-count job per round on top of that.
    assert len(ran or []) <= 3

    _MERGE_MEMO.invalidate()
    short2 = table(2)
    restart4 = table(4)  # replay 2 cached merges, train rounds 3-4
    _MERGE_MEMO.invalidate()
    cold4 = table(4)
    assert short2 == cold4[:2] and restart4 == cold4


def test_winsorize_clamps_to_group_bounds(spark):
    from csv_etl_spark.operators.stats import winsorize

    rows = [("a", float(i)) for i in range(1, 101)] + [("a", 1e9), ("b", 5.0), ("b", 6.0)]
    df = spark.createDataFrame(rows, ["k", "v"])
    out = winsorize(df, "v", by=["k"]).collect()
    a = [r for r in out if r["k"] == "a"]
    assert len(out) == len(rows)  # row count preserved
    assert all(r["v_lo"] <= r["v_wins"] <= r["v_hi"] for r in a)
    spike = [r for r in a if r["v"] == 1e9][0]
    assert spike["v_wins"] == spike["v_hi"]  # outlier clamped, not dropped
    mid = [r for r in a if r["v"] == 50.0][0]
    assert mid["v_wins"] == 50.0  # interior values untouched
    # ungrouped + approx paths run and keep schema
    assert winsorize(df, "v").count() == len(rows)
    assert winsorize(df, "v", by=["k"], exact=False).count() == len(rows)


def test_phrase_merges_regex_metachar_tokens(spark):
    """Tokens that are regex metacharacters must merge correctly — the
    JVM regexp merge quotes both tokens and the replacement ($, \\)."""
    from collections import Counter

    docs = [
        "$x (y) $x (y) a.b a.b",
        "$x (y) a.b [z] \\ $",
        "* * * ?",
    ]

    def serial(docs, k):
        toks = [d.split() for d in docs]
        out = []
        for rank in range(1, k + 1):
            c = Counter()
            for t in toks:
                for i in range(len(t) - 1):
                    c[(t[i], t[i + 1])] += 1
            if not c:
                break
            best = min(c.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
            (a, b), n = best
            if n < 2:
                break
            out.append((rank, f"{a} {b}", n))
            merged = f"{a}_{b}"
            nt2 = []
            for t in toks:
                nt, i = [], 0
                while i < len(t):
                    if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                        nt.append(merged)
                        i += 2
                    else:
                        nt.append(t[i])
                        i += 1
                nt2.append(nt)
            toks = nt2
        return out

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], ["doc_id", "text"]
    )
    got = [
        (r["rank"], r["pair"], r["n"])
        for r in text.phrase_merges(df, k=4, lowercase=False)
        .orderBy("rank").collect()
    ]
    assert got == serial(docs, 4)


def test_interval_overlap_join_matches_naive(spark):
    from datetime import datetime, timedelta

    from csv_etl_spark.operators.joins import interval_overlap_join

    base = datetime(2024, 1, 1)

    def iv(uid, iid, s_min, e_min):
        return (uid, iid, base + timedelta(minutes=s_min), base + timedelta(minutes=e_min))

    left = spark.createDataFrame(
        [
            iv(1, 10, 0, 60),     # long interval spanning several buckets
            iv(1, 11, 90, 100),
            iv(2, 12, 0, 10),
            iv(2, 13, 500, 510),  # far away: no partner
        ],
        ["user_id", "lid", "start", "end"],
    )
    right = spark.createDataFrame(
        [
            iv(1, 20, 30, 45),    # inside 10
            iv(1, 21, 55, 95),    # overlaps 10 AND 11, crosses bucket line
            iv(1, 22, 100, 110),  # touches 11 at end: half-open -> no overlap
            iv(2, 23, 9, 12),     # 1-minute overlap with 12
            iv(3, 24, 0, 60),     # other key: never pairs
        ],
        ["user_id", "rid", "start", "end"],
    )
    out = interval_overlap_join(
        left, right, keys=["user_id"], left_id="lid", right_id="rid",
        bucket_seconds=600,
    ).collect()
    got = {(r["user_id"], r["lid"], r["rid"]): r["overlap_seconds"] for r in out}
    # naive reference
    lrows = left.collect()
    rrows = right.collect()
    exp = {}
    for l in lrows:
        for r in rrows:
            if l["user_id"] == r["user_id"] and l["start"] < r["end"] and r["start"] < l["end"]:
                sec = (min(l["end"], r["end"]) - max(l["start"], r["start"])).total_seconds()
                exp[(l["user_id"], l["lid"], r["rid"])] = int(sec)
    assert got == exp
    assert (1, 10, 21) in got and (1, 11, 21) in got  # bucket-crossing pair found once
    assert (1, 11, 22) not in got                     # half-open boundary
    # guard: a pathological interval must raise, not explode 31M rows
    import pytest as _pytest

    huge = spark.createDataFrame(
        [iv(1, 99, 0, 60 * 24 * 400)], ["user_id", "lid", "start", "end"]
    )
    with _pytest.raises(Exception, match="widen bucket_seconds"):
        interval_overlap_join(
            huge, right, keys=["user_id"], left_id="lid", right_id="rid",
            bucket_seconds=60, max_buckets_per_interval=1000,
        ).count()


def test_interval_overlap_plan_has_no_distinct_shuffle(spark):
    """r17 plan pin (guide §2.4): bucket-duplicate pairs collapse via the
    first-overlap-bucket equality, not a distinct — the candidate pair
    stream must NOT re-shuffle into a dedup HashAggregate after the
    equijoin (the only aggregate-free plan is join + filter/project)."""
    import io
    from contextlib import redirect_stdout
    from datetime import datetime, timedelta

    from csv_etl_spark.operators.joins import interval_overlap_join

    base = datetime(2024, 1, 1)
    rows = [(1, 10, base, base + timedelta(minutes=60))]
    left = spark.createDataFrame(rows, ["user_id", "lid", "start", "end"])
    right = spark.createDataFrame(rows, ["user_id", "rid", "start", "end"])
    out = interval_overlap_join(
        left, right, keys=["user_id"], left_id="lid", right_id="rid",
        bucket_seconds=600,
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "HashAggregate" not in plan, plan
    # a pair meeting in several buckets still comes out exactly once
    assert out.count() == 1


def test_interval_overlap_degenerate_intervals(spark):
    """Zero-length and inverted intervals match NOTHING (documented
    half-open semantics: [t, t) is the empty set), even when the point
    lies strictly inside a partner interval (round-8 ADVICE pin)."""
    from datetime import datetime, timedelta

    from csv_etl_spark.operators.joins import interval_overlap_join

    base = datetime(2024, 1, 1)

    def iv(uid, iid, s_min, e_min):
        return (uid, iid, base + timedelta(minutes=s_min), base + timedelta(minutes=e_min))

    left = spark.createDataFrame(
        [
            iv(1, 10, 30, 30),   # zero-length point inside right-20
            iv(1, 11, 50, 40),   # inverted: malformed, dropped
            iv(1, 12, 10, 35),   # sane interval: the control pair
        ],
        ["user_id", "lid", "start", "end"],
    )
    right = spark.createDataFrame(
        [iv(1, 20, 0, 60)], ["user_id", "rid", "start", "end"]
    )
    out = interval_overlap_join(
        left, right, keys=["user_id"], left_id="lid", right_id="rid",
        bucket_seconds=600,
    ).collect()
    got = {(r["lid"], r["rid"]) for r in out}
    assert got == {(12, 20)}  # point + inverted rows paired with nothing
    # symmetric: degenerate rows on the RIGHT side match nothing either
    out2 = interval_overlap_join(
        right, left, keys=["user_id"], left_id="rid", right_id="lid",
        bucket_seconds=600,
    ).collect()
    assert {(r["rid"], r["lid"]) for r in out2} == {(20, 12)}


def test_interval_overlap_duplicate_rows_pair_per_copy(spark):
    """Row-identical duplicate inputs pair once per copy (SQL join
    semantics, as documented) — 2 left copies × 3 right copies of one
    overlapping pair come out as 6 rows, not collapsed to 1."""
    from datetime import datetime, timedelta

    from csv_etl_spark.operators.joins import interval_overlap_join

    base = datetime(2024, 1, 1)
    row = (1, 10, base, base + timedelta(minutes=90))
    left = spark.createDataFrame([row] * 2, ["user_id", "lid", "start", "end"])
    right = spark.createDataFrame(
        [(1, 20, base + timedelta(minutes=30), base + timedelta(minutes=150))] * 3,
        ["user_id", "rid", "start", "end"],
    )
    out = interval_overlap_join(
        left, right, keys=["user_id"], left_id="lid", right_id="rid",
        bucket_seconds=600,
    ).collect()
    assert len(out) == 6
    assert {(r["lid"], r["rid"], r["overlap_seconds"]) for r in out} == {(10, 20, 3600)}


def test_remove_duplicate_spans_plan_is_mask_join_not_token_shuffle(spark):
    """r17 plan pin: removal is a map-side HOF filter behind one small
    mask join — the corpus token stream must NOT ride a collect_list
    reassembly shuffle (the r16 spelling's ObjectHashAggregate), and an
    all-tokens-removed doc still yields an empty-text row."""
    import io
    from contextlib import redirect_stdout

    span = " ".join(f"s{j}" for j in range(32))
    df = spark.createDataFrame(
        [(1, span), (2, span), (3, "solo " * 5)], ["doc_id", "text"]
    )
    out = dedup.remove_duplicate_spans(df, span_tokens=32, stride=16)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # the r16 reassembly: posexplode tokens -> anti-join -> collect_list
    # shuffle.  Gone: no collect_list anywhere, and the removal is a
    # higher-order filter/exists expression in the output projection
    # (the only aggregate over window starts is the small collect_set
    # mask build; the only Generate is the cached window build).
    assert "collect_list" not in plan, plan
    assert "exists(" in plan, plan
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 2 loses its entire text (whole doc is the flagged span)
    assert rows[2]["text"] == "" and rows[2]["n_tokens_removed"] == 32
    assert rows[1]["text"] == span and rows[1]["n_tokens_removed"] == 0
    assert rows[3]["n_tokens"] == 5 and rows[3]["n_tokens_removed"] == 0


def test_remove_duplicate_spans_keeps_lowest_doc(spark):
    prefix = " ".join(f"p{j}" for j in range(32))
    tail_a = " ".join(f"a{j}" for j in range(10))
    tail_b = " ".join(f"b{j}" for j in range(10))
    rows = [
        (1, f"{prefix} {tail_a}"),
        (2, f"{prefix} {tail_b}"),
        (3, "unrelated " * 40),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           dedup.remove_duplicate_spans(df, span_tokens=32, stride=16).collect()}
    # doc 1 (lowest) keeps everything
    assert out[1]["n_tokens_removed"] == 0
    assert out[1]["text"] == f"{prefix} {tail_a}"
    # doc 2 loses the shared 32-token window, keeps its tail
    assert out[2]["n_tokens_removed"] == 32
    assert out[2]["text"] == tail_b
    # doc 3 untouched (whitespace-normalized re-join)
    assert out[3]["n_tokens_removed"] == 0
    assert out[3]["text"] == " ".join(["unrelated"] * 40)
    # composition: after removal, no cross-doc duplicated spans remain
    cleaned = spark.createDataFrame(
        [(k, v["text"]) for k, v in out.items()], ["doc_id", "text"]
    )
    assert dedup.duplicate_spans(cleaned, span_tokens=32, stride=16).count() == 0


def test_moment_stats_guard_survives_projection(spark):
    """The overflow assert must ride every stat column: a caller selecting
    only (keys, mean_x, stddev_x) — events_anomalies' projection — must
    still error on overflow instead of reverting to silent NULLs."""
    import pytest

    from csv_etl_spark.operators.stats import moment_stats

    big = spark.createDataFrame([("o", 3.2e12, 1.0)] * 11, ["k", "x", "y"])
    pruned = moment_stats(big, "x", "y", by=["k"]).select("k", "mean_x", "stddev_x")
    plan = pruned._jdf.queryExecution().optimizedPlan().toString()
    assert "raise_error" in plan or "assert_true" in plan
    with pytest.raises(Exception, match="re-center|overflow|ASSERT|OVERFLOW"):
        pruned.collect()


def test_winsorize_and_token_budget_null_groups(spark):
    """NULL group keys must not silently drop rows: winsorize preserves
    row count, token_budget_select gives NULL-source docs their own
    budget group; NULL text counts 0 tokens."""
    from csv_etl_spark.operators.sampling import token_budget_select
    from csv_etl_spark.operators.stats import winsorize

    rows = [("a", 1.0), ("a", 100.0), (None, 5.0), (None, 6.0)]
    df = spark.createDataFrame(rows, ["k", "v"])
    out = winsorize(df, "v", by=["k"]).collect()
    assert len(out) == 4  # NULL-group rows survive
    assert {r["k"] for r in out} == {"a", None}

    docs = [
        (1, "w w w", "s"),
        (2, "w w", None),      # NULL group forms its own budget group
        (3, None, None),       # NULL text -> 0 tokens, still selectable
        (4, "w w w w", "s"),
    ]
    ddf = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    got = {r["doc_id"]: (r["source"], r["n_tokens"], r["cum_tokens"])
           for r in token_budget_select(ddf, budget=10, by="source").collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[2][0] is None and got[3][1] == 0
    # per-group cumsums are internally consistent
    null_grp = sorted(v[2] for k, v in got.items() if v[0] is None)
    assert null_grp[-1] == 2  # 2 + 0 tokens in the NULL group


def test_dsir_importance_prefers_target_like_docs(spark):
    from csv_etl_spark.operators.text import dsir_importance

    target = spark.createDataFrame(
        [(100, "physics quantum electron proton neutron field theory")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "quantum electron field theory proton"),   # target-like
            (2, "recipe butter sugar flour oven bake"),    # off-domain
            (3, "quantum recipe electron butter"),         # mixed
            (4, ""),                                        # empty -> 0.0
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dsir_importance(corpus, target).collect()}
    assert out[1]["log_importance"] > out[3]["log_importance"] > out[2]["log_importance"]
    assert out[1]["log_importance"] > 0 and out[2]["log_importance"] < 0
    assert out[4]["n_tokens"] == 0 and out[4]["log_importance"] == 0.0
    # layout independence (decimal micro-unit sum, no double-order drift)
    again = {r["doc_id"]: r["log_importance"]
             for r in dsir_importance(corpus.repartition(7), target).collect()}
    assert {k: v["log_importance"] for k, v in out.items()} == again


def test_corpus_report_summary(spark):
    from csv_etl_spark.operators.text import corpus_report

    rows = [
        (1, "the cat sat on the mat with a hat", "a"),
        (2, "THE CAT SAT ON THE MAT, WITH A HAT!", "a"),  # normalized dup of 1
        (3, "el la de que y le un una les si", "a"),       # non-English
        (4, "the dog and the fox are in the box", "b"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["source"]: r for r in corpus_report(df).collect()}
    a = out["a"]
    assert a["n_docs"] == 3 and a["n_tokens"] == 9 + 9 + 10
    assert a["dup_frac"] == pytest.approx(round(1 - 2 / 3, 6))
    assert a["english_frac"] == pytest.approx(round(2 / 3, 6))
    b = out["b"]
    assert b["n_docs"] == 1 and b["dup_frac"] == 0.0 and b["english_frac"] == 1.0
    assert 0.0 <= a["mean_quality"] <= 1.0


# ---------------------------------------------------------------------------
# apply_phrase_merges (round 8: the trainer's other half)
# ---------------------------------------------------------------------------


def _serial_apply_merges(docs, merges, joiner="_", lowercase=True):
    """Greedy left-to-right non-overlapping application of a rank-ordered
    merge list — the exact semantics of the trainer's merge pass."""
    out = []
    for d in docs:
        t = d.lower().split() if lowercase else d.split()
        for pair in merges:
            a, b = pair.split(" ", 1)
            nt, i = [], 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == a and t[i + 1] == b:
                    nt.append(a + joiner + b)
                    i += 2
                else:
                    nt.append(t[i])
                    i += 1
            t = nt
        out.append(t)
    return out


def test_apply_phrase_merges_matches_serial(spark):
    docs = [
        "new york city is in new york",
        "a a a",                 # greedy: [a_a, a] not [a, a_a]
        "a b a b",               # back-to-back: both occurrences merge
        "",                      # empty doc -> ("", 0)
        "   ",                   # whitespace-only -> ("", 0)
        "solo",
        "new york new york city",  # chained: 2nd merge consumes 1st's output
    ]
    merges = ["new york", "a a", "a b", "new_york city"]
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: (r["merged_text"], r["n_tokens"])
        for r in text.apply_phrase_merges(df, merges).collect()
    }
    exp_tokens = _serial_apply_merges(docs, merges)
    for i, t in enumerate(exp_tokens):
        assert got[i] == (" ".join(t), len(t)), (i, docs[i], got[i], t)
    assert got[1] == ("a_a a", 2)
    assert got[2] == ("a_b a_b", 2)
    assert got[3] == ("", 0) and got[4] == ("", 0)
    # explicit chained expectation (doc 6): "new york new york city"
    #   merge1 -> [new_york, new_york, city]; merge4 -> [new_york, new_york_city]
    assert got[6] == ("new_york new_york_city", 2)


def test_apply_phrase_merges_train_then_apply_roundtrip(spark):
    """Composing train -> apply reproduces the serial pipeline end-to-end:
    the corpus re-tokenized with its own learned merges."""
    docs = [
        "big data big data pipeline",
        "big data is big data",
        "pipeline of big data",
    ]
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], ["doc_id", "text"]
    )
    m = text.phrase_merges(df, k=3)
    pairs = [r["pair"] for r in m.orderBy("rank").collect()]
    assert pairs  # "big data" must be learned
    got = {
        r["doc_id"]: r["merged_text"]
        for r in text.apply_phrase_merges(df, m).collect()  # DataFrame form
    }
    exp = _serial_apply_merges(docs, pairs)
    for i, t in enumerate(exp):
        assert got[i] == " ".join(t)
    assert "big_data" in got[0]


def test_apply_phrase_merges_metachar_tokens(spark):
    """Plain (non-regex) replace: metacharacter tokens need no quoting,
    but must still merge correctly and only at token boundaries."""
    docs = ["$x (y) $x (y)", "a.b a.b $x", "ax (y)"]  # "ax" must NOT match "$x"
    merges = ["$x (y)", "a.b a.b"]
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r["merged_text"]
        for r in text.apply_phrase_merges(df, merges, lowercase=False).collect()
    }
    exp = _serial_apply_merges(docs, merges, lowercase=False)
    assert got == {i: " ".join(t) for i, t in enumerate(exp)}
    assert got[0] == "$x_(y) $x_(y)"
    assert got[2] == "ax (y)"  # substring of a merge token: untouched


# ---------------------------------------------------------------------------
# quality_classifier (round 8: NB log-odds learned gate)
# ---------------------------------------------------------------------------


def _serial_nb_scores(rows, labels, n_features=64, alpha=0.5):
    """Python reference of classify.quality_classifier: identical hashing
    (md5 top 32 bits), identical smoothing, identical 6-decimal rounding
    before the sum."""
    import hashlib
    from collections import defaultdict

    def feat(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % n_features

    doc_feats = {}
    for doc_id, txt in rows:
        toks = txt.lower().split()
        doc_feats[doc_id] = sorted({feat(t) for t in toks})
    cpos, cneg = defaultdict(int), defaultdict(int)
    npos = sum(1 for v in labels.values() if v)
    nneg = len(labels) - npos
    for doc_id, feats in doc_feats.items():
        for f_ in feats:
            if labels[doc_id]:
                cpos[f_] += 1
            else:
                cneg[f_] += 1
    tpos, tneg = sum(cpos.values()), sum(cneg.values())
    import math

    def w(f_):
        return round(
            math.log((cpos[f_] + alpha) / (tpos + alpha * n_features))
            - math.log((cneg[f_] + alpha) / (tneg + alpha * n_features)),
            6,
        )

    bias = round(math.log((npos + alpha) / (nneg + alpha)), 6)
    out = {}
    for doc_id, feats in doc_feats.items():
        s = round(bias + sum(w(f_) for f_ in feats), 6)
        out[doc_id] = (len(feats), s, s > 0)
    return out


def test_quality_classifier_matches_serial_reference(spark):
    from csv_etl_spark.operators import classify

    good = ["the quick brown fox jumps", "the lazy dog sleeps well",
            "a quick dog jumps high"]
    bad = ["buy now click here spam", "click click spam spam buy",
           "spam here now buy buy"]
    rows = [(i, t) for i, t in enumerate(good + bad)]
    labels = {i: i < len(good) for i, _ in rows}
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    lab_df = spark.createDataFrame(
        [(i, v) for i, v in labels.items()], ["doc_id", "label"]
    )
    out = {
        r["doc_id"]: (r["n_features"], r["score"], r["predicted"])
        for r in classify.quality_classifier(
            df, lab_df, n_features=64
        ).collect()
    }
    exp = _serial_nb_scores(rows, labels, n_features=64)
    assert set(out) == set(exp)
    for i in out:
        assert out[i][0] == exp[i][0], (i, out[i], exp[i])
        assert out[i][1] == pytest.approx(exp[i][1], abs=2e-6), (i, out[i], exp[i])
    # the learned gate separates the two vocabularies
    assert all(out[i][2] for i in range(3))
    assert not any(out[i][2] for i in range(3, 6))


def test_quality_classifier_empty_doc_scores_bias(spark):
    import math

    from csv_etl_spark.operators import classify

    df = spark.createDataFrame(
        [(1, "good text here"), (2, "bad spam text"), (3, ""), (4, "   ")],
        ["doc_id", "text"],
    )
    lab = spark.createDataFrame(
        [(1, True), (2, False), (3, True), (4, False)], ["doc_id", "label"]
    )
    out = {
        r["doc_id"]: r
        for r in classify.quality_classifier(df, lab, n_features=32).collect()
    }
    bias = round(math.log((2 + 0.5) / (2 + 0.5)), 6)  # balanced -> 0.0
    assert out[3]["n_features"] == 0 and out[3]["score"] == pytest.approx(bias)
    assert out[4]["n_features"] == 0 and out[4]["score"] == pytest.approx(bias)


def test_lang_id_model_held_out_sentences(spark):
    """r15 (verdict ask #5): the trained char-trigram NB must classify
    HELD-OUT sentences (none appear in the seed corpora) for all five
    languages, plus 'unknown' for sub-trigram text.  Also pins the
    serial replica of the scoring arithmetic so the distributed
    micro-unit sum is the model's true score."""
    import math
    from collections import Counter

    from csv_etl_spark.operators import classify

    held_out = [
        (1, "she was reading a book about the history of music", "en"),
        (2, "we should never forget what they said about the future", "en"),
        (3, "los ninos estaban jugando en el jardin con la pelota", "es"),
        (4, "manana vamos a comprar pan y leche en el mercado", "es"),
        (5, "nous avons mange du pain avec du fromage dans la cuisine", "fr"),
        (6, "elle veut apprendre une nouvelle langue cette annee", "fr"),
        (7, "wir haben gestern einen langen brief an unsere mutter geschrieben", "de"),
        (8, "das kind spielt mit dem ball im garten hinter dem haus", "de"),
        (9, "nos vamos amanha para a praia com as criancas e o cachorro", "pt"),
        (10, "o menino encontrou um passarinho ferido no caminho da escola", "pt"),
        (11, "ab", "unknown"),
        (12, "", "unknown"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in held_out], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in classify.lang_id_model(df).collect()}
    for i, _, want in held_out:
        assert out[i]["lang_pred"] == want, (i, out[i])

    # serial replica: score doc 3 by hand from the same model rows
    model_rows, lang_rows = classify.lang_trigram_model()
    adj = {(t, lg): w for t, lg, w in model_rows}
    text = held_out[2][1].lower()
    n3 = len(text) - 2
    tri = Counter(text[j : j + 3] for j in range(n3))
    best = None
    for lg, prior, default in lang_rows:
        sm = prior + n3 * default + sum(
            n * adj.get((t, lg), 0) for t, n in tri.items()
        )
        if best is None or (-sm, lg) < best:
            best = (-sm, lg)
    assert best[1] == "es"
    assert out[3]["lang_score"] == round(-best[0] / 1_000_000, 6)


def test_quantize_embeddings_tinyint_parity(spark):
    """r15: dtype='tinyint' stores the same codes as the default int
    schema (values in [-127,127] fit both) — only the storage width
    changes, so the shuffle-bound q8 spelling is value-identical."""
    from csv_etl_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0]), (3, [3.0, 2.0, -3.0])],
        "vec_id int, embedding array<double>",
    )
    as_int = {r["vec_id"]: (list(r["qvec"]), r["scale"])
              for r in quantize_embeddings(df).collect()}
    as_i8 = {r["vec_id"]: (list(r["qvec"]), r["scale"])
             for r in quantize_embeddings(df, dtype="tinyint").collect()}
    assert as_int == as_i8
    t = dict(quantize_embeddings(df, dtype="tinyint").dtypes)
    assert t["qvec"] == "array<tinyint>"
    assert as_int[2] == ([0, 0, 0], 0.0)
    assert as_int[3][0] == [127, 85, -127]


def test_lang_id_model_deterministic_and_bounded(spark):
    """Model fit is import-time deterministic (no RNG) and bounded:
    two fits are identical, the model stays broadcast-sized, and the
    per-language constants are finite."""
    import math

    from csv_etl_spark.operators import classify

    m1, l1 = classify.lang_trigram_model()
    m2, l2 = classify.lang_trigram_model()
    assert m1 == m2 and l1 == l2
    assert len(m1) < 2000
    assert all(isinstance(w, int) for _, _, w in m1)
    assert len(l1) == len(classify._LANG_SEEDS)
    for _, prior, default in l1:
        assert math.isfinite(prior) and default < 0


# ---------------------------------------------------------------------------
# span-dedup property fuzz (round 8: verdict item #4 — mirror the
# mixture-resample / stream-parity fuzz discipline for the newest
# nontrivial reassembly path)
# ---------------------------------------------------------------------------


def _serial_span_dedup(docs, span_tokens, stride, min_docs):
    """Serial replica of the documented span-dedup semantics: full
    strided windows keyed by content, >=min_docs distinct docs flags the
    window, lowest doc keeps, losers lose the window's token range
    (overlaps union), text re-joined from survivors in order."""
    toks = {i: d.split() for i, d in docs.items()}
    wins = {}  # content -> list[(doc, start)]
    for i, t in toks.items():
        for s in range(0, len(t) - span_tokens + 1, stride):
            wins.setdefault(tuple(t[s:s + span_tokens]), []).append((i, s))
    flagged = {}  # (doc, start) -> n_docs
    masks = {i: set() for i in toks}
    for content, occs in wins.items():
        ds = {d for d, _ in occs}
        if len(ds) < min_docs:
            continue
        keeper = min(ds)
        for d, s in occs:
            flagged[(d, s)] = len(ds)
            if d != keeper:
                masks[d].update(range(s, s + span_tokens))
    out = {}
    for i, t in toks.items():
        kept = [tok for p, tok in enumerate(t) if p not in masks[i]]
        out[i] = (" ".join(kept), len(t), len(masks[i]))
    return flagged, out


def test_span_dedup_property_fuzz(spark):
    """Random corpora with planted shared spans: (a) exactly one copy of
    every flagged span survives (the lowest doc), (b) n_tokens_removed
    equals the union-mask size, (c) keeper-doc text is unchanged
    (modulo whitespace normalization), and the whole output matches a
    serial replica of the documented semantics."""
    import random

    from hypothesis import given, settings
    from hypothesis import strategies as st

    SPAN, STRIDE = 4, 2

    @settings(max_examples=5, deadline=None)
    @given(seed=st.integers(min_value=0, max_value=10_000))
    def check(seed):
        rng = random.Random(seed)
        n_docs = rng.randint(2, 5)
        shared = [f"s{j}" for j in range(SPAN)]  # the planted span
        docs = {}
        for i in range(n_docs):
            # stride-aligned unique prefix, then maybe the span, then tail
            pre = rng.randrange(0, 4) * STRIDE
            body = [f"d{i}u{j}" for j in range(pre)]
            if rng.random() < 0.75:
                body += shared
            body += [f"d{i}t{j}" for j in range(rng.randrange(0, 6))]
            docs[i * 10] = " ".join(body)  # non-contiguous ids
        df = spark.createDataFrame(
            list(docs.items()), ["doc_id", "text"]
        )
        exp_flagged, exp_out = _serial_span_dedup(docs, SPAN, STRIDE, 2)

        got_flagged = {
            (r["doc_id"], r["start_token"]): r["n_docs"]
            for r in dedup.duplicate_spans(
                df, span_tokens=SPAN, stride=STRIDE
            ).collect()
        }
        assert got_flagged == exp_flagged, (seed, got_flagged, exp_flagged)

        got = {
            r["doc_id"]: (r["text"], r["n_tokens"], r["n_tokens_removed"])
            for r in dedup.remove_duplicate_spans(
                df, span_tokens=SPAN, stride=STRIDE
            ).collect()
        }
        assert got == exp_out, (seed, got, exp_out)
        # explicit named properties on top of the full equality:
        for i, txt in docs.items():
            # (c) any doc with an empty mask is byte-identical mod ws-norm
            if exp_out[i][2] == 0:
                assert got[i][0] == " ".join(txt.split())
        # (a) each flagged span content survives in exactly the docs that
        # kept it — count surviving copies of the planted span
        flagged_docs = {d for (d, _s) in exp_flagged}
        if flagged_docs:
            surviving = [
                i for i in docs
                if " ".join(shared) in got[i][0]
            ]
            planted_docs = [i for i in docs if " ".join(shared) in docs[i]]
            if len(planted_docs) >= 2:
                assert surviving == [min(planted_docs)], (seed, surviving)

    check()


def test_winsorize_plan_no_window_broadcast_bounds(spark):
    """Plan-shape pin (round 8, verdict #6): winsorize's claim is "tiny
    bounds agg broadcast back, NO per-group window over the data" — a
    refactor to Window.partitionBy would pass every value test while
    single-reducing each group at 100 TB.  Assert the shape itself."""
    from csv_etl_spark.operators.stats import winsorize

    df = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(200)], ["id", "g", "v"]
    )
    plan = (
        winsorize(df, "v", by=["g"])._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan  # bounds join keeps its hint
    plan0 = (
        winsorize(df, "v")._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan0
    assert "Broadcast" in plan0  # ungrouped: broadcast nested-loop x 1 row


def test_lm_score_buckets_plan_no_window_broadcast_bounds(spark):
    """Same pin for lm_score_buckets: boundary agg (n_groups rows) joins
    back BROADCAST; no Window over the scored corpus."""
    rows = [(i, f"tok{i % 7} common text here", f"s{i % 2}") for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    plan = (
        text.lm_score_buckets(df, by="source")._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# percent_rank_transform / pairwise_corr (round 8)
# ---------------------------------------------------------------------------


def test_percent_rank_matches_sql_window(spark):
    """Window-free percent_rank must equal Spark's own percent_rank()
    window — ties, 1-row groups, and NULLs included."""
    import random

    from pyspark.sql import Window

    from csv_etl_spark.operators.stats import percent_rank_transform

    rng = random.Random(4)
    rows = []
    for i in range(120):
        g = f"g{i % 3}" if i % 17 else "solo"[:4]  # plus a tiny group
        v = None if i % 29 == 0 else float(rng.randrange(0, 12))  # many ties
        rows.append((i, g, v))
    rows.append((999, "one", 5.0))  # 1-row group -> 0.0
    df = spark.createDataFrame(rows, ["id", "g", "v"])

    # grouped
    got = {
        r["id"]: r["pct_rank"]
        for r in percent_rank_transform(df, "v", by=["g"]).collect()
    }
    w = Window.partitionBy("g").orderBy("v")
    exp = {
        r["id"]: (None if r["v"] is None else r["p"])
        for r in df.filter(F.col("v").isNotNull())
        .withColumn("p", F.percent_rank().over(w))
        .unionByName(
            df.filter(F.col("v").isNull()).withColumn("p", F.lit(None).cast("double"))
        )
        .collect()
    }
    assert got == exp
    assert got[999] == 0.0

    # global
    got_g = {
        r["id"]: r["pct_rank"]
        for r in percent_rank_transform(df, "v").collect()
    }
    wg = Window.orderBy("v")
    exp_g = {
        r["id"]: r["p"]
        for r in df.filter(F.col("v").isNotNull())
        .withColumn("p", F.percent_rank().over(wg))
        .collect()
    }
    for i, p in exp_g.items():
        assert got_g[i] == p, i
    assert all(got_g[i] is None for i, (_, _, v) in
               ((r[0], r) for r in rows) if v is None)


def test_percent_rank_plan_no_window(spark):
    """The whole point: no Window over the data (a global orderBy window
    is a single-reducer pass at 100 TB)."""
    from csv_etl_spark.operators.stats import percent_rank_transform

    df = spark.createDataFrame(
        [(i, f"g{i % 2}", float(i % 7)) for i in range(50)], ["id", "g", "v"]
    )
    plan = (
        percent_rank_transform(df, "v", by=["g"])._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "Window" not in plan


def test_pairwise_corr_matches_numpy(spark):
    import numpy as np

    from csv_etl_spark.operators.stats import pairwise_corr

    rng = np.random.default_rng(7)
    n = 300
    x = rng.normal(10, 2, n).round(4)
    y = (0.5 * x + rng.normal(0, 1, n)).round(4)
    z = rng.normal(-5, 3, n).round(4)
    const = np.full(n, 2.5)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c), float(k)) for a, b, c, k in zip(x, y, z, const)],
        ["x", "y", "z", "k"],
    )
    out = {
        (r["col_x"], r["col_y"]): (r["n"], r["corr"])
        for r in pairwise_corr(df, ["x", "y", "z", "k"]).collect()
    }
    assert set(out) == {("x", "y"), ("x", "z"), ("x", "k"), ("y", "z"), ("y", "k"), ("z", "k")}
    for a, av in (("x", x), ("y", y), ("z", z)):
        for b, bv in (("x", x), ("y", y), ("z", z)):
            if a < b:
                exp = float(np.corrcoef(av, bv)[0, 1])
                got_n, got_c = out[(a, b)]
                assert got_n == n
                # 1e-6 quantization + rounding tolerance
                assert got_c == pytest.approx(exp, abs=5e-4), (a, b)
    # constant column: undefined corr -> NULL
    assert out[("x", "k")] == (n, None)


def test_pairwise_corr_arrow_partials_match_jvm_decimal_path(spark):
    """r17 bit-parity pin: the Arrow exact-int moment pass must agree
    with the old JVM decimal-aggregate spelling on EVERY edge the
    quantizer can see — SQL NULL (excluded by pairwise deletion), real
    NaN (Double.NaN.toLong == 0), ±Inf and out-of-long-range magnitudes
    (saturate to ±2^63), negatives, and exact zero."""
    from pyspark.sql import functions as F

    from csv_etl_spark.operators.stats import QUANT, _q, pairwise_corr

    nan, inf = float("nan"), float("inf")
    # exactly ONE saturating row: a single (±2^63)² product is 38 digits
    # (fits decimal(38,0)); a second would overflow the sum in BOTH the
    # old decimal path and the new one — equally loud, but incomparable
    rows = [
        (1.25, -3.5),
        (nan, 2.0),
        (inf, -inf),
        (None, 4.0),
        (5.0, None),
        (0.0, -0.0),
        (-7.125, 9.75),
        (2.0, 3.0),
    ]
    df = spark.createDataFrame(rows, ["x", "y"])
    # uncentered, and centered on x (pins the Arrow pass's centering branch)
    for center_x in (0.0, 1.5):
        centers = {"x": center_x} if center_x else None
        got = pairwise_corr(df, ["x", "y"], centers=centers).collect()[0]

        # reference: the pre-r17 fused decimal aggregate, spelled inline
        cond = F.col("x").isNotNull() & F.col("y").isNotNull()
        qa = F.when(cond, _q(F.col("x"), center_x))
        qb = F.when(cond, _q(F.col("y"), 0.0))
        ref = df.agg(
            F.count(F.when(cond, 1)).alias("n"),
            F.sum(qa).alias("sa"),
            F.sum(qb).alias("sb"),
            F.sum(qa * qa).alias("saa"),
            F.sum(qb * qb).alias("sbb"),
            F.sum(qa * qb).alias("sab"),
        ).collect()[0]
        # combine in Spark (JVM HALF_UP round, same double ops as the op)
        one = spark.createDataFrame(
            [(ref["n"], ref["sa"], ref["sb"], ref["saa"], ref["sbb"], ref["sab"])],
            "n bigint, sa decimal(38,0), sb decimal(38,0), saa decimal(38,0),"
            " sbb decimal(38,0), sab decimal(38,0)",
        )
        nn = F.col("n").cast("double")
        sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
        van = nn * F.col("saa").cast("double") - sa * sa
        vbn = nn * F.col("sbb").cast("double") - sb * sb
        cvn = nn * F.col("sab").cast("double") - sa * sb
        exp = one.select(
            F.when(
                (F.col("n") >= 2) & (van > 0) & (vbn > 0),
                F.round(cvn / F.sqrt(van) / F.sqrt(vbn), 6),
            ).alias("corr")
        ).collect()[0]
        assert got["n"] == ref["n"] == 6, center_x
        assert got["corr"] == exp["corr"] and got["corr"] is not None, center_x
    assert QUANT == 1_000_000  # the replica hard-codes the same scale


def test_pairwise_corr_hostile_column_names(spark):
    """Every pair matches numpy whatever the column names: pairs whose
    names join to the same ``a__b__c`` tag, and names with a backtick,
    a quote, a dot or a backslash."""
    import numpy as np

    from csv_etl_spark.operators.stats import pairwise_corr

    rng = np.random.default_rng(11)
    n = 200
    vals = [rng.normal(i, 1 + i, n).round(4) for i in range(4)]
    vals[3] = (vals[3] + 0.7 * vals[2]).round(4)
    rows = [tuple(float(v[r]) for v in vals) for r in range(n)]
    for cols in (["a__b", "c", "a", "b__c"], ["x`y", "it's", "p.q", "back\\slash"]):
        df = spark.createDataFrame(rows, cols)
        out = {
            (r["col_x"], r["col_y"]): (r["n"], r["corr"])
            for r in pairwise_corr(df, cols).collect()
        }
        assert len(out) == 6, cols
        for i, a in enumerate(cols):
            for j in range(i + 1, len(cols)):
                exp = float(np.corrcoef(vals[i], vals[j])[0, 1])
                got_n, got_c = out[(a, cols[j])]
                assert got_n == n
                assert got_c == pytest.approx(exp, abs=5e-4), (a, cols[j])


def test_pairwise_corr_pairwise_deletion(spark):
    """Each pair's n counts only rows where BOTH columns are present."""
    from csv_etl_spark.operators.stats import pairwise_corr

    rows = [
        (1.0, 2.0, None),
        (2.0, 4.0, 1.0),
        (3.0, 6.0, 2.0),
        (4.0, None, 3.0),
        (5.0, 10.0, None),
    ]
    df = spark.createDataFrame(rows, ["a", "b", "c"])
    out = {
        (r["col_x"], r["col_y"]): (r["n"], r["corr"])
        for r in pairwise_corr(df, ["a", "b", "c"]).collect()
    }
    assert out[("a", "b")][0] == 4 and out[("a", "b")][1] == pytest.approx(1.0)
    assert out[("a", "c")][0] == 3 and out[("a", "c")][1] == pytest.approx(1.0)
    assert out[("b", "c")][0] == 2  # rows 2,3 only
    # single-scan plan: all pairs from ONE aggregation over one scan
    plan = pairwise_corr(df, ["a", "b", "c"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ") <= 1


def test_quality_classifier_plan_shape(spark):
    """Model join must be broadcast (the weight table is bounded at
    n_features rows by construction) and nothing may Window over the
    corpus."""
    from csv_etl_spark.operators import classify

    df = spark.createDataFrame(
        [(i, f"tok{i % 5} text here") for i in range(40)], ["doc_id", "text"]
    )
    lab = spark.createDataFrame(
        [(i, i % 2 == 0) for i in range(40)], ["doc_id", "label"]
    )
    plan = (
        classify.quality_classifier(df, lab, n_features=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_percent_rank_null_group_key(spark):
    """NULL group keys form their own partition (SQL PARTITION BY
    semantics) — the null-safe join-back must rank them, not drop them."""
    from csv_etl_spark.operators.stats import percent_rank_transform

    rows = [
        (1, None, 1.0), (2, None, 2.0), (3, None, 3.0),
        (4, "g", 5.0), (5, "g", 7.0),
    ]
    df = spark.createDataFrame(rows, ["id", "g", "v"])
    got = {r["id"]: r["pct_rank"]
           for r in percent_rank_transform(df, "v", by=["g"]).collect()}
    assert got == {1: 0.0, 2: 0.5, 3: 1.0, 4: 0.0, 5: 1.0}


def test_quality_classifier_partial_labels(spark):
    """Docs without labels are excluded from TRAINING but still scored
    (the bootstrap pattern: label a seed subset, score the corpus)."""
    from csv_etl_spark.operators import classify

    df = spark.createDataFrame(
        [(1, "good clean text"), (2, "spam junk click"),
         (3, "good text again"), (4, "unlabeled mystery doc")],
        ["doc_id", "text"],
    )
    lab = spark.createDataFrame([(1, True), (2, False)], ["doc_id", "label"])
    out = {r["doc_id"]: r for r in
           classify.quality_classifier(df, lab, n_features=32).collect()}
    assert set(out) == {1, 2, 3, 4}  # all docs scored
    assert out[1]["score"] > 0 and out[2]["score"] < 0
    assert out[3]["score"] > 0  # shares "good"/"text" with the pos class


def test_apply_phrase_merges_empty_merge_table(spark):
    """An empty merge table (trainer found nothing above min_count) is
    identity re-tokenization."""
    df = spark.createDataFrame([(1, "Keep  My   Tokens"), (2, "")],
                               ["doc_id", "text"])
    got = {r["doc_id"]: (r["merged_text"], r["n_tokens"])
           for r in text.apply_phrase_merges(df, []).collect()}
    assert got == {1: ("keep my tokens", 3), 2: ("", 0)}


def test_dhash_band_arity_semantics(spark):
    """band_arity=2 (default): candidates need >= 2 shared 16-bit bands.
    A pair sharing exactly ONE band (errors spread across the other
    three) is the documented recall trade vs band_arity=1; the arity-1
    path is guarded against saturated corpora."""
    from csv_etl_spark.operators.multimodal import dhash_near_dup_pairs

    A = "aaaa" + "bbbb" + "cccc" + "dddd"
    # B: shares only band 0; bands 1-3 each differ by exactly 1 bit
    B = "aaaa" + "bbba" + "cccd" + "dddc"  # b^a=1bit? see asserts below
    # C: shares bands 0-2; band 3 differs by 1 bit
    C = "aaaa" + "bbbb" + "cccc" + "dddc"
    df = spark.createDataFrame(
        [(1, A), (2, B), (3, C)], ["media_id", "dhash"]
    )

    def ham(x, y):
        return bin(int(x, 16) ^ int(y, 16)).count("1")

    assert ham(A, B) <= 4 and ham(A, C) <= 4

    got2 = {(r["id_a"], r["id_b"]) for r in
            dhash_near_dup_pairs(df, max_hamming=4, allow_recall_gap=True).collect()}
    assert (1, 3) in got2          # 3 shared bands
    assert (1, 2) not in got2      # only 1 shared band: documented miss
    got1 = {(r["id_a"], r["id_b"]) for r in
            dhash_near_dup_pairs(df, max_hamming=4, band_arity=1).collect()}
    assert (1, 2) in got1 and (1, 3) in got1  # arity-1 finds both
    # guard: arity-1 over a "saturated" corpus refuses up front
    with pytest.raises(ValueError, match="max_exact_media"):
        dhash_near_dup_pairs(df, band_arity=1, max_exact_media=2)


# ---------------------------------------------------------------------------
# round 8: MAD outlier gate, basket co-occurrence, record-linkage clusters


def test_mad_outliers_flags_planted_spike_and_keeps_rows(spark):
    from csv_etl_spark.operators.stats import mad_outliers

    rows = [("a", float(i % 7)) for i in range(50)] + [("a", 1e6), ("a", None)]
    rows += [("b", 5.0)] * 9 + [("b", 6.0)]  # MAD = 0 degenerate group
    rows += [(None, float(i)) for i in range(10)]  # NULL group key
    df = spark.createDataFrame(rows, "g string, v double")
    out = mad_outliers(df, "v", by=["g"]).collect()
    assert len(out) == len(rows)  # row count preserved, NULLs included
    by_g = {}
    for r in out:
        by_g.setdefault(r["g"], []).append(r)
    # the spike is the only flagged row in group a; the NULL passes through
    a_flagged = [r["v"] for r in by_g["a"] if r["is_outlier"]]
    assert a_flagged == [1e6]
    assert [r["is_outlier"] for r in by_g["a"] if r["v"] is None] == [None]
    # degenerate group: MAD = 0, rz NULL, value != median flagged
    b = by_g["b"]
    assert all(r["v_mad"] == 0.0 for r in b)
    assert all(r["v_rz"] is None for r in b)
    assert sorted(r["is_outlier"] for r in b) == [False] * 9 + [True]
    # NULL group key forms its own group with its own median
    n = by_g[None]
    assert all(r["v_med"] == 4.5 for r in n)


def test_mad_outliers_global_no_groups(spark):
    from csv_etl_spark.operators.stats import mad_outliers

    df = spark.createDataFrame([(float(i),) for i in range(11)], "v double")
    out = mad_outliers(df, "v").collect()
    assert len(out) == 11
    assert all(r["v_med"] == 5.0 and r["v_mad"] == 3.0 for r in out)
    assert not any(r["is_outlier"] for r in out)


def test_cooccurrence_collapses_dups_and_guards_oversize(spark):
    from csv_etl_spark.operators.affinity import cooccurrence_pairs

    rows = [(1, "x"), (1, "y"), (1, "y"), (2, "x"), (2, "y"), (3, "x"),
            (3, "y"), (3, "z"), (None, "x"), (1, None)]
    df = spark.createDataFrame(rows, "b int, i string")
    got = {(r["item_a"], r["item_b"]): r["pair_count"]
           for r in cooccurrence_pairs(df, "b", "i", min_support=1).collect()}
    # duplicate (1, y) counts once; NULL basket/item rows are ignored
    assert got == {("x", "y"): 3, ("x", "z"): 1, ("y", "z"): 1}
    # support threshold
    got2 = {(r["item_a"], r["item_b"])
            for r in cooccurrence_pairs(df, "b", "i", min_support=2).collect()}
    assert got2 == {("x", "y")}
    # oversize basket dropped by default...
    big = df.union(spark.createDataFrame(
        [(9, f"i{k}") for k in range(12)], "b int, i string"))
    got3 = {(r["item_a"], r["item_b"])
            for r in cooccurrence_pairs(big, "b", "i", min_support=1,
                                        max_basket=10).collect()}
    assert got3 == {("x", "y"), ("x", "z"), ("y", "z")}
    # ...and loud under on_oversize="raise"
    with pytest.raises(Exception, match="max_basket"):
        cooccurrence_pairs(big, "b", "i", max_basket=10,
                           on_oversize="raise").collect()


def test_cooccurrence_freq_cap_drops_hot_items(spark):
    """freq_cap (the hot-item control): an item planted in every basket
    must vanish from pair generation when it exceeds the cap, leaving
    the cold pairs' counts untouched — and the cap must be a no-op when
    no item exceeds it."""
    from csv_etl_spark.operators.affinity import cooccurrence_pairs

    rows = []
    for b in range(10):
        rows.append((b, "hot"))           # in all 10 baskets
        rows.append((b, f"c{b % 3}"))     # cold items in 3-4 baskets
        rows.append((b, f"d{b % 3}"))
    df = spark.createDataFrame(rows, "b int, i string")
    capped = {
        (r["item_a"], r["item_b"]): r["pair_count"]
        for r in cooccurrence_pairs(
            df, "b", "i", min_support=1, freq_cap=5
        ).collect()
    }
    assert all("hot" not in k for k in capped)
    # cold pairs keep exact counts: c_k and d_k co-occur in the baskets
    # where b % 3 == k (4 baskets for k=0, 3 for k=1,2)
    assert capped == {("c0", "d0"): 4, ("c1", "d1"): 3, ("c2", "d2"): 3}
    # cap above every frequency = exact semantics
    exact = {
        (r["item_a"], r["item_b"]): r["pair_count"]
        for r in cooccurrence_pairs(df, "b", "i", min_support=1).collect()
    }
    high = {
        (r["item_a"], r["item_b"]): r["pair_count"]
        for r in cooccurrence_pairs(
            df, "b", "i", min_support=1, freq_cap=100
        ).collect()
    }
    assert high == exact and ("c0", "hot") in exact


def test_cooccurrence_freq_cap_is_lazy(spark):
    """r17: freq_cap no longer probes the hot set eagerly — building the
    capped plan must run ZERO Spark jobs (the r12–r16 spelling collected
    the hot set at plan-construction time through a CollectLimit retry
    ladder), and the lazy left_anti spelling must still drop exactly the
    over-cap items with cold pair counts untouched."""
    from csv_etl_spark.operators import affinity

    rows = []
    for b in range(12):
        rows.append((b, "hot1"))
        rows.append((b, "hot2"))
        rows.append((b, f"c{b % 3}"))
        rows.append((b, f"d{b % 3}"))
    df = spark.createDataFrame(rows, "b int, i string")

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "freqcap-lazy-probe")
    try:
        plan = affinity.cooccurrence_pairs(
            df, "b", "i", min_support=1, freq_cap=5
        )
        ran = sc.statusTracker().getJobIdsForGroup("freqcap-lazy-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not ran, "freq_cap plan construction ran Spark jobs"

    via_join = {
        (r["item_a"], r["item_b"]): r["pair_count"] for r in plan.collect()
    }
    assert all("hot" not in a and "hot" not in b for a, b in via_join)
    assert via_join == {("c0", "d0"): 4, ("c1", "d1"): 4, ("c2", "d2"): 4}


def test_cooccurrence_arrow_kernel_integer_items(spark):
    """The Arrow pair kernel on integer items (the copurchase shape):
    pairs and counts must match the itertools ground truth, and item_a <
    item_b ordering must hold."""
    import itertools
    import random as _random
    from collections import Counter

    from csv_etl_spark.operators.affinity import cooccurrence_pairs

    rng = _random.Random(7)
    rows = [(b, rng.randrange(12)) for b in range(40) for _ in range(rng.randrange(6))]
    df = spark.createDataFrame(rows, "b int, i long")
    baskets: dict[int, set] = {}
    for b, it in rows:
        baskets.setdefault(b, set()).add(it)
    want = Counter()
    for items in baskets.values():
        for a, c in itertools.combinations(sorted(items), 2):
            want[(a, c)] += 1
    got = {
        (r["item_a"], r["item_b"]): r["pair_count"]
        for r in cooccurrence_pairs(df, "b", "i", min_support=1).collect()
    }
    assert got == dict(want)
    assert all(a < b for a, b in got)


def test_cooccurrence_arrow_kernel_chunked_yield_exact(spark, monkeypatch):
    """The per-yield pair-row budget (r11 ADVICE: one Arrow batch of
    large baskets must not materialize its full C(b,2) fan-out before
    the first yield): force a tiny budget so every size group splits
    into many chunks, and verify counts are still exact."""
    import itertools
    from collections import Counter

    from csv_etl_spark.operators import affinity

    monkeypatch.setattr(affinity, "_PAIR_ROW_BUDGET", 5)
    # baskets of size 6 → C(6,2)=15 pairs each, 3× the budget, so each
    # basket alone forces step=max(1, 5//15)=1 (one basket per chunk)
    rows = [(b, b * 10 + k) for b in range(8) for k in range(6)]
    rows += [(100, 1), (100, 2), (100, 3)]  # a small basket too
    df = spark.createDataFrame(rows, "b int, i long")
    baskets: dict[int, set] = {}
    for b, it in rows:
        baskets.setdefault(b, set()).add(it)
    want = Counter()
    for items in baskets.values():
        for a, c in itertools.combinations(sorted(items), 2):
            want[(a, c)] += 1
    got = {
        (r["item_a"], r["item_b"]): r["pair_count"]
        for r in affinity.cooccurrence_pairs(
            df, "b", "i", min_support=1
        ).collect()
    }
    assert got == dict(want)


def test_record_clusters_transitive_closure(spark):
    """A–B and B–C at distance 1 with A–C at distance 2: one component
    through the shared middle record — clusters, not just pairs."""
    from csv_etl_spark.operators import dedup
    from csv_etl_spark.operators.joins import fuzzy_string_join

    ents = spark.createDataFrame(
        [(1, "zbcdefgh"), (2, "abcdefgh"), (3, "abcdefgz"), (4, "qqqqqqqq")],
        "id long, s string",
    )
    pairs = fuzzy_string_join(
        ents.select(F.col("id").alias("lid"), "s"),
        ents.select(F.col("id").alias("rid"), F.col("s").alias("t")),
        "s", "t", "lid", "rid", max_dist=1,
    ).filter(F.col("lid") < F.col("rid"))
    out = {r["id"]: r["cluster_id"]
           for r in dedup.resolve_duplicate_clusters(
               pairs, id_a="lid", id_b="rid").collect()}
    assert out == {1: 1, 2: 1, 3: 1}  # 4 is a singleton: not in the graph


def test_record_clusters_build_jobs_and_persist_pin(spark, monkeypatch):
    """Building the registry's record_clusters query on the committed
    sf0.01 tables launches at most 10 jobs (it launched 36 with per-round
    label propagation), leaves no RDD persisted behind, and its pair plan
    carries no round-robin exchange (one-projection entity build)."""
    from pathlib import Path

    import __spark_entry__ as E

    sf = Path(__file__).resolve().parent.parent / "perfbench" / "data" / "sf0.01"
    seen = {}
    resolve = dedup.resolve_duplicate_clusters

    def capture(pairs, *args, **kwargs):
        seen["pairs"] = pairs
        return resolve(pairs, *args, **kwargs)

    monkeypatch.setattr(dedup, "resolve_duplicate_clusters", capture)
    sc = spark.sparkContext
    persisted = set(sc._jsc.getPersistentRDDs().keys())
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup("record_clusters_build", "record_clusters_build")
    try:
        df = E.queries()["record_clusters"](spark, str(sf))
    finally:
        sc.setJobGroup(outer, outer)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("record_clusters_build")
    assert 0 < len(jobs) <= 10, len(jobs)
    assert set(sc._jsc.getPersistentRDDs().keys()) <= persisted
    plan = seen["pairs"]._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan, plan
    assert df.count() == 375


def test_mad_outliers_plan_no_window_broadcast_bounds(spark):
    """Same plan pin as winsorize for the MAD gate: BOTH percentile
    stages must stay n_groups-row aggregates broadcast back — never a
    Window over the data."""
    from csv_etl_spark.operators.stats import mad_outliers

    df = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(200)], ["id", "g", "v"]
    )
    plan = (
        mad_outliers(df, "v", by=["g"])._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    plan0 = mad_outliers(df, "v")._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan0
    assert "Broadcast" in plan0


def test_cooccurrence_matches_serial_reference_fuzz(spark):
    """Property check: random baskets vs an itertools ground truth —
    pair counts, dup collapse, support filter, basket cap all at once."""
    import itertools
    import random as _random
    from collections import Counter

    from csv_etl_spark.operators.affinity import cooccurrence_pairs

    rng = _random.Random(81)
    for trial in range(3):
        rows = [
            (b, f"i{rng.randrange(8)}")
            for b in range(30)
            for _ in range(rng.randrange(7))
        ]
        if not rows:
            continue
        df = spark.createDataFrame(rows, "b int, i string")
        max_basket, min_support = 4, 2
        # serial reference
        baskets: dict[int, set] = {}
        for b, it in rows:
            baskets.setdefault(b, set()).add(it)
        want = Counter()
        for items in baskets.values():
            if len(items) > max_basket:
                continue
            for a, c in itertools.combinations(sorted(items), 2):
                want[(a, c)] += 1
        want = {k: v for k, v in want.items() if v >= min_support}
        got = {
            (r["item_a"], r["item_b"]): r["pair_count"]
            for r in cooccurrence_pairs(
                df, "b", "i", min_support=min_support, max_basket=max_basket
            ).collect()
        }
        assert got == want, f"trial {trial}"


def test_normalize_url_cases(spark):
    from csv_etl_spark.operators.urls import normalize_url

    cases = [
        ("HTTPS://WWW.Example.COM:443/Path/?utm_source=x&id=1#frag",
         "https://example.com/Path?id=1"),
        ("http://example.co.uk:80/a/", "http://example.co.uk/a"),
        ("https://example.org/?utm_a=1&utm_b=2", "https://example.org"),
        ("https://example.net/p?a=1&gclid=z&b=2", "https://example.net/p?a=1&b=2"),
        ("https://example.com/UPPER/Case", "https://example.com/UPPER/Case"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(cases)], "i int, u string"
    )
    got = {r["i"]: r["n"] for r in
           df.select("i", normalize_url(F.col("u")).alias("n")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_registered_domain_and_blocklist(spark):
    from csv_etl_spark.operators.urls import (
        domain_blocklist_filter,
        registered_domain,
    )

    df = spark.createDataFrame(
        [(1, "https://a.sub.spam.com/x"), (2, "https://shop.spam.co.uk/y"),
         (3, "https://fine.org/z"), (4, "https://spammy.com/w")],
        "id int, url string",
    )
    doms = {r["id"]: r["d"] for r in
            df.select("id", registered_domain(F.col("url")).alias("d")).collect()}
    assert doms == {1: "spam.com", 2: "spam.co.uk", 3: "fine.org", 4: "spammy.com"}
    blocked = spark.createDataFrame([("spam.com",), ("spam.co.uk",)], ["domain"])
    kept = sorted(r["id"] for r in
                  domain_blocklist_filter(df, "url", blocked).collect())
    assert kept == [3, 4]  # subdomains caught; "spammy.com" is NOT spam.com


def test_dedup_by_url_collapses_variants(spark):
    from csv_etl_spark.operators.urls import dedup_by_url

    df = spark.createDataFrame(
        [(1, "https://Example.com/a?utm_source=x"),
         (2, "HTTPS://WWW.example.COM/a/"),
         (3, "https://example.com:443/a"),
         (4, "https://example.com/b")],
        "id int, url string",
    )
    out = {r["url_norm"]: (r["keep_id"], r["n_copies"])
           for r in dedup_by_url(df, "url", "id").collect()}
    assert out == {"https://example.com/a": (1, 3), "https://example.com/b": (4, 1)}


def test_distribution_drift_detects_planted_shift(spark):
    from csv_etl_spark.operators.stats import distribution_drift

    rows_ref = [("a", float(i % 100)) for i in range(500)]
    rows_ref += [("b", float(i % 100)) for i in range(500)]
    rows_ref += [("ref_only", 1.0)] * 20
    # group a: current shifted by +30 (big drift); group b: identical
    rows_cur = [("a", float(i % 100) + 30.0) for i in range(500)]
    rows_cur += [("b", float((i * 7) % 100)) for i in range(500)]
    rows_cur += [("cur_only", 1.0)] * 20
    ref = spark.createDataFrame(rows_ref, "g string, v double")
    cur = spark.createDataFrame(rows_cur, "g string, v double")
    out = {r["g"]: r for r in
           distribution_drift(ref, cur, "v", by=["g"]).collect()}
    # one-sided groups are dropped: PSI needs both snapshots
    assert set(out) == {"a", "b"}
    assert out["a"]["psi"] > 0.25  # the planted shift crosses the action bar
    assert out["b"]["psi"] < 0.05  # same distribution, near zero
    assert out["a"]["n_ref"] == 500 and out["a"]["n_cur"] == 500


def test_distribution_drift_plan_no_window(spark):
    """The PSI chain must stay aggregate+broadcast shaped: no Window,
    and no full-data sort."""
    from csv_etl_spark.operators.stats import distribution_drift

    ref = spark.createDataFrame(
        [(f"g{i % 3}", float(i)) for i in range(300)], "g string, v double"
    )
    cur = ref
    plan = (
        distribution_drift(ref, cur, "v", by=["g"])._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_url_rules_are_authority_scoped(spark):
    """Round-8 review findings pinned: userinfo and trailing-dot hosts
    cannot bypass the blocklist, and authority rewrite rules never touch
    path/query content that merely looks like an authority artifact."""
    from csv_etl_spark.operators.urls import (
        domain_blocklist_filter,
        normalize_url,
        registered_domain,
    )

    cases = {
        # userinfo / FQDN-dot bypasses
        "https://user@spam.com/x": "https://spam.com/x",
        "https://spam.com./x": "https://spam.com/x",
        # authority rules must NOT rewrite path/query content
        "http://example.com/a:80/b": "http://example.com/a:80/b",
        "https://example.com/p?t=12:443/z": "https://example.com/p?t=12:443/z",
        "https://e.com/r?to=https://www.o.com/x": "https://e.com/r?to=https://www.o.com/x",
        # a host whose registrable domain IS www.<tld> survives www-strip
        "https://www.com/x": "https://www.com/x",
        "https://www.sub.example.com/x": "https://sub.example.com/x",
    }
    df = spark.createDataFrame(list(cases.items()), "u string, want string")
    for r in df.select("u", "want", normalize_url(F.col("u")).alias("got")).collect():
        assert r["got"] == r["want"], (r["u"], r["got"], r["want"])
    # and the blocklist catches the disguised spellings on RAW urls too
    probe = spark.createDataFrame(
        [(1, "https://user@spam.com/x"), (2, "https://spam.com./x"),
         (3, "https://ok.org/y")],
        "id int, url string",
    )
    doms = {r["id"]: r["d"] for r in probe.select(
        "id", registered_domain(F.col("url")).alias("d")).collect()}
    assert doms == {1: "spam.com", 2: "spam.com", 3: "ok.org"}
    blocked = spark.createDataFrame([("spam.com",)], ["domain"])
    kept = [r["id"] for r in domain_blocklist_filter(probe, "url", blocked).collect()]
    assert kept == [3]


def test_distribution_drift_global_ungrouped(spark):
    from csv_etl_spark.operators.stats import distribution_drift

    ref = spark.createDataFrame([(float(i % 50),) for i in range(400)], "v double")
    cur = spark.createDataFrame([(float(i % 50) + 25.0,) for i in range(400)], "v double")
    out = distribution_drift(ref, cur, "v").collect()
    assert len(out) == 1
    assert out[0]["psi"] > 0.25 and out[0]["n_ref"] == 400 and out[0]["n_cur"] == 400
    # identical snapshots → PSI exactly 0.0
    same = distribution_drift(ref, ref, "v").collect()
    assert same[0]["psi"] == 0.0


def test_key_skew_report_surfaces_hot_key(spark):
    from csv_etl_spark.operators.profile import key_skew_report

    # 300 rows on key "hot", 10 uniform keys with 10 rows each, 5 NULLs
    rows = [("hot",)] * 300 + [(f"k{i}",) for i in range(10) for _ in range(10)]
    rows += [(None,)] * 5
    df = spark.createDataFrame(rows, "k string")
    out = key_skew_report(df, ["k"], top_k=3).collect()
    assert len(out) == 3
    top = out[0]
    assert top["k"] == "hot" and top["cnt"] == 300
    assert top["n_rows"] == 405 and top["n_keys"] == 12  # NULL is a key
    assert abs(top["share"] - round(300 / 405, 6)) < 1e-9
    assert top["skew_ratio"] > 8  # 300 / (405/12) ≈ 8.9
    # deterministic tie-break among the uniform keys
    assert [r["k"] for r in out[1:]] == ["k0", "k1"]


def test_url_host_matches_urllib_reference_fuzz(spark):
    """Differential check: url_host against urllib.parse.urlsplit's
    hostname over 200 seeded component-generated URLs (userinfo, ports,
    mixed case, trailing dots, deep paths, queries, fragments).  IPv6
    literals are out of scope (crawl URLs are overwhelmingly named
    hosts); the trailing-dot FQDN strip is ours by design, so the
    reference is normalized the same way before comparing."""
    import random as _random
    from urllib.parse import urlsplit

    from csv_etl_spark.operators.urls import url_host

    rng = _random.Random(1812)
    urls = []
    for _ in range(200):
        scheme = rng.choice(["http", "https", "HTTPS", "ftp"])
        user = rng.choice(["", "", "", "alice@", "a.b%40c@"])
        labels = ".".join(
            rng.choice(["Example", "ex", "WWW", "shop", "x9"])
            for _ in range(rng.randrange(1, 4))
        )
        tld = rng.choice(["com", "co.uk", "org", "net."])
        port = rng.choice(["", "", ":80", ":443", ":8080"])
        path = rng.choice(["", "/", "/a/b", "/A:80/c", "/p%20q"])
        query = rng.choice(["", "?a=1", "?utm_source=x&b=2", "?t=a@b"])
        frag = rng.choice(["", "#f", "#a/b?c"])
        urls.append(f"{scheme}://{user}{labels}.{tld}{port}{path}{query}{frag}")
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i int, u string")
    got = {r["i"]: r["h"] for r in
           df.select("i", url_host(F.col("u")).alias("h")).collect()}
    for i, u in enumerate(urls):
        want = (urlsplit(u).hostname or "").rstrip(".")
        assert got[i] == want, (u, got[i], want)


def test_registered_domain_psl_vs_expression(spark):
    """Differential: PSL-table resolution vs the expression approximation
    on (a) agreeing head cases and (b) the documented divergent shapes —
    private-section suffixes (github.io), wildcard ccTLDs (*.ck), and
    exceptions (!www.ck) — plus the r9 two-letter anchor fix
    (sub.net.example must NOT treat net.example as a public suffix)."""
    from csv_etl_spark.operators.urls import (
        psl_frame,
        registered_domain,
        registered_domain_psl,
    )

    psl = psl_frame(spark)
    # (url, expression_expected, psl_expected)
    cases = [
        ("https://a.sub.spam.com/x", "spam.com", "spam.com"),
        ("https://shop.spam.co.uk/y", "spam.co.uk", "spam.co.uk"),
        ("https://deep.a.b.co.jp/s", "b.co.jp", "b.co.jp"),
        # two-letter anchor: "net" collides with the head list but
        # "example" is not a ccTLD — both resolve last-two
        ("https://sub.net.example/z", "net.example", "net.example"),
        # divergences the PSL table fixes:
        ("https://me.github.io/p", "github.io", "me.github.io"),
        ("https://foo.bar.ck/q", "bar.ck", "foo.bar.ck"),
        # exception !www.ck: public suffix is "ck", registrable www.ck
        ("https://www.ck/r", "www.ck", "www.ck"),
        ("https://x.www.ck/r", "www.ck", "www.ck"),
        # a bare public suffix has NO registrable domain under PSL
        ("https://github.io/", "github.io", None),
        ("https://localhost/", "localhost", None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _, _) in enumerate(cases)], "id int, url string"
    )
    expr = {r["id"]: r["d"] for r in
            df.select("id", registered_domain(F.col("url")).alias("d")).collect()}
    tab = {r["id"]: r["registered_domain"] for r in
           registered_domain_psl(df, "url", psl).collect()}
    for i, (u, we, wp) in enumerate(cases):
        assert expr[i] == we, ("expr", u, expr[i], we)
        assert tab[i] == wp, ("psl", u, tab[i], wp)


def test_registered_domain_psl_plan_is_broadcast_only(spark):
    """The PSL joins must all be broadcast (zero corpus shuffles): no
    SortMergeJoin / ShuffledHashJoin / Exchange hash-partitioning on the
    corpus side."""
    from csv_etl_spark.operators.urls import psl_frame, registered_domain_psl

    df = spark.createDataFrame(
        [(i, f"https://s{i}.example.co.uk/x") for i in range(50)],
        "id int, url string",
    )
    out = registered_domain_psl(df, "url", psl_frame(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_blocklist_with_psl_catches_private_suffix_sites(spark):
    """domain_blocklist_filter(psl=...) blocks at true registrable-domain
    granularity: blocking one github.io site must not drop its
    suffix-siblings (the expression path would resolve them all to
    'github.io' and either block everything or nothing)."""
    from csv_etl_spark.operators.urls import domain_blocklist_filter, psl_frame

    df = spark.createDataFrame(
        [(1, "https://spam.github.io/a"), (2, "https://docs.spam.github.io/b"),
         (3, "https://fine.github.io/c"), (4, "https://ok.org/d")],
        "id int, url string",
    )
    blocked = spark.createDataFrame([("spam.github.io",)], ["domain"])
    psl = psl_frame(spark)
    kept = sorted(r["id"] for r in
                  domain_blocklist_filter(df, "url", blocked, psl=psl).collect())
    assert kept == [3, 4]  # subdomain 2 caught; sibling 3 survives
    # schema is preserved (tag column dropped)
    assert domain_blocklist_filter(df, "url", blocked, psl=psl).columns == ["id", "url"]


def test_normalize_url_tracking_default_keeps_functional_ref(spark):
    """r9 ADVICE fix: bare ?ref= is functional by default (kept); the
    tracking_params argument opts into stripping it."""
    from csv_etl_spark.operators.urls import TRACKING_PARAMS, normalize_url

    df = spark.createDataFrame(
        [(1, "https://e.com/a?ref=main&utm_source=x"),
         (2, "https://e.com/a?ref=promo")],
        "i int, u string",
    )
    got = {r["i"]: (r["d"], r["x"]) for r in df.select(
        "i",
        normalize_url(F.col("u")).alias("d"),
        normalize_url(F.col("u"), TRACKING_PARAMS + "|ref").alias("x"),
    ).collect()}
    assert got[1] == ("https://e.com/a?ref=main", "https://e.com/a")
    assert got[2] == ("https://e.com/a?ref=promo", "https://e.com/a")


def test_dhash_band_arity_recall_gap_is_opt_in(spark):
    """r9 ADVICE fix: band_arity=2 with max_hamming>2 loses the pigeonhole
    recall guarantee — the operator refuses unless allow_recall_gap=True."""
    import pytest as _pytest

    from csv_etl_spark.operators.multimodal import dhash_near_dup_pairs

    df = spark.createDataFrame(
        [("a", "0" * 16), ("b", "0" * 15 + "1")], "media_id string, dhash string"
    )
    with _pytest.raises(ValueError, match="allow_recall_gap"):
        dhash_near_dup_pairs(df, max_hamming=4)
    # hamming<=2 keeps the guarantee: no opt-in needed
    assert dhash_near_dup_pairs(df, max_hamming=2).count() == 1
    # and the opt-in path still verifies exact hamming
    got = dhash_near_dup_pairs(df, max_hamming=4, allow_recall_gap=True).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == [("a", "b", 1)]


def _toy_embeddings(spark, n=300, dim=8, seed=7):
    import random as _random

    rng = _random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_ivf_two_level_exhaustive_equals_brute_force(spark):
    """nprobe_coarse=nprobe_fine=None scans every bucket — results must
    be identical to brute_force_topk (the ann_ivf_exact discipline)."""
    from csv_etl_spark.operators import similarity

    e = _toy_embeddings(spark)
    probes = similarity.make_probes(e, n=5)
    brute = {(r["probe_id"], r["rank"]): r["neighbor_id"] for r in
             similarity.brute_force_topk(e, probes, k=4).collect()}
    two = {(r["probe_id"], r["rank"]): r["neighbor_id"] for r in
           similarity.ivf_two_level_topk(
               e, probes, k=4, n_coarse=5, n_fine_per_cell=3,
               nprobe_coarse=None, nprobe_fine=None).collect()}
    assert two == brute


def test_ivf_two_level_past_literal_cap(spark):
    """The point of the two-level index: total cells can exceed the 4096
    broadcast-literal cap that kmeans_centroids enforces.  128 coarse ×
    40 fine = 5120 cells must build and answer; the single-level
    codebook builder refuses the same cell count."""
    import pytest as _pytest

    from csv_etl_spark.operators import similarity

    e = _toy_embeddings(spark, n=400)
    with _pytest.raises(ValueError, match="ivf_two_level_topk"):
        similarity.kmeans_centroids(e, n_centroids=5120)
    probes = similarity.make_probes(e, n=3)
    out = similarity.ivf_two_level_topk(
        e, probes, k=3, n_coarse=128, n_fine_per_cell=40,
        nprobe_coarse=None, nprobe_fine=None,
    ).collect()
    # with more cells than vectors every cell holds <=1 vector, but the
    # exhaustive route still recovers exact brute force
    brute = {(r["probe_id"], r["rank"]): r["neighbor_id"] for r in
             similarity.brute_force_topk(e, probes, k=3).collect()}
    assert {(r["probe_id"], r["rank"]): r["neighbor_id"] for r in out} == brute


def test_ivf_two_level_routed_recall_and_plan(spark):
    """The approximate path (nprobe_coarse=3, nprobe_fine=8) must (a)
    return k ranked rows per probe with decent recall vs brute force and
    (b) keep the corpus side shuffle-free past the index build: the
    probe-routing joins and the bucket scan join are all broadcast."""
    from csv_etl_spark.operators import similarity

    e = _toy_embeddings(spark, n=500)
    probes = similarity.make_probes(e, n=5)
    out = similarity.ivf_two_level_topk(
        e, probes, k=5, n_coarse=8, n_fine_per_cell=4,
        nprobe_coarse=3, nprobe_fine=8,
    )
    rows = out.collect()
    per_probe = {}
    for r in rows:
        per_probe.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    assert all(len(v) == 5 for v in per_probe.values())
    brute = {}
    for r in similarity.brute_force_topk(e, probes, k=5).collect():
        brute.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
    hits = sum(len(per_probe[p] & brute[p]) for p in brute)
    assert hits >= 0.5 * sum(len(v) for v in brute.values()), hits
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_two_level_sharded_recall_and_plan(spark):
    """The recall-target default (fine = sharding, auto-sized coarse):
    (a) below the coarse cap its candidate set is flat-IVF-equivalent,
    so recall must match the flat spelling exactly on the same corpus;
    (b) the capped regime (n_coarse forced small) must auto-raise
    nprobe_coarse and keep recall ≥ 0.9; (c) the corpus side stays
    shuffle-free — broadcast joins only, no window over the corpus."""
    from csv_etl_spark.operators import similarity

    e = _toy_embeddings(spark, n=500)
    probes = similarity.make_probes(e, n=8)
    brute = {}
    for r in similarity.brute_force_topk(e, probes, k=5).collect():
        brute.setdefault(r["probe_id"], set()).add(r["neighbor_id"])

    def recall(out):
        got = {}
        for r in out.collect():
            got.setdefault(r["probe_id"], set()).add(r["neighbor_id"])
        return sum(len(got.get(p, set()) & brute[p]) for p in brute) / sum(
            len(v) for v in brute.values()
        )

    # auto mode at 500 vectors: n_coarse = √500 ≈ 22, flat-equivalent
    auto = similarity.ivf_two_level_sharded(e, probes, k=5, nprobe=2)
    flat = similarity.ivf_topk(e, probes, k=5, n_centroids=22, nprobe=2)
    assert abs(recall(auto) - recall(flat)) < 1e-9
    # capped regime: n_coarse=8 of target 22 → nprobe_eff = ceil(2·22/8) = 6
    capped = similarity.ivf_two_level_sharded(
        e, probes, k=5, nprobe=2, n_coarse=8, corpus_size=500
    )
    assert recall(capped) >= 0.9
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_registered_domain_psl_matches_serial_reference_fuzz(spark):
    """Differential fuzz: the broadcast-join PSL resolver vs an
    independent serial implementation of the publicsuffix.org algorithm
    (longest rule wins, wildcard adds a label, exception overrides) over
    200 generated hosts mixing every rule kind, depths 1-5, and
    unlisted suffixes."""
    import random as _random

    from csv_etl_spark.operators.urls import (
        PSL_HEAD_RULES,
        psl_frame,
        registered_domain_psl,
    )

    normals, wilds, excs = set(), set(), set()
    for r in PSL_HEAD_RULES:
        r = r.strip().lower()
        if r.startswith("!"):
            excs.add(r[1:])
        elif r.startswith("*."):
            wilds.add(r[2:])
        else:
            normals.add(r)

    def serial_registered(host):
        labels = host.split(".")
        ps = 1  # default rule "*"
        for k in range(1, len(labels) + 1):
            cand = ".".join(labels[-k:])
            if cand in excs:
                return ".".join(labels[-k:]) if len(labels) >= k else None
            if cand in normals:
                ps = max(ps, k)
            if cand in wilds:
                ps = max(ps, k + 1)
        return ".".join(labels[-(ps + 1):]) if len(labels) > ps else None

    rng = _random.Random(77)
    suffix_pool = (
        ["co.uk", "co.jp", "com.au", "github.io", "blogspot.com", "ck",
         "x.ck", "www.ck", "com", "org", "example", "np", "a.np"]
        + list(rng.sample(sorted(normals), 10))
    )
    hosts = []
    for _ in range(200):
        sfx = rng.choice(suffix_pool)
        depth = rng.randrange(0, 4)
        labs = [rng.choice(["a", "bb", "shop", "x9", "deep"])
                for _ in range(depth)]
        hosts.append(".".join(labs + [sfx]))
    df = spark.createDataFrame(
        [(i, f"https://{h}/p") for i, h in enumerate(hosts)],
        "id int, url string",
    )
    got = {r["id"]: r["registered_domain"] for r in
           registered_domain_psl(df, "url", psl_frame(spark)).collect()}
    for i, h in enumerate(hosts):
        want = serial_registered(h)
        assert got[i] == want, (h, got[i], want)


def test_sessionize_batch_gap_and_ties(spark):
    """Gap semantics: ≤ gap merges, > gap splits, first event opens a
    session; equal timestamps order by the tiebreak column so the split
    is deterministic."""
    from datetime import datetime

    from csv_etl_spark.operators.rolling import sessionize_batch

    t0 = datetime(2024, 1, 1, 12, 0, 0)

    def at(secs):
        return datetime.fromtimestamp(t0.timestamp() + secs)

    rows = [
        # user 1: [0, 100, 1900] gap=1800 → 1900-100=1800 merges (≤ gap)
        (1, 1, at(0)), (2, 1, at(100)), (3, 1, at(1900)),
        # then 3701 → 3701-1900=1801 splits (> gap)
        (4, 1, at(3701)),
        # user 2: single event
        (5, 2, at(50)),
        # user 3: two events at the SAME second (tie), then far later
        (6, 3, at(0)), (7, 3, at(0)), (8, 3, at(5000)),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"], r["duration_secs"]
        )
        for r in sessionize_batch(df, gap_seconds=1800).collect()
    }
    base = int(t0.timestamp())
    assert got == {
        (1, 1): (3, 1900),
        (1, 2): (1, 0),
        (2, 1): (1, 0),
        (3, 1): (2, 0),
        (3, 2): (1, 0),
    }
    # session bounds are epoch seconds
    one = {
        r["session_seq"]: (r["session_start"], r["session_end"])
        for r in sessionize_batch(df, gap_seconds=1800)
        .filter(F.col("user_id") == 1).collect()
    }
    assert one == {1: (base, base + 1900), 2: (base + 3701, base + 3701)}


def test_knn_join_exact_equals_bruteforce(spark):
    """nprobe=None (route every cell) must reproduce brute force row for
    row — every (left, right) pair is scored exactly once because a
    right vector lives in exactly one cell."""
    import random as _random

    rng = _random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = (
        e.orderBy("vec_id").limit(4)
        .select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
    )
    probes = e.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    got = similarity.knn_join(
        probes, e, cents, k=3, nprobe=None, exclude_same_id=True
    )
    want = similarity.brute_force_topk(e, probes, k=3)
    gs = {(r["probe_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
          for r in got.collect()}
    ws = {(r["probe_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
          for r in want.collect()}
    assert gs == ws and len(gs) == 60 * 3


def test_knn_join_nprobe_plan_and_recall(spark):
    """nprobe=2 routes only 2 cells per probe: results are a subset of
    the scored universe with full k per probe on clustered data, and the
    plan has no cartesian product (the cell equijoin is the only join of
    the two big sides)."""
    import random as _random

    rng = _random.Random(11)
    # 3 well-separated clusters so nprobe=1 would already recall ~all
    base = {0: [5.0] * 8, 1: [-5.0] * 8, 2: [5.0, -5.0] * 4}
    rows = [
        (i, [b + rng.uniform(-0.1, 0.1) for b in base[i % 3]])
        for i in range(90)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = (
        e.orderBy("vec_id").limit(3)
        .select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
    )
    probes = e.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    out = similarity.knn_join(
        probes, e, cents, k=3, nprobe=2, exclude_same_id=True
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rowsout = out.collect()
    assert len(rowsout) == 90 * 3
    # same-cluster neighbors (cosine ≈ 1) must win over cross-cluster
    for r in rowsout:
        assert r["cosine"] > 0.9
        assert r["neighbor_id"] % 3 == r["probe_id"] % 3


def test_knn_join_sharded_exact_spellings(spark):
    """The bounded-cell tier's exactness ladder: (a) m_super=None +
    nprobe=None must equal brute force row for row; (b) m_super=None at
    finite nprobe must equal knn_join over the SAME codebook (flat
    routing equivalence — the SQL-oracle spelling); (c) the hierarchical
    m_super path returns full, well-formed top-k on clustered data with
    the same-cluster property."""
    import random as _random

    rng = _random.Random(13)
    base = {c: [4.0 * ((c >> b) & 1) - 2.0 for b in range(8)] for c in range(5)}
    rows = [
        (i, [b + rng.uniform(-0.3, 0.3) for b in base[i % 5]])
        for i in range(200)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = (
        e.orderBy("vec_id").limit(20)
        .select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
    )
    probes = e.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )

    def keyed(df):
        return {(r["probe_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
                for r in df.collect()}

    # (a) double-exact = brute force
    got = keyed(similarity.knn_join_sharded(
        probes, e, cents, k=3, nprobe=None, m_super=None,
        exclude_same_id=True,
    ))
    want = keyed(similarity.brute_force_topk(e, probes, k=3))
    assert got == want and len(got) == 200 * 3

    # (b) flat-routing equivalence at nprobe=2
    got2 = keyed(similarity.knn_join_sharded(
        probes, e, cents, k=3, nprobe=2, m_super=None, exclude_same_id=True,
    ))
    want2 = keyed(similarity.knn_join(
        probes, e, cents, k=3, nprobe=2, exclude_same_id=True,
    ))
    assert got2 == want2

    # (c) hierarchical routing (supers=ceil(sqrt(20))=5, m=2): full
    # result, no cartesian, same-cluster neighbors win
    out = similarity.knn_join_sharded(
        probes, e, cents, k=3, nprobe=2, m_super=2, exclude_same_id=True,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rowsout = out.collect()
    assert len(rowsout) == 200 * 3
    same = sum(1 for r in rowsout if r["neighbor_id"] % 5 == r["probe_id"] % 5)
    assert same / len(rowsout) > 0.95


def test_knn_join_sharded_degenerate_codebook_drops_nothing(spark):
    """ADVICE r12: a probe routed only to memberless supers used to get
    an empty _cells list and silently vanish from the graph.  The fix
    falls back to flat routing over the whole codebook.  Degenerate
    all-identical codebooks are the configuration most likely to leave
    supers empty (stable-argmax ties send every member to the earliest
    duplicate); the contract pinned here is no-drop: every probe returns
    its full top-k regardless of routing pathology."""
    import random as _random

    rng = _random.Random(17)
    rows = [
        (i, [1.0 + rng.uniform(-0.05, 0.05), rng.uniform(-0.05, 0.05)])
        for i in range(60)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # 6 near-identical centroids: k-means collapses them onto one super,
    # leaving the other supers memberless
    cents = (
        e.orderBy("vec_id").limit(6)
        .select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
    )
    probes = e.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    out = similarity.knn_join_sharded(
        probes, e, cents, k=2, nprobe=2, m_super=1, n_super=3, spill=1,
        exclude_same_id=True,
    ).collect()
    assert len(out) == 60 * 2  # nothing silently dropped


def test_knn_join_auto_dispatch(spark, monkeypatch):
    """r12 verdict ask #6: knn_join_auto picks the flat tier at or below
    KNN_FLAT_MAX_N and the bounded-cell sharded tier above it, with the
    threshold pinned to the machine-readable tier_bounds() value.  Both
    dispatches produce the identical result on the same corpus (the
    sharded m_super path's routing superset at this size)."""
    import __spark_entry__ as E

    assert similarity.KNN_FLAT_MAX_N == 16_000_000
    assert (
        E.tier_bounds()["knn_graph"]["recommended_max_n"]
        == similarity.KNN_FLAT_MAX_N
    )

    rows = [(i, [float((i % 4) == b) * 2.0 - 0.5 for b in range(4)])
            for i in range(80)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = e.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    calls = []
    real_flat, real_sharded = similarity.knn_join, similarity.knn_join_sharded

    def spy_flat(*a, **kw):
        calls.append("flat")
        return real_flat(*a, **kw)

    def spy_sharded(*a, **kw):
        calls.append("sharded")
        return real_sharded(*a, **kw)

    monkeypatch.setattr(similarity, "knn_join", spy_flat)
    monkeypatch.setattr(similarity, "knn_join_sharded", spy_sharded)

    def keyed(df):
        return {(r["probe_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
                for r in df.collect()}

    # N=80 ≤ bound → flat tier
    got_flat = keyed(similarity.knn_join_auto(
        probes, e, k=2, nprobe=2, exclude_same_id=True))
    assert calls == ["flat"]
    # same corpus with the threshold lowered → sharded tier, same result
    monkeypatch.setattr(similarity, "KNN_FLAT_MAX_N", 10)
    got_sharded = keyed(similarity.knn_join_auto(
        probes, e, k=2, nprobe=2, m_super=None, exclude_same_id=True))
    assert calls == ["flat", "sharded"]
    assert got_flat == got_sharded and len(got_flat) == 80 * 2
    # n_right skips the count and must dispatch on the GIVEN size
    similarity.knn_join_auto(
        probes, e, k=1, nprobe=1, n_right=5, exclude_same_id=True
    ).collect()
    assert calls[-1] == "flat"
    similarity.release_sharded_broadcasts(destroy=True)


def test_sharded_nprobe_auto_rule():
    """r13: the bounded-cell tier's volume-equalizing nprobe raise,
    pinned at the measured decision points (KNN_NPROBE_r13.json).  The
    raise multiplies nprobe by cells/sqrt(N) — restoring the flat
    reference's per-probe scanned volume — and is capped so the graph's
    scan term stays linear (uncapped the ratio grows as sqrt(N)/512)."""
    assert similarity.KNN_SHARDED_NPROBE_CAP == 16
    # below 512^2 the bounded rule IS sqrt(N): no raise
    assert similarity.sharded_nprobe_auto(200_000, 447, 2) == 2
    # the measured 2M hard-corpus point: 3907 cells, ratio 2.76 -> 6
    # (recall 0.884 at nprobe=2 recovers to 0.936 at the raised value)
    assert similarity.sharded_nprobe_auto(2_000_000, 3907, 2) == 6
    # at the 16M tier switch the cap holds volume parity exactly
    n = 16_000_000
    cells = max(similarity.math.isqrt(n), -(-n // 512))
    assert similarity.sharded_nprobe_auto(n, cells, 2) == 16
    # far past the switch the cap binds: linearity beats volume parity
    assert similarity.sharded_nprobe_auto(10**9, 10**9 // 512, 2) == 16
    # never lowers an explicit nprobe
    assert similarity.sharded_nprobe_auto(80, 8, 4) == 4
    # ...INCLUDING one above the cap (r13 advice: the cap bounds only
    # the auto-raise, not a caller's explicit cost/recall override)
    assert similarity.sharded_nprobe_auto(10**9, 10**9 // 512, 32) == 32
    assert similarity.sharded_nprobe_auto(2_000_000, 3907, 24) == 24
    with pytest.raises(ValueError):
        similarity.sharded_nprobe_auto(80, 0, 2)


def test_knn_join_auto_applies_nprobe_raise(spark, monkeypatch):
    """In the bounded regime knn_join_auto must pass the RAISED nprobe to
    knn_join_sharded (n_right pins a fake 2M corpus size over a small
    frame: cells outgrow sqrt(N) and the deficit rule kicks in)."""
    rows = [(i, [float((i % 4) == b) for b in range(4)]) for i in range(40)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = e.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    seen = {}
    real = similarity.knn_join_sharded

    def spy(*a, **kw):
        seen["nprobe"] = kw.get("nprobe")
        return real(*a, **kw)

    monkeypatch.setattr(similarity, "knn_join_sharded", spy)
    monkeypatch.setattr(similarity, "KNN_FLAT_MAX_N", 10)
    similarity.knn_join_auto(
        probes, e, k=1, nprobe=2, m_super=None, n_right=2_000_000,
        exclude_same_id=True,
    ).collect()
    # cells = max(sqrt(2M), 2M/512) = 3907 -> ceil(2*3907/1414) = 6
    assert seen["nprobe"] == 6
    similarity.release_sharded_broadcasts(destroy=True)


def test_sharded_broadcast_registry_release(spark):
    """ADVICE r12: every knn_join_sharded call ships a codebook broadcast;
    the registry must track them and release_sharded_broadcasts must
    drain it (bench/ladder loops call it between passes)."""
    similarity.release_sharded_broadcasts(destroy=True)  # clean slate
    e = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    cents = (
        e.orderBy("vec_id").limit(3)
        .select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
    )
    probes = e.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    before = len(similarity._SHARDED_BROADCASTS)
    similarity.knn_join_sharded(probes, e, cents, k=1, nprobe=1).collect()
    similarity.knn_join_sharded(probes, e, cents, k=1, nprobe=1).collect()
    assert len(similarity._SHARDED_BROADCASTS) == before + 2
    released = similarity.release_sharded_broadcasts(destroy=True)
    assert released == before + 2
    assert similarity._SHARDED_BROADCASTS == []


def test_codebook_arrays_large_cap(spark):
    """The sharded codebook collect must still be bounded — at its own
    (higher) cap — and must sort by centroid_id like the 4096 spelling."""
    big = spark.range(300).select(
        (F.lit(299) - F.col("id")).alias("centroid_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("centroid_vec"),
    )
    ids, mat = similarity._codebook_arrays_large(big, max_cells=512)
    assert list(ids[:3]) == [0, 1, 2] and mat.shape == (300, 2)
    with pytest.raises(ValueError, match="cap"):
        similarity._codebook_arrays_large(big, max_cells=100)


def test_knn_join_rejects_non_integral_ids(spark):
    """String ids would silently NULL through the grouped scorer's fixed
    long Arrow schema and drop pairs — knn_join must fail loudly instead
    (ADVICE r10)."""
    e = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "centroid_id int, centroid_vec array<double>"
    )
    probes = e.select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    with pytest.raises(TypeError, match="integral"):
        similarity.knn_join(probes, e, cents, k=1)


def test_codebook_arrays_enforces_cap(spark):
    """_codebook_arrays must refuse an unbounded centroid frame instead
    of silently collecting it to the driver (ADVICE r10)."""
    big = spark.range(4200).select(
        F.col("id").alias("centroid_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("centroid_vec"),
    )
    with pytest.raises(ValueError, match="4096"):
        similarity._codebook_arrays(big)


def test_pagerank_matches_serial_reference(spark):
    """Exact-match differential vs an independent serial power iteration
    with the same quantization discipline (round-8 contributions,
    decimal-exact sum, round-6 ranks) on a graph mixing a hub, a chain,
    a sink, and parallel/duplicate edges."""
    from decimal import Decimal

    from csv_etl_spark.operators.graph import pagerank

    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (3, 1), (4, 3), (5, 3), (1, 2),
    ]  # node 5 has no in-edges; node 3 is a hub; duplicate (1,2)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node_id"]: r["pagerank"]
           for r in pagerank(df, iters=4, damping=0.85).collect()}

    dedup_edges = sorted(set(edges))
    nodes = sorted({u for e in dedup_edges for u in e})
    outdeg = {}
    for s, _ in dedup_edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    n = len(nodes)
    pr = {v: round(1.0 / n, 6) for v in nodes}
    for _ in range(4):
        acc = {v: Decimal(0) for v in nodes}
        for s, t in dedup_edges:
            acc[t] += Decimal(str(round(pr[s] / outdeg[s], 8)))
        pr = {
            v: round(0.15 / n + 0.85 * float(acc[v]), 6) for v in nodes
        }
    assert got == pr


# ---------------------------------------------------------------------------
# salted_skew_join (r9)
# ---------------------------------------------------------------------------


def _skew_frames(spark):
    # key 7 is hot: 60 of 100 fact rows; dim is 1:1 on keys 0..9 plus a
    # duplicate (1:2) entry for key 3 to exercise multiset semantics
    fact = spark.range(0, 100).select(
        F.when(F.col("id") % 5 < 3, F.lit(7))
        .otherwise(F.col("id") % 10)
        .alias("k"),
        F.col("id").alias("fact_id"),
    )
    dim = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("attr")
    )
    dim = dim.unionByName(
        spark.createDataFrame([(3, 999)], "k long, attr long")
    )
    return fact, dim


def test_salted_skew_join_matches_plain_join(spark):
    from csv_etl_spark.operators.joins import salted_skew_join

    fact, dim = _skew_frames(spark)
    for how in ("inner", "left"):
        got = salted_skew_join(fact, dim, "k", n_salts=4, how=how)
        want = fact.join(dim, "k", how)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )


def test_salted_skew_join_null_keys_and_detection(spark):
    from csv_etl_spark.operators.joins import salted_skew_join

    fact, dim = _skew_frames(spark)
    fact = fact.unionByName(
        spark.createDataFrame([(None, -1), (None, -2)], "k long, fact_id long")
    )
    # detector: key 7 holds 60% of rows -> hot at min_share=0.5; NULLs
    # excluded from detection and never match
    inner = salted_skew_join(fact, dim, "k", n_salts=4, min_share=0.5)
    assert inner.filter(F.col("k").isNull()).count() == 0
    left = salted_skew_join(fact, dim, "k", n_salts=4, min_share=0.5, how="left")
    nulls = left.filter(F.col("k").isNull()).collect()
    assert len(nulls) == 2 and all(r["attr"] is None for r in nulls)
    with pytest.raises(ValueError, match="inner"):
        salted_skew_join(fact, dim, "k", how="full")
    with pytest.raises(ValueError, match="max_hot_keys"):
        # every key is "hot" at share 0 but the cap is 1 -> must raise
        salted_skew_join(fact, dim, "k", min_share=0.0, max_hot_keys=1)


def test_salted_skew_join_plan_salts_the_shuffle(spark):
    """Under SMJ (broadcast off) the join keys must include the salt —
    the whole point: the hot key's rows hash to n_salts partitions."""
    import io
    from contextlib import redirect_stdout

    from csv_etl_spark.operators.joins import salted_skew_join

    fact, dim = _skew_frames(spark)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = salted_skew_join(fact, dim, "k", n_salts=4, hot_keys=[7])
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        import re as _re

        lk = _re.search(r"Left keys \[\d+\]: \[([^\]]*)\]", plan)
        rk = _re.search(r"Right keys \[\d+\]: \[([^\]]*)\]", plan)
        assert lk and "_salt" in lk.group(1), plan
        assert rk and "_salt" in rk.group(1), plan
        assert "CartesianProduct" not in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


# ---------------------------------------------------------------------------
# temperature_resample / standardize_embeddings (r9)
# ---------------------------------------------------------------------------


def test_temperature_resample_flattens_mixture(spark):
    from csv_etl_spark.operators.sampling import temperature_resample

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 900, F.lit("en")).otherwise(F.lit("sw")).alias("lang"),
    )
    out = temperature_resample(df, "lang", "doc_id", alpha=0.3)
    by = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # smallest group keeps 100%; the 9x-larger group is downsampled to
    # pow(9, alpha-1) = 9^-0.7 ~ 0.2146 of its rows (within sampling noise)
    assert by["sw"] == 100
    assert 0.15 * 900 < by["en"] < 0.28 * 900
    # alpha=1 is a no-op
    assert temperature_resample(df, "lang", "doc_id", alpha=1.0).count() == 1000
    # deterministic: same rows every run
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in temperature_resample(df, "lang", "doc_id", alpha=0.3).collect())
    assert a == b
    with pytest.raises(ValueError, match="alpha"):
        temperature_resample(df, "lang", "doc_id", alpha=-0.1)


def test_standardize_embeddings_moments_and_plan(spark):
    import io
    from contextlib import redirect_stdout

    from csv_etl_spark.operators.similarity import standardize_embeddings

    df = spark.createDataFrame(
        [(i, [float(i), 2.0 * i + 1.0, 5.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    out = standardize_embeddings(df, dim=3)
    rows = {r["vec_id"]: r["standardized"] for r in out.collect()}
    zs = [rows[i][0] for i in range(8)]
    # z-scores: mean 0, population std 1 (up to the 6-decimal rounding)
    assert abs(sum(zs)) < 1e-4
    assert abs(sum(z * z for z in zs) / 8 - 1.0) < 1e-4
    # dimension 1 is an affine map of dimension 0 -> identical z-scores
    assert all(abs(rows[i][1] - rows[i][0]) < 1e-5 for i in range(8))
    # constant dimension -> 0.0, not NaN
    assert all(rows[i][2] == 0.0 for i in range(8))
    # plan: no window/python; the z side is a map-only transform fed by a
    # broadcast crossJoin.  The r16 moment rewrite DOES posexplode on the
    # stats side (dim-group partial agg — shuffle is dim × n_partitions
    # partial rows, not dim × the row count), so the explode must feed an
    # aggregate, never the output: every Generate in the plan is followed
    # by a HashAggregate before any join.
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    # the one Generate sits under the moment aggregate (stats side);
    # the data-sized output side must not explode
    # AQE's formatted explain prints the final AND the initial plan —
    # count nodes in the final tree only
    tree = plan.split("== Initial Plan ==")[0].split("\n\n")[0]
    gen_lines = [ln for ln in tree.splitlines() if "Generate" in ln]
    assert len(gen_lines) == 1
    agg_lines = [ln for ln in tree.splitlines() if "HashAggregate" in ln]
    assert agg_lines, "moment explode must feed an aggregate"


def test_grouped_split_keeps_groups_together(spark):
    from csv_etl_spark.operators.sampling import grouped_split

    df = spark.range(0, 3000).select(
        F.col("id").alias("row_id"), (F.col("id") % 300).alias("grp")
    )
    out = grouped_split(df, "grp", {"train": 0.8, "val": 0.1, "test": 0.1})
    # leakage invariant: each group maps to exactly one split
    assert (
        out.groupBy("grp")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
        == 0
    )
    by = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(by) == {"train", "val", "test"}
    assert 0.7 * 3000 < by["train"] < 0.9 * 3000
    # deterministic across runs
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, grouped_split(df, "grp", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()))
    assert a == b
    with pytest.raises(ValueError, match="sum to 1"):
        grouped_split(df, "grp", {"a": 0.5, "b": 0.4})
    with pytest.raises(ValueError, match="at least one"):
        grouped_split(df, "grp", {})


def test_arrow_kernel_bit_parity(spark):
    """dot_arrow must be BIT-identical to the interpreted HOF fold —
    same IEEE double op sequence (per-dimension left fold) — on adversarial
    float32 vectors (denormals, huge/tiny magnitude mixes, negatives).
    No rounding in the comparison: exact equality of the raw doubles."""
    import random

    rnd = random.Random(421)
    rows = []
    for i in range(300):
        dim = 64
        scale = 10.0 ** rnd.randint(-30, 30)
        a = [rnd.uniform(-1, 1) * scale for _ in range(dim)]
        b = [rnd.uniform(-1, 1) / scale for _ in range(dim)]
        rows.append((i, a, b))
    df = spark.createDataFrame(
        rows, "id long, a array<float>, b array<float>"
    )
    got = df.select(
        "id",
        similarity.dot(F.col("a"), F.col("b")).alias("hof"),
        similarity.dot_arrow(F.col("a"), F.col("b")).alias("arrow"),
    ).collect()
    assert len(got) == 300
    for r in got:
        assert r["hof"] == r["arrow"], (r["id"], r["hof"], r["arrow"])


def test_arrow_cosine_matches_builtin_on_real_shapes(spark):
    """End-to-end: the Arrow-kernel scored path must produce the exact
    rows the builtin spelling produces (same cosine doubles pre-round,
    same ranks) on a clustered corpus."""
    vecs = _toy_embeddings(spark)
    probes = vecs.limit(5).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("probe_vec")
    )
    from csv_etl_spark.operators.similarity import (
        cosine_with_norms,
        cosine_with_norms_arrow,
        l2_norm,
    )

    pairs = (
        vecs.withColumn("_vn", l2_norm(F.col("embedding")))
        .crossJoin(
            F.broadcast(probes.withColumn("_pn", l2_norm(F.col("probe_vec"))))
        )
        .filter(F.col("vec_id") != F.col("probe_id"))
    )
    both = pairs.select(
        "vec_id",
        "probe_id",
        cosine_with_norms(
            F.col("embedding"), F.col("probe_vec"), F.col("_vn"), F.col("_pn")
        ).alias("builtin"),
        cosine_with_norms_arrow(
            F.col("embedding"), F.col("probe_vec"), F.col("_vn"), F.col("_pn")
        ).alias("arrow"),
    ).collect()
    assert len(both) > 100
    for r in both:
        assert r["builtin"] == r["arrow"], (r["vec_id"], r["probe_id"])


def test_assign_kernels_agree(spark):
    """Arrow and builtin assignment kernels must agree on every cluster
    id and every _vnorm double — including at exact-duplicate-centroid
    ties, where both sides must break to the lowest centroid_id."""
    e = _toy_embeddings(spark, n=250)
    cents = (
        e.orderBy("vec_id").limit(17)
        .select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
    )
    a = {r["vec_id"]: (r["cluster"], r["_vnorm"]) for r in
         similarity.assign_to_centroids(e, cents, keep_norm=True,
                                        kernel="arrow").collect()}
    b = {r["vec_id"]: (r["cluster"], r["_vnorm"]) for r in
         similarity.assign_to_centroids(e, cents, keep_norm=True,
                                        kernel="builtin").collect()}
    assert a == b


def test_fine_centroid_kmeans_mode(spark):
    """The data-adapted fine codebook must (a) be deterministic across
    runs, (b) emit ≤ n_fine_per_cell centroids per coarse cell with
    dense fine_ids, and (c) beat the deterministic first-k fine table on
    two-level recall for a clustered corpus (the RECALL.md finding)."""
    from csv_etl_spark.operators.similarity import (
        brute_force_topk,
        fine_centroid_table,
        fine_centroid_table_kmeans,
        ivf_two_level_topk,
        make_probes,
    )

    e = _toy_embeddings(spark, n=400)
    coarse = (
        e.orderBy("vec_id").limit(6)
        .select(
            F.col("vec_id").cast("int").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
    )
    fk1 = sorted(map(tuple, fine_centroid_table_kmeans(e, coarse, 4).collect()))
    fk2 = sorted(map(tuple, fine_centroid_table_kmeans(e, coarse, 4).collect()))
    assert fk1 == fk2  # deterministic
    per_cell: dict = {}
    for coarse_id, fine_id, _vec in fk1:
        per_cell.setdefault(coarse_id, []).append(fine_id)
    for ids in per_cell.values():
        assert sorted(ids) == list(range(len(ids))) and len(ids) <= 4

    probes = make_probes(e, n=10)
    exact = {(r["probe_id"], r["neighbor_id"]) for r in
             brute_force_topk(e, probes, k=4).collect()}

    def rec(fine):
        got = {(r["probe_id"], r["neighbor_id"]) for r in
               ivf_two_level_topk(e, probes, k=4, n_coarse=6,
                                  n_fine_per_cell=4, nprobe_coarse=2,
                                  nprobe_fine=4, coarse=coarse,
                                  fine=fine).collect()}
        return len(got & exact) / len(exact)

    r_first = rec(fine_centroid_table(e, coarse, 4))
    r_kmeans = rec(fine_centroid_table_kmeans(e, coarse, 4))
    assert r_kmeans >= r_first


def test_kmeans_codebook_table_matches_literal_fit(spark):
    """r15 (CODEBOOK_QUALITY_r15): below the 4096-cell literal cap the
    table fitter routes EXACTLY (m_super=None flat sharded assignment)
    and shares the literal fitter's init / tie / mean-rounding / empty-
    cell rules — so at equal (n, iters, sample) the fitted codebooks
    must MATCH.  This is the quality contract that replaced the r14
    coarse-partition-constrained hierarchy, which measured 16+ recall
    points below the literal fit at equal cell count."""
    from csv_etl_spark.operators import similarity

    e = _toy_embeddings(spark, n=300)
    lit = {
        r["centroid_id"]: r["centroid_vec"]
        for r in similarity.kmeans_centroids(e, n_centroids=10, iters=2).collect()
    }
    tab = {
        r["centroid_id"]: r["centroid_vec"]
        for r in similarity.kmeans_codebook_table(
            e, n_centroids=10, kmeans_iters=2
        ).collect()
    }
    assert set(lit) == set(tab)
    for cid, vec in lit.items():
        assert vec == pytest.approx(tab[cid], abs=1e-9), f"centroid {cid}"


# ---------------------------------------------------------------------------
# operator caches: the one cache class, its registry and clear_all
# ---------------------------------------------------------------------------


def test_cache_fifo_bound_unpersists_the_oldest_frame(spark):
    from csv_etl_spark.operators._cache import BoundedPersistCache

    cache = BoundedPersistCache(max_entries=2)
    frames = [cache.get_or_persist(spark.range(n + 1), "fifo") for n in range(3)]
    assert [f.is_cached for f in frames] == [False, True, True]
    assert len(cache._entries) == 2
    cache.invalidate(blocking=True)
    assert cache._entries == {} and not any(f.is_cached for f in frames)


def test_cache_evicts_driver_values_without_unpersisting(spark):
    from csv_etl_spark.operators._cache import BoundedPersistCache

    cache = BoundedPersistCache(max_entries=1)
    app = spark.sparkContext.applicationId
    cache.put((app, 1), (("a", "b"), False))
    cache.put((app, 2), (("c", "d"), True))
    assert list(cache._entries) == [(app, 2)]
    cache.invalidate((app, 2), blocking=True)
    assert cache._entries == {}


def test_cache_put_from_another_session_drops_earlier_entries(spark):
    from csv_etl_spark.operators._cache import BoundedPersistCache

    cache = BoundedPersistCache()
    old = spark.range(5).persist()
    cache.put(("stopped-app", 1), old)
    cache.put(("stopped-app", 2), ("merges",))
    cache.put(("live-app", 1), ("merges",))
    assert list(cache._entries) == [("live-app", 1)]
    assert not old.is_cached
    cache.invalidate()


def test_cache_untrackable_plan_passes_through_unpersisted(spark, monkeypatch):
    from csv_etl_spark.operators._cache import BoundedPersistCache

    cache = BoundedPersistCache()
    monkeypatch.setattr(cache, "key_for", lambda df, *extra: None)
    df = spark.range(3)
    out = cache.get_or_persist(df, "untracked")
    assert out is df and not out.is_cached
    assert cache._entries == {}


def test_every_module_cache_is_registered_and_clear_all_empties_them(spark):
    """Caches register themselves, so a cache added to any module is
    cleared between benchmark passes without editing a harness."""
    import importlib
    import pkgutil

    import csv_etl_spark
    from csv_etl_spark.operators import _cache

    found = {}
    for info in pkgutil.walk_packages(csv_etl_spark.__path__, "csv_etl_spark."):
        if info.name.endswith("__main__"):  # importing it runs the CLI
            continue
        mod = importlib.import_module(info.name)
        for attr, value in vars(mod).items():
            if isinstance(value, _cache.BoundedPersistCache):
                found[f"{info.name}.{attr}"] = value
    assert len(found) >= 9
    assert [n for n, c in found.items() if not any(c is r for r in _cache._REGISTRY)] == []

    frames = []
    for n, cache in enumerate(found.values()):
        frames.append(cache.get_or_persist(spark.range(n + 1), "registry"))
        cache.put((spark.sparkContext.applicationId, "driver", n), ("merges",))
    similarity._SHARDED_BROADCASTS.append(spark.sparkContext.broadcast([1]))
    _cache.clear_all()
    assert {n: len(c._entries) for n, c in found.items() if c._entries} == {}
    assert not any(f.is_cached for f in frames)
    assert similarity._SHARDED_BROADCASTS == []


def test_harnesses_name_no_operator_cache():
    """Benchmark harnesses empty the caches with ``_cache.clear_all()``;
    a hand-kept list of cache attributes goes stale when a cache is
    added (a pass once timed cache hits that way)."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    pattern = re.compile(r"_[A-Z_]+_(CACHE|MEMO)")
    hits = [
        f"{path.relative_to(root)}:{i}"
        for path in [root / "bench.py", *sorted((root / "scripts").glob("*.py"))]
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert hits == []
