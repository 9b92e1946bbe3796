"""Deduplication operators — exact and near-duplicate, designed for 100 TB.

Strategies (each a standalone function over a DataFrame):

* exact_dedup_by_key      — hash-groupBy; one shuffle on the key.
* exact_dedup_normalized  — exact dedup on normalized text (casefold,
                            punct-strip, whitespace-collapse): catches
                            trivially re-formatted copies.
* ngram_jaccard_pairs     — EXACT n-gram Jaccard similarity pairs via an
                            inverted-index join (token-ngram → posting
                            list), NOT an O(n²) cross join: candidate pairs
                            are only generated for docs sharing ≥1 shingle,
                            then verified exactly.  This is the classic
                            SIGMOD set-similarity-join shape and survives
                            scale-up if shingle frequency is bounded
                            (frequent-shingle cap below).
* minhash_lsh_pairs       — MinHash signatures + banded LSH bucketing; only
                            bucket-colliding pairs are verified with exact
                            Jaccard.  The scale path: shuffle is
                            O(docs × bands), never O(n²).
* simhash                 — 64-bit SimHash signature per doc (Hamming-space
                            near-dup key).
* embedding_dup_pairs     — near-dup by embedding cosine ≥ threshold over
                            LSH-ish random-hyperplane buckets (see
                            similarity.py for the shared primitives).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from csv_etl_spark import local
from csv_etl_spark.operators._cache import BoundedPersistCache
from csv_etl_spark.operators.text import ws_tokens
from csv_etl_spark.sources.tables import ensure_parallelism

# Cap on how many docs may share one shingle before we drop it as a
# candidate generator (stopword-like shingles explode the join at scale;
# dropping them only loses candidates that share *nothing rarer*, which at
# sane thresholds are not near-dups anyway — standard prefix-filter trick).
DEFAULT_FREQ_SHINGLE_CAP = 1000


def exact_dedup_by_key(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep min(id) per key group. One shuffle; map-side
    partial aggregation makes it skew-tolerant."""
    return df.groupBy(*keys).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    )


def normalize_text(col: Column) -> Column:
    """casefold → strip punctuation → collapse whitespace."""
    lowered = F.lower(col)
    no_punct = F.regexp_replace(lowered, r"[^\w\s]", "")
    return F.trim(F.regexp_replace(no_punct, r"\s+", " "))


def exact_dedup_normalized(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    norm = normalize_text(F.col(text_col))
    return (
        df.select(F.col(id_col), F.xxhash64(norm).alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def token_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined). Defined via transform
    over token indices — pure built-ins."""
    toks = ws_tokens(col)
    k = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(k - n, F.lit(-1)))
    shingles = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return F.array_distinct(F.when(k >= n, shingles).otherwise(F.array().cast("array<string>")))


def hashed_shingles(col: Column, n: int = 3) -> Column:
    """Distinct shingles as 64-bit hashes.  All pair-generation joins and
    verifies run on 8-byte longs instead of ~20-byte strings — less shuffle
    payload, cheaper equality — at a 64-bit collision risk that is
    negligible for any realistic shingle population."""
    return F.transform(token_shingles(col, n), lambda s: F.xxhash64(s))


# ---------------------------------------------------------------------------
# Portable (engine-agnostic) hashing — the correctness-oracle path
# ---------------------------------------------------------------------------
#
# xxhash64 is Spark-specific, so pipelines built on it can only get
# rows-only driver checks.  These polynomial hashes are defined purely in
# terms of character codes and modular arithmetic, so a SQL engine (the
# DuckDB oracle) can replicate the ENTIRE minhash/LSH/simhash pipeline
# bit-for-bit.  The xxhash64 path stays the scale default (one hash call
# vs a per-character fold); the portable path is for verifiability.

POLY_BASE = 131
POLY_MOD = 2147483647  # 2^31 − 1 (Mersenne prime)


def portable_string_hash(col: Column) -> Column:
    """h = fold(chars): (acc·131 + code) mod (2³¹−1).  Engine-agnostic:
    DuckDB spells the identical fold with list_reduce over ascii codes."""
    codes = F.transform(F.split(col, ""), lambda c: F.ascii(c))
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * F.lit(POLY_BASE) + c) % F.lit(POLY_MOD),
    )


def minhash_affine_params(num_hashes: int = 16) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the affine minhash family
    h_i(p) = (a_i·p + b_i) mod (2³¹−1) — fixed LCG, no RNG state, shared
    verbatim with the SQL oracle.  a_i·p < 2⁶² so BIGINT arithmetic never
    wraps (ANSI-safe)."""
    seed = 987654321
    out = []
    for _ in range(num_hashes):
        seed = (seed * 1103515245 + 12345) % (1 << 31)
        a = seed % (POLY_MOD - 1) + 1
        seed = (seed * 1103515245 + 12345) % (1 << 31)
        b = seed % POLY_MOD
        out.append((a, b))
    return out


# session-scoped cache: jaccard + minhash over the same corpus share one
# persisted shingle table instead of computing and caching it twice.
# Keyed on (applicationId, semanticHash, ...) so entries cannot outlive
# their SparkSession; FIFO-bounded, evictees unpersisted.
_SHINGLE_CACHE = BoundedPersistCache(max_entries=8)

# driver-side bound for the LSH hot-bucket broadcast (minhash_lsh_pairs
# max_bucket_size): past it the anti-join runs distributed instead
# (freq_cap discipline).  100k collected Rows is ~10 MB of raw fields
# but realistically ~100 MB of driver heap as PySpark Row objects plus
# a gateway re-serialization on createDataFrame (r14 ADVICE: the prior
# 1M bound under-counted that overhead ~10x) — and a broadcast side
# this large has to fit every executor anyway, so 100k is also the
# honest broadcast ceiling.  Hot buckets number ≤ docs×bands/
# max_bucket_size; at the measured 15M-doc ladder the observed count
# was 4 orders of magnitude under this bound.
_MAX_HOT_BUCKETS = 100_000
# inline-VALUES bound for the collected hot set (r17): past this the
# literal SQL text's parse/analyze cost beats the 32-task Python stage
# createDataFrame pays — see csv_etl_spark.local._MAX_INLINE_ROWS
_MAX_INLINE_HOT_BUCKETS = 2_000


def _shingle_docs(
    df: DataFrame, text_col: str, id_col: str, n: int, portable: bool = False
) -> DataFrame:
    """(id, shingles: array<bigint>) with <n-token docs dropped, computed in
    two staged projections (tokens, then shingle hashes from tokens) and
    PERSISTED.

    Both matter at any scale:
    * Staging: higher-order-function lambdas are opaque to Catalyst's
      common-subexpression elimination, so one mega-expression mentioning
      the token array k times re-tokenizes k times.  Hashing token triples
      directly (xxhash64 of 3 string columns) also skips building every
      shingle string just to hash it.
    * Persist: every downstream consumer (both sides of a self-join, the
      candidate verify) would otherwise re-run tokenize+shingle per
      mention — measured 10× slower at sf0.1.  MEMORY_AND_DISK so big
      corpora spill instead of OOM; at cluster scale this table is the
      thing you'd materialize to parquet once per corpus anyway.
    """
    from pyspark.storagelevel import StorageLevel

    key = BoundedPersistCache.key_for(df, text_col, id_col, n, portable)
    cached = _SHINGLE_CACHE.get(key)
    if cached is not None:
        return cached

    toks_col = F.col("__toks")
    k = F.size(toks_col)
    idx = F.sequence(F.lit(0), k - n)
    if portable:
        # oracle-replicable AND 3× cheaper than hashing shingle strings:
        # poly-hash each TOKEN once (staged, so the char fold runs once per
        # token instead of once per shingle mention), then combine the n
        # token hashes arithmetically per shingle — same fold structure,
        # one level up: sh = fold(th_i): (acc·131 + th) mod (2³¹−1)
        th_col = F.col("__th")

        def shingle_of(i: Column) -> Column:
            acc = F.element_at(th_col, i + 1)
            for j in range(1, n):
                acc = (acc * F.lit(POLY_BASE) + F.element_at(th_col, i + j + 1)) % F.lit(POLY_MOD)
            return acc

        hashed = F.array_distinct(F.transform(idx, shingle_of))
    else:
        hashed = F.array_distinct(
            F.transform(
                idx,
                lambda i: F.xxhash64(*[F.element_at(toks_col, i + j + 1) for j in range(n)]),
            )
        )
    # a small corpus file scans as 1-few partitions; spread the (CPU-bound)
    # tokenize+shingle pass across the cluster before computing it
    src = ensure_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    )
    toks = src.select("id", ws_tokens(F.col("__text")).alias("__toks"))
    if portable:
        # stage the per-token hashes so the char fold runs once per token
        # (HOF lambdas are opaque to CSE — unstaged, each shingle mention
        # would re-fold its tokens)
        toks = toks.select(
            "id",
            "__toks",
            F.transform(F.col("__toks"), lambda t: portable_string_hash(t)).alias("__th"),
        )
    docs = toks.filter(k >= n).select("id", hashed.alias("shingles"))
    if key is None:
        # untrackable plan: skip the persist too, so nothing leaks —
        # downstream re-evaluation is the lesser cost in this rare path
        return docs
    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    _SHINGLE_CACHE.put(key, docs)
    return docs


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    freq_cap: int | None = DEFAULT_FREQ_SHINGLE_CAP,
    max_exact_docs: int | None = 100_000,
) -> DataFrame:
    """N-gram Jaccard pairs (id_a < id_b, jaccard ≥ threshold) as a
    set-similarity join in overlap-count form.

    ⚠ DEFAULT IS APPROXIMATE: ``freq_cap`` defaults to
    DEFAULT_FREQ_SHINGLE_CAP (shingles shared by more docs are dropped from
    the join AND the size accounting), so out-of-the-box results are
    frequency-capped Jaccard.  This default changed from None in round 2 —
    callers wanting the EXACT semantics must now pass ``freq_cap=None``
    explicitly.  The join shape:

      docs → explode(distinct shingles) → self-equijoin on shingle →
      groupBy (id_a, id_b): count(*) = |A∩B| → jaccard = ∩/(|A|+|B|−∩).

    Because each doc's shingles are distinct, the number of join hits per
    pair IS the intersection size — no candidate-distinct pass, no shingle
    arrays shuffled, no per-pair array_intersect.  Cost is one explode +
    one keyed join + one aggregation, all with map-side partial agg; the
    O(n²) cross join never appears because only docs sharing a shingle meet.

    ``freq_cap``: drop shingles shared by more than ``freq_cap`` docs from
    BOTH the join and the size accounting.  The DEFAULT is capped
    (DEFAULT_FREQ_SHINGLE_CAP) because that is the only safe default at
    scale: a single stopword-like hot shingle turns the posting self-join
    quadratic (measured on the sf0.1 corpus: cap=5 cuts candidate pairs
    1,130,536 → 18,410, a 61× reduction).  Pass ``freq_cap=None``
    explicitly for the exact/uncapped variant — shingles above any sane
    cap contribute near-zero discrimination, but exactness is then on
    the caller.

    ``max_exact_docs``: the uncapped variant is the ONLY measured
    super-linear path in this package (1.38× cost per data decade,
    BENCHNOTES_r6_sf1.json — vs 0.17–0.20 capped), so requesting it over
    a corpus above this bound raises up front (one column-pruned count,
    trivially cheaper than the quadratic join it prevents) rather than
    launching a job that dies at the shuffle.  Pass ``max_exact_docs=None``
    to waive the guard on a corpus you know is hot-shingle-free."""
    if freq_cap is None and max_exact_docs is not None:
        n_docs = df.select(id_col).count()
        if n_docs > max_exact_docs:
            raise ValueError(
                f"ngram_jaccard_pairs(freq_cap=None) over {n_docs} docs "
                f"(> max_exact_docs={max_exact_docs}): the uncapped posting "
                "self-join is super-linear in corpus size. Use the default "
                "freq_cap (frequency-capped Jaccard), or raise/disable "
                "max_exact_docs if the corpus provably has no hot shingles."
            )
    docs = _shingle_docs(df, text_col, id_col, n)

    if freq_cap is None:
        # set size is known before explode — no size join, no extra shuffle
        posting = docs.select(
            "id", F.size("shingles").alias("sz"), F.explode("shingles").alias("shingle")
        )
    else:
        posting = docs.select(F.col("id"), F.explode("shingles").alias("shingle"))
        rare = (
            posting.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") <= freq_cap)
            .select("shingle")
        )
        posting = posting.join(rare, "shingle")
        # per-doc set size AFTER capping so jaccard stays internally consistent
        sized = posting.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
        posting = posting.join(sized, "id")

    a = posting.alias("a")
    b = posting.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------


def minhash_signature(hashed: Column, num_hashes: int = 16, portable: bool = False) -> Column:
    """MinHash signature over ALREADY-HASHED shingles (array<bigint>):
    the i-th hash function re-hashes the 8-byte base hash with seed i
    (xxhash64 of a long is far cheaper than of a ~20-byte string, and
    stays ANSI-safe — wraparound a*x+b arithmetic would throw under
    Spark 4's ANSI-on default).  Array<bigint> of length num_hashes,
    pure built-ins (transform + array_min).

    ``portable``: use the affine family (a_i·p + b_i) mod (2³¹−1) over
    portable poly-hashes instead — fully replicable in the SQL oracle."""
    if portable:
        params = minhash_affine_params(num_hashes)

        def affine(a: int, b: int):
            # closure factory — default-arg lambdas would change the arity
            # PySpark infers for the higher-order function
            return lambda p: (F.lit(a) * p + F.lit(b)) % F.lit(POLY_MOD)

        return F.array(
            *[F.array_min(F.transform(hashed, affine(a, b))) for a, b in params]
        )
    return F.array(
        *[
            F.array_min(F.transform(hashed, lambda h: F.xxhash64(h, F.lit(s))))
            for s in range(num_hashes)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    portable: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash LSH: signature → band keys → bucket join →
    exact-Jaccard verify.  Output schema matches ngram_jaccard_pairs (the
    exact operator IS its correctness oracle; LSH trades recall for a
    shuffle that is O(docs × bands) instead of O(candidate pairs)).

    ``portable``: engine-agnostic hashing throughout (poly-hash shingles,
    affine minhash, band keys joined on raw signature slices instead of a
    re-hash) so a SQL oracle can replicate the full pipeline exactly.
    xxhash64 (default) is the scale path — cheaper per token.

    ``max_bucket_size`` (r13, REQUIRED at corpus scale on natural-
    vocabulary text): drop band buckets holding more than this many
    docs before the self-join.  Zipf vocabularies produce HOT SHINGLES
    whose (low) hash is the band minimum for every doc containing them,
    so a handful of buckets go quadratic: measured on the 5M-doc
    real-vocabulary corpus, the uncapped self-join emits Σ|bucket|² =
    841M rows of which ~600M come from the top TEN buckets (top bucket
    20,746 docs = 430M alone), and the verify join ships both shingle
    arrays per candidate — the r13 ladder exhausted a 65 GB disk before
    finishing ONE 5M-doc run (BENCHNOTES_r13_lsh_big.json).  Mega-
    buckets are almost entirely false candidates (docs sharing only hot
    shingles verify-fail the Jaccard threshold), while true near-dup
    pairs also collide in rarer buckets in other bands, so the cap
    costs little recall at small caps (measured planted-dup recall in
    the ladder note).  CAVEAT: a true near-duplicate CLUSTER larger
    than the cap saturates ALL its band buckets and is lost entirely —
    run exact/normalized dedup first (dedup_exact / dedup_normalized)
    so only small near-dup families remain, the composition
    leakage_safe_split_lsh's production guidance documents.  The hot
    set is removed with a broadcast anti-join while it fits the
    ``_MAX_HOT_BUCKETS`` driver bound, else a distributed left_anti
    (the freq_cap auto-switch discipline, affinity.py)."""
    rows_per_band = num_hashes // bands
    docs = _shingle_docs(df, text_col, id_col, n, portable=portable)
    sig = docs.select(
        "id", "shingles", minhash_signature(F.col("shingles"), num_hashes, portable).alias("sig")
    )

    def bucket_of(bi: int) -> Column:
        items = [F.col("sig").getItem(bi * rows_per_band + ri) for ri in range(rows_per_band)]
        if portable:
            # raw signature slice as the key — no engine-specific re-hash
            return F.array(*items)
        return F.array(F.xxhash64(*items))

    band_rows = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bi).alias("band"), bucket_of(bi).alias("bucket"))
                    for bi in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))

    if max_bucket_size is not None:
        if max_bucket_size < 2:
            raise ValueError(
                f"max_bucket_size must be >= 2 (a pair), got {max_bucket_size}"
            )
        sizes = band_rows.groupBy("band", "bucket").agg(
            F.count("*").alias("_bsz")
        )
        hot = sizes.filter(F.col("_bsz") > max_bucket_size).select(
            "band", "bucket"
        )
        # hot-bucket count is bounded by docs*bands/max_bucket_size; the
        # limit-capped collect never pulls more than _MAX_HOT_BUCKETS+1
        # rows (see the constant's sizing note).  Collecting — rather
        # than counting and re-joining `hot` — runs the sizes
        # aggregation ONCE: the broadcast side is rebuilt from the
        # collected rows instead of recomputing the whole signature/band
        # pipeline (r13 advice).
        hot_rows = hot.limit(_MAX_HOT_BUCKETS + 1).collect()
        if len(hot_rows) == 0:
            pass  # no hot buckets: skip the anti-join entirely
        elif len(hot_rows) <= _MAX_INLINE_HOT_BUCKETS:
            # small hot set: inline-VALUES LocalRelation — broadcast
            # builds without a Python stage (csv_etl_spark.local)
            from csv_etl_spark.local import local_values_frame

            hot_lit = local_values_frame(
                band_rows.sparkSession,
                hot_rows,
                ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in hot.schema.fields
                ),
            )
            band_rows = band_rows.join(
                F.broadcast(hot_lit), ["band", "bucket"], "left_anti"
            )
        elif len(hot_rows) <= _MAX_HOT_BUCKETS:
            # mid-sized hot set (r17, ADVICE r16): inline VALUES is for
            # constant tables — 100k collected rows each carrying an
            # array<bigint> bucket would render a multi-MB SQL text whose
            # driver parse/analysis dwarfs the Python stage it avoids.
            # createDataFrame + broadcast keeps the single-aggregation
            # collect win without the literal-tree blowup.
            hot_lit = band_rows.sparkSession.createDataFrame(
                hot_rows, hot.schema
            )
            band_rows = band_rows.join(
                F.broadcast(hot_lit), ["band", "bucket"], "left_anti"
            )
        else:
            # past the driver bound the anti-join runs distributed; the
            # recompute is unavoidable (and dwarfed by the join itself)
            band_rows = band_rows.join(hot, ["band", "bucket"], "left_anti")

    a = band_rows.alias("a")
    b = band_rows.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    da = sig.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    db = sig.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(da, "id_a")
        .join(db, "id_b")
        .select(
            "id_a", "id_b", F.round(_jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """SimHash signature per document: per token-hash bit, majority vote
    weighted +1/−1; bit set where the vote is positive.

    Implemented explode → single groupBy with ``bits`` conditional sums
    (partial aggregation map-side), then bit-recombine — one shuffle keyed
    on doc id.

    ``portable``: hash tokens with the engine-agnostic polynomial hash
    (31 useful bits — pass bits<=31) so the SQL oracle can compute
    identical signatures; default xxhash64/64-bit is the scale path."""
    toks = df.select(F.col(id_col).alias("id"), F.explode(ws_tokens(F.col(text_col))).alias("tok"))
    if portable:
        hashed = toks.select("id", portable_string_hash(F.col("tok")).alias("h"))
    else:
        hashed = toks.select("id", F.xxhash64("tok").alias("h"))
    votes = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    bit_terms = [
        F.when(
            F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("bigint"), i)
        ).otherwise(F.lit(0).cast("bigint"))
        for i in range(bits)
    ]
    acc = bit_terms[0]
    for t in bit_terms[1:]:
        acc = acc.bitwiseOR(t)
    sig = votes.select("id", acc.alias("simhash"))
    return sig


def hamming_distance(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def _union_find_min_root(edges) -> list[tuple]:
    """(id, cluster_id) for every vertex of a collected (u, v) edge list,
    cluster_id = min id in the component.  NULL endpoints are vertices
    (cluster NULL) but never link anything — the distributed tier's
    equi-joins drop them the same way."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        parent.setdefault(u, u)
        if u is None or v is None:
            continue
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return [(x, find(x)) for x in parent]


def resolve_duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over the near-dup pair graph → (id, cluster_id)
    with cluster_id = min id reachable.  This is the step after any pair
    generator (jaccard/LSH/embedding): pairs say "these two match", but
    dedup needs CLUSTERS (keep one doc per component, drop the rest).

    Two tiers, one answer (same rows, same dtypes):

    * **Driver tier** — when the symmetric edge set fits the inline-VALUES
      bound (``local._MAX_INLINE_ROWS`` directed edges) and the id type is
      integer or string, the edges are collected once and union-find runs
      on the driver (min id as root); the result comes back as an
      inline-VALUES frame.  Exact at any component diameter, and no
      per-round jobs: on small pair graphs the distributed tier's
      per-round checkpoint + probe jobs cost far more than the compute.
    * **Distributed tier** — otherwise, iterative min-label propagation as
      DataFrame joins: each round every vertex takes the min of its own
      label and its neighbors' labels; converges in O(component diameter)
      rounds — near-dup components are shallow (dup clusters are cliques
      or short chains), so a handful of rounds in practice,
      ``max_iterations`` as the safety cap (a ``RuntimeWarning`` if it is
      hit).  Each round is one shuffle join + one aggregation, fully
      parallel, and checkpointed so lineage and memory stay bounded (the
      standard large-graph CC shape minus GraphX).

    A pair with a NULL endpoint links nothing: the NULL comes back as its
    own ``(NULL, NULL)`` row and the other endpoint keeps its own cluster.
    """
    from pyspark.storagelevel import StorageLevel

    # one-pass symmetric edge build: explode [(a,b),(b,a)] per pair row.
    # The previous union-of-two-selects spelling scanned `pairs` TWICE
    # before the persist boundary — for LSH callers that is the whole
    # shingle→signature→banding→verify pipeline re-run, measured as the
    # composed leakage_safe_split_lsh costing ~2× its staged sum
    # (BENCHNOTES_r14_lsh_stages.json: staged pairs 107 s vs composed
    # 207 s at 5M docs).  Same edge set, one scan.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(id_a).alias("u"), F.col(id_b).alias("v")),
                    F.struct(F.col(id_b).alias("u"), F.col(id_a).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        id_type = edges.schema["u"].dataType.simpleString()
        if id_type in local._INT_TYPES | {"string"}:
            # bounded collect: one more row than the bound says "too big"
            # without pulling a data-sized edge list to the driver
            rows = edges.limit(local._MAX_INLINE_ROWS + 1).collect()
            if len(rows) <= local._MAX_INLINE_ROWS:
                # every vertex is some edge's `u` (edges are symmetric),
                # so the vertex rows never outnumber the edge rows
                return local.local_values_frame(
                    pairs.sparkSession,
                    _union_find_min_root(rows),
                    f"id {id_type}, cluster_id {id_type}",
                )
        labels = (
            edges.select(F.col("u").alias("id"))
            .distinct()
            .withColumn("label", F.col("id"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        converged = False
        for _ in range(max_iterations):
            neighbor_min = (
                edges.join(labels, edges.v == labels.id)
                .groupBy("u")
                .agg(F.min("label").alias("nmin"))
            )
            # localCheckpoint, not persist: persist caches data but keeps
            # the full lineage, which GROWS each round (round k's plan
            # contains rounds 1..k-1) until plan analysis overflows the JVM
            # stack on long chains.  Checkpointing truncates lineage so
            # every round starts from materialized data.
            #
            # Convergence flag rides INSIDE the checkpointed row (r16): a
            # label changes iff a neighbor min undercuts it, which is known
            # at update time — the previous spelling re-joined new labels
            # against old labels on id (one full shuffle of both sides per
            # round) just to detect what `nmin < label` already said.  The
            # flag is materialized by the checkpoint, so the convergence
            # probe is a map-only limit-1 scan of checkpointed partitions.
            ck = (
                labels.join(neighbor_min, labels.id == neighbor_min.u, "left")
                .select(
                    "id",
                    F.least(
                        F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                    ).alias("label"),
                    (F.col("nmin") < F.col("label")).alias("_ch"),
                )
                .localCheckpoint(eager=True)
            )
            changed = ck.filter(F.col("_ch")).limit(1).count()
            new_labels = ck.select("id", "label")
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                converged = True
                break
        if not converged:
            # a component with diameter > max_iterations would silently get
            # MULTIPLE cluster_ids for one true component — surface it
            import warnings

            warnings.warn(
                f"resolve_duplicate_clusters: label propagation did not "
                f"converge within max_iterations={max_iterations}; some "
                f"components may be split across cluster_ids. Raise "
                f"max_iterations (rounds needed ≈ component diameter).",
                RuntimeWarning,
                stacklevel=2,
            )
        return labels.select(F.col("id"), F.col("label").alias("cluster_id"))
    finally:
        edges.unpersist()


# ---------------------------------------------------------------------------
# Paragraph-level global dedup (C4 / RefinedWeb recipe)
# ---------------------------------------------------------------------------


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    max_paragraphs: int | None = 1 << 16,
) -> DataFrame:
    """GLOBAL paragraph-level exact dedup — the C4 (Raffel et al. 2020
    §2.2) / RefinedWeb recipe: a paragraph occurring more than once
    ANYWHERE in the corpus is kept only at its first occurrence (lowest
    ``(doc_id, position)``); every later copy is dropped, and each doc's
    text is re-joined from its surviving paragraphs in original order.
    Catches boilerplate (headers, footers, cookie banners) that
    document-level dedup can't see.

    Returns one row per input doc: ``(id_col, text, n_paragraphs,
    n_paragraphs_kept)`` — ``n_paragraphs`` counts non-empty paragraphs
    after normalization, and docs whose every paragraph lost come back
    with empty text and ``n_paragraphs_kept = 0``.

    Scale shape: two shuffles and one doc-keyed join, no windows.
    posexplode is map-only; the winner per paragraph key is a
    ``groupBy(key).agg(min(struct(doc, pos, para)))`` with map-side
    partials (never a window over mostly-unique keys — the sort would be
    wasted); re-assembly is a second groupBy on doc_id; the only join
    carries per-doc totals back in on ``id_col``, both sides already
    doc-keyed.  The groupBy key is ``xxhash64`` of the normalized
    paragraph, not the string itself — the paragraph text must ride the
    shuffle once as payload (it rebuilds the doc), but an 8-byte key
    instead of a second copy of the string halves the shuffle bytes;
    64-bit collisions (a paragraph silently deduped against a different
    one) are ~n²/2⁶⁵ — negligible at any real corpus size, same trade as
    ``exact_dedup_normalized``.  Paragraph-key cardinality ~ corpus size,
    so no reducer hot-spots; a frequent-paragraph skew (the same banner
    10^9 times) lands on ONE reducer only for the agg's final merge of
    already map-combined partials — bounded.

    ``max_paragraphs`` (default 2^16 = 65536) bounds the per-doc
    reassembly buffer: the doc-keyed ``collect_list`` builds one
    (pos, para) array per doc inside a single aggregation buffer, so a
    pathological giant document (a multi-GB line-per-record dump) would
    otherwise become one executor's OOM.  Paragraphs past the cap are
    truncated — the doc is treated as ending there, matching C4-style
    practice of discarding giant-document tails.  Inert for any normal
    corpus; pass ``None`` to disable."""
    norm = normalize_text(F.col("_para"))
    paras = F.split(F.col(text_col), sep)
    if max_paragraphs is not None:
        paras = F.slice(paras, 1, max_paragraphs)
    exploded = (
        df.select(
            F.col(id_col).alias("_doc"),
            F.posexplode(paras).alias("_pos", "_para"),
        )
        .withColumn("_norm", norm)
        .filter(F.col("_norm") != "")
        .withColumn("_key", F.xxhash64("_norm"))
        .drop("_norm")
    )
    winners = (
        exploded.groupBy("_key")
        .agg(F.min(F.struct("_doc", "_pos", "_para")).alias("_first"))
        .select(
            F.col("_first._doc").alias("_doc"),
            F.col("_first._pos").alias("_pos"),
            F.col("_first._para").alias("_para"),
        )
    )
    kept = winners.groupBy("_doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_para"))),
                lambda s: s.getField("_para"),
            ),
            sep,
        ).alias("_text"),
        F.count(F.lit(1)).cast("bigint").alias("_n_kept"),
    )
    totals = df.select(
        F.col(id_col),
        # greatest(.., 0): legacy size(NULL) = -1 — NULL text must report
        # 0 paragraphs, consistent with n_paragraphs_kept's coalesce to 0.
        # Counts over the SAME capped array as the dedup path, so
        # n_paragraphs stays consistent with what was actually considered.
        F.greatest(
            F.size(F.filter(paras, lambda p: normalize_text(p) != "")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_paragraphs"),
    )
    return (
        totals.join(kept, totals[id_col] == kept["_doc"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_text"), F.lit("")).alias("text"),
            F.col("n_paragraphs"),
            F.coalesce(F.col("_n_kept"), F.lit(0).cast("bigint")).alias(
                "n_paragraphs_kept"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Incremental (new-batch vs curated-corpus) dedup
# ---------------------------------------------------------------------------


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bloom: bool = False,
    bloom_fpp: float = 0.01,
    bloom_expected_items: int | None = None,
) -> DataFrame:
    """Dedup a NEW batch of documents against an already-curated corpus
    AND within itself — the shape every continuously-ingesting training
    pipeline needs (yesterday's crawl is clean; today's must not re-add
    yesterday's docs or its own internal copies).

    Keeps, per normalized-text key present in the batch, the lowest-id
    batch doc — and only if that key never appears in ``corpus``.
    Returns ``(id_col, n_dups_in_batch)``.

    Scale shape: one groupBy on the batch key (map-side partials), one
    distinct over corpus keys, one left_anti shuffle join.  Both sides
    key on ``xxhash64`` of the normalized text — 8-byte keys instead of
    full document strings in the shuffle (64-bit collision odds are
    negligible; same trade as ``exact_dedup_normalized``), and the corpus
    side projects to the key column only, so its shuffle payload is 8
    bytes/doc.  For corpora whose key set is still too large to shuffle
    per increment, pre-compute the corpus key table once and reuse it
    across batches (it only grows by the batch survivors), or pass
    ``bloom=True``.

    ``bloom=True`` fronts the anti-join with the SAME distributed Bloom
    bitmap as ``cleaning.decontaminate(bloom=True)`` (shared
    ``_bloom_bitmap`` machinery) and stays EXACT: batch keys the filter
    rules out ("definitely not in corpus") skip the shuffle entirely and
    pass straight through; only the "maybe seen" remainder — true hits
    plus the ~``bloom_fpp`` false-positive sliver — pays the exact
    anti-join against the corpus key table.  A typical increment is
    mostly-new, so the anti-join input shrinks from |batch| to
    ~|true dups| + fpp·|batch|; the corpus side still streams once to
    build the bitmap (map-side OR partials, driver holds only the
    m-bit array)."""
    norm = normalize_text(F.col(text_col))
    b = (
        batch.select(F.col(id_col), norm.alias("_n"))
        .filter(F.col("_n") != "")
        .select(F.col(id_col), F.xxhash64("_n").alias("_k"))
    )
    winners = b.groupBy("_k").agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).cast("bigint").alias("n_dups_in_batch"),
    )
    seen = (
        corpus.select(norm.alias("_n"))
        .filter(F.col("_n") != "")
        .select(F.xxhash64("_n").alias("_k"))
        .distinct()
    )
    if bloom:
        from csv_etl_spark.operators.cleaning import (
            _bloom_bitmap,
            _bloom_might_contain,
            _bloom_parameters,
        )

        # the corpus key table feeds THREE consumers (sizing count, bitmap
        # build, exact anti-join) — without a persist each one re-runs the
        # normalize+hash+distinct over the full corpus.  Session-cached
        # (bounded, bench-invalidated) like the shingle projections; the
        # count below materializes it once, the other two read the cache.
        seen = _SHINGLE_CACHE.get_or_persist(seen, "incremental_seen")

        expected = (
            bloom_expected_items if bloom_expected_items is not None else seen.count()
        )
        m, k = _bloom_parameters(expected, bloom_fpp)
        words = _bloom_bitmap(seen.select(F.col("_k").alias("_sh")), m, k)
        maybe = _bloom_might_contain(F.col("_k"), words, m, k)
        clean = winners.filter(~maybe)
        checked = winners.filter(maybe).join(seen, "_k", "left_anti")
        return clean.unionByName(checked).select(id_col, "n_dups_in_batch")
    return winners.join(seen, "_k", "left_anti").select(id_col, "n_dups_in_batch")


def cluster_representatives(
    labels: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    score_col: str = "quality",
) -> DataFrame:
    """Pick ONE representative per duplicate cluster — the step after
    connected-component resolution that corpus dedup actually ships:
    instead of blindly keeping the min-id member, keep the BEST one
    (highest ``score_col``, ties to the lowest id) and drop the rest.

    ``labels``: (id_col, cluster_col) from ``resolve_duplicate_clusters``;
    ``scores``: (id_col, score_col), e.g. ``text.quality_score``.
    Returns ``(cluster_col, rep_id, n_members)``.

    Scale shape: one id-keyed join plus one groupBy on the cluster key
    with an order-free ``min(struct(-score, id))`` argmax — map-side
    partials, deterministic under ties, no window (a per-cluster
    row_number would sort every cluster through the shuffle for a
    one-row answer)."""
    j = labels.join(scores, id_col)
    agg = j.groupBy(cluster_col).agg(
        F.min(
            F.struct(
                (-F.col(score_col)).alias("_neg_score"),
                F.col(id_col).alias("_id"),
            )
        ).alias("_best"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    )
    return agg.select(
        F.col(cluster_col),
        F.col("_best._id").alias("rep_id"),
        F.col("n_members"),
    )


# ---------------------------------------------------------------------------
# Cross-document duplicated spans (substring-level dedup signal)
# ---------------------------------------------------------------------------


def _keyed_windows(
    df: DataFrame, span_tokens: int, stride: int, text_col: str, id_col: str
) -> DataFrame:
    """Shared window builder for the span pair: full ``span_tokens``
    windows keyed by xxhash64 of their space-joined tokens, as
    ``(id_col, _start, _key)`` — 24 bytes/row, text dropped.  PERSISTED
    through the bounded session cache: both operators consume the frame
    from 2 branches (count + flag-back join), and without the persist
    each branch re-runs the tokenize+chunk build over the full text —
    the multi-consumer rule from the shingle/tf projections applied to
    windows."""
    from csv_etl_spark.operators.packing import chunk_documents

    keyed = (
        chunk_documents(
            df,
            chunk_tokens=span_tokens,
            overlap=span_tokens - stride,
            text_col=text_col,
            id_col=id_col,
        )
        .filter(F.col("n_chunk_tokens") == span_tokens)
        .select(
            F.col(id_col),
            (F.col("chunk_id") * stride).cast("bigint").alias("_start"),
            F.xxhash64("chunk_text").alias("_key"),
        )
    )
    return _SHINGLE_CACHE.get_or_persist(keyed, "span_windows")


def duplicate_spans(
    df: DataFrame,
    span_tokens: int = 32,
    stride: int = 16,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicated-SUBSTRING detection — the signal behind
    substring-level training-data dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": exact duplicated spans
    inside otherwise-distinct documents), approximated at ``stride``-token
    granularity: every full ``span_tokens``-token window (windows start
    every ``stride`` tokens; partial tail windows are excluded so all keys
    compare equal-length content) is keyed, and a window whose token
    content occurs in ≥ ``min_docs`` DISTINCT documents marks a
    duplicated span in every document containing it.  Returns
    ``(id_col, start_token, n_docs)`` — one row per (document, window
    start); overlapping flagged windows describe one longer shared span.

    Built on ``packing.chunk_documents`` (window build is the same
    map-only posexplode + slice — no self-join, no O(n²) lambda), so the
    windowing cost is identical to the chunking operator's measured
    profile.  The doc-count is a (doc, key)-distinct + key-keyed count
    with map-side partials over 8-byte xxhash64 keys (the window text
    never rides the counting shuffle; space-joined tokens make the key
    whitespace-normalized by construction); the flag-back is a key-keyed
    join.  Same shuffle discipline as ``ngram_jaccard_pairs``' posting
    join, but with NO pair blowup: cost is windows + one count + one
    join, linear in corpus tokens / stride."""
    if stride <= 0 or stride > span_tokens:
        raise ValueError("need 0 < stride <= span_tokens")
    keyed = _keyed_windows(df, span_tokens, stride, text_col, id_col).select(
        F.col(id_col), F.col("_start").alias("start_token"), "_key"
    )
    hot = (
        keyed.select(F.col(id_col), "_key")
        .distinct()
        .groupBy("_key")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return keyed.join(hot, "_key").select(F.col(id_col), "start_token", "n_docs")


def remove_duplicate_spans(
    df: DataFrame,
    span_tokens: int = 32,
    stride: int = 16,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicated-span REMOVAL — the action on top of
    ``duplicate_spans``' detection (Lee et al. 2022: keep one copy of a
    duplicated substring, cut the rest): for every window content shared
    by ≥ ``min_docs`` distinct documents, the occurrence(s) in the LOWEST
    doc id survive and every other document loses the window's token
    range.  Overlapping flagged windows in one doc union into one mask.
    Returns one row per input doc: ``(id_col, text, n_tokens,
    n_tokens_removed)`` — text re-joined from surviving tokens in order
    (whitespace-normalized by construction, same as the chunk path).

    Plan shape (r17): duplicate_spans' window build + key count, a
    key-keyed min() for the keeper doc, ONE small groupBy collapsing each
    loser doc's flagged window STARTS into an array (loser-docs-sized,
    not corpus-sized), one doc-keyed join re-attaching that array to the
    input rows (AQE broadcasts it when small; even shuffled it moves
    loser masks, never tokens), and a map-only higher-order ``filter``
    that drops token ``i`` when any flagged start covers it.  The r16
    spelling posexploded EVERY corpus token into rows, anti-joined, and
    re-assembled text through a corpus-wide collect_list shuffle — two
    token-stream exchanges paid for surgery on the (typically few)
    flagged docs.  The guide-§2/§8 fix: decide on the small proxy
    (window keys), move the heavy payload (tokens) zero times.
    Everything keyed, no windows over data, no collect.
    Granularity caveat shared with duplicate_spans: strided windows only
    align on shared prefixes / whole-doc structure — the documented trade
    vs suffix-array substring dedup."""
    if stride <= 0 or stride > span_tokens:
        raise ValueError("need 0 < stride <= span_tokens")
    from csv_etl_spark.operators.text import ws_tokens as _wt

    keyed = _keyed_windows(df, span_tokens, stride, text_col, id_col).select(
        F.col(id_col).alias("_doc"), "_start", "_key"
    )
    per_key = keyed.select("_doc", "_key").distinct().groupBy("_key").agg(
        F.count(F.lit(1)).alias("_nd"), F.min("_doc").alias("_keeper")
    ).filter(F.col("_nd") >= min_docs)
    losers = keyed.join(per_key, "_key").filter(F.col("_doc") != F.col("_keeper"))
    # one array of flagged window starts per loser doc; bounded by that
    # doc's n_tokens/stride, and rows bounded by the flagged-doc count
    doc_masks = losers.groupBy("_doc").agg(
        F.collect_set("_start").alias("_mstarts")
    )

    toks = _wt(F.col(text_col))
    n_tokens = F.greatest(F.size(toks), F.lit(0)).cast("bigint")
    span = F.lit(int(span_tokens))
    # token i survives unless some flagged window [s, s+span) covers it;
    # filter preserves order, so array_join reproduces the old
    # collect_list(struct(pos, tok)) → array_sort reassembly bit-exactly
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("_mstarts"), lambda s: (i >= s) & (i < s + span)
        ),
    )
    out_text = F.when(
        F.col("_mstarts").isNull(), F.array_join(toks, " ")
    ).otherwise(F.array_join(kept, " "))
    n_removed = F.when(
        F.col("_mstarts").isNull(), F.lit(0).cast("bigint")
    ).otherwise(n_tokens - F.size(kept).cast("bigint"))
    return (
        df.join(doc_masks, F.col(id_col) == doc_masks["_doc"], "left")
        .select(
            F.col(id_col),
            F.coalesce(out_text, F.lit("")).alias("text"),
            n_tokens.alias("n_tokens"),
            n_removed.cast("bigint").alias("n_tokens_removed"),
        )
    )
