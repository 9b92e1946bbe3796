"""Learned corpus-quality classification — the fastText/NBSVM-style
linear gate (hashed n-gram features, closed-form Naive-Bayes log-odds
weights) that the public CCNet / RedPajama / LLaMA curation recipes put
beside the heuristic Gopher rules: bootstrap labels from a seed (a
heuristic gate, or a known-good reference corpus), train a cheap linear
model, score EVERY document with it.

Why closed-form NB log-odds instead of iterative logistic regression:
the weights are a pure aggregation over (feature, class) counts — one
groupBy, no driver-side optimization loop, bit-for-bit deterministic,
and (unlike SGD) expressible in single-pass SQL, so the whole
train→score pipeline carries a DuckDB oracle.  NB log-odds features are
the "NBSVM" trick (Wang & Manning 2012) and are what fastText's linear
classifier converges toward on binarized bag-of-words features.

Scale shape (100 TB corpus, bounded model):

* feature hashing (Weinberger et al. 2009): tokens hash into
  ``n_features`` buckets via the engine-portable md5-top-32-bits idiom
  (sampling.key_uniform's cousin), so the weight table is BOUNDED at
  ``n_features`` rows regardless of vocabulary — always broadcastable;
* per-doc features are BINARIZED (distinct buckets per doc) — partial
  map-side distinct, then one (feature)-keyed count groupBy whose output
  is model-sized;
* scoring is a broadcast join of the weight table onto the (doc,
  feature) pairs + one doc_id-keyed sum groupBy (high-cardinality key,
  no skew);
* the (doc, feature) pair table feeds BOTH the count agg and the
  scoring join — multi-consumer, so it rides the shared persist cache
  (``_FEAT_CACHE``; like every BoundedPersistCache it registers itself,
  so ``_cache.clear_all()`` empties it).

Engine-parity discipline: per-feature weights are ln-ratios ROUNDED to 6
decimals before any sum, then summed as exact decimal micro-units (the
dsir_importance rule) so partial-aggregation order cannot leak into the
value hash.

Reference parity note: the reference engine (csv-etl) has no learned
classifier — this is part of the mandated LLM-training-data extension
surface, not reference parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._cache import BoundedPersistCache
from .text import ws_tokens

_FEAT_CACHE = BoundedPersistCache(max_entries=4)

_MICRO = 1_000_000


def hashed_feature(tok: Column, n_features: int) -> Column:
    """Engine-portable hashing-trick bucket: md5 top 32 bits mod
    ``n_features`` (DuckDB: ``CAST('0x' || substring(md5(tok), 1, 8) AS
    BIGINT) % n_features``).  Collisions are the documented trade of the
    hashing trick — both engines collide identically."""
    return (
        F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("bigint")
        % F.lit(int(n_features))
    )


def doc_features(
    df: DataFrame,
    n_features: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Binarized hashed-unigram features: one (id, feature) row per
    DISTINCT bucket per doc.  Map + partial distinct; the only shuffle is
    the distinct's (id, feature)-keyed exchange."""
    toks = ws_tokens(F.col(text_col))
    if lowercase:
        toks = F.transform(toks, lambda t: F.lower(t))
    return (
        df.select(F.col(id_col), F.explode(toks).alias("_tok"))
        .select(F.col(id_col), hashed_feature(F.col("_tok"), n_features).alias("feature"))
        .distinct()
    )


def train_quality_weights(
    features: DataFrame,
    labels: DataFrame,
    n_features: int,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    label_col: str = "label",
) -> DataFrame:
    """Closed-form NB log-odds weights from binarized features:

        w_f = ln((c⁺_f + α) / (T⁺ + αD)) − ln((c⁻_f + α) / (T⁻ + αD))

    where c±_f counts docs of each class containing feature f, T± are the
    class totals of those incidence counts, D = ``n_features``, α the
    add-α smoother.  Returns the MODEL: ``(feature, weight)``, ≤ D rows —
    broadcastable by construction.  Rounded to 6 decimals (ulp
    discipline).  One inner join (labels are doc-keyed) + one
    feature-keyed groupBy + one scalar agg."""
    lab = labels.select(F.col(id_col), F.col(label_col).alias("_y"))
    pairs = features.join(lab, id_col)
    counts = pairs.groupBy("feature").agg(
        F.sum(F.when(F.col("_y"), 1).otherwise(0)).alias("_cpos"),
        F.sum(F.when(F.col("_y"), 0).otherwise(1)).alias("_cneg"),
    )
    totals = counts.agg(
        F.coalesce(F.sum("_cpos"), F.lit(0)).cast("double").alias("_tpos"),
        F.coalesce(F.sum("_cneg"), F.lit(0)).cast("double").alias("_tneg"),
    )
    a = F.lit(float(alpha))
    d = F.lit(float(n_features))
    return counts.crossJoin(F.broadcast(totals)).select(
        F.col("feature"),
        F.round(
            F.log((F.col("_cpos") + a) / (F.col("_tpos") + a * d))
            - F.log((F.col("_cneg") + a) / (F.col("_tneg") + a * d)),
            6,
        ).alias("weight"),
    )


def class_prior_bias(alpha: float = 0.5, label_col: str = "label") -> Column:
    """ln((n⁺ + α)/(n⁻ + α)) as a 1-row aggregate Column (use inside an
    ``agg``); α keeps a single-class label set finite."""
    a = F.lit(float(alpha))
    npos = F.sum(F.when(F.col(label_col), 1).otherwise(0))
    nneg = F.sum(F.when(F.col(label_col), 0).otherwise(1))
    return F.round(F.log((npos + a) / (nneg + a)), 6)


def score_quality(
    df: DataFrame,
    features: DataFrame,
    weights: DataFrame,
    bias: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every doc: ``score = bias + Σ_{f ∈ doc} w_f`` (decimal
    micro-unit sum of the pre-rounded weights), ``predicted = score >
    0``.  ``bias`` is a 1-row DataFrame with column ``bias`` (broadcast).
    Docs with no features (empty text) score the bare bias.  Plan:
    broadcast model join + doc-keyed sum + left join back onto the doc
    spine — no full-table window, no driver loop."""
    scored = (
        features.join(F.broadcast(weights), "feature")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_features"),
            F.sum((F.col("weight") * _MICRO).cast("decimal(38,0)")).alias("_w6"),
        )
    )
    out = (
        df.select(F.col(id_col))
        .join(scored, id_col, "left")
        .crossJoin(F.broadcast(bias.select(F.col("bias"))))
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_features"), F.lit(0).cast("bigint")).alias(
                "n_features"
            ),
            F.round(
                F.col("bias")
                + F.coalesce(
                    F.col("_w6").cast("double") / F.lit(float(_MICRO)), F.lit(0.0)
                ),
                6,
            ).alias("score"),
        )
    )
    return out.select(
        id_col, "n_features", "score", (F.col("score") > 0).alias("predicted")
    )


def quality_classifier(
    df: DataFrame,
    labels: DataFrame,
    n_features: int = 4096,
    alpha: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
    lowercase: bool = True,
) -> DataFrame:
    """End-to-end train→score: bootstrap-labelled corpus in, per-doc
    ``(id, n_features, score, predicted)`` out.  The (doc, feature) pair
    table is consumed by training AND scoring — persisted via the shared
    cache (the multi-consumer rule)."""
    feats = doc_features(
        df, n_features, text_col=text_col, id_col=id_col, lowercase=lowercase
    )
    feats = _FEAT_CACHE.get_or_persist(feats, "doc_features", n_features)
    # labels feed the training join AND the bias aggregate; when they are
    # themselves a computed gate (the Gopher bootstrap), each branch would
    # re-run it — persist the tiny (id, bool) frame (multi-consumer rule)
    labels = _FEAT_CACHE.get_or_persist(labels, "labels")
    weights = train_quality_weights(
        feats, labels, n_features, alpha=alpha, id_col=id_col, label_col=label_col
    )
    bias = labels.agg(class_prior_bias(alpha, label_col).alias("bias"))
    return score_quality(df, feats, weights, bias, id_col=id_col)


# ---------------------------------------------------------------------------
# Language identification — trained char-trigram multinomial Naive Bayes
# ---------------------------------------------------------------------------

# Seed corpora for the trigram language model: short passages of
# high-frequency function words and everyday prose per language, written
# from public common-vocabulary knowledge (no external corpus in this
# container).  The MODEL is derived deterministically from these
# literals at import time — pure counting, no RNG — so the fitted
# weights are as reproducible as the source text.  Held-out test
# sentences live in tests/, never here.
_LANG_SEEDS: dict[str, str] = {
    "en": (
        "the quick brown fox jumps over the lazy dog and the people in "
        "the town were happy because they could see that the weather was "
        "good for walking with their friends and family on this day of "
        "the week when everyone has time to think about what they want "
        "from life and how much there is to be done before the evening "
        "comes and the lights go out in all of the houses along the street"
        " it was not the first time that she had seen him walk "
        "down by the river where the old bridge crosses the water and "
        "there are always some birds sitting on the stones near the bank"
    ),
    "es": (
        "el rapido zorro marron salta sobre el perro perezoso y la gente "
        "de la ciudad estaba feliz porque podia ver que el tiempo era "
        "bueno para caminar con sus amigos y su familia en este dia de la "
        "semana cuando todos tienen tiempo para pensar en lo que quieren "
        "de la vida y cuanto hay que hacer antes de que llegue la noche y "
        "se apaguen las luces en todas las casas de la calle"
        " no era la primera vez que ella lo habia visto caminar por el "
        "rio donde el puente viejo cruza el agua y siempre hay algunos "
        "pajaros sentados sobre las piedras cerca de la orilla"
    ),
    "fr": (
        "le renard brun rapide saute par dessus le chien paresseux et les "
        "gens de la ville etaient heureux parce que ils pouvaient voir que "
        "le temps etait bon pour se promener avec leurs amis et leur "
        "famille en ce jour de la semaine quand tout le monde a le temps "
        "de penser a ce que ils veulent de la vie et combien il reste a "
        "faire avant que le soir arrive et que les lumieres dans toutes "
        "les maisons de la rue"
        " ce ne etait pas la premiere fois que elle le avait vu marcher "
        "pres de la riviere ou le vieux pont traverse le eau et il y a "
        "toujours des oiseaux assis sur les pierres pres de la rive"
    ),
    "de": (
        "der schnelle braune fuchs springt uber den faulen hund und die "
        "menschen in der stadt waren glucklich weil sie sehen konnten dass "
        "das wetter gut war um mit ihren freunden und ihrer familie an "
        "diesem tag der woche spazieren zu gehen wenn alle zeit haben "
        "daruber nachzudenken was sie vom leben wollen und wie viel noch "
        "zu tun ist bevor der abend kommt und die lichter in allen "
        "hausern entlang der strasse ausgehen"
        " es war nicht das erste mal dass sie ihn am fluss entlang gehen "
        "sah wo die alte brucke uber das wasser fuhrt und dort sitzen "
        "immer ein paar vogel auf den steinen nahe dem ufer"
    ),
    "pt": (
        "a rapida raposa marrom pula sobre o cao preguicoso e as pessoas "
        "da cidade estavam felizes porque podiam ver que o tempo estava "
        "bom para caminhar com os seus amigos e a sua familia neste dia "
        "da semana quando todos tem tempo para pensar no que querem da "
        "vida e quanto ha para fazer antes que chegue a noite e as luzes "
        "se apaguem em todas as casas ao longo da rua"
        " nao era a primeira vez que ela o tinha visto caminhar ao lado "
        "do rio onde a ponte velha cruza a agua e sempre ha alguns "
        "passaros sentados nas pedras perto da margem e ele costuma "
        "olhar os barcos que passam devagar no meio do rio"
    ),
}

_LANG_MICRO = 1_000_000


def lang_trigram_model(
    alpha: float = 0.5, top_per_lang: int = 128
) -> tuple[list[tuple[str, str, int]], list[tuple[str, int, int]]]:
    """Fit the char-trigram multinomial NB from ``_LANG_SEEDS`` — pure
    deterministic Python over a few hundred bytes of literals (runs in
    ~1 ms; the heavy part of lang ID is SCORING the corpus, which stays
    fully distributed in ``lang_id_model``).

    Vocabulary = union over languages of each language's
    ``top_per_lang`` most frequent trigrams (count desc, trigram asc
    tie-break).  With V = |vocab| and T_l = Σ_{t∈vocab} c_{t,l}:

        logp_{t,l}  = ln((c_{t,l} + α) / (T_l + α·V))
        default_l   = ln(α / (T_l + α·V))        (unseen / out-of-vocab)
        prior_l     = ln(1 / K)

    Scoring uses score_l = prior_l + N·default_l + Σ_t n_t·(logp−default),
    so only (trigram, lang) pairs with c_{t,l} > 0 need a model row
    (zero-count pairs have logp == default ⇒ adjustment 0) — the model
    stays a few hundred rows, broadcastable and small enough to inline
    as VALUES in the DuckDB oracle.  Every weight is rounded to 6
    decimals FIRST and returned in integer micro-units (the repo's
    decimal micro-unit discipline), so cross-engine sums are exact.

    Returns ``(model_rows, lang_rows)``: ``(trigram, lang, adj_w_micro)``
    and ``(lang, prior_w_micro, default_w_micro)``."""
    import math as _math
    from collections import Counter

    counts: dict[str, Counter] = {}
    for lang, seed in _LANG_SEEDS.items():
        s = seed.lower()
        counts[lang] = Counter(s[i : i + 3] for i in range(len(s) - 2))
    vocab: set[str] = set()
    for lang, c in counts.items():
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:top_per_lang]
        vocab.update(t for t, _ in top)
    v = len(vocab)
    k = len(_LANG_SEEDS)
    prior = round(_math.log(1.0 / k), 6)
    prior_micro = int(round(prior * _LANG_MICRO))
    model_rows: list[tuple[str, str, int]] = []
    lang_rows: list[tuple[str, int, int]] = []
    for lang in sorted(_LANG_SEEDS):
        c = counts[lang]
        t_l = sum(c[t] for t in vocab)
        denom = t_l + alpha * v
        default_micro = int(round(round(_math.log(alpha / denom), 6) * _LANG_MICRO))
        lang_rows.append((lang, prior_micro, default_micro))
        for t in sorted(vocab):
            if c[t] > 0:
                logp_micro = int(
                    round(round(_math.log((c[t] + alpha) / denom), 6) * _LANG_MICRO)
                )
                model_rows.append((t, lang, logp_micro - default_micro))
    return model_rows, lang_rows


def lang_id_model(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    top_per_lang: int = 128,
) -> DataFrame:
    """Trained language ID (r14 verdict ask #5 — replaces the stopword
    heuristic as the production operator; ``text.lang_id`` stays as the
    documented zero-model fallback): score every document under the
    char-trigram multinomial NB of ``lang_trigram_model`` and emit
    ``(id_col, lang_pred, lang_score)`` with ``lang_pred = 'unknown'``
    for texts shorter than one trigram.

    CLOSED-WORLD contract: the model covers exactly the five seeded
    languages (en/es/fr/de/pt); text in any other language is assigned
    the nearest seeded language by trigram likelihood, never
    ``unknown`` (``unknown`` only flags sub-trigram input).  Measured
    accuracy: QUALITY.md / bench_records/LANG_ID_QUALITY_r16.json
    (macro-F1 1.0 on the 85-item held-out + UDHR eval fixture).

    All-JVM scoring, standard map-side-combinable shape at 100 TB:
    trigram explode (≈len(text) rows/doc, the tokens_to_ids shape) →
    one (doc, trigram)-keyed count groupBy (partial agg absorbs the
    fan-out) → broadcast model join → (doc, lang)-keyed micro-unit sum →
    per-doc argmax via a single struct-min aggregate (score desc, lang
    asc tie-break; exact on integer micro-units — no window over the
    corpus, no Python).  The tiny per-language table rides a 5-row
    broadcast nested-loop join (the 1-row-scalar crossJoin idiom)."""
    model_rows, lang_rows = lang_trigram_model(alpha=alpha, top_per_lang=top_per_lang)
    spark = df.sparkSession
    # inline-VALUES LocalRelations: both frames are broadcast-only model
    # weights; the Python-RDD spelling paid a 32-task Python stage per
    # broadcast build (see csv_etl_spark.local)
    from csv_etl_spark.local import local_values_frame

    model = local_values_frame(
        spark, model_rows, "trigram string, lang string, adj_w bigint"
    )
    langs = local_values_frame(
        spark, lang_rows, "lang string, prior_w bigint, default_w bigint"
    )
    low = F.lower(F.col(text_col))
    spine = df.select(
        F.col(id_col),
        F.greatest(F.length(low) - 2, F.lit(0)).cast("bigint").alias("_n3"),
    )
    tris = df.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.length(low) >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.length(low) - 2),
                    lambda i: low.substr(i, F.lit(3)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("trigram"),
    )
    tri_counts = tris.groupBy(id_col, "trigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n")
    )
    adj = (
        tri_counts.join(F.broadcast(model), "trigram")
        .groupBy(id_col, "lang")
        .agg(F.sum(F.col("_n") * F.col("adj_w")).alias("_adj"))
    )
    scored = (
        spine.crossJoin(F.broadcast(langs))
        .join(adj, [id_col, "lang"], "left")
        .select(
            F.col(id_col),
            F.col("_n3"),
            F.col("lang"),
            (
                F.col("prior_w")
                + F.col("_n3") * F.col("default_w")
                + F.coalesce(F.col("_adj"), F.lit(0).cast("bigint"))
            ).alias("_sm"),
        )
    )
    best = scored.groupBy(id_col).agg(
        F.min(
            F.struct((-F.col("_sm")).alias("_neg"), F.col("lang").alias("lang"))
        ).alias("_b"),
        F.first("_n3").alias("_n3"),
    )
    return best.select(
        F.col(id_col),
        F.when(F.col("_n3") == 0, F.lit("unknown"))
        .otherwise(F.col("_b.lang"))
        .alias("lang_pred"),
        F.round(
            (-F.col("_b._neg")).cast("double") / F.lit(float(_LANG_MICRO)), 6
        ).alias("lang_score"),
    )
