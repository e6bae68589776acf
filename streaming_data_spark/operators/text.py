"""[EXT] Text analysis operators (SURVEY.md §2.11 X3; BASELINE.json
mandate — large-scale training-data pipeline surface).

Everything here is built-in-expression only (split / regexp /
aggregate lambdas) so it rides whole-stage codegen over 100 TB of
documents — no Python in the row path. The review-string corpus of
the reference (crawling_code/get_best_item_review.py:34-36) is the
reference-grounded ancestor of these operators.

Determinism contract: every function has an equivalent ANSI-SQL
formulation (queries_ext.py) — the heuristics use fixed constant
lists and fixed-order arithmetic so Spark and DuckDB agree bitwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from streaming_data_spark.session import batch_shuffle_partitions

# Fixed per-language stopword lists (tiny by design: the operator is a
# deterministic n-gram/stopword heuristic, not a model).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "to", "a", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"),
    "es": ("el", "los", "las", "de", "y", "es", "un", "una", "para", "en"),
    "fr": ("le", "la", "les", "et", "est", "pour", "dans", "que", "vous", "ne"),
}
LANG_PRIORITY = ("en", "de", "es", "fr")  # tie-break order, fixed

# BPE-ish token pattern: letter runs | digit runs | single punctuation
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (array column)."""
    return F.split(F.trim(text), r"\s+")


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def token_count_bpe(text: Column | str) -> Column:
    """BPE-ish token count: letter runs + digit runs + punctuation marks."""
    return F.size(F.regexp_extract_all(F.col(text) if isinstance(text, str) else text,
                                       F.lit(TOKEN_PATTERN), 0))


def stopword_hits(toks: Column, lang: str) -> Column:
    """Multiset count of stopword occurrences (not distinct-intersect —
    ratio semantics need the multiset)."""
    stops = STOPWORDS[lang]
    return F.aggregate(
        toks,
        F.lit(0),
        lambda acc, t: acc + F.when(t.isin(*stops), 1).otherwise(0),
    )


def punct_ratio(text: Column | str) -> Column:
    """Punctuation chars / total chars."""
    t = F.col(text) if isinstance(text, str) else text
    return F.length(F.regexp_replace(t, r"[^.,!?;:]", "")) / F.length(t)


def lang_id(toks: Column) -> Column:
    """Language-ID by stopword-hit scoring with fixed tie-break order;
    'und' when no list scores > 0."""
    scores = {lang: stopword_hits(toks, lang) for lang in LANG_PRIORITY}
    mx = F.greatest(*scores.values())
    out = F.when(mx == 0, "und")
    for lang in LANG_PRIORITY:  # chain order = tie-break priority
        out = out.when(scores[lang] == mx, lang)
    return out.otherwise("und")


def quality_score(text_col: Column | str) -> Column:
    """Deterministic quality heuristic in [0,1]:
    0.3·min(1, n_tok/200) + 0.4·en-stopword-ratio + 0.3·(1 − punct_ratio).
    Fixed operation order — bit-identical across engines."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(t)
    n_tok = F.size(toks)
    stop_ratio = stopword_hits(toks, "en") / n_tok
    return (
        F.least(F.lit(1.0), n_tok / F.lit(200.0)) * 0.3
        + stop_ratio * 0.4
        + (F.lit(1.0) - punct_ratio(t)) * 0.3
    )


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of case-folded, whitespace-collapsed
    text (the canonical-form hash used for exact dedup at scale)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(F.regexp_replace(F.trim(t), r"\s+", " ")))


def text_metrics(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The full per-document metrics row: token counts, ratios,
    language guess, quality score, fingerprint."""
    toks = tokens(F.col(text_col))
    return df.select(
        F.col(id_col),
        token_count_ws(F.col(text_col)).alias("n_tokens_ws"),
        token_count_bpe(text_col).alias("n_tokens_bpe"),
        F.length(F.col(text_col)).alias("n_chars_obs"),
        F.round(stopword_hits(toks, "en") / F.size(toks), 6).alias("stop_ratio_en"),
        F.round(punct_ratio(text_col), 6).alias("punct_ratio"),
        lang_id(toks).alias("lang_guess"),
        F.round(quality_score(text_col), 6).alias("quality"),
        fingerprint(text_col).alias("fp"),
    )


def lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hot_frac: float | str | None = "auto",
    salt: int = 8,
) -> DataFrame:
    """(id, n_bigrams, avg_logp): each document's mean log-probability
    under the corpus's OWN bigram LM — the perplexity-proxy quality
    signal of CCNet-style curation (Wenzek et al., LREC 2020; KenLM in
    the public pipeline, the n=2 engine-native analog here). Because
    the LM is estimated from the scored corpus itself, every scored
    bigram has count ≥ 1 and P(w2|w1) ≥ 1/n_ctx > 0 — no smoothing
    branch. Documents with < 2 tokens emit nothing.

    Scale shape: bigram/context counts and the probability join are
    keyed SHUFFLES on the bigram key — the full vocabulary grows with
    the corpus, so the probability table itself never broadcasts (the
    x17 document-frequency rule). Hot bigrams ("the, of") are the
    skew hazard: the instance⋈probs join therefore goes through
    ``operators.skew.skew_split_inner_join``, split at a frequency
    fraction. A bigram with n ≥ hot_frac·N implies at most 1/hot_frac
    such bigrams (pigeonhole) — a BOUNDED broadcastable set regardless
    of corpus size — so hot instances resolve map-side against the
    broadcast slice and enter the cold shuffle under a RANDOM salt
    (no reducer ever owns a hot key), while cold keys ship exactly
    once. ONE pass over the instance stream either way. Results are
    identical to the plain join (the ``x35_lm_score`` oracle is the
    equality gate); only the physical key distribution changes.

    ``hot_frac="auto"`` (default) sets the threshold from the fair
    shuffle share: a key is hot when its share ≥ 4/P, with P the batch
    shuffle partition count (``session.batch_shuffle_partitions``)
    (≥ 4× one reducer's fair load — below that a key cannot straggle
    a task, above it AQE's SMJ-only skew split may not apply). On
    local[32] nothing crosses it (the probe/pytest tier exercises the
    hot path with synthetic skew); at P=2048 it is 0.2% — stopword-
    bigram grade. Set ``hot_frac=None`` to disable the split.
    """
    from streaming_data_spark.operators.skew import skew_split_inner_join

    if hot_frac == "auto":
        hot_frac = 4.0 / max(batch_shuffle_partitions(df.sparkSession), 1)

    toks = F.split(F.trim(text_col), r"\s+")
    m = F.size(toks) - 1
    grams = F.zip_with(
        F.slice(toks, 1, m), F.slice(toks, 2, m),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    inst = df.select(
        id_col, F.explode(F.when(F.size(toks) >= 2, grams)).alias("g")
    ).select(id_col, "g.w1", "g.w2")
    big = inst.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_bigram"))
    # The bigram table feeds every derived quantity below (ctx, the
    # probability table, the hot threshold) — materialize it ONCE.
    # O(vocab) rows, bounded by the dictionary, never by corpus volume
    # (the same double-compute guard as dedup's MinHash signatures).
    # r16: previously ctx was a SECOND full groupBy over the instance
    # stream and the hot-path total a separate documents scan; both
    # are exact re-aggregations of `big` (n_ctx(w1) = Σ_{w2} n_bigram;
    # N = Σ n_bigram), so deriving them here removes one full
    # explode+shuffle pass over the corpus and one documents scan
    # (guide §2.3 — aggregate before you shuffle, then reuse the
    # aggregate). One corpus pass builds the LM; one scores against it.
    big = big.localCheckpoint()
    ctx = big.groupBy("w1").agg(F.sum("n_bigram").alias("n_ctx"))
    probs = big.join(ctx, "w1").select(
        "w1", "w2", "n_bigram",
        (F.col("n_bigram") / F.col("n_ctx")).alias("p_cond"),
    )
    if hot_frac is None:
        scored = inst.join(probs.drop("n_bigram"), ["w1", "w2"])
    else:
        # N = Σ n_bigram over the checkpointed vocab table — exactly
        # Σ max(|toks|-1, 0), at vocab cost instead of a corpus scan.
        total = big.agg(F.sum("n_bigram").alias("n_total"))
        probs_t = probs.crossJoin(F.broadcast(total)).select(
            "w1",
            "w2",
            (F.col("n_bigram") >= F.col("n_total") * hot_frac).alias("__is_hot"),
            "p_cond",
        )
        # The split consumes probs twice (hot slice + cold slice);
        # both re-derive from the checkpointed `big` — vocab-sized
        # joins, no corpus recompute, no second checkpoint job.
        scored = skew_split_inner_join(
            inst, probs_t, ["w1", "w2"], is_hot="__is_hot", salt=salt
        )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log("p_cond")), 6).alias("avg_logp"),
        )
    )
