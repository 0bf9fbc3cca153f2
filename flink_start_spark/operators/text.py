"""Text analysis operators (SURVEY §2b): language-ID, quality scoring,
token counting, fingerprinting.

All pure Catalyst expressions over the ``documents`` table — string/array
functions inside whole-stage codegen, zero Python on the hot path. Each
has an exact DuckDB-oracle twin (plans/extensions.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_start_spark import cache as C
from flink_start_spark.functions import texthash as TH
from flink_start_spark.sources.catalog import fan_out

#: Marker stopwords per language for the n-gram/stopword heuristic.
#: Deterministic tie order = list order (first match wins on equal score).
LANG_MARKERS: list[tuple[str, list[str]]] = [
    ("en", ["the", "a", "of", "and"]),
    ("es", ["el", "la", "de", "que"]),
    ("de", ["der", "die", "und", "das"]),
    ("fr", ["le", "la", "et", "les"]),
    ("zh", ["的", "是", "了", "在"]),
]

#: Stopword set for quality scoring (generic English-ish fillers).
STOPWORDS = ["the", "a", "an", "of", "and", "or", "to", "in"]


def _marker_score(words_col: Column, markers: list[str]) -> Column:
    """Fraction of tokens that are in the marker list."""
    hits = F.size(F.filter(words_col, lambda w: w.isin(*markers)))
    return hits.cast("double") / F.greatest(F.size(words_col), F.lit(1)).cast("double")


def quality_expr(ws: Column) -> Column:
    """The composite quality score over a word array (unrounded) —
    single-sourced so text_stats and the curation audit grade with the
    identical formula."""
    n_tokens = F.size(ws)
    n_distinct = F.size(F.array_distinct(ws))
    stop_hits = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS)))
    denom = F.greatest(n_tokens, F.lit(1)).cast("double")
    return (
        F.lit(0.4) * F.least(F.lit(1.0), n_tokens.cast("double") / F.lit(64.0))
        + F.lit(0.4) * (n_distinct.cast("double") / denom)
        + F.lit(0.2) * (F.lit(1.0) - F.abs(stop_hits.cast("double") / denom - F.lit(0.4)))
    )


def clean_norm_expr(text: Column) -> Column:
    """The normalization half of the clean stage (whitespace collapse →
    trim → lower) — single-sourced for clean_text and the curation
    audit, like :func:`clean_keep_expr` is for the keep rules."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def clean_words_expr(text: Column) -> Column:
    """Normalized word array: :func:`clean_norm_expr` split on ' '."""
    return F.split(clean_norm_expr(text), " ")


def clean_keep_expr(cw: Column) -> Column:
    """C4/Gopher keep rules over the *normalized* word array —
    single-sourced for clean_text and the curation audit."""
    n_tokens = F.size(cw)
    n_distinct = F.size(F.array_distinct(cw))
    denom = F.greatest(n_tokens, F.lit(1)).cast("double")
    avg_len = (
        F.aggregate(cw, F.lit(0), lambda acc, w: acc + F.length(w)).cast("double")
        / denom
    )
    return (
        (n_tokens >= 16)
        & (avg_len >= 2.0)
        & (avg_len <= 12.0)
        & (n_distinct.cast("double") / denom > 0.3)
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of marker-stopword frequency.

    A deliberately simple, deterministic n-gram/stopword classifier (the
    public fastText/CLD approach reduced to its SQL-expressible core).
    Emits 'und' (undetermined) when no marker occurs at all.
    """
    ws = TH.words(F.col(text_col))
    scores = [
        (lang, _marker_score(ws, markers)) for lang, markers in LANG_MARKERS
    ]
    best = F.greatest(*[s for _, s in scores])
    pred = F.lit("und")
    # reversed: earlier entries win ties (last when() evaluated first wins)
    for lang, score in reversed(scores):
        pred = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return df.withColumn("pred_lang", pred)


def text_stats(
    df: DataFrame, text_col: str = "text", extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Per-document token/char statistics + a composite quality score.

    Quality = 0.4 * min(1, n_tokens/64)            (length credit)
            + 0.4 * distinct_ratio                  (repetition penalty)
            + 0.2 * (1 - |stopword_ratio - 0.4|)    (natural-prose prior)
    — the length/punctuation/stopword-ratio family of heuristic filters
    used by public LLM-corpus pipelines (C4/Gopher-style rules), reduced
    to the columns available here.
    """
    ws = TH.words(F.col(text_col))
    n_tokens = F.size(ws)
    n_distinct = F.size(F.array_distinct(ws))
    stop_hits = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS)))
    stop_ratio = stop_hits.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double")
    distinct_ratio = n_distinct.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double")
    avg_word_len = (
        F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w)).cast("double")
        / F.greatest(n_tokens, F.lit(1)).cast("double")
    )
    quality = quality_expr(ws)
    return df.select(
        "doc_id",
        *extra_cols,
        n_tokens.cast("long").alias("n_tokens"),
        n_distinct.cast("long").alias("n_distinct_tokens"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(avg_word_len, 6).alias("avg_word_len"),
        F.round(quality, 6).alias("quality_score"),
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish subword estimate.

    The subword estimate charges ceil(len(word)/4) tokens per word — the
    "~4 chars per BPE token" rule of thumb for English-like text; exact
    BPE requires a vocabulary (a Pandas-UDF job, out of SQL scope).
    """
    ws = TH.words(F.col(text_col))
    subword = F.aggregate(
        ws, F.lit(0), lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("int")
    )
    return df.select(
        "doc_id",
        F.size(ws).cast("long").alias("ws_tokens"),
        subword.cast("long").alias("bpe_est_tokens"),
        F.length(F.col(text_col)).cast("long").alias("n_chars_measured"),
    )


def validate_documents(
    df: DataFrame, text_col: str = "text", chars_col: str = "n_chars"
) -> DataFrame:
    """Ingest-edge validity filter for a documents relation — the
    documents twin of the reference's malformed-record drop
    (package.scala:29-31, null-field JSON records skipped before any
    operator runs): rows with NULL text or NULL char counts are
    malformed records, dropped HERE so every downstream operator (and
    its oracle) can assume the corpus contract text/n_chars NOT NULL.
    Empty text is VALID (a zero-length document is data, not damage —
    the adversarial gate runs one through the whole catalog); NULL is
    not. Emitted as a filter, not an action, so at 100 TB it fuses
    into the first scan."""
    return df.filter(
        F.col(text_col).isNotNull() & F.col(chars_col).isNotNull()
    )


def clean_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4/Gopher-style normalization + keep/drop rules — the first stage
    of every LLM-corpus pipeline.

    Normalization: collapse whitespace runs, trim, lowercase (one
    codegen'd projection; Spark's regexp_replace is global by default —
    the DuckDB twin needs the explicit 'g' flag).

    Keep rules (Gopher-reduced to available columns): >= 16 tokens,
    mean word length in [2, 12], distinct-token ratio > 0.3. Emitted as
    a ``kept`` flag rather than a filter so downstream stages can audit
    drop rates per source — at 100 TB you never discard silently.
    """
    clean = clean_norm_expr(F.col(text_col))
    ws = F.split(clean, " ")
    return df.select(
        "doc_id",
        clean.alias("clean_text"),
        F.size(ws).cast("long").alias("n_tokens"),
        clean_keep_expr(ws).alias("kept"),
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 95,
    val_pct: int = 4,
) -> DataFrame:
    """Deterministic train/val/test assignment: first two md5 bytes of
    the id, mod 100 — stable across runs, machines, and engines (no
    RNG, no sampling order dependence), which is what makes dataset
    splits reproducible and join-free to recompute anywhere.
    """
    bucket = TH.md5_bucket(F.col(id_col))
    split = (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition filters reduced to the available columns:
    duplicate-token fraction, top-token fraction, top-bigram fraction
    (Rae et al. '21 §A1.1 uses duplicate *lines* too — this corpus has
    no newlines, so the line family is vacuous and omitted).

    Two-stage projection on purpose: the word/bigram arrays are
    materialized as columns FIRST, so the mode-count lambdas scan a
    computed array instead of re-evaluating the split/zip_with
    construction per element (the measured O(words²) Catalyst trap
    documented at functions/texthash.py::shingles).
    """
    staged = df.select(
        "doc_id",
        TH.words(F.col(text_col)).alias("_w"),
        TH.shingles(F.col(text_col), 2).alias("_bg"),
    )
    w, bg = F.col("_w"), F.col("_bg")
    n = F.size(w)
    mode_count = lambda arr: F.array_max(  # noqa: E731
        F.transform(
            F.array_distinct(arr), lambda t: F.size(F.filter(arr, lambda x: x == t))
        )
    )
    frac = lambda num, den: F.round(  # noqa: E731
        num.cast("double") / F.greatest(den, F.lit(1)).cast("double"), 6
    )
    return staged.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        frac(n - F.size(F.array_distinct(w)), n).alias("dup_token_frac"),
        frac(mode_count(w), n).alias("top_token_frac"),
        frac(mode_count(bg), F.size(bg)).alias("top_bigram_frac"),
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, int],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_pct: int = 50,
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff its salted
    md5 bucket falls under the stratum's target percentage. The
    standard corpus-rebalancing move (downsample the dominant language,
    keep the rare ones whole) with three scale properties: no RNG (the
    sample is reproducible on any engine and any partitioning), no
    shuffle (pure filter projection), and an emitted ``weight`` =
    100/rate so downstream aggregates can reweight back to the
    population (Horvitz-Thompson estimator).
    """
    bucket = TH.md5_bucket(F.col(id_col), salt="sample|")
    rate = F.lit(default_pct)
    for stratum, pct in rates.items():
        rate = F.when(F.col(stratum_col) == stratum, F.lit(pct)).otherwise(rate)
    return (
        df.withColumn("_rate", rate)
        .filter(bucket < F.col("_rate"))
        .withColumn("weight", F.round(F.lit(100.0) / F.col("_rate"), 6))
        .drop("_rate")
    )


def decontaminate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 5,
    bench_pct: int = 5,
    threshold: float = 0.2,
) -> DataFrame:
    """Benchmark decontamination: flag training documents whose word
    ``ngram``-shingles overlap a held-out benchmark set (the GPT-3 /
    Llama eval-overlap procedure: any training doc sharing long
    n-grams with an eval doc is suspect).

    Here the "benchmark" is carved deterministically from the corpus
    itself (md5 bucket < bench_pct, salt 'bench|') so the check is
    self-contained and oracle-reproducible; in production the bench
    side is the external eval suite. Scale shape: the benchmark
    shingle set is small by contract (eval suites are MBs, not TBs) —
    it is broadcast, so the scored side is one scan + one local hash
    join + one groupBy on doc_id; no all-pairs stage and no shuffle of
    the corpus text.
    """
    bucket = TH.md5_bucket(F.col(id_col), salt="bench|")
    sh = F.array_distinct(TH.shingles(F.col(text_col), ngram))
    # tracked: the bench and scored branches both read this relation —
    # unpersisted, the corpus scan + shingle/md5 construction runs
    # twice per action (the repo-wide shared-subtree rule)
    shingled = C.track(
        df.select(F.col(id_col), bucket.alias("_bucket"), sh.alias("_sh"))
    )
    bench = (
        shingled.filter(F.col("_bucket") < bench_pct)
        .select(F.explode("_sh").alias("bench_shingle"))
        .distinct()
    )
    scored = shingled.filter(F.col("_bucket") >= bench_pct).select(
        id_col, F.explode("_sh").alias("_s")
    )
    joined = scored.join(
        F.broadcast(bench), scored["_s"] == bench["bench_shingle"], "left"
    )
    frac = F.count("bench_shingle").cast("double") / F.count("*").cast("double")
    return joined.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.count("bench_shingle").cast("long").alias("n_contaminated"),
        F.round(frac, 6).alias("contamination_frac"),
        (frac >= threshold).alias("contaminated"),
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "lang",
    k: int = 10,
) -> DataFrame:
    """Top-k terms per group by TF-IDF: tf = term occurrences in the
    group, df = documents in the group containing the term, score =
    tf * ln(1 + N/df). The corpus-profiling primitive behind keyword
    extraction and topic drift monitoring in data pipelines.

    Scale shape: explode → groupBy(group, term) with map-side partial
    aggregation (duplicate terms collapse before the shuffle); the
    per-group doc totals are a 5-row broadcast; the final top-k is a
    window over the already-aggregated (group, term) relation, which is
    orders of magnitude smaller than the corpus. Scores are rounded
    BEFORE ranking and tie-broken on the term so the top-k set is
    deterministic across engines and partitionings.
    """
    terms = df.select(
        group_col, "doc_id", F.explode(TH.words(F.col(text_col))).alias("term")
    )
    stats = terms.groupBy(group_col, "term").agg(
        F.count("*").cast("long").alias("tf"),
        F.countDistinct("doc_id").cast("long").alias("df"),
    )
    totals = df.groupBy(group_col).agg(F.count("*").alias("n_docs"))
    scored = stats.join(F.broadcast(totals), group_col).withColumn(
        "tfidf",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.lit(1.0) + F.col("n_docs").cast("double") / F.col("df").cast("double")),
            6,
        ),
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(group_col, "term", "tf", "df", "tfidf", "rnk")
    )


def quality_median_filter(
    df: DataFrame, text_col: str = "text", group_col: str = "lang"
) -> DataFrame:
    """Per-group exact-median quality cut: keep documents whose quality
    score is >= their group's lower median (the distribution-relative
    variant of threshold filtering — robust to per-language score
    shifts that break a single global cutoff).

    Median is the EXACT lower median (the value at position (cnt+1)/2
    under score order — the (score, doc_id) tiebreak of the oracle's
    rank window cannot change WHICH VALUE sits at a rank), not
    percentile_approx: approximate sketches are engine-specific, the
    exact rank is reproducible everywhere. Scale note: selection runs
    the two-phase histogram topology (operators/selection.py) — no
    per-language sort task, ever; the 5-row median table then
    broadcasts back onto the persisted stats.
    """
    from flink_start_spark import cache as C
    from flink_start_spark.operators import selection as S

    st = C.track(text_stats(df, text_col, extra_cols=(group_col,)))
    # Round-11: the weighted distinct-value collapse was A/B'd here and
    # measured 1.25x SLOWER at sf0.1 (extra shuffle + aggregate, no row
    # reduction on this corpus — see q_value_outliers_mad's note in
    # plans/advanced.py); row-level kept.
    medians = S.exact_rank_value(
        st, [group_col], "quality_score", out_col="median_quality"
    ).select(group_col, "median_quality")
    return st.join(F.broadcast(medians), group_col).select(
        "doc_id",
        group_col,
        "quality_score",
        "median_quality",
        (F.col("quality_score") >= F.col("median_quality")).alias("kept"),
    )


#: Portable PII patterns — the same regex dialect subset compiles in
#: Java (Spark) and RE2 (DuckDB): character classes, bounded repeats,
#: \b ASCII word boundaries; no lookaround, no backreferences.
PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("id_number", r"\b\d{3}-\d{2}-\d{4}\b"),
]


def pii_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scan + redaction: per-document match counts for each
    pattern and a text with every match replaced by ``<TYPE>`` tokens.
    Pure regexp projections (codegen'd, no shuffle); the pattern list
    is the portable intersection of Java and RE2 regex dialects so the
    oracle can recompute matches exactly.

    Contract on overlapping matches: ``n_<type>`` are DETECTION counts,
    each computed on the RAW text, while redaction applies patterns
    sequentially (in ``PII_PATTERNS`` order) to the running text — so a
    span matched by two patterns (e.g. an SSN inside an email
    local-part) counts once per pattern but redacts under the first.
    Reconciling ``n_*`` against ``<TYPE>`` token counts in
    ``redacted_text`` is therefore only exact on non-overlapping
    matches; the oracle mirrors this exact semantics.
    """
    out = df
    redacted = F.col(text_col)
    for name, pat in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))).cast(
                "long"
            ),
        )
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    has_pii = None
    for name, _ in PII_PATTERNS:
        c = F.col(f"n_{name}") > 0
        has_pii = c if has_pii is None else (has_pii | c)
    return out.withColumn("redacted_text", redacted).withColumn("has_pii", has_pii)


def ngram_novelty(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-document novelty: the fraction of its distinct word
    ``n``-grams appearing NOWHERE else in the corpus (corpus document
    frequency == 1). Low novelty flags boilerplate/template documents;
    high novelty plus low quality flags gibberish — the df-profile
    companion to the dedup family.

    Shape at 100 TB: ONE scan — explode, then corpus document
    frequency as a count window partitioned by gram (first shuffle),
    then the per-doc aggregation (second shuffle). The groupBy+join
    formulation has the same two shuffles but re-runs the scan+explode
    for each join side (plan-audited); the window form shares one.
    Unlike the pairing operators there is NO self-join, so hot grams
    only add counting rows, never quadratic pairs — no df-cut needed.
    Output: id, n_shingles (distinct), novel_frac (round 6).
    """
    sh = fan_out(df).select(
        F.col(id_col),
        F.array_distinct(TH.shingles(F.col(content_col), n)).alias("_sh"),
    )
    e = sh.select(F.col(id_col), F.explode("_sh").alias("g"))
    with_df = e.withColumn("_df", F.count("*").over(Window.partitionBy("g")))
    return (
        with_df.groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("_df") == 1, 1).otherwise(0)).alias("_novel"),
        )
        .select(
            F.col(id_col),
            "n_shingles",
            F.round(F.col("_novel") / F.col("n_shingles"), 6).alias("novel_frac"),
        )
    )


def weighted_reservoir_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "wrs",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    A-Res): each row draws u ~ U(0,1) and scores u^(1/weight); the
    top-k scores ARE a weight-proportional sample without replacement.
    u comes from the first 48 bits of a salted md5 — no RNG, so the
    sample is reproducible on any engine, partitioning, or run, and the
    DuckDB oracle re-derives it exactly.

    Shape at 100 TB: score is a pure projection; top-k is
    sort+limit, which Spark executes as TakeOrderedAndProject —
    per-partition heaps merged once, NO total sort, no full shuffle.

    Rows with weight <= 0 are dropped before scoring: they have zero
    selection probability under A-Res by definition, and unfiltered
    they would crash the job (1/0 under the session's ANSI mode) or
    produce invalid scores (negative exponent base). Oracle mirrors
    carry the same ``WHERE weight > 0``.
    """
    u = TH.md5_bucket(
        F.col(id_col), mod=None, salt=salt + "|", width=12
    ).cast("double") / F.lit(float(16**12))
    score = F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double"))
    return (
        df.filter(F.col(weight_col) > 0)
        .select(F.col(id_col), F.col(weight_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, weight_col, F.round("score", 6).alias("score"))
    )


def vocab_oov_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 20,
) -> DataFrame:
    """Tokenizer-prep vocabulary audit: build the top-``vocab_size``
    term vocabulary by global frequency (ties by term, so the cut is
    deterministic), then score every document's out-of-vocabulary token
    fraction — the coverage/OOV curve a tokenizer-training pipeline
    sweeps before fixing its vocab.

    Scale shape: term counts are one explode + one groupBy with
    map-side combine (hot terms collapse pre-shuffle); the vocabulary
    selection is a distributed top-k (``TakeOrderedAndProject``, no
    total sort); the vocab table (thousands of rows at any corpus
    size — a tokenizer vocab, not a corpus) broadcasts back onto the
    token relation, so per-doc scoring is one more groupBy on the id.
    The token relation feeds both the count and scoring branches, so
    it is cache-tracked (one corpus scan total).
    """
    toks = df.select(
        F.col(id_col), F.explode(TH.words(F.col(text_col))).alias("term")
    )
    toks = C.track(toks)
    vocab = (
        toks.groupBy("term")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.col("_c").desc(), "term")
        .limit(vocab_size)
        .select("term", F.lit(True).alias("_in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("_in_vocab").isNull(), 1).otherwise(0))
                / F.count("*"),
                6,
            ).alias("oov_frac"),
        )
    )


def unigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quant: int = 1 << 20,
) -> DataFrame:
    """Unigram language-model scoring — the SQL-expressible core of the
    CCNet/Wenzek '19 perplexity filter: score each document by the mean
    negative log-probability of its tokens under the corpus's own
    unigram distribution. Low scores = head-heavy/templated text; high
    scores = rare-token-dense (gibberish or genuinely novel) — the two
    tails a perplexity cut trims.

    Engine-exactness: ln() outputs differ across libm implementations
    in the last ulp, so per-token logs are INTEGER-QUANTIZED
    (``floor(ln(p) * 2^20)``) before the per-doc mean — the same
    commuting-integer-sum trick as the k-means centroid recompute,
    making the result bit-identical across engines and partitionings.

    Scale shape: one explode + token groupBy for counts (map-side
    collapse), one token join back (rare-token keys are the heavy
    side; hot tokens collapse in the count), one doc groupBy. The
    corpus total rides a 1-row broadcast.
    """
    toks = df.select(
        F.col(id_col), F.explode(TH.words(F.col(text_col))).alias("tok")
    )
    toks = C.track(toks)
    counts = toks.groupBy("tok").agg(F.count("*").alias("_c"))
    total = counts.agg(F.sum("_c").alias("_n"))
    scored = (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.floor(
                F.log(F.col("_c").cast("double") / F.col("_n")) * quant
            ).alias("_q"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.round(-F.sum("_q") / (F.count("*") * float(quant)), 6).alias(
            "mean_neg_logprob"
        ),
    )


def quality_classifier_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 1024,
) -> DataFrame:
    """fasttext-style LINEAR quality-classifier INFERENCE over hashed
    unigram features — the model-based filtering stage (LLaMA/CCNet
    style "does this look like reference text?" classifier) applied at
    corpus scale.

    The WEIGHTS here are a deterministic md5-derived stand-in for
    trained parameters (clearly marked, same precedent as the
    multimodal decode stubs standing in for codec libraries): the
    deliverable is the distributable inference plumbing — hash
    featurization (md5 bucket, engine-portable), per-feature weight
    lookup, count-weighted integer accumulation — which is identical
    whatever numbers the weights hold. A real trained model would
    broadcast its D-row weight table and join on the feature bucket
    (decontamination's broadcast shape); with expression-derived
    weights even that join disappears and scoring is PURE MAP WORK
    (see the ZERO-SHUFFLE paragraph below for the actual shape: a
    per-row array fold, no explode and no groupBy).

    Integer weights in [-8, 8] summed count-weighted give an exact
    integer log-odds (no float accumulation, engine-exact); emitted as
    the raw sum, the per-token mean, and the keep flag (sum >= 0).

    ZERO-SHUFFLE: the accumulation is a fold over the per-row word
    array, not an explode + doc groupBy — each document's score is one
    codegen'd projection, so the operator is also stateless-streaming
    compatible as-is (no aggregation, no watermark needed).
    """

    def _wt(w: Column) -> Column:
        h = TH.md5_bucket(w, n_features, salt="feat|")
        return TH.md5_bucket(h, 17, salt="wt|") - F.lit(8)

    worded = df.select(id_col, TH.words(F.col(text_col)).alias("_ws"))
    z = F.aggregate(
        F.col("_ws"), F.lit(0).cast("long"), lambda acc, w: acc + _wt(w)
    )
    n = F.size("_ws")
    return worded.select(
        id_col,
        n.cast("long").alias("n_tokens"),
        z.alias("logodds_q"),
        F.round(z.cast("double") / n, 6).alias("mean_logodds"),
        (z >= 0).alias("kept"),
    )


def source_mixture_weights(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    alpha_sqrt: bool = True,
) -> DataFrame:
    """Training-mixture reweighting (the domain-proportions knob every
    multi-source pretraining run sets; temperature-scaled sampling a la
    public data recipes): per source, document/token counts, the raw
    token share, and the alpha=0.5 temperature-scaled sampling
    proportion p_i = sqrt(n_i) / sum_j sqrt(n_j) that upweights small
    sources.

    Engine-exactness: sqrt is IEEE correctly-rounded (identical in
    every engine, unlike exp/ln/pow), and the normalizing sum runs
    over INTEGER-QUANTIZED floor(sqrt(n)*2^20) weights — integer
    addition commutes, so the result is independent of partitioning
    and summation order. One scan + one tiny groupBy; the total rides
    a 1-row broadcast.
    """
    ws = TH.words(F.col(text_col))
    toks = F.aggregate(
        ws,
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("int"),
    )
    per = df.select(F.col(source_col), toks.alias("_t")).groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_t").cast("long").alias("n_tokens"),
    )
    wq = F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1048576).cast("long")
    per = per.withColumn("_wq", wq)
    tot = per.agg(
        F.sum("n_tokens").alias("_tot_tokens"), F.sum("_wq").alias("_tot_wq")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            source_col,
            "n_docs",
            "n_tokens",
            F.round(
                F.col("n_tokens") / F.col("_tot_tokens").cast("double"), 6
            ).alias("token_share"),
            F.round(F.col("_wq") / F.col("_tot_wq").cast("double"), 6).alias(
                "sample_prop_sqrt"
            ),
        )
    )


def cross_source_overlap(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 5,
) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many distinct word n-grams they share, normalized by each side's
    distinct-gram count — the audit that catches one source being a
    near-copy of another (mirror sites, re-crawls) before both are
    sampled as if independent.

    Topology: one explode to DISTINCT (source, gram-md5) pairs
    (map-side dedup), one gram-keyed groupBy collecting the <=|sources|
    distinct sources per gram into a sorted array, one explode of the
    array's ordered pairs (bounded by |sources|^2 per gram, with
    |sources| ~ 5), one pair groupBy; per-source totals broadcast back.
    Never a gram self-join, never corpus x corpus.
    """
    sg = (
        df.select(
            F.col(source_col).alias("_s"),
            F.explode(TH.shingles(F.col(text_col), n)).alias("_g"),
        )
        .select("_s", F.md5("_g").alias("_gh"))
        .distinct()
    )
    sg = C.track(sg)
    totals = sg.groupBy("_s").agg(F.count(F.lit(1)).alias("_n"))
    per_gram = sg.groupBy("_gh").agg(
        F.array_sort(F.collect_set("_s")).alias("_ss")
    )
    pairs = per_gram.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_ss"),
                    lambda a, i: F.transform(
                        F.slice(F.col("_ss"), i + 2, F.size("_ss")),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            )
        ).alias("_p")
    ).select(F.col("_p.a").alias("source_a"), F.col("_p.b").alias("source_b"))
    shared = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_shared_grams")
    )
    ta = totals.select(F.col("_s").alias("source_a"), F.col("_n").alias("_na"))
    tb = totals.select(F.col("_s").alias("source_b"), F.col("_n").alias("_nb"))
    return (
        shared.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared_grams",
            F.round(F.col("n_shared_grams") / F.col("_na").cast("double"), 6).alias(
                "frac_of_a"
            ),
            F.round(F.col("n_shared_grams") / F.col("_nb").cast("double"), 6).alias(
                "frac_of_b"
            ),
        )
    )


def doc_chunks(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 32,
    stride: int = 24,
) -> DataFrame:
    """RAG-style overlapping chunking: split every document into
    ``chunk_words``-word windows advancing by ``stride`` words
    (overlap = chunk_words - stride), emitting one typed row per chunk
    with its provenance offsets — the retrieval-index ingestion stage
    (chunk → embed → ANN) that sits between the documents table and the
    similarity operators.

    One chunk row: (doc_id, chunk_idx, start_word, n_words, chunk_md5).
    The md5 pins every chunk's bytes for the oracle while keeping the
    result compact (same convention as passage_dedup's reassembly
    hash); a production pipeline would carry the chunk text itself to
    the embedder.

    Scale: pure map work — one split per document (materialized as a
    real column first; slice-shifted lambda discipline per
    texthash.shingles), one posexplode, no shuffle at all. Short
    documents (< chunk_words words) yield exactly one chunk.
    """
    w, s = chunk_words, stride
    worded = df.select(F.col(id_col), TH.words(F.col(content_col)).alias("_ws"))
    ws = F.col("_ws")
    n_chunks = (
        F.greatest(F.ceil((F.size(ws) - w) / F.lit(float(s))), F.lit(0)) + 1
    ).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            (i * s).cast("long").alias("start_word"),
            F.slice(ws, i * s + 1, w).alias("cw"),
        ),
    )
    ex = worded.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "_c")
    )
    return ex.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("_c.start_word").alias("start_word"),
        F.size("_c.cw").cast("long").alias("n_words"),
        F.md5(F.array_join("_c.cw", " ")).alias("chunk_md5"),
    )


def bigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    quant: int = 1 << 20,
) -> DataFrame:
    """Bigram language-model scoring — the conditional-probability
    upgrade of :func:`unigram_logprob_score`: mean negative
    ``ln P(w_i | w_{i-1})`` per document under the corpus's own bigram
    distribution with add-one smoothing,
    ``P(cur | prev) = (C(prev,cur) + 1) / (C(prev,.) + V)``.
    A unigram score can't see scrambled word order or stitched-together
    boilerplate (every token is individually common); the bigram score
    can — the standard next rung of the CCNet-style perplexity filter.

    Engine-exactness: per-pair logs integer-quantized
    (``floor(ln(p) * 2^20)``) before summing, like every LM/PMI/PSI
    term in this repo. Documents with fewer than 2 tokens have no
    bigrams and are absent from the output (mirrored by the oracle).

    Scale shape: pair extraction is IN-ROW (``arrays_zip`` of the
    shifted word array — no position self-join), then one
    (prev,cur)-keyed count, one prev-keyed count, a 1-row vocabulary
    broadcast, and one doc groupBy. All join keys are
    unbounded-cardinality token pairs/tokens.
    """
    w = TH.words(F.col(text_col))
    pairs = F.arrays_zip(
        F.slice(w, 1, F.size(w) - 1), F.slice(w, 2, F.size(w) - 1)
    )
    inst = df.select(F.col(id_col), F.explode(pairs).alias("_p")).select(
        F.col(id_col),
        F.col("_p")["0"].alias("prev"),
        F.col("_p")["1"].alias("cur"),
    )
    inst = C.track(inst)
    bc = inst.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("_cb"))
    cc = inst.groupBy("prev").agg(F.count(F.lit(1)).alias("_cp"))
    vocab = df.select(
        F.explode(TH.words(F.col(text_col))).alias("tok")
    ).agg(F.count_distinct("tok").alias("_v"))
    scored = (
        inst.join(bc, ["prev", "cur"])
        .join(cc, "prev")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            F.floor(
                F.log(
                    (F.col("_cb") + 1).cast("double")
                    / (F.col("_cp") + F.col("_v"))
                )
                * quant
            ).alias("_q"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(-F.sum("_q") / (F.count(F.lit(1)) * float(quant)), 6).alias(
            "mean_neg_logprob"
        ),
    )


def source_token_kl(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    quant: int = 1 << 20,
) -> DataFrame:
    """Per-source KL divergence of the source's token distribution from
    the whole-corpus distribution — the mixture-design audit: a source
    with near-zero KL duplicates what the rest of the corpus already
    provides; a high-KL source contributes distinct text (or is an
    outlier to inspect). Complements ``source_mixture_weights`` (which
    sets rates by SIZE) with a CONTENT-divergence signal.

    ``KL(source || corpus) = sum_tok p_s(tok) * (ln p_s(tok) - ln p(tok))``
    over the source's own tokens (p_s > 0 everywhere it is evaluated;
    the corpus marginal contains every source token, so no smoothing is
    needed). Each log is integer-quantized separately and the weighted
    sum ``sum(c_st * (q_s - q))`` is exact integer arithmetic — the
    division by ``n_s * 2^20`` happens once at the end.

    Scale shape: ONE explode scan -> (source, tok) counts; the token
    marginal and per-source totals derive from that relation (map-side
    collapse); the only non-broadcast join key is ``tok``
    (unbounded-cardinality).
    """
    st = (
        df.select(
            F.col(source_col).alias("source"),
            F.explode(TH.words(F.col(text_col))).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("_cst"))
    )
    st = C.track(st)
    tot_tok = st.groupBy("tok").agg(F.sum("_cst").alias("_ct"))
    tot_src = st.groupBy("source").agg(F.sum("_cst").alias("_ns"))
    tot_all = st.agg(F.sum("_cst").alias("_n"))
    q_s = F.floor(
        F.log(F.col("_cst").cast("double") / F.col("_ns")) * quant
    )
    q_c = F.floor(F.log(F.col("_ct").cast("double") / F.col("_n")) * quant)
    terms = (
        st.join(tot_tok, "tok")
        .join(F.broadcast(tot_src), "source")
        .crossJoin(F.broadcast(tot_all))
        .select(
            "source",
            F.col("_ns"),
            (F.col("_cst") * (q_s - q_c)).cast("long").alias("_t"),
        )
    )
    return terms.groupBy("source").agg(
        F.first("_ns").alias("n_tokens"),
        F.round(F.sum("_t") / (F.first("_ns") * float(quant)), 6).alias(
            "kl_to_corpus"
        ),
    )


#: scheme://HOST capture — an optional RFC 3986 userinfo prefix
#: (``user:pass@``, anything up to the last '@' in the authority) is
#: skipped via a non-capturing group, then the host is either a
#: bracketed IPv6 literal (captured WITH brackets, ``[::1]`` — the
#: deliberate deviation from ``urllib.parse.urlsplit().hostname``,
#: which strips them) or a reg-name stopping at '/', ':', '?', '#',
#: or whitespace (ports and paths excluded). The pattern is in the
#: Java-regex ∩ RE2 dialect intersection so the DuckDB oracle
#: recomputes hosts byte-identically (same rule as PII_PATTERNS);
#: oracles must interpolate THIS constant, never re-embed the literal.
#: Scheme-relative ``//host/path`` inputs deliberately bucket under
#: '' (unparseable): curation URLs arrive absolute.
HOST_RE = r"^[a-z][a-z0-9+.\-]*://(?:[^/?#\s]*@)?((?:\[[^\]\s]*\])|[^/:?#\s]+)"


def host_aggregate(
    df: DataFrame,
    url_col: str,
    blocklist: DataFrame,
    chars_col: str = "n_chars",
    broadcast_blocklist: bool = True,
) -> DataFrame:
    """URL/host-level aggregation + blocklist filter — the standard
    pretraining-curation stage (C4 §2.2-style host rules; CCNet-style
    per-domain accounting) over any table carrying a URL column.

    Per host (lowercased, port/path stripped via :data:`HOST_RE`):
    document count, total chars, a ``blocked`` flag from a LEFT join
    against the blocklist relation, and ``kept_docs`` (0 when blocked —
    the post-filter census the mixture planner consumes).

    Scale shape: one map-side regexp projection + one groupBy on host
    (hosts are O(10^7) at web scale — a fine shuffle key, no hot key
    beyond the largest domains, which AQE skew-split handles), then a
    join against the blocklist keyed on host. ``broadcast_blocklist``
    (default) is right while the blocklist fits an executor (~10^7
    hosts ≈ 300 MB is the practical ceiling); pass ``False`` to let the
    planner shuffle both sides when the blocklist is itself web-scale.
    """
    # lower() BEFORE the extract: schemes/hosts are case-insensitive
    # (RFC 3986 §3.1/§3.2.2) and the pattern anchors on a lowercase
    # scheme, so 'HTTPS://Example.COM' normalizes like 'https://...'
    host = F.regexp_extract(F.lower(F.col(url_col)), HOST_RE, 1)
    agg = (
        df.select(host.alias("host"), F.col(chars_col))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(chars_col).cast("long").alias("total_chars"),
        )
    )
    bl = blocklist.select(F.lower(F.col("host")).alias("_bhost")).distinct()
    if broadcast_blocklist:
        bl = F.broadcast(bl)
    return (
        agg.join(bl, agg["host"] == F.col("_bhost"), "left")
        .select(
            "host",
            "n_docs",
            "total_chars",
            F.col("_bhost").isNotNull().alias("blocked"),
            F.when(F.col("_bhost").isNotNull(), F.lit(0))
            .otherwise(F.col("n_docs"))
            .cast("long")
            .alias("kept_docs"),
        )
    )
