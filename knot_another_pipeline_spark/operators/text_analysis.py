"""Text analysis over document tables: token counts, quality scores,
language ID, fingerprints.

Training-data-pipeline extension (BASELINE.json north star). Everything is
built-in string/regex expressions — at 100 TB these run inside whole-stage
codegen on every document, so no Python appears in the loop.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

from knot_another_pipeline_spark.functions.hashing import content_fingerprint, hash64
from knot_another_pipeline_spark.functions.partitioning import fan_out_small_scan

#: Tiny per-language stopword lexicons for the stopword-hit language-ID
#: heuristic. Deliberately small — language ID here is a scoring
#: heuristic, not a model.
STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
    "fr": ("le", "la", "de", "et", "un", "une", "les", "des", "en", "que"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不", "这", "人"),
}


def _tokens(text: Column) -> Column:
    return F.filter(F.split(F.trim(F.lower(text)), r"\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    """Whitespace token count (0 for empty/blank text)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(_tokens(c))


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish subword proxy: count of word/number/punct units via regex —
    ``\\p{L}+|\\p{N}+|[^\\p{L}\\p{N}\\s]`` — a deterministic stand-in for a
    real tokenizer's unit count."""
    c = F.col(text) if isinstance(text, str) else text
    units = F.regexp_extract_all(c, F.lit(r"(\p{L}+|\p{N}+|[^\p{L}\p{N}\s])"), 1)
    return F.size(units)


def quality_features(
    df: DataFrame, *, id_col: str, text_col: str, lang: str = "en"
) -> DataFrame:
    """Per-document quality metrics: n_chars, n_tokens, avg token length,
    punctuation ratio, stopword ratio, and a composite quality score in
    [0,1] (longer, word-dense, stopword-bearing docs score higher — the
    classic Gopher/C4-style heuristics)."""
    text = F.col(text_col)
    toks = _tokens(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    stop = STOPWORDS.get(lang, STOPWORDS["en"])
    stop_arr = F.array(*[F.lit(s) for s in stop])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    punct = F.length(F.regexp_replace(text, r"[\p{L}\p{N}\s]", ""))
    avg_tok_len = F.when(
        n_tokens > 0,
        (F.length(F.regexp_replace(text, r"\s+", "")).cast("double") / n_tokens),
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, punct.cast("double") / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(0.0)
    score = (
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.3
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(4.0), F.lit(1.0))) * 0.3
    )
    # fan_out: the regex token/punct counting is expensive row-local
    # work; a one-row-group scan would run it single-threaded
    # (guide §2.5). No-op on already-parallel inputs.
    return fan_out_small_scan(df).select(
        F.col(id_col).alias("id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(avg_tok_len, 4).alias("avg_token_len"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


def repetition_stats(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, §A1.1): duplicate
    -line fraction and most-frequent-word-2-gram fraction per document.

    Everything is in-row array/fold expressions — **zero shuffles**: the
    top-2-gram count comes from a run-length fold over the *sorted* gram
    array instead of an explode → groupBy → window chain, so at 100 TB
    this is a pure map stage inside whole-stage codegen.
    Output: id, n_lines, dup_line_frac, n_2grams, top_2gram_cnt,
    top_2gram_frac.
    """
    text = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(text, "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    n_lines = F.size(lines)
    dup_line_frac = F.when(
        n_lines > 0,
        (n_lines - F.size(F.array_distinct(lines))).cast("double") / n_lines,
    ).otherwise(F.lit(0.0))

    base = df.select(
        F.col(id_col).alias("id"),
        n_lines.alias("n_lines"),
        F.round(dup_line_frac, 4).alias("dup_line_frac"),
        _tokens(text).alias("t"),
    )
    grams = F.when(
        F.size(F.col("t")) >= 2,
        F.expr(
            "transform(sequence(1, size(t) - 1),"
            " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    with_grams = base.withColumn("g", F.sort_array(grams))
    # run-length fold: equal grams are adjacent after the sort, so the
    # longest run IS the max frequency
    top_cnt = F.expr(
        "aggregate(g,"
        " named_struct('prev', CAST('' AS STRING), 'run', 0L, 'best', 0L),"
        " (acc, x) -> named_struct("
        "   'prev', x,"
        "   'run', IF(x = acc.prev, acc.run + 1, 1L),"
        "   'best', GREATEST(acc.best, IF(x = acc.prev, acc.run + 1, 1L))),"
        " acc -> acc.best)"
    )
    n_2grams = F.size(F.col("g"))
    return with_grams.select(
        "id",
        F.col("n_lines").cast("bigint").alias("n_lines"),
        "dup_line_frac",
        n_2grams.cast("bigint").alias("n_2grams"),
        top_cnt.cast("bigint").alias("top_2gram_cnt"),
        F.round(
            F.when(
                n_2grams > 0, top_cnt.cast("double") / n_2grams
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("top_2gram_frac"),
    )


def quality_filter(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    lang: str = "en",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_avg_token_len: float = 3.0,
    max_avg_token_len: float = 10.0,
    max_punct_ratio: float = 0.2,
    min_stopword_ratio: float = 0.02,
) -> DataFrame:
    """C4/Gopher-style document filter verdict (Raffel et al. 2020 §2.2;
    Rae et al. 2021 §A1.1): apply the classic rule thresholds to
    :func:`quality_features` metrics and emit keep/drop plus the failed
    rules as a deterministic comma-joined reason string (stable column
    shape for any engine — no array-encoding drift in differential
    comparison). Defaults are the published Gopher numbers; callers tune
    per corpus. Output: id, n_tokens, keep, reasons.
    """
    feats = quality_features(df, id_col=id_col, text_col=text_col, lang=lang)
    rules = [
        (F.col("n_tokens") < min_tokens, "too_few_tokens"),
        (F.col("n_tokens") > max_tokens, "too_many_tokens"),
        (
            (F.col("avg_token_len") < min_avg_token_len)
            | (F.col("avg_token_len") > max_avg_token_len),
            "avg_token_len_out_of_range",
        ),
        (F.col("punct_ratio") > max_punct_ratio, "punct_ratio_high"),
        (F.col("stopword_ratio") < min_stopword_ratio, "stopword_ratio_low"),
    ]
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for cond, name in rules]
    )
    return feats.select(
        "id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
    )


#: PII patterns — deliberately simple, RE2-compatible (no lookarounds),
#: so the same pattern string runs in Spark (Java regex) and the DuckDB
#: differential oracle. Order matters: email before phone (an email's
#: digits must not be half-masked first).
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
)


def scrub_pii(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """PII redaction: mask emails, phone numbers, and IPv4 addresses with
    typed placeholder tokens and report per-kind match counts — the
    pre-training scrub every public-web corpus runs.

    Pure ``regexp_replace``/``regexp_count`` expressions (whole-stage
    codegen; patterns shared verbatim with the oracle). Counts are taken
    BEFORE masking, each against the original text, so overlapping kinds
    report what they saw even when an earlier replacement would have
    consumed the match.
    Output: id, text (scrubbed), n_email, n_phone, n_ipv4.
    """
    text = F.col(text_col)
    counts = {
        name: F.regexp_count(text, F.lit(pat)).cast("bigint")
        for name, pat, _ in PII_PATTERNS
    }
    scrubbed = text
    for _, pat, token in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return df.select(
        F.col(id_col).alias("id"),
        scrubbed.alias("text"),
        *[counts[name].alias(f"n_{name}") for name, _, _ in PII_PATTERNS],
    )


def clean_lines(
    df: DataFrame, *, id_col: str, text_col: str, min_words: int = 3
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): drop lines
    with fewer than ``min_words`` whitespace words (navigation crumbs,
    boilerplate fragments), reassemble the survivors.

    In-row array expressions only — split, per-line word count, filter,
    rejoin — so the whole pass is one codegen map stage; no shuffle, no
    Python. Output: id, text (cleaned), n_lines_kept, n_lines_dropped.
    """
    text = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(text, "\n"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    keep = F.filter(
        lines,
        lambda ln: F.size(
            F.filter(F.split(ln, r"\s+"), lambda t: t != "")
        )
        >= F.lit(min_words),
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.array_join(keep, "\n").alias("text"),
        F.size(keep).cast("bigint").alias("n_lines_kept"),
        (F.size(lines) - F.size(keep)).cast("bigint").alias("n_lines_dropped"),
    )


def language_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit fraction of tokens."""
    c = F.col(text) if isinstance(text, str) else text
    toks = _tokens(c)
    n = F.size(toks)
    out: dict[str, Column] = {}
    for lang, words in STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        if lang == "zh":
            # CJK has no whitespace tokens — count character hits instead.
            hits = sum(
                (F.length(c) - F.length(F.replace(c, F.lit(w), F.lit("")))).cast("double")
                for w in words
            )
            out[lang] = F.when(F.length(c) > 0, hits / F.length(c)).otherwise(0.0)
        else:
            hits = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
            out[lang] = F.when(n > 0, hits.cast("double") / n).otherwise(0.0)
    return out


def detect_language(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword scores
    (deterministic tiebreak by language code). Output: id, detected_lang,
    lang_score."""
    scores = language_scores(text_col)
    pairs = F.array(
        *[
            F.struct(F.round(v, 6).alias("score"), F.lit(k).alias("lang"))
            for k, v in sorted(scores.items())
        ]
    )
    best = F.array_max(pairs)
    return fan_out_small_scan(df).select(
        F.col(id_col).alias("id"),
        best["lang"].alias("detected_lang"),
        best["score"].alias("lang_score"),
    )


def fingerprint_documents(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Normalized-content md5 fingerprint per document."""
    return fan_out_small_scan(df).select(
        F.col(id_col).alias("id"), content_fingerprint(text_col).alias("fingerprint")
    )


def winnow_fingerprints(
    df: DataFrame, *, id_col: str, text_col: str, k: int = 8, window: int = 4
) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer et al.,
    SIGMOD'03): hash every char ``k``-gram, slide a ``window``-wide frame
    over consecutive gram hashes, keep the min of each frame, dedupe.
    Near-identical documents share most selected hashes, so fingerprint
    overlap ⇒ local similarity even when MinHash's bag-of-shingles view
    would wash out ordering.

    Gram hashes are 40-bit md5-derived bigints (portable to any engine
    with md5). The frame-min is a window aggregate ordered by gram
    position — one shuffle on the doc id; everything else is codegen'd
    string/hash expressions. Output: id, fp_hash (distinct rows).
    """
    from pyspark.sql import Window

    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    n_grams = (F.length(norm) - F.lit(k) + 1).alias("n_grams")
    grams = (
        fan_out_small_scan(df)
        .select(F.col(id_col).alias("id"), norm.alias("t"), n_grams)
        .filter(F.col("n_grams") >= window)
        .select(
            "id",
            "n_grams",
            "t",
            F.explode(F.sequence(F.lit(1), F.col("n_grams"))).alias("pos"),
        )
        .select(
            "id",
            "n_grams",
            "pos",
            F.conv(
                F.substring(F.md5(F.expr(f"substring(t, pos, {k})")), 1, 10), 16, 10
            ).cast("long").alias("h"),
        )
    )
    frame = Window.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    return (
        grams.withColumn("fp_hash", F.min("h").over(frame))
        .filter(F.col("pos") <= F.col("n_grams") - window + 1)
        .select("id", "fp_hash")
        .distinct()
    )


def unigram_logprob_score(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    model_df: DataFrame | None = None,
    model_text_col: str | None = None,
    alpha: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Unigram language-model quality score: each document's mean token
    log-probability under an add-alpha-smoothed unigram model estimated
    from ``model_df`` (default: the scored corpus itself) — the
    deterministic baby sibling of the KenLM/perplexity filters used to
    rank web text for training data (CCNet-style). Low avg_logprob =
    rare/garbled vocabulary; high = plain common prose.

    Two passes, all relational:
    1. model: explode model tokens → count per token; totals (N tokens,
       V vocab) in one aggregate. ``logprob(t) = ln((c_t + α)/(N + αV))``,
       unseen tokens get ``ln(α/(N + αV))``.
    2. score: explode scored tokens, LEFT join the count table on token,
       1-row totals broadcast, mean per document.

    Scale: the token join shuffles corpus-token rows on the token key —
    Zipf skew on hot tokens is bounded by AQE skew splitting, and the
    count table is V rows (≪ corpus). At extreme scale estimate the
    model from a hash-sampled slice (hash_sample) and/or keep top-V
    tokens: every dropped token just scores as OOV — the formula
    degrades gracefully. Documents with zero tokens produce no row (they
    have no mean log-prob; filter them with quality_filter instead).

    Output: doc id, n_tokens, avg_logprob, perplexity (= exp(-avg),
    computed from the *rounded* mean so it reproduces cross-engine).
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    text = F.col(text_col)
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(_tokens(text)).alias("tok")
    )
    if model_df is None:
        mtok = tok
    else:
        mtok = model_df.select(
            F.explode(
                _tokens(F.col(model_text_col or text_col))
            ).alias("tok")
        )
    counts = mtok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").cast("double").alias("model_n"),
        F.count(F.lit(1)).cast("double").alias("model_v"),
    )
    logp = F.log(
        (F.coalesce(F.col("cnt"), F.lit(0)).cast("double") + F.lit(alpha))
        / (F.col("model_n") + F.lit(alpha) * F.col("model_v"))
    )
    avg_logprob = F.round(F.avg(logp), round_to)
    return (
        tok.join(counts, "tok", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            avg_logprob.alias("avg_logprob"),
        )
        .withColumn(
            "perplexity", F.round(F.exp(-F.col("avg_logprob")), 4)
        )
    )


def chunk_documents(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 512,
    overlap_tokens: int = 0,
) -> DataFrame:
    """Split long documents into fixed-size token windows — the step
    between a cleaned corpus and a context-length-bounded training set
    (every pretraining pipeline chunks; rag/embedding pipelines chunk
    with overlap).

    Whitespace tokens (the repo's deterministic tokenizer stand-in,
    same as token_counts) are sliced into windows of ``chunk_tokens``
    advancing by ``chunk_tokens - overlap_tokens``; the final partial
    window is kept (a short tail beats dropping trailing text). All
    expression-level: tokenize once, explode a sequence of window
    starts, slice + rejoin per window — no UDF, no shuffle (chunking is
    embarrassingly row-local; the explode multiplies rows ~len/stride,
    the same factor the output inherently has).

    Output: id, chunk_id (0-based), chunk_text, n_tokens (per chunk).
    Empty/blank documents produce no chunks.
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError(
            f"overlap_tokens must be in [0, chunk_tokens), got {overlap_tokens}"
        )
    stride = chunk_tokens - overlap_tokens
    toks = _tokens(F.col(text_col))
    n = F.size(toks)
    # window starts: 1, 1+stride, ... (1-based for slice); last start
    # covers the tail (ceil((n - chunk)/stride) extra windows)
    n_chunks = F.when(
        n <= chunk_tokens, F.lit(1)
    ).otherwise(
        F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride)) + 1
    )
    return (
        df.filter(n > 0)
        .select(
            F.col(id_col).alias("id"),
            toks.alias("_toks"),
            F.explode(
                F.sequence(F.lit(0), n_chunks.cast("int") - 1)
            ).alias("chunk_id"),
        )
        .select(
            "id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.array_join(
                F.slice(
                    "_toks",
                    F.col("chunk_id").cast("int") * stride + 1,
                    chunk_tokens,
                ),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.lit(chunk_tokens),
                F.size("_toks") - F.col("chunk_id").cast("int") * stride,
            )
            .cast("bigint")
            .alias("n_tokens"),
        )
    )


def ngram_topk(
    df: DataFrame,
    *,
    text_col: str,
    n: int = 2,
    k: int = 50,
) -> DataFrame:
    """Corpus-wide top-k token n-grams with counts — the corpus-statistics
    pass behind boilerplate detection (the same navigation bar on a
    million pages), contamination screening, and template mining.

    Tokens are the engine's standard whitespace split (``_tokens``, the
    same tokenization every text operator and DuckDB oracle shares);
    n-grams are built row-locally with ``transform`` over an index
    ``sequence`` + ``slice`` — array ops inside codegen, no Python, no
    shuffle — then one explode feeds a partial+final hash count (map-side
    combine absorbs hot n-grams before the only shuffle) and the top-k is
    ``orderBy().limit()`` → TakeOrderedAndProject, never a global sort.

    At 100 TB the count table is the pressure point: distinct n-grams
    grow with corpus size, but partial aggregation bounds what shuffles
    to (distinct n-grams per task), and k caps the driver's share at k
    rows. Ties at the k boundary break lexicographically (deterministic).
    Output: ngram, n_docs-agnostic total count.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # Tokenize into a MATERIALIZED column first: a higher-order lambda
    # re-evaluates any outer non-attribute expression PER ELEMENT, so
    # referencing the raw split+filter inside the slice lambda costs
    # O(tokens²) regexp splits per document (measured 3.6 s → 0.7 s at
    # sf0.1). The explode (Generate) below keeps the projection from
    # being collapsed back into the lambda.
    toked = df.select(_tokens(F.col(text_col)).alias("_toks"))
    toks = F.col("_toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        toked.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(k)
    )


def normalize_text(text: Column | str) -> Column:
    """Canonicalize raw text for hashing/dedup: strip control characters,
    lowercase, collapse whitespace runs to single spaces, trim.

    Pure codegen (three regexp_replace + lower + trim), zero shuffle —
    the canonical first step before exact/minhash dedup so that
    whitespace and case variants of the same document collide. Kept
    RE2-compatible (no backrefs/lookarounds) so the identical patterns
    run in DuckDB for the oracle.
    """
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")
    c = F.lower(c)
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def normalize_documents(
    df: DataFrame, *, id_col: str, text_col: str
) -> DataFrame:
    """Apply ``normalize_text`` and emit a stable md5 of the canonical
    form — the join key for exact dedup across formatting variants.
    Output: id, norm_len, norm_md5."""
    norm = normalize_text(text_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.length(norm).alias("norm_len"),
        F.md5(norm).alias("norm_md5"),
    )


def pmi_bigrams(
    df: DataFrame,
    *,
    text_col: str,
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information —
    the corpus-statistics pass behind phrase mining ("new york",
    "machine learning"), tokenizer-merge candidates, and boilerplate
    phrase detection. Complements :func:`ngram_topk` (raw frequency):
    PMI surfaces pairs that co-occur far MORE than their unigram
    frequencies predict, not just frequent pairs.

    ``pmi(a,b) = ln( (c_ab / n_bigrams) / ((c_a / n_tokens)·(c_b / n_tokens)) )``

    Scale shape: bigrams are built row-locally (``zip_with`` over two
    ``slice``s — pure codegen, no shuffle), then ONE partial+final hash
    count each for bigrams and unigrams. The ``min_count`` filter is
    applied to the bigram counts BEFORE the two unigram joins, so only
    the (tiny) candidate set joins the vocabulary — the vocab table is
    never broadcast (it grows with corpus size; AQE picks the
    strategy), and totals are 1-row broadcast aggregates. Low-count
    bigrams are also where PMI's variance explodes, so the filter is
    statistical hygiene, not just pruning. Top-k compiles to
    TakeOrdered; ties break lexicographically.

    Output: w1, w2, n_pair, pmi (rounded 6), best-first, ≤ k rows.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    toks = _tokens(F.col(text_col))
    pairs = F.expr(
        """
        CASE WHEN size(_toks) >= 2 THEN
          zip_with(slice(_toks, 1, size(_toks) - 1),
                   slice(_toks, 2, size(_toks) - 1),
                   (a, b) -> struct(a AS w1, b AS w2))
        ELSE CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) END
        """
    )
    big = (
        df.select(toks.alias("_toks"))
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    n_tokens = uni.agg(F.sum("n_w").alias("n_tokens"))
    n_bigrams = big.agg(F.sum("n_pair").alias("n_bigrams"))
    cand = big.filter(F.col("n_pair") >= min_count)
    scored = (
        cand.join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("c_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("c_b")), "w2")
        .crossJoin(F.broadcast(n_tokens))
        .crossJoin(F.broadcast(n_bigrams))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log(
                    (F.col("n_pair").cast("double") / F.col("n_bigrams"))
                    / (
                        (F.col("c_a").cast("double") / F.col("n_tokens"))
                        * (F.col("c_b").cast("double") / F.col("n_tokens"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)


def build_vocab(
    df: DataFrame,
    *,
    text_col: str,
    min_count: int = 1,
    max_size: int | None = None,
) -> DataFrame:
    """Frequency-ranked token vocabulary (token → dense id, 1-based) —
    the tokenize-for-training prerequisite: every corpus that feeds a
    model needs a reproducible token↔id mapping with a frequency floor
    and a size cap.

    Ids are assigned by ``(count DESC, token ASC)`` — fully
    deterministic, so two runs (or two engines — the DuckDB oracle)
    produce the identical mapping. The ranking uses
    :func:`~knot_another_pipeline_spark.operators.relational.global_rank`
    — range-partition + prefix-sum offsets — so a 10⁸-token vocabulary
    never funnels through a single-partition ORDER BY window; the only
    corpus-sized work is the one token-count aggregate.

    Output: token, n_occurrences, token_id (1..V, best-first).
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if max_size is not None and max_size < 1:
        raise ValueError(f"max_size must be >= 1, got {max_size}")
    from knot_another_pipeline_spark.operators.relational import global_rank

    counts = (
        fan_out_small_scan(df)
        .select(F.explode(_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= min_count)
    )
    ranked = global_rank(
        counts,
        [F.col("n_occurrences").desc(), F.col("token").asc()],
        rank_col="token_id",
    )
    if max_size is not None:
        ranked = ranked.filter(F.col("token_id") <= max_size)
    return ranked.select("token", "n_occurrences", "token_id")


def encode_documents(
    df: DataFrame,
    vocab: DataFrame,
    *,
    id_col: str,
    text_col: str,
    oov_id: int = 0,
) -> DataFrame:
    """Encode each document as its token-id sequence under a vocabulary
    (out-of-vocabulary tokens → ``oov_id``) — the actual tokenization
    pass that turns a text corpus into model-ready integer sequences.

    Plan: posexplode the token stream (position carried so order
    survives the shuffle), LEFT join the vocabulary on token — the
    vocab is corpus-scale-independent but can still be millions of
    rows, so the join strategy is left to AQE rather than forcing a
    broadcast — then regroup per document with
    ``array_agg sorted by position`` (the struct's leading pos field
    makes ``sort_array`` an order-restoring sort, same trick as
    ``assemble_paths``). Two shuffles total: the vocab join and the
    regroup; both keyed, neither all-pairs. Empty/null texts yield an
    empty sequence, not a dropped row.

    Output: id, token_ids (array<bigint>), n_tokens, n_oov.
    """
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(_tokens(F.col(text_col))).alias("pos", "token"),
    )
    joined = toks.join(
        vocab.select("token", "token_id"), "token", "left"
    ).select(
        "id",
        "pos",
        F.when(F.col("pos").isNull(), F.lit(None))
        .otherwise(F.coalesce(F.col("token_id"), F.lit(oov_id)))
        .alias("tid"),
    )
    return (
        joined.groupBy("id")
        .agg(
            F.sort_array(
                F.collect_list(
                    # collect_list skips NULLs: an empty/null text (one
                    # posexplode_outer row with pos NULL) yields [], not [null]
                    F.when(
                        F.col("pos").isNotNull(),
                        F.struct(F.col("pos"), F.col("tid")),
                    )
                )
            ).alias("_seq"),
            F.count("tid").alias("n_tokens"),
            F.sum(
                F.when(F.col("tid") == oov_id, 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "id",
            F.transform(F.col("_seq"), lambda s: s["tid"]).alias("token_ids"),
            "n_tokens",
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
        )
    )


def token_entropy(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution, in bits —
    the lexical-diversity quality signal: boilerplate, keyword-stuffed
    spam, and generation loops score low (few types dominate), natural
    prose scores high. Complements ``repetition_stats`` (which looks at
    adjacency) with a bag-of-tokens view, and ``quality_filter`` uses
    ratios this measure is independent of.

    Entropy is computed through the one-aggregate identity
    ``H = (ln N − Σ c·ln c / N) / ln 2`` so only Σc, Σ c·ln c and the
    type count are aggregated — no second pass to normalize counts to
    probabilities.

    Scale shape: explode → hash-aggregate (id, token) → hash-aggregate
    (id). Both aggregates are map-side combinable and keyed by doc id,
    so hot tokens cause no skew (the token never becomes a shuffle key).
    Zero-token documents emit no row (their entropy is undefined),
    matching ``unigram_logprob_score``.

    Output: id, n_tokens, n_types, entropy (bits, round_to),
    entropy_norm (entropy / log2(n_types), NULL for single-type docs).
    """
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(_tokens(F.col(text_col))).alias("tok"),
    )
    counts = tok.groupBy("id", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    n = F.sum("cnt")
    sclnc = F.sum(F.col("cnt") * F.log("cnt"))
    entropy = (F.log(n) - sclnc / n) / F.lit(math.log(2.0))
    n_types = F.count(F.lit(1))
    return counts.groupBy("id").agg(
        n.cast("bigint").alias("n_tokens"),
        n_types.cast("bigint").alias("n_types"),
        F.round(entropy, round_to).alias("entropy"),
        F.round(
            entropy
            / F.nullif(
                F.log(n_types.cast("double")) / F.lit(math.log(2.0)),
                F.lit(0.0),
            ),
            round_to,
        ).alias("entropy_norm"),
    )


def bpe_pair_counts(
    words: DataFrame,
    *,
    word_col: str = "word",
    count_col: str = "cnt",
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Adjacent symbol-pair frequencies for one BPE training step
    (Sennrich et al. 2016): each word becomes a space-separated symbol
    string (characters + a ``</w>`` end marker), the already-learned
    ``merges`` are applied in order as literal left-to-right
    replacements, and every adjacent pair is counted weighted by the
    word's corpus frequency. The argmax pair is the next merge rule.

    Operates on the word-FREQUENCY table, not the corpus — the
    original BPE trick: the state is V rows (bounded vocabulary)
    however big the corpus is, and the corpus is only ever scanned
    once to build that table (``build_vocab``). Merge application is
    ``replace(sym, ' a b ', ' ab ')`` — literal, left-to-right,
    non-overlapping in every engine (spaces are consumed, so
    ``a a a`` merges greedily to ``aa a`` exactly like the reference
    algorithm) — and pair extraction is a row-local indexed
    ``transform``; the only shuffle is the final (a, b) hash
    aggregate, bounded by the symbol-pair vocabulary.

    Output: a, b, pair_count (desc-sortable; ties broken by (a, b)
    upstream).
    """
    # DOUBLE-space separators: each merge match consumes only half of
    # each boundary, so consecutive eligible pairs (runs like "a a a a")
    # merge greedily left-to-right in ONE pass — exactly the reference
    # algorithm. Single-space separators consume the shared boundary
    # and silently skip every other pair in a run (caught by the
    # Sennrich-reference property test).
    syms_str = F.concat(
        F.lit("  "),
        F.regexp_replace(F.col(word_col), "(.)", "$1  "),
        F.lit("</w>  "),
    )
    for a, b in merges or []:
        syms_str = F.replace(
            syms_str, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
        )
    syms_expr = F.filter(
        F.split(F.trim(syms_str), r"\s+"), lambda t: t != ""
    )
    # Materialize the symbol array before pairing: `element_at(syms, i)`
    # inside a transform lambda would re-run the replace-chain + split
    # once PER PAIR (O(len²) per word); zip_with over two slices of the
    # materialized column only ever touches its lambda args.
    staged = words.select(
        syms_expr.alias("_syms"), F.col(count_col).alias("_wc")
    )
    return (
        staged.select(
            F.explode(_adjacent_pairs(F.col("_syms"))).alias("p"),
            "_wc",
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("_wc").cast("bigint").alias("pair_count"))
    )


def _adjacent_pairs(arr: Column) -> Column:
    """(a, b) structs for every adjacent element pair of ``arr`` —
    zip_with over two shifted slices, so the lambda reads only its own
    args and ``arr`` is evaluated a constant number of times per row
    (an ``element_at(arr, i)`` lambda would re-evaluate ``arr`` per
    element: quadratic when ``arr`` is an expression)."""
    m = F.greatest(F.size(arr) - 1, F.lit(0))
    return F.zip_with(
        F.slice(arr, 1, m),
        F.slice(arr, 2, m),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )


def _sym_pairs(syms_col):
    """Row-local adjacent-pair structs from a double-spaced symbol
    string (the :func:`bpe_pair_counts` encoding)."""
    arr = F.filter(
        F.split(F.trim(syms_col), r"\s+"), lambda t: t != ""
    )
    return F.explode(_adjacent_pairs(arr))


def bpe_learn(
    words: DataFrame,
    *,
    word_col: str = "word",
    count_col: str = "cnt",
    n_merges: int = 8,
    full_recount: bool | None = None,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merge rules from a word-frequency table:
    repeatedly take the most frequent adjacent symbol pair (ties to
    lexicographically smallest (a, b), so the learned tokenizer is
    deterministic cross-engine).

    INCREMENTAL pair recount (the production path): symbol state (V
    rows) and the pair-count table are materialized once, then each
    merge touches ONLY the words containing the merged pair — their
    old pair contributions are subtracted, the merge is applied, their
    new contributions added, and the delta folds into the cached
    pair-count table.  A 30k-merge run is 30k DELTA jobs sized by the
    words a pair occurs in (which shrinks fast as merges specialize),
    not 30k full-vocabulary recounts each re-applying every prior
    merge as a nested replace — that naive form is O(V·k) per
    iteration with a k-deep expression tree, this is O(|affected|).
    State and counts are pinned per iteration with an eager
    ``localCheckpoint`` so the plan stays flat across thousands of
    iterations.  Both paths learn IDENTICAL rules (differential-
    tested); ``full_recount=None`` auto-selects — the naive
    :func:`bpe_pair_counts`-per-step path for short runs (its one job
    per step beats the delta path's fixed 3-jobs-per-step overhead
    while k is small and the nested-replace chain shallow), the
    incremental path once ``n_merges`` is large enough that O(V·k)
    recounts and a k-deep expression tree dominate.

    Still the classic iterative-driver shape (same contract as
    ``kmeans_step``): n driver round-trips, never a corpus scan — the
    corpus is only read once by ``build_vocab`` to make ``words``.

    Every pin is local to the call: the returned list reads none of
    them, so once this returns the ContextCleaner reclaims their blocks.
    A lost executor during the call fails it (a missing checkpoint
    block); the pins cannot be recomputed.

    Returns [(rank, a, b, pair_count), ...] — feed the (a, b) list
    back into :func:`bpe_pair_counts` or an encoder.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if full_recount is None:
        # crossover: 3 fixed jobs/step (argmax, counts checkpoint,
        # state checkpoint) vs one full V-row recount whose cost grows
        # linearly in the merges applied so far
        full_recount = n_merges <= 16
    if full_recount:
        # Pin the word-frequency table: every rank's recount re-reads
        # it, and without the pin each collect re-runs the caller's
        # whole tokenize+aggregate chain (r12 profile: the rank-1 job
        # alone paid ~2 s of upstream on the catalog corpus).
        words = words.localCheckpoint(eager=False)
        learned: list[tuple[str, str]] = []
        out: list[tuple[int, str, str, int]] = []
        for rank in range(1, n_merges + 1):
            top = (
                bpe_pair_counts(
                    words, word_col=word_col, count_col=count_col,
                    merges=learned,
                )
                .orderBy(F.desc("pair_count"), "a", "b")
                .limit(1)
                .collect()
            )
            if not top:
                break
            r = top[0]
            learned.append((r["a"], r["b"]))
            out.append((rank, r["a"], r["b"], r["pair_count"]))
        return out

    state = words.select(
        F.concat(
            F.lit("  "),
            F.regexp_replace(F.col(word_col), "(.)", "$1  "),
            F.lit("</w>  "),
        ).alias("syms"),
        F.col(count_col).cast("bigint").alias("_wc"),
    ).localCheckpoint(eager=True)
    pc = (
        state.select(_sym_pairs(F.col("syms")).alias("p"), "_wc")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("_wc").cast("bigint").alias("pair_count"))
        .localCheckpoint(eager=True)
    )
    out = []
    for rank in range(1, n_merges + 1):
        top = pc.orderBy(F.desc("pair_count"), "a", "b").limit(1).collect()
        if not top or top[0]["pair_count"] <= 0:
            break
        a, b = top[0]["a"], top[0]["b"]
        out.append((rank, a, b, top[0]["pair_count"]))
        pat, rep = f" {a}  {b} ", f" {a}{b} "
        hit = F.col("syms").contains(pat)
        affected = state.filter(hit)
        merged = affected.withColumn(
            "syms", F.replace(F.col("syms"), F.lit(pat), F.lit(rep))
        )
        delta = (
            affected.select(
                _sym_pairs(F.col("syms")).alias("p"),
                (-F.col("_wc")).alias("_wc"),
            )
            .unionByName(
                merged.select(_sym_pairs(F.col("syms")).alias("p"), "_wc")
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("_wc").cast("bigint").alias("_d"))
            .filter(F.col("_d") != 0)
        )
        new_pc = (
            pc.join(delta, ["a", "b"], "full_outer")
            .select(
                "a",
                "b",
                (
                    F.coalesce("pair_count", F.lit(0))
                    + F.coalesce("_d", F.lit(0))
                )
                .cast("bigint")
                .alias("pair_count"),
            )
            .filter(F.col("pair_count") > 0)
            .localCheckpoint(eager=True)
        )
        new_state = (
            state.filter(~hit).unionByName(merged)
            .localCheckpoint(eager=True)
        )
        pc, state = new_pc, new_state
    return out


def repeated_ngram_spans(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-substring spans for masking (the
    span-level dedup of Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better", at token-n-gram granularity):
    every ``n``-token run occurring in at least ``min_docs`` DISTINCT
    documents is located by position, and overlapping/adjacent hits in
    the same document are merged into maximal spans — the removal list
    for boilerplate headers, license blocks and templated passages
    that whole-document dedup can never catch.

    Scale shape: grams are built row-local (slice + concat over the
    token array) and shuffle ONCE on a 60-bit md5 gram key; the
    distinct-doc count is an explicit two-stage dedup-then-count (no
    distinct-aggregate Expand, partial aggregation bounds hot
    boilerplate grams); frequent grams join back against the gram
    stream on the same key, and span merging is a per-document
    gaps-and-islands window (running max-end, exactly
    ``interval_merge``'s shape). The 60-bit key can in principle
    alias two grams (≈1e-10 at 10⁷ grams) — use hash_hex width 31 if
    that matters.

    Output: doc_id, span_start, span_end (inclusive token indices,
    0-based), span_tokens, n_grams (source grams merged into the span).
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    # The token array MUST be materialized as its own column before the
    # gram transform: inlining `_tokens(text)` straight into the lambda
    # duplicates the split/filter subtree at every position — the text
    # is re-tokenized per gram, O(len²) per document (observed 10.3 s →
    # 3.3 s at sf0.1; the rest is the gram stream being built on both
    # the frequency branch and the join-back branch — the scan-twice vs
    # materialize tradeoff, resolved toward re-scan for the 100 TB case). Referenced from several expressions, the alias
    # survives CollapseProject and is computed once per row.
    toked = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("toks")
    )
    toks = F.col("toks")
    grams = toked.select(
        "id",
        F.posexplode(
            F.transform(
                F.slice(toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0))),
                lambda _, i: F.concat_ws(
                    " ", F.slice(toks, i + 1, n)
                ),
            )
        ).alias("pos", "gram"),
    ).select("id", "pos", hash64(F.col("gram")).alias("gh"))
    freq = (
        grams.select("gh", "id")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gh")
    )
    hits = grams.join(freq, "gh").select("id", "pos")
    w = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        hits.withColumn("prev_max_end", F.max(F.col("pos") + (n - 1)).over(w))
        .withColumn(
            "new_span",
            F.when(
                F.col("prev_max_end").isNull()
                | (F.col("pos") > F.col("prev_max_end") + 1),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "span_id",
            F.sum("new_span").over(
                Window.partitionBy("id")
                .orderBy("pos")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        islands.groupBy("id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (n - 1)).alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        )
        .select(
            F.col("id").alias("doc_id"),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
            "n_grams",
        )
    )


def bpe_encode(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply learned BPE merge rules (:func:`bpe_learn`) to segment
    documents — the inference half of the tokenizer: each whitespace
    word becomes its character+``</w>`` symbol string, the merges
    replay IN LEARNED ORDER as literal left-to-right replaces (the
    exact operation training used, so train/encode segmentations
    agree), and the document's symbol sequence ships pipe-joined for
    byte-stable storage.

    Row-local end to end — split, per-word replace chain, rejoin —
    zero shuffles: the merges are baked into the plan as literals
    (tokenizer vocabularies are KBs; a 30k-merge chain should move to
    a pandas UDF applying the same greedy loop — same output by
    construction). Output: id, n_symbols, symbols ('|'-joined, with
    '</w>' marking word ends).
    """
    if not merges:
        raise ValueError("merges must be non-empty (run bpe_learn first)")
    toked = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("toks")
    )

    def encode_word(w: Column) -> Column:
        # double-space separators: see bpe_pair_counts — one replace
        # pass per rule IS the canonical greedy merge
        sym = F.concat(
            F.lit("  "),
            F.regexp_replace(w, "(.)", "$1  "),
            F.lit("</w>  "),
        )
        for a, b in merges:
            sym = F.replace(sym, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
        return F.trim(sym)

    syms = F.array_join(
        F.transform(F.col("toks"), lambda w: encode_word(w)), " "
    )
    pieces = F.filter(F.split(syms, r"\s+"), lambda s: s != "")
    return toked.select(
        "id",
        F.size(pieces).cast("bigint").alias("n_symbols"),
        F.array_join(pieces, "|").alias("symbols"),
    )


def readability(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """Flesch reading-ease scoring per document:
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`` —
    the grade-level quality signal corpus-curation recipes bucket on
    (very low scores flag legalese/boilerplate, implausibly high ones
    flag word salad).

    Counting is pure regexp codegen, zero shuffle, one scan:
    words = ``\\S+`` runs, sentences = ``[.!?]+`` runs (floored at 1 so
    fragments don't divide by zero), syllables = vowel-group runs in
    the lowercased text — the standard cheap proxy (true syllabification
    is dictionary work; the proxy is monotone enough for filtering, and
    deterministic).  The character classes are engine-portable (no
    lookaround, no unicode classes), so the DuckDB oracle counts with
    the same patterns via ``regexp_extract_all``.

    Empty/whitespace-only texts yield NULL flesch (no words), not an
    error.  Output: id, n_words, n_sentences, n_syllables, flesch.
    """
    words = F.regexp_count(F.col(text_col), F.lit(r"\S+"))
    sentences = F.greatest(
        F.lit(1), F.regexp_count(F.col(text_col), F.lit(r"[.!?]+"))
    )
    syllables = F.regexp_count(F.lower(F.col(text_col)), F.lit("[aeiouy]+"))
    flesch = F.when(
        words > 0,
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sentences)
        - F.lit(84.6) * (syllables.cast("double") / words),
    )
    return df.select(
        F.col(id_col).alias("id"),
        words.cast("bigint").alias("n_words"),
        sentences.cast("bigint").alias("n_sentences"),
        syllables.cast("bigint").alias("n_syllables"),
        F.round(flesch, round_to).alias("flesch"),
    )


def bigram_lm_score(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    model_df: DataFrame | None = None,
    model_text_col: str | None = None,
    lam: float = 0.75,
    alpha: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Interpolated bigram language-model score per document — the
    context-aware upgrade of :func:`unigram_logprob_score`: each token
    after the first scores ``ln(λ·P(w|prev) + (1−λ)·P_uni(w))``
    (Jelinek-Mercer interpolation), so "the the the" — fine unigram
    mass, broken transitions — finally prices badly, which is the
    fluency signal perplexity filters actually select training text
    on.  ``P(w|prev) = c(prev,w)/c(prev·)`` (zero when the history is
    unseen — the unigram term floors it), ``P_uni`` add-alpha smoothed
    exactly as the unigram scorer.

    Shapes: bigrams are built ROW-LOCAL (zip of the token array with
    itself shifted — no self-join on position), the model is two count
    tables (bigram and unigram context counts fused into ONE shuffle
    via the bigram table's re-aggregation), scoring joins each
    document bigram against the model on the pair key — Zipf skew
    bounded by AQE, model tables ≪ corpus, same contract as the
    unigram scorer.  Single-token documents emit n_bigrams = 0 and a
    NULL score (no transitions to judge); zero-token documents emit no
    row.

    Output: id, n_bigrams, avg_logprob, perplexity (from the rounded
    mean).
    """
    if not 0 < lam < 1:
        raise ValueError(f"lam must be in (0, 1), got {lam}")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")

    def to_bigrams(frame: DataFrame, idc) -> DataFrame:
        toked = frame.select(
            *([idc] if idc is not None else []),
            _tokens(F.col(model_text_col or text_col)
                    if idc is None else F.col(text_col)).alias("toks"),
        )
        toks = F.col("toks")
        pairs = F.transform(
            F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda x, i: F.struct(
                x.alias("w1"), F.element_at(toks, i + 2).alias("w2")
            ),
        )
        return toked.select(
            *([idc] if idc is not None else []),
            F.explode(pairs).alias("p"),
        ).select(
            *(["id"] if idc is not None else []),
            F.col("p.w1").alias("w1"),
            F.col("p.w2").alias("w2"),
        )

    doc_bi = to_bigrams(
        df.select(F.col(id_col).alias("id"), F.col(text_col)),
        F.col("id"),
    )
    model_src = df if model_df is None else model_df
    bi_counts = (
        to_bigrams(model_src, None)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_bi"))
    )
    # context totals re-aggregate the V²-bounded bigram table, not the
    # corpus; unigram counts ride the same table (c(w·) + final-token
    # correction is unnecessary for scoring: P_uni uses c(·w) mass)
    ctx_counts = bi_counts.groupBy("w1").agg(
        F.sum("c_bi").alias("c_ctx")
    )
    uni_counts = bi_counts.groupBy(F.col("w2").alias("w")).agg(
        F.sum("c_bi").alias("c_uni")
    )
    totals = uni_counts.agg(
        F.sum("c_uni").cast("double").alias("model_n"),
        F.count(F.lit(1)).cast("double").alias("model_v"),
    )
    p_bi = F.when(
        F.col("c_ctx").isNotNull() & (F.col("c_ctx") > 0),
        F.coalesce(F.col("c_bi"), F.lit(0)).cast("double") / F.col("c_ctx"),
    ).otherwise(F.lit(0.0))
    p_uni = (
        F.coalesce(F.col("c_uni"), F.lit(0)).cast("double") + F.lit(alpha)
    ) / (F.col("model_n") + F.lit(alpha) * F.col("model_v"))
    logp = F.log(F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni)
    scored = (
        doc_bi.join(bi_counts, ["w1", "w2"], "left")
        .join(ctx_counts, "w1", "left")
        .join(uni_counts.withColumnRenamed("w", "w2"), "w2", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg(logp), round_to).alias("avg_logprob"),
        )
    )
    # single-token docs: no bigrams, but they exist — emit NULL score
    singles = (
        df.select(
            F.col(id_col).alias("id"),
            F.size(_tokens(F.col(text_col))).alias("_nt"),
        )
        .filter(F.col("_nt") == 1)
        .select(
            "id",
            F.lit(0).cast("bigint").alias("n_bigrams"),
            F.lit(None).cast("double").alias("avg_logprob"),
        )
    )
    return scored.unionByName(singles).withColumn(
        "perplexity",
        F.round(F.exp(-F.col("avg_logprob")), 4),
    )


def ngram_novelty(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Within-corpus novelty score: the fraction of a document's
    distinct token ``n``-grams that no document EARLIER in the corpus
    order (smaller id) contains — the dedup-aware curation signal
    between exact dedup (0/1 on whole docs) and ``repeated_spans``
    (which locates the copies): a feed whose novelty decays toward 0
    is re-serving its own boilerplate, and sampling by novelty keeps a
    training mix from amortizing into templates.

    Two bounded shuffles: distinct (gram-hash, id) pairs aggregate to
    each gram's MINIMUM id (the gram's first appearance — one pass, no
    per-gram sort), then join back on the gram key; a gram is novel
    for exactly the document that introduced it.  Gram hashes are the
    60-bit md5 key ``repeated_spans`` uses (portable, aliasing odds
    ≈1e-10 at 10⁷ grams).  Docs with fewer than ``n`` tokens have no
    grams — reported with n_grams = 0 and NULL novelty rather than
    dropped.

    Output: id, n_grams (distinct), n_novel, novelty.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toked = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("toks")
    )
    toks = F.col("toks")
    grams = (
        toked.select(
            "id",
            F.explode(
                F.transform(
                    F.slice(
                        toks,
                        1,
                        F.greatest(F.size(toks) - (n - 1), F.lit(0)),
                    ),
                    lambda _, i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
                )
            ).alias("gram"),
        )
        .select("id", hash64(F.col("gram")).alias("gh"))
        .distinct()
    )
    first_seen = grams.groupBy("gh").agg(F.min("id").alias("first_id"))
    per_doc = (
        grams.join(first_seen, "gh")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum((F.col("first_id") == F.col("id")).cast("long"))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    empties = toked.select(
        "id", F.size("toks").alias("_nt")
    ).filter(F.col("_nt") < n).select(
        "id",
        F.lit(0).cast("bigint").alias("n_grams"),
        F.lit(0).cast("bigint").alias("n_novel"),
    )
    return per_doc.unionByName(empties).select(
        "id",
        "n_grams",
        "n_novel",
        F.round(
            F.when(F.col("n_grams") > 0, F.col("n_novel") / F.col("n_grams")),
            round_to,
        ).alias("novelty"),
    )


def tokenizer_fertility(
    df: DataFrame,
    *,
    text_col: str,
    group_cols: list[str],
    round_to: int = 6,
) -> DataFrame:
    """Tokenizer fertility / compression stats per corpus slice — the
    numbers a tokenizer review reads before committing a vocab:
    fertility (subword tokens per whitespace word) and bytes/chars per
    token, broken down by language or source.  High fertility on a
    language means the tokenizer fragments it (expensive, worse
    modeling); the per-slice table is how that inequity is seen.  Uses
    the repo's deterministic BPE-ish unit counter
    (:func:`bpe_ish_token_count`) so the readout is engine-portable —
    swap in real-tokenizer counts by adding a column upstream.

    Scale shape: all counters are row-local codegen expressions
    (regexp counts + length/octet_length); the rollup is ONE hash
    aggregate on ``group_cols`` with map-side partials — per-slice
    state is 6 numbers, never the text.  NULL text counts as an empty
    doc (0 everywhere) so slices stay comparable.

    Output per group: group_cols…, n_docs, n_chars, n_bytes, n_words,
    n_tokens, fertility (tokens/word), chars_per_token,
    bytes_per_token (NULL where the denominator is 0; rounded).
    """
    if not group_cols:
        raise ValueError("group_cols must not be empty")
    t = F.coalesce(F.col(text_col), F.lit(""))
    per_doc = df.select(
        *group_cols,
        F.length(t).cast("bigint").alias("_chars"),
        F.octet_length(t).cast("bigint").alias("_bytes"),
        token_count(t).cast("bigint").alias("_words"),
        bpe_ish_token_count(t).cast("bigint").alias("_toks"),
    )
    agg = per_doc.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_chars").alias("n_chars"),
        F.sum("_bytes").alias("n_bytes"),
        F.sum("_words").alias("n_words"),
        F.sum("_toks").alias("n_tokens"),
    )
    def ratio(num: str, den: str):
        return F.round(
            F.when(
                F.col(den) > 0,
                F.col(num).cast("double") / F.col(den).cast("double"),
            ),
            round_to,
        )
    return agg.select(
        *group_cols,
        "n_docs",
        "n_chars",
        "n_bytes",
        "n_words",
        "n_tokens",
        ratio("n_tokens", "n_words").alias("fertility"),
        ratio("n_chars", "n_tokens").alias("chars_per_token"),
        ratio("n_bytes", "n_tokens").alias("bytes_per_token"),
    )


def zipf_fit(
    df: DataFrame,
    *,
    text_col: str,
    top_v: int = 1000,
    round_to: int = 6,
) -> DataFrame:
    """Zipf power-law fit over the token frequency spectrum — OLS of
    ``ln count`` on ``ln rank`` over the top-V vocabulary — the
    one-number corpus health check: natural language sits near slope
    −1; templated/boilerplate-heavy corpora flatten, spam-keyword
    corpora steepen, and a slope drifting across snapshots means the
    mix changed.  R² says whether the power law holds at all.

    Scale shape: ONE (token) hash aggregate builds the frequency
    table; the top-V slice is ``orderBy().limit()`` — Spark compiles
    it to TakeOrdered (per-partition heaps + k-merge, never a global
    sort); ranking and the OLS sums then run over ≤ top_v rows (the
    only single-partition step, bounded by the parameter, not the
    corpus — same contract as ``bootstrap_ci``'s replicate table).
    Deterministic: count-desc, token-asc total order.

    Output (one row): vocab_size, n_tokens, top_v_used, slope,
    intercept, r2 (rounded).
    """
    if top_v < 3:
        raise ValueError(f"top_v must be >= 3, got {top_v}")
    counts = (
        fan_out_small_scan(df)
        .select(F.explode(_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("cnt").alias("n_tokens"),
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(top_v)
    ranked = top.withColumn(
        "_r",
        F.row_number().over(
            Window.orderBy(F.desc("cnt"), F.asc("token"))
        ),
    ).select(
        F.log(F.col("_r").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    fit = ranked.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    m = F.col("m").cast("double")
    vx = m * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = m * F.col("syy") - F.col("sy") * F.col("sy")
    cov = m * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when(vx > 0, cov / vx)
    return fit.crossJoin(F.broadcast(totals)).select(
        F.col("vocab_size").cast("bigint").alias("vocab_size"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("m").cast("bigint").alias("top_v_used"),
        F.round(slope, round_to).alias("slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / m, round_to
        ).alias("intercept"),
        F.round(
            F.when((vx > 0) & (vy > 0), cov * cov / (vx * vy)), round_to
        ).alias("r2"),
    )


def distinctive_terms(
    df: DataFrame,
    *,
    group_col: str,
    text_col: str,
    k: int = 10,
    min_count: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Top-k slice-distinctive vocabulary by frequency lift — for each
    slice (source, language, cohort), the tokens whose in-slice share
    most exceeds their corpus share: ``lift = (c_gt/n_g)/(c_t/N)`` —
    the "what makes this source different" readout behind corpus
    browsing and burst/trend mining (with a date slice it IS trending
    terms).  ``min_count`` keeps hapax noise out of the numerator
    BEFORE any join.

    Scale shape: one (slice, token) hash aggregate; corpus token
    totals re-aggregate FROM those partials (never a second corpus
    scan); slice totals ride a same-key window; the vocabulary-sized
    token-total table joins back broadcast-eligible; top-k is a
    window over each slice's surviving vocabulary.  Deterministic
    (lift desc, token asc).

    Output: group, rank (1..k), token, n_in_group, lift (rounded).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    gt = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(_tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("grp", "token")
        .agg(F.count(F.lit(1)).alias("c_gt"))
    )
    tok_tot = gt.groupBy("token").agg(F.sum("c_gt").alias("c_t"))
    n_total = gt.agg(F.sum("c_gt").alias("n_all"))
    wg = Window.partitionBy("grp")
    scored = (
        gt.withColumn("n_g", F.sum("c_gt").over(wg))
        .filter(F.col("c_gt") >= min_count)
        .join(tok_tot, "token")
        .crossJoin(F.broadcast(n_total))
        .withColumn(
            "lift",
            F.round(
                (F.col("c_gt").cast("double") / F.col("n_g"))
                / (F.col("c_t").cast("double") / F.col("n_all")),
                round_to,
            ),
        )
    )
    wr = Window.partitionBy("grp").orderBy(
        F.desc("lift"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select(
            F.col("grp").alias("group"),
            F.col("rank").cast("bigint").alias("rank"),
            "token",
            F.col("c_gt").cast("bigint").alias("n_in_group"),
            "lift",
        )
    )


def oov_rate(
    train: DataFrame,
    test: DataFrame,
    *,
    text_col: str,
    group_cols: list[str],
    top_v: int = 5000,
    round_to: int = 6,
) -> DataFrame:
    """Out-of-vocabulary rate of a held-out slice against the training
    corpus's top-V vocabulary, plus the Good–Turing unseen-mass
    estimate — the two numbers that say whether a vocabulary (or
    tokenizer word list) trained on corpus A will hold up on corpus B:
    per-slice OOV% localizes WHERE coverage breaks (a language, a
    source), and Good–Turing (``n₁/N``, the total probability mass of
    never-seen tokens) says how much was always going to be missing
    regardless of V.

    Scale shape: the train side reduces to one (token) aggregate; the
    top-V vocabulary is TakeOrdered (count desc, token asc) and joins
    the test token stream BROADCAST (V rows); OOV-ness is a left join
    + null check folded into one per-slice conditional aggregate.
    Good–Turing needs only n₁ and N — two sums over the train count
    table.

    Output per test slice: group_cols…, n_tokens, n_oov, oov_rate,
    vocab_size, gt_unseen_mass (corpus-level, repeated; rounded).
    """
    if top_v < 1:
        raise ValueError(f"top_v must be >= 1, got {top_v}")
    tr_counts = (
        train.select(F.explode(_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = (
        tr_counts.orderBy(F.desc("cnt"), F.asc("token"))
        .limit(top_v)
        .select("token", F.lit(1).alias("_inv"))
    )
    gt_stats = tr_counts.agg(
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("_n1"),
        F.sum("cnt").alias("_nn"),
        F.count(F.lit(1)).alias("_vs"),
    )
    test_toks = test.select(
        *group_cols, F.explode(_tokens(F.col(text_col))).alias("token")
    )
    flagged = test_toks.join(F.broadcast(vocab), "token", "left")
    per = flagged.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0)).alias(
            "n_oov"
        ),
    )
    return per.crossJoin(F.broadcast(gt_stats)).select(
        *group_cols,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_oov").cast("bigint").alias("n_oov"),
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                F.col("n_oov").cast("double") / F.col("n_tokens"),
            ),
            round_to,
        ).alias("oov_rate"),
        F.least(F.col("_vs"), F.lit(top_v))
        .cast("bigint")
        .alias("vocab_size"),
        F.round(
            F.when(
                F.col("_nn") > 0,
                F.col("_n1").cast("double") / F.col("_nn"),
            ),
            round_to,
        ).alias("gt_unseen_mass"),
    )


def boilerplate_segments(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    segment_tokens: int = 8,
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document boilerplate detection — the CommonCrawl-style
    cleanup that drops navigation bars, cookie banners, and license
    footers BEFORE near-dup hashing (they otherwise glue unrelated
    pages into one MinHash cluster): a text segment that recurs in
    ``min_docs``+ distinct documents is boilerplate; the per-document
    readout says how much of each page is template rather than content.

    Segmentation is the engine's standard whitespace tokenization cut
    into non-overlapping ``segment_tokens``-word windows (documents
    with no newlines still segment deterministically; callers with real
    paragraph breaks can pre-split and pass one paragraph per row).

    Scale shape: explode to segments, ONE hash aggregate on
    md5(segment) counting distinct docs (the segment text itself never
    shuffles — only its 32-char digest), join the flagged digests back
    to the segment table, and re-aggregate per document.  Two shuffles
    total, both on narrow keys; nothing is quadratic in corpus size.

    Output per doc: doc id, n_segments, n_boilerplate,
    boilerplate_ratio.
    """
    if segment_tokens < 1:
        raise ValueError(f"segment_tokens must be >= 1, got {segment_tokens}")
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
            lambda x: x != "",
        ).alias("_t"),
    ).filter(F.size("_t") > 0)
    n_seg = F.ceil(F.size("_t") / F.lit(segment_tokens)).cast("bigint")
    segs = toks.select(
        "doc",
        F.explode(F.sequence(F.lit(0), n_seg - 1)).alias("seg_idx"),
        "_t",
    ).select(
        "doc",
        "seg_idx",
        F.md5(
            F.array_join(
                F.slice(
                    F.col("_t"),
                    F.col("seg_idx").cast("int") * segment_tokens + 1,
                    segment_tokens,
                ),
                " ",
            )
        ).alias("_h"),
    )
    flagged = segs.groupBy("_h").agg(
        F.count_distinct("doc").alias("_df")
    ).filter(F.col("_df") >= min_docs)
    marked = segs.join(flagged.select("_h"), "_h", "left_semi").groupBy(
        "doc"
    ).agg(F.count(F.lit(1)).alias("n_boilerplate"))
    totals = segs.groupBy("doc").agg(F.count(F.lit(1)).alias("n_segments"))
    return (
        totals.join(marked, "doc", "left")
        .na.fill({"n_boilerplate": 0})
        .select(
            "doc",
            F.col("n_segments").cast("bigint").alias("n_segments"),
            F.col("n_boilerplate").cast("bigint").alias("n_boilerplate"),
            F.round(
                F.col("n_boilerplate") / F.col("n_segments"), 6
            ).alias("boilerplate_ratio"),
        )
    )


def heaps_law(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n_checkpoints: int = 8,
    round_to: int = 6,
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit — ``V(N) ≈ K·N^β`` over the
    corpus in document-id order: the one-line answer to "is this
    corpus still teaching the tokenizer new types, or has vocabulary
    growth saturated?"  β near the English-corpus 0.4–0.6 band means
    healthy novelty; β collapsing toward 0 across crawl snapshots is
    the classic duplicated/boilerplate-corpus smell that
    :func:`repetition_stats` sees per-document and this sees
    corpus-wide.

    Estimator: documents are ranked by id; each TYPE records the rank
    of its first-containing document (min over its postings); at
    ``n_checkpoints`` evenly spaced document ranks c the pair
    (N_c = tokens in docs ≤ c, V_c = types first seen ≤ c) is
    measured, and β / ln K come from the log-log OLS over the
    checkpoint pairs.

    Scale shape: tokenization explodes once; types reduce by ONE
    (type → min doc-rank, Σcount) hash aggregate; checkpoints are a
    broadcast ≤n_checkpoints-row list, so both V_c and N_c collapse
    from conditional sums in one aggregate each over the TYPE and DOC
    tables (never the postings twice).  The doc-rank window is global
    but runs on one row per DOCUMENT with only (id, token count)
    carried — swap in a range-partitioned global_rank at
    billion-document scale.

    Output (one row): n_docs, n_tokens, vocab, beta, k_coef (NULL fit
    when fewer than 2 usable checkpoints).
    """
    if n_checkpoints < 2:
        raise ValueError(
            f"n_checkpoints must be >= 2, got {n_checkpoints}"
        )
    docs = df.select(
        F.col(id_col).alias("_id"),
        F.explode(_tokens(F.col(text_col))).alias("_tok"),
    ).filter(F.col("_id").isNotNull())
    # one row per document with its token count, ranked by id
    doc_counts = docs.groupBy("_id").agg(
        F.count(F.lit(1)).cast("double").alias("_ntok")
    )
    w = Window.orderBy("_id")
    ranked_docs = doc_counts.withColumn(
        "_rk", F.row_number().over(w).cast("double")
    )
    totals = ranked_docs.agg(
        F.count(F.lit(1)).cast("double").alias("_d"),
        F.sum("_ntok").alias("_n"),
    )
    # type -> rank of first containing doc
    first_seen = (
        docs.join(ranked_docs.select("_id", "_rk"), "_id")
        .groupBy("_tok")
        .agg(F.min("_rk").alias("_first"))
    )
    spark = df.sparkSession
    cps = spark.createDataFrame(
        [(int(j),) for j in range(1, n_checkpoints + 1)], "j long"
    )
    # checkpoint document rank: ceil(j * D / K)
    cp_ranks = cps.crossJoin(F.broadcast(totals)).select(
        F.ceil(F.col("j") * F.col("_d") / F.lit(float(n_checkpoints)))
        .cast("double")
        .alias("_c")
    ).distinct()
    v_at = (
        first_seen.crossJoin(F.broadcast(cp_ranks))
        .groupBy("_c")
        .agg(
            F.sum(F.when(F.col("_first") <= F.col("_c"), 1).otherwise(0))
            .cast("double")
            .alias("_v")
        )
    )
    n_at = (
        ranked_docs.crossJoin(F.broadcast(cp_ranks))
        .groupBy("_c")
        .agg(
            F.sum(
                F.when(F.col("_rk") <= F.col("_c"), F.col("_ntok"))
                .otherwise(0.0)
            ).alias("_nc")
        )
    )
    pts = v_at.join(n_at, "_c").filter(
        (F.col("_v") > 0) & (F.col("_nc") > 0)
    )
    fit = pts.agg(
        F.count(F.lit(1)).cast("double").alias("_k"),
        F.sum(F.log("_nc")).alias("_su"),
        F.sum(F.log("_v")).alias("_sv"),
        F.sum(F.log("_nc") * F.log("_nc")).alias("_suu"),
        F.sum(F.log("_nc") * F.log("_v")).alias("_suv"),
    )
    k = F.col("_k")
    denom = F.col("_suu") - F.col("_su") * F.col("_su") / k
    beta = (F.col("_suv") - F.col("_su") * F.col("_sv") / k) / denom
    lnk = F.col("_sv") / k - beta * F.col("_su") / k
    vocab = first_seen.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab")
    )
    return (
        fit.crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("_d").cast("bigint").alias("n_docs"),
            F.col("_n").cast("bigint").alias("n_tokens"),
            "vocab",
            F.round(
                F.when((k >= 2) & (denom > 0), beta), round_to
            ).alias("beta"),
            F.round(
                F.when((k >= 2) & (denom > 0), F.exp(lnk)), round_to
            ).alias("k_coef"),
        )
    )


def rouge_n(
    df: DataFrame,
    *,
    id_col: str,
    cand_col: str,
    ref_col: str,
    n: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """ROUGE-N per (candidate, reference) text pair — the standard
    n-gram overlap scorecard for generated-text evaluation (Lin 2004):
    clipped n-gram counts (multiset intersection, so a candidate
    repeating one reference gram ten times scores it once per
    reference occurrence),

        recall = Σ_g min(c_cand(g), c_ref(g)) / Σ_g c_ref(g),
        precision = ... / Σ_g c_cand(g),   F1 = harmonic mean.

    Scale shape: both sides explode to MULTISET n-grams through the
    same codegen'd ``regexp_extract_all`` as ``shingle_table``, union
    with a side tag, and clip in ONE (pair, gram) hash aggregate —
    co-located by construction, no join; per-pair sums reduce in a
    second keyed aggregate.  Everything is keyed by the pair id, so a
    skewed gram never concentrates load.

    Output per pair: id, n_cand_grams, n_ref_grams, n_overlap,
    rouge_recall / rouge_precision (NULL when the respective side has
    no n-gram, i.e. fewer than n tokens), rouge_f1 (NULL when either
    is NULL or both are 0).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    pattern = rf"(?<=^| )(?=(\S+(?: \S+){{{n - 1}}}))"

    def grams(col: str, tag: str) -> DataFrame:
        norm = F.regexp_replace(F.trim(F.lower(F.col(col))), r"\s+", " ")
        return df.select(
            F.col(id_col).alias("_id"),
            F.explode(
                F.regexp_extract_all(norm, F.lit(pattern), 1)
            ).alias("_g"),
        ).withColumn("_side", F.lit(tag))

    both = grams(cand_col, "c").unionByName(grams(ref_col, "r"))
    cells = both.groupBy("_id", "_g").agg(
        F.sum(F.when(F.col("_side") == "c", 1).otherwise(0)).alias("_cc"),
        F.sum(F.when(F.col("_side") == "r", 1).otherwise(0)).alias("_cr"),
    )
    per_pair = cells.groupBy("_id").agg(
        F.sum("_cc").cast("bigint").alias("n_cand_grams"),
        F.sum("_cr").cast("bigint").alias("n_ref_grams"),
        F.sum(F.least(F.col("_cc"), F.col("_cr")))
        .cast("bigint")
        .alias("n_overlap"),
    )
    # pairs where BOTH texts are shorter than n tokens never enter the
    # gram union — re-attach from the input so they emit zero rows
    base = df.select(F.col(id_col).alias("_id")).distinct()
    per_pair = base.join(per_pair, "_id", "left").select(
        "_id",
        *[
            F.coalesce(c, F.lit(0)).cast("bigint").alias(c)
            for c in ("n_cand_grams", "n_ref_grams", "n_overlap")
        ],
    )
    rec = F.when(
        F.col("n_ref_grams") > 0,
        F.col("n_overlap") / F.col("n_ref_grams"),
    )
    prec = F.when(
        F.col("n_cand_grams") > 0,
        F.col("n_overlap") / F.col("n_cand_grams"),
    )
    f1 = F.when(
        rec.isNotNull() & prec.isNotNull() & ((rec + prec) > 0),
        2.0 * rec * prec / (rec + prec),
    ).when(
        rec.isNotNull() & prec.isNotNull(), F.lit(0.0)
    )
    return per_pair.select(
        F.col("_id").alias("id"),
        "n_cand_grams",
        "n_ref_grams",
        "n_overlap",
        F.round(rec, round_to).alias("rouge_recall"),
        F.round(prec, round_to).alias("rouge_precision"),
        F.round(f1, round_to).alias("rouge_f1"),
    ).orderBy("id")


def token_jsd(
    df: DataFrame,
    *,
    group_col: str,
    text_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Jensen–Shannon divergence (base 2, so 0..1) between each
    group's unigram distribution and the REST of the corpus — the
    "which source sounds different" readout that drives mixture
    reweighting: JSD ≈ 0 means the source is linguistically redundant
    with the pool, JSD → 1 means a disjoint vocabulary (a different
    language, boilerplate, or spam).

        JSD(p‖q) = ½·KL(p‖m) + ½·KL(q‖m),  m = (p+q)/2,

    p = the group's token shares, q = the token shares of every OTHER
    group pooled.  Symmetric, bounded, defined when either side has
    zero mass on a token (the 0·log0 terms vanish).

    Scale shape: one (group, token) count aggregate and one token
    total aggregate over it; q's counts per token are total − group
    (no anti-join — the complement is ALGEBRA), so the per-group term
    table is the (group, token) cell table joined to the broadcast
    token totals.  Tokens the group has zero count of still contribute
    the q-side term: that sum collapses to a closed form over the
    group's OWN cells plus one scalar (Σ q·log2(q/m) over absent
    tokens needs m = q/2 there, so each absent token contributes
    exactly q — total q-mass minus present-token q-mass), keeping the
    plan at cell-table scale with no group × vocab densify.

    Output per group: group, n_tokens, vocab (distinct tokens in the
    group), jsd (NULL for the only-group corpus — no rest to compare).
    """
    toks = df.select(
        F.col(group_col).cast("string").alias("_grp"),
        F.explode(_tokens(F.col(text_col))).alias("_tok"),
    ).filter(F.col("_grp").isNotNull())
    cells = toks.groupBy("_grp", "_tok").agg(
        F.count(F.lit(1)).cast("double").alias("_c")
    )
    tok_tot = cells.groupBy("_tok").agg(F.sum("_c").alias("_t"))
    grp_tot = cells.groupBy("_grp").agg(
        F.sum("_c").alias("_gn"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
    )
    corpus = grp_tot.agg(F.sum("_gn").alias("_cn"))
    j = (
        cells.join(tok_tot, "_tok")
        .join(grp_tot, "_grp")
        .crossJoin(F.broadcast(corpus))
    )
    # shares: p over the group, q over the rest.  The rest size is
    # NULL-guarded: a single-group corpus reaches the division with
    # rest_n = 0, and ANSI mode errors on 0/0 even inside an unchosen
    # branch (the oneway_anova note); NULL propagates to a NULL jsd.
    rest_n = F.when(F.col("_cn") - F.col("_gn") > 0, F.col("_cn") - F.col("_gn"))
    p = F.col("_c") / F.col("_gn")
    qc = F.col("_t") - F.col("_c")  # rest count of this token
    q = qc / rest_n
    m = (p + q) / 2.0
    ln2 = 0.6931471805599453
    # present-token terms of ½KL(p||m) + ½KL(q||m) (q term only when
    # the rest also has the token; 0·log0 vanishes)
    term = 0.5 * p * F.log(p / m) / ln2 + F.when(
        qc > 0, 0.5 * q * F.log(q / m) / ln2
    ).otherwise(F.lit(0.0))
    present = j.groupBy("_grp").agg(
        F.sum(term).alias("_pres"),
        F.max(F.col("_gn")).alias("_gn"),
        F.max(F.col("vocab")).alias("vocab"),
        F.max(rest_n).alias("_rn"),
        # q-mass of tokens the group DOES have — the complement's
        # closed form needs it: absent tokens have p = 0, m = q/2, so
        # each contributes ½·q·log2(2) = q/2; Σ over absent = (1 − Σ
        # present q)/2
        F.sum(q).alias("_qpres"),
    )
    jsd = F.when(
        F.col("_rn") > 0,
        F.col("_pres") + (1.0 - F.col("_qpres")) / 2.0,
    )
    return present.select(
        F.col("_grp").alias("group"),
        F.col("_gn").cast("bigint").alias("n_tokens"),
        "vocab",
        F.round(jsd, round_to).alias("jsd"),
    ).orderBy("group")
