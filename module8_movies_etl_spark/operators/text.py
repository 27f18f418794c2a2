"""Text analysis for large-scale training-data pipelines (SURVEY.md §2.13).

Language-ID (stopword-hit heuristic), quality scoring, token counting,
and document fingerprinting — every operator a pure Catalyst column
expression (JVM-side, codegen'd), so a 100 TB documents table streams
through a single narrow stage with zero Python.

Each builder is written with engine-portable primitives (replace /
regexp_replace / md5 / length) so the DuckDB oracle can express the
exact same arithmetic — that is what makes these operators
hash-verifiable by the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from ..functions.cleaning import normalize_text

# Space-delimited stopword markers per language. Matching counts
# occurrences of " word " in " text " — cheap, deterministic, portable.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "und", "die", "das", "ist"),
    "fr": ("le", "la", "les", "des", "est"),
}


def ws_trim(col: Column) -> Column:
    """Strip leading/trailing WHITESPACE (``\\s``), not just spaces.

    Spark's ``trim`` removes only the space character, so a payload
    like ``"\\ntext"`` would split into a phantom empty first token —
    found by the hypothesis property suite
    (test_token_count_matches_model, falsifying input ``"\\n"``).
    Every tokenizer in the engine goes through this, and the DuckDB
    oracles use the matching ``regexp_replace`` so both engines see
    the same token streams.

    Dialect caveat: ``\\s`` is NOT identical across engines — Java's
    includes vertical tab (\\x0B), RE2's (DuckDB) does not — so the
    ws-split family's cross-engine parity assumes VT-free text (true
    of real prose and of the test corpus). Operators whose pattern is
    part of their contract (``BPE_PRETOKEN_PATTERN``) spell the class
    out explicitly instead.
    """
    return F.regexp_replace(col, r"^\s+|\s+$", "")


def token_count(col: Column) -> Column:
    """Whitespace token count (BPE-ish proxy: words; see
    ``approx_bpe_token_count`` for the subword estimate)."""
    trimmed = ws_trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def approx_bpe_token_count(col: Column) -> Column:
    """Rough BPE token estimate: one token per word piece after
    splitting words longer than 6 chars (≈ chars/4 heuristic used in
    LLM data work). Deterministic: words + extra pieces for long words.
    """
    words = token_count(col)
    # ceil(len/4) - word_count extra pieces ≈ long-word subword splits
    extra = F.ceil(F.length(ws_trim(col)) / F.lit(4)) - words
    return words + F.greatest(extra, F.lit(0).cast("bigint"))


# GPT-2-style pre-tokenizer pattern, restricted to the Java-regex ∩
# RE2 dialect so the SAME string runs on Spark and DuckDB: contraction
# suffixes, space-prefixed letter/digit/punctuation runs, residual
# whitespace runs. Two portability rewrites vs the original GPT-2
# pattern: the `\s+(?!\S)` tail is a lookahead (not RE2) and folds
# into plain whitespace runs without changing match COUNTS; and `\s`
# itself is NOT dialect-portable (Java's includes vertical tab \x0B,
# RE2's does not — a VT-bearing document would count differently per
# engine), so whitespace appears as the explicit class
# `[ \t\n\x0b\f\r]`, identical to Java's \s in both engines.
_WS_CLS = r" \t\n\x0b\f\r"
BPE_PRETOKEN_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+"
    rf"| ?[^{_WS_CLS}\p{{L}}\p{{N}}]+|[{_WS_CLS}]+"
)


def bpe_pretoken_stats(df, id_col: str, text_col: str):
    """Per-document token accounting under BOTH tokenizer families a
    training pipeline budgets with: whitespace words and GPT-2-style
    regex pre-tokens (``BPE_PRETOKEN_PATTERN``) — the pre-merge unit
    count that upper-bounds true BPE token counts and is the standard
    cheap stand-in when the merge table isn't in the engine.

    Pure codegen: ``regexp_count`` never materializes the token array
    (one counter pass per row), so the scan stays whole-stage-compiled
    and shuffles nothing — per-doc row out, no aggregate.

    Returns (id, n_chars, n_ws_tokens, n_bpe_pretokens,
    chars_per_pretoken [4 dp, NULL for empty docs]).
    """
    n_bpe = F.regexp_count(F.col(text_col), F.lit(BPE_PRETOKEN_PATTERN))
    return df.select(
        F.col(id_col),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        token_count(F.col(text_col)).cast("long").alias("n_ws_tokens"),
        n_bpe.cast("long").alias("n_bpe_pretokens"),
        F.round(
            F.length(F.col(text_col))
            / F.nullif(n_bpe.cast("double"), F.lit(0.0)),
            4,
        ).alias("chars_per_pretoken"),
    )


def occurrences(col: Column, needle: str) -> Column:
    """Count non-overlapping occurrences of ``needle`` via
    length-difference — portable to any SQL engine (no regex dialect).
    """
    n = len(needle)
    return (F.length(col) - F.length(F.replace(col, F.lit(needle)))) / F.lit(n)


def _lang_score(col: Column, lang: str) -> Column:
    """Stopword hits for one language over ' text ' (padded so edge
    words match).

    Spaces are DOUBLED before counting: ``occurrences`` is a
    non-overlapping count, and adjacent repetitions of the same
    marker share their delimiting space — "the the the the" holds
    four padded ``' the '`` occurrences of which a non-overlapping
    scan finds only two. After doubling, every word owns its own
    delimiters and the count is exact — precisely on the
    repetition-heavy documents these quality signals score.
    """
    padded = F.concat(
        F.lit(" "), F.replace(F.lower(col), F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    score = F.lit(0.0)
    for marker in LANG_MARKERS[lang]:
        score = score + occurrences(padded, f" {marker} ")
    return score


def _argmax_lang(scores: dict[str, Column], default: str) -> Column:
    """Argmax over per-language score columns: first key in ``scores``
    wins ties, all-zero → ``default``. The SINGLE source of the
    tie-break rule — both the inline and staged lang-ID plans build on
    it, so they cannot drift apart.
    """
    langs = list(scores)
    best = F.greatest(*scores.values()) if len(scores) > 1 else scores[langs[0]]
    expr = F.lit(default)
    # build the when-chain in reverse so earlier languages win ties
    for lang in reversed(langs):
        expr = F.when((scores[lang] > 0) & (scores[lang] == best), F.lit(lang)).otherwise(
            expr
        )
    return expr


def lang_id(col: Column, default: str = "und") -> Column:
    """N-gram/stopword language ID: argmax of per-language marker hits,
    first-listed language wins ties, zero hits → ``default``.
    """
    return _argmax_lang(
        {lang: _lang_score(col, lang) for lang in LANG_MARKERS}, default
    )


def lang_id_frame(
    df,
    text_col: str,
    keep_cols: tuple[str, ...] = (),
    out_col: str = "lang_pred",
    default: str = "und",
):
    """Two-stage lang-ID plan: stage the per-language scores as named
    columns, then argmax over them.

    Inlining ``lang_id`` repeats every score expression (~20 full-text
    ``replace`` scans) inside ``greatest`` AND the tie-break when-chain
    — a 3× duplicated mega-expression that janino compiles for seconds
    and codegen re-evaluates per reference (measured 12× slower cold,
    5× warm, at sf0.1). Staging names each score once; Catalyst's
    CollapseProject deliberately keeps the two projections apart when
    re-inlining would duplicate non-cheap expressions, so the staged
    shape survives optimization. Results are identical (pinned by
    test_lang_id_frame_matches_inline).
    """
    langs = list(LANG_MARKERS)
    scored = df.select(
        *[F.col(c) for c in keep_cols],
        *[_lang_score(F.col(text_col), lang).alias(f"_score_{lang}") for lang in langs],
    )
    expr = _argmax_lang({lang: F.col(f"_score_{lang}") for lang in langs}, default)
    return scored.select(*[F.col(c) for c in keep_cols], expr.alias(out_col))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are not letter/digit/space."""
    stripped = F.regexp_replace(col, r"[\p{L}\p{N}\s]", "")
    return F.length(stripped) / F.greatest(F.length(col), F.lit(1))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    """Stopword hits per token — classic quality signal."""
    return _lang_score(col, lang) / F.greatest(
        token_count(col).cast("double"), F.lit(1.0)
    )


def quality_score(col: Column) -> Column:
    """Composite document-quality score in [0, 1]:

    - length factor: saturating chars/500
    - mean word length in the "natural" 3-10 band
    - low punctuation density

    The formula is arbitrary-but-deterministic (the point is the
    *operator*: a fused narrow projection usable as a 100 TB filter).
    """
    n_chars = F.length(col).cast("double")
    n_tokens = token_count(col).cast("double")
    mean_word = n_chars / F.greatest(n_tokens, F.lit(1.0))
    length_factor = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    word_factor = F.when((mean_word >= 3) & (mean_word <= 10), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    punct_factor = F.lit(1.0) - F.least(
        punct_ratio(col) * F.lit(4.0), F.lit(1.0)
    )
    return length_factor * F.lit(0.4) + word_factor * F.lit(0.3) + punct_factor * F.lit(0.3)


def text_stats_frame(df, text_col: str, keep_cols: tuple[str, ...] = ()):
    """The quality-stats projection (token count, punct ratio, quality
    score, BPE estimate, stopword ratio) as a STAGED two-projection
    plan — the same repeated-subexpression discipline as
    ``lang_id_frame``.

    Inlining the five outputs repeats the expensive primitives —
    ``ws_trim`` (a regexp over the whole text), the ``split`` tokenize,
    the punctuation ``regexp_replace``, and the five stopword
    ``replace`` scans — up to six times each inside one projection
    (token_count alone appears in four outputs), and codegen evaluates
    every occurrence. Staging names each primitive once; the outputs
    are pure arithmetic over the named columns. Catalyst's
    CollapseProject keeps the projections apart because re-inlining
    would duplicate non-cheap expressions. Results are identical
    (pinned by test_text_stats_frame_matches_inline).
    """
    t = F.col(text_col)
    # Stage the trimmed text once, then every primitive once over it.
    trimmed_df = df.select(
        *[F.col(c) for c in keep_cols],
        F.length(t).cast("double").alias("_n_chars"),
        F.length(F.regexp_replace(t, r"[\p{L}\p{N}\s]", "")).cast("double").alias(
            "_n_punct"
        ),
        _lang_score(t, "en").alias("_en_hits"),
        ws_trim(t).alias("_trimmed"),
    )
    stage1 = trimmed_df.select(
        *[F.col(c) for c in keep_cols],
        "_n_chars",
        "_n_punct",
        "_en_hits",
        F.length("_trimmed").alias("_n_trimmed"),
        F.when(F.length("_trimmed") == 0, F.lit(0))
        .otherwise(F.size(F.split(F.col("_trimmed"), r"\s+")))
        .alias("_n_tokens"),
    )
    n_chars = F.col("_n_chars")
    n_tokens = F.col("_n_tokens")
    punct_ratio_c = F.col("_n_punct") / F.greatest(n_chars, F.lit(1.0))
    mean_word = n_chars / F.greatest(n_tokens.cast("double"), F.lit(1.0))
    length_factor = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    word_factor = F.when(
        (mean_word >= 3) & (mean_word <= 10), F.lit(1.0)
    ).otherwise(F.lit(0.5))
    punct_factor = F.lit(1.0) - F.least(punct_ratio_c * F.lit(4.0), F.lit(1.0))
    quality = (
        length_factor * F.lit(0.4)
        + word_factor * F.lit(0.3)
        + punct_factor * F.lit(0.3)
    )
    bpe_extra = F.ceil(F.col("_n_trimmed") / F.lit(4)) - n_tokens
    return stage1.select(
        *[F.col(c) for c in keep_cols],
        n_tokens.cast("long").alias("n_tokens"),
        F.round(punct_ratio_c, 4).alias("punct_ratio"),
        F.round(quality, 4).alias("quality"),
        (n_tokens + F.greatest(bpe_extra, F.lit(0).cast("bigint"))).cast("long").alias(
            "n_bpe_tokens"
        ),
        F.round(
            F.col("_en_hits")
            / F.greatest(n_tokens.cast("double"), F.lit(1.0)),
            4,
        ).alias("stopword_ratio_en"),
    )


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (lowercased,
    punctuation stripped, whitespace collapsed). The exact-dedup key.
    """
    return F.md5(normalize_text(col))


def tokenize_to_ids(
    df,
    id_col: str,
    text_col: str,
    max_vocab: int = 65_536,
):
    """Text → ordered token-id sequences — the tokenization step every
    training-data pipeline ends with.

    1. **Vocabulary**: distinct tokens ranked by (count desc, token
       asc); rank is the id (1-based; ties broken lexicographically so
       the vocab is deterministic). ``orderBy().limit(max_vocab)``
       plans as TakeOrderedAndProject — the vocab is BOUNDED by
       construction (real subword vocabs are ~10^5), so the global
       rank never becomes an unbounded single-partition sort, and the
       id lookup below broadcasts.
    2. **Encoding**: positions from posexplode; ids from a broadcast
       join against the vocab (out-of-vocab → 0, the UNK id);
       per-doc arrays reassembled in position order via
       ``array_sort(collect_list(struct(pos, id)))`` — one shuffle on
       the doc key.

    Returns (id_col, n_tokens, token_ids) with docs that have no
    tokens carrying empty arrays.
    """
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(ws_trim(F.col(text_col)), r"\s+")).alias("_p", "_w"),
    ).filter(F.col("_w") != "")
    vocab = (
        toks.groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .orderBy(F.desc("_cnt"), F.asc("_w"))
        .limit(max_vocab)
        .select(
            "_w",
            (F.row_number().over(Window.orderBy(F.desc("_cnt"), F.asc("_w"))))
            .cast("int")
            .alias("_id"),
        )
    )
    encoded = (
        toks.join(F.broadcast(vocab), "_w", "left")
        .select(
            F.col(id_col),
            "_p",
            F.coalesce("_id", F.lit(0)).cast("int").alias("_id"),
        )
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "_id"))),
                lambda s: s.getField("_id"),
            ).alias("token_ids")
        )
    )
    return df.select(F.col(id_col)).join(encoded, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.size("token_ids"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("token_ids", F.array().cast("array<int>")).alias("token_ids"),
    )


# --------------------------------------------------------------------------
# PII redaction (training-data compliance pass).
# --------------------------------------------------------------------------

# Pattern dialect is the intersection of Java regex (Spark) and RE2
# (DuckDB/ripgrep): no lookarounds, no backrefs — so the exact same
# pattern strings run on both engines and the redaction is
# hash-verifiable. Order matters and is fixed: emails first (their
# local parts contain digits a later pass could half-match), then
# phone runs, then dotted quads.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?\d[\d-]{7,}\d", "<PHONE>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(col: Column) -> Column:
    """Replace emails, phone-number runs, and IPv4 quads with typed
    placeholder tags — the standard compliance scrub before a corpus
    leaves the ingest zone. Three chained ``regexp_replace`` calls in
    one narrow projection: at 100 TB this fuses into the same
    whole-stage-codegen pass as the quality filters, zero extra I/O.
    """
    out = col
    for _, pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


def pii_tag_count(redacted: Column, kind: str) -> Column:
    """Occurrences of one placeholder tag in already-redacted text
    (length-difference trick — no regex second pass)."""
    tag = {k: t for k, _, t in PII_PATTERNS}[kind]
    return occurrences(redacted, tag).cast("long")


# --------------------------------------------------------------------------
# N-gram (bigram) language-model counts.
# --------------------------------------------------------------------------


def tokens_array(col: Column) -> Column:
    """Whitespace tokens as an array; empty/whitespace-only text gives
    an EMPTY array (a bare ``split`` would give ``['']``)."""
    trimmed = ws_trim(col)
    return F.when(
        F.length(trimmed) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(trimmed, r"\s+"))


def bigrams_array(col: Column) -> Column:
    """Adjacent token pairs as ``"w1 w2"`` strings (tokens are
    whitespace-split so the space separator is unambiguous). Texts
    with fewer than two tokens give an empty array — the guard also
    keeps ``sequence``-style negative ranges out of the plan.
    """
    toks = tokens_array(col)
    n = F.size(toks)
    return F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    )


# --------------------------------------------------------------------------
# Corpus-statistics scoring: unigram-LM perplexity and PMI collocations.
# --------------------------------------------------------------------------


def unigram_perplexity(df, id_col: str, text_col: str, lang_col: str):
    """Per-document cross-entropy and perplexity under the corpus's own
    per-language unigram MLE language model — the CCNet-style
    perplexity signal curation pipelines threshold on (template spam
    and gibberish sit far from the corpus distribution; docs scoring
    worst get dropped or down-weighted before training).

    ppl(d) = exp( -1/N_d · Σ_{w∈d} ln P(w | lang) ),
    P(w|lang) = cnt(lang,w) / total(lang)  (MLE — every scored token
    is in the vocabulary by construction, so no smoothing is needed
    and the score is exactly reproducible in SQL).

    Scale shape: ONE (lang, token) hash aggregate builds the LM (its
    size is the vocabulary, not the corpus); per-language totals ride
    on a window over those counts (never a second fact pass); scoring
    re-joins the token postings to the LM on (lang, token) — a plain
    equi-join whose build side is vocabulary-sized and whose
    probe side streams, then one per-doc aggregate. Empty documents
    surface with 0 tokens / NULL scores through ONE outer join from
    the corpus — never an anti-join + union, which would re-derive
    the whole scoring pipeline twice (measured 10 corpus scans vs 3
    in the plan). Everything is JVM codegen — no UDFs.

    Returns (id_col, lang_col, n_tokens, xent_nats, ppl).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.col(lang_col),
        F.explode(tokens_array(F.col(text_col))).alias("_w"),
    )
    lm = toks.groupBy(lang_col, "_w").agg(F.count(F.lit(1)).alias("_cnt"))
    tot = Window.partitionBy(lang_col)
    lm = lm.withColumn("_lp", F.log(F.col("_cnt") / F.sum("_cnt").over(tot)))
    scored = (
        toks.join(lm.select(lang_col, "_w", "_lp"), [lang_col, "_w"])
        .groupBy(id_col, lang_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (-F.avg("_lp")).alias("_x"),
        )
    )
    return (
        df.select(F.col(id_col), F.col(lang_col))
        .join(scored, [id_col, lang_col], "left")
        .select(
            id_col,
            lang_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.round(F.col("_x"), 4).alias("xent_nats"),
            F.round(F.exp(F.col("_x")), 4).alias("ppl"),
        )
    )


def pmi_collocations(df, lang_col: str, text_col: str, min_count: int = 5, k: int = 5):
    """Top-k collocations per language by pointwise mutual information:
    PMI(w1,w2) = ln( P(w1 w2) / (P(w1)·P(w2)) ) over adjacent-pair and
    unigram corpus distributions — the classic phrase-mining signal
    ("new york" scores high because the pair beats the independence
    assumption by orders of magnitude; frequent-but-independent pairs
    like "of the" score near zero). ``min_count`` suppresses the
    low-count PMI bias toward hapax pairs.

    Shape: two corpus-grain hash aggregates (bigram counts, unigram
    counts — the bigram pass derives positions from one zip_with, no
    self-join); the unigram table joins onto the bigram table TWICE
    (left word, right word) but is vocabulary-sized; denominator
    totals are window sums over the count tables. The final top-k is
    a per-language rank window on the already-filtered collocation
    table — WindowGroupLimit keeps it map-side.

    Returns (lang, w1, w2, n, pmi_nats, rk).
    """
    from pyspark.sql import Window

    bg = (
        df.select(F.col(lang_col), F.explode(bigrams_array(F.col(text_col))).alias("_bg"))
        .groupBy(lang_col, "_bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("w1", F.substring_index(F.col("_bg"), " ", 1))
        .withColumn("w2", F.substring_index(F.col("_bg"), " ", -1))
    )
    ug = (
        df.select(F.col(lang_col), F.explode(tokens_array(F.col(text_col))).alias("_w"))
        .groupBy(lang_col, "_w")
        .agg(F.count(F.lit(1)).alias("_uc"))
    )
    wl = Window.partitionBy(lang_col)
    bg = bg.withColumn("_nb", F.sum("n").over(wl))
    ug = ug.withColumn("_nu", F.sum("_uc").over(wl))
    u1 = ug.select(
        F.col(lang_col), F.col("_w").alias("w1"),
        (F.col("_uc") / F.col("_nu")).alias("_p1"),
    )
    u2 = ug.select(
        F.col(lang_col), F.col("_w").alias("w2"),
        (F.col("_uc") / F.col("_nu")).alias("_p2"),
    )
    pmi = (
        bg.filter(F.col("n") >= min_count)
        .join(u1, [lang_col, "w1"])
        .join(u2, [lang_col, "w2"])
        .select(
            F.col(lang_col),
            "w1",
            "w2",
            "n",
            # rank on the ROUNDED pmi: libm log differs across engines
            # in the last ulp, which must not be able to reorder the
            # top-k window
            F.round(
                F.log(
                    (F.col("n") / F.col("_nb")) / (F.col("_p1") * F.col("_p2"))
                ),
                4,
            ).alias("pmi_nats"),
        )
    )
    rw = Window.partitionBy(lang_col).orderBy(
        F.desc("pmi_nats"), F.asc("w1"), F.asc("w2")
    )
    return (
        pmi.withColumn("rk", F.row_number().over(rw).cast("long"))
        .filter(F.col("rk") <= k)
        .select(lang_col, "w1", "w2", "n", "pmi_nats", "rk")
    )


def bigram_interp_perplexity(
    df,
    id_col: str,
    text_col: str,
    lang_col: str,
    lam: float = 0.7,
):
    """Per-document perplexity under a Jelinek-Mercer interpolated
    bigram LM fit on the corpus itself — the KenLM-shaped upgrade of
    ``unigram_perplexity`` (context-aware: shuffled-word salad scores
    near the unigram model, fluent text scores far better, so the
    GAP between the two perplexities is itself a fluency signal).

    P(w2|w1) interpolates λ·MLE(bigram)/MLE(prefix) with
    (1−λ)·MLE(unigram); every scored bigram exists in the LM by
    construction (the corpus is its own reference), so probabilities
    are strictly positive rationals of exact counts — no smoothing
    constant to disagree about, and the double expression replays
    term-for-term in SQL. ppl = exp(−mean ln p) over the doc's
    bigrams; docs with <2 tokens surface NULL via one outer join.

    Scale shape mirrors the unigram scorer: one (lang, bigram) hash
    aggregate (vocabulary-sized), prefix totals as a window over LM
    rows (never a second fact pass), unigram LM likewise, scoring =
    two vocabulary-build-side equi-joins + one per-doc aggregate.
    All JVM codegen.
    """
    from pyspark.sql import Window

    bgs = df.select(
        F.col(id_col), F.col(lang_col),
        F.explode(bigrams_array(F.col(text_col))).alias("_bg"),
    )
    bg_lm = bgs.groupBy(lang_col, "_bg").agg(F.count(F.lit(1)).alias("_cb"))
    bg_lm = bg_lm.withColumn("_w1", F.substring_index(F.col("_bg"), " ", 1))
    pw = Window.partitionBy(lang_col, "_w1")
    bg_lm = bg_lm.withColumn("_cp", F.sum("_cb").over(pw))
    toks = df.select(
        F.col(lang_col), F.explode(tokens_array(F.col(text_col))).alias("_w")
    )
    uni = toks.groupBy(lang_col, "_w").agg(F.count(F.lit(1)).alias("_cu"))
    uni = uni.withColumn(
        "_nu", F.sum("_cu").over(Window.partitionBy(lang_col))
    )
    scored = (
        bgs.join(bg_lm.select(lang_col, "_bg", "_cb", "_cp"), [lang_col, "_bg"])
        .withColumn("_w2", F.substring_index(F.col("_bg"), " ", -1))
        .join(
            uni.select(lang_col, F.col("_w").alias("_w2"), "_cu", "_nu"),
            [lang_col, "_w2"],
        )
        .withColumn(
            "_lp",
            F.log(
                F.lit(lam)
                * (F.col("_cb").cast("double") / F.col("_cp").cast("double"))
                + F.lit(1.0 - lam)
                * (F.col("_cu").cast("double") / F.col("_nu").cast("double"))
            ),
        )
        .groupBy(id_col, lang_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (-F.avg("_lp")).alias("_x"),
        )
    )
    return (
        df.select(F.col(id_col), F.col(lang_col))
        .join(scored, [id_col, lang_col], "left")
        .select(
            id_col,
            lang_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.round(F.col("_x"), 4).alias("xent_nats"),
            F.round(F.exp(F.col("_x")), 4).alias("ppl"),
        )
    )


def zipf_fit(
    df,
    text_col: str,
    lang_col: str,
    top_k: int = 500,
):
    """Zipf-law fit per language: OLS of ln(frequency) on ln(rank)
    over the top ``top_k`` tokens — natural text slopes near −1,
    while template spam, boilerplate floods and synthetic gibberish
    bend the curve (flat head = copy-paste domination, steep tail =
    tiny effective vocabulary). The corpus-QA scalar that summarizes
    the whole frequency curve in one number per language.

    Determinism: ranks come from exact counts (ties → token order);
    each OLS moment term is rounded(8) and summed as DECIMAL, so the
    co-moments — and therefore slope/intercept/R² — are
    order-independent and replay exactly in SQL. Shape: one (lang,
    token) aggregate (vocabulary-sized), a lang-partitioned
    WindowGroupLimit for the top-k, and a 5-moment aggregate per
    language.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(lang_col), F.explode(tokens_array(F.col(text_col))).alias("_w")
    )
    counts = toks.groupBy(lang_col, "_w").agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy(lang_col).orderBy(F.desc("_c"), F.asc("_w"))
    ranked = (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= top_k)
    )
    x = F.log(F.col("_rk").cast("double"))
    y = F.log(F.col("_c").cast("double"))

    def t(expr):
        return F.round(expr, 8).cast("decimal(28,8)")

    m = ranked.groupBy(lang_col).agg(
        F.count(F.lit(1)).alias("_k"),
        F.sum(t(x)).alias("_sx"),
        F.sum(t(y)).alias("_sy"),
        F.sum(t(x * x)).alias("_sxx"),
        F.sum(t(x * y)).alias("_sxy"),
        F.sum(t(y * y)).alias("_syy"),
    )
    k = F.col("_k").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    sxy = F.col("_sxy").cast("double")
    syy = F.col("_syy").cast("double")
    cov = k * sxy - sx * sy
    varx = k * sxx - sx * sx
    vary = k * syy - sy * sy
    slope = cov / varx
    return m.select(
        lang_col,
        F.col("_k").alias("n_ranks"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round((sy - slope * sx) / k, 4).alias("intercept"),
        F.round(
            F.when(
                (varx > 0) & (vary > 0), (cov * cov) / (varx * vary)
            ).otherwise(F.lit(None).cast("double")),
            4,
        ).alias("r2"),
    )


# --------------------------------------------------------------------------
# BPE merge learning — the tokenizer-training step.
# --------------------------------------------------------------------------


def bpe_merges_py(
    word_freqs: list[tuple[str, int]], n_merges: int = 12
) -> list[tuple[int, str, str, str, int]]:
    """Pure-Python BPE merge learning over a (word, freq) vocabulary —
    the SHARED routine: the DuckDB oracle replays it at import time
    (same pattern as ``similarity.lloyd_spherical`` for IVF), and the
    unit tests pin the Spark loop against it.

    Classic Sennrich BPE without the end-of-word marker: per round,
    score every adjacent symbol pair by Σ freq over all positions
    (overlapping positions count), merge the argmax — ties break by
    (lhs, rhs) string order — replacing occurrences left-to-right
    non-overlapping, and repeat. Returns (rank, lhs, rhs, merged,
    score); stops early when no adjacent pair remains.
    """
    segs = [(list(w), int(f)) for w, f in word_freqs]
    out: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        scores: dict[tuple[str, str], int] = {}
        for syms, f in segs:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                scores[p] = scores.get(p, 0) + f
        if not scores:
            break
        # argmax by score, ties to the LOWEST (lhs, rhs) pair
        best_pair, best_score = None, None
        for p, s in scores.items():
            if (
                best_pair is None
                or s > best_score
                or (s == best_score and p < best_pair)
            ):
                best_pair, best_score = p, s
        a, b = best_pair
        merged = a + b
        out.append((rank, a, b, merged, best_score))
        nxt = []
        for syms, f in segs:
            res: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(merged)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            nxt.append((res, f))
        segs = nxt
    return out


def bpe_learn(
    df,
    text_col: str,
    top_words: int = 200,
    n_merges: int = 12,
):
    """Distributed BPE merge learning: word frequencies come from one
    corpus scan (the only fact-sized stage), the working set is the
    top-``top_words`` vocabulary slice (TakeOrderedAndProject — a
    distributed top-k, deterministic (freq desc, word) order), and
    each round is ONE vocab-grain aggregate: explode adjacent symbol
    pairs weighted by word frequency, argmax by (score, lhs, rhs).
    Only the per-round argmax row is fetched (the kmeans-update
    pattern: a bounded driver payload, never the table); the merge is
    applied in-plan with a left-to-right non-overlapping
    ``F.aggregate`` fold over the symbol arrays, and the segmentation
    localCheckpoints per round (lineage cut without the filesystem
    round-trip — re-deriving round r from round 0 would recompute r
    nested folds; see the r11 note in the loop).

    At real scale the vocabulary table is millions of rows: every
    per-round stage here is vocab-grain and shuffle-light, which is
    exactly how distributed BPE trainers decompose the problem.

    Returns the learned merge table (rank, lhs, rhs, merged, score)
    built from the fetched argmax rows; stops early when no pair
    remains. Semantics pinned against ``bpe_merges_py`` by tests and
    by the catalog oracle.
    """
    from ..sources.scratch import snapshot

    spark = df.sparkSession
    wf = (
        df.select(F.explode(tokens_array(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    seg = snapshot(
        wf.orderBy(F.desc("n"), F.asc("w"))
        .limit(int(top_words))
        .select("w", "n", F.split(F.col("w"), "").alias("syms")),
        prefix="bpe_seg_",
    )
    # The loop's jobs all run on the top_words-row working set, so it
    # runs as one partition: at the session's fact-scale width each
    # round paid ~30 idle tasks of pure scheduling overhead (measured
    # 2× the whole loop). The fact-sized word count above already ran
    # at full width.
    seg = seg.coalesce(1)
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pairs = seg.filter(F.size("syms") >= 2).select(
            "n",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("syms") - 2),
                    lambda i: F.struct(
                        F.col("syms")[i].alias("l"),
                        F.col("syms")[i + 1].alias("r"),
                    ),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").alias("score"))
            .orderBy(F.desc("score"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, score = best[0]["l"], best[0]["r"], int(best[0]["score"])
        merged = a + b
        merges.append((rank, a, b, merged, score))
        # Per-round lineage cut via eager localCheckpoint, not a
        # parquet snapshot (r11): the working set is top_words rows,
        # consumed only by the next round's argmax + fold — the
        # Bradley-Terry trade, not the connected-components one (no
        # joins downstream, so the lost parquet stats cost nothing).
        # Measured 6.0 → 3.6 s for the 8-round loop at sf0.1
        # (alternating A/B, identical merge table).
        seg = seg.select(
            "w", "n", apply_bpe_merge(F.col("syms"), a, b).alias("syms")
        ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        merges or [],
        "rank int, lhs string, rhs string, merged string, score bigint",
    )


def apply_bpe_merge(syms: Column, a: str, b: str) -> Column:
    """Apply ONE merge rule (a, b) → a+b to a symbol-array column:
    left-to-right, non-overlapping — the classic BPE replacement pass
    as an in-plan ``F.aggregate`` fold (accumulator = emitted symbols
    + one pending symbol). Shared by the learning loop and the
    corpus-wide application, and mirrored step-for-step by the Python
    replay (``bpe_merges_py`` / ``bpe_segment_py``)."""
    la, lb, lm = F.lit(a), F.lit(b), F.lit(a + b)
    return F.aggregate(
        syms,
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("pend"),
        ),
        lambda acc, s: F.when(
            (acc["pend"] == la) & (s == lb),
            F.struct(
                F.concat(acc["out"], F.array(lm)).alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
        ).otherwise(
            F.struct(
                F.when(acc["pend"].isNull(), acc["out"])
                .otherwise(F.concat(acc["out"], F.array(acc["pend"])))
                .alias("out"),
                s.alias("pend"),
            )
        ),
        lambda acc: F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        ),
    )


def bpe_segment_py(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Pure-Python twin of chaining ``apply_bpe_merge`` over the merge
    list — used by the compression oracle and the property tests."""
    syms = list(word)
    for a, b in merges:
        res: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                res.append(a + b)
                i += 2
            else:
                res.append(syms[i])
                i += 1
        syms = res
    return syms


def chunk_sliding_windows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """RAG/training-prep CHUNKING: split every document into
    fixed-size sliding token windows (``window`` words, step
    ``stride`` — overlapping when stride < window, the standard
    retrieval-chunk shape). Chunk starts are 0, stride, 2·stride, …;
    the first chunk always exists (short docs yield one short chunk)
    and the last may be partial — n_chunks = 1 if n ≤ window else
    ⌈(n − window)/stride⌉ + 1, so every token is covered and no
    start begins past the final window.

    All inside codegen: one ``transform`` over a ``sequence`` of
    chunk indices slices the pre-split word array — no explode of
    word grain (the chunk grain is ~n/stride rows, not n), no UDF,
    no shuffle at all until a downstream consumer groups. Emits
    (id, chunk_idx, n_tokens, first_token, last_token, chunk_sha)
    where chunk_sha is md5 of the space-joined window — the stable
    chunk id a retrieval index or a dedup pass keys on.
    """
    n = F.size("_ws")
    nc = F.when(n <= window, F.lit(1)).otherwise(
        F.ceil((n - window) / F.lit(stride)).cast("int") + 1
    )
    chunk = F.slice(
        F.col("_ws"), F.col("_ci") * stride + 1, window
    )
    return (
        df.select(
            F.col(id_col),
            F.split(ws_trim(F.col(text_col)), r"\s+").alias("_ws"),
        )
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), nc - 1)).alias("_ci"),
            "_ws",
        )
        .select(
            F.col(id_col),
            F.col("_ci").cast("int").alias("chunk_idx"),
            F.size(chunk).alias("n_tokens"),
            F.element_at(chunk, 1).alias("first_token"),
            F.element_at(chunk, -1).alias("last_token"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_sha"),
        )
    )
