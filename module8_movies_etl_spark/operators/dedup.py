"""Deduplication family for training-data pipelines (SURVEY.md §2.13).

Exact → fuzzy, in increasing recall / cost:

- exact:        md5-of-normalized-text group (seed: reference P9
                ``drop_duplicates``, ``Data Cleaning.ipynb:3696``)
- n-gram Jaccard: blocked self-join + set overlap
- MinHash+LSH:  deterministic md5-based signatures, banded bucket join
                (candidate pairs only — the 100 TB path)
- SimHash:      64-bit sign-aggregated word hashes, hamming buckets
- embedding:    cosine near-dup over the embeddings table (see
                ``similarity.py``)

Scale notes. Exact dedup is one hash shuffle on a 16-byte key. The
Jaccard join MUST be blocked (here: by a cheap key like language or a
length bucket) — an unblocked self-join is O(n²) and does not survive
any scale. MinHash-LSH replaces the quadratic join with
``n_bands`` shuffles on small band keys; that is the designed path for
100 TB. All hashing is md5-based and deterministic — no engine-private
hash functions — so results are reproducible and oracle-verifiable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import fingerprint, ws_trim


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row per distinct (normalized) text: the min-id member.
    Deterministic, unlike ``dropDuplicates``; one shuffle on the md5 key.

    Rows whose text is NULL are ALL kept: NULL means unknown, not
    equal — md5(NULL) is NULL, and letting groupBy's one-NULL-key
    semantics run would silently delete every missing-payload row but
    one as "duplicates" of each other.
    """
    fp = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
    keep = (
        fp.filter(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
        .unionByName(fp.filter(F.col("fp").isNull()).select(id_col))
    )
    return df.join(keep, on=id_col, how="left_semi")


def duplicate_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact-dup profile: one row per fingerprint with group size and
    canonical (min) id — the QA view of ``exact_dedup``. NULL-text
    rows are excluded (they are not duplicates of each other — see
    ``exact_dedup``)."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .filter(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _distinct_words(text_col: str) -> F.Column:
    # array_remove("") guards the split-of-empty-string pitfall:
    # ws_trim of empty/whitespace-only text is "", and split("") is
    # [""] — without the removal every empty doc would carry one
    # phantom "" token and any two empty docs would score Jaccard 1.0
    return F.array_remove(
        F.array_distinct(F.split(ws_trim(F.col(text_col)), r"\s+")), ""
    )


def _distinct_tokens(text_col: str, ngram: int = 1) -> F.Column:
    """Distinct token set: words (``ngram=1``) or word-level shingles
    (``ngram=n`` → space-joined n-grams of consecutive words). Shingles
    preserve local word order, so shingle-Jaccard/MinHash detects
    reorder-heavy near-dups that bag-of-words misses.
    """
    if ngram == 1:
        return _distinct_words(text_col)
    words = F.split(ws_trim(F.col(text_col)), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (ngram - 1)),
        lambda i: F.concat_ws(" ", F.slice(words, i, ngram)),
    )
    # guard: sequence(1, stop) runs DESCENDING when stop < 1 (short
    # docs would yield phantom shingles instead of none)
    return F.array_distinct(
        F.when(F.size(words) >= ngram, grams).otherwise(
            F.array().cast("array<string>")
        )
    )


def _word_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 1,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, extra..., token) postings — one row per distinct token per
    doc.

    The explode+aggregate formulation is deliberate: per-token hashing
    over a *flat* column runs inside whole-stage codegen, while the
    equivalent higher-order-function expressions (``transform`` /
    ``aggregate`` over the token array) are interpreted per row with
    heavy object churn (measured: >200 s of pure GC at sf0.1 for the
    simhash fold).

    Shingle postings (``ngram>1``) come from posexplode + lead()
    windows — flat codegen'd string concat — NOT from exploding the
    ``_distinct_tokens`` array: Generate over a lambda-HOF child is
    interpreted and measured 4× slower at sf0.1. Results are
    identical (pinned by test_ngram_postings_match_token_array).
    """
    if ngram == 1:
        return df.select(
            F.col(id_col),
            *[F.col(c) for c in extra_cols],
            F.explode(_distinct_tokens(text_col, 1)).alias("w"),
        )
    from pyspark.sql import Window

    flat = df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.posexplode(F.split(ws_trim(F.col(text_col)), r"\s+")).alias("_p", "_w"),
    )
    w = Window.partitionBy(id_col).orderBy("_p")
    gram = F.concat_ws(
        " ", F.col("_w"), *[F.lead("_w", k).over(w) for k in range(1, ngram)]
    )
    return (
        flat.select(
            F.col(id_col),
            *[F.col(c) for c in extra_cols],
            gram.alias("w"),
            # concat_ws skips NULLs, so tail positions would emit
            # SHORT grams instead of none — drop rows where the last
            # member is past the end
            F.lead("_w", ngram - 1).over(w).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
        .dropDuplicates([id_col, "w"])
    )


def jaccard_similar_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.5,
    strategy: str = "auto",
    ngram: int = 1,
) -> DataFrame:
    """Word-set Jaccard near-dup pairs within blocks — EXACT (identical
    output to the brute-force blocked O(n²) join), with the physical
    strategy chosen adaptively from a data statistic, the way AQE picks
    join strategies from runtime stats:

    - ``bitset`` (dense/small vocabulary, ≤ 64 distinct words): encode
      each doc's word set as a 64-bit mask; one salted block self-join
      computes ``bit_count(a&b)/bit_count(a|b)`` in pure codegen'd bit
      math. No posting explosion, no candidate distinct. When the
      vocabulary is this dense the output is inherently ~quadratic in
      the block, so candidate pruning cannot help — the win is making
      each pair cost ~3 ALU ops.
    - ``prefix`` (general vocabulary): prefix-filtered inverted index
      (AllPairs/PPJoin family) — the 100 TB path. See
      ``_jaccard_prefix_pairs``.
    - ``auto``: probe the vocabulary size with one cheap aggregate
      (early-limited distinct — the same statistics-probe pattern as
      ``null_prune``) and dispatch. Callers on a known corpus pass the
      strategy explicitly to skip the probe scan.

    Returns (id_a, id_b, jaccard) with id_a < id_b; blocks with NULL
    keys are excluded (matching the null-rejecting equi-join the
    brute-force formulation implies).
    """
    from pyspark.sql import Window

    base = df
    for c in block_cols:
        base = base.filter(F.col(c).isNotNull())
    if ngram == 1:
        # explode of the distinct-words array is codegen'd (split/
        # array_distinct are ordinary expressions) and sz rides along
        # free — measured faster than the flat-postings path here
        docs = base.select(
            F.col(id_col).alias("_id"),
            *[F.col(c) for c in block_cols],
            _distinct_tokens(text_col, 1).alias("_words"),
        ).withColumn("sz", F.size("_words"))
        postings = docs.select(
            "_id", *block_cols, "sz", F.explode("_words").alias("w")
        )
    else:
        # shingles: flat lead-window postings — never explode or
        # re-evaluate the _distinct_tokens lambda-HOF array
        # (interpreted; both directions measured ~4× slower at
        # sf0.1). The postings are snapshotted (sources.scratch):
        # four consumers (document frequencies, the prefix index, the
        # counting verify's two sides) would otherwise each re-run
        # the posexplode + lead-window shingle assembly from the scan
        # (measured ~2× end-to-end).
        from ..sources.scratch import snapshot

        postings = snapshot(
            _word_postings(
                base, id_col, text_col, ngram, extra_cols=tuple(block_cols)
            ).withColumnRenamed(id_col, "_id"),
            prefix="shingle_postings_",
        ).withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("_id")))
    vocab = None
    if strategy == "auto":
        # The probe action doubles as the vocabulary COLLECTION: when
        # it proves ≤64 distinct tokens, the tokens themselves feed
        # the bitset path as a literal map — one driver action total,
        # and the main job loses the vocab re-distinct + window +
        # broadcast join (the bit lookup becomes pure codegen).
        vocab = _probe_vocab(postings)
        strategy = "bitset" if vocab is not None else "prefix"
    if strategy == "bitset":
        return _jaccard_bitset_pairs(postings, block_cols, threshold, vocab)
    if strategy == "prefix":
        if ngram == 1:
            # Snapshot the WORD postings too (r12 — the r11 shingle
            # rationale, closing the ADVICE gap): the prefix path
            # consumes the postings five ways (document frequencies,
            # the prefix index, both sides of the counting verify,
            # sizes), and each lazy consumer re-ran the
            # split/array_distinct/explode from the scan. One narrow
            # (id, block, sz, token) parquet feeds all five. The
            # bitset path keeps the lazy form — it consumes postings
            # once (mask aggregate).
            from ..sources.scratch import snapshot

            postings = snapshot(postings, prefix="word_postings_")
        return _jaccard_prefix_pairs(postings, block_cols, threshold)
    raise ValueError(f"unknown jaccard strategy: {strategy!r}")


def _probe_vocab(postings: DataFrame, cap: int = 64) -> list[str] | None:
    """Collect the distinct token vocabulary if it has ≤ ``cap``
    entries, else None. One early-limited distinct — the statistics
    probe that drives bitset/postings dispatch."""
    rows = postings.select("w").distinct().limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    return sorted(r["w"] for r in rows)


def _mask_from_vocab(postings: DataFrame, block_cols: list[str], vocab: list[str]):
    """(_id, *block_cols, _mask, _blk) via a LITERAL token→bit map —
    no vocab subplan in the job; the lookup is a codegen'd map
    expression. ``vocab`` is sorted, so bit assignment matches the
    window-ranked variant exactly."""
    mapping = F.create_map(
        *[x for i, w in enumerate(vocab) for x in (F.lit(w), F.lit(i))]
    )
    return (
        postings.withColumn("_bit", mapping[F.col("w")])
        .groupBy("_id", *block_cols)
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), _bit)")).alias("_mask"))
        .withColumn("_blk", F.struct(*block_cols))
    )


def _bitset_masks(
    postings: DataFrame,
    block_cols: list[str],
    vocab_list: list[str] | None,
) -> DataFrame:
    """Per-doc 64-bit word masks — the ONE mask construction for both
    the Jaccard and containment bitset paths. When ``vocab_list`` is
    None (explicit ``strategy='bitset'`` call, no auto probe yet) the
    vocabulary is probed here and VALIDATED: a >64-token vocabulary
    must raise, because Java ``shiftleft`` wraps the shift amount
    mod 64 and bit 65 would silently collide with bit 1 — wrong
    similarities with no error."""
    if vocab_list is None:
        vocab_list = _probe_vocab(postings)
        if vocab_list is None:
            raise ValueError(
                "bitset strategy requires a <=64-token distinct "
                "vocabulary (64-bit masks); use the postings/prefix "
                "strategy for general vocabularies"
            )
    return _mask_from_vocab(postings, block_cols, vocab_list)


def _jaccard_bitset_pairs(
    postings: DataFrame,
    block_cols: list[str],
    threshold: float,
    vocab_list: list[str] | None = None,
) -> DataFrame:
    """Dense-vocabulary fast path: word sets as 64-bit masks.

    vocab (≤ 64 tokens — validated by ``_bitset_masks``) gets a bit
    index; ``bit_or(1 << bit)`` folds each doc's distinct words into
    one long. Pairs come from the salted block self-join (each pair
    produced exactly once — no dedup pass), and Jaccard is exact set
    math on the masks:
    |A∩B| = bit_count(a & b), |A∪B| = bit_count(a | b).

    With ``vocab_list`` (the auto probe's collected tokens) the bit
    assignment is a literal map — no vocab subplan; an explicit
    ``strategy='bitset'`` call probes (and validates) here.
    """
    masks = _bitset_masks(postings, block_cols, vocab_list)
    pairs = _salted_bucket_pairs(masks, "_id", "_blk", payload=("_mask",)).select(
        F.col("id_a").alias("id_a"),
        F.col("id_b").alias("id_b"),
        F.bit_count(F.col("_mask_a").bitwiseAND(F.col("_mask_b")))
        .cast("double")
        .alias("n_inter"),
        F.bit_count(F.col("_mask_a").bitwiseOR(F.col("_mask_b")))
        .cast("double")
        .alias("n_union"),
    )
    return (
        pairs.withColumn("jaccard", F.col("n_inter") / F.col("n_union"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _jaccard_prefix_pairs(
    postings: DataFrame,
    block_cols: list[str],
    threshold: float,
) -> DataFrame:
    """Prefix-filtered inverted index (AllPairs/PPJoin family) — the
    scalable exact set-similarity join for real vocabularies:

    1. rank each doc's distinct words by ascending global document
       frequency (rarest first, ties by token);
    2. index only the doc's PREFIX — its first
       ``|x| − ceil(t·|x|) + 1`` words in that order;
    3. equi-join prefix postings on (block, word) → candidate pairs;
    4. verify each candidate exactly by COUNTING shared tokens via a
       postings re-join (Vernica et al.'s verify — see the r11 note
       at the verification step); Jaccard = |A∩B| / (|A|+|B|−|A∩B|).

    Why the prefix is EXACT (no recall loss). If J(A,B) ≥ t then
    |A∩B| ≥ t·|∪| ≥ t·max(|A|,|B|), so m := |A∩B| ≥ ceil(t·|x|) =: α_x
    for both docs. Suppose the prefixes are disjoint and let c be the
    first common word in the global order. c missing from (say) A's
    prefix puts it in A's last α_A − 1 positions, so at most α_A − 1
    elements of A — and hence of A∩B — are ≥ c; but ALL m ≥ α_A common
    words are ≥ c. Contradiction, so the prefixes share a word and the
    candidate join finds every qualifying pair under ANY total order.

    Ordering by ascending DF is what kills the scale problem the plain
    inverted index has: a stop-word in f docs of a block generates f²
    candidate rows (quadratic on exactly the most frequent tokens).
    Under DF order, high-frequency tokens sort LAST and fall outside
    the prefix of any document with more than a couple of distinct
    words — the f² blowup never enters the join.
    """
    from pyspark.sql import Window

    dfreq = postings.groupBy("w").agg(F.count(F.lit(1)).alias("_df"))
    rank = F.row_number().over(
        Window.partitionBy("_id").orderBy(F.col("_df").asc(), F.col("w").asc())
    )
    prefix_len = F.col("sz") - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1
    prefix = (
        postings.join(dfreq, "w")
        .withColumn("_r", rank)
        .filter(F.col("_r") <= prefix_len)
        .select("_id", *[F.col(c) for c in block_cols], "w", "_r", "sz")
    )
    a = prefix.select(
        F.col("_id").alias("id_a"),
        *[F.col(c) for c in block_cols],
        "w",
        F.col("_r").alias("_ra"),
        F.col("sz").alias("_sza"),
    )
    b = prefix.select(
        F.col("_id").alias("id_b"),
        *[F.col(c) for c in block_cols],
        "w",
        F.col("_r").alias("_rb"),
        F.col("sz").alias("_szb"),
    )
    # PPJoin positional filter (lossless): a shared token at ranks
    # (r_a, r_b) bounds the overlap by 1 + min(sz_a−r_a, sz_b−r_b) —
    # every common token ≥ it in the global order. J ≥ t needs overlap
    # ≥ ceil(t/(1+t)·(sz_a+sz_b)), so rows that can't reach it drop
    # BEFORE the distinct; a qualifying pair's first common prefix
    # token always passes, so no pair is lost. (Prunes the candidates
    # that shared only deep-prefix tokens — the bulk, on corpora whose
    # docs share a long common template.)
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("_sza") + F.col("_szb"))
    )
    ubound = 1 + F.least(
        F.col("_sza") - F.col("_ra"), F.col("_szb") - F.col("_rb")
    )
    cand = _dedup_pairs(
        a.join(b, on=[*block_cols, "w"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(ubound >= alpha)
        .select("id_a", "id_b")
    )
    # Exact verification by COUNTING (the Vernica-join verify, r11):
    # |A∩B| comes from re-joining the candidate pairs against the
    # postings on (id, token) — narrow rows with map-side partial
    # aggregation — instead of attaching each doc's full token ARRAY
    # to every candidate and running array_intersect. The array form
    # materialized (2 × |doc| tokens) per candidate pair (~84k pairs
    # × ~52-shingle arrays at sf0.1) and built a per-row hash set in
    # array_intersect: 4.4 → 3.6 s end-to-end on jaccard_ngram_pairs
    # (3-rep alternating A/B, identical pairs and jaccard values).
    # A candidate with zero shared tokens vanishes from the inner
    # join, exactly as the array form's jaccard=0 row fell to the
    # threshold filter. Division/filter arithmetic is unchanged.
    pa = postings.select(F.col("_id").alias("id_a"), "w")
    pb = postings.select(F.col("_id").alias("id_b"), "w")
    inter = (
        cand.join(pa, "id_a")
        .join(pb, ["id_b", "w"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("double").alias("n_inter"))
    )
    sizes = postings.select("_id", "sz").dropDuplicates(["_id"])
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _salted_bucket_pairs(
    buckets: DataFrame,
    id_col: str,
    bucket_col: str,
    payload: tuple[str, ...] = (),
    salt: int = 16,
) -> DataFrame:
    """Ordered pairs (id_a < id_b) of rows sharing ``bucket_col``, with
    the self-join salted ``salt`` ways.

    An un-salted bucket self-join hash-partitions on the bucket key, so
    one hot bucket (the norm for LSH bands over near-duplicate corpora)
    generates its entire n² pair set in a single task. Salting: the
    right side gets ``_s = id mod salt``; the left side is replicated
    once per salt value; the join key becomes (bucket, _s). Every pair
    still meets exactly once, but a hot bucket's work spreads over
    ``salt`` tasks — replication cost is salt× the (small) bucket
    table, not salt× the pairs.
    """
    lhs = buckets.select(
        F.col(id_col).alias("id_a"),
        F.col(bucket_col).alias("_bk"),
        *[F.col(c).alias(f"{c}_a") for c in payload],
        F.explode(F.array(*[F.lit(s) for s in range(salt)])).alias("_s"),
    )
    # Salt from hash(id), not the raw id: works for any id type (a raw
    # string id would null out pmod under non-ANSI semantics and
    # silently drop every pair). The salt only routes rows; it never
    # affects which pairs are produced.
    rhs = buckets.select(
        F.col(id_col).alias("id_b"),
        F.col(bucket_col).alias("_bk"),
        *[F.col(c).alias(f"{c}_b") for c in payload],
        F.pmod(F.hash(F.col(id_col)), F.lit(salt)).cast("int").alias("_s"),
    )
    # EXPLICIT repartition of the salted side on the join key: when the
    # right side broadcasts (small bucket tables — the local-bench
    # norm), the join performs NO shuffle, so the pair generation runs
    # with the lhs's incoming partitioning — for a single-file parquet
    # scan that is ONE task grinding the entire (quadratic) pair
    # volume on one core, and the salt spreads nothing (observed at
    # the sf1.0 scale run: an 8-minute single-task stage). The
    # repartition shuffles only the small salted bucket table; under a
    # real shuffled join the exchange satisfies ENSURE_REQUIREMENTS
    # and replaces the one the join would have inserted anyway.
    lhs = lhs.repartition(F.col("_bk"), F.col("_s"))
    return lhs.join(rhs, ["_bk", "_s"]).filter(F.col("id_a") < F.col("id_b"))


def _banded_first_match_pairs(
    df: DataFrame,
    id_col: str,
    band_cols: list[str],
    payload: tuple[str, ...] = (),
    salt: int = 16,
    max_bucket: int | None = None,
) -> DataFrame:
    """Pairs sharing ≥1 of ``band_cols``, each pair emitted EXACTLY
    once — at the first band where it matches — with no distinct pass.

    The union-then-distinct formulation shuffles every duplicate pair
    (bands× the candidate volume; ~40 M rows for minhash at sf0.1)
    through a repartition + hash aggregate. First-match emission
    replaces that global shuffle with a cheap codegen filter inside
    the pair-generating tasks: the single composite-key salted
    self-join (one join — per-band joins were tried and defeat
    exchange reuse) carries the EARLIER band values as payload, and a
    matching row at band i survives only if bands 0..i-1 all differ.
    Band columns must be non-null (a NULL would make the inequality
    filter drop the pair).

    ``max_bucket`` (None = emit everything, the pair-generator
    contract): when set, band buckets wider than it are dropped
    before pairing — the hot-bucket guard for corpora where minhash
    minima degenerate onto common tokens (see
    ``incremental_minhash_matches``, where the round-9 scale fit
    measured a 63%-of-corpus bucket driving exponent ~2.5). The
    width filter is a window on the bucket key, the same key the
    pair join shuffles on — no extra exchange.

    Returns (id_a, id_b, payload_a..., payload_b...), id_a < id_b.
    """
    n = len(band_cols)
    arr = F.array(*[F.col(c).cast("string") for c in band_cols])
    long_df = df.select(
        F.col(id_col),
        # bands 0..n-2 ride along as first-match payload; band n-1 is
        # never "earlier" than anything
        *band_cols[: n - 1],
        *payload,
        F.posexplode(arr).alias("_bi", "_bv"),
    ).select(
        id_col,
        *band_cols[: n - 1],
        *payload,
        "_bi",
        F.concat_ws(":", F.col("_bi").cast("string"), F.col("_bv")).alias("_fmk"),
    )
    if max_bucket is not None:
        from pyspark.sql import Window

        long_df = (
            long_df.withColumn(
                "_bw", F.count(F.lit(1)).over(Window.partitionBy("_fmk"))
            )
            .filter(F.col("_bw") <= max_bucket)
            .drop("_bw")
        )
    pairs = _salted_bucket_pairs(
        long_df,
        id_col,
        "_fmk",
        payload=("_bi",) + tuple(band_cols[: n - 1]) + tuple(payload),
        salt=salt,
    )
    keep = None
    for i in range(n):
        cond = F.col("_bi_a") == i
        for j in range(i):
            cond = cond & (F.col(f"{band_cols[j]}_a") != F.col(f"{band_cols[j]}_b"))
        keep = cond if keep is None else keep | cond
    return pairs.filter(keep).select(
        "id_a", "id_b", *[c for p in payload for c in (f"{p}_a", f"{p}_b")]
    )


def _dedup_pairs(pairs: DataFrame) -> DataFrame:
    """Distinct over candidate pairs, repartitioned by the pair key
    FIRST. A bare ``.distinct()`` on a multi-band candidate union runs
    a partial aggregation inside the pair-generating tasks; with
    near-zero duplicate reduction per task the partial hash maps fill
    and spill on every mapper (measured 45× slower at sf0.1 than
    shuffling raw pairs and aggregating once post-shuffle).
    """
    keys = [F.col(c) for c in pairs.columns if c.startswith("id_")]
    return pairs.repartition(*keys).distinct()


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    ngram: int = 1,
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing ≥1 band of the
    signature. The scale path for fuzzy dedup — candidate generation is
    ``n_bands`` cheap shuffles on band-hash keys; no quadratic join.

    Returns distinct (id_a, id_b), id_a < id_b. Callers verify
    candidates with ``jaccard_similar_pairs``-style exact overlap if
    precision matters (standard LSH two-phase). For corpora whose
    minhash minima degenerate onto common tokens (band buckets
    holding large corpus fractions — the output is then inherently
    quadratic because those docs ARE all banded pairs), pass
    ``max_bucket`` to drop evidence-free hot buckets before pairing,
    the same production mitigation ``incremental_minhash_matches``
    applies by default.
    """
    sig = _word_postings(df, id_col, text_col, ngram).groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.col("w"), F.lit(f":{i}")))).alias(f"mh{i}")
            for i in range(n_hashes)
        ]
    )
    n_bands = n_hashes // band_size
    # Wide band columns + first-match pair emission: each per-band
    # self-join shares the signature aggregation's shuffle via
    # ReusedExchange (no persist, no executor storage outliving the
    # query), and no pair-level distinct shuffle exists at all — band
    # b's join rejects pairs whose earlier bands already matched.
    bands = sig.select(
        F.col(id_col),
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"mh{b * band_size + j}") for j in range(band_size)],
                )
            ).alias(f"_band{b}")
            for b in range(n_bands)
        ],
    )
    return _banded_first_match_pairs(
        bands,
        id_col,
        [f"_band{b}" for b in range(n_bands)],
        max_bucket=max_bucket,
    ).select("id_a", "id_b")


def simhash64(text_col: str) -> F.Column:
    """60-bit SimHash of the distinct word set (15 md5 hex chars per
    word — 60 bits keeps every intermediate inside a signed long).

    Per word: hash = first 15 hex chars of md5. Per bit: +1 if set
    else −1, summed over words; sign → output bit. Expressed as a fold
    over the word array (no explode, no shuffle): the per-doc state is
    the 60-vector of counters, carried as an array column.
    """
    words = _distinct_words(text_col)
    hashes = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")
    )
    # votes[i] = sum over words of (bit_i ? 1 : -1). The shift amounts
    # are Python ints unrolled at plan-build time (F.shiftright does not
    # accept a Column), so the inner array literalizes all 60 bit tests.
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 60),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[F.shiftright(h, i).bitwiseAND(F.lit(1)) for i in range(60)]
            ),
            lambda a, b: a + F.when(b == 1, 1).otherwise(-1),
        ),
    )
    # sign → bit, weighted by 2^i; powers are distinct so sum == OR
    powers = F.array(*[F.lit(1 << i).cast("long") for i in range(60)])
    bits = F.zip_with(
        votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sh) — 60-bit SimHash per document, computed the
    codegen-friendly way: explode words, hash each word once
    (``conv(md5[:15])``), and hash-aggregate per-bit counters
    ``S_i = Σ bit_i`` + ``N = count`` per doc. votes_i = 2·S_i − N,
    output bit i set iff votes_i > 0 — bit-identical to the
    ``simhash64`` expression form, minus the interpreted 60-wide
    array fold per word.

    The 60 counters are BIT-SLICED into 20 packed longs (bits i,
    i+20, i+40 share one long at offsets 0/20/40): each counter gets
    20 bits of headroom, so packs can't carry into each other below
    2^20 distinct words per doc (far above any real document — and
    ``_word_postings`` is per-DISTINCT-word). Packing cuts the
    aggregate from 61 buffers to 21 — measured ~1.3× warm and ~2.6×
    cold (the codegen'd class shrinks with the expression tree) on
    the signature stage at sf0.1 — with the per-posting projection
    still pure codegen'd shift/mask arithmetic.
    """
    postings = _word_postings(df, id_col, text_col)
    h = F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
    packed = postings.select(
        id_col,
        *[
            (
                F.shiftright(h, j).bitwiseAND(F.lit(1))
                + F.shiftleft(
                    F.shiftright(h, j + 20).bitwiseAND(F.lit(1)), 20
                )
                + F.shiftleft(
                    F.shiftright(h, j + 40).bitwiseAND(F.lit(1)), 40
                )
            ).cast("long").alias(f"p{j}")
            for j in range(20)
        ],
    )
    agg = packed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(f"p{j}").alias(f"sp{j}") for j in range(20)],
    )
    mask = F.lit((1 << 20) - 1)
    sh = None
    for i in range(60):
        j, k = i % 20, i // 20
        s_i = F.shiftright(F.col(f"sp{j}"), 20 * k).bitwiseAND(mask)
        term = F.when(
            s_i * 2 > F.col("_n"), F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        sh = term if sh is None else sh + term
    return agg.select(F.col(id_col), sh.alias("sh"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 8
) -> DataFrame:
    """SimHash near-dup pairs: block on the four 15-bit chunks of the
    60-bit simhash (pigeonhole: any pair with hamming distance ≤ 3
    shares an identical chunk — larger distances are found with
    LSH-style partial recall), then verify with exact popcount.
    Returns (id_a, id_b, hamming).
    """
    # Single composite-key salted self-join with FIRST-MATCH emission
    # (_banded_first_match_pairs): each pair appears exactly once, so
    # no pair-level distinct shuffle exists; the hamming filter runs
    # inside the generating tasks (cheap codegen popcount).
    chunks = simhash_signatures(df, id_col, text_col).select(
        id_col,
        "sh",
        *[
            F.shiftright(F.col("sh"), 15 * c)
            .bitwiseAND(F.lit((1 << 15) - 1))
            .alias(f"_c{c}")
            for c in range(4)
        ],
    )
    return (
        _banded_first_match_pairs(
            chunks, id_col, [f"_c{c}" for c in range(4)], payload=("sh",)
        )
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word ``k``-gram, slide
    a ``window``-wide window over the hash sequence, keep each window's
    MINIMUM hash; the distinct mins are the doc's fingerprint set.

    Guarantee: any shared run of ``window + k - 1`` consecutive words
    yields at least one shared fingerprint, while only ~2/(window+1) of
    all k-gram hashes are kept — position-aware near-dup detection
    (MinHash is order-blind; winnowing localizes WHERE docs overlap)
    at a fraction of the posting volume.

    Plan shape (100 TB): one narrow posexplode over docs → lead-window
    k-gram assembly → running-min window, both over the same
    ``partitionBy(id)`` exchange (single shuffle of the token stream),
    then a distinct per (id, fingerprint). Hashes are md5 hex strings —
    the window min is a LEXICOGRAPHIC min on hex, which any SQL engine
    reproduces exactly (no engine-private hash).

    Returns (id, fp) — one row per distinct fingerprint per doc.
    Docs with fewer than ``window`` k-grams contribute their single
    truncated-window min (both sides clamp slices identically), and
    docs with no k-grams (< k words) contribute nothing.
    """
    from pyspark.sql import Window

    flat = df.select(
        F.col(id_col),
        F.posexplode(F.split(ws_trim(F.col(text_col)), r"\s+")).alias("_p", "_w"),
    )
    w_id = Window.partitionBy(id_col).orderBy("_p")
    gram = F.concat_ws(
        " ", F.col("_w"), *[F.lead("_w", j).over(w_id) for j in range(1, k)]
    )
    grams = (
        flat.select(
            F.col(id_col),
            F.col("_p"),
            F.md5(gram).alias("_h"),
            F.lead("_w", k - 1).over(w_id).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )
    w_min = Window.partitionBy(id_col).orderBy("_p").rowsBetween(0, window - 1)
    n_grams = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    return (
        grams.select(
            F.col(id_col),
            F.col("_p"),
            F.min("_h").over(w_min).alias("fp"),
            n_grams.alias("_n"),
        )
        .filter(F.col("_p") <= F.greatest(F.col("_n") - window, F.lit(0)))
        .select(id_col, "fp")
        .distinct()
    )


def winnow_similar_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints: pairs of docs
    with ≥ ``min_shared`` common fingerprints, with the count.

    The fingerprint self-join goes through the salted bucket join
    (hot fingerprints — boilerplate shared by many docs — would
    otherwise put an entire n² bucket in one task); each shared
    fingerprint yields exactly one pair row, so a count-aggregate on
    (id_a, id_b) is the shared-fingerprint count with no distinct pass.
    """
    fps = winnow_fingerprints(df, id_col, text_col, k=k, window=window)
    pairs = _salted_bucket_pairs(fps, id_col, "fp")
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    max_iters: int = 40,
) -> DataFrame:
    """Connected components over a near-dup pair graph → the dedup
    DECISION step: every doc gets its component's minimum id as
    ``cluster_id``; keep rows where ``id == cluster_id`` and a 100 TB
    corpus is deduplicated.

    Algorithm: iterative min-label propagation ACCELERATED by
    pointer jumping (each round also takes L(L(v)) and L(L(L(v)))
    from the previous snapshot), so rounds scale with log(diameter),
    not diameter — chain-shaped graphs (entity-resolution name
    chains) finish in tens of rounds where plain propagation needs
    hundreds; cliquish near-dup corpora still finish in ≤4. Each round is one
    join + one aggregate, both on the node key — the same shuffle
    partitioning every round, so AQE reuses the exchange layout. The
    loop is driver-side but the DATA never is: state is a
    (node, label) table written to scratch parquet, which also
    truncates lineage (a growing iterative plan otherwise re-executes
    from round 0 and the optimizer chokes by round ~8). Convergence is
    checked with a count of changed labels per round — a
    data-dependent driver action, like the null-prune statistics
    probe. (Chaining several lazy rounds between snapshots was tried
    and measured 2x SLOWER: the tripled join plan defeats AQE
    exchange reuse and optimizer time grows faster than the saved
    driver round-trips.)

    ``pairs`` needs columns (id_a, id_b); ``nodes`` supplies every id
    (isolated docs keep themselves as cluster_id). Returns
    (id_col, cluster_id).

    CONTRACT NOTE (r12, closing the r11 ADVICE item): ``nodes`` is
    consumed up to three times lazily — two endpoint semi-joins on
    the one-time edges write plus the final singles anti-join. Every
    in-repo caller passes a parquet-backed table (documents,
    customer, the ER snapshot), for which three column-pruned id
    scans are cheaper than an extra materialization; a caller whose
    node set is itself an expensive pipeline should ``snapshot()`` it
    first.
    """
    from ..sources.readers import _footer_schema
    from ..sources.scratch import mkscratch

    spark = pairs.sparkSession
    scratch = mkscratch("cc_labels_")
    # Materialize the edge list ONCE: ``pairs`` is usually the tail of
    # an expensive similarity pipeline, and without a snapshot every
    # propagation round would re-execute it from the scan (measured 6x
    # the whole query's cost at sf0.1).
    # No distinct: the pair set is already unique with id_a < id_b, so
    # the two mirrored directions cannot collide — and even a stray
    # duplicate would only repeat a min() input. Skipping it saves a
    # full shuffle of the doubled edge list (4.6M rows at sf0.1).
    # REBALANCE the EDGES write only: the union of two projections is
    # not shuffle-fed, so without it the write mirrors the input
    # split (32 near-empty files at bench scale), same rationale as
    # sources.scratch.snapshot. The per-round label writes below skip
    # the hint — their inputs are AQE-coalesced shuffle tails.
    # Both endpoints are restricted to the caller's node universe AT
    # WRITE TIME: an edge endpoint absent from ``nodes`` neither
    # receives nor forwards labels in the pre-r11 form either (it
    # never had a label row to join), so its edge rows were dead
    # weight in every round — two semi-joins on the one-time write
    # delete them for good (broadcast at bench scale, node-hash joins
    # at 100 TB).
    node_ids = nodes.select(F.col(id_col).alias("_nid"))
    (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .join(node_ids, F.col("src") == F.col("_nid"), "left_semi")
        .join(node_ids, F.col("dst") == F.col("_nid"), "left_semi")
        .hint("rebalance")
        .write.mode("overwrite")
        .parquet(f"{scratch}/edges")
    )
    # Every re-read below pins its schema from the written footer, so
    # it starts no schema-inference job.
    def reread(p: str) -> DataFrame:
        return spark.read.schema(_footer_schema(spark, p)).parquet(p)

    edges = reread(f"{scratch}/edges")
    # Per-round label writes get NO explicit REBALANCE (unlike the
    # edges write above): every round's output is the tail of a
    # groupBy/join shuffle that AQE has already coalesced to
    # right-sized partitions, so the extra rebalance exchange per
    # round was pure overhead — 2 exchanges → 1 per round, and with
    # the schema-pinned re-reads (no inference job per round) the
    # CC stage measured 3.34 → 2.73 s median (5-rep alternating
    # A/B, sf0.1 ER graph, r11). The same holds at 100 TB: the write
    # inherits AQE's size-targeted partitions either way.
    import shutil

    from pyspark.sql import Observation

    converged_at = None
    try:
        # Round 1 computed DIRECTLY from the edge aggregate (r11):
        # round-0 labels are the identity map over the edge-endpoint
        # nodes, so round 1's neighbor-min is just min(dst) per src
        # and both pointer jumps are identities — the first label
        # table is least(src, min(dst)) in ONE aggregation. This
        # replaces both a materialized identity round-0 table (whose
        # distinct-over-edges pass measured ~1 s on the 4.6M-edge
        # sf0.1 doc dup graph) and round 1's four-way join. The
        # iteration state covers ONLY edge-endpoint nodes: isolated
        # nodes are singletons by definition — their label is
        # provably fixed at their own id — and rejoin at consumption
        # time below, so round state scales with the CONNECTED
        # subgraph, not the corpus (label table 150k → ~3.3k rows on
        # the sf0.1 ER graph).
        obs1 = Observation("cc_round_1")
        l1 = (
            edges.groupBy("src")
            .agg(F.min("dst").alias("_nbr"))
            .select(
                F.col("src").alias("node"),
                F.least("src", "_nbr").alias("label"),
                (F.col("_nbr") < F.col("src")).alias("_changed"),
            )
        )
        l1.observe(
            obs1, F.sum(F.col("_changed").cast("long")).alias("n_changed")
        ).drop("_changed").write.mode("overwrite").parquet(
            f"{scratch}/iter1"
        )
        labels = reread(f"{scratch}/iter1")
        if (obs1.get["n_changed"] or 0) == 0:
            converged_at = 1
        later_rounds = range(2, max_iters + 1) if converged_at is None else ()
        for i in later_rounds:
            neighbor_min = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("label").alias("nbr_label"))
            )
            # Pointer-jumping against the SAME previous snapshot:
            # L(L(v)) and L(L(L(v))) are two more node-keyed 1:1
            # joins (every label value is itself a node), and folding
            # them into the round drops convergence from O(diameter)
            # to O(log diameter) rounds. Chain-shaped match graphs
            # make this mandatory: the sf0.1 customer-name ER graph
            # (one-digit-apart name chains) exceeds diameter 25 and
            # plain min-label propagation never finishes (measured:
            # single-jump converges in 30 rounds, double-jump in ~20;
            # without jumping it blows the 25-round budget), while
            # near-dup corpora (cliquish, diameter ≤4) pay only the
            # small extra label-table joins per round.
            jump1 = labels.select(
                F.col("node").alias("_jn"), F.col("label").alias("_jl")
            )
            jump2 = labels.select(
                F.col("node").alias("_jn2"), F.col("label").alias("_jl2")
            )
            new_label = F.least(
                F.col("label"),
                F.coalesce("nbr_label", F.col("label")),
                F.coalesce("_jl", F.col("label")),
                F.coalesce("_jl2", F.col("label")),
            )
            updated = (
                labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
                .join(jump1, F.col("label") == F.col("_jn"), "left")
                .join(jump2, F.col("_jl") == F.col("_jn2"), "left")
                .select(
                    "node",
                    new_label.alias("label"),
                    (new_label < F.col("label")).alias("_changed"),
                )
            )
            # The convergence count rides ON the snapshot write as an
            # Observation metric — a separate count() action per round
            # would re-scan the just-written table (two passes per
            # round instead of one; the difference compounds at 100 TB
            # where each pass is a full label-table read).
            obs = Observation(f"cc_round_{i}")
            observed = updated.observe(
                obs, F.sum(F.col("_changed").cast("long")).alias("n_changed")
            )
            observed.drop("_changed").write.mode("overwrite").parquet(
                f"{scratch}/iter{i}"
            )
            n_changed = obs.get["n_changed"] or 0
            labels = reread(f"{scratch}/iter{i}")
            if n_changed == 0:
                converged_at = i
                break
        if converged_at is None:
            raise RuntimeError(
                f"connected_components did not converge in {max_iters} rounds"
            )
    finally:
        # Scratch hygiene, on EVERY exit path: the edge list and all
        # superseded label snapshots are dead. Only the final snapshot
        # survives a successful run — it backs the (lazy) returned
        # DataFrame; on failure nothing is returned, so remove it all.
        shutil.rmtree(f"{scratch}/edges", ignore_errors=True)
        last = converged_at if converged_at is not None else max_iters + 1
        for j in range(last):
            shutil.rmtree(f"{scratch}/iter{j}", ignore_errors=True)
    # Isolated nodes (no edge) re-enter here as their own singleton
    # cluster — one anti-join at consumption time instead of riding
    # through every propagation round.
    singles = nodes.select(F.col(id_col).alias("node")).join(
        labels.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("label"))
    return (
        labels.unionByName(singles)
        .select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))
    )


def repeated_span_intervals(
    df: DataFrame,
    id_col: str,
    text_col: str,
    gram_len: int = 4,
) -> DataFrame:
    """Exact-substring dedup spans (the ExactSubstr idea from
    "Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2022, distributed): for every document, the merged
    word-index intervals ``[span_start, span_end)`` covered by
    ``gram_len``-grams that appear VERBATIM in at least one other
    document. Downstream, a curation pipeline cuts those spans (or
    drops docs whose covered fraction is high) — this finds
    copy-pasted boilerplate that whole-doc near-dup metrics miss.

    Plan (all codegen + window, no UDFs):
    1. positional grams via posexplode + lead windows (one doc-keyed
       shuffle, same machinery as ``_word_postings``);
    2. cross-doc repeated grams: group by gram with the cheap
       ``min(id) <> max(id)`` distinct-docs test (no count-distinct);
    3. join positions back on the gram (gram-keyed shuffle — the same
       inverted-index shape as the similarity joins);
    4. gaps-and-islands merge per doc: a gram at p covers
       ``[p, p+L)``; a new island starts when p exceeds the running
       max end of earlier spans (two same-partition windows → one
       shuffle), then min/max per island.

    Returns (id, span_start, span_end, n_words), word-indexed from 0.
    """
    from pyspark.sql import Window

    flat = df.select(
        F.col(id_col),
        F.posexplode(F.split(ws_trim(F.col(text_col)), r"\s+")).alias("_p", "_w"),
    )
    w = Window.partitionBy(id_col).orderBy("_p")
    gram = F.concat_ws(
        " ", F.col("_w"), *[F.lead("_w", k).over(w) for k in range(1, gram_len)]
    )
    grams = (
        flat.select(
            F.col(id_col),
            F.col("_p").alias("p"),
            gram.alias("g"),
            F.lead("_w", gram_len - 1).over(w).alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )
    rep = (
        grams.groupBy("g")
        .agg(F.min(id_col).alias("_mn"), F.max(id_col).alias("_mx"))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("g")
    )
    marked = grams.join(rep, "g").select(
        F.col(id_col), F.col("p"), (F.col("p") + gram_len).alias("_e")
    )
    w2 = Window.partitionBy(id_col).orderBy("p")
    prev_max_end = F.max("_e").over(w2.rowsBetween(Window.unboundedPreceding, -1))
    islands = marked.withColumn(
        "_new", (F.coalesce(prev_max_end, F.lit(-1)) < F.col("p")).cast("int")
    ).withColumn("_isl", F.sum("_new").over(w2))
    return (
        islands.groupBy(id_col, "_isl")
        .agg(
            F.min("p").cast("long").alias("span_start"),
            F.max("_e").cast("long").alias("span_end"),
            (F.max("_e") - F.min("p")).cast("long").alias("n_words"),
        )
        .drop("_isl")
    )


def chunk_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 10,
) -> DataFrame:
    """Chunk-level exact deduplication survivorship (the
    paragraph-dedup step of Lee et al. 2022 §4.1, adapted to
    fixed-width token chunks since the synthetic corpus has no
    paragraph breaks).

    Each document splits into consecutive ``chunk_tokens``-token
    chunks (built by one ``transform`` over the token array — no
    self-join); globally, the FIRST occurrence of each distinct chunk
    (min ``(doc_id, pos)``) survives. Output is the per-document
    survivorship profile — total chunks, surviving chunks, kept ratio
    — i.e. how much of each document remains after cross-corpus
    chunk dedup. Documents with no tokens keep ratio 1.0 (nothing to
    deduplicate).

    One wide op: the first-occurrence window partitions BY CHUNK
    CONTENT, so the shuffle key count is the distinct-chunk count and
    hot chunks (boilerplate) each land on one reducer only for a
    cheap rank-1 scan. The per-doc rollup then reuses the doc key.
    Distinct from ``repeated_span_intervals`` (which finds *where*
    verbatim runs overlap); this one makes the keep/drop decision.
    """
    from pyspark.sql import Window

    from .text import tokens_array

    toks = tokens_array(F.col(text_col))
    n = F.size(toks)
    nch = F.ceil(n / F.lit(float(chunk_tokens))).cast("int")
    chunks = F.when(n == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), nch - 1),
            lambda i: F.array_join(
                F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
            ),
        )
    )
    flat = df.select(
        F.col(id_col), F.posexplode(chunks).alias("pos", "chunk")
    )
    w = Window.partitionBy("chunk").orderBy(id_col, "pos")
    marked = flat.withColumn(
        "_keep", (F.row_number().over(w) == 1).cast("int")
    )
    g = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("_keep").alias("n_kept"),
    )
    return df.select(F.col(id_col)).join(g, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.when(
            F.coalesce("n_chunks", F.lit(0)) > 0,
            F.round(
                F.col("n_kept").cast("double") / F.col("n_chunks").cast("double"), 4
            ),
        )
        .otherwise(F.lit(1.0))
        .alias("kept_ratio"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.9,
    strategy: str = "auto",
) -> DataFrame:
    """Word-set CONTAINMENT near-dup pairs within blocks:
    ``|A∩B| / min(|A|,|B|)`` — the asymmetric criterion that catches a
    document embedded inside a larger one (quotes, concatenated
    crawls, boilerplate-wrapped reposts), which symmetric Jaccard
    structurally under-scores (a 10-word doc inside a 1000-word doc
    has Jaccard ≤0.01 but containment 1.0).

    Same adaptive physical dispatch as ``jaccard_similar_pairs``:

    - ``bitset``: ≤64-word vocabulary → masks + salted block
      self-join, containment = bit_count(a&b)/min(bit_count) in pure
      ALU math;
    - ``postings``: general vocabulary → ASYMMETRIC prefix-filtered
      inverted index. The AllPairs prefix argument survives the switch
      from Jaccard to containment because the overlap bound transfers
      to the SMALLER set: C(A,B) ≥ t ⇒ |A∩B| ≥ t·min(|A|,|B|) =
      ⌈t·|S|⌉ for the smaller set S. By the pigeonhole step (see
      ``_jaccard_prefix_pairs``), S's first ``|S| − ⌈t·|S|⌉ + 1``
      tokens in ascending-document-frequency order must contain a
      common token — and that token sits ANYWHERE in the larger set.
      So the probe (smaller) side indexes only its prefix while the
      build (larger) side posts all tokens; each unordered pair is
      probed exactly once via the canonical (sz, id) orientation. A
      PPJoin-style positional filter then drops rows whose rank bound
      ``1 + min(sz_s − r_s, sz_l − r_l) < ⌈t·sz_s⌉`` before the
      pair-distinct, and survivors verify exactly with
      ``array_intersect``. This is what kills the f² blowup the plain
      (block, token) equi-join had on hot tokens: a stop-word in f
      docs of a block sorts LAST by DF and never enters any
      non-trivial document's probe prefix.

    Returns (id_a, id_b, containment), id_a < id_b.
    """
    base = df
    for c in block_cols:
        base = base.filter(F.col(c).isNotNull())
    docs = base.select(
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in block_cols],
        _distinct_tokens(text_col, 1).alias("_words"),
    ).withColumn("sz", F.size("_words"))
    postings = docs.select("_id", *block_cols, "sz", F.explode("_words").alias("w"))
    vocab_list = None
    if strategy == "auto":
        # Probe doubles as vocab collection — see jaccard_similar_pairs.
        vocab_list = _probe_vocab(postings)
        strategy = "bitset" if vocab_list is not None else "postings"
    if strategy == "bitset":
        masks = _bitset_masks(
            postings.select("_id", *block_cols, "w"), block_cols, vocab_list
        )
        pairs = _salted_bucket_pairs(masks, "_id", "_blk", payload=("_mask",)).select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_mask_a").bitwiseAND(F.col("_mask_b")))
            .cast("double")
            .alias("_inter"),
            F.least(
                F.bit_count(F.col("_mask_a")), F.bit_count(F.col("_mask_b"))
            )
            .cast("double")
            .alias("_minsz"),
        )
    elif strategy == "postings":
        from pyspark.sql import Window

        # NB (r12): a postings snapshot + Vernica counting verify
        # (the r11 jaccard treatment) was prototyped here and measured
        # ~5% SLOWER in a same-session alternating A/B on the forced
        # postings path (med 22.96 → 24.15 s, sf0.1 documents corpus,
        # 1.80M identical pairs): this corpus's ≤64-token docs make
        # array_intersect cheap per pair while the counting re-join's
        # Σ_cand |A| intermediate (~70M narrow rows) dominates — the
        # trade that paid on the 52-shingle jaccard_ngram docs
        # reverses when token sets are tiny and candidates huge.
        # Reverted; re-probe on a large-vocabulary corpus before
        # re-trying.
        # Rank every posting by ascending global DF (rarest first, ties
        # by token) — shared by both sides of the asymmetric join.
        dfreq = postings.groupBy("w").agg(F.count(F.lit(1)).alias("_df"))
        ranked = postings.join(dfreq, "w").withColumn(
            "_r",
            F.row_number().over(
                Window.partitionBy("_id").orderBy(
                    F.col("_df").asc(), F.col("w").asc()
                )
            ),
        )
        # Probe side: only the prefix (the candidate SMALLER set of a
        # pair). Build side: all tokens (the candidate LARGER set).
        prefix_len = F.col("sz") - F.ceil(F.lit(float(threshold)) * F.col("sz")) + 1
        probe = ranked.filter(F.col("_r") <= prefix_len).select(
            F.col("_id").alias("_id_s"),
            *[F.col(c) for c in block_cols],
            F.col("sz").alias("sz_s"),
            F.col("_r").alias("_rs"),
            "w",
        )
        build = ranked.select(
            F.col("_id").alias("_id_l"),
            *[F.col(c) for c in block_cols],
            F.col("sz").alias("sz_l"),
            F.col("_r").alias("_rl"),
            "w",
        )
        # Canonical orientation (sz, id): each unordered pair meets
        # exactly once, with the lexicographically-smaller (sz, id) as
        # the probe. For equal sizes either set is min(|A|,|B|), so the
        # prefix lemma holds for whichever the orientation designates.
        smaller = (F.col("sz_s") < F.col("sz_l")) | (
            (F.col("sz_s") == F.col("sz_l")) & (F.col("_id_s") < F.col("_id_l"))
        )
        # Positional filter: the first common token c of a qualifying
        # pair has every common token ≥ c in DF order, so the overlap
        # is ≤ 1 + min(tokens after c on each side); rows that cannot
        # reach ⌈t·sz_s⌉ drop losslessly before the distinct.
        alpha = F.ceil(F.lit(float(threshold)) * F.col("sz_s"))
        ubound = 1 + F.least(
            F.col("sz_s") - F.col("_rs"), F.col("sz_l") - F.col("_rl")
        )
        cand = (
            probe.join(build, [*block_cols, "w"])
            .filter(smaller)
            .filter(ubound >= alpha)
            .select("_id_s", "_id_l")
            .distinct()
        )
        # Exact verification on the surviving candidates only.
        ws = docs.select(
            F.col("_id").alias("_id_s"),
            F.col("_words").alias("_ws"),
            F.col("sz").alias("sz_s"),
        )
        wl = docs.select(
            F.col("_id").alias("_id_l"),
            F.col("_words").alias("_wl"),
            F.col("sz").alias("sz_l"),
        )
        pairs = (
            cand.join(ws, "_id_s")
            .join(wl, "_id_l")
            .select(
                F.least("_id_s", "_id_l").alias("id_a"),
                F.greatest("_id_s", "_id_l").alias("id_b"),
                F.size(F.array_intersect("_ws", "_wl"))
                .cast("double")
                .alias("_inter"),
                F.least("sz_s", "sz_l").cast("double").alias("_minsz"),
            )
        )
    else:
        raise ValueError(f"unknown containment strategy: {strategy!r}")
    return (
        pairs.withColumn("containment", F.col("_inter") / F.col("_minsz"))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def minhash_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """(id, band_idx, band_hash) — the MinHash band index both sides
    of the incremental matcher build (and the shape a real deployment
    PRECOMPUTES and stores for the corpus side). Same 8-hash md5
    arithmetic as ``minhash_lsh_pairs``. Exposed module-level so the
    scale harness can count the candidate join's true driving volume
    (band-bucket collisions), which is the work unit of any LSH
    probe — document rows understate it whenever the corpus carries
    duplicate cliques (every replica shares its clique's signature,
    so candidates grow with clique size by design)."""
    n_bands = n_hashes // band_size
    sig = _word_postings(df, id_col, text_col, 1).groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.col("w"), F.lit(f":{i}")))).alias(
                f"mh{i}"
            )
            for i in range(n_hashes)
        ]
    )
    band_exprs = [
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.col(f"mh{b * band_size + j}")
                    for j in range(band_size)
                ],
            )
        )
        for b in range(n_bands)
    ]
    return sig.select(
        F.col(id_col), F.posexplode(F.array(*band_exprs)).alias("_bi", "_bv")
    )


def incremental_minhash_matches(
    index_df: DataFrame,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Dedup-at-INGEST: match a new document batch against the
    corpus's MinHash band index WITHOUT touching corpus pairs — the
    incremental form every growing 100 TB corpus actually runs (the
    self-join variants re-derive all-pairs per refresh; this touches
    |new| × bands keys).

    Both sides build the same 8-hash / 4-band signature as
    ``minhash_lsh_pairs`` (identical md5 arithmetic — on a real
    deployment the index side is PRECOMPUTED once and stored as the
    (band_idx, band_hash, doc_id) table this plan derives); candidates
    come from one equi-join on (band_idx, band_hash) — new batch
    against index, never index against itself — then collapse to one
    row per matched new doc.

    HOT BUCKETS ARE DROPPED (``max_bucket``): unigram MinHash minima
    concentrate on globally-common words, so a real corpus grows band
    buckets holding large fractions of the index — the round-9
    3-point scale fit measured the uncapped join at exponent ~2.5
    (candidates 4.9M → 423M across sf0.1 → sf1.0, 495 s) because the
    hottest bucket held 63% of the index. A band shared by thousands
    of documents carries no match evidence (its Jaccard implication
    is ~0 bits), so buckets with more than ``max_bucket`` index
    members are excluded — the standard production LSH mitigation.
    The bucket-size filter rides a window ON THE JOIN KEY, so it
    reuses the exchange the join needs anyway: no extra shuffle.

    RECALL CONTRACT (explicit, because the cap changes matching
    semantics, not just cost): under the default ``max_bucket=64``,
    a new document whose ONLY shared bands land in over-cap buckets
    is reported as an INSERT — a missed duplicate. That miss is
    bounded to documents whose entire signature collapses onto
    globally-common minima (the ~0-bit-evidence region); docs sharing
    even one informative band still match. Pass ``max_bucket=None``
    to restore exhaustive matching and accept the measured quadratic
    blow-up on degenerate corpora (423M candidates / 495 s at sf1.0
    here); production deployments should instead raise the cap or
    switch to shingle-grain MinHash, which spreads the minima.

    Returns (id, n_index_matches, first_match_id) for new docs with at
    least one banded match in a surviving bucket; unmatched new docs
    are absent (they are the inserts).
    """
    from pyspark.sql import Window

    idx = minhash_band_table(
        index_df, id_col, text_col, n_hashes, band_size
    ).select(F.col(id_col).alias("_idx_id"), "_bi", "_bv")
    if max_bucket is not None:
        bucket_w = Window.partitionBy("_bi", "_bv")
        idx = (
            idx.withColumn("_bc", F.count(F.lit(1)).over(bucket_w))
            .filter(F.col("_bc") <= max_bucket)
            .drop("_bc")
        )
    new = minhash_band_table(
        new_df, id_col, text_col, n_hashes, band_size
    ).select(F.col(id_col).alias("_new_id"), "_bi", "_bv")
    cand = new.join(idx, ["_bi", "_bv"]).select("_new_id", "_idx_id").distinct()
    return (
        cand.groupBy("_new_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_index_matches"),
            F.min("_idx_id").alias("first_match_id"),
        )
        .select(
            F.col("_new_id").alias(id_col), "n_index_matches", "first_match_id"
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col,
    block_col,
    window: int = 5,
    max_distance: int = 2,
) -> DataFrame:
    """Sorted-neighborhood (SNM) near-dup pairs — the third blocking
    strategy beside token blocking (``jaccard_similar_pairs``) and LSH
    banding: sort records by a fuzzy key within coarse blocks and
    compare each record only to its ``window−1`` successors in sort
    order. Catches prefix-sharing near-dups ("acme corp" / "acme
    corp.") that token-set methods score low and banding can miss,
    at linear candidate cost |n|·(w−1).

    Physically: one rank window per block (``block_col`` keeps the
    sort partitioned — classic blocked SNM; an unblocked global sort
    would serialize on one task at scale), an offset explode
    (1..w−1), an equi-join on (block, rank+offset) — no range join,
    no self-cross — and exact Levenshtein verification ≤
    ``max_distance`` with the lossless length-difference pre-filter
    ahead of the DP.

    Returns (id_a, id_b, distance), id_a/id_b in sort order.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("_id"),
        key_col.alias("_key"),
        block_col.alias("_blk"),
    ).filter(F.col("_key").isNotNull() & F.col("_blk").isNotNull())
    if window <= 1:
        # 0 successors to compare — empty by contract. (Falling
        # through would hit the sequence(1, 0)-runs-DESCENDING
        # pitfall: offsets [1, 0], and offset 0 self-pairs every
        # record at distance 0.)
        return base.select(
            F.col("_id").alias("id_a"),
            F.col("_id").alias("id_b"),
            F.lit(0).cast("int").alias("distance"),
        ).limit(0)
    w = Window.partitionBy("_blk").orderBy("_key", "_id")
    ranked = base.withColumn("_r", F.row_number().over(w))
    fan = ranked.select(
        "_blk",
        F.col("_id").alias("id_a"),
        F.col("_key").alias("_key_a"),
        "_r",
        F.explode(F.sequence(F.lit(1), F.lit(window - 1))).alias("_off"),
    ).withColumn("_rb", F.col("_r") + F.col("_off"))
    right = ranked.select(
        "_blk",
        F.col("_id").alias("id_b"),
        F.col("_key").alias("_key_b"),
        F.col("_r").alias("_rb"),
    )
    cand = fan.join(right, ["_blk", "_rb"])
    # lossless pre-filter: |len(a) − len(b)| ≤ d bounds edit distance
    lenok = (
        F.abs(F.length("_key_a") - F.length("_key_b")) <= max_distance
    )
    dist = F.levenshtein("_key_a", "_key_b")
    return (
        cand.filter(lenok)
        .withColumn("distance", dist)
        .filter(F.col("distance") <= max_distance)
        .select("id_a", "id_b", F.col("distance").cast("int").alias("distance"))
    )


def paragraph_dedup_fractions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_words: int = 8,
    max_dup_fraction: float = 0.5,
) -> DataFrame:
    """CCNet-style PARAGRAPH-level dedup audit (Wenzek et al. 2020:
    dedup at paragraph grain before any doc-level near-dup pass —
    boilerplate paragraphs shared across otherwise-distinct pages are
    what inflate a crawl corpus first). Real crawls split on
    newlines; this corpus is a single-line word stream, so the
    pluggable paragraph tokenizer here is fixed ``block_words``-word
    blocks — the plan is identical either way: hash each paragraph,
    find hashes appearing in ≥2 DISTINCT documents (within-doc
    repeats are repetition, not duplication — the repetition filter
    is curation's job), and score every document by its duplicated
    share.

    Plan shape at 100 TB: the paragraph grain is ~n_words/block_words
    rows built by ONE codegen transform over the pre-split word
    array (no word-grain explode); cross-doc duplication is the
    cheap ``min(id) <> max(id)`` distinct-docs test riding a WINDOW
    on the paragraph hash (no count-distinct, and no groupBy+join
    back — the join-back idiom re-scanned the fact; the window form
    is one scan, one hash-keyed shuffle); a doc-keyed aggregate
    lands the (id, n_paragraphs, n_dup_paragraphs, dup_fraction,
    keep) audit row — exactly two exchanges end to end
    (plan-pinned). Returns one row per document; ``keep`` is the
    CCNet decision at ``max_dup_fraction``.
    """
    from pyspark.sql import Window
    blocks = (
        df.select(
            F.col(id_col),
            F.split(ws_trim(F.col(text_col)), r"\s+").alias("_ws"),
        )
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size("_ws") / F.lit(block_words)).cast(
                            "int"
                        )
                        - 1,
                    ),
                    lambda b: F.md5(
                        F.concat_ws(
                            " ",
                            F.slice(
                                F.col("_ws"),
                                b * block_words + 1,
                                block_words,
                            ),
                        )
                    ),
                )
            ).alias("_h"),
        )
    )
    w_h = Window.partitionBy("_h")
    scored = blocks.select(
        id_col,
        (F.min(id_col).over(w_h) != F.max(id_col).over(w_h)).alias("_dup"),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paragraphs"),
            F.sum(F.col("_dup").cast("long")).alias("n_dup_paragraphs"),
        )
        .select(
            id_col,
            "n_paragraphs",
            "n_dup_paragraphs",
            F.round(
                F.col("n_dup_paragraphs") / F.col("n_paragraphs"), 6
            ).alias("dup_fraction"),
            (
                F.col("n_dup_paragraphs")
                <= F.lit(max_dup_fraction) * F.col("n_paragraphs")
            ).alias("keep"),
        )
    )
