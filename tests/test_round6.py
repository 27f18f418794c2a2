"""Unit tests for the round-6 operator family: salted joins, robust
stats, PII redaction, bigram arrays, stream-static enrichment."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from module8_movies_etl_spark.operators import joins, robust, text


# ----------------------------------------------------------------- salted join


def _skewed_frames(spark):
    # 90% of fact rows on one hot key; dim includes an unmatched key.
    fact = spark.createDataFrame(
        [Row(pk=i, k="hot" if i % 10 else f"k{i}", v=float(i)) for i in range(200)]
    )
    dim = spark.createDataFrame(
        [Row(k="hot", attr="H")]
        + [Row(k=f"k{i * 10}", attr=f"A{i}") for i in range(20)]
        + [Row(k="absent", attr="X")]
    )
    return fact, dim


def test_salted_join_matches_plain_inner(spark):
    fact, dim = _skewed_frames(spark)
    plain = fact.join(dim, "k", "inner")
    salted = joins.salted_join(fact, dim, on="k", spread_col="pk", salt=4)
    assert sorted(map(tuple, plain.select("pk", "k", "v", "attr").collect())) == sorted(
        map(tuple, salted.select("pk", "k", "v", "attr").collect())
    )


def test_salted_join_matches_plain_left(spark):
    fact, dim = _skewed_frames(spark)
    plain = fact.join(dim, "k", "left")
    salted = joins.salted_join(fact, dim, on="k", spread_col="pk", salt=4, how="left")
    assert sorted(
        map(tuple, plain.select("pk", "k", "v", "attr").collect())
    ) == sorted(map(tuple, salted.select("pk", "k", "v", "attr").collect()))


def test_salted_join_string_spread_col(spark):
    # Hash-based salting must spread ANY spread-col type (the ADVICE
    # pmod-on-string pitfall): string ids still join correctly.
    fact = spark.createDataFrame(
        [Row(sid=f"s{i}", k="hot", v=i) for i in range(50)]
    )
    dim = spark.createDataFrame([Row(k="hot", attr="H")])
    out = joins.salted_join(fact, dim, on="k", spread_col="sid", salt=8)
    assert out.count() == 50


# ---------------------------------------------------------------- robust stats


def test_winsorize_clips_to_percentile_band(spark):
    # 1..100 with one huge outlier; p01/p99 of 1..100,10000
    vals = list(range(1, 101)) + [10_000]
    df = spark.createDataFrame([Row(x=float(v)) for v in vals])
    out = robust.winsorize(df, "x", lo=0.10, hi=0.90, out_col="w")
    rows = out.select("x", "w").collect()
    lo = sorted(v for v in vals)[0]  # noqa: F841 - bounds checked below
    ws = [r.w for r in rows]
    # all clipped values inside the band, order stats preserved
    assert min(ws) > 1.0 and max(ws) < 10_000
    by_x = {r.x: r.w for r in rows}
    assert by_x[50.0] == 50.0  # middle untouched
    assert by_x[10_000.0] == max(ws)  # outlier clipped to hi


def test_quantile_buckets_floor_sizes(spark):
    # 23 rows into 10 buckets -> sizes 3,3,3,2,2,2,2,2,2,2 (SQL NTILE)
    df = spark.createDataFrame([Row(id=i, v=float(i)) for i in range(23)])
    out = robust.quantile_buckets(df, "v", "id", n=10, out_col="b")
    sizes = [
        r["cnt"]
        for r in out.groupBy("b").agg(F.count(F.lit(1)).alias("cnt")).orderBy("b").collect()
    ]
    assert sizes == [3, 3, 3, 2, 2, 2, 2, 2, 2, 2]


# ---------------------------------------------------------------- PII redaction


def test_redact_pii_golden(spark):
    cases = [
        ("mail me at jo.na+x@sub.example.org now", "mail me at <EMAIL> now"),
        ("call +1-555-123-4567 today", "call <PHONE> today"),
        ("host 192.168.0.254 down", "host <IP> down"),
        # negatives: short digit runs and hyphenated words survive
        ("Spider-Man 2 scored 9-1", "Spider-Man 2 scored 9-1"),
        ("v1.2.3.4000 is a version", "v1.2.3.4000 is a version"),  # no \b quad
        ("", ""),
    ]
    df = spark.createDataFrame([Row(i=i, t=t) for i, (t, _) in enumerate(cases)])
    got = {
        r.i: r.r
        for r in df.select("i", text.redact_pii(F.col("t")).alias("r")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_pii_tag_count(spark):
    df = spark.createDataFrame([Row(t="a@b.co and c@d.io and 1.2.3.4")])
    red = df.select(text.redact_pii(F.col("t")).alias("r"))
    row = red.select(
        text.pii_tag_count(F.col("r"), "email").alias("e"),
        text.pii_tag_count(F.col("r"), "ip").alias("p"),
    ).collect()[0]
    assert (row.e, row.p) == (2, 1)


# ------------------------------------------------------------------- bigrams


def test_bigrams_array_edges(spark):
    df = spark.createDataFrame(
        [
            Row(i=0, t="a b c"),
            Row(i=1, t="solo"),
            Row(i=2, t=""),
            Row(i=3, t="  \n "),
            Row(i=4, t=" x\ty "),
        ]
    )
    got = {
        r.i: r.b
        for r in df.select("i", text.bigrams_array(F.col("t")).alias("b")).collect()
    }
    assert got[0] == ["a b", "b c"]
    assert got[1] == []
    assert got[2] == []
    assert got[3] == []
    assert got[4] == ["x y"]


def test_tokens_array_empty_is_empty(spark):
    df = spark.createDataFrame([Row(t=" \n ")])
    assert df.select(text.tokens_array(F.col("t")).alias("a")).collect()[0].a == []


# ------------------------------------------------------- stream-static enrich


def test_stream_enrich_matches_batch_join(spark, sf_dir):
    from module8_movies_etl_spark.sources.readers import read_table
    from module8_movies_etl_spark.streaming.enrich import run_enrich_over_events

    got = run_enrich_over_events(spark, sf_dir)
    batch = (
        read_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .join(
            read_table(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("user_id"),
                F.col("c_mktsegment").alias("mktsegment"),
            ),
            "user_id",
        )
    )
    assert got.count() == batch.count()
    assert (
        sorted(map(tuple, got.select("event_id", "mktsegment").collect()))
        == sorted(map(tuple, batch.select("event_id", "mktsegment").collect()))
    )


# ------------------------------------------------------------------ SCD2


def test_scd2_history_islands(spark):
    from module8_movies_etl_spark.operators.cdc import scd2_history

    rows = [
        # user 1: A A B A  -> three islands
        Row(u=1, s="A", t=10, i=1),
        Row(u=1, s="A", t=20, i=2),
        Row(u=1, s="B", t=30, i=3),
        Row(u=1, s="A", t=40, i=4),
        # user 2: single state, one open interval
        Row(u=2, s="X", t=5, i=5),
    ]
    df = spark.createDataFrame(rows)
    out = scd2_history(df, "u", "s", "t", "i").orderBy("u", "seg").collect()
    got = [(r.u, r.seg, r.s, r.valid_from, r.valid_to, r.n_events) for r in out]
    assert got == [
        (1, 1, "A", 10, 30, 2),
        (1, 2, "B", 30, 40, 1),
        (1, 3, "A", 40, None, 1),
        (2, 1, "X", 5, None, 1),
    ]


# ---------------------------------------------------------------- chunk dedup


def test_chunk_dedup_stats_first_occurrence_wins(spark):
    from module8_movies_etl_spark.operators.dedup import chunk_dedup_stats

    # 4-token chunks; doc 0 and doc 1 share an identical first chunk.
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="a b c d e f"),      # chunks: "a b c d", "e f"
            Row(doc_id=1, text="a b c d x y"),      # first chunk duplicates doc 0's
            Row(doc_id=2, text=""),                  # no tokens
        ]
    )
    out = {
        r.doc_id: (r.n_chunks, r.n_kept, r.kept_ratio)
        for r in chunk_dedup_stats(df, "doc_id", "text", chunk_tokens=4).collect()
    }
    assert out[0] == (2, 2, 1.0)
    assert out[1] == (2, 1, 0.5)
    assert out[2] == (0, 0, 1.0)


# -------------------------------------------------------------- hash split


def test_hash_split_deterministic_and_total(spark):
    from module8_movies_etl_spark.operators.sampling import hash_split

    df = spark.createDataFrame([Row(k=i) for i in range(1000)])
    s1 = {r.k: r.split for r in hash_split(df, "k", {"train": 0.8, "val": 0.9}).collect()}
    s2 = {r.k: r.split for r in hash_split(df, "k", {"train": 0.8, "val": 0.9}).collect()}
    assert s1 == s2  # deterministic
    counts = {}
    for v in s1.values():
        counts[v] = counts.get(v, 0) + 1
    assert set(counts) == {"train", "val", "test"}
    assert 700 < counts["train"] < 900  # ~80%
    # growth stability: a bigger corpus never relabels old keys
    big = spark.createDataFrame([Row(k=i) for i in range(2000)])
    s3 = {r.k: r.split for r in hash_split(big, "k", {"train": 0.8, "val": 0.9}).collect()}
    assert all(s3[k] == v for k, v in s1.items())


def test_recursive_tree_depth_matches_model(spark, sf_dir):
    """Spark's native WITH RECURSIVE must agree with a driver-side
    model of the binary-heap depth for every customer key."""
    from module8_movies_etl_spark.plans.benchmark_queries import (
        recursive_tree_rollup,
    )
    from module8_movies_etl_spark.sources.readers import read_table

    keys = [r.c_custkey for r in read_table(spark, sf_dir, "customer").collect()]

    def depth(k):
        d = 0
        while k > 0:
            k = (k - 1) // 2
            d += 1
        return d

    want = {}
    for k in keys:
        want[depth(k)] = want.get(depth(k), 0) + 1
    got = {r.tree_depth: r.n_nodes for r in recursive_tree_rollup(spark, sf_dir).collect()}
    assert got == want


# ------------------------------------------------------------------- UDTF


def test_udtf_matches_native_chunks(spark):
    """The UDTF extension point must agree row-for-row with the native
    transform/posexplode chunk expression it duplicates, and leave the
    session catalog and function registry as it found them."""
    from module8_movies_etl_spark.operators import text as textops
    from module8_movies_etl_spark.operators.udtf_ext import chunk_rows_udtf

    df = spark.createDataFrame(
        [
            Row(doc_id=0, text=" ".join(f"w{i}" for i in range(25))),
            Row(doc_id=1, text="one two"),
            Row(doc_id=2, text=""),
        ]
    )
    toks = textops.tokens_array(F.col("text"))
    n = F.size(toks)
    nch = F.ceil(n / F.lit(10.0)).cast("int")
    chunks = F.when(n == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), nch - 1),
            lambda i: F.array_join(F.slice(toks, i * 10 + 1, 10), " "),
        )
    )
    native = df.select("doc_id", F.posexplode(chunks).alias("pos", "chunk"))
    tables = spark.catalog.listTables()
    functions = [f for f in spark.catalog.listFunctions() if f.isTemporary]
    via_udtf = chunk_rows_udtf(df, "doc_id", "text")
    assert spark.catalog.listTables() == tables
    assert [f for f in spark.catalog.listFunctions() if f.isTemporary] == functions
    assert sorted(map(tuple, native.collect())) == sorted(
        map(tuple, via_udtf.collect())
    )


# ---------------------------------------------------------------- containment


def test_containment_strategies_agree_and_match_model(spark):
    from module8_movies_etl_spark.operators.dedup import containment_pairs

    docs = [
        (0, "g", "a b c d e f g h"),
        (1, "g", "a b c d"),            # fully contained in 0
        (2, "g", "a b x y z"),          # partial overlap
        (3, "g", "p q r"),              # disjoint
        (4, "h", "a b c d"),            # other block: never paired with 0
    ]
    df = spark.createDataFrame(docs, "doc_id int, lang string, text string")

    def model(th):
        out = {}
        sets = {i: (lg, set(t.split())) for i, lg, t in docs}
        for i in sets:
            for j in sets:
                if i < j and sets[i][0] == sets[j][0]:
                    inter = len(sets[i][1] & sets[j][1])
                    c = inter / min(len(sets[i][1]), len(sets[j][1]))
                    if c >= th:
                        out[(i, j)] = round(c, 4)
        return out

    for strategy in ("bitset", "postings"):
        got = {
            (r.id_a, r.id_b): round(r.containment, 4)
            for r in containment_pairs(
                df, "doc_id", "text", ["lang"], threshold=0.5, strategy=strategy
            ).collect()
        }
        assert got == model(0.5), (strategy, got)
    # the embedded-doc case specifically: containment 1.0, pair (0,1)
    assert model(0.99)[(0, 1)] == 1.0
