"""Round-11 continuation: planted-data goldens for the new
probabilistic-record-linkage and instrumental-variables queries.
Each test writes a constructed micro-corpus as parquet and runs the
FULL catalog query on it — the independence layer beside the DuckDB
oracle that driver_sim replays at sf0.01."""

from __future__ import annotations

import datetime
import tempfile

import pytest
from pyspark.sql import types as T

from module8_movies_etl_spark.plans.benchmark_queries import (
    fellegi_sunter_linkage,
    iv_wald_estimate,
)


def test_fellegi_sunter_planted_duplicates(spark):
    """Three planted customer profiles: a true duplicate pair (same
    nation, same segment, balances $1 apart, both active -> all three
    fields agree, score 2248+4170+678=7096 'match'), a same-block
    near-miss with a different segment and far balance, and an
    out-of-block customer that must never be paired."""
    customers = spark.createDataFrame(
        [
            # true duplicate pair: block (7, bal//$10 bucket equal)
            (1, "Ann Smith", 7, 105.00, "BUILDING"),
            (2, "Ann Smyth", 7, 104.00, "BUILDING"),
            # same block as the pair (bal 101.00 -> same $10 bucket),
            # different segment, >$2 away from both, inactive
            (3, "Bob Jones", 7, 101.00, "MACHINERY"),
            # different nation: out of every block
            (4, "Ann Smith", 8, 105.00, "BUILDING"),
        ],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    # customers 1, 2 active; 3 inactive; 4 active
    orders = spark.createDataFrame(
        [(10, 1, "O", 5.0, datetime.datetime(2024, 1, 1), "1-URGENT"),
         (11, 2, "O", 6.0, datetime.datetime(2024, 1, 2), "1-URGENT"),
         (12, 4, "O", 7.0, datetime.datetime(2024, 1, 3), "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    )
    with tempfile.TemporaryDirectory() as d:
        customers.write.parquet(f"{d}/customer.parquet")
        orders.write.parquet(f"{d}/orders.parquet")
        rows = {
            (r.a_key, r.b_key): (r.score, r.tier)
            for r in fellegi_sunter_linkage(spark, d).collect()
        }
    # the planted duplicate: all three agreements
    assert rows[(1, 2)] == (2248 + 4170 + 678, "match")
    # (1,3)/(2,3): same block, segment disagrees, balance >$2 apart,
    # activity disagrees -> score -4000-3248-1322 < 0 -> filtered
    assert (1, 3) not in rows and (2, 3) not in rows
    # nation 8 never enters nation-7 blocks
    assert not any(4 in k for k in rows)
    assert set(rows) == {(1, 2)}


def test_iv_wald_hand_golden(spark):
    """Four users, hand-computed Wald. Parity instrument Z, synthetic
    compliance T = (purchases + 3Z >= 15), Y = total value cents.

    u0 (z0): 20 purchases @ $1    -> T=1, Y=2000
    u2 (z0): 12 purchases @ $2    -> T=0, Y=2400
    u1 (z1): 12 purchases @ $4    -> T=1 (12+3=15), Y=4800
    u3 (z1): 10 purchases @ $3    -> T=0, Y=3000

    n1=n0=2; sy1=7800, sy0=4400, st1=1, st0=1
    itt_y_num = 7800*2 - 4400*2 = 6800
    itt_t_num = 1*2 - 1*2 = 0   -> wald NULL (guarded division)
    Then flip u3 to 13 purchases @ $3 (T=1, Y=3900):
    sy1=8700, st1=2 -> itt_y_num=8600, itt_t_num=2, wald=4300.0
    """
    def events_for(counts_values):
        rows = []
        eid = 0
        for uid, (n_purch, dollars) in counts_values.items():
            for _ in range(n_purch):
                rows.append(
                    (eid, datetime.datetime(2024, 1, 1), uid,
                     "purchase", float(dollars), "{}")
                )
                eid += 1
        return spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )

    with tempfile.TemporaryDirectory() as d:
        events_for({0: (20, 1), 2: (12, 2), 1: (12, 4), 3: (10, 3)}) \
            .write.parquet(f"{d}/events.parquet")
        r = iv_wald_estimate(spark, d).collect()[0]
    assert (r.n1, r.n0) == (2, 2)
    assert r.itt_y_num == 6800 and r.itt_t_num == 0
    assert r.wald_cents is None

    with tempfile.TemporaryDirectory() as d:
        events_for({0: (20, 1), 2: (12, 2), 1: (12, 4), 3: (13, 3)}) \
            .write.parquet(f"{d}/events.parquet")
        r = iv_wald_estimate(spark, d).collect()[0]
    assert r.itt_y_num == 8600 and r.itt_t_num == 2
    assert r.wald_cents == 4300.0


# 13 doubled edges are 26 rows of two longs: a 416-byte estimate, so a
# 415-byte threshold is the largest that keeps them off the driver
@pytest.mark.parametrize(
    "driver_reads, on_driver",
    [(None, True), ("-1", False), ("415", False), ("416", True)],
    ids=["driver", "distributed", "415b-distributed", "416b-driver"],
    indirect=["driver_reads"],
)
def test_kcore_peels_cascade_to_hand_computed_core(spark, driver_reads, on_driver):
    """K4 {1,2,3,4} + node 5 tied into {2,3,4}, then a tail 6-7-8
    engineered to peel over THREE cascading rounds (8 deg-1, then 7,
    then 6): the 3-core is exactly {1,2,3,4,5} with degrees
    3,4,4,4,3. One round only must return the documented monotone
    SUPERSET (6 survives round one at degree 3, reported at its
    post-filter degree 2). The driver and the distributed path return
    the same schema."""
    from module8_movies_etl_spark.operators.graphs import kcore

    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),   # K4
        (2, 5), (3, 5), (4, 5),                            # 5 in core
        (5, 6), (3, 6), (6, 7), (7, 8),                    # peeling tail
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    core = kcore(pairs, k=3, n_rounds=8)
    assert core.schema == T.StructType(
        [T.StructField("node", T.LongType()),
         T.StructField("degree", T.LongType(), nullable=False)]
    )
    got = {r.node: r.degree for r in core.collect()}
    assert got == {1: 3, 2: 4, 3: 4, 4: 4, 5: 3}
    sup = {r.node: r.degree for r in kcore(pairs, k=3, n_rounds=1).collect()}
    assert driver_reads == [on_driver] * 2
    assert set(sup) == {1, 2, 3, 4, 5, 6}
    assert sup[6] == 2  # post-filter degree: 7 already peeled away


@pytest.mark.parametrize("driver_reads", ["-1"], ids=["distributed"], indirect=True)
def test_kcore_keeps_only_its_live_snapshot(spark, driver_reads):
    """The distributed peel discards each snapshot a later round
    supersedes: after two calls, only the two snapshots that back the
    results are left in the process's scratch root."""
    import os
    from urllib.parse import unquote, urlparse

    from module8_movies_etl_spark.operators.graphs import kcore
    from module8_movies_etl_spark.sources import scratch

    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (2, 5), (3, 5), (4, 5), (5, 6), (3, 6), (6, 7), (7, 8),
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    root = scratch._process_root()
    before = set(os.listdir(root))
    cores = [kcore(pairs, k=3, n_rounds=8), kcore(pairs, k=3, n_rounds=1)]
    assert driver_reads == [False, False]
    live = {
        os.path.relpath(os.path.dirname(unquote(urlparse(u).path)), root)
        for c in cores
        for u in c.inputFiles()
    }
    assert set(os.listdir(root)) - before == live
    assert len(live) == 2 and all(d.startswith("kcore_round_") for d in live)
    assert {r.node for r in cores[0].collect()} == {1, 2, 3, 4, 5}
    assert {r.node for r in cores[1].collect()} == {1, 2, 3, 4, 5, 6}


def test_textrank_matches_pure_python_pagerank_replay(spark):
    """Constructed six-doc corpus -> pure-Python co-occurrence graph
    (adjacent canonical pairs, count >= 5, self-loops dropped) ->
    5-round float PageRank replay; the engine's top-15 words and
    6-decimal ranks must agree."""
    import tempfile
    from collections import Counter

    from module8_movies_etl_spark.plans.benchmark_queries import (
        textrank_keywords,
    )

    texts = [
        "spark query plan query spark plan cost",
        "query plan cost plan query cost spark",
        "cost model join cost model join query",
        "join order join order cost join order",
        "plan cost plan cost plan cost plan",
        "spark join spark join spark join spark",
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    # pure-Python replay
    cnt = Counter()
    for t in texts:
        ws = t.split()
        for a, b in zip(ws, ws[1:]):
            if a != b:
                cnt[(min(a, b), max(a, b))] += 1
    pairs = [p for p, c in cnt.items() if c >= 5]
    adj: dict[str, list[str]] = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    n = len(adj)
    p = {v: 1.0 / n for v in adj}
    for _ in range(5):
        p = {
            v: 0.15 / n
            + 0.85 * sum(p[u] / len(adj[u]) for u in adj[v])
            for v in adj
        }
    exp = sorted(
        ((w, round(r, 6)) for w, r in p.items()),
        key=lambda x: (-x[1], x[0]),
    )[:15]
    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        got = [(r.word, r.rank) for r in textrank_keywords(spark, d).collect()]
    assert got == exp, (got, exp)


def test_mmr_hand_traced_greedy(spark):
    """Five constructed vectors with analytically-known cosines;
    the three picks and their integer mmr_e7 scores are hand-traced:
    pick1 = the duplicate of the probe (pure relevance), pick2 = the
    45-degree vector (beats the 0.6-cosine one), pick3 = the
    0.6-cosine vector WINS over rank order because the diversity
    penalty against pick2 is small vs pick2's near-duplicate."""
    from module8_movies_etl_spark.operators.similarity import mmr_topk

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),   # probe
        (1, [2.0, 0.0, 0.0, 0.0], 0),   # cos(q)=1.0
        (2, [1.0, 1.0, 0.0, 0.0], 0),   # cos(q)=0.707107
        (3, [3.0, 4.0, 0.0, 0.0], 0),   # cos(q)=0.6
        (4, [0.0, 1.0, 0.0, 0.0], 0),   # cos(q)=0
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        emb.write.parquet(f"{d}/embeddings.parquet")
        from module8_movies_etl_spark.sources import read_table

        got = [
            (r.pos, r.vec_id, r.mmr_e7)
            for r in mmr_topk(
                read_table(spark, d, "embeddings"),
                probe_id=0, pool=30, k=3,
            ).orderBy("pos").collect()
        ]
    # pick1: 7 * 1_000_000
    # pick2 (id 2): 7*707107 - 3*707107           = 2_828_428
    # pick3 (id 3): 7*600000 - 3*round(1e6*7/(5*sqrt(2)))
    #             = 4_200_000 - 3*989_949         = 1_230_153
    assert got == [
        (1, 1, 7_000_000),
        (2, 2, 2_828_428),
        (3, 3, 1_230_153),
    ], got


def test_geo_cell_pairs_matches_bruteforce_replay(spark, sf_dir):
    """Pure-Python O(n^2) replay over the sf0.001 customer keys: same
    affine position hashes, exact integer radius test, pair
    attributed to the smaller-key point's cell — the engine's
    stencil join must produce identical per-cell counts (in
    particular, cross-cell-boundary pairs must be found exactly
    once)."""
    from collections import Counter

    import duckdb

    from module8_movies_etl_spark.plans.benchmark_queries import (
        geo_cell_pairs,
    )

    keys = [
        r[0]
        for r in duckdb.sql(
            f"SELECT c_custkey FROM '{sf_dir}/customer.parquet'"
        ).fetchall()
    ]
    import math

    s = math.isqrt(max(len(keys) - 1, 0) // 1500) + 1

    def _pos(k):
        m = k % 1000003
        return (
            (m * m * 90017 + m * 48271 + 11) % (1000001 * s),
            (m * m * 77023 + m * 69621 + 7) % (2000001 * s),
        )

    pos = {k: _pos(k) for k in keys}
    exp: Counter = Counter()
    ks = sorted(keys)
    for i, a in enumerate(ks):
        la, na = pos[a]
        for b in ks[i + 1:]:
            lb, nb = pos[b]
            if (la - lb) ** 2 + (na - nb) ** 2 <= 2_500_000_000:
                exp[(la // 100000, na // 100000)] += 1
    got = {
        (r.cell_x, r.cell_y): r.n_pairs
        for r in geo_cell_pairs(spark, sf_dir).collect()
    }
    assert got == dict(exp), (len(got), len(exp))
    assert sum(got.values()) > 0  # the fixture actually exercises it


def _markov_replay(rows, k=24):
    """Pure-Python integer replay of markov_attribution_removal:
    rows = (event_id, user_id, event_type, ts) tuples."""
    from collections import Counter, defaultdict

    SCALE = 10**12
    conv = {}
    for eid, uid, et, ts in rows:
        if et == "purchase" and (uid not in conv or ts < conv[uid]):
            conv[uid] = ts
    paths = defaultdict(list)
    for eid, uid, et, ts in rows:
        if et != "purchase" and (uid not in conv or ts < conv[uid]):
            paths[uid].append((ts, eid, et))
    cnt = Counter()
    for uid, evs in paths.items():
        evs.sort()
        cnt[("start", evs[0][2])] += 1
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            cnt[(a, b)] += 1
        cnt[(evs[-1][2], "conv" if uid in conv else "null")] += 1
    for uid in conv:
        if uid not in paths:
            cnt[("start", "conv")] += 1
    tot = Counter()
    for (s, d), n in cnt.items():
        tot[s] += n
    edges = {(s, d): (SCALE * n) // tot[s] for (s, d), n in cnt.items()}

    def absorb(variant):
        ve = Counter()
        for (s, d), p in edges.items():
            if variant != "base" and s == variant:
                continue
            dd = "null" if (variant != "base" and d == variant) else d
            ve[(s, dd)] += p
        v = {"conv": SCALE, "null": 0}
        states = {s for s, _ in ve}
        for s in states:
            v.setdefault(s, 0)
        for _ in range(k):
            nv = {"conv": SCALE, "null": 0}
            for s in states:
                nv[s] = sum(
                    p * v.get(d, 0) for (ss, d), p in ve.items() if ss == s
                ) // SCALE
            v = nv
        return v.get("start", 0)

    base = absorb("base")
    out = {}
    for c in ("click", "error", "signup", "view"):
        r = absorb(c)
        ppm = 0 if base == 0 else (10**6 * max(base - r, 0)) // base
        out[c] = (base, r, ppm)
    return out


def test_markov_removal_hand_golden(spark):
    """Two users: u1 view->purchase, u2 view->click (no purchase).
    Hand trace: P_base = 0.5 (start->view 1.0, view splits 50/50 to
    conv/click, click->null). Removing 'view' kills every converting
    path (removal 1.0); removing 'click' changes nothing (its mass
    was already dying at null); signup/error never appear."""
    import tempfile

    from module8_movies_etl_spark.plans.benchmark_queries import (
        markov_attribution_removal,
    )

    t = datetime.datetime
    rows = [
        (0, t(2024, 1, 1, 0, 0), 1, "view", 1.0, "{}"),
        (1, t(2024, 1, 1, 0, 5), 1, "purchase", 2.0, "{}"),
        (2, t(2024, 1, 1, 0, 0), 2, "view", 1.0, "{}"),
        (3, t(2024, 1, 1, 0, 5), 2, "click", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(f"{d}/events.parquet")
        got = {
            r.channel: (r.p_base_e12, r.p_removed_e12, r.removal_ppm)
            for r in markov_attribution_removal(spark, d).collect()
        }
    half = 500_000_000_000
    assert got["view"] == (half, 0, 1_000_000)
    assert got["click"] == (half, half, 0)
    assert got["error"] == (half, half, 0)
    assert got["signup"] == (half, half, 0)


def test_markov_removal_matches_pure_python_replay(spark, sf_dir):
    """Full-pipeline replay at sf0.001: transitions, e12 floor
    quantization, 24 absorption rounds, removal ppm — all in pure
    Python ints from the same parquet."""
    import duckdb

    from module8_movies_etl_spark.plans.benchmark_queries import (
        markov_attribution_removal,
    )

    rows = duckdb.sql(
        f"SELECT event_id, user_id, event_type, ts "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    exp = _markov_replay(rows)
    got = {
        r.channel: (r.p_base_e12, r.p_removed_e12, r.removal_ppm)
        for r in markov_attribution_removal(spark, sf_dir).collect()
    }
    assert got == exp, (got, exp)
    # the fixture must actually convert somewhere
    assert any(v[0] > 0 for v in got.values())


def test_trustrank_matches_pure_python_replay(spark):
    """Constructed graph: a trusted triangle {0,41,82} (all % 41 == 0
    ... only 0 and 82 are seeds; 41 is a seed too — pick ids so seeds
    are known), plus a chain into untrusted territory. Pure-Python
    5-round personalized power iteration must match node-for-node."""
    from module8_movies_etl_spark.operators.graphs import (
        personalized_pagerank,
    )

    edges = [(0, 1), (1, 2), (2, 3), (0, 41), (41, 2), (5, 6)]
    seeds = [0, 41, 99]  # 99 not in graph -> ignored
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    sdf = spark.createDataFrame([(x,) for x in seeds], "vec_id long")

    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    eff = [x for x in seeds if x in adj]
    t = {v: (1.0 / len(eff) if v in eff else 0.0) for v in adj}
    p = dict(t)
    for _ in range(5):
        p = {
            v: 0.15 * t[v]
            + 0.85 * sum(p[u] / len(adj[u]) for u in adj[v])
            for v in adj
        }
    exp = {v: round(x, 6) for v, x in p.items()}
    got = {
        r.node: r.trust
        for r in personalized_pagerank(pairs, sdf, 0.85, 5).collect()
    }
    assert got == exp, (got, exp)
    # the isolated untrusted component {5,6} must hold zero mass
    assert got[5] == 0.0 and got[6] == 0.0
    # seeds hold the most mass
    assert max(got, key=lambda v: (got[v], -v)) in (0, 41)


def test_entity_resolution_golden_planted(spark):
    """Same planted corpus as the FS test: the (1,2) match pair must
    roll into ONE golden record — cluster 1, two members, best
    balance $105, both active, canonical segment from member 1 —
    and nobody else reaches the match tier."""
    from module8_movies_etl_spark.plans.benchmark_queries import (
        entity_resolution_golden,
    )

    customers = spark.createDataFrame(
        [
            (1, "Ann Smith", 7, 105.00, "BUILDING"),
            (2, "Ann Smyth", 7, 104.00, "BUILDING"),
            (3, "Bob Jones", 7, 101.00, "MACHINERY"),
            (4, "Ann Smith", 8, 105.00, "BUILDING"),
        ],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [(10, 1, "O", 5.0, datetime.datetime(2024, 1, 1), "1-URGENT"),
         (11, 2, "O", 6.0, datetime.datetime(2024, 1, 2), "1-URGENT"),
         (12, 4, "O", 7.0, datetime.datetime(2024, 1, 3), "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string",
    )
    with tempfile.TemporaryDirectory() as d:
        customers.write.parquet(f"{d}/customer.parquet")
        orders.write.parquet(f"{d}/orders.parquet")
        rows = [
            (r.cluster_id, r.n_members, r.max_bal_cents, r.n_active,
             r.canonical_segment)
            for r in entity_resolution_golden(spark, d).collect()
        ]
    assert rows == [(1, 2, 10500, 2, "BUILDING")], rows


def test_holt_linear_hand_golden(spark):
    """Hand-traced fixed-point Holt: series [100, 200, 400] cents ->
    (l, tr) = (100,0), (150,12), (281,41); and a FALLING series
    [100, 0] -> tr = (50-100)//4 = -13 (floor, NOT the -12 a
    truncating division would give — the cross-engine hazard the
    oracle's explicit positive-mod floor exists for)."""
    import tempfile

    from module8_movies_etl_spark.plans.benchmark_queries import (
        holt_linear_hourly,
    )

    t = datetime.datetime
    rows = [
        (0, t(2024, 1, 1, 0, 30), 1, "view", 1.00, "{}"),
        (1, t(2024, 1, 1, 1, 30), 1, "view", 2.00, "{}"),
        (2, t(2024, 1, 1, 2, 30), 1, "view", 4.00, "{}"),
        (3, t(2024, 1, 1, 0, 15), 2, "click", 1.00, "{}"),
        (4, t(2024, 1, 1, 1, 15), 2, "click", 0.00, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(f"{d}/events.parquet")
        got = {
            (r.event_type, r.bucket_start): (
                r.x_cents, r.level_cents, r.trend_cents,
                r.forecast_next_cents,
            )
            for r in holt_linear_hourly(spark, d).collect()
        }
    h0 = 1704067200  # 2024-01-01 00:00 UTC
    assert got[("view", h0)] == (100, 100, 0, 100)
    assert got[("view", h0 + 3600)] == (200, 150, 12, 162)
    assert got[("view", h0 + 7200)] == (400, 281, 41, 322)
    # falling series: floor division on a negative delta
    assert got[("click", h0)] == (100, 100, 0, 100)
    assert got[("click", h0 + 3600)] == (0, 50, -13, 37)


def test_lateral_topn_decorrelates_and_matches_window_twin(spark, sf_dir):
    """The LATERAL-with-LIMIT formulation must (a) de-correlate —
    compiled plan has a Window and a hash join, no CartesianProduct,
    no SinglePartition exchange — and (b) agree row-for-row with the
    window-function formulation of the same top-3."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from module8_movies_etl_spark.plans.benchmark_queries import (
        lateral_topn_per_customer,
    )
    from module8_movies_etl_spark.sources import read_table

    df = lateral_topn_per_customer(spark, sf_dir)
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    cut = plan.find("== Initial Plan ==")
    if cut >= 0:
        plan = plan[:cut]
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") == 0
    assert "Window" in plan or "WindowGroupLimit" in plan

    got = {(r.c_custkey, r.o_orderkey, r.total_price) for r in df.collect()}
    o = read_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    twin = (
        o.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= 3)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
        )
    )
    exp = {(r.c_custkey, r.o_orderkey, r.total_price) for r in twin.collect()}
    assert got == exp and len(got) > 0
