#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs every catalog query at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints
ONE compact JSON line::

    {"metric": "catalog_total", "value": N, "unit": "sec",
     "queries": {<headline subset>}, "n_queries": 139, "sf": 0.1}

The catalog is 150+ queries; a full per-query map would be ~10 KB and
overflow the driver's stdout tail capture (this broke round 3's
BENCH_r03.json — ``parsed: null``). So the stdout line carries only the
~2 dozen headline queries (one per operator family, the ones worth
tracking round-over-round) and stays well under 1.5 KB; the FULL
per-query timing map (every query, cold + warm) is written to
``BENCH_DETAIL.json`` next to this script.

Each query is forced end-to-end with a ``noop`` sink write — the full
plan executes (scan → shuffle → sink) without driver-side collection,
which is the honest analogue of a cluster job writing parquet.

A single warm-up action runs first so JVM/codegen startup cost isn't
attributed to the first query.

Sampling protocol (round 8+): each query runs TWICE back-to-back and
reports the MIN of the two samples — the same protocol as the
scale sweep recorded in ``BENCH_SCALE3.json``. Single samples in a shared
multi-hundred-query JVM swing ±10-20% with whole-stage-codegen/JIT
placement and host drift (round 7 measured 392.7 vs 354.1 s for
identical code), which made every round-over-round per-query diff
need a manual drift model. Min-of-2 is the cheapest drift filter
that keeps numbers comparable across rounds; both raw samples land
in ``BENCH_DETAIL.json`` under ``samples``.

Env knobs:
  SPARK_GRAFT_BENCH_SAMPLES=N  — samples per query (default 2;
    set 1 for a quick single-pass smoke run).
"""

from __future__ import annotations

import json
import os
import sys
import time

# One query per family — the round-over-round tracking set. Everything
# else still runs and lands in BENCH_DETAIL.json.
HEADLINE = [
    "flagship_order_histogram",
    "pricing_summary",
    "star_join_revenue",
    "parse_currency",
    "parse_multiformat_dates",
    "text_stats",
    "exact_dedup_survivors",
    "jaccard_near_dup_pairs",
    "minhash_lsh_candidates",
    "simhash_near_dups",
    "containment_dup_pairs",
    "fuzzy_dedup_clusters",
    "cosine_topk_bruteforce",
    "cosine_topk_lsh",
    "cosine_topk_ivf",
    "tokenize_documents",
    "bmp_decode_features",
    "tumbling_window_counts",
    "training_data_pipeline",
    "curation_pipeline_v2",
    "bm25_keyword_search",
    "pagerank_dupgraph",
    "bootstrap_ci_price",
    "stream_kmv_distinct",
    "incremental_dedup_newbatch",
]

# Entries whose per-query time is dominated by fixed MACHINERY, not
# the data path: micro-batch runner startup/commit cycles, state-store
# checkpoints, Python DataSource plan/worker round-trips. Their
# absolute numbers measure the harness, not the operator — flagged in
# BENCH_DETAIL.json so round-over-round reads don't treat them as
# data-path costs (they are near-constant in sf).
MACHINERY = {
    "tumbling_window_counts",
    "sessionize_events",
    "sessionize_stateful",
    "stream_dedup_events",
    "hopping_window_counts",
    "stream_static_enrich",
    "stream_hopping_counts",
    "stream_session_windows",
    "stream_interval_join",
    "stream_interval_join_left",
    "stream_kmv_distinct",
    "stream_kmv_multibatch",
    "stream_upsert_foreachbatch",
    "stream_cms_grid",
    "pyds_graftgen_scan",
    "pyds_manifest_sink",
    "pyds_stream_ticks",
    "pyds_stream_sink",
}


# Auto-triage rule (round 9, VERDICT r8 task #2): any query whose
# min-of-N exceeds the PRIOR committed BENCH_DETAIL figure by more
# than this factor — after normalizing out host/session drift by the
# shared-query median ratio — gets an automatic isolated 3-run
# appended to the triage dict. The manual sweeps of rounds 7-8 each
# missed one mover (curation_pipeline_v2 slipped through round 8
# because the sweep ran before the final catalog re-run); the rule
# now fires in the bench itself, not in anyone's memory.
TRIAGE_FACTOR = 1.8
# ignore sub-second absolute moves: a 0.2 -> 0.45 s blip is scheduler
# noise, not a regression worth three extra runs
TRIAGE_MIN_DELTA_S = 0.75


def _load_prior_detail(detail_path: str) -> dict | None:
    """The auto-triage baseline is the last COMMITTED
    BENCH_DETAIL.json (``git show HEAD:...``), NOT the working-tree
    file: bench can run several times in one session (smoke runs,
    re-runs after a fix), each overwriting the file, and a
    same-session baseline absorbs cross-round drift — round 9's two
    escaped movers (seasonal_anomaly_hod, cep_view_purchase_noerror,
    ~1.9x normalized vs the COMMITTED round-8 figures) slipped
    through exactly this way when the final run compared against a
    same-epoch baseline. Falls back to the working-tree file outside
    a git checkout (e.g. a deployed copy)."""
    import subprocess

    repo_dir = os.path.dirname(os.path.abspath(detail_path))
    fname = os.path.basename(detail_path)
    try:
        out = subprocess.run(
            ["git", "show", f"HEAD:{fname}"],
            cwd=repo_dir,
            capture_output=True,
            timeout=30,
        )
        if out.returncode == 0:
            return json.loads(out.stdout)
    except (OSError, ValueError, subprocess.SubprocessError):
        pass
    try:
        with open(detail_path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _auto_triage(
    prior: dict | None,
    timings: dict[str, float],
    queries: dict,
    spark,
    sf_dir: str,
) -> dict[str, str]:
    """Compare this run against the prior committed BENCH_DETAIL and
    isolated-3-run any non-machinery query that moved >TRIAGE_FACTOR×
    drift-normalized. Returns {query: triage note} entries."""
    import statistics

    if not prior or "queries" not in prior:
        return {}
    old = {
        k: v
        for k, v in prior["queries"].items()
        if isinstance(v, (int, float)) and v > 0
    }
    shared = [
        timings[k] / old[k]
        for k in old
        if k in timings and timings[k] > 0 and k not in MACHINERY
    ]
    if len(shared) < 10:  # not enough overlap to model drift
        return {}
    drift = statistics.median(shared)
    out: dict[str, str] = {}
    for name, t_new in timings.items():
        t_old = old.get(name)
        if (
            t_old is None
            or t_new <= 0
            or name in MACHINERY
            or t_new <= TRIAGE_FACTOR * drift * t_old
            or t_new - drift * t_old < TRIAGE_MIN_DELTA_S
        ):
            continue
        runs: list[float] = []
        try:
            for _ in range(3):
                t0 = time.perf_counter()
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(round(time.perf_counter() - t0, 3))
        except Exception as exc:  # noqa: BLE001 - triage must not kill bench
            out[name] = f"AUTO-TRIAGE: isolated re-run failed: {exc}"
            continue
        norm = t_new / (drift * t_old)
        out[name] = (
            f"AUTO-TRIAGE: {t_old} -> {t_new} s "
            f"({norm:.2f}x drift-normalized, session median {drift:.2f}); "
            f"isolated 3-run {runs} — warm min {min(runs)} s; "
            + (
                "isolated time matches prior: shared-session placement "
                "effect, not a plan change"
                if min(runs) <= TRIAGE_FACTOR * drift * t_old
                else "STILL SLOW in isolation: inspect the plan"
            )
        )
        print(f"bench: auto-triage {name}: {out[name]}", file=sys.stderr)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_samples = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_SAMPLES", "2")))
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    # the round-over-round baseline the auto-triage rule needs: the
    # last COMMITTED detail (see _load_prior_detail — the working
    # tree is a same-session artifact and would mask cross-round
    # movers)
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    prior_detail = _load_prior_detail(detail_path)

    from module8_movies_etl_spark.plans import benchmark_queries as bq
    from module8_movies_etl_spark.session import get_spark

    # 4096 codegen-cache entries: the 266-query loop re-executes the
    # same stages (min-of-2 + round-over-round), and the default-100
    # cache thrashed — see the triage notes below. Heap headroom is
    # fine here (one query at a time); the library default stays
    # smaller because many-distinct-stage sessions (the test suite)
    # pay heap for entries they never reuse.
    spark = get_spark(
        "bench",
        extra_conf={"spark.sql.codegen.cache.maxEntries": "4096"},
    )

    # Warm up JVM / codegen / parquet footer caches on a trivial action.
    spark.range(1000).selectExpr("sum(id)").collect()

    # Warm up the Python worker pool + Arrow serialization path: the
    # first mapInPandas/pandas-UDF query otherwise pays the fork+import
    # cost of every worker (measured ~10 s attributed to whichever
    # similarity query happens to run first).
    def _idpdf(it):
        yield from it

    spark.range(256).repartition(32).mapInPandas(_idpdf, "id long").count()

    # Warm the Python DataSource path UNTIMED (source registration +
    # plan serialization + its own worker spin-up): the first pyds
    # entry otherwise absorbs ~5 s of machinery that reads as query
    # cost (measured: graftgen 5.9 s cold / 0.9 s warm, stable across
    # rounds — same attribution honesty as the interval-join fix).
    try:
        from module8_movies_etl_spark.sources.pyds import register

        register(spark)
        spark.read.format("graftgen").option("rows", 64).option(
            "partitions", 8
        ).load().count()
    except Exception as exc:  # noqa: BLE001 - warmup must never kill bench
        print(f"bench: pyds warmup failed: {exc}", file=sys.stderr)

    # Pre-build the interval-join side-stream scratches UNTIMED: the
    # inner and leftOuter entries share one scratch pair per process,
    # and without this the first of the two to run absorbed ~4-8 s of
    # shared setup writes that read as a join regression (round 6).
    try:
        from module8_movies_etl_spark.streaming.windows import (
            ensure_ij_scratches,
        )

        ensure_ij_scratches(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001 - warmup must never kill bench
        print(f"bench: ij scratch warmup failed: {exc}", file=sys.stderr)

    # catch silent drift: a renamed catalog query must not quietly
    # drop out of the machinery flag list (set intersection below
    # would hide the typo and its cost would read as a data-path
    # regression next round)
    unknown = MACHINERY - set(bq.QUERIES)
    assert not unknown, f"MACHINERY names unknown queries: {sorted(unknown)}"

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    failed: list[str] = []
    for name, fn in bq.QUERIES.items():
        print(f"bench: {name} ...", file=sys.stderr, flush=True)
        try:
            raw: list[float] = []
            for _ in range(n_samples):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                raw.append(round(time.perf_counter() - t0, 3))
            samples[name] = raw
            timings[name] = min(raw)
            print(
                f"bench: {name} {timings[name]}s (samples: {raw})",
                file=sys.stderr,
                flush=True,
            )
        except Exception as exc:  # noqa: BLE001 - record, don't die mid-bench
            timings[name] = -1.0
            failed.append(name)
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr, flush=True)

    total = round(sum(t for t in timings.values() if t >= 0), 3)

    # auto-triage movers vs the prior committed detail (same-sf runs
    # only — comparing sf0.01 smoke runs against sf0.1 rounds would
    # flag everything)
    auto_triage: dict[str, str] = {}
    if prior_detail is not None and prior_detail.get("sf") == sf:
        auto_triage = _auto_triage(
            prior_detail, timings, bq.QUERIES, spark, sf_dir
        )

    detail = {
        "metric": "catalog_total",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "protocol": f"min-of-{n_samples} per query, shared warm session",
        "queries": timings,
        "samples": samples,
        "machinery": sorted(MACHINERY & set(timings)),
        "failed": failed,
        # Round-over-round per-query swings of ±3-9 s on the heavy
        # queries are FIRST-EXECUTION placement of whole-stage-codegen
        # compilation and JIT warmup inside the shared multi-hundred-query JVM
        # session, not plan changes: measured in isolation at sf0.1
        # (round 5), first-vs-second execution in a fresh session was
        # triangle_count_dupgraph 14.1 s -> 4.2 s, training_data_
        # pipeline 9.1 -> 5.3, pagerank_dupgraph 7.0 -> 4.8, while the
        # queries flagged as round-4 regressions measured at their
        # round-3 levels in isolation (observability_snapshot 0.7,
        # lang_confusion_matrix 0.7, spearman_value_props 1.5,
        # dup_rate_by_source 0.8, pmi_collocations_lang 2.1).
        # Min-of-2 (round 8+) absorbs most of that placement noise.
        # Late round 5 also observed HOST-level speed drift: the same
        # isolated warm query (minhash_lsh_candidates, sf0.1) measured
        # 3.9-4.1 s early-session and 4.9-5.9 s after ~30 min of
        # sustained 32-core benching, with catalog totals drifting
        # 300 -> 363 -> 466 s across consecutive identical runs on an
        # otherwise idle VM — compare totals only against a same-epoch
        # re-run, never across hours.
        # Round-8 isolated-run triage of the two round-7 non-uniform
        # movers (warm shared session, 3 back-to-back noop runs each):
        # observability_snapshot 7.45 -> 2.14 -> 1.49 s and
        # spearman_value_props 2.67 -> 1.57 -> 1.35 s — warm times
        # match their round-6 in-catalog figures (1.13 s / 1.54 s), so
        # the round-7 bumps were first-execution codegen placement,
        # not plan changes; min-of-2 absorbs this class going forward.
        "triage": {
            "observability_snapshot": "codegen placement; isolated "
                                      "warm 1.5-2.1 s (round 8)",
            "spearman_value_props": "codegen placement; isolated "
                                    "warm 1.4-1.6 s (round 8)",
            # bpe_learn_merges: the 266-query catalog run measured
            # 9.4/10.5 s on BOTH samples (vs 4.6 s committed round 7),
            # while fresh-session isolated runs measure 10.0 cold then
            # 4.9/4.4 warm — matching round 7. Both in-catalog samples
            # staying slow means late-session shared-JVM state (codegen
            # cache eviction across hundreds of generated classes, GC),
            # not a plan change: the 12-round loop recompiles ~24 tiny
            # stages, the exact shape that loses its codegen cache in a
            # long session. Plan unchanged; min-of-2 cannot absorb a
            # steady-state session effect.
            # Round 8 ROOT-CAUSED AND FIXED the shared-session class:
            # the whole-stage-codegen class cache is 100 entries by
            # default, and a 266-query catalog cycles thousands of
            # generated classes through it, so late-catalog queries
            # recompile stages on EVERY sample (isolated-warm fast,
            # in-catalog slow on both min-of-2 samples). With
            # spark.sql.codegen.cache.maxEntries=4096 (session.py)
            # every flagged mover returned to or below its committed
            # round-7 figure IN-CATALOG: bpe_learn_merges 9.39->3.77,
            # mad_outlier_orders 4.64->2.05, bmp_decode 3.56->1.70,
            # wav_decode 1.32->0.71, repeated_span 2.21->1.02; total
            # 296.5->265.2 s on the same day/host.
            "bpe_learn_merges": "codegen-cache thrash; FIXED by "
                                "maxEntries=4096 (9.39 -> 3.77 s)",
            "bmp_decode_features": "codegen-cache thrash; FIXED "
                                   "(3.56 -> 1.70 s)",
            "wav_decode_features": "codegen-cache thrash; FIXED "
                                   "(1.32 -> 0.71 s)",
            "mad_outlier_orders": "codegen-cache thrash; FIXED "
                                  "(4.64 -> 2.05 s)",
            "repeated_span_intervals": "codegen-cache thrash; FIXED "
                                       "(2.21 -> 1.02 s)",
            # Round-9 closure of the round-8 open item: the one mover
            # the round-8 manual sweep missed, isolated-3-run triaged
            # this round (see the auto-triage entries merged below for
            # the mechanical rule that now replaces the manual sweep).
            "curation_pipeline_v2": "round-8 2x normalized up-mover "
                                    "(2.92 -> 4.09 s min-of-2, raw "
                                    "[10.25, 4.09], code "
                                    "byte-identical): round-9 "
                                    "isolated 3-run [8.888, 3.551, "
                                    "2.980] — warm min 2.98 s matches "
                                    "the committed round-7 2.92 s, so "
                                    "the bump was first-execution "
                                    "codegen placement, not a plan "
                                    "change (the class the automatic "
                                    "rule below now catches)",
            # Round-10 closure of the round-9 VERDICT task #3: the
            # catalog's 2nd most expensive entry paid 8 filesystem
            # round-trips of a hundreds-row table per query. Two
            # fixes, both measured at sf0.1 warm: snapshotting the
            # per-item win counts once before the MM loop (the
            # fact-grain prefs aggregate was re-executing per round:
            # 9.7 -> 7.6 s) and swapping the per-round parquet
            # snapshot of the strength vector for an eager
            # localCheckpoint (7.6 -> 5.9 s). The same swap inside
            # connected_components measured 2x SLOWER (7.5 -> 15.2 s:
            # parquet stats + REBALANCE feed AQE's per-round join
            # planning there) and was reverted — see
            # sources.scratch.local_snapshot for both numbers.
            "bradley_terry_suppliers": "round-10 improvement (wins "
                                       "snapshot + localCheckpoint "
                                       "per MM round): isolated "
                                       "3-run warm 5.86-6.24 s vs "
                                       "10.35 s committed round 9; "
                                       "in-catalog min-of-2 lands "
                                       "higher (9.67 s — the 8-round "
                                       "iterative shape absorbs "
                                       "shared-session placement "
                                       "like the codec family does; "
                                       "see the round-10 auto-triage "
                                       "entries, all of which "
                                       "isolated back to priors)",
            # Round-10 closure of the round-9 VERDICT's two ESCAPED
            # movers (flagged vs the committed round-8 baseline but
            # missed because the final auto-triage compared
            # same-epoch — the root cause _load_prior_detail now
            # removes by always baselining on the COMMITTED detail):
            "seasonal_anomaly_hod": "round-10 isolated 3-run [6.973, "
                                    "2.351, 1.924] — warm min 1.92 s "
                                    "matches the committed round-9 "
                                    "2.33 s, NOT the round-8 0.89 s: "
                                    "a persistent host/JIT epoch "
                                    "shift on an unchanged plan "
                                    "(operators/timeseries.py "
                                    "untouched since round 6; plan "
                                    "sweep green), not placement "
                                    "noise. Sub-2.5 s absolute.",
            "cep_view_purchase_noerror": "round-10 isolated 3-run "
                                         "[1.196, 0.700, 0.537] — "
                                         "warm min 0.54 s vs 0.41 s "
                                         "committed round 8 is the "
                                         "~1.3x host epoch, within "
                                         "drift: placement effect, "
                                         "not a plan change.",
            # The final round-10 run's auto-triage flagged this as
            # "STILL SLOW in isolation" — against the 0.822 s figure
            # committed TWO HOURS EARLIER in the same round (that
            # run's epoch median was 0.92, the final run's 1.07).
            # Versus the round-9 committed 1.372 s the final 1.773 s
            # is 1.21x normalized — under threshold. The query
            # oscillates 0.8-1.8 s across same-day epochs with code
            # untouched since round 7 (git log robust.py); the
            # "isolated" 3-run shares the late slow-epoch session,
            # so it reproduces the epoch, not a plan change.
            "spend_deciles": "epoch oscillation 0.8-1.8 s on an "
                             "unchanged plan; 1.21x normalized vs "
                             "the round-9 committed baseline — see "
                             "comment above",
            **auto_triage,
        },
        "notes": "per-query time is min-of-N back-to-back samples "
                 "(raw samples in 'samples') — the drift filter the "
                 "round-7 verdict prescribed; 'machinery' lists entries "
                 "whose absolute time is fixed harness cost (micro-batch "
                 "runner, state-store commits, Python DataSource "
                 "round-trips), near-constant in sf — do not read them "
                 "as data-path costs; skewed-key join strategy evidence "
                 "(plain vs AQE skew-join vs salted_join on a hot-key "
                 "lineitem variant, result-neutrality asserted, three "
                 "aggregate shapes — join-only skew, same-key algebraic, "
                 "same-key non-combinable) lives in BENCH_SKEW.json",
    }
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError as exc:
        print(f"bench: could not write {detail_path}: {exc}", file=sys.stderr)

    # Compact contract line: headline subset only, guaranteed < ~1.5 KB.
    line = {
        "metric": "catalog_total",
        "value": total,
        "unit": "sec",
        "queries": {k: timings[k] for k in HEADLINE if k in timings},
        "n_queries": len(timings),
        "n_failed": len(failed),
        "sf": sf,
    }
    out = json.dumps(line, separators=(",", ":"))
    # Degrade gracefully if the HEADLINE subset ever grows the line past
    # the compact budget: drop per-query detail rather than aborting a
    # completed multi-minute run (the totals + BENCH_DETAIL.json keep
    # the full picture).
    if len(out) >= 1500:
        print(f"bench: contract line {len(out)} bytes; trimming per-query "
              "detail to stay compact", file=sys.stderr)
        line["queries"] = {}
        out = json.dumps(line, separators=(",", ":"))
    print(out)


if __name__ == "__main__":
    main()
