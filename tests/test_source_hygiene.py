"""Static source-hygiene pins (round 9).

Every round's review re-audits the engine's driver-side fetches and
slow-path API usage by hand; these pins make that audit mechanical:

- ``.collect()`` sites are PINNED per file with the boundedness
  argument recorded here — a new collect anywhere fails until it is
  audited and added with its bound;
- ``.toPandas()``, ``.rdd`` access, and row-at-a-time UDF
  registration (``F.udf`` / ``@udf``) are banned outright in engine
  sources (the Python surfaces are Arrow mapInPandas /
  applyInPandas / pandas UDAF / UDTF);
- whole-snapshot driver reads (``scratch.take_small``) are PINNED
  per file like the collects, each bounded by the session's broadcast
  threshold;
- session writes (``.conf.set`` / ``.conf.unset`` and
  ``createOrReplaceTempView``) are PINNED per file like the collects:
  the package must not change its caller's conf or catalog, so the
  only sites are the ones whose session is their own to write.

Tests are exempt (they collect results to assert on them); only the
package's own sources are swept.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / (
    "module8_movies_etl_spark"
)

# file (relative to the package) -> (allowed .collect() count, bound)
COLLECT_WHITELIST = {
    "operators/clustering.py": (
        2,
        "k-means: 512-row deterministic training sample + k·dim "
        "centroid fetch per round",
    ),
    "operators/dedup.py": (
        1,
        "vocabulary-size dispatch probe: distinct tokens LIMITed to "
        "cap+1 rows before the fetch",
    ),
    "operators/graphs.py": (
        1,
        "k-core fixpoint early-exit: one 2-long row per peel round "
        "(result-identical break when a round removes no node)",
    ),
    "operators/robust.py": (
        1,
        "distributed rank: 1-row-per-partition offset table",
    ),
    "operators/similarity.py": (
        3,
        "ANN index training: bounded 512-row samples / k·dim "
        "centroid fetches (LSH planes, IVF, PQ codebooks)",
    ),
    "operators/stats.py": (
        5,
        "1-row aggregates (cardinality probe, min/max bounds) and the "
        "chi2 contingency cells, bounded by the guarded |A|x|B| grid",
    ),
    "operators/text.py": (
        1,
        "BPE learning: 1-row argmax merge fetch per round",
    ),
    "operators/timeseries.py": (
        1,
        "1-row max-per-key-count aggregate (spine sizing)",
    ),
    "plans/benchmark_queries.py": (
        2,
        "1-row keyset-pagination boundary + the 8-row learned BPE "
        "merge table (audited in rounds 7-8)",
    ),
    "streaming/stateful.py": (
        1,
        "1-row min/max day-span aggregate (grid sizing)",
    ),
    "streaming/windows.py": (
        1,
        "1-row max(ts) fetch (watermark sentinel construction)",
    ),
}

# file (relative to the package) -> (allowed scratch.take_small calls, bound)
TAKE_SMALL_WHITELIST = {
    "operators/dedup.py": (
        1,
        "connected components' edge snapshot: <= "
        "spark.sql.autoBroadcastJoinThreshold, estimated from the footers",
    ),
    "operators/graphs.py": (
        1,
        "k-core's doubled edge snapshot: <= "
        "spark.sql.autoBroadcastJoinThreshold, estimated from the footers",
    ),
}

# file (relative to the package) -> (allowed session writes, reason)
SESSION_WRITE_WHITELIST = {
    "plans/sql_api.py": (
        1,
        "register_tables: registering the tables as views is its API",
    ),
    "streaming/windows.py": (
        2,
        "stream_session: the copied caller conf and the shuffle width, "
        "both set on the child session it returns",
    ),
}

BANNED = {
    ".toPandas(": "driver materialization of a distributed frame",
    ".rdd.": "RDD escape hatch — DataFrame/Catalyst only",
    "F.udf(": "row-at-a-time Python UDF registration",
    "@udf": "row-at-a-time Python UDF decorator",
}


def _sources() -> list[pathlib.Path]:
    return sorted(PKG.rglob("*.py"))


def test_collect_sites_are_pinned_with_bounds():
    got: dict[str, int] = {}
    for path in _sources():
        n = len(re.findall(r"\.collect\(\)", path.read_text()))
        if n:
            got[str(path.relative_to(PKG))] = n
    want = {k: n for k, (n, _) in COLLECT_WHITELIST.items()}
    assert got == want, (
        "driver-side .collect() sites changed — audit the new/removed "
        f"site's boundedness and update the whitelist: got {got}, "
        f"pinned {want}"
    )


def test_driver_snapshot_reads_are_pinned_with_bounds():
    got: dict[str, int] = {}
    for path in _sources():
        n = len(re.findall(r"(?<!def )\btake_small\(", path.read_text()))
        if n:
            got[str(path.relative_to(PKG))] = n
    want = {k: n for k, (n, _) in TAKE_SMALL_WHITELIST.items()}
    assert got == want, (
        "driver-side snapshot reads changed — audit the new/removed "
        f"site's bound and update the whitelist: got {got}, pinned {want}"
    )


def test_banned_apis_absent_from_engine_sources():
    hits: list[str] = []
    for path in _sources():
        text = path.read_text()
        for needle, why in BANNED.items():
            if needle in text:
                hits.append(f"{path.relative_to(PKG)}: {needle} ({why})")
    assert not hits, hits


def test_session_write_sites_are_pinned():
    got: dict[str, int] = {}
    for path in _sources():
        n = len(
            re.findall(
                r"\.conf\.(?:set|unset)\(|createOrReplaceTempView",
                path.read_text(),
            )
        )
        if n:
            got[str(path.relative_to(PKG))] = n
    want = {k: n for k, (n, _) in SESSION_WRITE_WHITELIST.items()}
    assert got == want, (
        "session conf/view writes changed — a package function must not "
        f"write its caller's session: got {got}, pinned {want}"
    )
