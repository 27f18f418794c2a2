"""Scratch-parquet snapshots — the engine's stage-boundary
materialization primitive.

Spark has no common-subplan reuse below the exchange level: a
DataFrame consumed by several downstream branches re-executes its
whole lineage per branch, and iterative algorithms grow unbounded
plans. The fix every large pipeline uses is materializing stage
boundaries; this module is the ONE implementation of that idiom
(connected components, the shingle-postings index, and the curation
capstone all route through it).

Lifecycle: the returned DataFrame reads the written files lazily,
with its schema pinned from their footer (the re-read starts no Spark
job), so a snapshot cannot be deleted at call time. Every snapshot
dir is registered and reaped at interpreter exit (atexit), bounding
accumulation to one process's working set. Callers that finish with a
snapshot early can ``release()`` it explicitly.

Deployment note: ``tempfile.mkdtemp`` is DRIVER-local, which is
correct for this engine's local-mode target; a multi-node deployment
must point ``scratch_root`` at a shared filesystem mounted on every
node (executors write and read the snapshot; the driver reads only
its footer, through a local path, to pin the re-read's schema).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame

from .readers import _footer_schema

_LIVE: set[str] = set()


def scratch_root() -> str | None:
    """Root for scratch dirs: ``$SPARK_GRAFT_SCRATCH`` if set, else
    ``/dev/shm`` when available (RAM-backed — stage snapshots are
    small and transient, and keeping them off the data disk removes
    I/O contention with co-tenant load), else the system tmpdir.
    A cluster deployment overrides with a shared-filesystem URI."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        return env
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        return "/dev/shm"
    return None  # tempfile default


def mkscratch(prefix: str) -> str:
    """Create (and return) a scratch dir under ``scratch_root()``.
    The caller owns cleanup — or calls ``register`` to defer it to
    the atexit reap."""
    return tempfile.mkdtemp(prefix=prefix, dir=scratch_root())


def snapshot(
    df: DataFrame,
    prefix: str = "snap_",
    root: str | None = None,
    rebalance: bool = True,
) -> DataFrame:
    """Write ``df`` to a fresh scratch parquet dir and return the
    re-read (lineage-truncated) DataFrame.

    NOTE: this executes ``df`` EAGERLY — builders that call it run
    their upstream stages at construction time, trading laziness for
    single execution of a multiply-consumed stage. The write is the
    only job: the re-read takes its schema from the written footer.

    ``rebalance`` (default) routes the write through AQE's REBALANCE
    exchange: small outputs coalesce to a few right-sized files
    (a 260k-row postings snapshot wrote 32 near-empty files and spent
    3× longer on task/committer overhead than on data) and skewed
    outputs split — the same code writes hundreds of size-targeted
    files at 100 TB. The extra shuffle before a checkpoint write is
    the standard production trade; pass ``rebalance=False`` when the
    input partitioning must be preserved byte-for-byte.
    """
    path = tempfile.mkdtemp(prefix=prefix, dir=root or scratch_root())
    out = df.hint("rebalance") if rebalance else df
    out.write.mode("overwrite").parquet(path)
    _LIVE.add(path)
    spark = df.sparkSession
    return spark.read.schema(_footer_schema(spark, path)).parquet(path)


def local_snapshot(df: DataFrame) -> DataFrame:
    """Lineage truncation WITHOUT the filesystem round-trip: an eager
    ``localCheckpoint`` caches the partitions on the executors and
    cuts the logical plan, which is exactly what per-round ITERATIVE
    STATE needs (the Bradley-Terry MM vector, label tables — tiny,
    rewritten every round, never re-read after the next round).

    Measured against the parquet ``snapshot`` on the same loop
    (bradley_terry_suppliers, 8 MM rounds over an item-grain vector,
    sf0.1, warm min-of-2): parquet 7.6 s vs localCheckpoint 5.9 s —
    the per-round parquet write/read plus its REBALANCE exchange was
    pure overhead at this grain.

    THE TRADE (why ``snapshot`` still exists and is the default for
    stage boundaries): localCheckpoint blocks live in executor
    storage — on a real cluster, losing ANY executor kills every
    job that still needs the truncated lineage, and the blocks pin
    storage memory for the session. Use it for small bounded
    per-round state inside one job; use parquet ``snapshot`` for
    fault-tolerant boundaries, multi-consumer stages, or anything
    sized with the data.

    MEASURED NEGATIVE RESULT (don't re-try): swapping the per-round
    parquet write for localCheckpoint inside
    ``dedup.connected_components`` made fuzzy_dedup_clusters 2×
    SLOWER (7.5 → 15.2 s warm at sf0.1, observation metrics verified
    to populate either way). The label table there is joined THREE
    ways per round against a large edge list, and the parquet
    round-trip is what feeds AQE accurate sizes (plus the REBALANCE
    right-sizing) for those join decisions — a LogicalRDD scan has
    no stats, and the degraded join planning cost far more than the
    saved I/O. localCheckpoint wins only where the state is tiny and
    its downstream consumer is trivially planned (the Bradley-Terry
    MM vector: 7.6 → 5.9 s)."""
    return df.localCheckpoint(eager=True)


def register(path: str) -> None:
    """Adopt an externally created scratch dir into the atexit reap
    (for multi-file lifecycles like the connected-components label
    iteration that manage their own intermediate files)."""
    _LIVE.add(path)


def release(df_path_or_all: str | None = None) -> None:
    """Delete one snapshot dir (by path) or, with no argument, all of
    this process's live snapshots. Only for callers that KNOW no live
    DataFrame still reads the files."""
    targets = [df_path_or_all] if df_path_or_all else list(_LIVE)
    for p in targets:
        shutil.rmtree(p, ignore_errors=True)
        _LIVE.discard(p)


@atexit.register
def _reap() -> None:
    for p in list(_LIVE):
        shutil.rmtree(p, ignore_errors=True)
    _LIVE.clear()
