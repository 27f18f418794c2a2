"""Scratch-parquet snapshots — the engine's stage-boundary
materialization primitive.

Spark has no common-subplan reuse below the exchange level: a
DataFrame consumed by several downstream branches re-executes its
whole lineage per branch, and iterative algorithms grow unbounded
plans. The fix every large pipeline uses is materializing stage
boundaries; this module is the ONE implementation of that idiom
(connected components, the shingle-postings index, and the curation
capstone all route through it).

Lifecycle: all scratch of a process lives under one root,
``<scratch_root()>/graft-<pid>-<random>/``, on which the process holds
an exclusive ``flock`` while it lives (forked children share it). The
first ``mkscratch`` or ``snapshot`` in a base dir makes the root after
reaping every ``graft-<pid>-*`` sibling whose lock is free: its owner
died without running its exit hook (SIGKILL, OOM kill). The kernel
frees the lock in any pid namespace, so no live owner's root is taken
for dead. The owner removes its root at exit (atexit); a forked child
never removes its parent's. A snapshot reads its files lazily, with
the schema pinned from their footer, so it lives until its process
exits.

Deployment note: the root is DRIVER-local, which is correct for this
engine's local-mode target; a multi-node deployment must point
``SPARK_GRAFT_SCRATCH`` at a shared filesystem mounted on every node
(executors write and read the snapshot; the driver reads only its
footer, through a local path, to pin the re-read's schema), one whose
``flock`` spans hosts (NFSv4) — else each host needs its own base.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import os
import re
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame

from .readers import _footer_schema

_ROOTS: dict[str, tuple[str, int]] = {}  # base dir -> (root, fd holding its lock)
_ROOTS_LOCK = threading.Lock()
os.register_at_fork(after_in_child=_ROOTS.clear)


def scratch_root() -> str:
    """Base dir for scratch roots: ``$SPARK_GRAFT_SCRATCH`` if set, else
    ``/dev/shm`` when available (RAM-backed — stage snapshots are
    small and transient, and keeping them off the data disk removes
    I/O contention with co-tenant load), else the system tmpdir.
    A cluster deployment overrides with a shared-filesystem path."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        return env
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        return "/dev/shm"
    return tempfile.gettempdir()


def _reap(base: str) -> None:
    """Remove the ``graft-<pid>-*`` roots in ``base`` whose lock is free."""
    for name in os.listdir(base):
        path = os.path.join(base, name)
        if re.fullmatch(r"graft-\d+-\w+", name):
            with contextlib.suppress(OSError):  # held, or removed meanwhile
                fd = os.open(path, os.O_RDONLY)
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    shutil.rmtree(path, ignore_errors=True)
                finally:
                    os.close(fd)


def _process_root() -> str:
    """This process's locked root under ``scratch_root()``, made on
    first use and again if an external cleanup removed it."""
    base = scratch_root()
    with _ROOTS_LOCK:
        root, fd = _ROOTS.get(base, ("", -1))
        if root:
            with contextlib.suppress(FileNotFoundError):
                if os.path.samestat(os.stat(root), os.fstat(fd)):
                    return root
            os.close(fd)
        os.makedirs(base, exist_ok=True)
        _reap(base)
        # lock under a name the reaper skips, then publish by rename
        hidden = tempfile.mkdtemp(prefix=f".graft-{os.getpid()}-", dir=base)
        fd = os.open(hidden, os.O_RDONLY)
        fcntl.flock(fd, fcntl.LOCK_EX)
        root = os.path.join(base, os.path.basename(hidden)[1:])
        os.rename(hidden, root)
        _ROOTS[base] = (root, fd)
        return root


def mkscratch(prefix: str) -> str:
    """Create (and return) a scratch dir under this process's root,
    which is removed with everything in it at interpreter exit."""
    return tempfile.mkdtemp(prefix=prefix, dir=_process_root())


def snapshot(
    df: DataFrame,
    prefix: str = "snap_",
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
    path = mkscratch(prefix)
    out = df.hint("rebalance") if rebalance else df
    out.write.mode("overwrite").parquet(path)
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


@atexit.register
def _remove_roots() -> None:
    for root, fd in _ROOTS.values():
        shutil.rmtree(root, ignore_errors=True)
        os.close(fd)
