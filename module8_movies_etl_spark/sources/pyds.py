"""Spark 4 Python DataSource API — the custom-connector extension
point (SURVEY.md §2.12, beside the UDTF and grouped-map escape
hatches).

The reference's only "connector" is ``pd.read_csv``/``to_sql``
(challenge.py:47,320); Spark-side, real formats go through the
built-in scans (``readers.py``). What the built-ins cannot do is read
a source Spark has no driver for — an internal service, a bespoke
tape format, a synthetic generator. Spark 4's ``DataSource`` API is
the sanctioned way to plug one in from Python: the reader declares
PARTITIONS (so the scan parallelizes like any file source) and yields
plain tuples per partition; Catalyst sees an ordinary relation and
applies column pruning on top.

The shipped implementation is a deterministic synthetic-documents
generator (``graftgen``): row content is pure md5 arithmetic of the
row id, so — like every other extension point in this engine — the
custom connector is pinned by a FULL value oracle (DuckDB replays the
generator from ``range()``), not just a smoke test.

Four surfaces ship — the full connector matrix: the partitioned
batch READER (``graftgen``), the committing batch WRITER
(``graftsink``), the round-7 STREAMING reader (``grafttick``,
SimpleDataSourceStreamReader: offset management, admission batching,
replay-between-offsets), and the round-8 STREAMING writer
(``graftstreamsink``, DataSourceStreamWriter: per-epoch staged files
made visible only by a driver-side manifest commit). Each is
value-verified through a full DuckDB oracle, not just smoke-tested.

Policy note: a Python data source pays one Python worker per
partition, like a Pandas UDF stage — it is the integration escape
hatch, not a fast path. Bulk columnar data belongs in parquet/ORC via
the JVM scans.
"""

from __future__ import annotations

import contextlib

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class GraftGenReader(DataSourceReader):
    """Yields (doc_id, shard, payload, score) rows; all content derives
    from md5(doc_id) so any engine can replay it."""

    def __init__(self, options: dict):
        self.n_rows = int(options.get("rows", 1000))
        self.n_parts = int(options.get("partitions", 8))

    def partitions(self):  # noqa: D102 - interface method
        step = max(1, -(-self.n_rows // self.n_parts))
        return [
            _RangePartition(lo, min(lo + step, self.n_rows))
            for lo in range(0, self.n_rows, step)
        ]

    def read(self, partition: _RangePartition):  # noqa: D102
        import hashlib

        for i in range(partition.start, partition.end):
            h = hashlib.md5(str(i).encode()).hexdigest()
            # score stays UNROUNDED: the raw dyadic fraction is the
            # same double in any engine; rounding happens query-side
            # with SQL semantics so Python's bankers-rounding never
            # enters the parity surface
            yield (
                i,
                int(h[:2], 16) % 8,
                h[:16],
                int(h[16:24], 16) / float(1 << 32),
            )


class GraftGenDataSource(DataSource):
    """``spark.read.format("graftgen").option("rows", N)`` source."""

    @classmethod
    def name(cls) -> str:  # noqa: D102
        return "graftgen"

    def schema(self) -> str:  # noqa: D102
        return "doc_id bigint, shard int, payload string, score double"

    def reader(self, schema: StructType) -> DataSourceReader:  # noqa: D102
        return GraftGenReader(self.options)


def register(spark) -> None:
    """Idempotently register the source on a session."""
    with active_session(spark):
        spark.dataSource.register(GraftGenDataSource)


# ---------------------------------------------------------------------------
# Python DataSource WRITER — the sink half of the §2.12 connector
# surface (the reader half is graftgen above).
# ---------------------------------------------------------------------------


class _ManifestCommit(WriterCommitMessage):
    """Per-task commit payload: row count and an exact integer
    checksum (Python ints — arbitrary precision, so the driver-side
    merge is order-free)."""

    def __init__(self, n_rows: int, checksum: int):
        self.n_rows = n_rows
        self.checksum = checksum


class ManifestWriter(DataSourceWriter):
    """Counts and checksums each partition's rows, then commits ONE
    manifest JSON from the driver — the two-phase-commit shape every
    real sink (JDBC batches, object-store multipart, Iceberg
    manifests) follows: tasks do idempotent work and return a
    message; only the driver's ``commit`` makes results visible, and
    ``abort`` leaves nothing behind.

    Expects rows with a ``f`` (hex fingerprint) column; the checksum
    is Σ int(f[:15], 16) mod 2⁶⁰ — the same fold the observability
    snapshot uses, replayable in any engine.
    """

    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator):  # noqa: D102 - interface method
        n = 0
        acc = 0
        for row in iterator:
            n += 1
            acc += int(row["f"][:15], 16)
        return _ManifestCommit(n, acc)

    def commit(self, messages):  # noqa: D102
        import json
        import os

        done = [m for m in messages if m is not None]
        total = sum(m.n_rows for m in done)
        checksum = sum(m.checksum for m in done) % (1 << 60)
        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, "manifest.json"), "w") as fh:
            json.dump(
                {
                    "n_rows": total,
                    "checksum": checksum,
                    "n_tasks": len(done),
                },
                fh,
            )

    def abort(self, messages):  # noqa: D102
        import os
        import shutil

        if os.path.isdir(self.path):
            shutil.rmtree(self.path, ignore_errors=True)


class ManifestSinkDataSource(DataSource):
    """``df.write.format("graftsink").option("path", dir).save()``."""

    @classmethod
    def name(cls) -> str:  # noqa: D102
        return "graftsink"

    def writer(self, schema: StructType, overwrite: bool):  # noqa: D102
        return ManifestWriter(self.options)


def register_sink(spark) -> None:
    """Idempotently register the sink on a session."""
    with active_session(spark):
        spark.dataSource.register(ManifestSinkDataSource)


# --------------------------------------------------------------------------
# Python DataSource STREAMING reader (Spark 4 SimpleDataSourceStreamReader)
# — completes the §2.12 connector surface: batch read (graftgen),
# batch write (graftsink), and now an offset-tracked stream.
# --------------------------------------------------------------------------


class GraftTickStreamReader(SimpleDataSourceStreamReader):
    """Deterministic micro-batch tick stream: offsets are row
    positions, each ``read(start)`` serves the next ``batch`` rows of
    a fixed ``rows``-long sequence and advances the offset; at the
    end it reports no progress, so ``availableNow`` replay drains and
    terminates. Row values are pure integer arithmetic of the row id
    (``v = (i·2654435761) mod 1000003`` — Knuth's multiplicative
    hash), so a DuckDB oracle replays the WHOLE stream from
    ``range()``: the custom streaming connector is value-verified,
    not just smoke-tested. ``readBetweenOffsets`` re-serves any
    offset window exactly (the recovery/replay contract)."""

    def __init__(self, options: dict):
        self.rows_total = int(options.get("rows", 4000))
        self.batch = int(options.get("batch", 500))

    def initialOffset(self):  # noqa: D102 - interface method
        return {"pos": 0}

    def _rows(self, start: int, end: int):
        return iter(
            [(i, (i * 2654435761) % 1000003) for i in range(start, end)]
        )

    def read(self, start):  # noqa: D102 - interface method
        pos = int(start["pos"])
        end = min(pos + self.batch, self.rows_total)
        return self._rows(pos, end), {"pos": end}

    def readBetweenOffsets(self, start, end):  # noqa: D102
        return self._rows(int(start["pos"]), int(end["pos"]))


class GraftTickDataSource(DataSource):
    """``spark.readStream.format("grafttick")`` — a from-scratch
    Python STREAMING source (offset management, replay, admission
    batching all in Python)."""

    @classmethod
    def name(cls) -> str:  # noqa: D102
        return "grafttick"

    def schema(self) -> str:  # noqa: D102
        return "id bigint, v bigint"

    def simpleStreamReader(self, schema):  # noqa: D102
        return GraftTickStreamReader(self.options)


@contextlib.contextmanager
def active_session(spark):
    """Make ``spark`` the thread's ACTIVE session inside the block, and
    restore the previous one after it.

    Spark resolves some Python data-source names in the active session,
    not in the session of the call: it refuses a registration whose
    name the active session already has, even when ``spark`` lacks it,
    and a batch or stream writer started in a child session (see
    ``streaming.windows.stream_session``) finds only the sinks the
    active session registered."""
    sessions = getattr(spark._jvm, "org.apache.spark.sql.classic.SparkSession")
    prev = sessions.getActiveSession()
    sessions.setActiveSession(spark._jsparkSession)
    try:
        yield
    finally:
        if prev.isDefined():
            sessions.setActiveSession(prev.get())
        else:
            sessions.clearActiveSession()


def register_stream(spark) -> None:
    """Idempotently register the grafttick streaming source in ``spark``."""
    with active_session(spark):
        spark.dataSource.register(GraftTickDataSource)


# --------------------------------------------------------------------------
# Python DataSource STREAMING writer (Spark 4 DataSourceStreamWriter)
# — the fourth and final quadrant of the §2.12 connector matrix:
# batch read (graftgen), batch write (graftsink), stream read
# (grafttick), stream write (graftstreamsink).
# --------------------------------------------------------------------------


class _EpochStageCommit(WriterCommitMessage):
    """Per-task staging receipt: the staged file (None when the task
    saw no rows), its row count, and an exact integer checksum."""

    def __init__(self, staged: str | None, n_rows: int, checksum: int):
        self.staged = staged
        self.n_rows = n_rows
        self.checksum = checksum


class GraftStreamSinkWriter(DataSourceStreamWriter):
    """Transactional per-epoch file sink — the manifest-commit shape
    real streaming sinks (Delta/Iceberg commits, object-store
    multipart) follow, reduced to its essentials:

    - ``write`` (executor, per task): stage the task's rows as a
      JSON-lines file under ``<path>/_staging/`` with a unique name,
      and return a receipt (file, count, exact checksum). Staged
      files are INVISIBLE to readers.
    - ``commit`` (driver, once per epoch): rename every staged file
      to ``<path>/epoch-<batchId>-<k>.jsonl`` and only then write
      ``<path>/_manifest-<batchId>.json`` naming them — the manifest
      is the commit point; a reader that consults manifests never
      sees a half-written epoch.
    - ``abort`` (driver): delete the epoch's staged files; nothing
      becomes visible.

    Checksums are arbitrary-precision Python ints folded from every
    BIGINT field, so the driver-side merge is order-free and any
    lost/duplicated task shows up as a manifest/data mismatch.

    DEPLOYMENT ASSUMPTIONS (like the other pyds surfaces, this sink
    models the COMMIT PROTOCOL, not a storage connector):

    - ``path`` must be a SHARED filesystem visible to driver and
      executors under the same mount (local mode, NFS, FUSE-mounted
      object store): ``commit``/``abort`` run on the DRIVER and
      ``os.replace``/``os.remove`` executor-written staged paths. On
      a real cluster with executor-local disks the rename would fail
      (or silently target a different local path) — a production
      build routes staged-file promotion through the object store's
      multipart/rename API behind a filesystem abstraction.
    - one stream per ``path`` at a time: the stale-stage sweep in
      ``commit`` assumes every ``_staging`` file older than
      ``_STALE_STAGE_SECONDS`` belongs to a dead task of THIS stream.
    """

    # A failed/retried task's staged file is named in no commit
    # message, so abort() never sees it; without a sweep a
    # long-running stream leaks one orphan per task failure. Files
    # this much older than the current commit are dead-task residue
    # (epochs run in seconds; anything still staged after 15 min
    # belongs to no in-flight epoch) and are removed at commit time.
    _STALE_STAGE_SECONDS = 900.0

    def __init__(self, options: dict):
        self.path = options["path"]
        # failure injection for the transactional-contract tests: a
        # task that sees this id raises AFTER staging some rows —
        # proving staged-but-uncommitted work never becomes visible
        p = options.get("poison_id")
        self.poison_id = int(p) if p is not None else None

    def write(self, iterator):  # noqa: D102 - interface method
        import json
        import os
        import uuid

        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        staged = os.path.join(staging, uuid.uuid4().hex + ".jsonl")
        n = 0
        acc = 0
        fh = None
        try:
            for row in iterator:
                if fh is None:
                    fh = open(staged, "w")
                d = row.asDict()
                if self.poison_id is not None and d.get("id") == self.poison_id:
                    raise RuntimeError(
                        f"graftstreamsink: poisoned id {self.poison_id}"
                    )
                fh.write(json.dumps(d, sort_keys=True) + "\n")
                n += 1
                for v in d.values():
                    # bool is an int subclass — exclude it so the
                    # checksum folds exactly the BIGINT fields the
                    # docstring promises
                    if isinstance(v, int) and not isinstance(v, bool):
                        acc += v
        finally:
            if fh is not None:
                fh.close()
        return _EpochStageCommit(staged if n else None, n, acc)

    def commit(self, messages, batchId):  # noqa: D102, N803 - interface
        import json
        import os

        done = [m for m in messages if m is not None and m.staged]
        files = []
        for k, m in enumerate(done):
            final = os.path.join(self.path, f"epoch-{batchId}-{k}.jsonl")
            os.replace(m.staged, final)
            files.append(os.path.basename(final))
        manifest = {
            "batch_id": batchId,
            "files": files,
            "n_rows": sum(m.n_rows for m in done),
            "checksum": sum(m.checksum for m in done) % (1 << 60),
        }
        # the manifest IS the commit point, so its own write must be
        # atomic too: stage + os.replace (atomic on POSIX), never an
        # in-place open('w') a crash could leave torn
        final = os.path.join(self.path, f"_manifest-{batchId}.json")
        tmp = final + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, final)
        # sweep dead-task residue (see class docstring): staged files
        # from failed/retried tasks are in no commit message, so only
        # an age-based sweep reclaims them. Current-epoch stages were
        # just renamed away; anything old enough left here is orphaned.
        import time

        staging = os.path.join(self.path, "_staging")
        cutoff = time.time() - self._STALE_STAGE_SECONDS
        try:
            for name in os.listdir(staging):
                p = os.path.join(staging, name)
                try:
                    if os.path.getmtime(p) < cutoff:
                        os.remove(p)
                except OSError:
                    pass  # already gone (racing task) — nothing to do
        except OSError:
            pass  # staging dir never created (all-empty epochs)

    def abort(self, messages, batchId):  # noqa: D102, N803 - interface
        import os

        for m in messages:
            if m is not None and m.staged and os.path.exists(m.staged):
                os.remove(m.staged)


class GraftStreamSinkDataSource(DataSource):
    """``df.writeStream.format("graftstreamsink").option("path", dir)``."""

    @classmethod
    def name(cls) -> str:  # noqa: D102
        return "graftstreamsink"

    def streamWriter(self, schema: StructType, overwrite: bool):  # noqa: D102, N802
        return GraftStreamSinkWriter(self.options)


def committed_files(path: str) -> list[str]:
    """Read the sink's manifests (driver-side) and return the
    absolute paths of every COMMITTED data file, in epoch order —
    the read half of the manifest contract (staged/uncommitted files
    are never returned)."""
    import json
    import os
    import re

    out: list[str] = []
    # exact-name match: a crashed commit's _manifest-N.json.tmp (or
    # any other stray) must never be read as a committed manifest
    pat = re.compile(r"^_manifest-(\d+)\.json$")
    names = sorted(
        (f for f in os.listdir(path) if pat.match(f)),
        key=lambda f: int(pat.match(f).group(1)),
    )
    for f in names:
        with open(os.path.join(path, f)) as fh:
            out.extend(
                os.path.join(path, name) for name in json.load(fh)["files"]
            )
    return out


def register_stream_sink(spark) -> None:
    """Idempotently register the graftstreamsink streaming writer in
    ``spark``."""
    with active_session(spark):
        spark.dataSource.register(GraftStreamSinkDataSource)
