"""Scratch lifetime: each process keeps its scratch under one root,
``graft-<pid>-<random>/`` in ``SPARK_GRAFT_SCRATCH``, and holds an
exclusive ``flock`` on it while it lives. The owner removes it at exit,
and the first ``mkscratch`` of a later process reaps the roots whose
lock is free. The lifetime tests run child interpreters that start no
JVM."""

from __future__ import annotations

import fcntl
import os
import signal
import subprocess
import sys

from module8_movies_etl_spark.sources.scratch import mkscratch

from .test_scale_fixes import _TYPED_SQL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _child(base, body: str) -> subprocess.Popen:
    """A Python child with its scratch under ``base``, running ``body``
    after ``mkscratch`` is imported; it talks over stdin/stdout."""
    code = (
        "import os, signal, sys\n"
        "from module8_movies_etl_spark.sources.scratch import mkscratch\n" + body
    )
    return subprocess.Popen(
        [sys.executable, "-c", code],
        cwd=REPO,
        env=dict(os.environ, SPARK_GRAFT_SCRATCH=str(base)),
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )


def test_killed_owner_root_is_reaped(tmp_path, monkeypatch):
    """A SIGKILL skips the exit hook; the next process to make scratch
    in the same base removes the dead owner's root and nothing else."""
    (tmp_path / "graft-notes").mkdir()
    (tmp_path / "other.txt").write_text("not scratch")
    child = _child(
        tmp_path,
        "d = mkscratch('snap_')\n"
        "open(os.path.join(d, 'part-0.parquet'), 'w').write('x')\n"
        "print(d, flush=True)\n"
        "os.kill(os.getpid(), signal.SIGKILL)\n",
    )
    out, _ = child.communicate(timeout=120)
    assert child.returncode == -signal.SIGKILL
    dead_root = os.path.dirname(out.strip())
    assert os.path.basename(dead_root).startswith(f"graft-{child.pid}-")
    assert os.path.isfile(os.path.join(out.strip(), "part-0.parquet"))

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    mine = os.path.dirname(mkscratch("snap_"))
    assert not os.path.exists(dead_root)
    assert sorted(os.listdir(tmp_path)) == sorted(
        ["graft-notes", "other.txt", os.path.basename(mine)]
    )


def test_live_owner_root_survives_reap(tmp_path, monkeypatch):
    child = _child(
        tmp_path,
        "print(mkscratch('snap_'), flush=True)\nsys.stdin.read()\n",
    )
    try:
        live = child.stdout.readline().strip()
        monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
        mkscratch("snap_")
        assert os.path.isdir(live)
    finally:
        child.stdin.close()
        assert child.wait(timeout=120) == 0
    assert not os.path.exists(os.path.dirname(live))


def test_locked_root_survives_reap_whatever_its_pid(tmp_path):
    """The lock, not the pid, decides: a root named for a pid that no
    process here can have (above the kernel's pid limit, as an owner
    in another pid namespace looks) is kept while its lock is held and
    reaped once it is free."""
    foreign = tmp_path / "graft-4194305-1234"
    foreign.mkdir()
    (foreign / "part-0.parquet").write_text("x")
    fd = os.open(foreign, os.O_RDONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        child = _child(tmp_path, "mkscratch('snap_')\n")
        child.communicate(timeout=120)
        assert child.returncode == 0
        assert (foreign / "part-0.parquet").is_file()
    finally:
        os.close(fd)
    child = _child(tmp_path, "mkscratch('snap_')\n")
    child.communicate(timeout=120)
    assert child.returncode == 0
    assert list(tmp_path.iterdir()) == []


def test_forked_child_exit_keeps_parent_root(tmp_path):
    """A forked process that exits through ``sys.exit`` runs the exit
    hook: it removes the root it made and leaves its parent's alone."""
    child = _child(
        tmp_path,
        "d = mkscratch('snap_')\n"
        "print(d, flush=True)\n"
        "if os.fork() == 0:\n"
        "    print(mkscratch('fork_'), flush=True)\n"
        "    sys.exit(0)\n"
        "os.wait()\n"
        "print(os.path.isdir(d), flush=True)\n",
    )
    out, _ = child.communicate(timeout=120)
    assert child.returncode == 0
    parent_dir, fork_dir, parent_alive = out.split()
    assert os.path.dirname(fork_dir) != os.path.dirname(parent_dir)
    assert parent_alive == "True"
    assert list(tmp_path.iterdir()) == []


def test_normal_exit_leaves_no_scratch(tmp_path):
    child = _child(
        tmp_path,
        "d = mkscratch('snap_')\n"
        "os.makedirs(os.path.join(d, 'nested'))\n"
        "open(os.path.join(d, 'nested', 'part-0.parquet'), 'w').write('x')\n",
    )
    child.communicate(timeout=120)
    assert child.returncode == 0
    assert list(tmp_path.iterdir()) == []


def test_snapshot_of_empty_frame_keeps_schema(spark, tmp_path, monkeypatch):
    """An empty snapshot still writes a footer, and the re-read takes
    its column names and types from it."""
    from module8_movies_etl_spark.sources.scratch import snapshot

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    df = spark.sql(_TYPED_SQL).limit(0)
    out = snapshot(df)
    assert out.dtypes == df.dtypes
    assert out.count() == 0
