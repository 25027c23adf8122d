"""Crash points of the lake's commit protocol.

A writer can die between any two Storage calls. These tests wrap the
session's Storage backend so that its Nth mutating call, and every
mutating call after it, raises (the process died there: no cleanup in
a `finally` block runs either), and enumerate N over every mutating
call one commit makes. After each crash:

  - `read_snapshot` serves exactly the old snapshot or exactly the new;
  - `vacuum_tree(root, min_stage_age_sec=0)` leaves no `.stage-*`,
    `.commit-*` or unpublished version directory;
  - a retried commit publishes the new snapshot (for a few N only: the
    retry is the expensive half of a case).

Covered: `merge_upsert_partitioned` on both backends, as the first
merge of a plain tree (which migrates it into the version layout) and
as a steady-state merge; `delete_keys_dv` and `compact_inplace` on
POSIX. `lake._fs` imports `storage.storage_for` at call time, so
patching that one name reaches every lake call.
"""

from __future__ import annotations

import itertools
import os
import re
import shutil

import pytest

from poc_spark.sources import lake, storage
from poc_spark.sources.storage import FakeObjectStorage, PosixStorage

_READS = frozenset(
    {"get_bytes", "exists", "is_dir", "list_names", "scan_entries", "mtime"}
)
_BACKENDS = {
    "posix": PosixStorage,
    "fake-objectstore": lambda: FakeObjectStorage(
        page_size=2, copy_chunk_bytes=64
    ),
}


class Crash(RuntimeError):
    """The simulated death of the writer process."""


class CrashingStorage:
    """Delegates to `inner`. Every public method outside the read set
    is a mutating call; from call number `crash_at` on (1-based) each
    one raises Crash instead of running. `crash_at=None` only counts."""

    def __init__(self, inner, crash_at: int | None = None):
        self.inner = inner
        self.crash_at = crash_at
        self.calls: list[str] = []

    def __getattr__(self, name):
        attr = getattr(self.inner, name)
        if name.startswith("_") or name in _READS or not callable(attr):
            return attr

        def call(*args, **kwargs):
            self.calls.append(name)
            if self.crash_at is not None and len(self.calls) >= self.crash_at:
                raise Crash(f"crash at mutating call {len(self.calls)}: {name}")
            return attr(*args, **kwargs)

        return call


@pytest.fixture()
def use_storage(monkeypatch):
    """use_storage(fs) -> fs: every lake call from then on gets `fs`."""
    cell = [None]
    monkeypatch.setattr(storage, "storage_for", lambda *a, **k: cell[0])

    def _set(fs):
        cell[0] = fs
        return fs

    return _set


def _assert_vacuum_reclaims(root):
    """After vacuum: the same snapshot resolves, no stage or build
    leftovers remain, and no version directory is numbered above the
    one the manifest publishes."""
    snap = lake.resolve_snapshot(root)
    lake.vacuum_tree(root, min_stage_age_sec=0)
    assert lake.resolve_snapshot(root) == snap and os.path.isdir(snap)
    parent, base = os.path.split(root)
    names = os.listdir(parent)
    assert not [
        n for n in names if n.startswith((base + ".stage-", base + ".commit-"))
    ], names
    man = lake._read_manifest(root, PosixStorage())
    versions = [
        n for n in names if re.fullmatch(re.escape(base) + r"\.v\d{6}", n)
    ]
    if man is None:
        assert versions == [], names  # nothing published, nothing kept
    else:
        assert all(v <= man["current"] for v in versions), (man, names)


def _crash_every_call(
    tmp_path, use_storage, make_fs, build, op, observe, retried
):
    """Build the base tree once; then for N = 1, 2, ... run `op` on a
    fresh copy of it with a crash before mutating call N, until a run
    makes fewer than N calls and completes. Check the recovery contract
    after every crash. `observe(root)` is the snapshot state compared;
    `retried(calls)` names the N values whose crash is followed by a
    retry. Returns the completed run's mutating calls."""
    base = tmp_path / "base"
    base.mkdir()
    use_storage(make_fs())
    build(str(base / "t"))
    old = observe(str(base / "t"))
    crashed = {}
    for n in itertools.count(1):
        shutil.copytree(base, tmp_path / f"n{n}", symlinks=True)
        root = str(tmp_path / f"n{n}" / "t")
        wrapper = use_storage(CrashingStorage(make_fs(), crash_at=n))
        try:
            op(root)
        except Crash:
            use_storage(make_fs())
            crashed[n] = (root, observe(root))
            _assert_vacuum_reclaims(root)
            continue
        use_storage(make_fs())
        new = observe(root)
        break
    calls = wrapper.calls
    assert len(calls) == len(crashed) and new != old
    for n, (root, got) in crashed.items():
        assert got in (old, new), (n, calls[n - 1])
    for n in retried(calls):
        op(crashed[n][0])
        assert observe(crashed[n][0]) == new, n
    return calls


def _df(spark, rows):
    return spark.createDataFrame(rows, "id INT, p STRING, v STRING")


def _rows(spark, root):
    return sorted(tuple(r) for r in lake.read_snapshot(spark, root).collect())


# twelve rows over partitions a, b, c; the merge moves key 3 from a to
# c, updates key 6 in a and inserts key 100 into c, and carries b
_BASE = [(i, "abc"[i % 3], f"v{i}") for i in range(12)]
_UPDATES = [(3, "c", "moved"), (6, "a", "upd"), (100, "c", "new")]


def _before_manifest(calls):
    # the commit point is the last put_atomic: the manifest write
    return {max(i for i, c in enumerate(calls, 1) if c == "put_atomic")}


@pytest.mark.parametrize("backend", sorted(_BACKENDS))
@pytest.mark.parametrize("phase", ["first", "steady"])
def test_merge_survives_a_crash_at_every_storage_call(
    spark, tmp_path, use_storage, backend, phase
):
    def build(root):
        lake.write_partitioned(_df(spark, _BASE), root, ["p"])
        if phase == "steady":
            lake.merge_upsert_partitioned(
                spark, root, _df(spark, [(200, "a", "seed")]), "id", "p"
            )

    def op(root):
        lake.merge_upsert_partitioned(
            spark, root, _df(spark, _UPDATES), "id", "p"
        )

    _crash_every_call(
        tmp_path,
        use_storage,
        _BACKENDS[backend],
        build,
        op,
        lambda root: _rows(spark, root),
        # the first merge retries after a crash between its migration's
        # manifest write and the move of the plain tree; the steady one
        # after a crash just before its commit point
        (lambda calls: {2}) if phase == "first" else _before_manifest,
    )


def test_dv_delete_survives_a_crash_at_every_storage_call(
    spark, tmp_path, use_storage
):
    def build(root):
        lake.write_partitioned(_df(spark, _BASE), root, ["p"])
        lake.merge_upsert_partitioned(
            spark, root, _df(spark, [(200, "a", "seed")]), "id", "p"
        )

    def op(root):
        lake.delete_keys_dv(spark, root, _df(spark, [(4, "b", "")]), "id", "p")

    _crash_every_call(
        tmp_path,
        use_storage,
        PosixStorage,
        build,
        op,
        lambda root: _rows(spark, root),
        _before_manifest,
    )


def test_compact_survives_a_crash_at_every_storage_call(
    spark, tmp_path, use_storage
):
    def build(root):
        lake.create_table_versioned(
            spark, _df(spark, _BASE).repartition(6), root
        )

    def observe(root):
        # compaction keeps the rows; the snapshots differ in file count
        snap = lake.resolve_snapshot(root)
        files = [f for f in os.listdir(snap) if f.endswith(".parquet")]
        return _rows(spark, root), len(files)

    _crash_every_call(
        tmp_path,
        use_storage,
        PosixStorage,
        build,
        lambda root: lake.compact_inplace(spark, root),
        observe,
        _before_manifest,
    )
