"""Crash points of the lake's commit protocol.

A writer can die between any two Storage calls. These tests wrap the
session's Storage backend so that its Nth mutating call, and every
mutating call after it, raises (the process died there: no cleanup in
a `finally` block runs either), and enumerate N over every mutating
call one commit makes. After each crash:

  - the table serves exactly the old snapshot or exactly the new;
  - `vacuum_tree(root, min_stage_age_sec=0)` leaves no `.stage-*`,
    `.commit-*` or unpublished version directory;
  - a retried commit publishes the new snapshot (for a few N only: the
    retry is the expensive half of a case).

Every versioned write commits through `lake._commit`: the first
version with `put_if_absent` of the manifest, every later one with
`put_atomic` of the manifest (of the ref, on a branch). Covered:
`merge_upsert_partitioned` on both backends, as the first merge of a
plain tree (which migrates it into the version layout) and as a
steady-state merge; `create_table_versioned` on both backends;
`delete_keys_dv`, `compact_inplace` and `merge_upsert_branch` on
POSIX. The registry at the end (`_ENUMERATED`, `_SHARES_MODE`,
`_UNCOVERED`) names the case, or the reason there is none, for every
public function of `lake.py` and `catalog_txn.py`. `lake._fs` imports
`storage.storage_for` at call time, so patching that one name reaches
every lake call.
"""

from __future__ import annotations

import inspect
import itertools
import os
import re
import shutil

import pytest

from poc_spark.sources import catalog_txn, lake, storage
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


def _has_table(root):
    return os.path.isdir(root) or os.path.exists(lake._manifest_path(root))


def _assert_vacuum_reclaims(root):
    """After vacuum: the same snapshot resolves (or there is still no
    table), no stage or build leftovers remain, and no version
    directory survives that neither the manifest nor a ref publishes:
    each is numbered at or below the manifest's current, or named by a
    branch or tag."""

    def snapshot():
        return lake.resolve_snapshot(root) if _has_table(root) else None

    snap = snapshot()
    lake.vacuum_tree(root, min_stage_age_sec=0)
    assert snapshot() == snap and (snap is None or os.path.isdir(snap))
    parent, base = os.path.split(root)
    names = os.listdir(parent)
    assert not [
        n for n in names if n.startswith((base + ".stage-", base + ".commit-"))
    ], names
    man = lake._read_manifest(root, PosixStorage())
    refs = lake.list_refs(root, PosixStorage()).values()
    pinned = {r["current"] for r in refs} | {r["base"] for r in refs}
    versions = [
        n for n in names if re.fullmatch(re.escape(base) + r"\.v\d{6}", n)
    ]
    assert all(
        v in pinned or (man is not None and v <= man["current"])
        for v in versions
    ), (man, pinned, names)


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


def _before_last(name):
    """`retried` for a retry after a crash just before the last `name`
    call of the commit."""
    return lambda calls: {max(i for i, c in enumerate(calls, 1) if c == name)}


# a steady commit's commit point is its last put_atomic: the manifest
# write (the ref write on a branch)
_before_manifest = _before_last("put_atomic")


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


@pytest.mark.parametrize("backend", sorted(_BACKENDS))
def test_create_survives_a_crash_at_every_storage_call(
    spark, tmp_path, use_storage, backend
):
    def observe(root):
        return _rows(spark, root) if _has_table(root) else None  # no table

    _crash_every_call(
        tmp_path,
        use_storage,
        _BACKENDS[backend],
        lambda root: None,
        lambda root: lake.create_table_versioned(
            spark, _df(spark, _BASE), root, ["p"]
        ),
        observe,
        # the first version's commit point: put_if_absent of the manifest
        _before_last("put_if_absent"),
    )


def test_branch_merge_survives_a_crash_at_every_storage_call(
    spark, tmp_path, use_storage
):
    def build(root):
        lake.create_table_versioned(spark, _df(spark, _BASE), root, ["p"])
        lake.create_branch(spark, root, "dev")

    def observe(root):
        # main never moves; the branch serves its old or its new head
        branch = lake.read_ref(spark, root, "dev").collect()
        return _rows(spark, root), sorted(tuple(r) for r in branch)

    _crash_every_call(
        tmp_path,
        use_storage,
        PosixStorage,
        build,
        lambda root: lake.merge_upsert_branch(
            spark, root, "dev", _df(spark, _UPDATES), "id", "p"
        ),
        observe,
        _before_manifest,
    )


# Every public function of lake.py and catalog_txn.py, in one of three
# groups. 1: crash-enumerated by the case named.
_ENUMERATED = {
    "merge_upsert_partitioned": test_merge_survives_a_crash_at_every_storage_call,
    "create_table_versioned": test_create_survives_a_crash_at_every_storage_call,
    "delete_keys_dv": test_dv_delete_survives_a_crash_at_every_storage_call,
    "compact_inplace": test_compact_survives_a_crash_at_every_storage_call,
    "merge_upsert_branch": test_branch_merge_survives_a_crash_at_every_storage_call,
}
# 2: commits through the same `_commit` mode as the enumerated
# functions named, with a different assembly in the build directory.
_SHARES_MODE = {
    # stage + carry + adopt through _commit_partitions, to main
    "merge_full_partitioned": ("merge_upsert_partitioned",),
    "compact_partitions": ("merge_upsert_partitioned",),
    "fold_dv": ("merge_upsert_partitioned",),
    "merge_apply_cdc": ("merge_upsert_partitioned",),
    # the first delta bootstraps the table like create_table_versioned
    "rollup_incremental": ("create_table_versioned", "merge_upsert_partitioned"),
    # a full rewrite into the build directory, to main
    "repartition_tree": ("compact_inplace",),
    # carry every entry but one, then add a sidecar, to main
    "create_stats_index_tree": ("delete_keys_dv",),
    "create_bloom_index_tree": ("delete_keys_dv",),
}
_READER = "reader: writes nothing"
_PLAIN = "plain Spark overwrite of an unversioned path, outside `_commit`"
_REF = "one ref object write (put_if_absent or delete_obj), atomic alone"
# 3: readers, and mutators no case covers yet, each with the reason.
_UNCOVERED = {
    "append_partitioned_versioned": "streaming append: the exactly-once "
    "batch ids it carries in commit meta have no crash case yet",
    "catalog_init": "catalog transaction: its epoch claims are not "
    "enumerated yet",
    "catalog_txn_upsert": "catalog transaction: branch merges, tags and "
    "an epoch claim across tables, not enumerated yet",
    "vacuum_tree": "deletes only what nothing publishes; a crash inside "
    "it is not enumerated yet",
    "fast_forward_main": "publishes a branch head, then moves the ref "
    "base; the crash between the two is not enumerated yet",
    "create_branch": _REF,
    "create_tag": _REF,
    "delete_ref": _REF,
    "drop_tree": "destructive reset of every path of a tree, not a commit",
    "clone_tree": "carries a snapshot into a new plain directory, "
    "outside `_commit`",
    "write_partitioned": _PLAIN,
    "compact": _PLAIN,
    "write_clustered": _PLAIN,
    "write_orc": _PLAIN,
    "rollup_partial": "pure DataFrame transform",
    **dict.fromkeys(
        [
            "read_partitioned",
            "read_evolved",
            "read_orc",
            "resolve_snapshot",
            "read_snapshot",
            "read_tree_meta",
            "list_versions",
            "version_dir",
            "read_version",
            "list_refs",
            "read_ref",
            "snapshot_diff",
            "cdc_latest_state",
            "change_feed",
            "read_tree_with_skipping",
            "read_tree_with_bloom",
            "catalog_read_table",
        ],
        _READER,
    ),
}


def _public_functions(module):
    return {
        name
        for name, obj in vars(module).items()
        if not name.startswith("_")
        and inspect.isfunction(obj)
        and obj.__module__ == module.__name__
    }


def test_every_public_lake_function_is_registered():
    """A public function of lake.py or catalog_txn.py outside the three
    groups fails here: a new mutator names its crash case, the case
    whose `_commit` mode it shares, or why it has none."""
    groups = [set(_ENUMERATED), set(_SHARES_MODE), set(_UNCOVERED)]
    registered = set().union(*groups)
    assert sum(map(len, groups)) == len(registered), "groups overlap"
    public = _public_functions(lake) | _public_functions(catalog_txn)
    assert (sorted(public - registered), sorted(registered - public)) == (
        [],
        [],
    ), "(unregistered, no longer public)"
    assert all(set(v) <= set(_ENUMERATED) for v in _SHARES_MODE.values())
    assert all(t.__module__ == __name__ for t in _ENUMERATED.values())
