"""Lake layouts: hive-partitioned parquet (pruning pinned in the
physical plan) and ORC round-trip losslessness."""

from __future__ import annotations

from pyspark.sql import functions as F

from poc_spark.sources.jsonl import DOCUMENTS_SCHEMA
from poc_spark.sources.lake import (
    read_orc,
    read_partitioned,
    write_orc,
    write_partitioned,
)


def test_partitioned_roundtrip_lossless(spark, sf_dir, tmp_path_repo):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path_repo / "hive")
    write_partitioned(docs, path, ["lang"])
    back = read_partitioned(spark, path)
    # partition col comes back last; reorder by name before comparing
    cols = [f.name for f in DOCUMENTS_SCHEMA.fields]
    a = sorted(docs.select(*cols).collect(), key=lambda r: r["doc_id"])
    b = sorted(back.select(*cols).collect(), key=lambda r: r["doc_id"])
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_partition_filter_prunes_at_listing(spark, sf_dir, tmp_path_repo):
    """The lang filter must land in PartitionFilters (resolved at file
    listing), NOT PushedFilters (row-group skipping after the file is
    already opened) — the difference between reading 2/5 and 5/5 of a
    100 TB corpus."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path_repo / "hive")
    write_partitioned(docs, path, ["lang"])
    pruned = read_partitioned(spark, path).filter(
        F.col("lang").isin("en", "de")
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the filter must be INSIDE the PartitionFilters bracket — 'lang'
    # elsewhere on the FileScan line (output attrs, PushedFilters)
    # would pass even with pruning broken
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*lang", plan)
    # and the pruned scan must agree with the unpruned truth
    expect = docs.filter(F.col("lang").isin("en", "de")).count()
    assert pruned.count() == expect


def test_partitioned_overwrite_removes_stale_partitions(
    spark, tmp_path_repo
):
    """Static overwrite replaces the TREE: a value present in run 1 but
    absent in run 2 must not survive as an orphan directory."""
    path = str(tmp_path_repo / "hive")
    df1 = spark.createDataFrame(
        [(1, "a", "en", "s", 1), (2, "b", "xx", "s", 1)], DOCUMENTS_SCHEMA
    )
    write_partitioned(df1, path, ["lang"])
    df2 = spark.createDataFrame([(3, "c", "en", "s", 1)], DOCUMENTS_SCHEMA)
    write_partitioned(df2, path, ["lang"])
    langs = {r["lang"] for r in read_partitioned(spark, path).collect()}
    assert langs == {"en"}


def test_compact_file_count_and_content(spark, sf_dir, tmp_path_repo):
    """64 tiny fragments → ceil(total/target) files, content-lossless."""
    import math

    from poc_spark.sources.lake import compact

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    frag = str(tmp_path_repo / "frag")
    out = str(tmp_path_repo / "compacted")
    docs.repartition(64).write.mode("overwrite").parquet(frag)
    n_frag = len(list((tmp_path_repo / "frag").glob("*.parquet")))
    assert n_frag == 64

    total = sum(
        p.stat().st_size for p in (tmp_path_repo / "frag").glob("*.parquet")
    )
    target = 256 * 1024
    n = compact(spark, frag, out, target_bytes=target)
    assert n == max(1, math.ceil(total / target))
    files = list((tmp_path_repo / "compacted").glob("*.parquet"))
    assert len(files) == n

    a = sorted(docs.collect(), key=lambda r: r["doc_id"])
    b = sorted(
        spark.read.parquet(out).collect(), key=lambda r: r["doc_id"]
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_compact_round_robin_uniform_rows(spark, sf_dir, tmp_path_repo):
    """Round-robin repartition must spread rows evenly across output
    files even when the data is skewed on every column — no file may
    hold more than ~2x its fair share."""
    from poc_spark.sources.lake import compact

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    frag = str(tmp_path_repo / "frag")
    out = str(tmp_path_repo / "compacted")
    docs.repartition(16).write.mode("overwrite").parquet(frag)
    total_bytes = sum(
        p.stat().st_size for p in (tmp_path_repo / "frag").glob("*.parquet")
    )
    n = compact(
        spark, frag, out, target_bytes=max(1, total_bytes // 4)
    )
    if n < 2:  # corpus too small to split at this sf; count check only
        return
    import collections

    import pyspark.sql.functions as SF

    per_file = (
        spark.read.parquet(out)
        .groupBy(SF.input_file_name())
        .count()
        .collect()
    )
    counts = [r["count"] for r in per_file]
    assert len(counts) == n
    fair = sum(counts) / n
    assert max(counts) <= 2 * fair


def test_compact_refuses_partitioned_tree(spark, sf_dir, tmp_path_repo):
    """The flat compact() refuses a hive tree outright: its files sit
    one level down, so the listing finds no bytes to size from."""
    import pytest as pt

    from poc_spark.sources.lake import compact

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = str(tmp_path_repo / "hive_frag")
    dst = str(tmp_path_repo / "hive_compacted")
    docs.repartition(8).write.mode("overwrite").partitionBy(
        "lang"
    ).parquet(src)

    with pt.raises(ValueError, match="per partition"):
        compact(spark, src, dst)


def test_clustered_files_have_disjoint_ranges(spark, sf_dir, tmp_path_repo):
    """repartitionByRange must give each output file a disjoint
    n_chars interval — the property file-level skipping rests on."""
    from poc_spark.sources.lake import write_clustered

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path_repo / "clustered")
    write_clustered(docs, path, "n_chars", n_files=4)
    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi"))
        .collect()
    )
    spans = sorted((r["lo"], r["hi"]) for r in per_file)
    # STRICT <: range partitioning never splits equal keys across
    # files, so touching boundaries (hi_prev == lo_next) would mean a
    # duplicated value — exactly the layout break this test exists for
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev < lo_next
    # and content survives the clustered rewrite
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    assert (
        back.agg(F.sum("n_chars")).first()[0]
        == docs.agg(F.sum("n_chars")).first()[0]
    )


def test_clustered_range_filter_is_pushed(spark, sf_dir, tmp_path_repo):
    from poc_spark.sources.lake import write_clustered

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path_repo / "clustered")
    write_clustered(docs, path, "n_chars", n_files=4)
    q = spark.read.parquet(path).filter(
        F.col("n_chars").between(200, 400)
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    pushed = next(
        line for line in plan.splitlines() if "PushedFilters" in line
    )
    assert "GreaterThanOrEqual(n_chars" in pushed
    assert "LessThanOrEqual(n_chars" in pushed
    expect = docs.filter(F.col("n_chars").between(200, 400)).count()
    assert q.count() == expect


def test_schema_evolution_merge(spark, tmp_path_repo):
    """Later batches add a column; mergeSchema surfaces NULL for rows
    that predate it, and old rows keep their values untouched."""
    from pyspark.sql import types as T

    from poc_spark.sources.lake import read_evolved

    path = str(tmp_path_repo / "evolved")
    old = spark.createDataFrame(
        [(1, "a", "en", "s", 1)], DOCUMENTS_SCHEMA
    )
    old.write.mode("overwrite").parquet(path)
    new_schema = T.StructType(
        DOCUMENTS_SCHEMA.fields
        + [T.StructField("quality", T.DoubleType())]
    )
    new = spark.createDataFrame(
        [(2, "b", "en", "s", 1, 0.5)], new_schema
    )
    new.write.mode("append").parquet(path)

    rows = {
        r["doc_id"]: r
        for r in read_evolved(spark, path).collect()
    }
    assert set(rows) == {1, 2}
    assert rows[1]["quality"] is None
    assert rows[2]["quality"] == 0.5
    assert rows[1]["text"] == "a" and rows[2]["text"] == "b"
    # a plain (non-merge) read of the same dir may pick either footer;
    # the merged read must expose the UNION schema deterministically
    assert "quality" in read_evolved(spark, path).columns


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    values=st.lists(
        # tiny value domain → heavy duplication, the adversarial case
        # for range layout (equal keys must never split across files)
        st.integers(min_value=0, max_value=9),
        min_size=1,
        max_size=200,
    ),
    n_files=st.integers(min_value=1, max_value=6),
)
def test_clustered_disjointness_property(spark, values, n_files):
    """Property: for ANY value multiset and file count, the clustered
    layout keeps per-file n_chars ranges strictly disjoint and loses
    no rows. Duplicate-heavy domains are the stress case — a range
    partitioner that ever split an equal-key run would fail here."""
    import pathlib
    import shutil
    import uuid

    from poc_spark.sources.lake import write_clustered

    rows = [(i, "x", "en", "s", v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    base = (
        pathlib.Path(__file__).resolve().parent.parent
        / ".tmp"
        / "pytest"
        / f"hypo_{uuid.uuid4().hex[:12]}"
    )
    try:
        write_clustered(df, str(base), "n_chars", n_files=n_files)
        back = spark.read.parquet(str(base))
        got = sorted(r["n_chars"] for r in back.collect())
        assert got == sorted(values)
        per_file = (
            back.groupBy(F.input_file_name().alias("f"))
            .agg(
                F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi")
            )
            .collect()
        )
        spans = sorted((r["lo"], r["hi"]) for r in per_file)
        for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
            assert hi_prev < lo_next
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_orc_roundtrip_lossless(spark, sf_dir, tmp_path_repo):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path_repo / "orc")
    write_orc(docs, path)
    back = read_orc(spark, path, DOCUMENTS_SCHEMA)
    a = sorted(docs.collect(), key=lambda r: r["doc_id"])
    b = sorted(back.collect(), key=lambda r: r["doc_id"])
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_orc_preserves_unicode_and_nulls(spark, tmp_path_repo):
    rows = [(1, "שלום 🦆\nline2", "he", None, None), (2, None, "en", "s", 0)]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    path = str(tmp_path_repo / "orc")
    write_orc(df, path)
    back = sorted(
        read_orc(spark, path, DOCUMENTS_SCHEMA).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [tuple(r) for r in back] == rows


def test_merge_upsert_rewrites_only_affected_partitions(spark, tmp_path):
    """CoW MERGE semantics + write amplification: updates keyed into
    lang=en plus inserts creating lang=xx must leave every other
    partition's files byte-for-byte untouched (same paths, sizes,
    mtimes), rewrite lang=en without the old versions, and create the
    new partition. Content checked against a pandas emulation."""
    import os

    import pyspark.sql.functions as F

    from poc_spark.sources.lake import (
        merge_upsert_partitioned,
        read_snapshot,
        resolve_snapshot,
        write_partitioned,
    )

    root = str(tmp_path / "tree")
    base = spark.createDataFrame(
        [
            (1, "alpha", "en", "web", 5),
            (2, "beta", "en", "web", 4),
            (3, "gamma", "de", "web", 5),
            (4, "delta", "fr", "book", 5),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    write_partitioned(base, root, ["lang"])

    def snapshot(part):
        d = os.path.join(resolve_snapshot(root), f"lang={part}")
        return sorted(
            (f, os.path.getsize(os.path.join(d, f)),
             os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before_de, before_fr = snapshot("de"), snapshot("fr")

    updates = spark.createDataFrame(
        [
            (1, "alpha v2", "en", "web", 8),      # matched update
            (9, "epsilon", "xx", "synthetic", 7),  # new key, new partition
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    affected = merge_upsert_partitioned(spark, root, updates, "doc_id", "lang")
    assert affected == ["en", "xx"]

    assert snapshot("de") == before_de
    assert snapshot("fr") == before_fr

    got = {
        r["doc_id"]: (r["text"], r["lang"], r["n_chars"])
        for r in read_snapshot(spark, root).collect()
    }
    assert got == {
        1: ("alpha v2", "en", 8),
        2: ("beta", "en", 4),
        3: ("gamma", "de", 5),
        4: ("delta", "fr", 5),
        9: ("epsilon", "xx", 7),
    }


def test_merge_upsert_key_moves_partition(spark, tmp_path):
    """A key whose update lands in a DIFFERENT partition: the old
    partition is rewritten without it, the new one with it — no
    duplicate survives anywhere in the tree."""
    from poc_spark.sources.lake import (
        merge_upsert_partitioned,
        read_snapshot,
        write_partitioned,
    )

    root = str(tmp_path / "tree")
    base = spark.createDataFrame(
        [(1, "a", "en", "w", 1), (2, "b", "de", "w", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    write_partitioned(base, root, ["lang"])
    updates = spark.createDataFrame(
        [(1, "a-moved", "de", "w", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    affected = merge_upsert_partitioned(spark, root, updates, "doc_id", "lang")
    assert affected == ["de", "en"]
    rows = sorted(
        (r["doc_id"], r["text"], r["lang"])
        for r in read_snapshot(spark, root).collect()
    )
    assert rows == [(1, "a-moved", "de"), (2, "b", "de")]


def test_snapshot_diff_classification(spark, tmp_path):
    """Hand-built snapshots: every status class exercised, keys exact;
    compare_cols defaulting excludes the key."""
    from poc_spark.sources.lake import snapshot_diff

    a = spark.createDataFrame(
        [(1, "same", 4), (2, "old", 3), (3, "gone", 4)],
        "id long, text string, n long",
    )
    b = spark.createDataFrame(
        [(1, "same", 4), (2, "new", 3), (9, "born", 4)],
        "id long, text string, n long",
    )
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    a.write.parquet(ra)
    b.write.parquet(rb)
    got = {
        r["id"]: r["status"]
        for r in snapshot_diff(spark, ra, rb, ["id"]).collect()
    }
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 9: "added"}


def test_snapshot_diff_no_compare_cols_raises(spark, tmp_path):
    """Snapshots sharing no non-key columns: changed-vs-unchanged is
    undefined, so the call must fail loudly instead of hashing zero
    columns (r6 ADVICE)."""
    import pytest

    from poc_spark.sources.lake import snapshot_diff

    a = spark.createDataFrame([(1, "x")], "id long, only_left string")
    b = spark.createDataFrame([(1, 9)], "id long, only_right long")
    ra, rb = str(tmp_path / "a"), str(tmp_path / "b")
    a.write.parquet(ra)
    b.write.parquet(rb)
    with pytest.raises(ValueError, match="no compare columns"):
        snapshot_diff(spark, ra, rb, ["id"])


# ---------------------------------------------------------------------------
# atomic version-pointer publish (VERDICT r6 #5)
# ---------------------------------------------------------------------------


def _tree_content(spark, root):
    from poc_spark.sources.lake import read_snapshot

    return sorted(
        (r["doc_id"], r["text"], r["lang"], r["n_chars"])
        for r in read_snapshot(spark, root).collect()
    )


def test_merge_upsert_reader_sees_old_or_new_never_mix(spark, tmp_path):
    """The VERDICT r6 #5 'done' criterion: snapshot the LIVE tree (as
    any concurrent reader resolves it, through the manifest) at the moment
    the rewrite is fully staged but not yet published — it must be
    byte-identical to the pre-merge tree; after publish it is the
    complete merged tree. And the untouched partition's data is
    PROVABLY the same bytes: same inode, hardlinked across versions."""
    import json
    import os

    from poc_spark.sources.lake import (
        merge_upsert_partitioned,
        write_partitioned,
    )

    root = str(tmp_path / "tree")
    base = spark.createDataFrame(
        [(1, "a", "en", "w", 1), (2, "b", "de", "w", 1),
         (3, "c", "fr", "w", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    write_partitioned(base, root, ["lang"])
    before = _tree_content(spark, root)
    mid_snapshots = []

    def hook():
        # a "concurrent reader": list + read the tree through the
        # manifest while the new version is fully staged
        spark.catalog.refreshByPath(root)
        mid_snapshots.append(_tree_content(spark, root))

    updates = spark.createDataFrame(
        [(1, "a2", "en", "w", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    merge_upsert_partitioned(
        spark, root, updates, "doc_id", "lang", _pre_publish_hook=hook
    )
    assert mid_snapshots == [before]  # mid-write reader: the OLD tree
    after = _tree_content(spark, root)
    assert after == [(1, "a2", "en", 9), (2, "b", "de", 1),
                     (3, "c", "fr", 1)]

    # untouched partitions are hardlinks of the previous version's files
    def inodes(d):
        return {f: os.stat(os.path.join(d, f)).st_ino
                for f in os.listdir(d) if f.endswith(".parquet")}

    v1, v2 = f"{root}.v000001", f"{root}.v000002"
    with open(f"{root}._VERSION.json") as f:
        assert json.load(f)["current"] == "tree.v000002"
    assert not os.path.lexists(root)
    for part in ("lang=de", "lang=fr"):
        assert inodes(os.path.join(v1, part)) == inodes(
            os.path.join(v2, part)
        )
    # the rewritten partition is new files, not shared ones
    assert not set(inodes(os.path.join(v1, "lang=en")).values()) & set(
        inodes(os.path.join(v2, "lang=en")).values()
    )


def test_merge_upsert_crash_before_publish_leaves_old_tree(spark, tmp_path):
    """A writer crash after staging but before the pointer flip must
    leave the published tree untouched, and a retry must succeed."""
    import pytest

    from poc_spark.sources.lake import (
        merge_upsert_partitioned,
        write_partitioned,
    )

    root = str(tmp_path / "tree")
    base = spark.createDataFrame(
        [(1, "a", "en", "w", 1), (2, "b", "de", "w", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    write_partitioned(base, root, ["lang"])
    before = _tree_content(spark, root)
    updates = spark.createDataFrame(
        [(1, "a2", "en", "w", 9)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )

    def crash():
        raise RuntimeError("writer died before publish")

    with pytest.raises(RuntimeError, match="before publish"):
        merge_upsert_partitioned(
            spark, root, updates, "doc_id", "lang", _pre_publish_hook=crash
        )
    spark.catalog.refreshByPath(root)
    assert _tree_content(spark, root) == before
    # retry (no hook) completes and publishes
    merge_upsert_partitioned(spark, root, updates, "doc_id", "lang")
    assert _tree_content(spark, root) == [(1, "a2", "en", 9),
                                          (2, "b", "de", 1)]


def test_compact_inplace_atomic_and_cross_engine(spark, tmp_path):
    """In-place compaction: mid-rewrite readers see the old fragmented
    tree (same files, same content); after publish, n uniform files
    with identical content — and DuckDB reads the version directory
    the manifest names (the oracle-compatibility pin)."""
    import os

    import duckdb

    from poc_spark.sources.lake import (
        compact_inplace,
        read_snapshot,
        resolve_snapshot,
    )

    root = str(tmp_path / "frag")
    df = spark.range(0, 5000).selectExpr(
        "id AS doc_id", "repeat('x', 100) AS text"
    )
    df.repartition(16).write.parquet(root)
    assert len([f for f in os.listdir(root) if f.endswith(".parquet")]) == 16
    want = sorted(r["doc_id"] for r in spark.read.parquet(root).collect())
    mid = []

    def hook():
        spark.catalog.refreshByPath(root)
        snap = resolve_snapshot(root)
        files = [f for f in os.listdir(snap) if f.endswith(".parquet")]
        rows = sorted(r["doc_id"] for r in read_snapshot(spark, root).collect())
        mid.append((len(files), rows))

    n = compact_inplace(
        spark, root, target_bytes=1 << 30, _pre_publish_hook=hook
    )
    assert n == 1
    assert mid == [(16, want)]  # mid-write: old fragmented tree intact
    snap = resolve_snapshot(root)
    assert (
        len([f for f in os.listdir(snap) if f.endswith(".parquet")]) == 1
    )
    assert sorted(
        r["doc_id"] for r in read_snapshot(spark, root).collect()
    ) == want
    got = duckdb.sql(
        f"SELECT count(*), sum(doc_id) FROM read_parquet('{snap}/*.parquet')"
    ).fetchone()
    assert got == (5000, sum(range(5000)))


def test_unknown_scheme_names_the_storage_extension_point(spark):
    import pytest

    from poc_spark.sources.lake import compact_inplace

    # a real object-store path under the posix backend has no client
    # in this container: the error must name the Storage subclass
    # extension point rather than half-working through os.*
    with pytest.raises(ValueError, match="Storage subclass"):
        compact_inplace(spark, "s3://bucket/tree")


def test_time_travel_previous_version_is_frozen(spark, tmp_path):
    """Published versions are immutable: after a commit, reading the
    previous version number serves the PRE-commit content; the pointer
    serves the new content; a second commit prunes the oldest version,
    which must then raise with the retained list."""
    import pytest

    from poc_spark.sources.lake import (
        list_versions,
        merge_upsert_partitioned,
        read_version,
        version_dir,
        write_partitioned,
    )

    schema = (
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    root = str(tmp_path / "tree")
    base = spark.createDataFrame(
        [
            (1, "alpha", "en", "web", 5),
            (2, "beta", "en", "web", 4),
            (3, "gamma", "de", "web", 5),
        ],
        schema,
    )
    write_partitioned(base, root, ["lang"])

    def state(df):
        return {r["doc_id"]: (r["text"], r["n_chars"]) for r in df.collect()}

    orig = state(spark.read.parquet(root))

    up1 = spark.createDataFrame([(1, "alpha v2", "en", "web", 8)], schema)
    merge_upsert_partitioned(spark, root, up1, "doc_id", "lang")
    v_base, v_one = list_versions(root)

    # time travel to the pre-commit snapshot: exact original content
    assert state(read_version(spark, root, v_base)) == orig
    # pointer (and version=None) serve the committed state
    after1 = {**orig, 1: ("alpha v2", 8)}
    assert state(read_version(spark, root, None)) == after1
    assert state(read_version(spark, root, v_one)) == after1

    # second commit: base version is pruned (retention = current+prev)
    up2 = spark.createDataFrame([(2, "beta v3", "en", "web", 7)], schema)
    merge_upsert_partitioned(spark, root, up2, "doc_id", "lang")
    assert list_versions(root) == [v_one, v_one + 1]
    with pytest.raises(ValueError, match="not retained"):
        version_dir(root, v_base)
    # v_one is now the frozen previous: still exactly the post-commit-1
    # state even though the pointer moved on
    assert state(read_version(spark, root, v_one)) == after1
    assert state(read_version(spark, root, None)) == {
        **after1,
        2: ("beta v3", 7),
    }


def test_cdc_latest_state_semantics(spark):
    """Last-event-wins, tombstone shadowing, and re-insert
    resurrection — fed in scrambled order so only the seq column (not
    input order) can determine the outcome. The plan must be a single
    hash aggregation (map-side partial max_by), never a window sort."""
    from poc_spark.sources.lake import cdc_latest_state

    log = spark.createDataFrame(
        [
            (2, "y", 2, "U"),      # k=2: shadowed by the later delete
            (1, "a", 1, "I"),
            (3, "re", 4, "I"),     # k=3: resurrected after a delete
            (2, None, 3, "D"),
            (4, None, 1, "D"),     # k=4: only ever a tombstone
            (1, "b", 2, "U"),      # k=1: plain last-wins
            (3, "m", 1, "I"),
            (2, "x", 1, "I"),
            (3, None, 2, "D"),
        ],
        "k long, val string, seq int, op string",
    )
    state = cdc_latest_state(log, ["k"], "seq", "op")
    assert {r["k"]: r["val"] for r in state.collect()} == {1: "b", 3: "re"}
    assert state.columns == ["k", "val"]
    plan = state._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "max_by" in plan or "MaxBy" in plan


def test_rollup_incremental_merges_partials_and_carries_rest(spark, tmp_path):
    """Incremental maintenance == from-scratch recompute, while
    untouched months' files are carried byte-for-byte (same name,
    size, mtime — hardlinks); an empty delta is a no-op."""
    import os

    from poc_spark.sources.lake import (
        rollup_incremental,
        read_snapshot,
        resolve_snapshot,
        rollup_partial,
        write_partitioned,
    )

    schema = "month string, k string, v long"
    base = spark.createDataFrame(
        [
            ("2024-01", "a", 10),
            ("2024-01", "b", 1),
            ("2024-02", "a", 5),
            ("2024-03", "b", 7),
        ],
        schema,
    )
    delta = spark.createDataFrame(
        [
            ("2024-02", "a", 2),   # merges into an existing (month, key)
            ("2024-02", "b", 3),   # new key in an existing month
            ("2024-04", "a", 9),   # brand-new month partition
        ],
        schema,
    )
    root = str(tmp_path / "rollup")
    write_partitioned(
        rollup_partial(base, "month", ["k"], ["v"]), root, ["month"]
    )

    def snapshot(month):
        d = os.path.join(resolve_snapshot(root), f"month={month}")
        return sorted(
            (f, os.path.getsize(os.path.join(d, f)),
             os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before = {m: snapshot(m) for m in ("2024-01", "2024-03")}

    affected = rollup_incremental(spark, root, delta, "month", ["k"], ["v"])
    assert affected == ["2024-02", "2024-04"]
    for m, snap in before.items():
        assert snapshot(m) == snap, f"untouched month {m} was rewritten"

    def state(df):
        return {
            (r["month"], r["k"]): (r["n_rows"], r["sum_v"])
            for r in df.collect()
        }

    want = state(
        rollup_partial(base.unionByName(delta), "month", ["k"], ["v"])
    )
    assert state(read_snapshot(spark, root)) == want

    # empty delta: no partitions touched, content unchanged
    assert (
        rollup_incremental(
            spark, root, delta.filter("1=0"), "month", ["k"], ["v"]
        )
        == []
    )
    assert state(read_snapshot(spark, root)) == want


def test_merge_apply_cdc_delete_arm(spark, tmp_path):
    """The full MERGE with tombstones: updates replace, inserts land,
    the last-delete key vanishes from its partition, a delete-then-
    reinsert key survives with the new image, and partitions that hold
    no affected key are carried byte-for-byte."""
    import os

    from poc_spark.sources.lake import (
        merge_apply_cdc,
        read_snapshot,
        resolve_snapshot,
        write_partitioned,
    )

    base_schema = "k long, text string, lang string, n long"
    base = spark.createDataFrame(
        [
            (1, "a", "en", 1),
            (2, "b", "en", 2),
            (3, "c", "de", 3),
            (4, "d", "fr", 4),
        ],
        base_schema,
    )
    root = str(tmp_path / "tree")
    write_partitioned(base, root, ["lang"])

    def snapshot(part):
        d = os.path.join(resolve_snapshot(root), f"lang={part}")
        return sorted(
            (f, os.path.getsize(os.path.join(d, f)),
             os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before_fr = snapshot("fr")

    log_schema = "k long, text string, lang string, n long, seq int, op string"
    log = spark.createDataFrame(
        [
            (1, "a2", "en", 10, 2, "U"),   # update in place
            (2, None, None, None, 2, "D"),  # tombstone: key 2 gone
            (3, None, None, None, 2, "D"),
            (3, "c2", "xx", 30, 3, "I"),    # delete then re-insert: moves
            (9, "new", "de", 9, 1, "I"),    # fresh insert
        ],
        log_schema,
    )
    affected = merge_apply_cdc(spark, root, log, "k", "lang")
    assert affected == ["de", "en", "xx"]
    assert snapshot("fr") == before_fr

    got = {
        r["k"]: (r["text"], r["lang"], r["n"])
        for r in read_snapshot(spark, root).collect()
    }
    assert got == {
        1: ("a2", "en", 10),
        3: ("c2", "xx", 30),
        4: ("d", "fr", 4),
        9: ("new", "de", 9),
    }


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),    # key (small → collisions)
            st.sampled_from(["I", "U", "D"]),         # op
            st.integers(min_value=0, max_value=99),   # value payload
        ),
        min_size=0,
        max_size=40,
    )
)
def test_cdc_latest_state_matches_sequential_replay(spark, events):
    """Property: for ANY event log, the one-pass max_by compaction
    equals a literal sequential replay of the log in seq order — the
    definition of CDC apply. Small key domain forces dense per-key
    histories (update-after-delete, delete-as-last, repeated ops)."""
    from poc_spark.sources.lake import cdc_latest_state

    rows = [
        (k, op, v, i + 1) for i, (k, op, v) in enumerate(events)
    ]
    # sequential replay reference (pure python)
    state: dict = {}
    for k, op, v, _seq in rows:
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v
    df = spark.createDataFrame(
        rows or [(0, "D", 0, 1)],  # createDataFrame needs ≥1 row; a
        "k long, op string, v long, seq long",  # lone delete = empty state
    )
    got = {
        r["k"]: r["v"]
        for r in cdc_latest_state(df, ["k"], "seq", "op").collect()
    }
    want = state if rows else {}
    assert got == want


def test_rollup_min_max_merge(spark, tmp_path):
    """min/max rollup columns merge correctly across base + delta —
    the other decomposable aggregate family."""
    from poc_spark.sources.lake import (
        rollup_incremental,
        read_snapshot,
        rollup_partial,
        write_partitioned,
    )

    schema = "month string, k string, v long"
    base = spark.createDataFrame(
        [("2024-01", "a", 10), ("2024-01", "a", 3), ("2024-02", "a", 5)],
        schema,
    )
    delta = spark.createDataFrame(
        [("2024-01", "a", 99), ("2024-01", "a", 1)], schema
    )
    root = str(tmp_path / "r")
    write_partitioned(
        rollup_partial(base, "month", ["k"], ["v"], min_cols=["v"],
                       max_cols=["v"]),
        root,
        ["month"],
    )
    rollup_incremental(
        spark, root, delta, "month", ["k"], ["v"], min_cols=["v"],
        max_cols=["v"],
    )
    got = {
        (r["month"], r["k"]): (r["n_rows"], r["sum_v"], r["min_v"], r["max_v"])
        for r in read_snapshot(spark, root).collect()
    }
    assert got == {
        ("2024-01", "a"): (4, 113, 1, 99),
        ("2024-02", "a"): (1, 5, 5, 5),
    }


def test_vacuum_tree_removes_only_unreachable(spark, tmp_path):
    """vacuum removes stage leftovers and over-retention versions but
    never the pointer's current target or the retained previous."""
    import os

    from poc_spark.sources.lake import (
        merge_upsert_partitioned,
        read_snapshot,
        vacuum_tree,
        write_partitioned,
    )

    schema = "k long, text string, lang string, n long"
    root = str(tmp_path / "tree")
    base = spark.createDataFrame([(1, "a", "en", 1)], schema)
    write_partitioned(base, root, ["lang"])
    up = spark.createDataFrame([(1, "a2", "en", 2)], schema)
    merge_upsert_partitioned(spark, root, up, "k", "lang")
    # fake a crashed writer + a stale ancient version
    os.makedirs(f"{root}.stage-deadbeef/lang=en")
    os.makedirs(f"{root}.v000000")
    removed = vacuum_tree(root)
    names = {os.path.basename(r) for r in removed}
    assert names == {"tree.stage-deadbeef", "tree.v000000"}
    # both retained versions still readable
    assert read_snapshot(spark, root).count() == 1
    assert os.path.isdir(f"{root}.v000001")


def test_clone_tree_zero_copy_and_isolated(spark, tmp_path):
    """A clone shares every data block (same inodes), reads
    identically, and a CoW merge on the ORIGINAL never disturbs the
    clone's content."""
    import os

    from poc_spark.sources.lake import (
        clone_tree,
        merge_upsert_partitioned,
        read_snapshot,
        write_partitioned,
    )

    schema = "k long, text string, lang string, n long"
    root = str(tmp_path / "tree")
    dst = str(tmp_path / "clone")
    base = spark.createDataFrame(
        [(1, "a", "en", 1), (2, "b", "de", 2)], schema
    )
    write_partitioned(base, root, ["lang"])
    n = clone_tree(root, dst)
    assert n > 0

    def inodes(d):
        return {
            f: os.stat(os.path.join(p, f)).st_ino
            for p, _, fs in os.walk(d)
            for f in fs
            if f.endswith(".parquet")
        }

    assert inodes(root) == inodes(dst)  # same blocks, zero bytes copied

    def state(path):
        return {
            r["k"]: r["text"] for r in read_snapshot(spark, path).collect()
        }

    before = state(dst)
    up = spark.createDataFrame([(1, "a2", "en", 9)], schema)
    merge_upsert_partitioned(spark, root, up, "k", "lang")
    assert state(root) == {1: "a2", 2: "b"}
    assert state(dst) == before  # clone untouched by the merge


def test_vacuum_age_floor_spares_live_stage(tmp_path):
    """A stage directory younger than min_stage_age_sec is a possibly
    LIVE writer's staging area and must survive the vacuum; an aged
    one is a crash leftover and goes."""
    import os
    import time

    from poc_spark.sources.lake import vacuum_tree

    root = str(tmp_path / "tree")
    os.makedirs(root)  # plain tree, no versions — stages are the point
    live = f"{root}.stage-11111111"
    dead = f"{root}.stage-22222222"
    os.makedirs(live)
    os.makedirs(dead)
    old = time.time() - 7200
    os.utime(dead, (old, old))
    removed = vacuum_tree(root, min_stage_age_sec=3600)
    assert removed == ["tree.stage-22222222"]
    assert os.path.isdir(live) and not os.path.isdir(dead)
    # default floor 0 removes the rest (single-writer assumption)
    assert vacuum_tree(root) == ["tree.stage-11111111"]


def _merge_once(spark, root, schema, n):
    from poc_spark.sources.lake import merge_upsert_partitioned

    up = spark.createDataFrame([(1, f"a{n}", "en", n)], schema)
    merge_upsert_partitioned(spark, root, up, "k", "lang")


def test_age_retention_survives_count_prune(spark, tmp_path):
    """With spark.poc.lake.retain.hours set, publish-time pruning keeps
    versions the count policy alone would delete — whichever policy
    retains MORE wins (r9 VERDICT missing #3)."""
    import os

    from poc_spark.sources.lake import list_versions, write_partitioned

    schema = "k long, text string, lang string, n long"
    root = str(tmp_path / "tree")
    spark.conf.set("spark.poc.lake.retain.hours", "24")
    try:
        write_partitioned(
            spark.createDataFrame([(1, "a", "en", 1)], schema), root, ["lang"]
        )
        for i in range(3):
            _merge_once(spark, root, schema, i)
        # count policy (default retain=2) would keep 2; every version
        # is minutes old, so the 24h age policy keeps all of them
        assert len(list_versions(root)) == 4
        assert os.path.isdir(f"{root}.v000001")
    finally:
        spark.conf.unset("spark.poc.lake.retain.hours")


def test_count_retention_survives_age_prune_and_floor(spark, tmp_path):
    """The converse: versions past the age horizon survive when the
    count policy still names them — and age alone can never prune
    below the floor of 2 (current + previous)."""
    import os
    import time

    from poc_spark.sources.lake import list_versions, vacuum_tree, write_partitioned

    schema = "k long, text string, lang string, n long"
    root = str(tmp_path / "tree")
    spark.conf.set("spark.poc.lake.retain", "4")
    try:
        write_partitioned(
            spark.createDataFrame([(1, "a", "en", 1)], schema), root, ["lang"]
        )
        for i in range(3):
            _merge_once(spark, root, schema, i)
        assert len(list_versions(root)) == 4
        # expire every version past a tiny age horizon
        old = time.time() - 7200
        for v in list_versions(root):
            os.utime(f"{root}.v{v:06d}", (old, old))
        spark.conf.set("spark.poc.lake.retain.hours", "0.001")
        # count=4 retains more than age: nothing is removed
        assert vacuum_tree(root) == []
        assert len(list_versions(root)) == 4
        # drop the count policy to the floor: age has expired all four,
        # but the floor of 2 (current + previous) always holds
        spark.conf.set("spark.poc.lake.retain", "2")
        removed = vacuum_tree(root)
        assert len(removed) == 2
        assert len(list_versions(root)) == 2
    finally:
        spark.conf.unset("spark.poc.lake.retain")
        spark.conf.unset("spark.poc.lake.retain.hours")


def test_retention_conf_and_keep_validation(spark, tmp_path):
    """Floors fail loudly: vacuum keep below 2, non-positive or
    non-numeric retain.hours."""
    import pytest

    from poc_spark.sources.lake import vacuum_tree

    with pytest.raises(ValueError, match="floor of 2"):
        vacuum_tree(str(tmp_path / "t"), keep=1)
    spark.conf.set("spark.poc.lake.retain.hours", "0")
    try:
        with pytest.raises(ValueError, match="must be > 0"):
            vacuum_tree(str(tmp_path / "t"))
        spark.conf.set("spark.poc.lake.retain.hours", "soon")
        with pytest.raises(ValueError, match="must be a number"):
            vacuum_tree(str(tmp_path / "t"))
    finally:
        spark.conf.unset("spark.poc.lake.retain.hours")


def test_vacuum_default_keep_follows_session_retain(spark, tmp_path):
    """r9 ADVICE: a default vacuum_tree() on a retain=3 session must
    not delete the N-2 version that time travel still promises."""
    import os

    from poc_spark.sources.lake import list_versions, vacuum_tree, write_partitioned

    schema = "k long, text string, lang string, n long"
    root = str(tmp_path / "tree")
    spark.conf.set("spark.poc.lake.retain", "3")
    try:
        write_partitioned(
            spark.createDataFrame([(1, "a", "en", 1)], schema), root, ["lang"]
        )
        for i in range(3):
            _merge_once(spark, root, schema, i)
        assert len(list_versions(root)) == 3  # publish pruned to 3
        assert vacuum_tree(root) == []  # default keep = session retain
        assert len(list_versions(root)) == 3
        assert os.path.isdir(f"{root}.v000002")
    finally:
        spark.conf.unset("spark.poc.lake.retain")


def test_schema_evolution_added_column(spark, tmp_path):
    """In-format schema evolution: a merge whose batch carries a NEW
    nullable column commits it into the table schema — rewritten
    partitions materialize NULL for old rows, UNTOUCHED partitions
    keep their old files and backfill NULL at read time, and the
    pre-evolution retained version still reads under its own (old)
    schema."""
    from poc_spark.sources.lake import (
        list_versions,
        merge_upsert_partitioned,
        read_snapshot,
        read_version,
        write_partitioned,
    )

    schema = "k long, text string, lang string, n long"
    root = str(tmp_path / "tree")
    base = spark.createDataFrame(
        [(1, "a", "en", 1), (2, "b", "en", 2), (3, "c", "de", 3)], schema
    )
    write_partitioned(base, root, ["lang"])
    # the evolving batch touches ONLY lang=en; lang=de must stay
    # carried (old files) yet read back with quality IS NULL
    up = spark.createDataFrame(
        [(1, "a2", "en", 9, 0.75)],
        "k long, text string, lang string, n long, quality double",
    )
    merge_upsert_partitioned(spark, root, up, "k", "lang")
    cur = read_snapshot(spark, root)
    # hive layout surfaces the partition column last; the added column
    # appends after — the order the logged schema pins from here on
    assert cur.columns == ["k", "text", "n", "lang", "quality"]
    got = {r["k"]: (r["text"], r["quality"]) for r in cur.collect()}
    assert got == {1: ("a2", 0.75), 2: ("b", None), 3: ("c", None)}
    # the pre-evolution snapshot serves its OWN schema — no quality
    versions = list_versions(root)
    old = read_version(spark, root, versions[0])
    assert old.columns == ["k", "text", "n", "lang"]
    assert {r["k"] for r in old.collect()} == {1, 2, 3}
    # a second, non-evolving merge must keep the evolved schema
    up2 = spark.createDataFrame(
        [(3, "c2", "de", 4, None)],
        "k long, text string, lang string, n long, quality double",
    )
    merge_upsert_partitioned(spark, root, up2, "k", "lang")
    assert read_snapshot(spark, root).columns == [
        "k", "text", "n", "lang", "quality",
    ]


def test_schema_evolution_rejects_type_change_and_missing(spark, tmp_path):
    """A TYPE-changed column and a batch missing an existing column
    both fail loudly — evolution is add-nullable-columns only."""
    import pytest

    from poc_spark.sources.lake import (
        merge_upsert_partitioned,
        write_partitioned,
    )

    schema = "k long, text string, lang string, n long"
    root = str(tmp_path / "tree")
    write_partitioned(
        spark.createDataFrame([(1, "a", "en", 1)], schema), root, ["lang"]
    )
    retyped = spark.createDataFrame(
        [(1, "a", "en", "wide")], "k long, text string, lang string, n string"
    )
    with pytest.raises(ValueError, match="TYPE-changed"):
        merge_upsert_partitioned(spark, root, retyped, "k", "lang")
    narrow = spark.createDataFrame(
        [(1, "a", "en")], "k long, text string, lang string"
    )
    with pytest.raises(ValueError, match="missing existing table column"):
        merge_upsert_partitioned(spark, root, narrow, "k", "lang")


def test_concurrent_writers_exactly_one_commits(spark, tmp_path):
    """Two writers racing from the same base version (r7 VERDICT #2 /
    ADVICE lost-update race): writer B commits fully while writer A is
    between staging and publish — A must fail LOUDLY with
    ConcurrentCommitError and change nothing; B's commit survives.
    Under the old rmtree+makedirs sequence A would silently erase B."""
    import pytest

    from poc_spark.sources.lake import (
        ConcurrentCommitError,
        merge_upsert_partitioned,
        write_partitioned,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    root = str(tmp_path / "tree")
    base = spark.createDataFrame(
        [(1, "a", "en", "w", 1), (2, "b", "de", "w", 1)], schema
    )
    write_partitioned(base, root, ["lang"])
    up_a = spark.createDataFrame([(1, "A-wrote", "en", "w", 7)], schema)
    up_b = spark.createDataFrame([(2, "B-wrote", "de", "w", 7)], schema)

    def competitor_commits():
        merge_upsert_partitioned(spark, root, up_b, "doc_id", "lang")

    with pytest.raises(ConcurrentCommitError, match="already taken"):
        merge_upsert_partitioned(
            spark, root, up_a, "doc_id", "lang",
            _pre_publish_hook=competitor_commits,
        )
    # B's commit is intact (no lost update); A's never landed
    spark.catalog.refreshByPath(root)
    assert _tree_content(spark, root) == [
        (1, "a", "en", 1), (2, "B-wrote", "de", 7)
    ]
    # A can retry from the new snapshot and now succeeds
    merge_upsert_partitioned(spark, root, up_a, "doc_id", "lang")
    assert _tree_content(spark, root) == [
        (1, "A-wrote", "en", 7), (2, "B-wrote", "de", 7)
    ]


def test_publish_base_recheck_detects_foreign_commit(spark, tmp_path):
    """The pre-flip base re-check: if the pointer no longer names the
    base the commit was assembled from (a competitor published under a
    DIFFERENT number, so the rename-claim alone cannot catch it), the
    publish raises and the competitor's state survives."""
    import os

    import pytest

    from poc_spark.sources.lake import (
        ConcurrentCommitError,
        _write_manifest,
        merge_upsert_partitioned,
        write_partitioned,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    root = str(tmp_path / "tree")
    base = spark.createDataFrame([(1, "a", "en", "w", 1)], schema)
    write_partitioned(base, root, ["lang"])
    up = spark.createDataFrame([(1, "a2", "en", "w", 9)], schema)

    def foreign_commit():
        # simulate a competitor publishing a fresh-generation version
        os.makedirs(f"{root}.v000099/lang=en", exist_ok=True)
        from poc_spark.sources.storage import PosixStorage
        _write_manifest(root, f"{root}.v000099", PosixStorage())

    with pytest.raises(ConcurrentCommitError, match="no longer current"):
        merge_upsert_partitioned(
            spark, root, up, "doc_id", "lang",
            _pre_publish_hook=foreign_commit,
        )
    # the loser removed its claimed dir and left the competitor current
    from poc_spark.sources.lake import resolve_snapshot

    assert resolve_snapshot(root).endswith(".v000099")
    assert not os.path.isdir(f"{root}.v000002")


def test_manifest_only_tree_full_lifecycle(spark, tmp_path):
    """The manifest is the ONLY pointer (the object-store shape: no
    `root` path exists once the tree is versioned): migration,
    mid-write reader isolation, crash-before-publish, and time travel
    all hold."""
    import os

    import pytest

    from poc_spark.sources.lake import (
        list_versions,
        merge_upsert_partitioned,
        read_snapshot,
        read_version,
        write_partitioned,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    root = str(tmp_path / "tree")
    base = spark.createDataFrame(
        [(1, "a", "en", "w", 1), (2, "b", "de", "w", 1)], schema
    )
    write_partitioned(base, root, ["lang"])
    up = spark.createDataFrame([(1, "a2", "en", "w", 9)], schema)

    def content():
        return sorted(
            (r["doc_id"], r["text"]) for r in
            read_snapshot(spark, root).collect()
        )

    mid = []

    def reader_mid_write():
        mid.append(content())

    before = [(1, "a"), (2, "b")]

    def crash():
        raise RuntimeError("died before publish")

    with pytest.raises(RuntimeError, match="before publish"):
        merge_upsert_partitioned(
            spark, root, up, "doc_id", "lang", _pre_publish_hook=crash
        )
    # after migration+crash: manifest serves the complete OLD tree,
    # and the root path no longer exists at all
    assert not os.path.lexists(root)
    assert os.path.exists(f"{root}._VERSION.json")
    assert content() == before

    merge_upsert_partitioned(
        spark, root, up, "doc_id", "lang",
        _pre_publish_hook=reader_mid_write,
    )
    assert mid == [before]  # mid-write reader saw the old snapshot
    assert content() == [(1, "a2"), (2, "b")]
    assert not os.path.lexists(root)

    # time travel still works through version numbers
    vs = list_versions(root)
    assert len(vs) == 2
    assert sorted(
        (r["doc_id"], r["text"])
        for r in read_version(spark, root, vs[0]).collect()
    ) == before


def _link_root(root, version):
    """The root symlink a writer from before the manifest-only lake
    kept beside (or instead of) the manifest."""
    import os

    os.symlink(f"{os.path.basename(root)}.v{version:06d}", root)


def test_root_symlink_beside_manifest_resolves_merges_and_drops(
    spark, tmp_path
):
    """A tree an older writer left with a manifest AND a root symlink
    (here lagging one commit behind, its crash window): the link is
    never taken for a plain directory, the manifest decides, one merge
    commits on top, and drop_tree removes the whole tree, link
    included."""
    import os

    from poc_spark.sources.lake import (
        drop_tree,
        merge_upsert_partitioned,
        read_snapshot,
        resolve_snapshot,
        write_partitioned,
    )

    schema = "k long, text string, lang string, n long"
    root = str(tmp_path / "tree")
    write_partitioned(
        spark.createDataFrame([(1, "a", "en", 1)], schema), root, ["lang"]
    )
    merge_upsert_partitioned(
        spark, root, spark.createDataFrame([(1, "a2", "en", 2)], schema),
        "k", "lang",
    )
    _link_root(root, 1)
    assert resolve_snapshot(root) == f"{root}.v000002"
    assert [(r["k"], r["text"]) for r in
            read_snapshot(spark, root).collect()] == [(1, "a2")]

    merge_upsert_partitioned(
        spark, root, spark.createDataFrame([(2, "b", "de", 1)], schema),
        "k", "lang",
    )
    assert resolve_snapshot(root) == f"{root}.v000003"
    assert sorted(
        (r["k"], r["text"]) for r in read_snapshot(spark, root).collect()
    ) == [(1, "a2"), (2, "b")]

    drop_tree(root)
    assert os.listdir(tmp_path) == []


def test_symlink_only_tree_is_refused_not_healed(spark, tmp_path):
    """A symlink-only tree (no manifest) predates the manifest: reads
    and writes refuse it with a named error, and nothing is written
    to heal it."""
    import os

    import pytest

    from poc_spark.sources.lake import (
        drop_tree,
        merge_upsert_partitioned,
        read_snapshot,
    )

    schema = "k long, text string, lang string, n long"
    root = str(tmp_path / "tree")
    df = spark.createDataFrame([(1, "a", "en", 1)], schema)
    df.write.partitionBy("lang").parquet(f"{root}.v000001")
    _link_root(root, 1)
    with pytest.raises(ValueError, match="pre-manifest writer"):
        read_snapshot(spark, root)
    with pytest.raises(ValueError, match="pre-manifest writer"):
        merge_upsert_partitioned(spark, root, df, "k", "lang")
    assert not os.path.exists(f"{root}._VERSION.json")
    drop_tree(root)
    assert os.listdir(tmp_path) == []


def test_create_table_versioned_leaves_no_root_path(spark, tmp_path):
    """A table versioned from birth has no path at `root`: the
    manifest is its only pointer."""
    import os

    from poc_spark.sources.lake import create_table_versioned, read_snapshot

    root = str(tmp_path / "tree")
    schema = "k long, text string, lang string, n long"
    create_table_versioned(
        spark, spark.createDataFrame([(1, "a", "en", 1)], schema), root,
        ["lang"],
    )
    assert not os.path.lexists(root)
    assert [(r["k"], r["text"]) for r in
            read_snapshot(spark, root).collect()] == [(1, "a")]


def test_hive_escaped_partition_values_rewrite_cleanly(spark, tmp_path):
    """Partition values that hive-escape in directory names (':', '/',
    '%') — r7 ADVICE: the raw str() comparison carried the STALE old
    partition beside its rewrite and the staged rename then collided.
    The escaped-name match must rewrite exactly the affected
    partitions and carry the rest."""
    import os

    from poc_spark.sources.lake import (
        merge_upsert_partitioned,
        read_snapshot,
        resolve_snapshot,
        write_partitioned,
    )

    schema = "k long, text string, part string"
    root = str(tmp_path / "tree")
    base = spark.createDataFrame(
        [(1, "a", "a:b"), (2, "b", "x/y"), (3, "c", "p%q"), (4, "d", "en")],
        schema,
    )
    write_partitioned(base, root, ["part"])
    up = spark.createDataFrame([(1, "a2", "a:b"), (2, "b2", "x/y")], schema)
    affected = merge_upsert_partitioned(spark, root, up, "k", "part")
    assert affected == ["a:b", "x/y"]
    spark.catalog.refreshByPath(root)
    got = sorted(
        (r["k"], r["text"], r["part"])
        for r in read_snapshot(spark, root).collect()
    )
    assert got == [(1, "a2", "a:b"), (2, "b2", "x/y"),
                   (3, "c", "p%q"), (4, "d", "en")]
    # exactly one directory per partition — no stale duplicate carried
    parts = sorted(
        e for e in os.listdir(resolve_snapshot(root))
        if e.startswith("part=")
    )
    assert parts == ["part=a%3Ab", "part=en", "part=p%25q", "part=x%2Fy"]


def test_null_partition_values_rejected(spark, tmp_path):
    """NULL and EMPTY-STRING partition values cannot be addressed by
    the affected-partition rewrite (hive folds both into the
    __HIVE_DEFAULT_PARTITION__ directory, so their rows would silently
    vanish from the merge or collide in the carry — r8 ADVICE extended
    the guard to '') — the writers must refuse them loudly."""
    import pytest

    from poc_spark.sources.lake import (
        _hive_escape_value,
        merge_upsert_partitioned,
        rollup_incremental,
        write_partitioned,
    )

    # Spark itself writes '' to the default-partition directory — the
    # escape helper must agree (r8 ADVICE: '' escaped to '' and never
    # matched the directory, so the stale partition was carried beside
    # its rewrite and the staged adopt collided with ENOTEMPTY)
    assert _hive_escape_value(None) == "__HIVE_DEFAULT_PARTITION__"
    assert _hive_escape_value("") == "__HIVE_DEFAULT_PARTITION__"

    schema = "k long, text string, part string"
    root = str(tmp_path / "tree")
    base = spark.createDataFrame([(1, "a", "en")], schema)
    write_partitioned(base, root, ["part"])
    for bad in (None, ""):
        up = spark.createDataFrame([(1, "a2", bad)], schema)
        with pytest.raises(ValueError, match="NULL or empty-string"):
            merge_upsert_partitioned(spark, root, up, "k", "part")
        agg_root = str(tmp_path / "agg")
        with pytest.raises(ValueError, match="NULL or empty-string"):
            rollup_incremental(
                spark, agg_root, up, "part", ["k"], sum_cols=[]
            )


def test_rollup_bootstrap_is_atomic(spark, tmp_path, monkeypatch):
    """r7 ADVICE (medium): the first micro-batch's data and its
    commit-metadata batch id must flip together. A crash between the
    data write and the pointer publish leaves NO pointer and NO
    recorded batch — the exactly-once replay then re-applies batch 0
    instead of double-counting it."""
    import os

    import pytest

    from poc_spark.sources import lake
    from poc_spark.sources.lake import (
        read_snapshot,
        read_tree_meta,
        rollup_incremental,
    )

    agg_root = str(tmp_path / "agg")
    delta = spark.createDataFrame(
        [("en", 1, 10), ("en", 1, 20), ("de", 2, 5)], "part string, k long, v long"
    )

    # crash AT the bootstrap commit point: the conditional manifest
    # create (bootstrap no longer routes through _publish_version —
    # its commit is put_if_absent of the manifest, the only write a
    # competing bootstrapper can lose)
    from poc_spark.sources.storage import PosixStorage

    real_put = PosixStorage.put_if_absent

    def dying_put(self, path, data):
        if path.endswith("._VERSION.json"):
            raise RuntimeError("crashed before pointer publish")
        return real_put(self, path, data)

    monkeypatch.setattr(PosixStorage, "put_if_absent", dying_put)
    with pytest.raises(RuntimeError, match="before pointer publish"):
        rollup_incremental(
            spark, agg_root, delta, "part", ["k"], sum_cols=["v"],
            commit_meta={"applied_batches": [0]},
        )
    # no pointer, no meta, no root path: the batch is NOT recorded,
    # and nothing half-applied is readable
    assert read_tree_meta(agg_root) == {}
    assert not os.path.lexists(agg_root)

    monkeypatch.setattr(PosixStorage, "put_if_absent", real_put)
    # the crashed bootstrap left a claimed v1 that no manifest
    # publishes (the claim→commit window); vacuum reclaims it, so the
    # retry claims v1 again
    from poc_spark.sources.lake import list_versions, vacuum_tree

    assert os.path.isdir(agg_root + ".v000001")
    vacuum_tree(agg_root)
    assert not os.path.exists(agg_root + ".v000001")
    affected = rollup_incremental(
        spark, agg_root, delta, "part", ["k"], sum_cols=["v"],
        commit_meta={"applied_batches": [0]},
    )
    assert affected == ["de", "en"]
    assert list_versions(agg_root) == [1]
    assert read_tree_meta(agg_root) == {"applied_batches": [0]}
    got = sorted(
        (r["part"], r["k"], r["sum_v"])
        for r in read_snapshot(spark, agg_root).collect()
    )
    assert got == [("de", 2, 5), ("en", 1, 30)]


def test_vacuum_removes_claim_window_orphans(spark, tmp_path):
    """A version dir NEWER than the published current (a writer that
    crashed between claim and publish) blocks that version number; an
    age-gated vacuum removes it and unblocks the next commit."""
    import os
    import time

    from poc_spark.sources.lake import (
        merge_upsert_partitioned,
        read_snapshot,
        vacuum_tree,
        write_partitioned,
    )

    schema = "k long, text string, lang string, n long"
    root = str(tmp_path / "tree")
    base = spark.createDataFrame([(1, "a", "en", 1)], schema)
    write_partitioned(base, root, ["lang"])
    up = spark.createDataFrame([(1, "a2", "en", 2)], schema)
    merge_upsert_partitioned(spark, root, up, "k", "lang")  # now at v2
    # fake a claim-window crash orphan at v3, aged past the floor
    orphan = f"{root}.v000003"
    os.makedirs(f"{orphan}/lang=en")
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    removed = vacuum_tree(root, min_stage_age_sec=3600)
    assert "tree.v000003" in removed
    # the next commit claims v3 cleanly
    up2 = spark.createDataFrame([(1, "a3", "en", 3)], schema)
    merge_upsert_partitioned(spark, root, up2, "k", "lang")
    spark.catalog.refreshByPath(root)
    assert sorted(
        (r["k"], r["text"], r["n"])
        for r in read_snapshot(spark, root).collect()
    ) == [(1, "a3", 3)]


def test_vacuum_removes_a_version_no_manifest_publishes(spark, tmp_path):
    """A numbered version directory with no manifest beside it was
    claimed by a first commit that never landed: nothing publishes it,
    so list_versions does not list it and vacuum removes it."""
    import os

    from poc_spark.sources.lake import list_versions, vacuum_tree

    root = str(tmp_path / "t")
    os.makedirs(f"{root}.v000001/p=a")
    open(f"{root}.v000001/p=a/x.parquet", "wb").close()
    assert list_versions(root) == []
    assert vacuum_tree(root, min_stage_age_sec=0) == ["t.v000001"]
    assert os.listdir(tmp_path) == []
    assert list_versions(root) == []


def test_retention_keeps_the_previous_version_beside_an_orphan(
    spark, tmp_path
):
    """A version dir a crashed writer claimed above the current is not
    published, so it does not count toward retention — the next commit
    still keeps the previous version for readers that resolved the
    pointer just before the flip — and time travel cannot read it."""
    import os

    import pytest

    from poc_spark.sources.lake import (
        list_versions,
        merge_upsert_partitioned,
        version_dir,
        write_partitioned,
    )

    schema = "k long, text string, lang string, n long"
    root = str(tmp_path / "tree")
    write_partitioned(
        spark.createDataFrame([(1, "a", "en", 1)], schema), root, ["lang"]
    )
    up = spark.createDataFrame([(1, "a2", "en", 2)], schema)
    merge_upsert_partitioned(spark, root, up, "k", "lang")  # v1 -> v2
    os.makedirs(f"{root}.v000004/lang=en")  # a claim that never landed
    up = spark.createDataFrame([(1, "a3", "en", 3)], schema)
    merge_upsert_partitioned(spark, root, up, "k", "lang")  # claims v3
    assert list_versions(root) == [2, 3]
    assert os.path.isdir(f"{root}.v000002")
    # and time travel cannot reach the orphan
    with pytest.raises(ValueError, match="not retained"):
        version_dir(root, 4)


def test_plain_overwrite_supersedes_stale_manifest(spark, tmp_path):
    """A plain (non-pointer) overwrite replaces the whole table: Spark
    writes a real directory at the root but cannot know about the
    sibling manifest. The REAL directory must supersede the stale
    pointer — resolve serves the fresh tree, and the next commit
    migrates it to a new generation (measured failure: the stale
    manifest shadowed the fresh base)."""
    from poc_spark.sources.lake import (
        merge_upsert_partitioned,
        read_snapshot,
        resolve_snapshot,
        write_partitioned,
    )

    schema = "k long, text string, lang string, n long"
    root = str(tmp_path / "tree")
    base = spark.createDataFrame([(1, "old", "en", 1)], schema)
    write_partitioned(base, root, ["lang"])
    up = spark.createDataFrame([(1, "old2", "en", 2)], schema)
    merge_upsert_partitioned(spark, root, up, "k", "lang")  # manifest at v2

    # plain overwrite replaces the table; stale manifest+versions remain
    fresh = spark.createDataFrame([(7, "fresh", "de", 9)], schema)
    write_partitioned(fresh, root, ["lang"])
    spark.catalog.refreshByPath(root)
    assert resolve_snapshot(root) == root  # real dir wins
    assert [(r["k"], r["text"]) for r in
            read_snapshot(spark, root).collect()] == [(7, "fresh")]

    # the next pointer commit starts a fresh generation cleanly
    up2 = spark.createDataFrame([(7, "fresh2", "de", 10)], schema)
    merge_upsert_partitioned(spark, root, up2, "k", "lang")
    assert resolve_snapshot(root).endswith(".v000004")  # past stale v2+1
    assert [(r["k"], r["text"]) for r in
            read_snapshot(spark, root).collect()] == [(7, "fresh2")]


def test_cdc_validates_evolution_before_empty_early_return(spark, tmp_path):
    """r10 ADVICE: a changelog carrying a TYPE-changed column must fail
    loudly even when it touches ZERO partitions (merge_apply_cdc used
    to validate only after the `if not affected` early return)."""
    import pytest

    from poc_spark.sources.lake import merge_apply_cdc, write_partitioned

    root = str(tmp_path / "tree")
    write_partitioned(
        spark.createDataFrame(
            [(1, "a", "en")], "k long, text string, lang string"
        ),
        root,
        ["lang"],
    )
    # every changelog row is a retraction of a key that never existed:
    # zero affected partitions, but `text` arrives retyped
    cdc = spark.createDataFrame(
        [(99, 1, "D", 7, "en")],
        "k long, seq long, op string, text long, lang string",
    )
    with pytest.raises(ValueError, match="TYPE-changed"):
        merge_apply_cdc(spark, root, cdc, "k", "lang")


def test_evolution_ignores_nested_nullability(spark, tmp_path):
    """r10 ADVICE: nested struct/array element nullability differences
    are NOT a type change — parquet encodes optionality per leaf and
    the merged read relaxes it; only genuine retypes reject."""
    import pytest
    from pyspark.sql import types as T

    from poc_spark.sources.lake import (
        merge_upsert_partitioned,
        read_snapshot,
    )

    def sch(nullable_elem: bool) -> T.StructType:
        return T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("lang", T.StringType()),
                T.StructField(
                    "tags", T.ArrayType(T.StringType(), nullable_elem)
                ),
                T.StructField(
                    "meta",
                    T.StructType(
                        [T.StructField("n", T.LongType(), nullable_elem)]
                    ),
                ),
            ]
        )

    from poc_spark.sources.lake import write_partitioned

    root = str(tmp_path / "tree")
    write_partitioned(
        spark.createDataFrame([(1, "en", ["a"], (3,))], sch(True)),
        root,
        ["lang"],
    )
    strict = spark.createDataFrame([(1, "en", ["b"], (4,))], sch(False))
    merge_upsert_partitioned(spark, root, strict, "k", "lang")
    got = read_snapshot(spark, root).collect()
    assert len(got) == 1 and got[0]["tags"] == ["b"]

    # a genuine nested retype still rejects
    retyped = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("tags", T.ArrayType(T.LongType(), True)),
            T.StructField(
                "meta",
                T.StructType([T.StructField("n", T.LongType(), True)]),
            ),
        ]
    )
    bad = spark.createDataFrame([(1, "en", [1], (5,))], retyped)
    with pytest.raises(ValueError, match="TYPE-changed"):
        merge_upsert_partitioned(spark, root, bad, "k", "lang")


def test_change_feed_per_commit_row_changes(spark, tmp_path_repo):
    """Three-commit tree: the feed emits exactly each commit's row-level
    insert/update/delete set, stamped with the commit's version."""
    import pytest
    from pyspark.sql import functions as F

    from poc_spark.sources.lake import (
        change_feed,
        list_versions,
        merge_full_partitioned,
        merge_upsert_partitioned,
        write_partitioned,
    )

    root = str(tmp_path_repo / "cdf")
    spark.conf.set("spark.poc.lake.retain", "3")
    try:
        base = spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")],
            "id long, text string, part string",
        )
        write_partitioned(base, root, ["part"])
        # commit 2: update id 1, insert id 9
        merge_upsert_partitioned(
            spark,
            root,
            spark.createDataFrame(
                [(1, "a2", "x"), (9, "new", "y")],
                "id long, text string, part string",
            ),
            "id",
            "part",
        )
        # commit 3: delete id 2
        merge_full_partitioned(
            spark,
            root,
            spark.createDataFrame([(2, "b", "x")], "id long, text string, part string"),
            "id",
            "part",
            matched_delete=F.lit(True),
        )
        vs = list_versions(root)
        got = {
            (r["id"], r["version"]): r["change_type"]
            for r in change_feed(spark, root, vs[0], vs[-1], ["id"]).collect()
        }
        assert got == {
            (1, vs[1]): "update",
            (9, vs[1]): "insert",
            (2, vs[2]): "delete",
        }
        # a single-commit window sees only its own commit
        one = {
            (r["id"], r["version"]): r["change_type"]
            for r in change_feed(spark, root, vs[1], vs[2], ["id"]).collect()
        }
        assert one == {(2, vs[2]): "delete"}
        with pytest.raises(ValueError, match="must exceed"):
            change_feed(spark, root, vs[-1], vs[-1], ["id"])
    finally:
        spark.conf.unset("spark.poc.lake.retain")


def test_maintain_agg_from_feed_retractions_and_group_death(spark, tmp_path_repo):
    """Aggregate IVM under retractions: updates retract old/assert new,
    a fully-deleted group disappears from the maintained view, and the
    fold equals direct re-aggregation of the final snapshot."""
    from pyspark.sql import functions as F

    from poc_spark.operators.ivm import maintain_agg_from_feed
    from poc_spark.sources.lake import (
        list_versions,
        merge_full_partitioned,
        merge_upsert_partitioned,
        read_version,
        write_partitioned,
    )

    root = str(tmp_path_repo / "ivmagg")
    spark.conf.set("spark.poc.lake.retain", "4")
    try:
        base = spark.createDataFrame(
            [(1, "x", 10), (2, "x", 20), (3, "y", 5), (4, "y", 7), (5, "z", 1)],
            "id long, grp string, val long",
        )
        write_partitioned(base, root, ["grp"])
        # commit 2: update id 1 (10 -> 13), insert id 6 into x
        merge_upsert_partitioned(
            spark,
            root,
            spark.createDataFrame(
                [(1, "x", 13), (6, "x", 100)], "id long, grp string, val long"
            ),
            "id",
            "grp",
        )
        # commit 3: delete BOTH y rows (group y must die) and id 5
        merge_full_partitioned(
            spark,
            root,
            spark.createDataFrame(
                [(3, "y", 0), (4, "y", 0), (5, "z", 0)],
                "id long, grp string, val long",
            ),
            "id",
            "grp",
            matched_delete=F.lit(True),
        )
        vs = list_versions(root)
        got = {
            r["grp"]: (r["n_rows"], r["sum_val"])
            for r in maintain_agg_from_feed(
                spark, root, vs[0], vs[-1], ["id"], ["grp"], "val"
            ).collect()
        }
        # x: rows 1(13), 2(20), 6(100); y and z fully deleted -> absent
        assert got == {"x": (3, 133)}
        direct = {
            r["grp"]: (r["n_rows"], r["sum_val"])
            for r in read_version(spark, root, vs[-1])
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("val").cast("long").alias("sum_val"),
            )
            .collect()
        }
        assert got == direct
    finally:
        spark.conf.unset("spark.poc.lake.retain")


def test_change_feed_empty_across_compaction(spark, tmp_path_repo):
    """Compaction rewrites bytes, not rows: the change feed across a
    compaction commit must be EMPTY (the physical/logical separation a
    CDC consumer relies on — a file-layout commit is not data change)."""
    from poc_spark.sources.lake import (
        change_feed,
        compact_partitions,
        list_versions,
        write_partitioned,
    )

    root = str(tmp_path_repo / "cdfcompact")
    spark.conf.set("spark.poc.lake.retain", "3")
    try:
        base = spark.createDataFrame(
            [(i, "p" if i % 2 else "q", i * 10) for i in range(8)],
            "id long, part string, val long",
        ).repartition(4)
        write_partitioned(base, root, ["part"])
        compacted = compact_partitions(spark, root, "part", target_bytes=1 << 30)
        assert compacted  # at least one fragmented partition rewrote
        vs = list_versions(root)
        assert len(vs) >= 2
        feed = change_feed(spark, root, vs[-2], vs[-1], ["id"])
        assert feed.count() == 0
    finally:
        spark.conf.unset("spark.poc.lake.retain")


def test_change_feed_beyond_retention_fails_loudly(spark, tmp_path_repo):
    """A feed window reaching a PRUNED version must raise, never return
    a partial feed (the CDC consumer's staleness guard)."""
    import pytest
    from pyspark.sql import functions as F

    from poc_spark.sources.lake import (
        change_feed,
        list_versions,
        merge_upsert_partitioned,
        write_partitioned,
    )

    root = str(tmp_path_repo / "cdfret")
    # default retain=2: three commits prune the base version
    base = spark.createDataFrame(
        [(1, "x", 1)], "id long, part string, val long"
    )
    write_partitioned(base, root, ["part"])
    for i in range(2):
        merge_upsert_partitioned(
            spark,
            root,
            spark.createDataFrame(
                [(1, "x", 10 + i)], "id long, part string, val long"
            ),
            "id",
            "part",
        )
    vs = list_versions(root)
    assert len(vs) == 2  # base pruned
    with pytest.raises(ValueError):
        change_feed(spark, root, 1, vs[-1], ["id"])
