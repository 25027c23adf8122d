"""Atomic MULTI-TABLE transactions over version-pointer tables — the
catalog-level commit (the Nessie/Iceberg-REST idea, one rung above
single-table refs): a CATALOG is one small JSON object mapping table
names to pinned version directories, and a transaction that rewrites N
tables becomes ONE atomic catalog PUT. A reader that resolves tables
through the catalog sees all-old or all-new, never a mix — the
cross-table consistency no per-table pointer can give (e.g. a facts
table and its derived summary must move together).

Commit protocol (every step crash-safe):
  1. per table, build the new version through a throwaway TRANSACTION
     BRANCH (lake.py merge_upsert_branch — the same CoW commit core;
     the branch ref pins the new version while the txn is in flight);
  2. tag every new version with the next catalog epoch
     (`cat<epoch>-<name>` — tags survive the txn and PIN the versions
     the catalog names against retention/vacuum for as long as the
     catalog points at them);
  3. ONE conditional PUT of an epoch-keyed claim object
     (`<catalog>.e<N+1>`, put_if_absent) carrying the full new catalog
     — THE commit point. The store's create-if-absent semantics make
     this a true compare-and-swap: exactly one transaction per epoch
     can win, so two racers that both staged from epoch N cannot both
     "succeed" with the last writer silently clobbering the first (the
     check-then-put this replaced had exactly that window). The loser
     sees put_if_absent == False and raises ConcurrentCommitError;
  4. refresh the reader-hint object (the plain catalog path) with the
     committed payload — pure cache, never the source of truth;
  5. cleanup: drop the txn branches and the PREVIOUS epoch's tags
     (releasing the old versions to ordinary retention).

Readers resolve the catalog by reading the hint and probing FORWARD
through the contiguous epoch-claim chain (e<hint+1>, e<hint+2>, …)
until a miss — so a crash between (3) and (4) still serves the
committed epoch. Claim objects are never deleted (one ~200-byte JSON
per epoch — bounded metadata; deleting one would break a stale-hint
reader's forward probe mid-chain).

A crash before (3) leaves the old catalog fully valid (stray branches/
tags are garbage with pins, removable by retrying or deleting refs); a
crash after (3) leaves the new catalog fully valid with stale cleanup
debt. There is no window where a catalog reader can observe a torn
transaction.

Reference scope: the reference has no multi-table consistency at all
(each upload lands independently, backend/main.py:368-388); this is
the engine-side extension a training pipeline needs when corpus shards
and their manifest/statistics tables must publish together.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from poc_spark.sources.lake import (
    ConcurrentCommitError,
    _ensure_versioned,
    _fs,
    _read_tree_dir,
    _version_number,
    create_branch,
    create_tag,
    delete_ref,
    list_refs,
    merge_upsert_branch,
)


def _epoch_claim_path(catalog_path: str, epoch: int) -> str:
    return f"{catalog_path}.e{epoch}"


def _catalog_read_raw(catalog_path: str, fs) -> dict:
    """Resolve the CURRENT catalog: hint object, then probe forward
    through the epoch-claim chain. The claims are the source of truth
    (each carries the full payload of its epoch); the hint is a cache
    that may lag one commit behind after a crash."""
    if fs.exists(catalog_path):
        payload = json.loads(fs.get_bytes(catalog_path))
    elif fs.exists(_epoch_claim_path(catalog_path, 1)):
        # init crashed between the epoch-1 claim and the hint write
        payload = json.loads(fs.get_bytes(_epoch_claim_path(catalog_path, 1)))
    else:
        raise ValueError(f"no catalog at {catalog_path!r}")
    nxt = _epoch_claim_path(catalog_path, payload["epoch"] + 1)
    while fs.exists(nxt):
        payload = json.loads(fs.get_bytes(nxt))
        nxt = _epoch_claim_path(catalog_path, payload["epoch"] + 1)
    return payload


def catalog_init(
    spark: SparkSession, catalog_path: str, tables: dict[str, str]
) -> dict:
    """Create a catalog over existing tables: records each table's
    CURRENT version (migrating plain trees to versioned form first)
    and tags it with epoch 1 so the catalog's promise is pinned.
    Pins come BEFORE the commit point: tags are created first under
    attempt-unique names (`cat1-<name>-<token>`), then exactly one
    creator wins the conditional PUT of the epoch-1 claim. The loser
    deletes its own uniquely-named tags, so it leaks no pins — and the
    winner's catalog never names a version that is not already pinned
    (the r12 tags-after-claim ordering opened a window where a
    concurrent retention/vacuum on a member table could prune a
    version the just-committed catalog pointed at; this is the
    tags-first ordering with the original leak fixed on the losing
    path instead). Mirrors catalog_txn_upsert's txn-id tag pattern."""
    fs = _fs(spark, catalog_path)
    token = uuid.uuid4().hex[:8]
    entries = {}
    created_tags: list[tuple[str, str]] = []
    for name, root in tables.items():
        cur = _ensure_versioned(root, spark, fs)
        entries[name] = {"root": root, "current": os.path.basename(cur)}
        ref = f"cat1-{name}-{token}"
        # Pin the tag at the SAME version the catalog entry records —
        # create_tag without at_version pins the table's HEAD at tag
        # time, and a concurrent commit between _ensure_versioned and
        # create_tag would leave `cur` unpinned against retention (the
        # exact window the tags-first ordering exists to close).
        create_tag(spark, root, ref, at_version=_version_number(cur))
        created_tags.append((root, ref))
    payload = {"epoch": 1, "tables": entries}
    if not fs.put_if_absent(
        _epoch_claim_path(catalog_path, 1), json.dumps(payload).encode()
    ):
        for root, ref in created_tags:
            try:
                delete_ref(root, ref)
            except ValueError:
                pass
        raise ValueError(f"catalog already exists at {catalog_path!r}")
    fs.put_atomic(catalog_path, json.dumps(payload).encode())
    return payload


def catalog_read_table(
    spark: SparkSession, catalog_path: str, name: str
) -> DataFrame:
    """Read a table AT THE CATALOG'S PINNED VERSION — the transactional
    view (the table's own pointer may already be ahead; catalog readers
    don't care)."""
    fs = _fs(spark, catalog_path)
    cat = _catalog_read_raw(catalog_path, fs)
    if name not in cat["tables"]:
        raise ValueError(
            f"catalog has no table {name!r}; tables: "
            f"{sorted(cat['tables'])}"
        )
    ent = cat["tables"][name]
    d = os.path.join(os.path.dirname(ent["root"]), ent["current"])
    if not fs.is_dir(d):
        raise ValueError(
            f"catalog names {ent['current']!r} for table {name!r} but it "
            "is not a directory — a pin was broken outside the protocol"
        )
    return _read_tree_dir(spark, d, fs)


def catalog_txn_upsert(
    spark: SparkSession,
    catalog_path: str,
    updates: dict[str, tuple[DataFrame, str, str]],
    _pre_commit_hook=None,
) -> dict:
    """Atomically upsert into SEVERAL catalog tables: `updates` maps
    table name -> (updates_df, key_col, partition_col). All tables'
    new versions become visible to catalog readers in one PUT; a
    concurrent transaction from the same epoch loses loudly. Returns
    the new catalog payload. `_pre_commit_hook` is a test seam called
    after every table's data is staged and before the catalog flip —
    a reader driven there must still see every table OLD."""
    fs = _fs(spark, catalog_path)
    cat = _catalog_read_raw(catalog_path, fs)
    epoch = cat["epoch"]
    unknown = set(updates) - set(cat["tables"])
    if unknown:
        raise ValueError(f"catalog has no tables {sorted(unknown)}")
    txn = uuid.uuid4().hex[:8]
    new_entries = dict(cat["tables"])
    txn_branches: list[tuple[str, str]] = []  # (root, ref name)
    try:
        for name, (df, key_col, part_col) in updates.items():
            root = cat["tables"][name]["root"]
            bname = f"txn-{txn}-{name}"
            # fork the txn branch AT THE CATALOG'S PINNED VERSION (not
            # the table's own head): the transaction's base is what the
            # catalog promised, anything newer on the table's main line
            # is outside this catalog's world
            payload = create_branch(spark, root, bname)
            txn_branches.append((root, bname))
            if payload["current"] != cat["tables"][name]["current"]:
                # table's pointer moved past the catalog pin: fork the
                # branch from the pinned version explicitly
                delete_ref(root, bname)
                pinned_v = _version_number(cat["tables"][name]["current"])
                create_branch(spark, root, bname, at_version=pinned_v)
            merge_upsert_branch(spark, root, bname, df, key_col, part_col)
            head = list_refs(root, fs)[bname]["current"]
            new_entries[name] = {"root": root, "current": head}
        # tag the new versions under the NEXT epoch (pins outlive the
        # txn branches we delete below). Tag names carry the txn id so
        # RACING transactions of the same epoch never collide on a
        # name — the loser's uniquely-named tags are dropped in its
        # error path, the previous epoch's by prefix after a win.
        for name, ent in new_entries.items():
            create_tag(
                spark,
                ent["root"],
                f"cat{epoch + 1}-{name}-{txn}",
                at_version=_version_number(ent["current"]),
            )
        if _pre_commit_hook is not None:
            _pre_commit_hook()
        # THE commit point: a conditional PUT of the epoch-keyed claim
        # — a real compare-and-swap, not check-then-put. Two racers
        # that both staged from epoch N both attempt e{N+1}; the store
        # guarantees exactly one create succeeds, so the loser cannot
        # silently overwrite the winner's committed catalog (the old
        # epoch re-check had exactly that last-writer-wins window).
        new_cat = {"epoch": epoch + 1, "tables": new_entries}
        if not fs.put_if_absent(
            _epoch_claim_path(catalog_path, epoch + 1),
            json.dumps(new_cat).encode(),
        ):
            raise ConcurrentCommitError(
                f"epoch {epoch + 1} already claimed — a concurrent "
                "transaction committed first; retry from the new catalog"
            )
        # reader-hint refresh (pure cache; readers probe the claim
        # chain forward, so a crash right here loses nothing)
        fs.put_atomic(catalog_path, json.dumps(new_cat).encode())
    except ConcurrentCommitError:
        # losing txn: release every pin it created (its own uniquely-
        # named next-epoch tags may or may not exist yet; its branches
        # always do)
        for name in cat["tables"]:
            root = cat["tables"][name]["root"]
            try:
                delete_ref(root, f"cat{epoch + 1}-{name}-{txn}")
            except ValueError:
                pass
        for root, bname in txn_branches:
            try:
                delete_ref(root, bname)
            except ValueError:
                pass
        raise
    # cleanup (post-commit, non-atomic by design — pure garbage): drop
    # txn branches and the previous epoch's tags
    for root, bname in txn_branches:
        try:
            delete_ref(root, bname)
        except ValueError:
            pass
    for name, ent in cat["tables"].items():
        prefix = f"cat{epoch}-{name}-"
        for ref in list(list_refs(ent["root"], fs)):
            if ref.startswith(prefix):
                try:
                    delete_ref(ent["root"], ref)
                except ValueError:
                    pass
    return new_cat
