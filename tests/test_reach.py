"""Reach it or delete it: every public top-level def or class of
poc_spark/, outside the contract modules, is named by other library
code, or `_UNREACHED` says why it stays. Library code that only tests
or tools call is never run against an oracle by either sweep, so it
needs a reason to exist. Static: parses the sources with `ast` and
starts no Spark.

A def counts as *reached* when its name appears as a Name, an
Attribute or an import alias in another poc_spark module, or in another
top-level statement of its own module. A name mention is not a call,
so the scan under-reports: it finds dead code, it does not prove code
live."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "poc_spark"

_SERVED = "served entry point: the request layer calls it, not the library"
_PERFBENCH = (
    "imported by perfbench/, which no change may edit outside a "
    "benchmark change; goes with the next one"
)
_ORACLE = "test oracle: the quadratic or builtin form a faster twin is pinned to"

# "module.name" (dotted path under poc_spark/) -> one-line reason
_UNREACHED = {
    # served entry points
    "serve.analyze_network": _SERVED + " (GET /analyze/network)",
    "serve.upload_chats_response": _SERVED + " (POST /upload-chats)",
    "serve.analyze_words_response": _SERVED + " (word-frequency request)",
    "session.get_spark": "the session factory every tool, bench and "
    "the test fixture start from",
    # imported by perfbench/
    "operators.etl.append_messages": _PERFBENCH,
    "serve.network_response": _PERFBENCH,
    "operators.network.interaction_graph": _PERFBENCH,
    # cited reference behaviour
    "operators.etl.append_messages_jdbc": "JDBC twin of the reference's "
    "MySQL insert (backend/main.py:380-384)",
    "operators.network.search_nodes": "the UI's node search "
    "(frontend/src/pages/Form.jsx:159-163)",
    "functions.security.with_credential": "salted digest, the engine's "
    "bcrypt.hashpw (backend/main.py:135,148,181)",
    "functions.security.verify_credential": "verify by recompute, the "
    "engine's bcrypt.checkpw (backend/main.py:135,148,181)",
    "operators.dims.DimTable": "users/research CRUD over MongoDB "
    "(backend/main.py:99-227)",
    "operators.dims.make_user_rows": "user rows with an engine uuid "
    "(backend/main.py:114,136)",
    "operators.dims.make_research_rows": "research rows with the audit "
    "timestamp (backend/main.py:413)",
    # test oracles
    "operators.dedup.ngram_jaccard_pairs": _ORACLE + " (LSH and bitset "
    "Jaccard joins)",
    "operators.dedup.containment_pairs": _ORACLE + " (prefix and bitset "
    "containment joins)",
    "operators.grouped.ols_slope_builtin": _ORACLE + " (ols_slope_pandas)",
    "streaming.joins.attribute_clicks_batch": "test oracle: the bounded "
    "batch twin of attribute_clicks, pinned to the same expected set",
    "operators.embeddings.dequantize_int8": "test oracle: bounds the "
    "int8 quantization error in tests/test_embeddings.py",
    # test input builder
    "sources.chat.chat_lines_from_strings": "builds raw_chat from "
    "in-memory lines for the chat tests and the differential oracles",
    # cited by a receipt tool
    "plans.skew.salted_broadcast_join": "tools/skew_demo.py measures it "
    "for SKEW_DEMO.json",
    "plans.skew.salted_top_k": "tools/topk_skew_demo.py measures it for "
    "TOPK_SKEW_DEMO.json",
    # open for the next reach cut, each with its reason
    "sources.lake.clone_tree": "zero-copy clone; no registry entry yet, "
    "tests only",
    "sources.lake.compact_inplace": "the crash suite's full-rewrite "
    "anchor (repartition_tree shares its commit mode)",
    "operators.multimodal.decode_media": "codec-less decode plumbing; "
    "the registry decodes with decode_ppm, decode_png and decode_jpeg",
    "operators.expectations.quarantine": "row-rule split; the sources "
    "quarantine on their own PERMISSIVE read paths",
    "operators.similarity.ivf_centroids": "deterministic centroid pick; "
    "the registry fits with ivf_centroids_kmeans",
    "operators.similarity.rotate_expr": "Spark fold pinned equal to "
    "rotate_query; no entry rotates in Spark yet",
    "operators.similarity.pq_residual_df": "SURVEY.md's residual "
    "encoding; sim_ivfpq_residual builds its own",
    "operators.dedup.containment_bitset_pairs": "exact bitset "
    "containment, pinned equal to containment_pairs; no entry calls it",
    "operators.dedup.cosine": "array cosine helper with no caller",
    "plans.skew.salted_count": "salted groupBy count, pinned equal to "
    "the plain count; no entry calls it",
    "plans.zorder.zorder_layout": "z-order write layout; no entry "
    "calls it",
}


def _modules() -> dict[str, ast.Module]:
    return {
        ".".join(p.relative_to(PKG).with_suffix("").parts): ast.parse(
            p.read_text(encoding="utf-8"), str(p)
        )
        for p in sorted(PKG.rglob("*.py"))
    }


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rpartition(".")[2])
    return out


def _public_defs() -> dict[str, bool]:
    """{"module.name": reached} for every public top-level def or class
    outside contract.py and contract_*.py."""
    mods = _modules()
    seen = {m: _names(tree) for m, tree in mods.items()}
    out = {}
    for mod, tree in mods.items():
        base = mod.rpartition(".")[2]
        if base == "contract" or base.startswith("contract_"):
            continue
        per_stmt = [_names(st) for st in tree.body]
        for i, st in enumerate(tree.body):
            if not isinstance(
                st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or st.name.startswith("_"):
                continue
            out[f"{mod}.{st.name}"] = any(
                st.name in names for m, names in seen.items() if m != mod
            ) or any(
                st.name in names for j, names in enumerate(per_stmt) if j != i
            )
    return out


def test_every_public_def_is_reached_or_listed():
    unlisted = sorted(
        name
        for name, reached in _public_defs().items()
        if not reached and name not in _UNREACHED
    )
    assert not unlisted, (
        "public defs no other poc_spark code names; give each a library "
        f"caller, delete it, or list it in _UNREACHED with a reason: {unlisted}"
    )


def test_unreached_map_is_current():
    defs = _public_defs()
    gone = sorted(k for k in _UNREACHED if k not in defs)
    reached = sorted(k for k in _UNREACHED if defs.get(k))
    assert (gone, reached) == ([], []), "(no such def, now reached)"


def test_every_reason_is_one_line():
    bad = [k for k, why in _UNREACHED.items() if not why.strip() or "\n" in why]
    assert bad == []
