"""Cited receipts exist: every tool path and root JSON receipt the
library docstrings and the project documents name is in the tree, and
every PQ_RECALL.json block they cite is a key of that file. A receipt
named as evidence but missing (or regenerated without the cited block)
is a claim nobody can check."""

from __future__ import annotations

import json
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _cited_text() -> dict[str, str]:
    paths = sorted((ROOT / "poc_spark").rglob("*.py")) + [
        ROOT / name for name in ("README.md", "SURVEY.md", "CLAUDE.md")
    ]
    # whitespace-normalized, so a citation wrapped over lines still matches
    return {
        str(p.relative_to(ROOT)): " ".join(p.read_text(encoding="utf-8").split())
        for p in paths
    }


def _missing(pattern: str, exists) -> list[str]:
    return sorted(
        f"{src}: {name}"
        for src, text in _cited_text().items()
        for name in set(re.findall(pattern, text))
        if not exists(name)
    )


def test_cited_tools_exist():
    assert _missing(
        r"tools/(\w+\.(?:py|sh))\b", lambda n: (ROOT / "tools" / n).is_file()
    ) == []


def test_cited_json_receipts_exist():
    # root receipts are UPPER-case names; globs (`CORRECTNESS_r*.json`)
    # and templates (`BENCH_r{N}.json`) are not names
    assert _missing(
        r"(?<![\w*{}/.-])([A-Z][A-Za-z0-9_.-]*\.json)(?![\w*])",
        lambda n: (ROOT / n).is_file(),
    ) == []


def test_cited_pq_recall_blocks_exist():
    keys = set(json.loads((ROOT / "PQ_RECALL.json").read_text()))
    cited = {
        (src, block.strip("'"))
        for src, text in _cited_text().items()
        for m in re.finditer(
            r"PQ_RECALL\.json(?:'s)?\s*\(?((?:'?\w+'?/?)+)\s+blocks?\b", text
        )
        for block in m.group(1).split("/")
    }
    assert {block for _, block in cited} >= {"rerank", "ivfpq_rerank", "opq"}
    assert sorted(f"{src}: {b}" for src, b in cited if b not in keys) == []
