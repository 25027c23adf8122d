"""Test-only behavioral oracles, used purely for differential testing:
the reference's flagship analysis ("who talks after whom", SURVEY.md
§5.2 item 4) and, at the bottom, exact sequential BPE learning and the
exact batch cosine kNN join.

Semantics observed from /root/reference/backend/main.py:255-342,
re-expressed as a staged pipeline of tiny helpers (structure gate →
stamp split → day parse → sender normalization → chain fold). The
surface form is deliberately unlike the reference's single imperative
loop; only the observable behavior (including its quirks) is shared.
"""

from __future__ import annotations

import datetime as dt
import math

# tokens that mark WhatsApp's "<media> omitted" lines in Hebrew exports;
# the reference drops any line containing them (backend/main.py:289).
_OMIT_MARKS = ("הושמטה", "הושמט")


def _structurally_valid(line: str) -> bool:
    """Bracketed stamp + sender delimiter present (main.py:291-293)."""
    return line.startswith("[") and "]" in line and ": " in line


def _split_stamp(line: str) -> tuple[str, str] | None:
    """(raw stamp, remainder) around the FIRST '] ', or None when the
    bracket never closes with a space — the reference's tuple unpack
    raises there and its catch-all skips the line (main.py:295)."""
    if "] " not in line:
        return None
    head, _, rest = line.partition("] ")
    return head.strip("[]"), rest


def _parse_day(raw_stamp: str) -> dt.datetime | None:
    """Calendar day from the stamp's leading 'd.m.Y' token, else None
    (main.py:297-301: a bad date skips the line, nothing else)."""
    token = raw_stamp.split(",")[0]
    try:
        return dt.datetime.strptime(token, "%d.%m.%Y")
    except ValueError:
        return None


def _normalized_sender(rest: str) -> str | None:
    """Sender = text before the first ':', edge tildes stripped, ALL
    inner spaces deleted (main.py:310); empty disqualifies the line."""
    cleaned = rest.partition(":")[0].strip("~").replace(" ", "").strip()
    return cleaned or None


def _surviving_senders(lines, start, end, limit):
    """The ordered sender chain: one element per line that passes every
    filter. The limit counts SURVIVING lines and is checked before each
    new line (main.py:284-285); limit=0 is falsy → unlimited."""
    kept = 0
    for line in lines:
        if limit and kept >= limit:
            return
        if any(mark in line for mark in _OMIT_MARKS):
            continue
        if not _structurally_valid(line):
            continue
        parts = _split_stamp(line)
        if parts is None:
            continue
        stamp, rest = parts
        day = _parse_day(stamp)
        if day is None:
            continue
        # both-bounds-only quirk (main.py:304-307): a lone bound is a no-op
        if start and end and not (start <= day <= end):
            continue
        sender = _normalized_sender(rest)
        if sender is None:
            continue
        kept += 1
        yield sender


def analyze_network(
    lines: list[str],
    start_date: str | None = None,
    end_date: str | None = None,
    limit: int | None = None,
) -> tuple[list[str], dict[tuple[str, str], int]]:
    """Return (sorted node ids, {(source<=target): weight})."""
    start = dt.datetime.strptime(start_date, "%Y-%m-%d") if start_date else None
    end = dt.datetime.strptime(end_date, "%Y-%m-%d") if end_date else None

    nodes: set[str] = set()
    weights: dict[tuple[str, str], int] = {}
    prev: str | None = None
    for sender in _surviving_senders(lines, start, end, limit):
        nodes.add(sender)
        if prev is not None and prev != sender:
            key = (min(prev, sender), max(prev, sender))
            weights[key] = weights.get(key, 0) + 1
        prev = sender
    return sorted(nodes), weights


def bpe_merge_table(
    word_counts: dict[str, int], k: int
) -> list[tuple[int, str, str, int]]:
    r"""[(rank, left, right, pair_count)] — exact sequential BPE learning
    by full recount per merge: weighted adjacent-pair counts over the
    current segmentations, winner = (count DESC, "left right" ASC),
    then one left-to-right greedy merge pass per word. The tie-break
    compares the SPACE-JOINED string, as the engine and the DuckDB
    oracle do; tuple order differs once a symbol holds a character
    below 0x20 (("a", "z") < ("a\x01", "b") but "a z" > "a\x01 b")."""
    segs = {w: list(w) for w in word_counts}
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < k:
        counts: dict[tuple[str, str], int] = {}
        for w, syms in segs.items():
            for p in zip(syms, syms[1:]):
                counts[p] = counts.get(p, 0) + word_counts[w]
        if not counts:
            break
        (left, right), c = min(
            counts.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )
        merges.append((len(merges) + 1, left, right, c))
        for w, syms in segs.items():
            out = [syms[0]]
            for x in syms[1:]:
                if x == right and out[-1] == left:
                    out[-1] = out[-1] + x
                else:
                    out.append(x)
            segs[w] = out
    return merges


def knn_topk(rows, k: int) -> dict:
    """{(id, rank): (neighbor_id, cos)} — every vector's top-k cosine
    neighbors, self excluded, in plain Python floats: each dot product
    and squared norm sums in index order, cos = dot / (|a|·|b|) rounds
    half-up to 6 places as floor(x*1e6 + 0.5) / 1e6, and neighbors rank
    by (cos DESC, id ASC). The explicit loops are the point: `sum()`
    may compensate (Python 3.12+), and that would not be the engine's
    sequential float64 arithmetic. `rows` is [(id, vector)] with
    non-zero vectors; ids are ints or strings (strings compare by code
    point, as UTF-8 bytes do)."""
    vecs = [(i, [float(x) for x in v]) for i, v in rows]
    norms = []
    for _, v in vecs:
        acc = 0.0
        for x in v:
            acc += x * x
        norms.append(math.sqrt(acc))
    cos: dict = {}
    for a, (ia, va) in enumerate(vecs):
        for b in range(a + 1, len(vecs)):
            ib, vb = vecs[b]
            dot = 0.0
            for x, y in zip(va, vb):
                dot += x * y
            c = math.floor(dot / (norms[a] * norms[b]) * 1e6 + 0.5) / 1e6
            cos.setdefault(ia, []).append((ib, c))
            cos.setdefault(ib, []).append((ia, c))
    out = {}
    for i, _ in vecs:
        ranked = sorted(cos.get(i, []), key=lambda t: (-t[1], t[0]))[:k]
        for rank, (nb, c) in enumerate(ranked, start=1):
            out[(i, rank)] = (nb, c)
    return out
