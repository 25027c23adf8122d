"""Seeded WhatsApp-export generator for the chat workloads.

Writes a bracketed-timestamp export (`[d.M.yyyy, HH:mm:ss] Sender: text`)
whose properties are the ones the parser and the graph depend on:

- sender count and Zipf skew (node count, edge fan-out, aggregate size);
- senders written as `~ First Last` (tilde strip + space deletion);
- Hebrew media-omitted lines (dropped by the omitted filter);
- continuation lines of multi-line messages (dropped by the format
  test, but counted by the plan-size estimate that picks the chunked
  path);
- malformed dates (dropped by the tolerant date parse);
- a date span over which lines are spread in order, so a date range in
  the middle of it keeps a known share of the lines.

The first line is the group's encryption notice, so the upload path's
`group_name` rule sees a realistic first sender; the group also posts a
few system notices later, which that rule must drop.

Usage: python3 perfbench/chatgen.py OUT.txt N_LINES SEED
"""

from __future__ import annotations

import datetime as dt
import random
import sys
from dataclasses import dataclass

_WORDS = (
    "hey ok yes no maybe later tomorrow today lunch meeting call send "
    "photo link thanks great sure why when where who what done soon "
    "שלום תודה בוקר ערב מחר היום כן לא אולי יופי 😂 👍 🙏 ❤️"
).split()
_FIRST = "Dana Noa Yossi Avi Maya Omer Tamar Eitan Shira Lior Alice Bob Carol".split()
_LAST = "Cohen Levi Mizrahi Peretz Biton Friedman Katz X Y".split()
_MEDIA = ("תמונה הושמטה", "סרטון הושמט", "מדבקה הושמטה", "אודיו הושמט")
_BAD_DATES = ("32.13.{y}", "{d}/{m}/{y}", "{d}.{m}", "0.0.{y}", "{d}-{m}-{y}")


@dataclass(frozen=True)
class ChatProfile:
    """Knobs of one generated export. Shares are per line."""

    n_senders: int = 40
    zipf_s: float = 1.1
    tilde_share: float = 0.25  # share of senders written `~ First Last`
    media_share: float = 0.06
    continuation_share: float = 0.08
    bad_date_share: float = 0.01
    span_days: int = 720
    start: dt.date = dt.date(2022, 1, 1)


@dataclass(frozen=True)
class ChatFile:
    path: str
    n_lines: int
    n_bytes: int
    group_name: str
    first_day: dt.date
    last_day: dt.date


def _senders(rng: random.Random, n: int, tilde_share: float) -> list[str]:
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        name = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"
        if rng.random() < 0.3:
            name = f"{name} {len(out)}"
        if name in seen:
            name = f"{name} {len(out)}"
        seen.add(name)
        out.append(f"~ {name}" if rng.random() < tilde_share else name)
    return out


def generate(
    path: str, n_lines: int, seed: int, profile: ChatProfile = ChatProfile()
) -> ChatFile:
    """Write `n_lines` lines to `path`; same (n_lines, seed, profile) →
    byte-identical file."""
    rng = random.Random(seed)
    senders = _senders(rng, profile.n_senders, profile.tilde_share)
    weights = [1.0 / (i + 1) ** profile.zipf_s for i in range(len(senders))]
    group = f"Group {rng.randrange(1000)}"
    span_s = profile.span_days * 86400
    base = dt.datetime.combine(profile.start, dt.time())
    picks = rng.choices(senders, weights=weights, k=n_lines)
    # sorted offsets keep the stamps in file order, as in a real export
    offsets = sorted(rng.randrange(span_s) for _ in range(n_lines))
    p_media = profile.media_share
    p_cont = p_media + profile.continuation_share
    p_bad = p_cont + profile.bad_date_share
    lines: list[str] = []
    for i in range(n_lines):
        ts = base + dt.timedelta(seconds=offsets[i])
        day = f"{ts.day}.{ts.month}.{ts.year}"
        clock = f"{ts.hour:02d}:{ts.minute:02d}:{ts.second:02d}"
        if i == 0:
            lines.append(f"[{day}, {clock}] {group}: Messages and calls are end-to-end encrypted.")
            continue
        r = rng.random()
        words = " ".join(rng.choices(_WORDS, k=rng.randint(1, 12)))
        if r < p_media:
            lines.append(f"[{day}, {clock}] {picks[i]}: {rng.choice(_MEDIA)}")
        elif r < p_cont:
            lines.append(" ".join(rng.choices(_WORDS, k=rng.randint(1, 12))))
        elif r < p_bad:
            bad = rng.choice(_BAD_DATES).format(d=ts.day, m=ts.month, y=ts.year)
            lines.append(f"[{bad}, {clock}] {picks[i]}: {words}")
        elif r < p_bad + 0.002:
            lines.append(f"[{day}, {clock}] {group}: {picks[i]} changed the subject")
        else:
            lines.append(f"[{day}, {clock}] {picks[i]}: {words}")
    data = ("\n".join(lines) + "\n").encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    last = base + dt.timedelta(seconds=offsets[-1])
    return ChatFile(path, n_lines, len(data), group, profile.start, last.date())


if __name__ == "__main__":
    out, n, seed = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    print(generate(out, n, seed))
