"""Chat-line parsing and normalization expressions.

Every function returns a Column (pure expression builders — everything
stays inside whole-stage codegen; no Python UDFs anywhere on this path).
The structural steps are plain string expressions (instr, substr,
substring_index, btrim, replace), not regex splits: Spark's `split`
hands its pattern to Java's String.split, which compiles it on every
row unless the pattern is one literal character, and `] ` is two.

Reference semantics reproduced exactly (citations into /root/reference):
  - media-omitted filter: skip lines containing Hebrew "הושמטה"/"הושמט"
    (backend/main.py:288-289).
  - format predicate: startswith "[" and contains "]" and ": "
    (backend/main.py:292-293).
  - structural split: text before FIRST "] " → date part, strip "[]" from
    the ends, take text before first "," as the date string
    (backend/main.py:294-295).
  - tolerant date parse: %d.%m.%Y with non-zero-padded day/month; parse
    failure skips the row, never fails the job (backend/main.py:298-302).
  - sender normalization: text before first ":", strip leading/trailing
    "~", delete ALL spaces (interior included), strip whitespace — every
    character Python's str.isspace() accepts, not only ASCII
    (backend/main.py:310).
  - regex message parse: \\[([^\\]]+)\\]\\s*([^:]+):\\s*(.+)
    (backend/main.py:347).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# identical to the reference regex (backend/main.py:347). Python's \s
# and `.` are Unicode-aware and Java's are not, so the ETL parse
# (operators/etl.py) hands Java a respelled copy.
CHAT_LINE_PATTERN = r"\[([^\]]+)\]\s*([^:]+):\s*(.+)"

OMITTED_TOKENS = ("הושמטה", "הושמט")

# every character for which Python's str.isspace() is true — what the
# reference's .strip() and re's \s remove. Spark's trim() removes only
# ASCII space, and Java's \s matches only ASCII whitespace.
PY_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)


def is_media_omitted(line: Column) -> Column:
    """OP-FIL-OMITTED. The short token is a substring of the long one, so
    one contains() suffices; both kept for fidelity with the reference."""
    cond = F.lit(False)
    for tok in OMITTED_TOKENS:
        cond = cond | line.contains(tok)
    return cond


def is_message_format(line: Column) -> Column:
    """OP-FIL-FORMAT: `[` prefix, `]` somewhere, `: ` somewhere."""
    return line.startswith("[") & line.contains("]") & line.contains(": ")


def _after_first(text: Column, sep: str) -> Column:
    """Text after the FIRST `sep` — Python `text.split(sep, 1)[1]` —
    or null when `sep` is absent (instr is 0). Null, not an error: the
    reference's per-line catch-all skips such rows (the unpack raises,
    backend/main.py:325-327)."""
    at = F.instr(text, sep)
    return F.when(at > 0, F.substr(text, at + len(sep)))


def stamp(line: Column) -> Column:
    """`[7.10.2023, 19:43:25] x: y` → `7.10.2023, 19:43:25`: the text
    before the first `] ` (the whole line when there is none, as
    Python's split gives), edge `[`/`]` stripped — Python strip("[]")
    removes that char SET from the ends, as btrim does."""
    return F.btrim(F.substring_index(line, "] ", 1), F.lit("[]"))


def date_string(line: Column) -> Column:
    """OP-PARSE-SPLIT: `[7.10.2023, 19:43:25] x: y` → `7.10.2023`, the
    stamp's text before the first `,`."""
    return F.substring_index(stamp(line), ",", 1)


def parse_msg_date(date_str: Column) -> Column:
    """OP-PARSE-DATE: tolerant d.M.yyyy (no zero padding); null on failure."""
    return F.try_to_timestamp(date_str, F.lit("d.M.yyyy")).cast("date")


def normalize_sender(text_before_colon: Column) -> Column:
    """OP-NORM-SENDER: strip edge '~', delete every space, strip whitespace.

    Python `.strip('~')` strips a *set* of chars from both ends, as
    btrim does; `.replace(' ', '')` removes interior spaces too
    ("~ John Doe" → "JohnDoe"); `.strip()` removes every str.isspace()
    character from the ends (tab, NBSP, ideographic space, ...).
    """
    no_tilde = F.btrim(text_before_colon, F.lit("~"))
    no_spaces = F.replace(no_tilde, F.lit(" "), F.lit(""))
    return F.btrim(no_spaces, F.lit(PY_WHITESPACE))


def extract_sender(line: Column) -> Column:
    """Sender from a format-valid line: message-part text before the first
    `:`, normalized (backend/main.py:310)."""
    return normalize_sender(F.substring_index(_after_first(line, "] "), ":", 1))


def extract_message_text(line: Column) -> Column:
    """Message text after `sender:`, leading whitespace swallowed (the
    reference regex group 3 behind `:\\s*`, Python's Unicode \\s). Null
    when the message part has no ":" (the ": " the format predicate saw
    may sit in the timestamp part)."""
    after_colon = _after_first(_after_first(line, "] "), ":")
    return F.ltrim(after_colon, F.lit(PY_WHITESPACE))


def parse_chat_lines(raw_chat: DataFrame) -> DataFrame:
    """raw_chat(value, file_path, line_id) → survivors of the reference's
    filter→parse→filter chain (EP-1 stages 3-4, backend/main.py:284-312):

      omitted-filter → format predicate → date parse (skip on failure) →
      sender normalization → non-empty-sender guard.

    Date-range and limit are applied downstream (operators/network.py) so
    this parse layer is reusable by ETL, word-freq and streaming paths.
    Output: (file_path, line_id, msg_date, sender, message).

    All filters precede any window/aggregate, so Catalyst pushes them into
    the text scan (PushedFilters / early WholeStageCodegen stage).
    """
    line = F.col("value")
    return (
        raw_chat.filter(~is_media_omitted(line))
        .filter(is_message_format(line))
        .withColumn("msg_date", parse_msg_date(date_string(line)))
        .filter(F.col("msg_date").isNotNull())
        .withColumn("sender", extract_sender(line))
        .filter(F.length("sender") > 0)
        .withColumn("message", extract_message_text(line))
        .select("file_path", "line_id", "msg_date", "sender", "message")
    )
