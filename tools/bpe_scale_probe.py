"""BPE training-loop cost receipts, appended to BPE_SCALE.json at the
repo root (the file's top-level `runs` are the historical receipt of
the sequential and batched learners this repo no longer has).

Usage: python tools/bpe_scale_probe.py MODE N SF_DIR
  --greedy-only N SF_DIR
      one deep bpe_learn_greedy run on the widened corpus
      (`greedy_deep_run`)
  --incremental-only N SF_DIR
      greedy recount vs incremental on the 160k-word corpus, tables
      asserted identical (`incremental_bigvocab`)
  --local-32k N SF_DIR
      N merges of the exact learner bpe_learn_local on the 160k-word
      corpus (`local_32k_run`)
SF_DIR is the generated table directory; the committed receipts were
taken at scale factor 0.1.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_RECEIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BPE_SCALE.json",
)


def _append_receipt(key: str, rec: dict) -> None:
    """Set BPE_SCALE.json's `key` section to `rec`, keeping the rest."""
    with open(_RECEIPT) as fh:
        out = json.load(fh)
    out[key] = rec
    with open(_RECEIPT, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(rec))
    print(f"updated {_RECEIPT}")


def _bigvocab(docs):
    """32 md5-hex words per document: ~160k distinct words at sf0.1."""
    from pyspark.sql import functions as F

    return (
        docs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(31))).alias("i"),
        )
        .select(
            "doc_id",
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("i").cast("string"),
                )
            ).alias("w"),
        )
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("w")).alias("text"))
    )


def _greedy_only(sf_dir: str, n: int) -> int:
    """--greedy-only N: one deep dominance-batched run on the widened
    corpus (four 8-hex-char md5 words per document), recorded as
    `greedy_deep_run` — shows how batch width GROWS with the symbol
    inventory (the dominance set widens as merges diversify symbols),
    so the 32k extrapolation from a shallow run is conservative."""
    from pyspark.sql import functions as F

    from poc_spark.operators.textstats import bpe_learn_greedy
    from poc_spark.session import get_spark
    from poc_spark.sources.catalog import load_table

    spark = get_spark("bpe-greedy-deep")
    docs = load_table(spark, sf_dir, "documents")
    wide = docs.select(
        F.col("doc_id"),
        F.concat_ws(
            " ",
            F.substring(F.md5("text"), 1, 8),
            F.substring(F.md5("text"), 9, 8),
            F.substring(F.md5("text"), 17, 8),
            F.substring(F.md5("text"), 25, 8),
        ).alias("text"),
    )
    wide.count()  # warm
    stats: dict = {}
    t0 = time.perf_counter()
    learned = len(
        bpe_learn_greedy(wide, num_merges=n, stats_out=stats).collect()
    )
    wall = time.perf_counter() - t0
    widths = stats.get("widths", [])
    q = len(widths) // 4 or 1
    _append_receipt(
        "greedy_deep_run",
        {
            "corpus": "widened",
            "num_merges": n,
            "merges_learned": learned,
            "wall_sec": round(wall, 2),
            "sec_per_merge": round(wall / max(learned, 1), 4),
            "rounds": len(widths),
            "mean_batch_width": round(sum(widths) / max(len(widths), 1), 1),
            "mean_width_by_quartile": [
                round(sum(widths[i * q : (i + 1) * q])
                      / max(len(widths[i * q : (i + 1) * q]), 1), 1)
                for i in range(4)
            ],
            "max_batch_width": max(widths, default=0),
            "extrapolated_32k_merges_hours": round(
                wall / max(learned, 1) * 32000 / 3600, 2
            ),
        },
    )
    spark.stop()
    return 0


def _incremental_only(sf_dir: str, n: int) -> int:
    """--incremental-only N: recount vs incremental greedy on a
    LARGE-VOCABULARY corpus (_bigvocab; the regime the incremental fork
    exists for: per-round cost must scale with AFFECTED words, not the
    vocabulary), recorded as `incremental_bigvocab`. Asserts
    bit-identical tables."""
    from pyspark.sql import functions as F

    from poc_spark.operators.textstats import bpe_learn_greedy
    from poc_spark.session import get_spark
    from poc_spark.sources.catalog import load_table

    spark = get_spark("bpe-incremental-probe")
    big = _bigvocab(load_table(spark, sf_dir, "documents"))
    vocab = (
        big.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .distinct()
        .count()
    )
    big.count()  # warm
    t0 = time.perf_counter()
    rec = bpe_learn_greedy(big, num_merges=n, incremental=False).collect()
    t1 = time.perf_counter()
    st: dict = {}
    inc = bpe_learn_greedy(
        big, num_merges=n, incremental=True, stats_out=st
    ).collect()
    t2 = time.perf_counter()
    if [tuple(r) for r in rec] != [tuple(r) for r in inc]:
        raise AssertionError("incremental diverged from recount")
    widths = st.get("widths", [])
    _append_receipt(
        "incremental_bigvocab",
        {
            "corpus": "bigvocab (32 md5-hex words/doc)",
            "vocab_rows": vocab,
            "num_merges": n,
            "tables_identical": True,
            "recount_wall_sec": round(t1 - t0, 2),
            "incremental_wall_sec": round(t2 - t1, 2),
            "speedup_incremental": round((t1 - t0) / max(t2 - t1, 1e-9), 2),
            "rounds": len(widths),
            "mean_batch_width": round(sum(widths) / max(len(widths), 1), 1),
            "note": (
                "incremental=auto dispatches on vocab >= "
                "spark.poc.bpe.incrementalMinVocab (default 100k): at the "
                "tiny test vocabularies the delta machinery costs more "
                "than the explode it saves (measured), at production "
                "vocabularies per-round work follows the AFFECTED-word "
                "set, which shrinks as merges get rarer. Selection is the "
                "distributed min_by-per-symbol formulation on both paths "
                "(no single-partition window — the prior global "
                "row_number sort was a one-task bottleneck at millions "
                "of distinct pairs)."
            ),
        },
    )
    spark.stop()
    return 0


def _local_32k(sf_dir: str, n: int) -> int:
    """--local-32k N: a DIRECT production-size measurement (no
    extrapolation): bpe_learn_local — distributed word count +
    driver-local incremental-heap merge loop, the exact learner
    (oracled as text_bpe_learn) — runs N real merges on the 160k-word
    corpus (_bigvocab). Recorded as `local_32k_run`."""
    from poc_spark.operators.textstats import bpe_learn_local
    from poc_spark.session import get_spark
    from poc_spark.sources.catalog import load_table

    spark = get_spark("bpe-local-32k")
    big = _bigvocab(load_table(spark, sf_dir, "documents"))
    big.count()  # warm
    t0 = time.perf_counter()
    rows = bpe_learn_local(big, num_merges=n).collect()
    wall = time.perf_counter() - t0
    _append_receipt(
        "local_32k_run",
        {
            "learner": "bpe_learn_local (distributed word count + "
            "driver-local incremental-heap merge loop; oracled as "
            "text_bpe_learn)",
            "corpus": "bigvocab (32 md5-hex words/doc, 160k distinct words)",
            "num_merges": n,
            "merges_learned": len(rows),
            "wall_sec": round(wall, 2),
            "wall_hours": round(wall / 3600, 3),
            "sec_per_merge": round(wall / max(len(rows), 1), 5),
            "note": (
                "A DIRECT measurement, not an extrapolation: the "
                "inherently merge-order-sequential loop runs on the "
                "collected Zipf-bounded vocabulary (the architecture "
                "every production tokenizer trainer uses) while the "
                "corpus-sized tokenize+count stays distributed. Above "
                "the driver budget (max_local_vocab guard) the choice "
                "is a larger budget or bpe_learn_greedy, a different "
                "table."
            ),
        },
    )
    spark.stop()
    return 0


def main() -> int:
    modes = {
        "--greedy-only": _greedy_only,
        "--incremental-only": _incremental_only,
        "--local-32k": _local_32k,
    }
    if len(sys.argv) != 4 or sys.argv[1] not in modes:
        print(__doc__)
        return 2
    return modes[sys.argv[1]](sys.argv[3], int(sys.argv[2]))


if __name__ == "__main__":
    raise SystemExit(main())
