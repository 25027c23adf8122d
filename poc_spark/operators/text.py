"""Text-analysis operators: word frequency + top-k (OP-AGG-WORDFREQ /
OP-TOPK). The serving-edge map shaping is serve.analyze_words_response.

Reference: the vestigial /analyze/{filename} endpoint whose client
contract survives at frontend/src/components/Formgibui.jsx:63-83 (server
route absent); client slices the top 10 (Formgibui.jsx:68-69).

Scale: split+explode+groupBy is one narrow stage into a partial/final
hash aggregate — no UDFs, whole-stage codegen end to end. Top-k plans as
TakeOrderedAndProject (no full sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = r"\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the only tokenizer the reference implies)."""
    return F.split(text, TOKEN_SPLIT)


def word_freq(df: DataFrame, text_col: str = "text") -> DataFrame:
    """OP-AGG-WORDFREQ: (word, freq) histogram over a text column."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def top_k_words(freq: DataFrame, k: int = 10) -> DataFrame:
    """OP-TOPK with deterministic tie-break (freq desc, word asc)."""
    return freq.orderBy(F.desc("freq"), "word").limit(k)
