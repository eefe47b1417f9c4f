"""End-to-end training-data pipeline composition (north-star LLM-pipeline
ops, SURVEY §2.12): the individual text-analysis / dedup operators chained
the way a real pretraining-corpus build chains them —

    documents
      -> normalize + tokenize                 (text_token_stats family)
      -> quality gate: length, punctuation,
         stopword ratio                       (text_quality family)
      -> exact dedup, keep lowest doc_id      (dedup_exact family)
      -> surviving-corpus rows

Everything before the dedup groupBy is a single narrow projection +
filter over the parquet scan (column-pruned to doc_id, text); the only
shuffle is the final groupBy on the 32-char md5 digest — at 100 TB the
corpus body never shuffles, and every gate has already dropped its rows
before the exchange. This is the composition contract the standalone
operators are designed for: chaining them adds NO extra shuffles or
Python stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import normalized, tokens
from ..catalog import query
from ..sources import load_table
from ..functions.text import punct_ratio as punct_ratio_expr
from ..functions.text import stopword_ratio as stopword_ratio_expr
from .text_analysis import (
    _NORM_SQL,
    _PUNCT_SQL,
    _SW_RATIO_SQL,
    _TOKS_SQL,
    STOPWORDS,
)

MIN_TOKENS = 10
MAX_PUNCT_RATIO = 0.30
MIN_STOPWORD_RATIO = 0.02


@query(
    "pipeline_training_corpus",
    f"""
    WITH toked AS (
        SELECT doc_id,
               {_NORM_SQL} AS norm,
               {_TOKS_SQL} AS toks,
               {_PUNCT_SQL} AS punct_ratio
        FROM documents
        WHERE length(text) > 0
    ),
    gated AS (
        SELECT doc_id, norm,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               punct_ratio,
               {_SW_RATIO_SQL} AS stopword_ratio
        FROM toked
        WHERE len(toks) >= {MIN_TOKENS}
          AND punct_ratio <= {MAX_PUNCT_RATIO}
          AND {_SW_RATIO_SQL} >= {MIN_STOPWORD_RATIO}
    )
    SELECT md5(norm) AS content_hash,
           min(doc_id) AS doc_id,
           count(*) AS n_copies,
           min(n_tokens) AS n_tokens
    FROM gated
    GROUP BY content_hash
    """,
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate then exact-dedup the documents table; one row per
    surviving (deduplicated) document. All copies of a given normalized
    text share n_tokens, so min(n_tokens) is exact, not approximate."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toked = d.select(
        "doc_id",
        normalized("text").alias("norm"),
        tokens("text").alias("toks"),
        punct_ratio_expr("text").alias("punct_ratio"),
    )
    gated = (
        toked.withColumn("n_tokens", F.size("toks").cast("bigint"))
        .withColumn(
            "stopword_ratio",
            stopword_ratio_expr(F.col("toks"), STOPWORDS),
        )
        .filter(
            (F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("punct_ratio") <= MAX_PUNCT_RATIO)
            & (F.col("stopword_ratio") >= MIN_STOPWORD_RATIO)
        )
    )
    return (
        gated.select("doc_id", F.md5("norm").alias("content_hash"), "n_tokens")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.min("n_tokens").alias("n_tokens"),
        )
    )
