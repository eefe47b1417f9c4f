"""PySpark-native analytics engine with the capabilities of the reference
LucaArduini/k-means_in_MapReduce (Hadoop MapReduce k-means), re-expressed
Spark-first, plus the LLM-data-pipeline operator surface (dedup, similarity
search, text analysis, streaming) designed for 100 TB scale.

Layout:
    session.py      SparkSession factory tuned for local testing / cluster scale
    sources/        parquet table loaders + reference-format text point ingest
    functions/      Catalyst expression builders (vector math, text, hashing)
    operators/      k-means (DataFrame + MLlib), relational, dedup, similarity,
                    text analysis, multimodal
    streaming/      Structured Streaming over the events table
"""

__version__ = "0.1.0"
