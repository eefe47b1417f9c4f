"""Training-data curation operators (north-star LLM-pipeline ops, no
reference citation — SURVEY §2.12 extensions): deterministic dataset
splitting, token-window chunking, and benchmark decontamination.

These are the steps between "raw corpus" and "training batches" that a
100 TB pipeline runs after dedup/quality gating:

- ``documents_hash_split``: train/val/test assignment must be DETERMINISTIC
  and data-local (a pure function of the document key) — never `rand()`,
  which reshuffles membership across runs and executors. md5 is the
  oracle-parity hash (identical builtin in Spark and DuckDB); at scale the
  same pattern runs on xxhash64 for one fewer string materialization.
- ``docs_chunk_for_training``: fixed token windows with overlap (stride <
  window), the standard packing prep for LM training. Pure Catalyst
  sequence/slice HOFs — a narrow fan-out, no shuffle, no UDF.
- ``decontaminate_ngram_overlap``: flag corpus documents sharing any word
  n-gram with a benchmark set (here: the doc_id < BENCH_MAX_DOC_ID slice
  as a stand-in). The benchmark side is tiny by construction, so the join
  broadcasts — the corpus never shuffles; this is the canonical
  eval-contamination sweep shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import normalized, tokens, word_ngrams
from ..catalog import query
from ..sources import load_table

TRAIN_PCT = 80  # bucket < 80 -> train
VAL_PCT = 90  # 80 <= bucket < 90 -> val; else test

CHUNK_TOKENS = 64
CHUNK_STRIDE = 56  # 8-token overlap between consecutive chunks

DECON_NGRAM = 5
BENCH_MAX_DOC_ID = 100  # doc_id < this = the stand-in benchmark set

SEQ_CAP = 256  # packed training-sequence capacity (tokens)
PACK_GROUPS = 16  # packing parallelism (see docs_pack_sequences)

# stratified sampling: per-stratum keep percentage (md5-bucket threshold)
STRATA_RATES = {"short": 10, "medium": 50, "long": 100}
SHORT_MAX_CHARS = 200
MEDIUM_MAX_CHARS = 600


def hash_bucket(col: F.Column, buckets: int = 100) -> F.Column:
    """Deterministic [0, buckets) bucket from the md5 of a key column —
    stable across runs, executors, and engines (DuckDB computes the
    identical value, which is what makes the split oracle-checkable)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % buckets
    )


@query(
    "documents_hash_split",
    f"""
    WITH b AS (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                   % 100 AS bucket,
               length(text) AS n_chars
        FROM documents
    )
    SELECT CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
                WHEN bucket < {VAL_PCT} THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY split
    """,
)
def documents_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split of the corpus keyed on
    md5(doc_id) — membership is reproducible from the key alone."""
    d = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .when(bucket < VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), F.length("text").alias("n_chars"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# Single definitions of the tokenize -> window fan-out, in BOTH engines:
# chunking and packing must describe the same windows, so a stride /
# boundary / tokenizer change can never reach one and miss the other
# (each would stay individually green while packing sequences that no
# longer correspond to the chunk set).
_CHUNKS_CTE = f"""
    toked AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')),
                            ' ') AS toks
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST(st / {CHUNK_STRIDE} AS INT) AS chunk_idx,
               CAST(len(toks[st + 1 : least(st + {CHUNK_TOKENS}, len(toks))])
                    AS INT) AS n_tokens,
               md5(list_aggregate(
                   toks[st + 1 : least(st + {CHUNK_TOKENS}, len(toks))],
                   'string_agg', ' ')) AS chunk_md5
        FROM (
            SELECT doc_id, toks,
                   unnest(range(0, greatest(len(toks), 1), {CHUNK_STRIDE})) AS st
            FROM toked
        )
    )
"""


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk_idx, n_tokens, chunk_md5) — the Spark twin of
    ``_CHUNKS_CTE``. Narrow plan: tokenize -> sequence/explode -> slice,
    zero shuffles; consumers that don't select chunk_md5 get the md5
    pruned by Catalyst."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("doc_id", tokens("text").alias("toks"))
    starts = toked.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("toks") - 1, F.lit(0)),
                F.lit(CHUNK_STRIDE),
            )
        ).alias("st"),
    )
    chunk = F.slice("toks", F.col("st") + 1, CHUNK_TOKENS)
    return starts.select(
        "doc_id",
        (F.col("st") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.size(chunk).alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


@query(
    "docs_chunk_for_training",
    f"""
    WITH {_CHUNKS_CTE}
    SELECT doc_id, chunk_idx, n_tokens, chunk_md5 FROM chunks
    """,
)
def docs_chunk_for_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fan every document out into {CHUNK_TOKENS}-token windows advancing
    by {CHUNK_STRIDE} (8-token overlap). chunk_md5 checksums the exact
    chunk text so the oracle pins content, not just counts."""
    return doc_chunks(spark, sf_dir)


@query(
    "docs_pack_sequences",
    f"""
    WITH {_CHUNKS_CTE},
    grouped AS (
        SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                    % {PACK_GROUPS} AS INT) AS pack_group,
               doc_id, chunk_idx, n_tokens
        FROM chunks
    ),
    packed AS (
        SELECT pack_group, n_tokens,
               -- // not a double CAST: DuckDB CAST(double AS BIGINT)
               -- ROUNDS, Spark's cast truncates; floor division agrees
               -- (the outer CAST only narrows HUGEINT -> BIGINT)
               CAST((sum(n_tokens) OVER (
                        PARTITION BY pack_group ORDER BY doc_id, chunk_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                    ) - n_tokens) // {SEQ_CAP} AS BIGINT) AS seq_id
        FROM grouped
    )
    SELECT pack_group, seq_id,
           count(*) AS n_chunks,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens_packed
    FROM packed GROUP BY pack_group, seq_id
    """,
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assemble token chunks into fixed-capacity
    ({SEQ_CAP}-token) training sequences — the step that turns a chunked
    corpus into dense LM batches (padding waste -> fill ratio).

    Packing rule: deterministic streaming first-fit — chunks in
    (doc_id, chunk_idx) order, a chunk opens a new sequence iff its
    STARTING offset crosses a capacity boundary (running-sum binning, so
    sequences may overflow by at most one chunk; exact bin packing is
    NP-hard and order-unstable — this rule is one window pass and fully
    reproducible).

    Scale shape: a GLOBAL running sum would serialize the corpus through
    one window partition, so packing runs independently per
    ``pack_group`` (md5 bucket of doc_id, {PACK_GROUPS} groups here —
    at 100 TB set groups ~ cores so each worker packs its own stream;
    sequences never span groups, matching how packed shards are written
    per-task anyway). ONE shuffle on pack_group feeds both the window
    and the final per-sequence rollup."""
    chunks = doc_chunks(spark, sf_dir).select(
        "doc_id", "chunk_idx", "n_tokens"
    )
    grouped = chunks.select(
        hash_bucket(F.col("doc_id"), PACK_GROUPS).cast("int").alias("pack_group"),
        "doc_id",
        "chunk_idx",
        "n_tokens",
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("pack_group")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = grouped.select(
        "pack_group",
        "n_tokens",
        (
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / SEQ_CAP
        ).cast("bigint").alias("seq_id"),
    )
    return packed.groupBy("pack_group", "seq_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("n_tokens_packed"),
    )


@query(
    "documents_stratified_sample",
    f"""
    WITH s AS (
        SELECT doc_id,
               CASE WHEN length(text) <= {SHORT_MAX_CHARS} THEN 'short'
                    WHEN length(text) <= {MEDIUM_MAX_CHARS} THEN 'medium'
                    ELSE 'long' END AS stratum,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                   % 100 AS bucket
        FROM documents
    )
    SELECT stratum,
           count(*) AS n_total,
           CAST(sum(CASE WHEN bucket < CASE stratum
                        WHEN 'short' THEN {STRATA_RATES["short"]}
                        WHEN 'medium' THEN {STRATA_RATES["medium"]}
                        ELSE {STRATA_RATES["long"]} END
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM s GROUP BY stratum
    """,
)
def documents_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling — the data-mixture rebalance
    step (keep 100% of long documents, 50% of medium, 10% of short).
    Membership is a pure function of md5(doc_id) vs the stratum's
    threshold: reproducible across runs/engines (same property as
    ``documents_hash_split``), no ``rand()``, no extra pass — stratum
    assignment, keep decision, and the rollup are one narrow scan + one
    aggregation. At 100 TB the keep-filter runs inside the scan stage and
    the only shuffle is the tiny per-stratum rollup."""
    d = load_table(spark, sf_dir, "documents")
    stratum = (
        F.when(F.length("text") <= SHORT_MAX_CHARS, F.lit("short"))
        .when(F.length("text") <= MEDIUM_MAX_CHARS, F.lit("medium"))
        .otherwise(F.lit("long"))
    )
    rate = (
        F.when(F.col("stratum") == "short", F.lit(STRATA_RATES["short"]))
        .when(F.col("stratum") == "medium", F.lit(STRATA_RATES["medium"]))
        .otherwise(F.lit(STRATA_RATES["long"]))
    )
    b = d.select(
        stratum.alias("stratum"), hash_bucket(F.col("doc_id")).alias("bucket")
    )
    return b.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum((F.col("bucket") < rate).cast("bigint")).alias("n_kept"),
    )


@query(
    "corpus_mixture_report",
    """
    WITH agg AS (
        SELECT source, lang,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY source, lang
    )
    SELECT source, lang, n_docs, total_chars,
           total_chars / CAST(sum(total_chars) OVER () AS DOUBLE) AS char_share
    FROM agg
    """,
)
def corpus_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture dashboard: per (source, lang) document/char counts and
    each cell's share of the corpus — the report that drives mixture
    weighting decisions in a training-data pipeline. One aggregation over
    the corpus; the share window runs over the tiny aggregated result
    (|sources|x|langs| rows), not the data, so the unpartitioned window
    is O(cells) regardless of corpus size."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    agg = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    total = F.sum("total_chars").over(Window.partitionBy())
    return agg.select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        (F.col("total_chars") / total.cast("double")).alias("char_share"),
    )


@query(
    "dedup_rate_by_source",
    """
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))))
               AS n_unique,
           1.0 - count(DISTINCT md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))))
                 / CAST(count(*) AS DOUBLE) AS dup_rate
    FROM documents GROUP BY source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication rate — the signal that tells a pipeline
    WHICH ingest feeds need dedup attention. Exact distinct over the
    32-byte content digest (two-stage partial-distinct plan: the corpus
    shuffles as digests grouped by source, never as text)."""
    d = load_table(spark, sf_dir, "documents")
    digest = F.md5(normalized("text"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(digest).alias("n_unique"),
        (
            F.lit(1.0)
            - F.countDistinct(digest) / F.count(F.lit(1)).cast("double")
        ).alias("dup_rate"),
    )


@query(
    "decontaminate_ngram_overlap",
    f"""
    WITH toked AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')),
                            ' ') AS toks
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(
                   [list_aggregate(toks[i:i+{DECON_NGRAM - 1}], 'string_agg', ' ')
                    for i in range(1, len(toks) - {DECON_NGRAM - 2})])) AS s
        FROM toked
        WHERE len(toks) >= {DECON_NGRAM}
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < {BENCH_MAX_DOC_ID}),
    corpus AS (SELECT doc_id, s FROM sh WHERE doc_id >= {BENCH_MAX_DOC_ID})
    SELECT c.doc_id, count(*) AS n_shared_ngrams
    FROM corpus c JOIN bench b ON c.s = b.s
    GROUP BY c.doc_id
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination sweep: corpus documents sharing at least one
    word {DECON_NGRAM}-gram with the benchmark slice, with the count of
    shared distinct n-grams. The benchmark n-gram set is DISTINCT'd and
    broadcast (benchmark << corpus at scale), so the corpus side is a
    narrow scan + broadcast-hash semi-shape: no corpus shuffle except the
    final per-doc count."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("doc_id", tokens("text").alias("toks"))
    # explode_outer, NOT explode, deliberately: plain explode triggers
    # InferFiltersFromGenerate, whose size()>0 filter gets pushed below the
    # projection and re-evaluates the whole n-gram expression per row
    # (same measured pathology as dedup.jaccard_pairs, 7.8s -> 0.9s). The
    # toks-size filter above already guarantees no empty arrays, so the
    # outer variant is value-identical.
    sh = toked.filter(F.size("toks") >= DECON_NGRAM).select(
        "doc_id",
        F.explode_outer(
            F.array_distinct(word_ngrams(F.col("toks"), DECON_NGRAM))
        ).alias("s"),
    )
    # xxhash64, not md5 (r21): the hash only keys the join — 8-byte longs
    # instead of 32-char hex strings quarter the broadcast/shuffle width
    # and skip a cryptographic digest per n-gram; the oracle joins raw
    # strings, so equality holds absent a 64-bit collision — the same
    # accepted residual as jaccard_pairs' hashed posting lists
    # (~n²/2⁶⁴ at catalog scale).
    # Explicit NULL guard (ADVICE r21): xxhash64(NULL) is the seed (a
    # non-null long), unlike md5(NULL) which is NULL and never joins — a
    # NULL n-gram on BOTH sides would spuriously match. The size(toks)
    # filter above means explode_outer never emits NULL today, but the
    # guard keeps correctness from silently depending on that upstream
    # filter. One side suffices (a join needs both); it goes on the small
    # benchmark side so the corpus scan stays filter-free.
    bench = (
        sh.filter(
            (F.col("doc_id") < BENCH_MAX_DOC_ID) & F.col("s").isNotNull()
        )
        .select(F.xxhash64("s").alias("h"))
        .distinct()
    )
    corpus = sh.filter(F.col("doc_id") >= BENCH_MAX_DOC_ID).select(
        "doc_id", F.xxhash64("s").alias("h")
    )
    return (
        corpus.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )
