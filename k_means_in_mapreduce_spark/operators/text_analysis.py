"""Text-analysis operator surface over the ``documents`` table
(SURVEY §2.12 / north-star LLM-pipeline ops).

Everything here is a narrow per-row projection built from Catalyst string
and higher-order-array expressions — no shuffle except final aggregations,
no Python in the row path. At 100 TB these run as pure map stages over the
parquet scan with column pruning to (doc_id, text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import md5_fingerprint, normalized, tokens, word_ngrams
from ..catalog import query
from ..sources import load_table

# Small shared stopword list (duplicated literally in the oracles).
STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "for", "on", "with")
_SW_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"

# Shared DuckDB oracle fragments — the SQL twins of functions.text's
# normalized()/tokens()/punct_ratio()/stopword_ratio(); pipeline.py
# imports these so the gate expressions exist in exactly one SQL form.
_NORM_SQL = "trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"
_TOKS_SQL = f"string_split({_NORM_SQL}, ' ')"
_PUNCT_SQL = (
    "CAST(length(regexp_replace(lower(text), '[a-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g')) "
    "AS DOUBLE) / length(text)"
)
_SW_RATIO_SQL = f"CAST(len(list_filter(toks, t -> t IN {_SW_SQL})) AS DOUBLE) / len(toks)"


# BPE-ish pre-tokenizer regex (GPT-2 style, simplified): contractions,
# space-prefixed letter runs, space-prefixed digit runs, space-prefixed
# punctuation runs, whitespace runs. Deliberately lookahead-free and
# ASCII-classed so Java regex (Spark) and RE2 (DuckDB) match identically —
# RE2 has no lookahead and the two engines' \p{L} tables can differ.
# whitespace spelled as the explicit class [ \t\n\x0B\f\r] (NOT \s): Java's
# \s includes \x0B but RE2's does not — the exact cross-engine divergence
# normalized()/punct_ratio() already eliminate via _NORM_SQL/_PUNCT_SQL.
BPE_ISH_REGEX = (
    r"(?:'s|'t|'re|'ve|'m|'ll|'d)| ?[a-zA-Z]+| ?[0-9]+"
    r"| ?[^a-zA-Z0-9 \t\n\x0B\f\r]+|[ \t\n\x0B\f\r]+"
)
# Only quote-escape for the SQL literal: DuckDB single-quoted strings do
# NOT process backslash escapes, so doubling backslashes would corrupt the
# regex ('\\s' = literal backslash or 's') and silently diverge the two
# engines' token counts on whitespace-adjacent punctuation.
_BPE_SQL = BPE_ISH_REGEX.replace("'", "''")


@query(
    "text_token_stats",
    f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(length(norm) AS BIGINT) AS n_chars_norm,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens,
           list_aggregate(list_transform(toks, t -> CAST(length(t) AS DOUBLE)), 'avg')
               AS avg_token_len,
           CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS BIGINT)
               AS n_bpe_tokens
    FROM (
        SELECT doc_id, text,
               trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS norm,
               string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS toks
        FROM documents
    )
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokenization of normalized text PLUS a
    BPE-ish pre-tokenizer count (``BPE_ISH_REGEX``) — the cheap
    proxy-for-LLM-token-cost a corpus report needs before any real
    tokenizer runs. Both counts are pure codegen'd string expressions."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.length(normalized("text")).cast("bigint").alias("n_chars_norm"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_tokens"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
            lambda acc: acc / F.size(toks),
        ).alias("avg_token_len"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_REGEX), F.lit(0)))
        .cast("bigint")
        .alias("n_bpe_tokens"),
    )


@query(
    "text_quality",
    f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(length(regexp_replace(lower(text), '[a-z0-9 \\t\\n\\x0B\\f\\r]', '', 'g')) AS DOUBLE)
               / length(text) AS punct_ratio,
           CAST(len(list_filter(toks, t -> t IN {_SW_SQL})) AS DOUBLE)
               / len(toks) AS stopword_ratio,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr
    FROM (
        SELECT doc_id, text,
               string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS toks
        FROM documents
        WHERE length(text) > 0
    )
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, punctuation ratio, stopword ratio,
    type-token ratio — the standard cheap pretraining-corpus filters."""
    from ..functions.text import punct_ratio, stopword_ratio

    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    toks = tokens("text")
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        punct_ratio("text").alias("punct_ratio"),
        stopword_ratio(toks, STOPWORDS).alias("stopword_ratio"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("ttr"),
    )


@query(
    "text_fingerprint",
    """
    SELECT doc_id,
           md5(norm) AS doc_md5,
           CASE WHEN len(toks) >= 5 THEN
               list_min(list_transform(
                   [list_aggregate(toks[i:i+4], 'string_agg', ' ') for i in range(1, len(toks) - 3)],
                   s -> md5(s)))
           END AS min_shingle_md5
    FROM (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS norm,
               string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS toks
        FROM documents
    )
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-doc md5 + min-hash-style minimum
    shingle digest over word 5-grams (md5 on both engines -> identical hex,
    lexicographic min well-defined)."""
    d = load_table(spark, sf_dir, "documents")
    # Bind tokens to a column first: word_ngrams embeds its input inside a
    # slice() in the HOF lambda, so an inlined tokenizer re-evaluates per
    # window element (O(windows x regex) per doc — measured 7x slower).
    toked = d.select("doc_id", "text", tokens("text").alias("toks"))
    return toked.select(
        "doc_id",
        md5_fingerprint("text").alias("doc_md5"),
        F.when(
            F.size("toks") >= 5,
            F.array_min(
                F.transform(
                    word_ngrams(F.col("toks"), 5), lambda s: F.md5(s)
                )
            ),
        ).alias("min_shingle_md5"),
    )


# Per-language marker words for the n-gram/stopword language-ID heuristic.
# The testdata's documents are synthetic English-ish text with a lang
# column; the heuristic is still deterministic and oracle-checkable.
LANG_MARKERS = {
    "en": ("the", "and", "of", "is", "for"),
    "de": ("der", "die", "und", "ist", "nicht"),
    "fr": ("le", "la", "et", "est", "pour"),
    "es": ("el", "la", "que", "es", "para"),
}


def _lang_scores_sql() -> str:
    cols = []
    for lang, words in LANG_MARKERS.items():
        lst = "(" + ", ".join(f"'{w}'" for w in words) + ")"
        cols.append(
            f"CAST(len(list_filter(toks, t -> t IN {lst})) AS DOUBLE)"
            f" / greatest(len(toks), 1) AS score_{lang}"
        )
    return ",\n           ".join(cols)


@query(
    "text_langid",
    f"""
    WITH scored AS (
        SELECT doc_id,
           {_lang_scores_sql()}
        FROM (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS toks
            FROM documents
        )
    )
    SELECT doc_id, score_en, score_de, score_fr, score_es,
           CASE greatest(score_en, score_de, score_fr, score_es)
                WHEN score_en THEN 'en'
                WHEN score_de THEN 'de'
                WHEN score_fr THEN 'fr'
                ELSE 'es' END AS predicted_lang
    FROM scored
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language marker-word hit rate, argmax
    with first-match tie-break (en > de > fr > es — mirrored in the CASE
    ordering of the oracle)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens("text")
    def score(words: tuple[str, ...]) -> F.Column:
        # single-arg lambda only: a second (defaulted) parameter would be
        # bound to the array index by Spark's HOF machinery
        marker = F.array(*[F.lit(w) for w in words])
        return F.size(
            F.filter(toks, lambda t: F.array_contains(marker, t))
        ).cast("double") / F.greatest(F.size(toks), F.lit(1))

    scored = d.select(
        "doc_id",
        *[score(words).alias(f"score_{lang}") for lang, words in LANG_MARKERS.items()],
    )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    pred = F.when(F.col("score_en") == best, "en")
    for lang in ("de", "fr"):
        pred = pred.when(F.col(f"score_{lang}") == best, lang)
    return scored.withColumn("predicted_lang", pred.otherwise("es"))


# PII patterns — RE2-compatible subset so Spark (Java regex) and DuckDB
# (RE2) match identically. Order of redaction: email, then IP, then phone
# (the phone charset has no dots, so it cannot span an IP or email).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d[\d\- ]{7,}\d"


@query(
    "documents_pii_scrub",
    f"""
    WITH seeded AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 5 = 0
                       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0 THEN ' call +1 555-0100' ELSE '' END
               || CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.0.1' ELSE '' END
               AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{PII_EMAIL}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{PII_IP}')) AS INT) AS n_ips,
           CAST(len(regexp_extract_all(
               regexp_replace(regexp_replace(t, '{PII_EMAIL}', '[EMAIL]', 'g'),
                              '{PII_IP}', '[IP]', 'g'),
               '{PII_PHONE}')) AS INT) AS n_phones,
           md5(regexp_replace(
                   regexp_replace(
                       regexp_replace(t, '{PII_EMAIL}', '[EMAIL]', 'g'),
                       '{PII_IP}', '[IP]', 'g'),
                   '{PII_PHONE}', '[PHONE]', 'g')) AS redacted_md5
    FROM seeded
    """,
)
def documents_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the scrub step a training corpus runs before any
    release: emails, IPv4 addresses, and international-format phone
    numbers replaced by typed placeholders, with per-doc detection counts
    and an md5 of the redacted text pinning the exact output.

    PII is SEEDED deterministically (synthetic docs contain none), the
    same way the corrupt-CSV audit synthesizes its feed: both engines
    apply the identical injection rule, so the oracle is exact. Patterns
    stay in the RE2-compatible subset (no lookarounds/backrefs) so Java
    regex and RE2 agree; phone counting runs AFTER email/IP redaction so
    digit runs inside them can't double-count. Pure codegen'd string
    expressions — a narrow map, no shuffle, no Python."""
    d = load_table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit(" call +1 555-0100")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" host 10.0.0.1")).otherwise(
            F.lit("")
        ),
    )
    seeded = d.select("doc_id", t.alias("t"))
    no_email = F.regexp_replace("t", PII_EMAIL, "[EMAIL]")
    no_ip = F.regexp_replace(no_email, PII_IP, "[IP]")
    redacted = F.regexp_replace(no_ip, PII_PHONE, "[PHONE]")
    return seeded.select(
        "doc_id",
        F.regexp_count("t", F.lit(PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count("t", F.lit(PII_IP)).cast("int").alias("n_ips"),
        F.regexp_count(no_ip, F.lit(PII_PHONE)).cast("int").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )
