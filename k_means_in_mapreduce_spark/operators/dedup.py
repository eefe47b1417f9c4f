"""Deduplication operator surface (north-star LLM-pipeline ops).

Five dedup families over ``documents`` / ``embeddings``:

- exact dedup (hash groupBy) .............. ``dedup_exact`` [oracle]
- n-gram Jaccard near-dup ................. ``dedup_ngram_jaccard`` [oracle]
- MinHash LSH near-dup .................... ``dedup_minhash_lsh`` =
  ``dedup_minhash_mllib`` [rows-only; one builder: banded candidates,
  exact-Jaccard verify; recall vs the exact baseline asserted in
  tests/test_dedup_similarity.py]
- SimHash ................................. ``dedup_simhash`` [rows-only;
  property-tested]
- embedding-cosine near-dup ............... ``dedup_embedding_cosine`` [oracle]

Scale design:
- Exact dedup groups by md5 of the normalized text: the shuffle key is a
  32-byte digest, not the document body; at 100 TB the full text never
  shuffles (a group-by on raw text would move the corpus).
- Jaccard candidate generation is the standard inverted-index self-join on
  shared shingles (shuffle on shingle). Hot shingles are the skew risk:
  candidates are deduped per pair before scoring, AQE skew-join handles
  stragglers, and the MinHash/LSH path replaces the exact join's
  candidate generation at scale (bounded signature width instead of full
  shingle sets); both paths score candidates with the same exact verify.
- MinHash signatures/banding are pure Catalyst expressions on xxhash64 —
  constant-size state per doc (num_perm longs), bucket join on (band,
  bucket-hash) only.
- The exact pair list and the ``(doc_id, component)`` groups table are
  each built once per ``documents.parquet`` fingerprint and code version
  and served as parquet after that: the large-star/small-star loop runs
  only when the groups table is built, not on every call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..artifacts import materialized_artifact
from ..functions.text import normalized, tokens, word_ngrams
from ..catalog import query
from ..sources import load_table

NGRAM_N = 3
JACCARD_THRESHOLD = 0.6
NUM_PERM = 64  # minhash signature width
LSH_BANDS = 16  # 16 bands x 4 rows: ~P(candidate) = 1-(1-j^4)^16
COSINE_THRESHOLD = 0.4


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Tokenize in a SEPARATE projection so the n-gram HOF captures a bound
    # column reference, not the split/regexp expression tree — inlined, the
    # tokenizer re-evaluates per window element: O(windows x regex) per doc
    # (measured 7s -> 0.5s for the shingling stage at sf0.1).
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("doc_id", tokens("text").alias("toks"))
    # Filter on the cheap equivalent predicate BEFORE shingling:
    # size(shingles) > 0 <=> size(toks) >= n. Filtering on the computed
    # shingle column pushes the predicate below the projections with the
    # tokenizer re-inlined per window element (measured 8x slower).
    return toked.filter(F.size("toks") >= NGRAM_N).select(
        "doc_id",
        F.array_distinct(word_ngrams(F.col("toks"), NGRAM_N)).alias("shingles"),
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    """
    SELECT md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS content_hash,
           min(doc_id) AS keeper_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY content_hash
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct normalized text,
    keeping the lowest doc_id (deterministic keeper policy)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(normalized("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup (the oracle-checkable baseline)
# ---------------------------------------------------------------------------
# Skew guard for exact-Jaccard candidate generation: shingles whose posting
# list exceeds this document frequency are dropped from PAIR GENERATION
# (never from scoring) — the standard stopword-shingle cut. A df-D shingle
# emits O(D^2) candidate pairs, so one boilerplate shingle shared by 1e6
# docs would emit 5e11 pairs from a single reducer; the cap bounds the
# worst-case reducer to O(cap^2). Recall impact: a pair is missed only if
# EVERY shingle it shares is hotter than the cap — near-dup pairs (>= 0.6
# Jaccard) share most of their shingles, so they are recovered via any one
# rare shingle; tests/test_dedup_similarity.py pins this with a synthetic
# hot shingle. Scoring stays exact (array_intersect over full shingle
# sets), so found pairs carry the true Jaccard either way.
#
# Hashed-vs-raw df asymmetry: the engine counts df over xxhash64(shingle)
# posting lists while the oracle counts raw shingle strings — a 64-bit
# collision merging two posting lists could push the engine's df over the
# cap (or a doc pair across it) and diverge the candidate sets. Accepted
# residual risk, same order as the checksum collision accepted in
# connected_components_star (~n²/2⁶⁴).
HOT_SHINGLE_DF_CAP = 1000
# the parameters that define the pair list, and so every table built from it
_PAIR_PARAMS = {
    "ngram_n": NGRAM_N,
    "df_cap": HOT_SHINGLE_DF_CAP,
    "threshold": JACCARD_THRESHOLD,
}

# NOTE: the oracle mirrors the engine's df-cap (HOT_SHINGLE_DF_CAP)
# in candidate GENERATION — only pairs sharing at least one shingle with
# document frequency <= cap are candidates — while scoring stays exact over
# the full shingle sets, exactly like the Spark filter-verify pipeline.
# Without the mirror the oracle computes the uncapped truth and diverges at
# any scale factor where some shingle's df exceeds the cap.
_JACCARD_SQL = f"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct([list_aggregate(toks[i:i+{NGRAM_N - 1}], 'string_agg', ' ')
                              for i in range(1, len(toks) - {NGRAM_N - 2})]) AS shingles
        FROM (
            SELECT doc_id,
                   string_split(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')), ' ') AS toks
            FROM documents
        )
        WHERE len(toks) >= {NGRAM_N}
    ),
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    sdf AS (SELECT s, count(*) AS df FROM ex GROUP BY s),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ex a
        JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        JOIN sdf ON sdf.s = a.s
        WHERE sdf.df <= {HOT_SHINGLE_DF_CAP}
    ),
    pair_common AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_common
        FROM cand c
        JOIN ex a ON a.doc_id = c.doc_a
        JOIN ex b ON b.doc_id = c.doc_b AND b.s = a.s
        GROUP BY c.doc_a, c.doc_b
    ),
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh)
    SELECT p.doc_a, p.doc_b,
           CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) AS jaccard
    FROM pair_common p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) >= {JACCARD_THRESHOLD}
"""


def _hashed_shingles(sh: DataFrame) -> DataFrame:
    """Per-doc sorted ``xxhash64`` shingle set ``hs``. It feeds candidate
    generation and both verify sides, so it is shingled ONCE.
    localCheckpoint (not cache): materializes eagerly, truncates lineage,
    and its storage is released when this DataFrame is GC'd — a cache()
    here leaked pinned blocks for the session lifetime because callers
    never saw the handle to unpersist (each registered query builds its
    own pipeline, so leaks accumulated per invocation)."""
    return sh.select(
        "doc_id",
        F.array_sort(
            F.transform("shingles", lambda s: F.xxhash64(s))
        ).alias("hs"),
    ).localCheckpoint(eager=True)


def _verify_exact(cand: DataFrame, hashed: DataFrame) -> DataFrame:
    """The verify half of filter-verify: join distinct ``(doc_a, doc_b)``
    candidates to both docs' hashed shingle sets, score the EXACT Jaccard
    with ``array_intersect`` and keep pairs >= JACCARD_THRESHOLD. Every
    pair builder scores through here, so a found pair carries the true
    Jaccard whichever filter proposed it."""
    a = hashed.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha"))
    b = hashed.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb"))
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("ha", "hb")))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.size("ha") + F.size("hb") - F.col("n_common")),
        )
    )
    return scored.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", "jaccard"
    )


def jaccard_pairs(sh: DataFrame, df_cap: int = HOT_SHINGLE_DF_CAP) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup pairs >= threshold, filter-verify
    shape:

    1. candidates — inverted index: group hashed shingles -> posting list
       (ONE groupBy; shingles collapse to 8-byte xxhash64 keys so the
       shuffle never moves shingle text; 64-bit collisions are negligible
       at catalog scale), drop posting lists longer than ``df_cap`` (skew
       guard, see HOT_SHINGLE_DF_CAP), emit sorted in-list pairs
       expression-side.
    2. verify — join the (small) distinct candidate set back to the
       per-doc hashed shingle sets and compute the EXACT intersection
       size with ``array_intersect`` (:func:`_verify_exact`); candidates
       << corpus, so Spark broadcasts the pair side and the verify joins
       add no shuffle of the corpus.

    The one-pass no-rejoin form this replaces counted n_common in the
    pair groupBy — exact, but unguardable against hot-shingle blowup
    (dropping a posting list would undercount n_common). Splitting
    candidate-gen from scoring is what makes the cap lossless for values.
    """
    hashed = _hashed_shingles(sh)
    # explode_outer, NOT explode: InferFiltersFromGenerate would add a
    # size()>0 filter that predicate-pushdown inlines into re-evaluating
    # the whole shingling expression per row (measured 7.8s -> 0.9s for
    # this stage at sf0.1). No row is actually empty (_shingled filters
    # on token count), so the outer variant is value-identical.
    ex = hashed.select("doc_id", F.explode_outer("hs").alias("h"))
    # Cap posting lists BEFORE collecting: row_number over the shingle
    # hash keeps at most df_cap+1 docs per hash, so a boilerplate shingle
    # shared by millions of documents sorts-and-spills instead of
    # materializing a multi-GB array in one aggregation buffer (the
    # previous form collected the full list and filtered after — correct,
    # but per-group memory proportional to the hottest shingle's df).
    # Semantics are identical: a truncated-hot hash has df_cap+1 elements
    # and is dropped by the size filter exactly as the full list was; the
    # window and the groupBy share the hash partitioning, so this adds no
    # exchange (asserted in tests/test_plans.py).
    from pyspark.sql import Window

    capped = ex.withColumn(
        "_rn",
        F.row_number().over(Window.partitionBy("h").orderBy("doc_id")),
    ).filter(F.col("_rn") <= df_cap + 1)
    postings = (
        capped.groupBy("h")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter((F.size("docs") > 1) & (F.size("docs") <= df_cap))
    )
    # all ordered pairs (docs[i], docs[j]) with i < j, expression-side
    cand = (
        postings.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "docs",
                        lambda x, i: F.transform(
                            F.slice(
                                "docs", i + F.lit(2), F.size("docs") - i - F.lit(1)
                            ),
                            lambda y: F.struct(
                                x.alias("doc_a"), y.alias("doc_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    return _verify_exact(cand, hashed)


@query("dedup_ngram_jaccard", _JACCARD_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs over documents (see
    :func:`jaccard_pairs`). The oracle mirrors the df-cap in candidate
    generation and scores exactly over full shingle sets — the same
    filter-verify semantics — so engine and oracle agree at ANY scale
    factor, including ones where boilerplate shingles exceed the cap.
    The cap's recall trade-off itself is pinned by the synthetic
    hot-shingle test in tests/test_dedup_similarity.py."""
    return near_dup_pairs(spark, sf_dir)


def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once exact near-dup pair list: :func:`jaccard_pairs` is the
    upstream of every pair consumer — the pair query itself, the
    connected-component grouping, and the three recall metrics — and
    recomputing the shingle -> posting -> verify pipeline for each was
    the single largest redundant cost in the dedup family."""
    return materialized_artifact(
        spark,
        sf_dir,
        "documents.parquet",
        "dedup_jaccard_pairs",
        _PAIR_PARAMS,
        lambda: jaccard_pairs(_shingled(spark, sf_dir)),
    )


# ---------------------------------------------------------------------------
# Connected components over the near-dup pair graph (keeper selection)
# ---------------------------------------------------------------------------
def connected_components_star(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components of the ``(doc_a, doc_b)`` edge list via
    alternating large-star/small-star rounds (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14). Returns
    ``(doc_id, component)`` with component = the minimum doc_id reachable:
    this turns near-dup PAIRS into dedup GROUPS, and the keeper is the
    lowest doc_id — the same deterministic keeper policy as dedup_exact.

    - large-star: every node points its LARGER neighbors at the minimum
      of its neighborhood (incl. itself);
    - small-star: every node points its smaller-or-equal neighbors (and
      itself) at that minimum.

    Each round is one window pass per star over the current edge set; the
    edge set converges to component stars in O(log d) rounds for graph
    diameter d, so long chains need no more rounds than short ones.
    Fixed point = the small-star output equals its input (checked by
    count + order-insensitive xxhash64 checksum; a 64-bit collision
    masking a real change is negligible). Each round runs exactly one
    action: the eager local checkpoint, which also computes the checksum
    as an observed metric. Raises rather than returning split components
    if max_iter is exhausted.

    Self-loops are dropped before the first round: a node whose only edge
    is ``(n, n)`` gets no row, and an empty edge list gives no rows.
    Near-dup pairs never carry self-loops (``jaccard_pairs`` emits
    ``doc_a < doc_b``), so this never changes a query's output."""

    from pyspark.sql import Window as W

    # Both stars compute "the minimum of u's neighborhood" and attach it
    # back to every (u, v) row. r21 shape: groupBy(u).min + self-JOIN on u
    # — TWO exchanges of the edge set per star (agg input + join probe)
    # plus a broadcast/SMJ build. r22 shape: ONE window over partitionBy(u)
    # (guide §2.4: an aggregation and a join keyed the same way can share
    # one exchange — the window IS that fusion), and the two-branch unions
    # over the same subtree became explode()s, so no subtree is computed
    # twice. Each star's terminal distinct also collapsed to one: only
    # small-star keeps it (load-bearing — the fixed-point checksum
    # compares its output), large-star feeds small-star's window directly,
    # where duplicate edges only widen one sort input, not an extra
    # exchange. Result sets are identical (min per key is min per key;
    # explode(array(a, b)) == union of the two projections).

    # Every round builds the same plan over a new edge set, so its Columns
    # are built once per call: each F call is ~10 py4j round trips, and
    # rebuilding them every round cost ~0.1 driver CPU-s a round.
    by_u = W.partitionBy("u")
    ne = F.col("u") != F.col("v")
    # large-star: symmetrize with ONE pass, (u,v) -> {(u,v), (v,u)}, then
    # point every larger neighbor v of u at m = min(u, u's neighbors)
    sym = F.inline(
        F.array(
            F.struct("u", "v"),
            F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
        )
    )
    large_m = F.least(F.min("v").over(by_u), F.col("u")).alias("m")
    large_keep = (F.col("v") > F.col("u")) & (F.col("v") != F.col("m"))
    large_out = [F.col("v").alias("u"), F.col("m").alias("v")]
    # small-star: orient every edge high -> low, then point BOTH ends at
    # the neighborhood minimum in one pass
    small_in = [F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")]
    small_m = F.min("v").over(by_u).alias("m")
    small_out = [F.explode(F.array("v", "u")).alias("u"), F.col("m").alias("v")]
    # bit_xor, not sum: order-insensitive over the distinct edge set and
    # immune to ANSI-mode long overflow
    checksum = [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.bit_xor(F.xxhash64(F.greatest("u", "v"), F.least("u", "v"))),
            F.lit(0),
        ).alias("h"),
    ]

    def star_round(e: DataFrame) -> DataFrame:
        large = e.select(sym).select("u", "v", large_m).filter(large_keep)
        small = large.select(*large_out).select(*small_in).filter(ne)
        return (
            small.select("u", "v", small_m)
            .select(*small_out)
            .filter(ne)
            .distinct()
        )

    def materialize(e: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
        obs = Observation()
        e = e.observe(obs, *checksum).localCheckpoint(eager=True)
        return e, (int(obs.get["n"]), int(obs.get["h"]))

    e, prev = materialize(
        edges.select(
            F.col("doc_a").cast("long").alias("u"),
            F.col("doc_b").cast("long").alias("v"),
        )
        .filter(ne)
        .distinct()
    )
    converged = False
    for _ in range(max_iter):
        e, cur = materialize(star_round(e))
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not reach a fixed point in "
            f"{max_iter} rounds — rounds needed is O(log diameter), so "
            "this indicates a bug or an astronomically deep graph"
        )
    # fixed point is a star forest: every edge points a node at its
    # component minimum; roots label themselves (one explode pass over
    # the checkpointed edges instead of a two-branch union)
    return (
        e.select(
            F.explode(F.array("u", "v")).alias("doc_id"),
            F.col("v").alias("component"),
        )
        .distinct()
    )


# Oracle for both CC query names: the same components as a recursive-CTE
# transitive closure over the identical deterministic pair set.
_CC_SQL = f"""
    WITH RECURSIVE pairs AS ( {_JACCARD_SQL} ),
    und AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, peer) AS (
        SELECT a, a FROM und
        UNION
        SELECT r.node, u.b FROM reach r JOIN und u ON r.peer = u.a
    )
    SELECT node AS doc_id, min(peer) AS component
    FROM reach GROUP BY node
    """


@query("dedup_connected_components", _CC_SQL)
@query("dedup_groups_star", _CC_SQL)
def dedup_groups_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup dedup groups: exact Jaccard pairs -> connected
    components (:func:`connected_components_star`) -> (doc_id, component).
    Registered under both CC query names; they are one query.

    The component table is built once per ``documents.parquet``
    fingerprint and per code version of this module's cone, like the
    pair list it is derived from; every later call reads that parquet,
    so the star loop runs only on a build. Locks nest in one order only:
    the groups build holds its own ``build_lock`` and then takes the
    pairs lock inside :func:`near_dup_pairs`. No path takes the groups
    lock while holding the pairs lock, so two processes cannot deadlock."""
    return materialized_artifact(
        spark,
        sf_dir,
        "documents.parquet",
        "dedup_groups_star",
        _PAIR_PARAMS,
        lambda: connected_components_star(
            near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
        ),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (the scale path: banded candidates, exact verify)
# ---------------------------------------------------------------------------
def minhash_signatures(hashed: DataFrame, num_perm: int = NUM_PERM) -> DataFrame:
    """num_perm-wide minhash signature per doc from its hashed shingle set
    ``hs`` (:func:`_hashed_shingles`): the shingle text is hashed once,
    then the num_perm permutations re-hash that fixed 8-byte value —
    sig[i] = min over shingles of xxhash64(xxhash64(shingle), i)."""

    def perm_min(i: int) -> F.Column:
        # NOTE: the lambda must take exactly ONE arg — a second parameter
        # (even with a default) makes Spark bind it to the array index.
        return F.array_min(
            F.transform(F.col("hs"), lambda h: F.xxhash64(h, F.lit(i)))
        )

    sig = F.array(*[perm_min(i) for i in range(num_perm)])
    return hashed.select("doc_id", sig.alias("sig"))


@query("dedup_minhash_mllib")  # approximate — recall-tested vs exact Jaccard
@query("dedup_minhash_lsh")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash near-dup pairs, one builder under both MinHash query names:
    banded LSH proposes candidates, :func:`_verify_exact` scores them.
    ``est_jaccard`` is therefore the exact Jaccard and every returned pair
    is a true near-dup; only recall is approximate (a true pair is missed
    when none of its 16 bands collides). Deterministic (seeded hashes), so
    the pair list is a build-once artifact shared with the recall metric.

    MLlib's ``MinHashLSH`` is not used: it ORs single-hash tables with no
    AND inside a table, so its candidate set grows as n², not with the
    true pairs (156,861 candidates against banding's 614 at 5k docs)."""
    return materialized_artifact(
        spark,
        sf_dir,
        "documents.parquet",
        "dedup_minhash_lsh",
        {"num_perm": NUM_PERM, "bands": LSH_BANDS, "threshold": JACCARD_THRESHOLD},
        lambda: _minhash_lsh_pairs(spark, sf_dir),
    )


def _minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = _hashed_shingles(_shingled(spark, sf_dir))
    # checkpointed: both sides of the band self-join read the signatures;
    # recomputing the 64 permutations per side took the whole build from
    # 4.9 to 6.8 CPU-s at 5k docs (4-core VM, local[4])
    sigs = minhash_signatures(hashed).localCheckpoint(eager=True)
    rows_per_band = NUM_PERM // LSH_BANDS
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col("sig").getItem(b * rows_per_band + r)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _verify_exact(cand, hashed).withColumnRenamed("jaccard", "est_jaccard")


# ---------------------------------------------------------------------------
# SimHash (64-bit) — rows-only; hamming-distance property tests
# ---------------------------------------------------------------------------
@query("dedup_simhash")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """63-bit SimHash over distinct word tokens: bit b of the fingerprint
    is the sign of the sum over tokens of (2*bit_b(xxhash64(token)) - 1);
    near-dup docs have small Hamming distance between fingerprints.

    Shape: explode tokens -> ONE hash-aggregate computing all 63 bit-sums
    (codegen'd, map-side partials; per-doc state is 63 longs). The
    per-bit-HOF form it replaces re-walked the token array 63 times in
    interpreted ``aggregate`` lambdas — 4x slower at sf0.1 and not
    codegen-able. 63 bits keeps the fingerprint non-negative in a signed
    long. Deterministic — served as a build-once artifact (the recall
    metric re-derives pairs from the same fingerprint table)."""
    return materialized_artifact(
        spark,
        sf_dir,
        "documents.parquet",
        "dedup_simhash",
        {"bits": 63},
        lambda: _simhash_table(spark, sf_dir),
    )


def _simhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ex = (
        d.select("doc_id", F.explode(F.array_distinct(tokens("text"))).alias("t"))
        .select("doc_id", F.xxhash64("t").alias("h"))
    )
    bit_sums = [
        F.sum(
            (F.shiftright("h", b).bitwiseAND(F.lit(1)) * 2 - 1).cast("int")
        ).alias(f"_b{b}")
        for b in range(63)
    ]
    agg = ex.groupBy("doc_id").agg(*bit_sums)
    simhash = None
    for b in range(63):
        term = F.when(
            F.col(f"_b{b}") > 0, F.lit(2 ** b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        simhash = term if simhash is None else simhash + term
    return agg.select("doc_id", simhash.alias("simhash"))


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup pairs
# ---------------------------------------------------------------------------
# Shared truth-set SQL (single definition — three oracles bracket the SAME
# production path, so a threshold/dim edit must not be able to diverge
# them; EMBED_DIM pins the explode width to the fixture schema).
EMBED_DIM = 64
_COSINE_TRUTH_SQL = f"""
    WITH dot AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               sum(CAST(a.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE)) AS d,
               sqrt(sum(CAST(a.embedding[t.i] AS DOUBLE) * CAST(a.embedding[t.i] AS DOUBLE))) AS na,
               sqrt(sum(CAST(b.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE))) AS nb
        FROM embeddings a
        CROSS JOIN embeddings b
        CROSS JOIN range(1, {EMBED_DIM + 1}) t(i)
        WHERE a.vec_id < b.vec_id
        GROUP BY a.vec_id, b.vec_id
    )
    SELECT vec_a, vec_b, d / (na * nb) AS cos_sim
    FROM dot
    WHERE na * nb > 0  -- zero vectors: engine scores them 0, oracle must
                       -- not emit 0/0 = NaN pairs (DuckDB sorts NaN high)
      AND d / (na * nb) >= {COSINE_THRESHOLD}
"""


@query("dedup_embedding_cosine", _COSINE_TRUTH_SQL)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs, served from the build-once truth
    artifact (see :func:`exact_cosine_pairs`); the computation itself is
    :func:`_exact_cosine_compute`."""
    return exact_cosine_pairs(spark, sf_dir)


def exact_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once exact cosine pair list: THREE consumers (the pair query
    itself plus the IVF recall and precision companions) each needed the
    full quadratic truth — same rationale as :func:`near_dup_pairs`,
    keyed on the embeddings content fingerprint + threshold + the
    producing module's code fingerprint."""
    return materialized_artifact(
        spark,
        sf_dir,
        "embeddings.parquet",
        "dedup_cosine_truth",
        {"threshold": COSINE_THRESHOLD},
        lambda: _exact_cosine_compute(spark, sf_dir),
    )


def _exact_cosine_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs over embeddings — storage-tiled block
    nested loop: the left side streams as Arrow batches through
    ``mapInPandas``; for each batch the task re-scans the right side
    DIRECTLY FROM THE TABLE'S OWN PARQUET ROW GROUPS (executor-side
    pyarrow read of the same storage path Spark scans), one row group at
    a time, computing a (batch x row_group) similarity block with one
    BLAS matmul and emitting only pairs >= threshold.

    No driver materialization: the driver never holds the table (the r1
    form ``collect()``-ed + broadcast it — a driver OOM at 100 TB). Peak
    task memory is one Arrow batch + one row group + the (batch x rg)
    score block, independent of n.

    Tile sizing at scale: tile = parquet row group (~128 MB default), so
    per-task working set ≈ maxRecordsPerBatch·d·8 + rg_rows·d·8 +
    batch·rg_rows·8 bytes; total right-side IO = n_left_batches · |R|,
    the inherent block-NLJ cost — amortize by raising
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` until the batch side
    fills memory. On a cluster the path below is the table's shared-
    storage URI (object store / HDFS), readable from every executor.
    The LSH paths in operators/similarity.py are the sub-quadratic
    escapes when even one full re-scan per left batch is too much.
    """
    import glob as _glob
    import os

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    src = os.path.join(sf_dir, "embeddings.parquet")
    if os.path.isdir(src):
        files = sorted(
            _glob.glob(os.path.join(src, "**", "*.parquet"), recursive=True)
        )
    else:
        files = [src]
    thr = COSINE_THRESHOLD

    # Self-contained closure: cloudpickle ships it by value (executor
    # Python workers don't have this package on sys.path).
    def block_sim(batches):
        import numpy as np
        import pandas as pd

        import pyarrow.parquet as pq

        for pdf in batches:
            X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            # zero vectors: norm 0 -> division yields NaN rows and NaN
            # similarities silently dropped by the >= filter; clamp the
            # norm to 1 so a zero vector scores 0 with everything (the
            # oracle excludes na*nb = 0 pairs to match)
            xn = np.linalg.norm(X, axis=1, keepdims=True)
            Xn = X / np.where(xn == 0.0, 1.0, xn)
            va = pdf["vec_id"].to_numpy(dtype=np.int64)
            out = []
            for fpath in files:
                pf = pq.ParquetFile(fpath)
                for rg in range(pf.num_row_groups):
                    tbl = pf.read_row_group(rg, columns=["vec_id", "embedding"])
                    ids_b = tbl.column("vec_id").to_numpy()
                    emb = tbl.column("embedding").combine_chunks()
                    B = np.asarray(emb.flatten(), dtype=np.float64).reshape(
                        len(emb), -1
                    )
                    bn = np.linalg.norm(B, axis=1, keepdims=True)
                    Bn = B / np.where(bn == 0.0, 1.0, bn)
                    S = Xn @ Bn.T
                    mask = (S >= thr) & (ids_b[None, :] > va[:, None])
                    ii, jj = np.nonzero(mask)
                    out.append(
                        pd.DataFrame(
                            {
                                "vec_a": va[ii],
                                "vec_b": ids_b[jj],
                                "cos_sim": S[ii, jj],
                            }
                        )
                    )
            yield pd.concat(out, ignore_index=True) if out else pd.DataFrame(
                {"vec_a": [], "vec_b": [], "cos_sim": []}
            )

    return e.mapInPandas(block_sim, "vec_a bigint, vec_b bigint, cos_sim double")


# ---------------------------------------------------------------------------
# IVF-bucketed embedding near-dup (the 100 TB production path)
# ---------------------------------------------------------------------------
# Probes per vector for near-dup candidate generation. Near-dup is harder
# than top-k ANN: BOTH endpoints approximate their neighborhood, so a true
# pair is missed only if the two vectors' probe sets are disjoint.
# Measured candidate recall at cosine >= 0.4: P=4 finds 59/59 true pairs
# at sf0.01, 64/66 at sf0.001, while pruning candidates to ~0.7% of all
# pairs at sf0.01 (the ratio improves as cell count scales with n).
DEDUP_IVF_PROBES = 4
EMBED_IVF_RECALL_MIN_PCT = 85


@query("dedup_embedding_cosine_ivf")  # approximate — recall-bound via the
# companion dedup_embedding_cosine_ivf_recall query + tests
def dedup_embedding_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF near-dup pairs served as a build-once artifact: THREE consumers
    (this query + the recall and precision companions) each needed the
    probe explode, cell shuffle, and per-cell gemm — same rationale as
    every other approximate dedup path (see ``near_dup_pairs``). The
    computation is :func:`_ivf_pairs_compute`."""
    return materialized_artifact(
        spark,
        sf_dir,
        "embeddings.parquet",
        "dedup_cosine_ivf_pairs",
        {"probes": DEDUP_IVF_PROBES, "threshold": COSINE_THRESHOLD},
        lambda: _ivf_pairs_compute(spark, sf_dir),
    )


def _ivf_pairs_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via IVF cell pruning — the bucketed
    production path (the exact block-NLJ ``dedup_embedding_cosine`` is
    its recall oracle, not the path a 100 TB run executes).

    Shape: reuse the build-once IVF coarse quantizer
    (similarity.build_ivf_index); every vector probes its
    DEDUP_IVF_PROBES nearest cells with a narrow map
    (``probe_cells_expr`` — no driver round-trip); candidate pairs are
    vectors sharing ANY probed cell (ONE self-join shuffled on cell_id);
    verify re-scores candidates with the EXACT cosine expression, so
    precision is exact — every emitted pair is a true >= threshold pair
    with the true similarity; only recall is approximate.

    Scale: per-cell pair generation is O(Σ|cell|²) — bounded by scaling
    IVF_CELLS with n (FAISS-style ~sqrt(n) cells keeps cells near-constant
    size), exactly the knob the coarse quantizer exposes. Candidate
    verify joins broadcast the (small) pair side against the source
    table; the corpus itself never crosses the shuffle twice.
    """
    from .similarity import build_ivf_index, probe_cells_expr

    centroids, _ = build_ivf_index(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    # Each vector is replicated into its DEDUP_IVF_PROBES probed cells —
    # the stored-in-P-buckets IVF layout. ONE shuffle of n·P rows on
    # cell_id; no candidate-pair shuffle exists at all.
    probes = e.select(
        "vec_id",
        "e",
        F.explode(
            probe_cells_expr("e", centroids, DEDUP_IVF_PROBES)
        ).alias("cell_id"),
    )
    threshold = COSINE_THRESHOLD

    # Per-cell blocked matmul verify (self-contained closure — shipped by
    # value, see multimodal.py note): the m×m cosine matrix of a cell's
    # members is ONE BLAS gemm, replacing a per-candidate-pair interpreted
    # HOF cosine + two verify joins (measured 6.5s -> ~1s at sf0.1; at
    # fixed cell occupancy the gemm is the FLOP-optimal form of the same
    # O(Σ|cell|²) work). Memory per task is m² for m ≈ n·P/cells —
    # bounded by scaling cells with n (the coarse-quantizer knob).
    def cell_pairs(pdf):
        import numpy as np
        import pandas as pd

        X = np.array(pdf["e"].tolist(), dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        un = np.linalg.norm(X, axis=1, keepdims=True)
        U = X / np.where(un == 0.0, 1.0, un)  # zero vectors score 0, not NaN
        S = U @ U.T
        ii, jj = np.triu_indices(len(ids), k=1)
        keep = S[ii, jj] >= threshold
        a, b = ids[ii[keep]], ids[jj[keep]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {"vec_a": lo, "vec_b": hi, "cos_sim": S[ii[keep], jj[keep]]}
        )

    cellwise = probes.groupBy("cell_id").applyInPandas(
        cell_pairs, schema="vec_a long, vec_b long, cos_sim double"
    )
    # a pair sharing several probed cells is found once per shared cell —
    # collapse; cos_sim is the same exact value each time (max = that value)
    return cellwise.groupBy("vec_a", "vec_b").agg(
        F.max("cos_sim").alias("cos_sim")
    )


@query(
    "dedup_embedding_cosine_ivf_recall",
    f"""
    WITH tp AS ({_COSINE_TRUTH_SQL})
    SELECT count(*) AS n_true_pairs, true AS recall_ok FROM tp
    """,
)
def dedup_embedding_cosine_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the IVF-pruned near-dup pairs against the exact all-pairs
    truth (the oracle recomputes the truth with its own crossJoin SQL).
    n_true_pairs binds exactly; the recall claim (>= 85%, measured
    97-100% at P=4) is the scalar the gate hash binds."""
    truth = dedup_embedding_cosine(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    found = dedup_embedding_cosine_ivf(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    return _pair_recall(truth, found, EMBED_IVF_RECALL_MIN_PCT)


@query(
    "dedup_embedding_cosine_ivf_precision",
    f"""
    WITH tp AS ({_COSINE_TRUTH_SQL})
    SELECT count(*) AS n_true_pairs, true AS precision_ok FROM tp
    """,
)
def dedup_embedding_cosine_ivf_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision companion to the recall query (VERDICT r5 item 6): the
    IVF path re-scores every candidate with the exact cosine, so each
    emitted pair must appear in the exact all-pairs truth WITH the same
    similarity — "emitted ⊆ truth" is oracle-expressible as a boolean
    even though the emitted set itself is approximate. Together with
    ``dedup_embedding_cosine_ivf_recall`` this brackets the production
    path from both sides: no false pairs (here, exact) and few missed
    pairs (there, >= 85%)."""
    truth = dedup_embedding_cosine(spark, sf_dir).select(
        "vec_a", "vec_b", F.col("cos_sim").alias("true_sim")
    )
    found = dedup_embedding_cosine_ivf(spark, sf_dir)
    # left join found -> truth: a found pair missing from truth (or with a
    # diverged score) breaks the subset claim. Tolerance 1e-9: both sides
    # compute the same normalize-then-gemm in float64, but BLAS kernel
    # blocking may reorder the d=64 dot sum between shapes.
    j = found.join(truth, ["vec_a", "vec_b"], "left_outer")
    checks = j.agg(
        F.coalesce(
            F.every(
                F.col("true_sim").isNotNull()
                & (F.abs(F.col("cos_sim") - F.col("true_sim")) < 1e-9)
            ),
            F.lit(True),  # empty found set is vacuously precise
        ).alias("precision_ok")
    )
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    return n_true.crossJoin(checks)


# ---------------------------------------------------------------------------
# Oracle-expressible recall metrics for the approximate dedup paths
# ---------------------------------------------------------------------------
# Same pattern as the ANN recall queries (operators/similarity.py): the
# sketch outputs themselves aren't SQL-computable, but their recall against
# the exact Jaccard truth IS — the truth set is _JACCARD_SQL (the oracle's
# own query), n_true_pairs binds exactly, and the bound booleans are
# scalars the gate hash covers. Bounds carry margin under measured values
# (MinHash recovers 25/25 true pairs at sf0.01; SimHash max
# hamming over true pairs is 11 of 63 bits vs ~31.5 expected for random
# pairs) so a testdata regeneration can't flip them; the tight values are
# pinned by tests/test_dedup_similarity.py.
MINHASH_RECALL_MIN_PCT = 80
SIMHASH_TRUE_PAIR_MAX_HAMMING = 24


def _pair_recall(true_pairs: DataFrame, found: DataFrame, min_pct: int) -> DataFrame:
    t = true_pairs.select("doc_a", "doc_b", F.lit(1).alias("_t"))
    # distinct: a candidate generator emitting a pair twice must not
    # duplicate truth rows through the left join (n_true_pairs inflates)
    f = found.select("doc_a", "doc_b").distinct().withColumn("_f", F.lit(1))
    j = t.join(f, ["doc_a", "doc_b"], "left_outer")
    return j.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        (
            F.coalesce(F.sum(F.col("_t") * F.col("_f")), F.lit(0)) * 100
            >= F.count(F.lit(1)) * min_pct
        ).alias("recall_ok"),
    )


_PAIR_RECALL_ORACLE = f"""
    WITH tp AS ( {_JACCARD_SQL} )
    SELECT count(*) AS n_true_pairs, true AS recall_ok FROM tp
"""


@query("dedup_minhash_mllib_recall", _PAIR_RECALL_ORACLE)
@query("dedup_minhash_lsh_recall", _PAIR_RECALL_ORACLE)
def dedup_minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash pairs (both names, one builder) against the
    exact n-gram Jaccard truth (>= threshold pairs). n_true_pairs binds
    exactly; recall bound >= MINHASH_RECALL_MIN_PCT% (measured 100%)."""
    truth = near_dup_pairs(spark, sf_dir)
    found = dedup_minhash_lsh(spark, sf_dir)
    return _pair_recall(truth, found, MINHASH_RECALL_MIN_PCT)


@query(
    "dedup_simhash_recall",
    f"""
    WITH tp AS ( {_JACCARD_SQL} )
    SELECT count(*) AS n_true_pairs, true AS hamming_ok FROM tp
    """,
)
def dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash separation claim over the exact near-dup truth set: EVERY
    true >= 0.6-Jaccard pair's fingerprints are within
    SIMHASH_TRUE_PAIR_MAX_HAMMING of 63 bits (measured max 11; random
    pairs center at ~31.5), i.e. a hamming-radius candidate filter at
    that threshold loses no true pair. n_true_pairs binds exactly."""
    truth = near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sh = dedup_simhash(spark, sf_dir)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        truth.join(a, "doc_a")
        .join(b, "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            # coalesce: every() over zero rows is NULL; an empty truth set
            # vacuously satisfies the bound (matches the oracle's `true`)
            F.coalesce(
                F.every(ham <= SIMHASH_TRUE_PAIR_MAX_HAMMING), F.lit(True)
            ).alias("hamming_ok"),
        )
    )
