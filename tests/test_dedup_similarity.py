"""Recall / property tests for the approximate (non-oracled) operators:
MinHash-LSH, SimHash, hyperplane-LSH ANN — each validated against its
exact oracle-checked baseline (SURVEY §5.2.5)."""

import itertools

import numpy as np
import pytest

from k_means_in_mapreduce_spark import registry
from k_means_in_mapreduce_spark.operators.dedup import connected_components_star
from k_means_in_mapreduce_spark.sources import load_table

from .conftest import SF001


@pytest.fixture(scope="module")
def exact_pairs(spark):
    df = registry.QUERIES["dedup_ngram_jaccard"](spark, SF001).toPandas()
    return {(r.doc_a, r.doc_b): r.jaccard for r in df.itertuples()}


def test_minhash_lsh_recall_and_estimate(spark, exact_pairs):
    est = registry.QUERIES["dedup_minhash_lsh"](spark, SF001).toPandas()
    got = {(r.doc_a, r.doc_b): r.est_jaccard for r in est.itertuples()}
    assert exact_pairs, "fixture should contain near-dup pairs"
    # recall: every exact near-dup pair (j >= 0.6 threshold + margin) found
    strong = {p for p, j in exact_pairs.items() if j >= 0.75}
    found = strong & set(got)
    assert len(found) >= 0.9 * len(strong), (len(found), len(strong))
    # estimates for true pairs are close to the true jaccard
    for p in found:
        assert abs(got[p] - exact_pairs[p]) < 0.25, (p, got[p], exact_pairs[p])


def test_simhash_separates_near_dups(spark, exact_pairs):
    sims = registry.QUERIES["dedup_simhash"](spark, SF001).toPandas()
    fp = dict(zip(sims.doc_id, sims.simhash))

    def hamming(a, b):
        return bin(int(a) ^ int(b)).count("1")

    near = [hamming(fp[a], fp[b]) for a, b in exact_pairs]
    rng = np.random.default_rng(0)
    ids = sims.doc_id.to_numpy()
    rand_pairs = [
        (ids[i], ids[j])
        for i, j in zip(rng.integers(0, len(ids), 300), rng.integers(0, len(ids), 300))
        if ids[i] != ids[j] and (ids[i], ids[j]) not in exact_pairs
    ]
    rand = [hamming(fp[a], fp[b]) for a, b in rand_pairs]
    assert np.mean(near) < 0.5 * np.mean(rand), (np.mean(near), np.mean(rand))


def test_lsh_ann_recall(spark):
    exact = registry.QUERIES["ann_bruteforce_topk"](spark, SF001).toPandas()
    approx = registry.QUERIES["ann_lsh_topk"](spark, SF001).toPandas()
    overlap = set(exact.vec_id) & set(approx.vec_id)
    assert len(overlap) >= 5, f"LSH top-10 recall too low: {len(overlap)}/10"
    # scores for common ids must be identical (same expression, exact math)
    e = exact.set_index("vec_id").cos_sim
    a = approx.set_index("vec_id").cos_sim
    for vid in overlap:
        assert abs(e[vid] - a[vid]) < 1e-12


def test_ivf_knn_join_recall(spark):
    """Batch IVF k-NN join: per-query recall vs the exact crossJoin
    baseline must clear 0.5 for every query and 0.65 on average at
    IVF_PROBES/IVF_CELLS = 6/16 (measured 0.72 mean / 0.6 min at sf0.01;
    sf0.001 gives the same quantizer shape), and scores for true
    neighbors it does find must be exact (same cosine expression)."""
    exact = registry.QUERIES["ann_knn_join_exact"](spark, SF001).toPandas()
    approx = registry.QUERIES["ann_ivf_knn_join"](spark, SF001).toPandas()
    ex = exact.groupby("qid").vec_id.apply(set)
    ap = approx.groupby("qid").vec_id.apply(set)
    recalls = {q: len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex.index}
    assert min(recalls.values()) >= 0.5, recalls
    assert sum(recalls.values()) / len(recalls) >= 0.65, recalls
    escore = exact.set_index(["qid", "vec_id"]).cos_sim
    ascore = approx.set_index(["qid", "vec_id"]).cos_sim
    common = escore.index.intersection(ascore.index)
    assert len(common) > 0
    assert (escore[common] - ascore[common]).abs().max() < 1e-12


def test_embedding_cosine_ivf_recall_and_precision(spark):
    """IVF-pruned embedding near-dup vs the exact block-NLJ truth:
    precision must be EXACT (every found pair is a true pair with the
    identical cosine — the verify step recomputes with the exact
    expression), recall >= 0.9 at DEDUP_IVF_PROBES=4 (measured 64/66 at
    sf0.001, 59/59 at sf0.01)."""
    exact = registry.QUERIES["dedup_embedding_cosine"](spark, SF001).toPandas()
    ivf = registry.QUERIES["dedup_embedding_cosine_ivf"](spark, SF001).toPandas()
    true = {(r.vec_a, r.vec_b): r.cos_sim for r in exact.itertuples()}
    found = {(r.vec_a, r.vec_b): r.cos_sim for r in ivf.itertuples()}
    assert set(found) <= set(true), set(found) - set(true)
    assert len(found) >= 0.9 * len(true), (len(found), len(true))
    for p, c in found.items():
        assert abs(c - true[p]) < 1e-9, (p, c, true[p])


def test_embedding_cosine_ivf_precision_query(spark):
    """The registry's precision companion (one row, oracle-matching
    column names) reports a clean subset at the fixture scale."""
    out = registry.QUERIES["dedup_embedding_cosine_ivf_precision"](
        spark, SF001
    ).toPandas()
    assert list(sorted(out.columns)) == ["n_true_pairs", "precision_ok"]
    assert len(out) == 1
    assert bool(out.precision_ok[0])
    assert int(out.n_true_pairs[0]) == 59  # pinned: sf0.01 truth-set size


def test_hot_shingle_cap_bounds_pairs_keeps_scores_exact(spark):
    """Synthetic hot shingle: every doc shares one boilerplate sentence
    (df = n_docs, way over a cap of 3), plus two true near-dup pairs that
    also share rare shingles. With the cap: the hot posting list must not
    generate candidates, the true pairs must still be found via their
    rare shingles, and their Jaccard values must be the EXACT uncapped
    values (scoring sees the full shingle sets, cap or no cap)."""
    import k_means_in_mapreduce_spark.operators.dedup as dd

    boiler = "all rights reserved by the original author"
    body_a = "the quick brown fox jumps over the lazy dog near the river"
    body_b = "pack my box with five dozen liquor jugs for the long trip"
    rows = []
    for i in range(12):
        filler = f"unique filler sentence number {i} with extra words {i * 7}"
        rows.append((i, f"{boiler} {filler}"))
    rows += [
        # near-dup pairs (100, 101) and (200, 201): shared RARE body
        (100, f"{boiler} {body_a}"),
        (101, f"{boiler} {body_a}"),
        (200, f"{boiler} {body_b}"),
        (201, f"{boiler} {body_b} bonus"),
        # (300, 301): identical docs made of ONLY the hot boilerplate —
        # the one shape the cap sacrifices (no rare shingle to recover via)
        (300, boiler),
        (301, boiler),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = (
        docs.select("doc_id", dd.tokens("text").alias("toks"))
        .filter(dd.F.size("toks") >= dd.NGRAM_N)
        .select(
            "doc_id",
            dd.F.array_distinct(
                dd.word_ngrams(dd.F.col("toks"), dd.NGRAM_N)
            ).alias("shingles"),
        )
    )

    uncapped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.jaccard_pairs(sh, df_cap=10**9).toPandas().itertuples()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.jaccard_pairs(sh, df_cap=3).toPandas().itertuples()
    }
    # true near-dups found either way, with identical EXACT scores (the
    # cap prunes candidate generation, never the scoring sets)
    assert (100, 101) in capped and (200, 201) in capped
    for p in [(100, 101), (200, 201)]:
        assert capped[p] == uncapped[p]
    # the capped run manufactures nothing the uncapped truth lacks
    assert set(capped) <= set(uncapped)
    # documented recall impact: a pair sharing ONLY hot shingles is the
    # one shape the cap drops
    assert (300, 301) in uncapped and uncapped[(300, 301)] == 1.0
    assert (300, 301) not in capped


def _union_find_components(edges):
    """Driver-side reference: {(node, min id of its component)}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(n, find(n)) for n in parent}


CHAIN_300 = [(i, i + 1) for i in range(300)]


def _hub_and_chain_edges(n_leaves=2000, chain_len=300, seed=0):
    """One hub with n_leaves leaves, a chain_len-deep chain hanging off
    one leaf, and ids randomly permuted so the component minimum sits at
    no fixed position (neither hub nor chain end)."""
    n = 1 + n_leaves + chain_len
    ids = np.random.default_rng(seed).permutation(n).tolist()
    edges = [(0, i) for i in range(1, n_leaves + 1)]
    edges += [(i, i + 1) for i in range(n_leaves, n - 1)]
    return [(ids[a], ids[b]) for a, b in edges]


@pytest.mark.parametrize(
    "edges",
    [
        # chain 0-1-2-3-4 (diameter 4), a triangle, and an isolated pair
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21)],
        CHAIN_300,
        _hub_and_chain_edges(),
        [],
    ],
    ids=["mixed", "chain300", "hub2000_chain300", "empty"],
)
def test_star_cc_matches_union_find(spark, edges):
    """large-star/small-star gives every node its component's minimum id,
    exactly as a driver-side union-find does — on short components, a
    diameter-300 chain, a 2000-leaf hub with that chain attached, and an
    empty graph (no rows)."""
    e = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = [(r.doc_id, r.component) for r in connected_components_star(e).collect()]
    assert len(got) == len(set(got))
    assert set(got) == _union_find_components(edges)


def test_star_cc_max_iter_guard_and_self_loops(spark):
    """Exhausting max_iter raises instead of returning split components,
    and self-loops are dropped: a node whose only edge is (n, n) gets no
    row."""
    chain = spark.createDataFrame(CHAIN_300, "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not reach a fixed point"):
        connected_components_star(chain, max_iter=1)

    loops = spark.createDataFrame([(5, 5), (1, 2)], "doc_a long, doc_b long")
    got = {(r.doc_id, r.component) for r in connected_components_star(loops).collect()}
    assert got == {(1, 1), (2, 1)}


def test_exact_dedup_copies(spark):
    """At sf0.01 all docs are distinct; the operator must report exactly
    one copy per hash and as many hashes as docs."""
    df = registry.QUERIES["dedup_exact"](spark, SF001).toPandas()
    assert df.n_copies.sum() == 500
    assert (df.n_copies >= 1).all()


def test_quantize_int8_numpy_parity_and_error_bound(spark):
    """Independent NumPy re-derivation of the quantization: the Spark
    checksum must equal the NumPy one, codes must lie in [0, 255], and the
    dequantization error |x - (q*scale + zero_point)| must be <= scale/2
    per element (the defining property of round-to-nearest quantization)."""
    import numpy as np

    q = registry.QUERIES["embeddings_quantize_int8"](spark, SF001).toPandas()
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, SF001, "embeddings").collect()
    }
    assert set(q.vec_id) == set(emb)
    for row in q.itertuples():
        x = emb[row.vec_id]
        mn, mx = x.min(), x.max()
        scale = (mx - mn) / 255.0
        assert row.zero_point == mn and row.scale == scale
        if scale == 0:
            assert row.q_checksum == 0
            continue
        # floor(q + 0.5), not np.round: the engine (Spark round = HALF_UP)
        # and DuckDB (ties away from zero) both round .5 UP for the
        # non-negative quotients here; np.round's half-to-even would
        # disagree on exact-.5 dyadic values
        codes = np.floor((x - mn) / scale + 0.5)
        assert codes.min() >= 0 and codes.max() <= 255
        assert row.q_checksum == int(codes.sum())
        err = np.abs(x - (codes * scale + mn))
        assert err.max() <= scale / 2 * (1 + 1e-9), (row.vec_id, err.max())
