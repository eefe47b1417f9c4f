"""Queries on empty and tiny tables (fixtures from ``degenerate_fixture``):
each either matches its oracle or raises a ``ValueError`` that names the
table it needs. A zero embedding scores a NULL cosine."""

import re

import pytest

from k_means_in_mapreduce_spark import registry
from k_means_in_mapreduce_spark.operators.similarity import QUERY_VEC_ID, TOP_K

from .conftest import assert_oracle_match, degenerate_fixture, make_duck_con


def _zero_embedding(sf_dir: str, vec_id: int) -> None:
    """Overwrite one embedding of the fixture in ``sf_dir`` with zeros."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = f"{sf_dir}/embeddings.parquet"
    emb = pq.read_table(path)
    vecs = emb.column("embedding").to_pylist()
    vecs[emb.column("vec_id").to_pylist().index(vec_id)] = [0.0] * len(vecs[0])
    i = emb.schema.get_field_index("embedding")
    pq.write_table(
        emb.set_column(i, "embedding", pa.array(vecs, emb.schema.field(i).type)), path
    )


@pytest.mark.parametrize(
    "name", ["ann_bruteforce_topk", "ann_lsh_topk", "ann_lsh_recall_at_10"]
)
def test_query_vector_missing_names_the_table(spark, tmp_path, name):
    sf_dir = degenerate_fixture(tmp_path, 0)
    with pytest.raises(ValueError, match=f"embeddings .*vec_id={QUERY_VEC_ID}"):
        registry.QUERIES[name](spark, sf_dir).collect()


@pytest.mark.parametrize("name", ["ann_ivf_recall_at_10", "ann_lsh_recall_at_10"])
def test_recall_refuses_a_zero_query_vector(spark, tmp_path, name):
    """A zero query vector ties every cosine at NULL, so the constant
    recall oracle cannot hold: both recall companions raise, naming the
    table and the sf_dir, before any index is built."""
    sf_dir = degenerate_fixture(tmp_path, 10**9)  # every row
    _zero_embedding(sf_dir, QUERY_VEC_ID)
    with pytest.raises(
        ValueError,
        match=f"^embeddings .*vec_id={QUERY_VEC_ID}.* zero norm in {re.escape(sf_dir)}",
    ):
        registry.QUERIES[name](spark, sf_dir).collect()


def test_lsh_recall_needs_top_k_plus_one_rows(spark, tmp_path):
    """Three rows give the query two neighbours, not ``TOP_K``: the LSH
    recall companion raises, naming the table and the rows it needs."""
    sf_dir = degenerate_fixture(tmp_path, 3)
    with pytest.raises(
        ValueError,
        match=f"^embeddings has 3 rows in {re.escape(sf_dir)}: .*needs {TOP_K + 1}",
    ):
        registry.QUERIES["ann_lsh_recall_at_10"](spark, sf_dir).collect()


@pytest.mark.parametrize("n_rows", [0, 3])
def test_price_histogram_matches_oracle_on_tiny_lineitem(spark, tmp_path, n_rows):
    """An empty lineitem gives no rows, as the oracle's cross join with
    an empty table does."""
    sf_dir = degenerate_fixture(tmp_path, n_rows)
    con = make_duck_con(sf_dir)
    name = "lineitem_price_histogram"
    assert_oracle_match(
        registry.QUERIES[name](spark, sf_dir), registry.ORACLES[name], con
    )
    con.close()


@pytest.mark.parametrize("n_rows", [0, 3])
def test_partitioned_sink_matches_oracle_on_tiny_orders(spark, tmp_path, n_rows):
    """An empty orders table writes no data file to infer a schema from;
    the read-back takes the table's own schema and gives no rows, as the
    oracle does."""
    import bench

    sf_dir = degenerate_fixture(tmp_path, n_rows)
    con = make_duck_con(sf_dir)
    name = "partitioned_sink_pruned_scan"
    try:
        assert_oracle_match(
            registry.QUERIES[name](spark, sf_dir), registry.ORACLES[name], con
        )
    finally:
        con.close()
        bench.clear_artifact_cache(sf_dir)


@pytest.mark.parametrize("zero_id", [5, QUERY_VEC_ID])
def test_zero_norm_embedding_scores_null(spark, tmp_path, zero_id):
    """A cosine with a zero vector is NULL, as DuckDB's ``x / 0.0`` is, and
    both engines sort it last under DESC. With one embedding zeroed (a
    k-NN sample vector, or the fixed query vector) the oracle-bearing
    queries match their oracles, and the approximate ones score exactly
    the pairs that touch the zero vector NULL."""
    import bench

    sf_dir = degenerate_fixture(tmp_path, 10**9)  # every row
    _zero_embedding(sf_dir, zero_id)
    oracled = [
        "ann_bruteforce_topk",
        "ann_knn_join_exact",
        "dedup_embedding_cosine",
        "ann_ivf_knn_join_recall",
        "dedup_embedding_cosine_ivf_recall",
        "dedup_embedding_cosine_ivf_precision",
    ]
    if zero_id != QUERY_VEC_ID:
        # a zero query ties every cosine at NULL: the recall companions
        # refuse it (test_recall_refuses_a_zero_query_vector)
        oracled += ["ann_ivf_recall_at_10", "ann_lsh_recall_at_10"]
    con = make_duck_con(sf_dir)
    try:
        for name in oracled:
            assert_oracle_match(
                registry.QUERIES[name](spark, sf_dir), registry.ORACLES[name], con
            )
        for name in ("ann_ivf_topk", "ann_ivf_knn_join", "ann_lsh_topk"):
            rows = registry.QUERIES[name](spark, sf_dir).collect()
            assert rows, name
            for r in rows:
                ends = (r["vec_id"], r.asDict().get("qid", QUERY_VEC_ID))
                assert (r["cos_sim"] is None) == (zero_id in ends), (name, r)
        pairs = registry.QUERIES["dedup_embedding_cosine_ivf"](spark, sf_dir).collect()
        assert pairs and all(zero_id not in (p.vec_a, p.vec_b) for p in pairs)
    finally:
        con.close()
        bench.clear_artifact_cache(sf_dir)


@pytest.mark.parametrize(
    "name",
    ["rollup_lineitem_status", "cube_lineitem_flags", "grouping_sets_orders"],
)
def test_grouping_sets_give_the_grand_total_row_on_empty_tables(
        spark, tmp_path, name):
    """SQL gives the ``()`` grouping set one row over an empty table (count
    0, sums NULL); so does the engine, and on the full fixture it adds no
    row."""
    for n_rows in (0, 10**9):
        (tmp_path / str(n_rows)).mkdir()
        sf_dir = degenerate_fixture(tmp_path / str(n_rows), n_rows)
        con = make_duck_con(sf_dir)
        got = registry.QUERIES[name](spark, sf_dir)
        if n_rows == 0:
            assert got.count() == 1
        assert_oracle_match(got, registry.ORACLES[name], con)
        con.close()
