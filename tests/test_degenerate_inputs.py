"""Queries on empty and tiny tables (fixtures from ``degenerate_fixture``):
each either matches its oracle or raises a ``ValueError`` that names the
table it needs."""

import pytest

from k_means_in_mapreduce_spark import registry
from k_means_in_mapreduce_spark.operators.similarity import QUERY_VEC_ID

from .conftest import assert_oracle_match, degenerate_fixture, make_duck_con


@pytest.mark.parametrize(
    "name", ["ann_bruteforce_topk", "ann_lsh_topk", "ann_lsh_recall_at_10"]
)
def test_query_vector_missing_names_the_table(spark, tmp_path, name):
    sf_dir = degenerate_fixture(tmp_path, 0)
    with pytest.raises(ValueError, match=f"embeddings .*vec_id={QUERY_VEC_ID}"):
        registry.QUERIES[name](spark, sf_dir).collect()


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
