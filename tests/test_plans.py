"""Scale-hygiene assertions on physical plans (SURVEY §4.3).

These encode the 100 TB design contract: pushdown + pruning at the scan,
broadcast for small dims, no redundant shuffles, no Python UDF in hot
paths (BatchEvalPython absent).
"""

from k_means_in_mapreduce_spark import registry
from k_means_in_mapreduce_spark.operators import kmeans_df as K
from k_means_in_mapreduce_spark.sources import load_table

from .conftest import SF001, jobs_in_group
from .explain import (
    count_exchanges,
    explain_string,
    has_broadcast_join,
    pushed_filters,
    read_schemas,
)


def test_q1_pushdown_and_pruning(spark):
    df = registry.QUERIES["q1_pricing_summary"](spark, SF001)
    filters = " ".join(pushed_filters(df))
    assert "l_shipdate" in filters, filters
    schema = read_schemas(df)[0]
    assert "l_orderkey" not in schema  # column pruning: unused key not read
    assert "l_partkey" not in schema


def test_q1_single_shuffle(spark):
    """groupBy -> partial agg + ONE exchange + final agg (the reference's
    in-mapper combiner, automatic)."""
    df = registry.QUERIES["q1_pricing_summary"](spark, SF001)
    assert count_exchanges(df) == 1, explain_string(df)


def test_q5_broadcasts_dims(spark):
    df = registry.QUERIES["q5_nation_revenue"](spark, SF001)
    assert has_broadcast_join(df)


def test_kmeans_assign_no_shuffle(spark):
    """Assignment is a narrow map: centroid literal + per-row argmin.
    Zero exchanges — at 100 TB this stage is embarrassingly parallel."""
    emb = load_table(spark, SF001, "embeddings")
    cents = registry._fixed_centroids(spark, SF001)
    df = K.assign_clusters(emb, cents)
    assert count_exchanges(df) == 0, explain_string(df)


def test_kmeans_cf_shuffles_and_no_python(spark):
    """Assign + CF agg: the data-sized stage ends at ONE partial-agg
    exchange of O(tasks·k·d) rows; the only other exchange reassembles the
    k·d (cluster, dim) grid into k arrays — its input is k·d rows
    regardless of n, so it stays free at 100 TB. Whole pipeline JVM-side
    (no BatchEvalPython / ArrowEvalPython operators)."""
    emb = load_table(spark, SF001, "embeddings")
    cents = registry._fixed_centroids(spark, SF001)
    df = K.cluster_features(K.assign_clusters(emb, cents))
    plan = explain_string(df)
    assert count_exchanges(df) == 2, plan
    # partial aggregation (map-side combine) must precede both exchanges
    assert plan.count("HashAggregate") >= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_no_python_udf_in_relational_queries(spark):
    for name, fn in registry.QUERIES.items():
        if name.startswith(("kmeans_fit",)):
            continue  # iterative drivers collect(); plan checked above
        plan = explain_string(fn(spark, SF001))
        assert "BatchEvalPython" not in plan, name


def test_asof_single_shuffle(spark):
    """As-of join = union + one window shuffle on the key; no self-join,
    no broadcast-nested-loop."""
    df = registry.QUERIES["events_asof_last_purchase"](spark, SF001)
    plan = explain_string(df)
    assert count_exchanges(df) == 1, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_range_join_is_equi_join(spark):
    """The binned range join must plan as a hash/sort-merge/broadcast-hash
    equi-join, never a nested-loop over the inequality."""
    df = registry.QUERIES["events_range_error_click"](spark, SF001)
    plan = explain_string(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_embedding_cosine_no_join(spark):
    """Blocked-matmul cosine BUILDER: a single Arrow map stage over the
    scan — no join operator, no shuffle. (The registry query serves the
    build-once truth artifact, whose plan is a parquet scan; the builder
    is what must stay shuffle-free.)"""
    from k_means_in_mapreduce_spark.operators.dedup import _exact_cosine_compute

    df = _exact_cosine_compute(spark, SF001)
    plan = explain_string(df)
    assert "Join" not in plan, plan
    assert count_exchanges(df) == 0, plan


def test_embedding_cosine_no_driver_materialization(spark, monkeypatch):
    """The block-NLJ cosine BUILDER must never pull the table through the
    driver: building AND executing with DataFrame.collect() forbidden
    still yields the full pair set (executor-side row-group scans only).
    The patch goes on the session's own DataFrame class: it defines its
    own collect, so a patch on the abstract pyspark.sql.DataFrame would
    never fire."""
    from k_means_in_mapreduce_spark.operators.dedup import _exact_cosine_compute

    def _no_collect(self):
        raise AssertionError("driver-side collect() in dedup_embedding_cosine")

    monkeypatch.setattr(type(spark.range(1)), "collect", _no_collect)
    df = _exact_cosine_compute(spark, SF001)
    assert df.count() > 0


def test_knn_join_broadcasts_query_side(spark):
    # inspect the BUILDER plan — the registry query serves the truth table
    # as a fingerprint-keyed artifact whose own plan is a parquet scan
    from k_means_in_mapreduce_spark.operators.similarity import (
        _knn_join_exact_build,
    )

    df = _knn_join_exact_build(spark, SF001)
    assert has_broadcast_join(df)


def test_ivf_probe_partition_pruned_and_fit_once(spark, monkeypatch):
    """The IVF probe must be a partition-pruned scan of the materialized
    index (cell_id is a directory-level PartitionFilter), and a second
    probe must reuse the index without re-fitting the quantizer."""
    import re

    first = registry.QUERIES["ann_ivf_topk"](spark, SF001).collect()

    # the index is on disk -> a re-probe reloads it and must never re-fit
    from k_means_in_mapreduce_spark.operators import kmeans_df as KDF

    def _no_fit(*a, **kw):
        raise AssertionError("quantizer re-fit on probe")

    monkeypatch.setattr(KDF, "fit", _no_fit)
    df = registry.QUERIES["ann_ivf_topk"](spark, SF001)
    assert [r.asDict() for r in df.collect()] == [r.asDict() for r in first]

    plan = explain_string(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell_id" in m.group(1), plan


def test_outliers_broadcasts_moments(spark):
    """events_value_outliers: the per-type moments side must broadcast
    back onto the detail scan (two-pass shape) — the detail side shuffles
    only for the final per-type rollup."""
    df = registry.QUERIES["events_value_outliers"](spark, SF001)
    assert has_broadcast_join(df), explain_string(df)


def test_pii_scrub_narrow_map(spark):
    """PII redaction is a pure projection: zero exchanges, no Python."""
    df = registry.QUERIES["documents_pii_scrub"](spark, SF001)
    plan = explain_string(df)
    assert count_exchanges(df) == 0, plan
    assert "BatchEvalPython" not in plan, plan


def test_mixture_and_dedup_rate_shuffle_budget(spark):
    """corpus_mixture_report: one corpus aggregation + a window over the
    aggregated cells (2 exchanges, none proportional to corpus width);
    dedup_rate_by_source: two-stage distinct plan, shuffle keys are
    digests grouped by source, never text."""
    mix = registry.QUERIES["corpus_mixture_report"](spark, SF001)
    assert count_exchanges(mix) <= 2, explain_string(mix)
    rate = registry.QUERIES["dedup_rate_by_source"](spark, SF001)
    assert "BatchEvalPython" not in explain_string(rate)
    assert count_exchanges(rate) <= 2, explain_string(rate)


def test_quantize_int8_no_shuffle_no_python(spark):
    """int8 quantization is a pure narrow map: zero exchanges, no Python
    in the plan (element-wise HOFs stay JVM-side)."""
    df = registry.QUERIES["embeddings_quantize_int8"](spark, SF001)
    plan = explain_string(df)
    assert count_exchanges(df) == 0, plan
    assert "BatchEvalPython" not in plan and "mapInPandas" not in plan.lower(), plan


def test_ivf_knn_join_dpp_and_broadcast(spark):
    """The batch IVF k-NN join must (a) broadcast the exploded probe side,
    and (b) prune index partitions via dynamic partition pruning — the
    scan's PartitionFilters carry a dynamicpruning expression on cell_id,
    so only probed cell directories are read at execution time."""
    import re

    df = registry.QUERIES["ann_ivf_knn_join"](spark, SF001)
    plan = explain_string(df)
    assert has_broadcast_join(df), plan
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell_id" in m.group(1), plan
    assert "dynamicpruning" in m.group(1), m.group(1)


def test_partitioned_sink_prunes(spark):
    """The status filter must become a PartitionFilter (planning-time
    directory pruning), not a data filter."""
    df = registry.QUERIES["partitioned_sink_pruned_scan"](spark, SF001)
    plan = explain_string(df)
    assert "PartitionFilters: [" in plan, plan
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_orderstatus" in m.group(1), plan


def test_bucketed_join_no_shuffle(spark):
    """Bucketed co-located join: the sort-merge join reads both sides'
    bucket files directly — the ONLY exchange in the whole query is the
    final groupBy's (the join itself is shuffle-free). This is the
    pay-once/amortize-forever layout for repeated big joins at 100 TB."""
    df = registry.QUERIES["bucketed_join_segment_revenue"](spark, SF001)
    plan = explain_string(df)
    assert "SortMergeJoin" in plan, plan
    # exactly one shuffle in the whole query — the final groupBy's; the
    # join itself contributes none (both inputs are bucket-file scans)
    assert count_exchanges(df) == 1, plan


def test_pack_sequences_single_shuffle(spark):
    """Sequence packing: the chunk fan-out is narrow; the per-group window
    and the per-sequence rollup share ONE exchange on pack_group (the
    rollup's (pack_group, seq_id) clustering is satisfied by the window's
    pack_group partitioning — no second shuffle)."""
    df = registry.QUERIES["docs_pack_sequences"](spark, SF001)
    assert count_exchanges(df) == 1, explain_string(df)


def test_pipeline_single_shuffle(spark):
    """The composed quality-gate -> dedup pipeline keeps the standalone
    operators' shuffle budget: exactly one exchange (the dedup groupBy on
    the md5 digest); gating is a narrow filter below it."""
    df = registry.QUERIES["pipeline_training_corpus"](spark, SF001)
    assert count_exchanges(df) == 1, explain_string(df)


def test_q6_sql_pushdown(spark):
    """The textual-SQL entry point gets the same Catalyst treatment as the
    DataFrame API: all of Q6's predicates reach the parquet scan."""
    df = registry.QUERIES["q6_forecast_revenue"](spark, SF001)
    filters = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in filters, filters
    schema = read_schemas(df)[0]
    assert "l_orderkey" not in schema, schema


def test_dedup_exact_single_shuffle_on_digest(spark):
    """Exact dedup: one exchange, keyed by the md5 digest — the document
    body must not appear in the shuffle (exchange) side of the plan."""
    df = registry.QUERIES["dedup_exact"](spark, SF001)
    plan = explain_string(df)
    assert count_exchanges(df) == 1, plan
    # the scan reads only (doc_id, text); text is consumed by the partial
    # aggregate below the exchange, so the exchange carries digest+partials
    schema = read_schemas(df)[0]
    assert "doc_id" in schema and "text" in schema and "lang" not in schema


def test_posting_list_cap_adds_no_exchange(spark):
    """The hot-shingle cap (row_number window before collect_list) must
    reuse the groupBy's hash partitioning on the shingle hash: exactly
    ONE exchange for window + aggregate combined. Bounded agg buffers
    must not cost a second shuffle of the exploded corpus."""
    from pyspark.sql import Window, functions as F

    ex = spark.createDataFrame(
        [(i % 7, i) for i in range(50)], "h long, doc_id long"
    )
    capped = ex.withColumn(
        "_rn", F.row_number().over(Window.partitionBy("h").orderBy("doc_id"))
    ).filter(F.col("_rn") <= 4)
    postings = capped.groupBy("h").agg(
        F.array_sort(F.collect_list("doc_id")).alias("docs")
    )
    assert count_exchanges(postings) == 1, explain_string(postings)


def test_text_ops_shuffle_free(spark):
    """Per-document text analysis is a narrow map: zero exchanges."""
    for name in ("text_token_stats", "text_quality", "text_langid",
                 "text_fingerprint"):
        df = registry.QUERIES[name](spark, SF001)
        assert count_exchanges(df) == 0, (name, explain_string(df))


def test_chunking_shuffle_free(spark):
    """Token-window chunking is a narrow fan-out (tokenize -> sequence ->
    slice): zero exchanges, no Python crossing."""
    df = registry.QUERIES["docs_chunk_for_training"](spark, SF001)
    plan = explain_string(df)
    assert count_exchanges(df) == 0, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_decontamination_broadcasts_benchmark(spark):
    """The benchmark n-gram set must broadcast — the corpus side never
    shuffles for the join (only the final per-doc count aggregates)."""
    df = registry.QUERIES["decontaminate_ngram_overlap"](spark, SF001)
    assert has_broadcast_join(df), explain_string(df)


def test_trailing_hour_single_shuffle(spark):
    """RANGE-frame window: one exchange on user_id, frames evaluated in a
    single sorted pass."""
    df = registry.QUERIES["events_trailing_hour_value"](spark, SF001)
    assert count_exchanges(df) == 1, explain_string(df)


def test_run_report_shape(spark):
    from k_means_in_mapreduce_spark.operators import kmeans_df as K
    from k_means_in_mapreduce_spark.sources import load_table
    from .conftest import SF0001

    emb = load_table(spark, SF0001, "embeddings")
    model = K.fit(emb, K.KMeansConfig(k=3, max_iter=2, tol=0.0, seed=1))
    rep = model.report()
    assert rep["iterations"] == 2 and rep["k"] == 3 and rep["dim"] == 64
    assert rep["wall_sec"] > 0 and len(rep["movement_history"]) == 2


def test_exact_quantiles_cdf_is_one_key_window(spark):
    """The CDF is one window partitioned by the key alone: the running
    sum and the group total share its spec, so the plan holds one Window
    node, and no broadcast, checkpointed RDD or split-point sketch."""
    import re

    from k_means_in_mapreduce_spark.operators.statistics import exact_quantiles

    # inspect the BUILDER plan — the registry query serves the result as a
    # fingerprint-keyed artifact, whose own plan is just a parquet scan
    li = load_table(spark, SF001, "lineitem")
    df = exact_quantiles(
        li, "l_returnflag", "l_extendedprice", {"p50": 0.5}
    )
    plan = explain_string(df)
    assert len(re.findall(r"^\(\d+\) Window$", plan, re.M)) == 1, plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for s in specs:
        if "l_extendedprice" in s:
            partition = s.split(", l_extendedprice")[0]
            assert re.fullmatch(r"l_returnflag#\d+", partition), s
    for absent in ("BroadcastExchange", "ExistingRDD", "percentile_approx"):
        assert absent not in plan, absent


def test_exact_quantiles_job_counts(spark):
    """The quantile builder collect is 3 jobs: the distinct-count
    exchange, the window's exchange on the key (which the final agg
    reuses), and the result stage. A warm ``orders_monthly_stats`` is 6."""
    from k_means_in_mapreduce_spark.operators.statistics import exact_quantiles

    def build():
        li = load_table(spark, SF001, "lineitem")
        return exact_quantiles(
            li, "l_returnflag", "l_extendedprice", {"p25": 0.25, "p75": 0.75}
        ).collect()

    def monthly():
        return registry.QUERIES["orders_monthly_stats"](spark, SF001).collect()

    # each count is of a fresh plan after a warm-up call: a re-collected
    # DataFrame reuses its finished shuffle stages
    for group, action, jobs in (
        ("exact-quantiles-build", build, 3),
        ("orders-monthly-stats-warm", monthly, 6),
    ):
        action()
        assert len(jobs_in_group(spark, group, action)[1]) == jobs, group


def test_trend_and_histogram_are_single_aggregate_plans(spark):
    """The closed-form OLS trend and the equi-width histogram must each
    plan as ONE shuffle (the partial/final hash-agg exchange) — no window,
    no sort, no Python stage; their per-group state is a handful of
    scalars at any n."""
    for name in ("events_user_value_trend", "lineitem_price_histogram"):
        df = registry.QUERIES[name](spark, SF001)
        plan = explain_string(df)
        assert count_exchanges(df) == 1, (name, plan)
        assert "Window" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_vector_literals_round_trip_bit_exact(spark):
    """Hypothesis: ``centroid_matrix_lit`` and ``vector_lit`` hand back
    every double bit-for-bit through their one JSON literal: −0.0,
    subnormals, ±inf and NaN included. All cases are evaluated in one
    Spark job."""
    import math
    import struct

    from hypothesis import example, given, settings, strategies as st

    from k_means_in_mapreduce_spark.functions.vector import (
        centroid_matrix_lit,
        vector_lit,
    )

    cases = []
    doubles = st.floats(allow_nan=True, allow_infinity=True, allow_subnormal=True)

    @settings(max_examples=30, deadline=None)
    @given(st.lists(st.lists(doubles, min_size=1, max_size=6), min_size=1, max_size=4))
    @example([[-0.0, 0.0, 5e-324, -2.225073858507201e-308],
              [math.inf, -math.inf, math.nan, 1.7976931348623157e308]])
    def collect(m):
        cases.append(m)

    collect()

    cols = []
    for i, m in enumerate(cases):
        cols.append(centroid_matrix_lit(m).alias(f"m{i}"))
        cols.append(vector_lit(m[0]).alias(f"v{i}"))
    row = spark.range(1).select(*cols).first()

    def bits(xs):
        return [b"nan" if math.isnan(x) else struct.pack(">d", x) for x in xs]

    for i, m in enumerate(cases):
        assert [bits(c) for c in row[f"m{i}"]] == [bits(c) for c in m], m
        assert bits(row[f"v{i}"]) == bits(m[0]), m[0]


def test_assign_clusters_centroid_literal_is_folded(spark):
    """The centroid matrix reaches the optimized plan as one folded
    literal: no JSON parse is left for the rows to pay."""
    emb = load_table(spark, SF001, "embeddings")
    cents = registry._fixed_centroids(spark, SF001)
    plan = K.assign_clusters(emb, cents)._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in plan and "JsonToStructs" not in plan, plan


def test_fixed_centroids_one_job_in_vec_id_order(spark, tmp_path):
    """``_fixed_centroids`` is one job on a served table plan, and it
    returns the fixture rows in vec_id order even when the file holds
    them in another order."""
    import numpy as np
    import pyarrow.parquet as pq

    from .conftest import SF0001

    emb = pq.read_table(f"{SF0001}/embeddings.parquet")
    perm = np.random.default_rng(7).permutation(emb.num_rows)
    pq.write_table(emb.take(perm), tmp_path / "embeddings.parquet")
    by_id = dict(zip(emb.column("vec_id").to_pylist(),
                     emb.column("embedding").to_pylist()))
    want = [[float(x) for x in by_id[i]] for i in range(registry.K_FIXED)]

    load_table(spark, str(tmp_path), "embeddings")  # schema inference job
    got, jobs = jobs_in_group(
        spark, "fixed-centroids-one-job",
        lambda: registry._fixed_centroids(spark, str(tmp_path)),
    )
    assert len(jobs) == 1
    assert got == want


def test_warm_ivf_queries_job_counts(spark):
    """Serving the IVF index reads its centroids on the driver and starts
    no Spark job: a warm ``ann_ivf_topk`` is 2 jobs (the query
    vector fetch and the top-k) and a warm ``ann_ivf_knn_join`` is 3."""
    for name, jobs in (("ann_ivf_topk", 2), ("ann_ivf_knn_join", 3)):
        q = registry.QUERIES[name]
        q(spark, SF001).collect()
        got = jobs_in_group(spark, f"{name}-warm", lambda: q(spark, SF001).collect())
        assert len(got[1]) == jobs, name
