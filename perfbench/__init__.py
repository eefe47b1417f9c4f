"""Benchmark of the k_means_in_mapreduce_spark engine; see README.md."""
