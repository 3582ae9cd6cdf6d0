"""Benchmark for the graph_db_clustering_spark package: see README.md."""
