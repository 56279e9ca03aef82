"""Benchmark of the bfs_mapreduce_spark engine; see run.py."""
