"""Benchmark for the hadoop_common_spark engine; see README.md here."""
