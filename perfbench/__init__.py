"""Workload benchmark for gridded_etl_tools_spark: see README.md."""
