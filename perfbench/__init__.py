"""Closed-loop benchmark for dbt-meshify-spark (see perfbench/README.md)."""
