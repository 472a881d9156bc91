"""Workload benchmark for the artemia_airflow_spark engine (see run.py)."""
