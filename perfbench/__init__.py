"""Repository benchmark: two Spark corpus jobs and an in-process layout
workload, with a traced per-layer ledger.  Entry point: ``run.py``."""
