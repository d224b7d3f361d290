"""CDC ingest benchmark: three workloads, an exactness gate, and a traced
mode that times calls into each layer's public functions.

Run from the repository root::

    python3 perfbench/run.py --workload hot_update_stream --seed 1 --seconds 20 --trace 0
    python3 perfbench/selftest.py
"""
