"""End-to-end and per-layer benchmark of ``plans.pipeline.run_extraction``.

Run from the repository root::

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 8 --trace 0

See ``perfbench/README.md`` for the metric map and the measurement method.
"""
