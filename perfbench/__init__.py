"""Archive benchmark for tstore_spark: two seeded workloads, end-to-end
metrics from untraced runs and a per-layer split from a traced run.

Run it from the root of a checkout::

    python3 perfbench/run.py --workload archive_query --seed 1 --seconds 10 --trace 0
    python3 -m pytest perfbench -q      # the benchmark's own tests

See ``perfbench/spec.json`` for the workloads, their sizes and query mix, and
the map from each layer to the end-to-end metric it should move.
"""
