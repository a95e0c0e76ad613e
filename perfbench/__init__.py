"""Seeded end-to-end and per-layer benchmark of the PBF decode, polygon
assembly, point-in-polygon and tile-rollup path.

Run from the root of a checkout::

    python3 perfbench/run.py --workload decode --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

See ``perfbench/NOTES.md`` for the workloads, the metrics and why each
one was chosen.
"""
