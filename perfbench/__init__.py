"""Seeded benchmark of the extraction, assembly and streaming paths.

Run ``python3 perfbench/run.py --workload extract --seed 1 --seconds 20
--trace 0`` from the repository root; see ``perfbench/LAYERS.md``.
"""
