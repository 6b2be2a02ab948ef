"""End-to-end, layer-attributed benchmark of the production extraction job.

Run ``python3 perfbench/run.py --help`` from the repository root.
"""
