"""The repository's benchmark: three closed-loop workloads over seeded
inputs, end-to-end metrics untraced and a per-layer split traced. Run
``python3 perfbench/run.py --help`` from the repository root."""
