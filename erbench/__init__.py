"""Benchmark of the ccer engine through its user entry points.

``python3 erbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``
runs one workload and prints one JSON result line (see ``run.py``).
"""
