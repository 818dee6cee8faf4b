"""Layered benchmark of record for swiftsoup_spark.

``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` generates seeded inputs, runs one workload as a closed
loop at ``local[4]``, checks every url's text and prints one JSON line.
See ``perfbench/README.md``.
"""
