"""User-path benchmark for gossiphs_spark.

Two seeded workloads drive the library through its public functions and
print one JSON result line (see README.md). Run it from the repository
root:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0
"""
