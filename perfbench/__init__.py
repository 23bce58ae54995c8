"""Repository benchmark: the SARIF→staging ELT pipeline, the streaming file
monitor and the CORE15 analytics entries, each driven from one process.

Run ``python3 perfbench/run.py --workload NAME --seed N --seconds S
--trace 0|1`` from the repository root; the last stdout line is the result.
"""
