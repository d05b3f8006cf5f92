"""The 10%-delta tick leg: perfbench's tick_small harness, unchanged, with
10,000-row ticks on the 100k-row sink (the dropped tick_bulk shape).

Run from the root of a checkout, like perfbench/run.py:

    python3 plans/r21/bulk_leg.py --seed 1 --seconds 6

Prints run.py's result line; tick_cost_p50 is the cost of one 10k-row tick.
"""
import os
import sys

sys.path.insert(0, os.path.join(os.getcwd(), "perfbench"))
import run  # noqa: E402

run.TICK_SMALL.update(delta=(10_000, 10_000), max_ticks=200, min_ticks=8)
sys.argv = [sys.argv[0], "--workload", "tick_small", "--trace", "0"] + sys.argv[1:]
run.main()
