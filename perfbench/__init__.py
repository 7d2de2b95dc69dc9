"""Repository benchmark: the flagship pipeline and the blocking sweep on
local[4], timed in a closed loop, with a separately traced per-layer run.
Entry point: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1``."""
