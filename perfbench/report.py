"""Print the per-layer report of a saved benchmark trace.

    python3 perfbench/report.py .perfbench_out/trace-<workload>-<seed>.json

Shows, per span name, calls, total and self time, Spark jobs, executor time
and shuffle bytes from the event log, then the run's non-zero per-layer
metrics (stage overlap, pipeline self time, coverage and the rest).
"""

import sys

from spans import report

if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(report(sys.argv[1]))
