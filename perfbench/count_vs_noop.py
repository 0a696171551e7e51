"""Which bench.py headline rows does ``count()`` under-time?

``count()`` lets Catalyst prune every projected column the count does not
need, so a row whose cost sits in its output expressions reads faster than
the query really runs.  This probe times each headline id both ways, on
seeded tables, after one warm-up of each, and prints one line per id:
median count() seconds, median noop seconds, and their ratio.

    python3 perfbench/count_vs_noop.py [--scale 0.1] [--reps 3] [--seed 7]

Not part of a benchmark run; NOTES.md records its output.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import common  # noqa: E402
import gen_tables  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=float, default=0.1)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    common.pin_layout(common.N_CORES)
    from bench import HEADLINE

    import __spark_entry__ as entry

    d = os.path.join(common.ROOT, ".perfbench_work", f"count-vs-noop-{os.getpid()}", "tables")
    gen_tables.generate(d, a.seed, a.scale)
    spark, _, _ = common.start_session()
    queries = entry.queries()
    ways = {
        "count": lambda df: df.count(),
        "noop": lambda df: df.write.format("noop").mode("overwrite").save(),
    }
    try:
        print(f"{'id':36s} {'count_s':>8s} {'noop_s':>8s} {'ratio':>6s}")
        for q in HEADLINE:
            med = {}
            for way, act in ways.items():
                samples = []
                for _ in range(a.reps + 1):  # the first is a warm-up
                    t0 = time.perf_counter()
                    act(queries[q](spark, d))
                    samples.append(time.perf_counter() - t0)
                    spark.catalog.clearCache()
                med[way] = statistics.median(samples[1:])
            print(f"{q:36s} {med['count']:8.3f} {med['noop']:8.3f} {med['noop'] / med['count']:6.2f}",
                  flush=True)
    finally:
        spark.stop()
        common.shutdown_jvm()
        shutil.rmtree(os.path.dirname(d), ignore_errors=True)


if __name__ == "__main__":
    main()
