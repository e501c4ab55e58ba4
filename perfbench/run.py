"""Seeded extract + crawl benchmark of crawl4ai_spark.

    python3 perfbench/run.py --workload extract_synth --seed 1 --seconds 10 --trace 0

Runs one workload at ``local[nproc]`` from this process, checks its
outputs, and prints as the last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics, or with ``--trace 1`` the per-layer ones). Run it from the root of
a checkout; it reads and writes only inside that checkout.
"""

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("extract_synth", "extract_web", "crawl_bfs", "crawl_polite")


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="store this seed's output digests in perfbench/expected.json "
                        "(run on an unmodified tree only)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "crawl4ai_spark")):
        print(f"perfbench: no crawl4ai_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    return harness.main(args)


if __name__ == "__main__":
    sys.exit(main())
