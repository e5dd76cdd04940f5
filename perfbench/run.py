"""Benchmark entry point.

    python3 perfbench/run.py --workload online_search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints a report, then as its last line
one JSON object: correct, attempted, failed and the metrics (end-to-end
with --trace 0, per-layer with --trace 1). Exits non-zero, printing no
result, when the checkout lacks the program or the run fails.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("online_search", "ingest_mixed")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full",
                    help="toy: the smoke test's small corpus")
    args = ap.parse_args(argv)
    if not (ROOT / "lintdb_spark" / "__init__.py").is_file():
        print(f"perfbench: no lintdb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads

    sizes = workloads.FULL if args.size == "full" else workloads.TOY
    result = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), sizes)
    print("\n".join(result.report))
    print(json.dumps(result.summary()), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
