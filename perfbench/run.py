"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload from the root of a checkout and prints, as its last
line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  See ``perfbench/README.md`` for what each
workload and metric measures.  Everything a run writes goes under
``.perfbench/`` in the checkout and is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from harness import RunDir  # noqa: E402

WORKLOADS = ("ingest_window", "batch_curation")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if harness.ROOT not in sys.path:
        sys.path.insert(0, harness.ROOT)
    try:
        import streaming_amqp_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: program not importable: {e}", file=sys.stderr)
        return 2
    run = RunDir(args.workload)
    try:
        harness.configure_env(run)
        import workloads

        result = workloads.run(args, run)
    finally:
        run.remove()
        harness.reap_descendants()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
