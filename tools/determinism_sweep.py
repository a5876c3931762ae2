"""Full-registry partition-layout determinism sweep.

`tests/test_determinism.py` pins 16 representative queries: each runs
under two different ``spark.sql.shuffle.partitions`` settings and must
produce IDENTICAL results (at cluster scale, retries / speculation /
AQE all change the layout, so any layout-sensitive result is a latent
100 TB wrong-answer).  This tool applies the same A/B to EVERY
registered query — the long tail is where an order-dependent float
accumulation would hide, since the oracle sweep can only catch it if
the layout in use that day happens to disagree with DuckDB.

    python tools/determinism_sweep.py                      # sf0.01, all
    python tools/determinism_sweep.py --only q1_pricing_summary
    python tools/determinism_sweep.py --state /tmp/det.txt --deadline 500

Exit: 0 = all green, 1 = any mismatch/error, 2 = incomplete (deadline).

At the synthesized sf1, running the whole registry through ONE default
16g JVM can hit the local-mode broadcast-build capacity cliff on the
heavy posting-family queries ("Not enough memory to build and
broadcast" — a resource flake, not a layout sensitivity; see
tools/scale_probe.py).  Re-run any such FAIL with --only on a fresh
JVM (SPARK_GRAFT_DRIVER_MEM=48g) before reading it as a mismatch: a
true layout sensitivity fails with "result changed with shuffle
partitioning", deterministically.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ALT_PARTITIONS = "7"  # vs the session default of 32


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--state", default=None, help="resume file of done names")
    ap.add_argument("--deadline", type=float, default=None)
    ap.add_argument("--only", nargs="*", help="subset of query names")
    ap.add_argument(
        "--alt-partitions",
        default=ALT_PARTITIONS,
        help="the alternate shuffle layout (default 7 — right for the "
        "small SFs; at the synthesized ~sf1 use a value ABOVE the "
        "core count, e.g. 48: 7 collapses big stages to 7 tasks on 32 "
        "cores and the sweep pays a ~4x wall-clock penalty for the "
        "same layout-invariance signal)",
    )
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    import __spark_entry__ as e
    from oracle_sweep import parse_state, state_header, unknown_names

    qs = e.queries()
    # validate names BEFORE paying JVM startup
    unknown = unknown_names(args.only, qs)
    if unknown:
        print(f"REFUSED: unknown query names {unknown}")
        return 1

    done: set[str] = set()
    header = state_header(args.sf_dir)
    if args.state and os.path.exists(args.state):
        try:
            done = parse_state(open(args.state).read(), header)
        except ValueError as ex:
            print(f"REFUSED: {args.state}: {ex}")
            return 1
    elif args.state:
        with open(args.state, "w") as f:
            f.write(header + "\n")

    from streaming_amqp_spark.session import get_spark

    spark = get_spark("determinism-sweep")
    from tests.oracle import canon

    names = sorted(args.only or qs)

    def clear_shared_cache() -> None:
        # a relation cached under one layout would mask layout
        # sensitivity in everything downstream of it
        from streaming_amqp_spark.tables import (
            clear_shared_cache as _clear,
        )

        _clear(spark)

    def result(name: str):
        df = qs[name](spark, args.sf_dir)
        return canon(df.columns, [tuple(r) for r in df.collect()])

    t_start = time.time()
    fails: list[str] = []
    default_parts = spark.conf.get("spark.sql.shuffle.partitions")
    for name in names:
        if name in done:
            continue
        if args.deadline and time.time() - t_start > args.deadline:
            left = sum(1 for n in names if n not in done and n not in fails)
            print(f"DEADLINE: stopping with {left} names left", flush=True)
            break
        t0 = time.time()
        try:
            clear_shared_cache()
            baseline = result(name)
            try:
                spark.conf.set(
                    "spark.sql.shuffle.partitions", args.alt_partitions
                )
                clear_shared_cache()
                relaid = result(name)
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", default_parts)
                clear_shared_cache()
            assert baseline == relaid, (
                "result changed with shuffle partitioning — an "
                "order-dependent accumulation crept in"
            )
            print(f"OK   {name} {time.time() - t0:.1f}s", flush=True)
            done.add(name)
            if args.state:
                with open(args.state, "a") as f:
                    f.write(name + "\n")
        except Exception as ex:
            fails.append(name)
            print(
                f"FAIL {name} {time.time() - t0:.1f}s {str(ex)[:300]}",
                flush=True,
            )
    complete = all(n in done for n in names)
    if not fails and complete:
        print(f"DONE {len(names)}/{len(names)} layout-invariant at {args.sf_dir}")
    print("FAILS", fails)
    if fails:
        return 1
    return 0 if complete else 2


if __name__ == "__main__":
    raise SystemExit(main())
