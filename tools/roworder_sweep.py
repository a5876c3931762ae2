"""Full-registry input-row-order invariance sweep (r13).

`tools/determinism_sweep.py` varies the SHUFFLE layout; this tool
varies the axis that sweep cannot reach: the order rows arrive from the
SCAN.  On a 1000-executor cluster the scan order is arbitrary — object
listing order, split assignment, task completion order and speculative
retries permute it every run — while every local-mode test and both
engines of the oracle sweep read the same file front-to-back, so an
order-sensitive result (``F.first`` without ordering, ``row_number``
ties without a total order, limit-without-sort) agrees with its oracle
every day locally and still flips nondeterministically at scale.

The probe: synthesize a twin of the SF dir with every table's rows
deterministically permuted (seeded, reproducible) and the parquet
row-group boundaries shifted, then run every registered query on both
dirs and require canonically IDENTICAL results (the comparator sorts
rows, so only VALUE differences fail — output order is free).

    python tools/roworder_sweep.py                      # sf0.01, all
    python tools/roworder_sweep.py --only q1_pricing_summary
    python tools/roworder_sweep.py --state /tmp/ro.txt --deadline 500

Exit: 0 = all green, 1 = any mismatch/error, 2 = incomplete (deadline).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

import numpy as np
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DST_DEFAULT = "/tmp/spark_graft_roworder"

# bump when the permutation scheme changes: a stale twin rebuilds
# instead of resuming against old data (the _DONE-marker discipline)
_SYNTH_VERSION = "ro-v1"
_SEED = 0x5F13


def synth_permuted(src: str, dst: str) -> None:
    """Every table with rows in a seeded random order and row groups
    re-cut (~7 groups) so split boundaries move too."""
    rng = np.random.RandomState(_SEED)
    for f in sorted(os.listdir(src)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(src, f))
        if t.num_rows > 1:
            t = t.take(rng.permutation(t.num_rows))
        pq.write_table(
            t,
            os.path.join(dst, f),
            row_group_size=max(1, t.num_rows // 7 + 1),
        )


def ensure_twin(src: str, base: str) -> str:
    dst = os.path.join(base, "permuted")
    marker = os.path.join(dst, "_DONE")
    want = f"{_SYNTH_VERSION}|src={src}"
    if os.path.exists(marker) and open(marker).read().strip() == want:
        return dst
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    os.makedirs(dst)
    synth_permuted(src, dst)
    with open(marker, "w") as fh:
        fh.write(want)
    return dst


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--base", default=DST_DEFAULT)
    ap.add_argument("--state", default=None, help="resume file of done names")
    ap.add_argument("--deadline", type=float, default=None)
    ap.add_argument("--only", nargs="*", help="subset of query names")
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
    header = state_header(args.sf_dir) + f"|{_SYNTH_VERSION}"
    if args.state and os.path.exists(args.state):
        try:
            done = parse_state(open(args.state).read(), header)
        except ValueError as ex:
            print(f"REFUSED: {args.state}: {ex}")
            return 1
    elif args.state:
        with open(args.state, "w") as f:
            f.write(header + "\n")

    twin = ensure_twin(args.sf_dir, args.base)

    from streaming_amqp_spark.session import get_spark

    spark = get_spark("roworder-sweep")
    from tests.oracle import canon

    names = sorted(args.only or qs)

    def clear_shared_cache() -> None:
        # a relation cached from one dir must not serve the other
        from streaming_amqp_spark.tables import clear_shared_cache as _c

        _c(spark)

    def result(name: str, sf_dir: str):
        df = qs[name](spark, sf_dir)
        return canon(df.columns, [tuple(r) for r in df.collect()])

    t_start = time.time()
    fails: list[str] = []
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
            baseline = result(name, args.sf_dir)
            clear_shared_cache()
            permuted = result(name, twin)
            clear_shared_cache()
            assert baseline == permuted, (
                "result changed with input row order — an order-"
                "sensitive step (first/ties/limit) crept in"
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
        print(f"DONE {len(names)}/{len(names)} row-order-invariant "
              f"at {args.sf_dir}")
    print("FAILS", fails)
    if fails:
        return 1
    return 0 if complete else 2


if __name__ == "__main__":
    raise SystemExit(main())
