"""Cross-engine oracle sweep over the full query registry at any SF dir.

The driver's correctness gate runs at sf0.01; this tool replays the same
(query, oracle) comparison at any other scale — the committed testdata
SFs or a Spark-written dataset like bench's synthesized 10×-sf0.1 set
(the oracle harness globs part files for directory-shaped tables).  The
first full run at the synthesized sf1 (r7) caught a real scale bug the
sf0.01 gate could not see: the uncapped SimHash probe join's >1 GiB pair
set (fixed by MAX_SIMHASH_FREQ).

    python tools/oracle_sweep.py                       # sf0.01, full
    python tools/oracle_sweep.py --sf-dir /tmp/spark_graft_sf1 \
        --state /tmp/sf1_done.txt --deadline 520       # resumable chunk

With ``--state``, completed names append to the file and are skipped on
the next invocation, so a long sweep survives wall-clock limits; rerun
until it prints DONE.  The state file is keyed to its sf-dir (header
line) — reusing it against a different scale is refused rather than
silently skipping everything.  Exit: 0 = all names green, 1 = any FAIL,
2 = incomplete (deadline hit) — gate automation on 0, not "not 1".
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def state_header(sf_dir: str) -> str:
    """State-file header keying results to their dataset, not just its
    path: a synthesized dir (bench's /tmp sf1) carries a _DONE version
    marker, and a resynthesized dataset at the SAME path must not be
    resumed from results produced against the old one."""
    marker = os.path.join(sf_dir, "_DONE")
    ver = open(marker).read().strip() if os.path.exists(marker) else ""
    return f"#sfdir={sf_dir}|{ver}" if ver else f"#sfdir={sf_dir}"


def parse_state(text: str, header: str) -> set[str]:
    """Completed names from a resume file, or ValueError when the file
    cannot be trusted for this dataset — a wrong-dataset (or unknowable:
    headerless) resume would skip every query and fabricate a green
    sweep (ADVICE r7)."""
    lines = [l.strip() for l in text.splitlines() if l.strip()]
    got_header = next((l for l in lines if l.startswith("#sfdir=")), None)
    if got_header is None:
        raise ValueError(
            "state file has no '#sfdir=' header, so there is no way to "
            "verify which dataset produced it.  Delete it, or prepend "
            f"'{header}' if you know it was produced for this sf-dir."
        )
    if got_header != header:
        raise ValueError(
            f"state file belongs to {got_header.removeprefix('#sfdir=')}, "
            f"not {header.removeprefix('#sfdir=')}"
        )
    return {l for l in lines if not l.startswith("#")}


def unknown_names(requested: list[str] | None, known) -> list[str]:
    """Requested ``--only`` names that are not registered queries, in the
    order given: a typo or a comma list (``a,b``) must be refused, not
    swept as a red query."""
    return [n for n in requested or () if n not in known]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--state", default=None, help="resume file of done names")
    ap.add_argument(
        "--deadline",
        type=float,
        default=None,
        help="stop starting new queries after this many seconds",
    )
    ap.add_argument("--only", nargs="*", help="subset of query names")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    # validate names and the resume file BEFORE paying JVM startup
    unknown = unknown_names(args.only, osql)
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
    from tests.oracle import compare_query

    spark = get_spark("oracle-sweep")
    names = sorted(args.only or osql)
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
            compare_query(qs[name](spark, args.sf_dir), osql[name], args.sf_dir)
            print(f"OK   {name} {time.time() - t0:.1f}s", flush=True)
            done.add(name)
            if args.state:
                with open(args.state, "a") as f:
                    f.write(name + "\n")
        except Exception as ex:
            fails.append(name)
            print(f"FAIL {name} {time.time() - t0:.1f}s {str(ex)[:300]}", flush=True)
    complete = all(n in done for n in names)
    if not fails and complete:
        print(f"DONE {len(names)}/{len(names)} green at {args.sf_dir}")
    print("FAILS", fails)
    if fails:
        return 1
    return 0 if complete else 2


if __name__ == "__main__":
    raise SystemExit(main())
