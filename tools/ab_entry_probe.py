"""Controlled fresh-session A/B probe (judge r9 item #2).

Times a SEQUENCE of entries (caller passes them in exec_order) in one
fresh SparkSession against a chosen TREE (``--tree`` points sys.path at
a git worktree of another commit, e.g. the r8 tree), so a bench-tail
delta can be attributed to code vs host drift: same host, same
sequence, same fresh process-level artifact state on both trees.  This
is the same protocol that exonerated ``ann_ivf_recall`` in round 9
(BASELINE.md "Round-9 final gates": identical 4.60 s first-call on both
trees).

Usage:
    python tools/ab_entry_probe.py --tree /root/repo [--sf DIR] name...
    python tools/ab_entry_probe.py --tree /root/repo/.ab_r8 ... name...

Prints one JSON line: {"tree": ..., "sf": ..., "timings": {name: sec}}.
Each entry is timed once through the tree's ``bench.run_once`` (first
call, build-inclusive, as bench times every row).  --warm adds a second
pass, after every first call, that re-times each entry through
``bench.rerun_once`` under "warm": session memos are reset first, so
the entry redoes every build it needs, as bench's ``min_of_2`` re-runs
do; the warm time is never a memo hit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tree", required=True)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--warm", action="store_true")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    tree = os.path.abspath(args.tree)
    sys.path.insert(0, tree)
    os.chdir(tree)  # relative paths (spark-warehouse) resolve per-tree

    import __spark_entry__ as entrymod
    from bench import rerun_once, run_once, warmup
    from inmem_vector_db_spark.session import get_spark

    spark = get_spark("ab_probe")
    spark.sparkContext.setLogLevel("ERROR")
    # bench.py's warmup, imported from the probed tree, so first-call
    # timings measure the entry, not first-touch JIT (and both trees
    # start from the identical state)
    try:
        warmup(spark, args.sf)
        warmup_failed = None
    except Exception as exc:  # a cold tree breaks the A/B premise —
        # record it so cross-tree comparisons can be invalidated
        warmup_failed = f"{type(exc).__name__}: {exc}"
        print(f"WARMUP FAILED on {tree}: {warmup_failed}", file=sys.stderr)

    qmap = entrymod.queries()
    pos = {n: i for i, n in enumerate(entrymod.exec_order())}
    names = sorted(args.names, key=lambda n: pos[n])
    timings = {n: round(run_once(spark, args.sf, qmap[n]), 3) for n in names}
    out = {"tree": tree, "sf": args.sf, "timings": timings}
    if warmup_failed is not None:
        out["warmup_failed"] = warmup_failed
    if args.warm:
        out["warm"] = {
            n: round(rerun_once(spark, args.sf, qmap[n]), 3) for n in names
        }
    print(json.dumps(out, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
