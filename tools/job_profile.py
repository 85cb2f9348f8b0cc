"""Per-entry job profile: where does each bench row's wall time go?

Runs entries exactly like bench.py (same session factory, same
``bench.warmup``, same exec_order, same ``collect()`` action) but with
the Spark event log enabled (in a temporary directory, removed once
parsed) and every entry labelled via ``setJobDescription``.  Then
parses the event log and attributes, per entry:

  - jobs:        number of Spark jobs the entry triggered
  - stages:      completed stages
  - tasks:       completed tasks
  - task_sec:    sum of task wall (launch->finish) across all tasks
  - run_sec:     sum of executor run time (compute incl. fetch wait)
  - gc_sec:      sum of JVM GC time inside tasks
  - ser_sec:     result serialization + task deserialization
  - sched_sec:   wall - (critical-path estimate); reported as
                 wall_sec - jobspan_sec = driver-side gap (planning,
                 Python, analysis, collect decode) where jobspan is the
                 union of [job start, job end] intervals
  - wall_sec:    end-to-end entry wall time (same definition as bench)

Usage:
    python tools/job_profile.py [--sf DIR] [name ...]   # default: all

Writes tools/job_profile_out.json and prints a sorted table.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from bench import warmup  # noqa: E402
from inmem_vector_db_spark.session import get_spark  # noqa: E402


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    evdir = tempfile.mkdtemp(prefix="job_profile_eventlog_")
    try:
        return profile(args.sf, args.names, evdir)
    finally:
        shutil.rmtree(evdir, ignore_errors=True)


def profile(sf_dir: str, names: list[str], evdir: str) -> int:
    spark = get_spark("job_profile", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir,
        "spark.eventLog.compress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")

    try:
        warmup(spark, sf_dir)
    except Exception:
        pass  # best-effort, as in bench.py

    qmap = entrymod.queries()
    wanted = names or entrymod.exec_order()
    walls: dict[str, float] = {}
    order = [n for n in entrymod.exec_order() if n in set(wanted)]
    for name in order:
        spark.sparkContext.setJobDescription(f"ENTRY::{name}")
        t0 = time.perf_counter()
        try:
            qmap[name](spark, sf_dir).collect()
            walls[name] = time.perf_counter() - t0
        except Exception as exc:  # keep going; mark failure
            walls[name] = -1.0
            print(f"{name} FAILED: {exc}", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)

    app_id = spark.sparkContext.applicationId
    spark.stop()

    # parse the event log (Spark 4 may write a rolling dir
    # eventlog_v2_<appId>/events_* or a single file <appId>)
    paths: list[str] = []
    flat = os.path.join(evdir, app_id)
    v2 = os.path.join(evdir, f"eventlog_v2_{app_id}")
    if os.path.isfile(flat):
        paths = [flat]
    elif os.path.isdir(v2):
        paths = sorted(
            os.path.join(v2, p) for p in os.listdir(v2)
            if p.startswith("events_")
        )
    if not paths:
        print("no event log found", file=sys.stderr)
        return 1

    job_entry: dict[int, str] = {}
    stage_entry: dict[int, str] = {}
    prof: dict[str, dict] = {
        n: dict(jobs=0, stages=0, tasks=0, task_sec=0.0, run_sec=0.0,
                gc_sec=0.0, ser_sec=0.0, jobspans=[])
        for n in walls
    }
    def _lines():
        import io

        for p in paths:
            if p.endswith(".zstd"):
                try:
                    import zstandard
                    with open(p, "rb") as raw:
                        dctx = zstandard.ZstdDecompressor()
                        with dctx.stream_reader(raw) as rd:
                            yield from io.TextIOWrapper(rd)
                except ImportError:
                    import subprocess
                    out = subprocess.run(
                        ["zstd", "-dc", p], capture_output=True, check=True
                    ).stdout
                    yield from out.decode().splitlines()
            else:
                with open(p) as fh:
                    yield from fh

    for line in _lines():
        if True:
            try:
                ev = json.loads(line)
            except Exception:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get(
                    "spark.job.description", "")
                if desc.startswith("ENTRY::"):
                    name = desc[7:]
                    jid = ev["Job ID"]
                    job_entry[jid] = name
                    if name in prof:
                        prof[name]["jobs"] += 1
                        prof[name]["jobspans"].append(
                            [ev.get("Submission Time", 0), None])
                        for sid in ev.get("Stage IDs", []):
                            stage_entry[sid] = name
            elif et == "SparkListenerJobEnd":
                name = job_entry.get(ev["Job ID"])
                if name and prof[name]["jobspans"]:
                    for span in reversed(prof[name]["jobspans"]):
                        if span[1] is None:
                            span[1] = ev.get("Completion Time", span[0])
                            break
            elif et == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                name = stage_entry.get(sid)
                if name:
                    prof[name]["stages"] += 1
            elif et == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                name = stage_entry.get(sid)
                if not name:
                    continue
                p = prof[name]
                p["tasks"] += 1
                ti = ev.get("Task Info", {})
                tm = ev.get("Task Metrics") or {}
                p["task_sec"] += max(
                    0, ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                ) / 1000.0
                p["run_sec"] += tm.get("Executor Run Time", 0) / 1000.0
                p["gc_sec"] += tm.get("JVM GC Time", 0) / 1000.0
                p["ser_sec"] += (
                    tm.get("Executor Deserialize Time", 0)
                    + tm.get("Result Serialization Time", 0)
                ) / 1000.0

    out = {}
    for name, wall in walls.items():
        p = prof[name]
        spans = sorted(
            [s for s in p.pop("jobspans") if s[1] is not None])
        merged = 0.0
        cur_s = cur_e = None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    merged += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            merged += cur_e - cur_s
        p["jobspan_sec"] = round(merged / 1000.0, 3)
        p["wall_sec"] = round(wall, 3)
        p["driver_gap_sec"] = round(max(0.0, wall - merged / 1000.0), 3)
        for k in ("task_sec", "run_sec", "gc_sec", "ser_sec"):
            p[k] = round(p[k], 3)
        out[name] = p

    with open(os.path.join(REPO_ROOT, "tools", "job_profile_out.json"),
              "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)

    hdr = (f"{'entry':<34}{'wall':>7}{'gap':>7}{'jspan':>7}{'jobs':>6}"
           f"{'stg':>5}{'task':>6}{'tsk_s':>8}{'run_s':>8}{'gc':>6}")
    print(hdr)
    for name in sorted(out, key=lambda n: -out[n]["wall_sec"]):
        p = out[name]
        print(f"{name:<34}{p['wall_sec']:>7.2f}{p['driver_gap_sec']:>7.2f}"
              f"{p['jobspan_sec']:>7.2f}{p['jobs']:>6}{p['stages']:>5}"
              f"{p['tasks']:>6}{p['task_sec']:>8.2f}{p['run_sec']:>8.2f}"
              f"{p['gc_sec']:>6.2f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
