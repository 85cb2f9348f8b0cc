"""Spans around the benchmark's calls into the engine, and the per-layer
ledger derived from them and from the Spark event log.

A span is (name, layer, start, end, parent, request id).  Each span runs
its Spark jobs under its own job group, so the event log attributes every
job to exactly one span.  Jobs started outside any of our groups (the
micro-batches of a streaming query run under the query's own group) go to
the innermost span open when they were submitted.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

COUNTERS = ("jobs", "stages", "tasks", "task_s", "gc_s", "records_read",
            "shuffle_read_bytes", "shuffle_write_bytes", "bytes_written")


class Tracer:
    """In-memory span recorder; a no-op when disabled."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._request: int | None = None
        self._requests = 0

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans), "name": name, "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "request": self._request, "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"perfbench-{rec['id']}", name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(f"perfbench-{top['id']}", top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def request(self, kind: str):
        """Span of one benchmark request; spans opened inside it carry its
        request id."""
        self._requests += 1
        self._request = self._requests
        try:
            with self.span(f"request.{kind}", "bench"):
                yield
        finally:
            self._request = None


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Jobs from a finished Spark event log: group, interval and the task
    counters summed over the job's stages."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0, "end": None,
                    "stage_ids": set(), **{c: 0 for c in COUNTERS},
                }
                jobs[jid]["jobs"] = 1
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                job = jobs[jid]
                job["stage_ids"].add(ev["Stage ID"])
                job["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                job["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                job["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for job in jobs.values():
        job["stages"] = len(job.pop("stage_ids"))
        if job["end"] is None:
            raise RuntimeError("event log holds a job that never ended")
    return jobs


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def ledger(spans: list[dict], jobs: dict[int, dict]) -> list[dict]:
    """Per span: wall, self time, own job counters, and gap (wall minus the
    union of the job intervals of the span and its descendants)."""
    by_id = {s["id"]: s for s in spans}
    depth = {}
    for s in spans:  # parents precede children
        depth[s["id"]] = 0 if s["parent"] is None else depth[s["parent"]] + 1
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    own = defaultdict(list)
    for jid, job in jobs.items():
        g = job["group"] or ""
        if g.startswith("perfbench-"):
            own[int(g.split("-", 1)[1])].append(jid)
            continue
        inside = [s for s in spans if s["start"] <= job["start"] <= s["end"]]
        if inside:
            own[max(inside, key=lambda s: depth[s["id"]])["id"]].append(jid)

    def subtree_jobs(sid: int) -> list[int]:
        out = list(own[sid])
        for c in children[sid]:
            out += subtree_jobs(c)
        return out

    rows = []
    for s in spans:
        wall = s["end"] - s["start"]
        kids = [(by_id[c]["start"], by_id[c]["end"]) for c in children[s["id"]]]
        ivals = [(max(jobs[j]["start"], s["start"]), min(jobs[j]["end"], s["end"]))
                 for j in subtree_jobs(s["id"])]
        row = {**s, "wall_s": wall, "self_s": wall - _union(kids),
               "gap_s": wall - _union([iv for iv in ivals if iv[1] > iv[0]])}
        for c in COUNTERS:
            row[c] = sum(jobs[j][c] for j in own[s["id"]])
        rows.append(row)
    return rows


def table(rows: list[dict]) -> list[str]:
    """Per span name: calls, wall, self and the Spark counters."""
    agg: dict[str, dict] = {}
    for r in rows:
        a = agg.setdefault(r["name"], {"layer": r["layer"], "calls": 0, "wall_s": 0.0,
                                       "self_s": 0.0, "gap_s": 0.0,
                                       **{c: 0 for c in COUNTERS}})
        a["calls"] += 1
        for c in ("wall_s", "self_s", "gap_s", *COUNTERS):
            a[c] += r[c]
    head = (f"{'span name':34} {'layer':9} {'calls':>5} {'wall_s':>8} {'self_s':>8} {'gap_s':>8} "
            f"{'jobs':>5} {'stages':>6} {'tasks':>6} {'task_s':>7} {'gc_s':>6} "
            f"{'rec_read':>9} {'shuf_r_B':>10} {'shuf_w_B':>10} {'written_B':>10}")
    out = [head]
    for name, a in sorted(agg.items(), key=lambda kv: -kv[1]["self_s"]):
        out.append(
            f"{name:34} {a['layer']:9} {a['calls']:5d} {a['wall_s']:8.3f} {a['self_s']:8.3f} "
            f"{a['gap_s']:8.3f} {a['jobs']:5d} {a['stages']:6d} {a['tasks']:6d} "
            f"{a['task_s']:7.2f} {a['gc_s']:6.2f} {a['records_read']:9d} "
            f"{a['shuffle_read_bytes']:10d} {a['shuffle_write_bytes']:10d} {a['bytes_written']:10d}")
    layers = defaultdict(float)
    for r in rows:
        layers[r["layer"]] += r["self_s"]
    roots = [r for r in rows if r["parent"] is None]
    out.append("self time by layer: " + ", ".join(
        f"{k}={v:.3f}s" for k, v in sorted(layers.items(), key=lambda kv: -kv[1])))
    out.append(f"reconcile: sum of self times {sum(layers.values()):.3f}s, "
               f"root span walls {sum(r['wall_s'] for r in roots):.3f}s")
    return out


def request_rollup(rows: list[dict], kinds) -> dict[str, dict]:
    """Per kind of timed request: count, wall, time in the calls into the
    engine, in collecting results, between jobs; Spark counters; and self
    time by layer."""
    by_id = {r["id"]: r for r in rows}
    roots = {r["id"]: r["name"][len("request."):] for r in rows
             if r["parent"] is not None and by_id[r["parent"]]["name"] == "timed"
             and r["name"][len("request."):] in kinds}
    out: dict[str, dict] = {}
    for r in rows:
        root = r["id"]
        while root is not None and root not in roots:
            root = by_id[root]["parent"]
        if root is None:
            continue
        a = out.setdefault(roots[root], defaultdict(float))
        if r["id"] == root:
            a["n"] += 1
            a["wall_s"] += r["wall_s"]
            a["gap_s"] += r["gap_s"]
        elif r["name"].endswith(".exec"):
            a["exec_s"] += r["wall_s"]
        elif r["parent"] == root:
            a["call_s"] += r["wall_s"]
        for c in COUNTERS:
            a[c] += r[c]
        a[f"self.{r['layer']}"] += r["self_s"]
    return out


def rollup_table(rollup: dict[str, dict]) -> list[str]:
    """Mean per request of each kind."""
    out = [f"{'request':18} {'n':>3} {'wall_ms':>8} {'call_ms':>8} {'exec_ms':>8} {'gap_ms':>8} "
           f"{'jobs':>5} {'tasks':>6} {'task_ms':>8}  self time by layer (ms)"]
    for kind, a in rollup.items():
        n = a["n"]
        selfs = ", ".join(f"{k[5:]}={1000 * v / n:.1f}" for k, v in sorted(a.items())
                          if k.startswith("self.") and v > 0)
        out.append(f"{kind:18} {int(n):3d} {1000 * a['wall_s'] / n:8.1f} {1000 * a['call_s'] / n:8.1f} "
                   f"{1000 * a['exec_s'] / n:8.1f} {1000 * a['gap_s'] / n:8.1f} {a['jobs'] / n:5.1f} "
                   f"{a['tasks'] / n:6.1f} {1000 * a['task_s'] / n:8.1f}  {selfs}")
    return out


class StreamPhases:
    """Collects `durationMs` of every streaming query progress event."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        phases = self.progress = []
        self.started = self.terminated = 0
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # called synchronously by start()
                outer.started += 1

            def onQueryProgress(self, event):
                phases.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.terminated += 1

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def wait_terminated(self, timeout: float = 10.0) -> None:
        """Progress and end events arrive asynchronously; wait until every
        started query has reported its end."""
        deadline = time.time() + timeout
        while self.terminated < self.started and time.time() < deadline:
            time.sleep(0.02)
