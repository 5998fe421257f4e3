"""Tracing that stays outside the program: benchmark-owned spans, RSS and CPU
of the Spark processes from /proc, and a reader for Spark's uncompressed
event log.

Spans are kept in memory and written out when the run ends. The event log is
turned on by session conf only in traced runs (``--trace 1``); untraced runs
give the end-to-end numbers, and the difference between the two is the
tracing overhead.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent) recorded around calls into the program."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, cmdline, rss bytes, CPU ticks) for every readable process.

    CPU ticks are the process's own user + system time plus that of its
    children it has reaped, so summing them over the live processes of a tree
    counts every process of the tree once."""
    out = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
            with open(f"/proc/{d}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        out[int(d)] = (int(fields[1]), cmd, rss, sum(int(x) for x in fields[11:15]))
    return out


def descendants(root: int, table) -> list[int]:
    kids = defaultdict(list)
    for pid, (ppid, *_) in table.items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


SAMPLE_INTERVAL_S = 0.2


class ProcessSampler:
    """Watches the processes this driver started (the JVM, the pyspark daemon
    and its forked workers) over a region: every SAMPLE_INTERVAL_S it sums
    the RSS of the Python workers and of the JVM and keeps the peaks; at the
    start and end it reads their CPU time (the driver's own Python process,
    which runs this sampler, is left out)."""

    def __init__(self):
        self.py_peak = 0
        self.jvm_peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        """Update the RSS peaks; return the tree's CPU ticks."""
        table = _proc_table()
        py = jvm = ticks = 0
        for pid in descendants(os.getpid(), table):
            _, cmd, rss, cpu = table[pid]
            ticks += cpu
            if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
                py += rss
            elif "java" in cmd.split(" ", 1)[0]:
                jvm += rss
        self.py_peak = max(self.py_peak, py)
        self.jvm_peak = max(self.jvm_peak, jvm)
        return ticks

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self.sample()

    def __enter__(self):
        self._ticks0 = self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.cpu_s = (self.sample() - self._ticks0) / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
_PY_METRICS = (PY_RUN, PY_START, PY_SENT, PY_RETURNED)


class EventLog:
    """The parts of a Spark event log the benchmark reports, indexed by job.

    Jobs carry their job group (the benchmark tags each gate query), their
    SQL execution id, submit/complete times and stage ids. Task metrics are
    summed per job; Python metrics come from the accumulators of the Python
    plan nodes (MapInArrow and friends) in each execution's plan."""

    def __init__(self, log_dir: str):
        files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
        files += [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.job_stages: dict[int, list] = {}
        self.tasks: list[dict] = []
        self.exchanges: dict[int, int] = {}  # execution id -> Exchange nodes in final plan
        self.py_acc: dict[int, str] = {}  # accumulator id -> python metric name
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _plan(self, exec_id: int, info: dict) -> None:
        n_exchange = 0
        todo = [info]
        while todo:
            node = todo.pop()
            if node["nodeName"] == "Exchange":
                n_exchange += 1
            for m in node.get("metrics", []):
                if m["name"] in _PY_METRICS:
                    self.py_acc[m["accumulatorId"]] = m["name"]
            todo.extend(node.get("children", []))
        self.exchanges[exec_id] = n_exchange

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            ex = props.get("spark.sql.execution.id")
            self.jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "exec": int(ex) if ex is not None else None,
                "start": e["Submission Time"] / 1000.0,
                "end": None,
            }
            self.job_stages[jid] = e["Stage IDs"]
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            self.tasks.append(self._task(e))
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._plan(e["executionId"], e["sparkPlanInfo"])

    def _task(self, e: dict) -> dict:
        m = e.get("Task Metrics") or {}
        info = e["Task Info"]
        py = defaultdict(float)
        for acc in info.get("Accumulables", []):
            name = self.py_acc.get(acc["ID"])
            if name is not None:
                py[name] += float(acc.get("Update") or 0)
        return {
            "stage": e["Stage ID"],
            "ok": e["Task End Reason"]["Reason"] == "Success",
            "run_s": m.get("Executor Run Time", 0) / 1000.0,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
            "in_records": (m.get("Input Metrics") or {}).get("Records Read", 0),
            "out_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
            "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
            "shuffle_read_records": (m.get("Shuffle Read Metrics") or {}).get(
                "Total Records Read", 0
            ),
            "py": dict(py),
        }

    # -- selections ---------------------------------------------------------

    def job_ids(self, tag: str) -> list[int]:
        """Jobs whose group is `tag` or starts with `tag:`."""
        return sorted(jid for jid, j in self.jobs.items()
                      if j["group"] == tag or (j["group"] or "").startswith(tag + ":"))

    def summary(self, job_ids) -> dict:
        """Counts and sums over the given jobs."""
        jobs = set(job_ids)
        stages = {sid for j in jobs for sid in self.job_stages[j]}
        tasks = [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]
        execs = {self.jobs[j]["exec"] for j in jobs} - {None}
        py = defaultdict(float)
        for t in tasks:
            for k, v in t["py"].items():
                py[k] += v
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(tasks),
            "failed_tasks": sum(not t["ok"] for t in tasks),
            "exchanges": sum(self.exchanges.get(x, 0) for x in execs),
            "cpu_s": sum(t["cpu_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "in_records": sum(t["in_records"] for t in tasks),
            "out_bytes": sum(t["out_bytes"] for t in tasks),
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "py_run_s": py[PY_RUN] / 1000.0,
            "py_start_s": py[PY_START] / 1000.0,
            "py_sent_bytes": py[PY_SENT],
            "py_returned_bytes": py[PY_RETURNED],
        }

    def busy_s(self, job_ids) -> float:
        """Wall time covered by at least one of the given jobs (interval union)."""
        spans = sorted((self.jobs[j]["start"], self.jobs[j]["end"] or self.jobs[j]["start"])
                       for j in job_ids)
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy

    def task_skew(self, job_ids) -> float:
        """Median over the shuffle-reading stages of max/median task run time."""
        jobs = set(job_ids)
        by_stage = defaultdict(list)
        for t in self.tasks:
            if self.stage_job.get(t["stage"]) in jobs and t["shuffle_read_records"] > 0:
                by_stage[t["stage"]].append(t["run_s"])
        ratios = [max(v) / max(statistics.median(v), 1e-3) for v in by_stage.values() if v]
        return statistics.median(ratios) if ratios else 0.0

