"""Measurement helpers: spans, the host speed probe, peak RSS, the Spark event log.

Spans are recorded by the benchmark around its own calls into the
package's public functions. Each span also sets the Spark local property
``kgbench.span`` to its path, so every Spark job started inside it carries
the path into the event log; the parser below attributes jobs to layers
from that property and from the checkpoint path a job writes. Nothing
inside the package is instrumented.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROP = "kgbench.span"


class Spans:
    """Nested wall-clock spans that tag Spark jobs with their path."""

    def __init__(self, sc=None):
        self.sc = sc
        self.stack: list[str] = []
        self.records: list[tuple[str, float, float]] = []  # (path, t0, t1)

    def _tag(self, path: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, path)

    @contextmanager
    def __call__(self, name: str):
        self.stack.append(name)
        path = "/".join(self.stack)
        self._tag(path)
        t0 = time.time()
        try:
            yield
        finally:
            self.records.append((path, t0, time.time()))
            self.stack.pop()
            self._tag("/".join(self.stack) or None)

    def mark(self, name: str) -> None:
        """Tag the jobs that follow with ``name`` under the current span,
        without opening a span (for work a callee runs after a hook)."""
        self._tag("/".join([*self.stack, name]))

    def total(self, prefix: str, suffix: str) -> float:
        """Summed wall of the spans whose path has this prefix and suffix."""
        return sum(t1 - t0 for p, t0, t1 in self.records
                   if p.startswith(prefix) and p.endswith(suffix))


# ---------------------------------------------------------------------------
# host speed
# ---------------------------------------------------------------------------

def _probe_task(_: int) -> float:
    import hashlib

    import numpy as np

    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    h = b"kgbench"
    for _ in range(50_000):
        h = hashlib.sha256(h).digest()
    np.sort(np.random.default_rng(0).random(4_000_000))
    return time.perf_counter() - t0


def _probe_series(rounds: int) -> list[float]:
    _probe_task(0)  # warm-up: imports, page faults
    return [_probe_task(i) for i in range(rounds)]


def host_probe(procs: int, rounds: int = 2) -> list[float]:
    """Seconds of a fixed CPU and memory task (an interpreter loop, a hash
    chain, a numpy sort) run in ``procs`` processes at once, ``rounds``
    times. It shares no code with the program, so its time follows only
    the speed the host gives this machine.

    The processes are plain subprocesses that are waited for before this
    returns (a ``multiprocessing`` pool would leave its resource tracker
    running past the benchmark's exit)."""
    import subprocess
    import sys

    code = ("import json, sys; sys.path.insert(0, sys.argv[1]); import tracing; "
            "print(json.dumps(tracing._probe_series(int(sys.argv[2]))))")
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = [sys.executable, "-c", code, here, str(rounds)]
    workers = []
    try:
        for _ in range(procs):
            workers.append(subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True))
        times = []
        for w in workers:
            out, _ = w.communicate()
            if w.returncode != 0:
                raise RuntimeError(f"host probe exited with {w.returncode}")
            times += json.loads(out)
        return times
    finally:
        for w in workers:
            if w.poll() is None:
                w.kill()
            w.wait()



# ---------------------------------------------------------------------------
# peak resident memory of the Spark JVM and its Python workers
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _rss(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * _PAGE


def _pss(pid: int) -> int:
    """Proportional set size in bytes: pages the forked Python workers
    share are split between them instead of counted once per worker."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_rss(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` (the JVM, whose pages nothing else
    shares) plus the PSS of its Python descendants (the workers). Other
    descendants are short-lived children the JVM spawns for shell commands;
    until they exec they map the JVM's own memory, so they are skipped."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            if pid == root_pid:
                total += _rss(pid)
            else:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().startswith("python"):
                        total += _pss(pid)
        except (OSError, IndexError, ValueError):
            pass
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the resident memory of a process tree every ``interval`` s
    and keeps the peak (bytes)."""

    def __init__(self, pid: int, interval: float = 0.1):
        self.pid, self.interval, self.peak = pid, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss(self.pid))


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_WRITE_NODE = re.compile(
    r"^\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: (\S+),", re.M)
# stage checkpoint written -> the layer it closes; _NEXT: the layer after it
CKPT_LAYER = {"mentions": "mention", "exact_links": "linking", "sim_queries": "sim"}
_NEXT = {"mention": "linking", "linking": "sim", "sim": "sim"}
PY_SENT = "data sent to Python workers"


class Job:
    __slots__ = ("id", "span", "exec_id", "t0", "t1", "stages", "ckpt",
                 "task_s", "gc_s", "shuffle_b", "spill_b", "out_b", "out_rows",
                 "py_b", "python_map")

    def __init__(self, jid, span, exec_id, t0, stages):
        self.id, self.span, self.exec_id, self.t0 = jid, span, exec_id, t0
        self.t1, self.stages, self.ckpt = t0, stages, None
        self.task_s = self.gc_s = 0.0
        self.shuffle_b = self.spill_b = self.out_b = self.out_rows = self.py_b = 0
        self.python_map = False


def read_event_log(ev_dir: str) -> list[Job]:
    """Parse an uncompressed Spark event log directory into jobs with
    summed task metrics."""
    files = sorted(glob.glob(os.path.join(ev_dir, "**", "events_*"), recursive=True)) \
        or sorted(p for p in glob.glob(os.path.join(ev_dir, "*")) if os.path.isfile(p))
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    exec_ckpt: dict[int, str] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = line[11:40]
                if "TaskEnd" in ev:
                    e = json.loads(line)
                    job = stage_job.get(e["Stage ID"])
                    m = e.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job.task_s += m["Executor Run Time"] / 1000
                    job.gc_s += m["JVM GC Time"] / 1000
                    job.shuffle_b += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    job.spill_b += m["Disk Bytes Spilled"]
                    job.out_b += m["Output Metrics"]["Bytes Written"]
                    job.out_rows += m["Output Metrics"]["Records Written"]
                    for a in e["Task Info"].get("Accumulables", ()):
                        if a.get("Name") == PY_SENT:
                            job.py_b += int(a.get("Update") or 0)
                    continue
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    job = Job(e["Job ID"], props.get(SPAN_PROP), int(ex) if ex else None,
                              e["Submission Time"] / 1000, e["Stage IDs"])
                    jobs[job.id] = job
                    for sid in job.stages:
                        stage_job[sid] = job
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].t1 = e["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    job = stage_job.get(info["Stage ID"])
                    if job is not None and "Submission Time" in info:
                        for r in info.get("RDD Info", ()):
                            if '"MapInPandas"' in (r.get("Scope") or ""):
                                job.python_map = True
                elif kind.endswith("SQLExecutionStart"):
                    hit = _WRITE_NODE.search(e.get("physicalPlanDescription", ""))
                    if hit and "/ckpt/" in hit.group(1):
                        exec_ckpt[e["executionId"]] = hit.group(1).rsplit("/", 1)[1]
    for job in jobs.values():
        job.ckpt = exec_ckpt.get(job.exec_id) if job.exec_id is not None else None
    return sorted(jobs.values(), key=lambda j: j.id)


def attribute(jobs: list[Job]) -> dict[str, list[Job]]:
    """Group jobs by layer.

    Jobs inside a ``run_pipeline`` span are split at its stage
    checkpoints: everything up to and including the ``mentions`` write is
    the mention layer, up to ``exact_links`` linking, then sim (including
    the ``sim_queries`` write and the corpus statistics). The ``mappings``
    write runs the TF-IDF scoring and compile as one SQL execution; its
    jobs that run a Python map are the similarity scoring (sim), the rest
    compile. Jobs outside ``run_pipeline`` keep their span's last name:
    ``tail`` (the persisted-triples probe in ``run_partitioned``),
    ``sink.write``, ``sink.readback`` and so on."""
    groups: dict[str, list[Job]] = defaultdict(list)
    layer = "mention"
    for job in jobs:
        parts = (job.span or "untagged").split("/")
        if "run_pipeline" not in parts:
            groups[parts[-1]].append(job)
            layer = "mention"  # sink jobs separate two run_pipeline calls
        elif job.ckpt == "mappings":
            groups["sim" if job.python_map else "compile"].append(job)
        elif job.ckpt in CKPT_LAYER:
            groups[CKPT_LAYER[job.ckpt]].append(job)
            layer = _NEXT[CKPT_LAYER[job.ckpt]]
        else:
            groups[layer].append(job)
    return groups


def union_wall(jobs: list[Job]) -> float:
    """Wall seconds covered by at least one job."""
    total, end = 0.0, float("-inf")
    for t0, t1 in sorted((j.t0, j.t1) for j in jobs):
        if t1 <= end:
            continue
        total += t1 - max(t0, end)
        end = t1
    return total


def layer_costs(jobs: list[Job], cores: int) -> dict[str, float]:
    wall = union_wall(jobs)
    task = sum(j.task_s for j in jobs)
    return {
        "wall_s": wall,
        "task_s": task,
        "shuffle_mb": sum(j.shuffle_b for j in jobs) / 1e6,
        "spill_mb": sum(j.spill_b for j in jobs) / 1e6,
        "py_mb": sum(j.py_b for j in jobs) / 1e6,
        "gc_s": sum(j.gc_s for j in jobs),
        "out_rows": sum(j.out_rows for j in jobs),
        "core_util": task / (wall * cores) if wall > 0 else 0.0,
    }
