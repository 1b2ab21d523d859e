"""Measurement taken from outside the engine.

- :class:`ProcSampler` — CPU and resident memory of this process and
  every descendant (the Spark driver JVM and its Python workers), read
  from ``/proc`` by one light thread.
- :class:`LineSpans` — a ``sys.stdout`` wrapper that timestamps the
  engine's ``CRAWLER_SPARK_VERBOSE`` step and wave lines as they arrive
  and keeps them out of the benchmark's own output.
- :class:`EventLog` — a Spark event-log listener attached to the running
  context for the traced section only, and a fold of its task metrics
  into the spans open when each job was submitted.
- :class:`StoreProxy` — a timing proxy around a ``LakeStore``.

Spans are kept in memory and written once, with the detail file.
"""

from __future__ import annotations

import glob
import io
import json
import os
import re
import shutil
import sys
import threading
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None = None
    span_id: str = ""

    def as_dict(self) -> dict:
        return {"id": self.span_id, "name": self.name, "start": round(self.start, 6),
                "end": round(self.end, 6), "parent": self.parent}


class Spans:
    """In-memory span list; ids are unique within one benchmark run."""

    def __init__(self) -> None:
        self.items: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: str | None = None) -> str:
        sid = f"s{len(self.items)}"
        self.items.append(Span(name, start, end, parent, sid))
        return sid


# ---------------------------------------------------------------- /proc


def _proc_stat(pid: int) -> tuple[int, int, int, int] | None:
    """(ppid, utime+stime ticks, rss pages, start ticks since boot) of one
    process, or None if it exited while being read."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    fields = raw[raw.rfind(")") + 2:].split()
    return int(fields[1]), int(fields[11]) + int(fields[12]), int(fields[21]), int(fields[19])


# A child younger than this is skipped in the RSS sum: until it execs, a
# process the JVM spawns reports the JVM's whole resident set as its own.
_MIN_RSS_AGE_S = 1.0


def _tree(root: int) -> dict[int, tuple[int, int]]:
    """pid -> (cpu ticks, rss pages) for ``root`` and all its descendants;
    rss is 0 for a descendant younger than ``_MIN_RSS_AGE_S``."""
    with open("/proc/uptime") as f:
        now_ticks = float(f.read().split()[0]) * _TICK
    stats: dict[int, tuple[int, int, int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[int, int]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            _, cpu, rss, start = stats[pid]
            young = pid != root and now_ticks - start < _MIN_RSS_AGE_S * _TICK
            out[pid] = (cpu, 0 if young else rss)
            todo.extend(children.get(pid, ()))
    return out


class ProcSampler:
    """Samples the process tree every ``period`` seconds between
    :meth:`begin` and :meth:`end`. CPU of a process that exits inside the
    section counts up to its last sample."""

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self._lock = threading.Lock()
        self._base: dict[int, int] = {}
        self._last: dict[int, int] = {}
        self._peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        tree = _tree(os.getpid())
        with self._lock:
            for pid, (cpu, _) in tree.items():
                self._last[pid] = cpu
            self._peak = max(self._peak, sum(rss for _, rss in tree.values()))

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def begin(self) -> None:
        tree = _tree(os.getpid())
        with self._lock:
            self._base = {pid: cpu for pid, (cpu, _) in tree.items()}
            self._last = dict(self._base)
            self._peak = sum(rss for _, rss in tree.values())
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)
        self._thread.start()

    def end(self) -> tuple[float, float]:
        """Stop sampling; return (cpu seconds, peak RSS in MB) of the section."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._sample()
        with self._lock:
            ticks = sum(cpu - self._base.get(pid, 0) for pid, cpu in self._last.items())
            return ticks / _TICK, self._peak * _PAGE / 2**20


# ---------------------------------------------------------------- engine lines

_STEP_RE = re.compile(r"^\[crawl:step\] (\S+)(?: (\d+))?.*\(\+([0-9.]+)s\)\s*$")
_WAVE_RE = re.compile(r"^\[crawl\] \S+ (\{.*\})\s*$")


class LineSpans(io.TextIOBase):
    """Stands in for ``sys.stdout`` while installed: engine progress lines
    are timestamped and kept; every other line passes through."""

    def __init__(self, target) -> None:
        self.target = target
        self.lines: list[tuple[float, str]] = []
        self._buf = ""

    def writable(self) -> bool:
        return True

    def write(self, s: str) -> int:
        now = time.time()
        self._buf += s
        while "\n" in self._buf:
            line, self._buf = self._buf.split("\n", 1)
            if line.startswith("[crawl"):
                self.lines.append((now, line))
            else:
                self.target.write(line + "\n")
        return len(s)

    def flush(self) -> None:
        self.target.flush()

    def __enter__(self) -> "LineSpans":
        sys.stdout = self
        return self

    def __exit__(self, *exc) -> None:
        sys.stdout = self.target


def wave_spans(lines: list[tuple[float, str]], spans: Spans, parent: str) -> list[dict]:
    """Turn step/wave lines into step spans under per-wave spans. Returns
    one record per wave: its span id, start, end and metrics line."""
    waves: list[dict] = []
    cur: dict | None = None
    for t, line in lines:
        m = _STEP_RE.match(line)
        if m:
            step, dt = m.group(1), float(m.group(3))
            if step == "wave_setup":
                cur = {"start": t - dt, "steps": [], "metrics": None}
                waves.append(cur)
            if cur is not None:
                cur["steps"].append((step, t - dt, t))
                cur["end"] = t
            continue
        m = _WAVE_RE.match(line)
        if m and cur is not None:
            cur["metrics"] = m.group(1)
    for w in waves:
        wid = spans.add("wave", w["start"], w["end"], parent)
        w["id"] = wid
        w["step_ids"] = [(name, spans.add(f"step.{name}", s, e, wid), s, e)
                         for name, s, e in w["steps"]]
    return waves


# ---------------------------------------------------------------- event log


class EventLog:
    """Spark event log for one section of a running application."""

    def __init__(self, spark, log_dir: str, tag: str) -> None:
        self.sc = spark.sparkContext
        self.dir = os.path.join(log_dir, tag)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        jvm = self.sc._jvm
        conf = self.sc._jsc.sc().conf().clone()
        conf.set("spark.eventLog.compress", "false")
        conf.set("spark.eventLog.logBlockUpdates.enabled", "true")
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            f"{self.sc.applicationId}-{tag}", jvm.scala.Option.apply(None),
            jvm.java.net.URI(f"file://{os.path.abspath(self.dir)}"), conf,
            self.sc._jsc.hadoopConfiguration(),
        )

    def __enter__(self) -> "EventLog":
        self._listener.start()
        self.sc._jsc.sc().addSparkListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        self.sc._jsc.sc().removeSparkListener(self._listener)
        self._listener.stop()

    def events(self):
        for path in sorted(glob.glob(os.path.join(self.dir, "**", "*"), recursive=True)):
            if os.path.isfile(path):
                with open(path) as f:
                    for line in f:
                        yield json.loads(line)


def fold_events(events, windows: list[tuple[float, float]],
                step_spans: list[tuple[str, str, float, float]], slots: int) -> dict:
    """Spark totals over the timed ``windows``, plus executor run time per
    step, with each job's tasks charged to the step span open when the
    job was submitted."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    blocks: dict[str, int] = {}
    stages: list[int] = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {"start": e["Submission Time"] / 1000.0, "end": None}
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            stages.append(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)
        elif kind == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            bid = info["Block ID"]
            if bid.startswith("rdd_"):
                size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
                blocks[bid] = max(blocks.get(bid, 0), size)

    def step_of(t: float) -> str:
        for name, _sid, s, e in step_spans:
            if s <= t <= e:
                return name
        return "unattributed"

    # only jobs submitted inside the timed windows: the output checks and
    # clean-up between runs are not part of the measured work
    jobs = {jid: j for jid, j in jobs.items()
            if any(s <= j["start"] <= e for s, e in windows)}
    tasks = [t for t in tasks if stage_job.get(t.get("Stage ID")) in jobs]
    job_step = {jid: step_of(j["start"]) for jid, j in jobs.items()}
    n_stages = sum(stage_job.get(sid) in jobs for sid in stages)
    out = {"jobs": len(jobs), "stages": n_stages, "tasks": len(tasks), "tasks_failed": 0,
           "tasks_speculative": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
           "gc_s": 0.0, "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    per_step: dict[str, dict] = {}
    for t in tasks:
        info = t.get("Task Info", {})
        m = t.get("Task Metrics") or {}
        out["tasks_failed"] += bool(info.get("Failed"))
        out["tasks_speculative"] += bool(info.get("Speculative"))
        run = m.get("Executor Run Time", 0) / 1000.0
        out["executor_run_s"] += run
        out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        sr = m.get("Shuffle Read Metrics", {})
        out["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20
        out["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
        out["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20
        step = job_step.get(stage_job.get(t.get("Stage ID"), -1), "unattributed")
        ps = per_step.setdefault(step, {"jobs": 0, "tasks": 0, "executor_run_s": 0.0})
        ps["tasks"] += 1
        ps["executor_run_s"] += run
    for step in job_step.values():
        per_step.setdefault(step, {"jobs": 0, "tasks": 0, "executor_run_s": 0.0})["jobs"] += 1
    out["block_store_mb"] = sum(blocks.values()) / 2**20
    wall = sum(e - s for s, e in windows)
    busy = _covered([(j["start"], j["end"] or j["start"]) for j in jobs.values()], windows)
    out["driver_gap_s"] = wall - busy
    out["slot_busy_share"] = out["executor_run_s"] / (slots * wall) if wall else 0.0
    out["per_step"] = {k: {kk: round(vv, 4) for kk, vv in v.items()} for k, v in per_step.items()}
    return out


def _covered(intervals: list[tuple[float, float]], windows: list[tuple[float, float]]) -> float:
    """Seconds of ``windows`` covered by the union of ``intervals``."""
    total = 0.0
    for ws, we in windows:
        clipped = sorted((max(s, ws), min(e, we)) for s, e in intervals if e > ws and s < we)
        cur_s = cur_e = None
        for s, e in clipped:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
    return total


# ---------------------------------------------------------------- state layer


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class StoreProxy:
    """Times every call the engine makes into a ``LakeStore`` and the
    bytes each write leaves on disk."""

    _TIMED = ("append", "stage_snapshot", "save_checkpoint", "read_snapshot",
              "gc_snapshots", "drop_uncommitted", "load_checkpoint", "read")
    _WRITES = ("append", "stage_snapshot")

    def __init__(self, store) -> None:
        self._store = store
        self.calls: dict[str, list[float]] = {}
        self.written = 0

    def __getattr__(self, name: str):
        attr = getattr(self._store, name)
        if name not in self._TIMED:
            return attr

        def timed(*args, **kwargs):
            table = os.path.join(self._store.root, args[1]) if name in self._WRITES else None
            before = dir_bytes(table) if table else 0
            t0 = time.perf_counter()
            try:
                return attr(*args, **kwargs)
            finally:
                self.calls.setdefault(name, []).append(time.perf_counter() - t0)
                if table:
                    self.written += max(0, dir_bytes(table) - before)

        return timed
