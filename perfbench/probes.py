"""Stdlib probes the benchmark reads from outside the program.

* ``parse_event_log`` — Spark's uncompressed JSON event log
  (``eventlog_v2_*/events_*``) folded into per-job-group layer totals;
* ``plan_fp`` — a hash of a physical plan string with expression ids and
  paths stripped, so two runs of the same plan give the same fingerprint;
* ``knn_ring_rounds`` — the ring-search rounds among a plan's Generate
  nodes;
* ``read_cpu_ticks`` / ``steal_pct`` — host CPU steal from ``/proc/stat``;
* ``ProcTree`` — CPU seconds and resident memory of a process and all of
  its descendants (the Spark JVM and its Python workers), from ``/proc``.

Nothing here imports pyspark or the program under test.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import threading
from collections import defaultdict

# task accumulables (their per-task "Update") -> (layer metric, scale)
_TASK_ACCUMS = {
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to start Python workers": ("python_start_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "data sent to Python workers": ("to_python_mb", 1e-6),
    "data returned from Python workers": ("from_python_mb", 1e-6),
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1e-6),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1e-6),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 1e-6),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1e-6),
}

SPARK_FIELDS = (
    "python_run_s", "python_start_s", "python_init_s", "to_python_mb",
    "from_python_mb", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "tasks",
    "task_retries", "stages", "inner_join_rows",
)

_JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")


def find_event_logs(log_dir: str) -> list[str]:
    """Event-log files of Spark 4's rolling ``eventlog_v2_*`` directories
    under ``log_dir``, in name order."""
    return sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))


def _walk_plan(node, joins: dict, generators: set) -> None:
    name = node.get("nodeName", "")
    text = node.get("simpleString", "")
    if name == "Generate":
        generators.add(text)
    inner = name in _JOIN_NODES and "Inner" in text
    for m in node.get("metrics", []):
        if inner and m.get("name") == "number of output rows":
            joins[int(m["accumulatorId"])] = name
    for child in node.get("children", []):
        _walk_plan(child, joins, generators)


def _new_layer() -> dict:
    return {f: 0.0 for f in SPARK_FIELDS} | {"jobs": [], "generators": set()}


def parse_event_log(lines) -> dict:
    """Fold event-log lines into ``{job_group_id: layer}``.

    A job belongs to its job group; jobs without one are dropped, and a
    job's stages and tasks follow it. Each layer carries the sums named
    in ``SPARK_FIELDS`` plus ``jobs``: ``(job_id, start_ms, end_ms,
    [(stage_id, name, start_ms, end_ms), ...])`` for the trace, and
    ``generators``: the text of every Generate node in the SQL plans the
    group executed. ``inner_join_rows`` sums the "number of output rows" of
    every inner join node of any executed plan (adaptive re-plans and
    cached sub-plans included, so plans are read before tasks).
    """
    events = [json.loads(raw) for raw in lines if raw.strip()]
    join_accums: dict = {}
    out: dict = defaultdict(_new_layer)
    exec_group: dict = {}
    for ev in events:
        if "sparkPlanInfo" in ev:
            # adaptive re-plans carry only the execution id of their start
            if "jobGroupId" in ev:
                exec_group[ev.get("executionId")] = ev["jobGroupId"]
            key = exec_group.get(ev.get("executionId"))
            gens: set = set()
            _walk_plan(ev["sparkPlanInfo"], join_accums, gens)
            if key is not None:
                out[key]["generators"] |= gens
    stage_key: dict = {}
    job_info: dict = {}
    stage_span: dict = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            key = props.get("spark.jobGroup.id")
            if key is None:
                continue
            job_info[ev["Job ID"]] = [key, ev.get("Submission Time"), None]
            for sid in ev.get("Stage IDs", []):
                stage_key[sid] = (key, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_info:
                job_info[ev["Job ID"]][2] = ev.get("Completion Time")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_key:
                out[stage_key[sid][0]]["stages"] += 1
                stage_span.setdefault(stage_key[sid][1], []).append((
                    sid, info.get("Stage Name", ""),
                    info.get("Submission Time"), info.get("Completion Time"),
                ))
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            if sid not in stage_key:
                continue
            layer = out[stage_key[sid][0]]
            layer["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                layer["task_retries"] += 1
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                upd = acc.get("Update")
                if upd is None:
                    continue
                if acc.get("ID") in join_accums:
                    layer["inner_join_rows"] += float(upd)
                    continue
                hit = _TASK_ACCUMS.get(acc.get("Name"))
                if hit is not None:
                    layer[hit[0]] += float(upd) * hit[1]
    for jid, (key, t0, t1) in sorted(job_info.items()):
        out[key]["jobs"].append((jid, t0, t1, sorted(stage_span.get(jid, []))))
    return dict(out)


def parse_event_log_dir(log_dir: str) -> dict:
    lines = []
    for path in find_event_logs(log_dir):
        with open(path, encoding="utf-8") as f:
            lines.extend(f)
    return parse_event_log(lines)


_RING_GENERATE = "Generate explode(array_distinct(transform("
_LITERAL = re.compile(r"UnsafeArrayData@[0-9a-f]+")


def knn_ring_rounds(generators) -> int:
    """Rounds of ``knn_join``'s ring search among Generate node texts.

    Each round explodes ``transform(sequence(-r, r), ...)`` over the query
    cell's x, and Spark folds the sequence into an array literal printed
    as ``UnsafeArrayData@<content hash>``, so every radius r has its own
    literal. The node text is cut at 200 characters, but the literal
    comes first; re-plans and later rounds that repeat a subtree repeat
    its literal, so distinct literals count rounds.
    """
    return len({m.group(0) for g in generators if g.startswith(_RING_GENERATE)
                for m in [_LITERAL.search(g)] if m})


_PLAN_SUBS = (
    (re.compile(r"#\d+L?"), "#"),                   # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id="),       # exchange ids
    (re.compile(r"\[file:[^\]]*\]"), "[path]"),     # scanned locations
    (re.compile(r"file:[^\s,\]]+"), "path"),
    (re.compile(r"(pythonUDF|_we|_gen_alias_)\d+"), r"\1"),
    (re.compile(r"\bid=\d+"), "id="),
)


def strip_plan(plan: str) -> str:
    """Physical plan text with run-specific ids and paths removed."""
    for pat, rep in _PLAN_SUBS:
        plan = pat.sub(rep, plan)
    return plan


def plan_fp(*plans: str) -> str:
    """16-hex-digit fingerprint of one or more stripped plan strings."""
    h = hashlib.sha256()
    for p in plans:
        h.update(strip_plan(p).encode())
        h.update(b"\0")
    return h.hexdigest()[:16]


def read_cpu_ticks(path: str = "/proc/stat") -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate ``cpu`` line."""
    with open(path, encoding="ascii") as f:
        fields = f.readline().split()
    vals = [int(v) for v in fields[1:9]]  # user..steal; guest is in user
    return sum(vals), vals[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


SAMPLE_S = 0.05  # ProcTree's sampling interval
_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def read_stat(pid: int):
    """(state, ppid, cpu_s, rss_bytes) of a process, or None if it is gone.

    ``cpu_s`` is the process's own user + system time; the time of the
    children it reaped is left out, because the tree sampler counts each
    process itself.
    """
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            data = f.read()
    except OSError:
        return None
    rest = data[data.rindex(")") + 2:].split()
    # rest[0] is field 3 (state): utime, stime are fields 14, 15; rss is 24
    ticks = int(rest[11]) + int(rest[12])
    return rest[0], int(rest[1]), ticks / _CLK, int(rest[21]) * _PAGE


class ProcTree:
    """Samples the process tree rooted at ``root_pid`` on a thread.

    ``cpu_s()`` is the CPU seconds the tree has used since ``mark()``:
    each process's own time, its last sample kept after it exits. A
    process that starts and exits between two samples is missed; the
    Spark JVM and its reused Python workers live much longer than
    ``SAMPLE_S``. ``peak_rss_mb`` is the largest summed resident set
    seen since ``mark()``.
    """

    def __init__(self, root_pid: int):
        self.root = root_pid
        self._lock = threading.Lock()
        self._last: dict = {}
        self._base: dict = {}
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree(self) -> dict:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = read_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        keep, frontier = {}, [self.root]
        while frontier:
            pid = frontier.pop()
            if pid in stats and pid not in keep:
                keep[pid] = stats[pid]
                frontier.extend(p for p, s in stats.items() if s[1] == pid)
        return keep

    def sample(self) -> None:
        tree = self._tree()
        rss = sum(s[3] for s in tree.values())
        with self._lock:
            for pid, s in tree.items():
                self._last[pid] = s[2]
            self._peak = max(self._peak, rss)

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_S):
            self.sample()

    def start(self) -> "ProcTree":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def mark(self) -> None:
        self.sample()
        with self._lock:
            self._base = dict(self._last)
            self._peak = 0
        self.sample()

    def cpu_s(self) -> float:
        self.sample()
        with self._lock:
            return sum(v - self._base.get(p, 0.0) for p, v in self._last.items())

    def peak_rss_mb(self) -> float:
        self.sample()
        with self._lock:
            return self._peak / 1e6

    def pids(self) -> list[int]:
        return sorted(self._tree())
