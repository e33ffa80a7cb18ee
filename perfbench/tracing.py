"""Measurement helpers: the tail-percentile rule, the traced run's layer
tagging and span recording, the Spark event-log fold, and the RSS
sampler. Nothing here starts a thread or touches Spark at import time.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict

# ------------------------------------------------------------ percentiles

TAIL_BEYOND = 10


def tail_rank(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """0-based index, in ascending order, of the highest order statistic
    that has at least ``beyond`` samples above it; None when n <= beyond."""
    return n - beyond - 1 if n > beyond else None


def tail_stat(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile with at least
    ``beyond`` samples beyond it. With too few samples there is no such
    percentile; the maximum is returned with percentile 100, so the
    reader sees from ``n`` that it is not a tail estimate."""
    xs = sorted(values)
    n = len(xs)
    i = tail_rank(n, beyond)
    if i is None:
        return xs[-1], 100.0, n
    return xs[i], 100.0 * (i + 1) / n, n


def median(values: list[float]) -> float:
    return float(statistics.median(values))


# ------------------------------------------------------------ layer calls

class Untraced:
    """Tracing off: layer calls are plain calls, pins plain pins."""

    def begin_op(self, op_id: int) -> None:
        pass

    def call(self, layer, fn, *args):
        return fn(*args)

    def materialize(self, layer, df):
        return df.localCheckpoint(eager=True)

    def sink(self, df):
        return df.collect()


PIN_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")


class Tracer:
    """Tags every layer call and the sink with a job description
    ``<workload>:<op>:<layer>``, records spans (name, start, end,
    parent, op id) in memory, and counts eager pins made inside each
    layer call by wrapping pyspark's DataFrame pin methods."""

    def __init__(self, sc, workload: str):
        self.sc = sc
        self.workload = workload
        self.op_id = 0
        self.spans: list[dict] = []
        self.pins: dict[tuple[int, str], int] = defaultdict(int)
        self._stack: list[str] = []
        self._originals: dict[str, object] = {}

    def install(self, df_class) -> None:
        """Wrap the pin methods of ``df_class``, the concrete DataFrame
        class of the session (pyspark 4 splits it from the public base)."""
        self._df_class = df_class
        for name in PIN_METHODS:
            orig = getattr(df_class, name)
            self._originals[name] = orig

            def wrapped(df, *a, __orig=orig, **kw):
                if self._stack:
                    self.pins[(self.op_id, self._stack[-1])] += 1
                return __orig(df, *a, **kw)

            setattr(df_class, name, wrapped)

    def uninstall(self) -> None:
        for name, orig in self._originals.items():
            setattr(self._df_class, name, orig)
        self._originals.clear()

    def tag(self, layer: str) -> str:
        return f"{self.workload}:{self.op_id}:{layer}"

    def begin_op(self, op_id: int) -> None:
        self.op_id = op_id

    def _tagged(self, layer: str, span: str, fn, *args):
        """Run ``fn`` with the layer's job description and record a span."""
        parent = self._stack[-1] if self._stack else "op"
        self._stack.append(span)
        self.sc.setJobDescription(self.tag(layer))
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.spans.append({"name": span, "start": t0, "end": time.perf_counter(),
                               "parent": parent, "op": self.op_id})
            self._stack.pop()
            self.sc.setJobDescription(None)

    def call(self, layer, fn, *args):
        return self._tagged(layer, layer, fn, *args)

    def materialize(self, layer, df):
        # the benchmark's own pin of a layer's output: its jobs carry the
        # layer's tag, but its span and its pin are kept apart from the call's
        pin = self._originals["localCheckpoint"]
        return self._tagged(layer, f"{layer}#materialize", pin, df, True)

    def sink(self, df):
        """Split the sink into Catalyst planning and execution."""
        self._tagged("sink", "sink.plan", lambda: df._jdf.queryExecution().executedPlan())
        return self._tagged("sink", "sink.exec", df.collect)

    def layer_seconds(self, op_ids: set[int]) -> dict[str, list[float]]:
        """Per layer, the per-op total of its call spans."""
        per: dict[str, dict[int, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s["op"] in op_ids:
                per[s["name"]][s["op"]] += s["end"] - s["start"]
        return {name: [by_op.get(o, 0.0) for o in sorted(op_ids)] for name, by_op in per.items()}


# ------------------------------------------------------------ event log

def _tag_of(props: dict | None) -> str | None:
    return (props or {}).get("spark.job.description")


def fold_event_log(lines) -> dict[str, dict[str, float]]:
    """Fold SparkListenerJobStart / TaskEnd events per job-description tag.

    Returns ``{tag: {jobs, stages, tasks, run_ms, cpu_ms, gc_ms,
    shuffle_bytes, spill_bytes, peak_exec_mem_bytes, input_bytes,
    input_rows}}``. A stage is attributed to the first job that lists it.
    ``cpu_ms`` is executor CPU time (reported in nanoseconds)."""
    stage_tag: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stages_seen: dict[str, set] = defaultdict(set)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            tag = _tag_of(ev.get("Properties"))
            if tag is None:
                continue
            out[tag]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_tag.setdefault(sid, tag)
        elif kind == "SparkListenerTaskEnd":
            tag = stage_tag.get(ev.get("Stage ID"))
            if tag is None:
                continue
            m = ev.get("Task Metrics") or {}
            rec = out[tag]
            stages_seen[tag].add(ev.get("Stage ID"))
            rec["tasks"] += 1
            rec["run_ms"] += m.get("Executor Run Time", 0)
            rec["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            rec["gc_ms"] += m.get("JVM GC Time", 0)
            rec["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            rec["peak_exec_mem_bytes"] = max(
                rec["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
            )
            inp = m.get("Input Metrics") or {}
            rec["input_bytes"] += inp.get("Bytes Read", 0)
            rec["input_rows"] += inp.get("Records Read", 0)
    for tag, seen in stages_seen.items():
        out[tag]["stages"] = len(seen)
    return {t: dict(v) for t, v in out.items()}


def read_event_logs(log_dir: str) -> list[str]:
    """Lines of every event-log file under ``log_dir`` (Spark 4 writes a
    rolling ``eventlog_v2_*`` directory of ``events_<n>_*`` files)."""
    lines: list[str] = []
    for base, dirs, files in sorted(os.walk(log_dir)):
        dirs.sort()
        for name in sorted(files):
            if name.startswith("events_") or name.startswith("local-"):
                with open(os.path.join(base, name), encoding="utf-8") as fh:
                    lines += fh.readlines()
    return lines


def split_tag(tag: str) -> tuple[str, int, str]:
    workload, op, layer = tag.split(":", 2)
    return workload, int(op), layer


# ------------------------------------------------------------ memory

def _children(pid: int, parent_of: dict[int, int]) -> set[int]:
    tree, frontier = {pid}, [pid]
    while frontier:
        p = frontier.pop()
        for c, pp in parent_of.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss bytes) from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat.rsplit(")", 1)[1].split()
        table[int(d)] = (int(fields[1]), int(fields[21]) * page)
    return table


def process_tree(pid: int) -> set[int]:
    """``pid`` and all its descendants."""
    return _children(pid, {p: v[0] for p, v in _proc_table().items()})


def running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_rss(pid: int) -> tuple[int, int]:
    """(RSS of ``pid`` and all its descendants, RSS of ``pid`` alone), bytes."""
    table = _proc_table()
    tree = _children(pid, {p: v[0] for p, v in table.items()})
    return sum(table[p][1] for p in tree if p in table), table.get(pid, (0, 0))[1]


class RssSampler:
    """Samples the RSS of a process tree (the driver JVM and the Python
    workers it forks) on a background thread; ``peak`` is the maximum of
    the tree, ``peak_root`` that of the JVM alone."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid = pid
        self.interval = interval
        self.peak = self.peak_root = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total, root = tree_rss(self.pid)
            self.peak = max(self.peak, total)
            self.peak_root = max(self.peak_root, root)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
