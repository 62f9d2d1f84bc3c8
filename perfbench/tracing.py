"""Per-layer accounting: spans around calls into the engine.

A span tags the calling thread's Spark job group, so every job a call
launches can be found afterwards through the status tracker; the
status store then gives each job's stages (count, start and end time,
shuffle write, spill).  CPU comes from ``/proc``: Spark's own task CPU
leaves out the Python workers that run every Arrow kernel, so the span
also reads the CPU of the Spark JVM and of its Python worker tree.

Spans nest.  A layer's figures are inclusive: an outer span counts the
jobs, stages and CPU of the spans inside it.  With tracing off
(``Tracer(None)``) a span does nothing.
"""

from __future__ import annotations

import contextlib
import os
import time

from py4j.protocol import Py4JJavaError

CLK_TCK = os.sysconf("SC_CLK_TCK")

LAYER_COUNTERS = (
    "wall_s", "jobs", "stages", "jvm_cpu_s", "python_cpu_s",
    "shuffle_write_bytes", "spill_bytes", "idle_s",
)


# --- /proc ------------------------------------------------------------


def _read_stat(pid: int) -> tuple[int, int] | None:
    """(ppid, own + reaped-children CPU ticks) of a process, or None if
    it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    rest = s[s.rindex(")") + 2 :].split()
    # fields 4, 14-17 of proc(5): ppid, utime, stime, cutime, cstime
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def process_table() -> dict[int, tuple[int, int]]:
    """{pid: (ppid, cpu ticks)} for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def descendants(table: dict[int, tuple[int, int]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> tuple[float, float]:
    """(CPU seconds of ``root`` itself, CPU seconds of all its
    descendants), each including reaped children (utime + stime + cutime
    + cstime), so a worker that exits between two readings still counts
    through its parent."""
    table = process_table()
    own = table.get(root, (0, 0))[1]
    kids = sum(table[p][1] for p in descendants(table, root))
    return own / CLK_TCK, kids / CLK_TCK


def reset_peak_rss(root: int) -> None:
    """Reset the peak resident size (VmHWM) of ``root`` and its live
    descendants to their current resident size (proc(5), clear_refs)."""
    for pid in [root] + descendants(process_table(), root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except (FileNotFoundError, ProcessLookupError):
            pass


def peak_rss_mb(root: int) -> float:
    """Sum of the peak resident sizes (VmHWM) of ``root`` and its live
    descendants, in MiB."""
    total = 0
    for pid in [root] + descendants(process_table(), root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            pass
    return total / 1024.0


def _cpu_fields() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_probe_ms(n: int = 2_000_000) -> float:
    """Wall milliseconds of a fixed pure-Python loop on one core."""
    t = time.perf_counter()
    s = 0
    for i in range(n):
        s += i
    return (time.perf_counter() - t) * 1000.0


class HostNoise:
    """Host context for one run: load average and a one-core speed probe
    at the start, and the share of CPU time stolen by the hypervisor over
    the run (/proc/stat field 8).  Context only, not a metric."""

    def __init__(self):
        with open("/proc/loadavg") as f:
            self.load1_start = float(f.read().split()[0])
        self.probe_ms = cpu_probe_ms()
        self.t0 = _cpu_fields()

    def report(self) -> dict:
        d = [b - a for a, b in zip(self.t0, _cpu_fields())]
        return {
            "steal_pct": round(100.0 * d[7] / max(sum(d), 1), 3),
            "load1_start": self.load1_start,
            "cpu_probe_ms": round(self.probe_ms, 1),
        }


def dir_files(path: str) -> dict[str, tuple[int, int]]:
    """{relative path: (size, mtime_ns)} of the files under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def new_files(before: dict, after: dict) -> list[str]:
    return [p for p, v in after.items() if before.get(p) != v]


# --- spans ------------------------------------------------------------


class _Span:
    def __init__(self, group: str):
        self.group = group
        self.jobs: set[int] = set()  # own and nested spans' jobs


class Tracer:
    """Collects one aggregate row per layer from the spans of a run."""

    def __init__(self, spark):
        self.on = spark is not None
        self.rows: dict[str, dict[str, float]] = {}
        self.counters: dict[str, float] = {}
        self.overhead_s = 0.0
        self.top_wall_s = 0.0
        self._stack: list[_Span] = []
        self._n = 0
        self._patched: list[tuple[object, str, object]] = []
        self.frozen: set[str] = set()
        if self.on:
            sc = spark.sparkContext
            self.sc = sc
            self.jvm_pid = jvm_pid(spark)
            self._status = sc.statusTracker()
            self._store = sc._jsc.sc().statusStore()
            self._bus = sc._jsc.sc().listenerBus()

    def calls(self, layer: str) -> int:
        return int(self.rows.get(layer, {}).get("calls", 0))

    def add(self, name: str, value: float) -> None:
        """Add to counter ``name``; counters named ``<layer>.<x>`` follow
        their layer's frozen state."""
        if any(name.startswith(l + ".") for l in self.frozen):
            return
        self.counters[name] = self.counters.get(name, 0.0) + value

    def freeze(self) -> None:
        """Stop recording every layer that has calls already: later calls
        to it run unspanned, and their jobs count toward the enclosing
        span, if any."""
        self.frozen = set(self.rows)

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.on or layer in self.frozen:
            yield
            return
        t_in = time.perf_counter()
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        sp = _Span(f"perfbench-{os.getpid()}-{self._n}")
        self._stack.append(sp)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setLocalProperty("spark.jobGroup.id", sp.group)
        self.sc.setLocalProperty("spark.job.description", layer)
        jvm0, py0 = tree_cpu_s(self.jvm_pid)
        drv0 = time.process_time()
        w0 = time.time()
        t_body = time.perf_counter()
        try:
            yield
        finally:
            t_out = time.perf_counter()
            w1 = time.time()
            drv1 = time.process_time()
            jvm1, py1 = tree_cpu_s(self.jvm_pid)
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            self._stack.pop()
            self._bus.waitUntilEmpty()
            sp.jobs.update(int(j) for j in self._status.getJobIdsForGroup(sp.group))
            if parent is not None:
                parent.jobs.update(sp.jobs)
            stages, shuffle, spill, busy = self._stage_figures(sp.jobs, w0, w1)
            wall = t_out - t_body
            row = self.rows.setdefault(
                layer, dict.fromkeys(("calls",) + LAYER_COUNTERS, 0.0)
            )
            row["calls"] += 1
            row["wall_s"] += wall
            row["jobs"] += len(sp.jobs)
            row["stages"] += stages
            row["jvm_cpu_s"] += jvm1 - jvm0
            # The worker tree plus this PySpark client's own CPU: both are
            # Python doing the call's work outside Spark's task metrics.
            row["python_cpu_s"] += (py1 - py0) + (drv1 - drv0)
            row["shuffle_write_bytes"] += shuffle
            row["spill_bytes"] += spill
            row["idle_s"] += max(0.0, wall - busy)
            self.overhead_s += (t_body - t_in) + (time.perf_counter() - t_out)
            if parent is None:
                self.top_wall_s += time.perf_counter() - t_in

    def _stage_figures(self, jobs: set[int], w0: float, w1: float):
        """(stages run, shuffle write bytes, spill bytes, seconds of
        [w0, w1] during which at least one stage ran)."""
        stage_ids = set()
        for j in jobs:
            info = self._status.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in list(info.stageIds))
        n = shuffle = spill = 0
        spans = []
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store: count nothing
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            n += 1
            shuffle += int(sd.shuffleWriteBytes())
            spill += int(sd.diskBytesSpilled())
            if sd.submissionTime().isDefined() and sd.completionTime().isDefined():
                a = sd.submissionTime().get().getTime() / 1000.0
                b = sd.completionTime().get().getTime() / 1000.0
                spans.append((max(a, w0), min(b, w1)))
        busy, end = 0.0, w0
        for a, b in sorted(spans):
            if b > end:
                busy += b - max(a, end)
                end = b
        return n, shuffle, spill, busy

    # --- patching engine functions ------------------------------------

    def patch(self, module, attr: str, fn) -> None:
        """Set ``module.attr`` to ``fn`` until unpatch()."""
        self._patched.append((module, attr, getattr(module, attr)))
        setattr(module, attr, fn)

    def unpatch(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)

    def layer_metrics(self, layers) -> dict[str, float]:
        """Per-call means of every counter of every layer in ``layers``."""
        out = {}
        for layer in layers:
            row = self.rows.get(layer)
            calls = row["calls"] if row else 0
            for c in LAYER_COUNTERS:
                out[f"{layer}.{c}"] = row[c] / calls if calls else 0.0
        return out


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector, seconds."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()) / 1000.0
