"""Shared plumbing for the benchmark workloads: the per-run directory
and pinned environment, the span recorder, process-tree RSS sampling,
Spark event-log aggregation and between-op housekeeping.

Nothing here reaches inside ``pgshovel_spark``: spans wrap calls into
its public functions, and per-layer numbers come from Spark's own
event log, the streaming checkpoint and Postgres catalogs.
"""

from __future__ import annotations

import ctypes
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class RunDir:
    """Scratch space for one run, inside the checkout, removed at exit.

    Holds the generated inputs, Spark's local dirs, warehouse and temp
    files, the event log and the relay checkpoint."""

    def __init__(self, workload: str, seed: int):
        base = ROOT / ".perfbench_run"
        self.path = base / f"{workload}-s{seed}-p{os.getpid()}"
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("data", "local", "warehouse", "tmp", "eventlog"):
            (self.path / sub).mkdir(parents=True, exist_ok=True)

    def __truediv__(self, name: str) -> Path:
        return self.path / name

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            self.path.parent.rmdir()  # only when no other run is live
        except OSError:
            pass


#: prctl(2) option: orphaned descendants are re-parented to this process
PR_SET_CHILD_SUBREAPER = 36
#: how long ``stop_children`` waits before each escalation
STOP_GRACE_S = 20.0


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts, so a
    descendant whose parent exits first (Spark's JVM after its Python
    driver, the Python workers after their JVM, the Postgres server
    after ``pg_ctl``) becomes its child and ``stop_children`` can wait
    for it instead of leaving it running."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap() -> None:
    """Collect every child that has exited, without blocking."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _children() -> list[int]:
    me = os.getpid()
    kids = []
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                # the command name, in parentheses, may hold spaces
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            kids.append(int(entry.name))
    return kids


def stop_children() -> None:
    """Stop every process this run started and wait until each has
    ended.  The Spark JVM this process launched exits when its stdin
    closes; whatever is left after ``STOP_GRACE_S`` gets SIGTERM, then
    after another ``STOP_GRACE_S`` SIGKILL, until no child is left.  Needs
    ``adopt_orphans`` to have run first, so grandchildren are children
    by the time their parents are gone."""
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark.SparkContext._gateway if pyspark else None
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    sig = None
    deadline = time.monotonic() + STOP_GRACE_S
    while True:
        reap()
        kids = _children()
        if not kids:
            return
        if time.monotonic() >= deadline:
            sig = signal.SIGTERM if sig is None else signal.SIGKILL
            deadline = time.monotonic() + STOP_GRACE_S
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def submit_args(run: RunDir, event_log: bool) -> str:
    """``PYSPARK_SUBMIT_ARGS`` for the run's Spark JVMs.

    Event logging is switched on here, outside the program's session
    factory: one uncompressed, non-rolling file per application (Spark 4
    defaults to zstd, and no Python zstd module is available to read it
    back).  The JVM's temp files stay in the run dir."""
    java_opts = f"-Djava.io.tmpdir={run / 'tmp'} -XX:-UsePerfData"
    args = [f'--driver-java-options "{java_opts}"']
    if event_log:
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.rolling.enabled=false",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{run / 'eventlog'}",
        ]
    return " ".join(args + ["pyspark-shell"])


def pin_env(run: RunDir, cpus: int, driver_mem: str, event_log: bool) -> dict:
    """Set the environment every Spark process of the run inherits (the
    benchmark's own session and the relay subprocess) and return the
    pinned values for the run record."""
    pythonpath = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem,
        "PYTHONPATH": pythonpath,
        "SPARK_LOCAL_DIRS": str(run / "local"),
        "SPARK_GRAFT_WAREHOUSE": str(run / "warehouse"),
        "TMPDIR": str(run / "tmp"),
        "PYSPARK_SUBMIT_ARGS": submit_args(run, event_log),
    }
    os.environ.update(pinned)
    return pinned


def driver_mem_for_host(want_gb: int) -> str:
    """``want_gb`` gigabytes, capped at a quarter of physical RAM."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(want_gb, phys // (4 << 30)))}g"


class Tracer:
    """In-memory spans (id, parent, name, start, end, attributes).

    Disabled tracers still time: ``span`` always returns the measured
    duration through the context object, so untraced runs take their
    end-to-end numbers from the same code path without keeping spans."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._last_id = 0

    class _Span:
        def __init__(self, tracer: "Tracer", name: str, attrs: dict):
            self.tracer, self.name, self.attrs = tracer, name, attrs
            self.seconds = 0.0

        def __enter__(self):
            t = self.tracer
            self.id = self.parent = 0
            if t.enabled:
                t._last_id += 1
                self.id = t._last_id
                self.parent = t._stack[-1] if t._stack else 0
                t._stack.append(self.id)
            self.t0 = time.perf_counter()
            return self

        def __exit__(self, *exc):
            self.seconds = time.perf_counter() - self.t0
            t = self.tracer
            if t.enabled:
                t._stack.pop()
                t.spans.append(
                    {
                        "id": self.id,
                        "parent": self.parent,
                        "name": self.name,
                        "start": self.t0,
                        "end": self.t0 + self.seconds,
                        "error": exc[0].__name__ if exc[0] else None,
                        **self.attrs,
                    }
                )
            return False

    def span(self, name: str, **attrs) -> "Tracer._Span":
        return Tracer._Span(self, name, attrs)

    def write(self, path: Path) -> None:
        if not self.enabled:
            return
        path.parent.mkdir(parents=True, exist_ok=True)
        # span ids are assigned on entry, appended on exit: sort by id
        path.write_text(json.dumps(sorted(self.spans, key=lambda s: s["id"]), indent=0))


def _tree_rss_kb(root_pid: int) -> dict[str, int]:
    """VmRSS (kB) of ``root_pid`` and all its descendants, summed per
    process name."""
    children: dict[int, list[int]] = {}
    rss: dict[int, tuple[str, int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/status") as f:
                ppid = kb = 0
                comm = ""
                for line in f:
                    if line.startswith("Name:"):
                        comm = line.split()[1]
                    elif line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        kb = int(line.split()[1])
        except (OSError, ValueError):
            continue
        pid = int(entry.name)
        rss[pid] = (comm, kb)
        children.setdefault(ppid, []).append(pid)
    by_name: dict[str, int] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        comm, kb = rss.get(pid, ("", 0))
        by_name[comm] = by_name.get(comm, 0) + kb
        todo.extend(children.get(pid, ()))
    return by_name


class RssSampler:
    """Background sampler of a process tree's summed RSS.  Workloads stop
    it before their correctness checks, which are the benchmark's own
    work."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self.peak_kb = 0
        self.peak_by_name: dict[str, int] = {}  # the tree's make-up at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            by_name = _tree_rss_kb(self.root_pid)
            total = sum(by_name.values())
            if total > self.peak_kb:
                self.peak_kb, self.peak_by_name = total, by_name
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling and return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


def housekeeping(spark) -> None:
    """Between-op cleanup outside every timer: unpersist blocks left by
    the previous op, then collect Python and JVM garbage so the
    ContextCleaner backlog does not land in the next op's window."""
    sc = spark.sparkContext
    it = sc._jsc.getPersistentRDDs().entrySet().iterator()
    ids = []
    while it.hasNext():
        ids.append(it.next().getKey())
    for rid in ids:
        sc._jsc.sc().unpersistRDD(rid, True)
    gc.collect()
    sc._jvm.System.gc()


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

#: SQL-metric display names of the Python-worker metrics (PythonSQLMetrics),
#: milliseconds and bytes.  "time to initialize Python workers" is left
#: out: per task it can exceed the task's own run time, so it is not a
#: share of the op.
_PY_RUN = "time to run Python workers"
_PY_BOOT = "time to start Python workers"
_PY_DATA = ("data sent to Python workers", "data returned from Python workers")


def read_event_log(log_dir: Path) -> list[dict]:
    """Events of the single application logged under ``log_dir``.  A
    log still marked in-progress (the relay is stopped by signal) may
    end in a partial line, which is skipped."""
    files = sorted(p for p in log_dir.iterdir() if p.is_file())
    if not files:
        return []
    events = []
    with open(files[0]) as f:
        for line in f:
            try:
                events.append(json.loads(line))
            except json.JSONDecodeError:
                break
    return events


def op_metrics(events: list[dict], op_of_job) -> dict[str, dict]:
    """Aggregate task metrics per op.  ``op_of_job(properties)`` maps a
    JobStart's properties to an op key (or None to ignore the job)."""
    stage_op: dict[int, str] = {}
    ops: dict[str, dict] = {}

    def acc(op: str) -> dict:
        return ops.setdefault(
            op,
            dict.fromkeys(
                (
                    "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                    "sched_delay_s", "shuffle_read_mb", "shuffle_write_mb",
                    "spill_mb", "py_run_s", "py_boot_s", "py_data_mb",
                ),
                0.0,
            ),
        )

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            op = op_of_job(ev.get("Properties") or {})
            if op is None:
                continue
            acc(op)["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_op[sid] = op
        elif kind == "SparkListenerStageCompleted":
            op = stage_op.get(ev["Stage Info"]["Stage ID"])
            if op is not None:
                acc(op)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev.get("Stage ID"))
            if op is None:
                continue
            a = acc(op)
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            a["tasks"] += 1
            run_ms = m.get("Executor Run Time", 0)
            a["run_s"] += run_ms / 1e3
            a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            a["sched_delay_s"] += max(
                0,
                wall_ms
                - run_ms
                - m.get("Executor Deserialize Time", 0)
                - m.get("Result Serialization Time", 0)
                - info.get("Getting Result Time", 0),
            ) / 1e3
            sr = m.get("Shuffle Read Metrics", {})
            a["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 1e6
            a["shuffle_write_mb"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
            )
            a["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 1e6
            for u in info.get("Accumulables", ()):
                name, upd = u.get("Name"), u.get("Update")
                if upd is None or name is None:
                    continue
                try:
                    val = float(upd)
                except (TypeError, ValueError):
                    continue
                # SQL timing metrics are milliseconds, size metrics bytes
                if name == _PY_RUN:
                    a["py_run_s"] += val / 1e3
                elif name == _PY_BOOT:
                    a["py_boot_s"] += val / 1e3
                elif name in _PY_DATA:
                    a["py_data_mb"] += val / 1e6
    return ops


def spark_layer(ops: dict[str, dict], op_wall_s: float, n_ops: int, cores: int) -> dict:
    """Per-op means of the event-log aggregates (``n_ops`` ops whose
    timed spans sum to ``op_wall_s``), plus ``busy_frac``."""
    tot = {k: sum(o[k] for o in ops.values()) for k in next(iter(ops.values()), {})}
    n = max(1, n_ops)

    def per_op(k: str) -> float:
        return tot.get(k, 0.0) / n

    return {
        "spark.jobs_per_op": per_op("jobs"),
        "spark.stages_per_op": per_op("stages"),
        "spark.tasks_per_op": per_op("tasks"),
        "spark.scheduler_delay_s": per_op("sched_delay_s"),
        "spark.executor_run_s": per_op("run_s"),
        "spark.executor_cpu_s": per_op("cpu_s"),
        "spark.busy_frac": tot.get("run_s", 0.0) / max(1e-9, op_wall_s * cores),
        "spark.shuffle_write_mb": per_op("shuffle_write_mb"),
        "spark.shuffle_read_mb": per_op("shuffle_read_mb"),
        "spark.spill_mb": per_op("spill_mb"),
        "spark.gc_s": per_op("gc_s"),
        "python.run_s": per_op("py_run_s"),
        "python.boot_s": per_op("py_boot_s"),
        "python.data_mb": per_op("py_data_mb"),
    }


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
