"""Shared machinery of the benchmark: the engine session, timed
operations, spans, the JVM status-store profile and the payload stamps.

The benchmark drives the engine only through its public functions. It
keeps the program's session conf and sets only the core count and a
driver memory sized to the machine, plus paths (spark.local.dir, temp
dirs) so that every file a run writes stays inside the checkout.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_memory() -> str:
    """A quarter of physical memory, capped at the engine's 48g default:
    the machine is shared, and local mode runs executors inside the driver."""
    try:
        with open("/proc/meminfo", encoding="utf-8") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
        return f"{min(48 * 1024, kb // 4096)}m"
    except (OSError, StopIteration, ValueError):
        return "4g"


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def gmean(xs: list[float]) -> float:
    """Geometric mean: each op weighs the same whatever its length, and one
    slow op moves it by its share instead of changing which op is the
    median of a small, mixed sample."""
    return float(statistics.geometric_mean(xs)) if xs else 0.0


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return {"value": max(xs) if xs else 0.0, "percentile": None, "samples": n}
    p = int(100 * (n - 10) / n)
    s = sorted(xs)
    return {"value": s[min(n - 1, int(p / 100 * n))], "percentile": p, "samples": n}


class Tracer:
    """Spans kept in memory and written out when the run ends. Each span
    has an id, name, start, end (seconds from the run start), its parent
    span and the op id it belongs to. Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.t0 = time.perf_counter()
        self.cost_s = 0.0  # time spent in the tracer's own bookkeeping
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
                   "op": op, "start": time.perf_counter() - self.t0, "end": None}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def current(self) -> int | None:
        """The calling thread's innermost open span."""
        stack = self._local.__dict__.get("stack")
        return stack[-1] if stack else None

    def run_as_child(self, parent: int | None, fn) -> None:
        """Run ``fn`` on this (worker) thread with ``parent`` as its span
        parent, so spans opened by worker threads keep their cause."""
        self._local.__dict__["stack"] = [] if parent is None else [parent]
        fn()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


_STAGE_FIELDS = {
    "executor_run_s": lambda sd: sd.executorRunTime() / 1e3,
    "executor_cpu_s": lambda sd: sd.executorCpuTime() / 1e9,
    "shuffle_read_bytes": lambda sd: sd.shuffleReadBytes(),
    "shuffle_write_bytes": lambda sd: sd.shuffleWriteBytes(),
    "spill_bytes": lambda sd: sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
    "scan_bytes": lambda sd: sd.inputBytes(),
    "scan_rows": lambda sd: sd.inputRecords(),
}


class Engine:
    """One engine session plus the bookkeeping of a run."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.tracer = Tracer(trace)
        self.ops: list[dict] = []
        self.spark = None
        self._op_lock = threading.Lock()
        for d in ("spark-local", "tmp"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        tmp = os.path.join(work, "tmp")
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
            "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # -XX:-UsePerfData: the JVM's perf counters always go to /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        })

    # ---- session ----------------------------------------------------------
    def start(self) -> float:
        from data_iceberg_sandbox_spark.session import get_spark_session

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark_session(app_name="perfbench")
        self.sc = self.spark.sparkContext
        return time.perf_counter() - t0

    def conf(self) -> dict:
        c = self.spark.conf
        return {
            "master": self.sc.master,
            "default_parallelism": self.sc.defaultParallelism,
            "shuffle_partitions": c.get("spark.sql.shuffle.partitions"),
            "aqe": c.get("spark.sql.adaptive.enabled"),
            "driver_memory": self.sc.getConf().get("spark.driver.memory"),
            "local_dir": self.sc.getConf().get("spark.local.dir"),
        }

    def jvm_pid(self) -> int | None:
        proc = getattr(self.sc._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        pid = self.jvm_pid()
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
                kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
            return kb / 1024.0
        except (OSError, StopIteration, ValueError, TypeError):
            return 0.0

    def action_floor_s(self, n: int = 10) -> float:
        xs = []
        for _ in range(n):
            t0 = time.perf_counter()
            self.spark.range(1).write.format("noop").mode("overwrite").save()
            xs.append(time.perf_counter() - t0)
        return median(xs)

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            self.spark.stop()
        finally:
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            self.spark = None

    # ---- persistent RDDs (query-registered caches) ------------------------
    def persistent_ids(self) -> set[int]:
        return {int(i) for i in self.sc._jsc.getPersistentRDDs().keySet().toArray()}

    def drop_new_caches(self, before: set[int]) -> int:
        """Drop what an op cached, untimed, and return how many cached
        relations it materialized. Dataset caches leave through the
        CacheManager, so a rebuilt plan cannot match a stale entry.
        Locally-checkpointed RDDs are kept: a live plan may still read
        them."""
        jmap = self.sc._jsc.getPersistentRDDs()
        new = [i for i in {int(i) for i in jmap.keySet().toArray()} - before
               if not jmap.get(i).rdd().isLocallyCheckpointed()]
        if new:
            self.spark.catalog.clearCache()
            jmap = self.sc._jsc.getPersistentRDDs()
            for i in new:
                rdd = jmap.get(i)
                if rdd is not None:
                    rdd.unpersist(True)
        return len(new)

    # ---- timed operations ---------------------------------------------------
    def op(self, name: str, kind: str, fn, *, track_caches: bool = False, **extra) -> dict:
        """Run ``fn(rec)`` as one timed op and record it. ``fn`` may set
        ``rec['build_s']`` / ``rec['exec_s']``. A failure is recorded, not raised."""
        with self._op_lock:
            op_id = len(self.ops)
            rec = {"op": op_id, "name": name, "kind": kind, "ok": True,
                   "error": None, **extra}
            self.ops.append(rec)
        group = f"perfbench-op-{op_id}"
        self.sc.setJobGroup(group, name)
        before = self.persistent_ids() if track_caches else None
        t_wall0 = time.time()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"{kind}.{name}", op=op_id):
                fn(rec)
        except Exception as e:  # noqa: BLE001 -- a failed op is a result
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {e}"[:400]
        rec["wall_s"] = time.perf_counter() - t0
        rec["start_s"] = t0 - self.tracer.t0
        t_wall1 = time.time()
        if track_caches:
            rec["cached_relations"] = self.drop_new_caches(before)
        if self.tracer.enabled:
            c0 = time.perf_counter()
            rec["profile"] = self.profile(group, t_wall0 * 1e3, t_wall1 * 1e3)
            self.tracer.cost_s += time.perf_counter() - c0
        return rec

    def profile(self, group: str, start_ms: float, end_ms: float) -> dict:
        """Per-op Spark execution from the JVM status store: jobs, stages
        (and how many were skipped), tasks, executor time, shuffle, spill,
        scan, and the driver residual (op wall time with no stage running)."""
        store = self.sc._jsc.sc().statusStore()
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out = {"jobs": len(jobs), "stages": 0, "stages_skipped": 0, "tasks": 0,
               **{k: 0 for k in _STAGE_FIELDS}}
        spans = []
        deadline = time.perf_counter() + 5
        for jid in jobs:
            jd = store.job(jid)
            # the listener bus updates the store asynchronously
            while jd.status().toString() == "RUNNING" and time.perf_counter() < deadline:
                time.sleep(0.01)
                jd = store.job(jid)
            sids = jd.stageIds()
            for k in range(sids.size()):
                sd = store.lastStageAttempt(sids.apply(k))
                out["stages"] += 1
                if sd.status().toString() == "SKIPPED":
                    out["stages_skipped"] += 1
                    continue
                out["tasks"] += sd.numTasks()
                for key, get in _STAGE_FIELDS.items():
                    out[key] += get(sd)
                sub, comp = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and comp.isDefined():
                    spans.append((max(start_ms, sub.get().getTime()),
                                  min(end_ms, comp.get().getTime())))
        busy, cur_end = 0.0, None
        for a, b in sorted(spans):
            if cur_end is None or a > cur_end:
                busy += max(0.0, b - a)
                cur_end = b
            elif b > cur_end:
                busy += b - cur_end
                cur_end = b
        out["driver_residual_s"] = max(0.0, (end_ms - start_ms - busy) / 1e3)
        return out


def spark_layer(ops: list[dict], passes: int) -> dict:
    """``spark.*`` and ``sources.scan_*`` totals per pass over traced ops."""
    keys = ["jobs", "stages", "stages_skipped", "tasks", "driver_residual_s",
            *_STAGE_FIELDS]
    tot = {k: sum(o.get("profile", {}).get(k, 0) for o in ops) for k in keys}
    per = {k: v / max(1, passes) for k, v in tot.items()}
    out = {f"spark.{k}": per[k] for k in keys if not k.startswith("scan_")}
    out["sources.scan_bytes"] = per["scan_bytes"]
    out["sources.scan_rows"] = per["scan_rows"]
    return out


def host_probe(n_workers: int) -> dict:
    """Host-state stamp, the method of bench.py's probe: parallel efficiency
    of ``n_workers`` concurrent 0.25 s busy-spins (about 1.0 on a quiet
    machine) and sequential bandwidth over a 256 MB buffer."""
    spin = 0.25
    code = f"import time\nt=time.perf_counter()\nwhile time.perf_counter()-t<{spin}: pass\n"
    t0 = time.perf_counter()
    procs = [subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.DEVNULL)
             for _ in range(n_workers)]
    for p in procs:
        p.wait(timeout=60)
    wall = time.perf_counter() - t0
    t1 = time.perf_counter()
    subprocess.run([sys.executable, "-c", "pass"], check=False, timeout=60,
                   stdout=subprocess.DEVNULL)
    startup = time.perf_counter() - t1
    import numpy as np

    n = 32 * 1024 * 1024
    t2 = time.perf_counter()
    arr = np.ones(n)
    arr.sum()
    dt = time.perf_counter() - t2
    del arr
    return {
        "parallel_efficiency": round(min(spin / max(wall - startup, 1e-9), 1.0), 3),
        "membw_gbps": round(n * 8 * 2 / dt / 1e9, 2),
    }


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat; (0, 0) where
    it cannot be read. Steal is time the hypervisor gave this machine's
    virtual CPUs to someone else."""
    try:
        with open("/proc/stat", encoding="utf-8") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return (f[7] if len(f) > 7 else 0), sum(f)
    except (OSError, ValueError):
        return 0, 0


def git_commit() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10, check=False)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
