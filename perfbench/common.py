"""Shared pieces of the benchmark: machine-fitted session settings, the
op recorder, tail percentiles and on-disk byte accounting."""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def host_memory_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def fit_session_env(work: str) -> dict:
    """Environment and conf for a session sized to the host it runs on:
    one local slot per available core, a driver heap capped at a quarter
    of host RAM (at most 2 GB), and every scratch directory under
    ``work``. Must run before the JVM starts. Python workers get the repo
    root on PYTHONPATH so they can import the engine's UDF modules.

    The heap cap goes in as ``spark.driver.memory`` in ``extra_conf``,
    which ``get_spark`` applies over the engine defaults; the engine's
    own default is read from the environment when it is imported, too
    early for this function to change. The heap starts small and grows
    on demand, so the JVM's resident size follows what the run uses.
    The serial collector sizes the heap from the live data left after
    each collection; G1, the default, grows it from pause timings, which
    made the JVM's peak RSS swing by a quarter between runs of one
    schedule. ``-UsePerfData`` keeps the JVM from writing its counters
    file to the system temp directory. ``MALLOC_ARENA_MAX`` bounds the
    JVM's native malloc arenas, a source of run-to-run RSS swings."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = min(2048, host_memory_mb() // 4)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pythonpath = os.environ.get("PYTHONPATH")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", sys.executable),
        "MALLOC_ARENA_MAX": "2",
        "PYTHONPATH": ROOT + (os.pathsep + pythonpath if pythonpath else ""),
    }
    os.environ.update(env)
    return {
        "cpus": cpus,
        "master": f"local[{cpus}]",
        "shuffle_partitions": cpus,
        "host_mem_mb": host_memory_mb(),
        "extra_conf": {
            "spark.driver.memory": f"{heap_mb}m",
            "spark.driver.extraJavaOptions":
                f"-XX:+UseSerialGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    }


def tail(samples: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples above it,
    as (value, percentile). With ten samples or fewer no percentile
    qualifies and the maximum is reported as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        v = xs[max(0, math.ceil(p / 100 * n) - 1)]
        if sum(1 for x in xs if x > v) >= 10:
            return v, p
    return xs[-1], 100


class Recorder:
    """Latency samples per op class, attempt and failure counts, and the
    measured-phase wall time minus the time spent checking outputs."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.samples: dict = {"read": [], "write": []}
        self.log: list = []  # (kind, name, seconds) per measured op
        self.rows_written = 0
        self.user_bytes = 0
        self.attempted = 0
        self.failures: list[str] = []
        self.excluded = 0.0
        self.t_start = self.t_end = 0.0

    def op(self, kind: str, name: str, fn, measured: bool = True):
        """Run one request and return its reply, or None if it raised.
        Only measured ops add a latency sample and an op span."""
        self.attempted += 1
        with self.tracer.op(kind, name) if measured else contextlib.nullcontext():
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as e:  # a failed request is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                first = (str(e).strip().splitlines() or [""])[0]
                self.fail(name, f"{type(e).__name__}: {first[:200]}")
                return None
            dt = time.perf_counter() - t0
        if measured:
            self.samples[kind].append(dt)
            self.log.append((kind, name, dt))
        return out

    @contextlib.contextmanager
    def paused(self):
        """Time spent checking outputs or measuring disk, excluded from
        the measured wall."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.excluded += time.perf_counter() - t0

    def fail(self, name: str, why: str) -> None:
        self.failures.append(f"{name}: {why}")

    def wall(self) -> float:
        return self.t_end - self.t_start - self.excluded

    def summary(self) -> dict:
        """Latency and throughput figures; a figure with no successful
        op behind it is None, so a run whose every write failed still
        reports, and names, its failures."""
        out = {}
        for kind in ("read", "write"):
            xs = self.samples[kind]
            v, p = tail(xs) if xs else (None, None)
            out[f"{kind}_p50_ms"] = statistics.median(xs) * 1000 if xs else None
            out[f"{kind}_tail_ms"] = v * 1000 if xs else None
            out[f"{kind}_tail_percentile"] = p
            out[f"{kind}_samples"] = len(xs)
        wall = self.wall()
        out["wall_s"] = wall
        out["ops_per_s"] = sum(len(x) for x in self.samples.values()) / wall
        write_s = sum(self.samples["write"])
        out["ingest_rows_per_s"] = self.rows_written / write_s if write_s else None
        return out


class DirMeter:
    """Bytes written under a directory, measured by diffing file sizes
    between calls (a rewritten file counts its full new size)."""

    def __init__(self, root: str):
        self.root = root
        self.seen = self._scan()
        self.written = 0

    def _scan(self) -> dict:
        out = {}
        for d, _dirs, files in os.walk(self.root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    def update(self) -> int:
        """Add the bytes of files created or changed since the last call;
        returns the bytes added by this call."""
        now = self._scan()
        added = sum(s for p, (s, m) in now.items() if self.seen.get(p) != (s, m))
        self.seen = now
        self.written += added
        return added

    def total_bytes(self) -> int:
        return sum(s for s, _m in self._scan().values())

    def files(self) -> int:
        return len(self._scan())


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except FileNotFoundError:
        pass
    return 0.0
