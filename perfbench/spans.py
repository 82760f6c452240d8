"""Span recording for the traced run.

Spans are kept in memory and written out when the run ends. Every
request, job or epoch is one op span; its children are the spans the
benchmark opens around its own calls (golden builds, actions, store and
streaming calls) and, in the traced run only, spans around every public
function of the engine's ``query``, ``operators``, ``functions``,
``sources`` and ``streaming`` modules. Spark jobs and stages are added
afterwards from the status store's timestamps. A span's self time is its
duration minus the part of it that its children cover; an op span's self
time is the op's unattributed wall time.
"""

from __future__ import annotations

import collections
import contextlib
import functools
import inspect
import re
import sys
import time

WRAPPED_LAYERS = ("query", "operators", "functions", "sources", "streaming")
#: spans taken from the status store, never parents of other such spans
_ENGINE_SPANS = ("spark.job", "spark.stage", "spark.plan")
FUNCTION_FAMILIES = {
    "dedup": "dedup",
    "sketches": "dedup",
    "retrieval": "retrieval",
    "vector": "vector",
    "filtered_ann": "vector",
    "text": "text",
    "sampling": "sampling",
}


class NullTracer:
    """Untraced run: every hook is a no-op."""

    enabled = False

    def span(self, name, **attrs):
        return contextlib.nullcontext()

    def op(self, kind, name):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self.counters: collections.Counter = collections.Counter()
        self.cache_peak = {"storage_bytes": 0, "cached_rdds": 0}
        self._stack: list[int] = []
        self._next = 0
        self._op = None

    @contextlib.contextmanager
    def span(self, name, **attrs):
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            self.spans.append(
                {"id": sid, "parent": parent, "op": self._op, "name": name,
                 "t0": t0, "t1": t1, **attrs}
            )

    @contextlib.contextmanager
    def op(self, kind, name):
        self._op = self._next
        try:
            with self.span(f"op.{kind}", op_name=name):
                yield
        finally:
            self._op = None

    def count(self, name, n=1):
        self.counters[name] += n

    def sample_cache(self, spark):
        """Peak bytes and count of cached RDD blocks, sampled between ops."""
        ss = spark.sparkContext._jsc.sc().statusStore()
        rdds = list(_iter(ss.rddList(True)))
        used = sum(r.memoryUsed() + r.diskUsed() for r in rdds)
        self.cache_peak["storage_bytes"] = max(self.cache_peak["storage_bytes"], used)
        self.cache_peak["cached_rdds"] = max(self.cache_peak["cached_rdds"], len(rdds))

    # -- engine instrumentation -------------------------------------------

    def instrument(self) -> int:
        """Wrap every public function of the engine's layer modules,
        rebinding each name that refers to it in any engine
        module (so ``from x import f`` call sites are covered), plus the
        memo entry points, which also count hits and misses. Returns the
        number of functions wrapped."""
        import hydraide_spark.streaming.dedup_stream  # noqa: F401
        import hydraide_spark.streaming.search_stream  # noqa: F401
        from hydraide_spark import golden

        golden.queries()  # imports every golden module and the layers they use
        mods = [m for n, m in list(sys.modules.items())
                if m is not None and n.startswith("hydraide_spark.")]
        targets = {}
        for m in mods:
            parts = m.__name__.split(".")
            if parts[1] not in WRAPPED_LAYERS:
                continue
            for name, obj in vars(m).items():
                if (inspect.isfunction(obj) and obj.__module__ == m.__name__
                        and not name.startswith("_")):
                    targets[id(obj)] = self._spanned(obj, f"{parts[1]}.{parts[-1]}.{name}")
        targets.update(self._memo_wrappers())
        for m in mods:
            for name, obj in list(vars(m).items()):
                w = targets.get(id(obj))
                if w is not None:
                    setattr(m, name, w)
        return len(targets)

    def _spanned(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*a, **k):
            with self.span(name):
                return fn(*a, **k)
        return wrapper

    def _memo_wrappers(self) -> dict:
        from hydraide_spark.functions import _cache
        from hydraide_spark.golden import _util

        def app():
            from pyspark import SparkContext
            sc = SparkContext._active_spark_context
            return sc.applicationId if sc is not None else None

        rules = [
            (_util, "t", "golden.table_meta", "sources.load_table",
             lambda spark, sf_dir, name: (sf_dir, name) in _util._TABLE_META_MEMO),
            (_util, "frame_memo", "golden.frame_memo", None,
             lambda spark, key, build: (app(),) + tuple(key) in _util._FRAME_MEMO),
            (_util, "n_rows_memo", "golden.stat_memo", None,
             lambda spark, sf_dir, name: ("n_rows", sf_dir, name) in _util._STAT_MEMO),
            (_util, "stat_memo", "golden.stat_memo", None,
             lambda key, compute: key in _util._STAT_MEMO),
            (_cache, "column_memo", "functions.column_memo", None,
             lambda key, build: (app(),) + tuple(key) in _cache._COLUMN_MEMO),
        ]
        out = {}
        for mod, fname, counter, span_name, is_hit in rules:
            fn = getattr(mod, fname)

            def wrapper(*a, _fn=fn, _c=counter, _s=span_name, _h=is_hit, **k):
                self.count(_c + (".hits" if _h(*a, **k) else ".misses"))
                if _s is None:
                    return _fn(*a, **k)
                with self.span(_s):
                    return _fn(*a, **k)

            out[id(fn)] = functools.wraps(fn)(wrapper)
        return out

    # -- status store ------------------------------------------------------

    def harvest_spark(self, spark, t_start: float, t_end: float) -> dict:
        """Read jobs, stages and SQL executions submitted during the
        measured phase from the status store, add them as spans under
        the innermost span that was open when each was submitted, and
        return the engine totals."""
        sc = spark.sparkContext
        ss = sc._jsc.sc().statusStore()
        empty = sc._jvm.java.util.ArrayList()
        ms = lambda opt: opt.get().getTime() / 1000 if opt.isDefined() else None  # noqa: E731
        tot = collections.Counter()
        job_iv = []
        for j in _iter(ss.jobsList(empty)):
            t0, t1 = ms(j.submissionTime()), ms(j.completionTime())
            if t0 is None or t1 is None or not (t_start <= t0 <= t_end):
                continue
            tot["jobs"] += 1
            job_iv.append((t0, t1))
            jspan = self._attach("spark.job", t0, t1, job_id=j.jobId())
            for sid in _iter(j.stageIds()):
                try:
                    s = ss.lastStageAttempt(sid)
                except Exception:  # stage data evicted or never submitted
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += s.numCompleteTasks()
                tot["failed_tasks"] += s.numFailedTasks()
                tot["executor_run_ms"] += s.executorRunTime()
                tot["executor_cpu_ns"] += s.executorCpuTime()
                tot["jvm_gc_ms"] += s.jvmGcTime()
                tot["shuffle_read_bytes"] += s.shuffleReadBytes()
                tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
                tot["spill_bytes"] += s.diskBytesSpilled()
                tot["input_bytes"] += s.inputBytes()
                tot["output_bytes"] += s.outputBytes()
                s0, s1 = ms(s.submissionTime()), ms(s.completionTime())
                if jspan is not None and s0 is not None and s1 is not None:
                    self.spans.append({"id": self._new_id(), "parent": jspan["id"],
                                       "op": jspan["op"], "name": "spark.stage",
                                       "t0": s0, "t1": s1, "stage_id": sid})
        sql = spark._jsparkSession.sharedState().statusStore()
        exec_s = 0.0
        for e in _iter(sql.executionsList()):
            t0 = e.submissionTime() / 1000
            if not (t_start <= t0 <= t_end) or not e.completionTime().isDefined():
                continue
            exec_s += ms(e.completionTime()) - t0
            sent, received = _python_bytes(sql, e.executionId())
            tot["python_bytes_sent"] += sent
            tot["python_bytes_received"] += received
        self.derive_plan_spans()
        cores = max(1, int(sc.defaultParallelism))
        busy = _union(job_iv)
        return {
            "spark.plan_s": sum(s["t1"] - s["t0"] for s in self.spans if s["name"] == "spark.plan"),
            "spark.exec_s": exec_s,
            "spark.jobs": tot["jobs"],
            "spark.stages": tot["stages"],
            "spark.tasks": tot["tasks"],
            "spark.failed_tasks": tot["failed_tasks"],
            "spark.executor_run_s": tot["executor_run_ms"] / 1000,
            "spark.executor_cpu_s": tot["executor_cpu_ns"] / 1e9,
            "spark.jvm_gc_s": tot["jvm_gc_ms"] / 1000,
            "spark.slot_idle_frac": 1 - tot["executor_run_ms"] / 1000 / (busy * cores) if busy else 0.0,
            "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
            "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
            "spark.spill_bytes": tot["spill_bytes"],
            "spark.input_bytes": tot["input_bytes"],
            "spark.output_bytes": tot["output_bytes"],
            "python.bytes_sent": tot["python_bytes_sent"],
            "python.bytes_received": tot["python_bytes_received"],
        }

    def derive_plan_spans(self) -> None:
        """For every benchmark action span, a ``spark.plan`` child from
        the action call to the first job it submitted: py4j, optimizer
        and physical planning. (Spark posts the SQL execution start
        before it optimizes, so that event would hide the planning.)"""
        first_job: dict = {}
        for s in self.spans:
            if s["name"] == "spark.job":
                first_job[s["parent"]] = min(s["t0"], first_job.get(s["parent"], s["t0"]))
        for s in [s for s in self.spans if s["name"] == "spark.action" and s["id"] in first_job]:
            self.add_child(s, "spark.plan", s["t0"], first_job[s["id"]])

    def add_child(self, parent: dict, name: str, t0: float, t1: float) -> None:
        self.spans.append({"id": self._new_id(), "parent": parent["id"], "op": parent["op"],
                           "name": name, "t0": t0, "t1": t1})

    def _new_id(self) -> int:
        self._next += 1
        return self._next - 1

    def _attach(self, name, t0, t1, **attrs):
        """Add a span under the innermost benchmark or module span open
        at t0 (status-store times have millisecond resolution)."""
        best = None
        for s in self.spans:
            if (s["op"] is not None and s["name"] not in _ENGINE_SPANS
                    and s["t0"] - 0.001 <= t0 <= s["t1"]):
                if best is None or s["t0"] >= best["t0"] and s["t1"] <= best["t1"]:
                    best = s
        if best is None:
            return None
        span = {"id": self._new_id(), "parent": best["id"], "op": best["op"], "name": name,
                "t0": t0, "t1": t1, **attrs}
        self.spans.append(span)
        return span

    # -- aggregation ---------------------------------------------------------

    def self_times(self) -> dict:
        kids = collections.defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        out = {}
        for s in self.spans:
            iv = [(max(c["t0"], s["t0"]), min(c["t1"], s["t1"])) for c in kids[s["id"]]]
            out[s["id"]] = (s["t1"] - s["t0"]) - _union([x for x in iv if x[1] > x[0]])
        return out

    def layer_table(self) -> dict:
        """Per span name: calls, inclusive seconds and self seconds."""
        st = self.self_times()
        table = collections.defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for s in self.spans:
            row = table[s["name"]]
            row["calls"] += 1
            row["total_s"] += s["t1"] - s["t0"]
            row["self_s"] += st[s["id"]]
        return dict(table)

    def layer_summary(self) -> dict:
        """Self seconds and calls per layer (the span name's first part;
        ``store`` spans belong to ``sources``, op spans' self time is the
        unattributed remainder)."""
        out = collections.defaultdict(lambda: {"self_s": 0.0, "calls": 0})
        for name, row in self.layer_table().items():
            layer = name.split(".")[0]
            layer = {"store": "sources", "op": "unattributed"}.get(layer, layer)
            out[layer]["self_s"] += row["self_s"]
            out[layer]["calls"] += row["calls"]
        return dict(out)

    def layer_metrics(self) -> dict:
        """The per-layer metrics named in BENCHMARK.json that come from spans."""
        table = self.layer_table()

        def self_s(pattern):
            rx = re.compile(pattern)
            return sum(r["self_s"] for n, r in table.items() if rx.match(n))

        def calls(pattern):
            rx = re.compile(pattern)
            return sum(r["calls"] for n, r in table.items() if rx.match(n))

        m = {
            "golden.build_s": table.get("golden.build", {}).get("total_s", 0.0),
            "golden.calls": table.get("golden.build", {}).get("calls", 0),
            "query.translate_s": self_s(r"query\."),
            "query.translate.calls": calls(r"query\."),
            "operators.read_s": self_s(r"operators\.read\."),
            "operators.mutate_s": self_s(r"operators\.(mutate|claims)\."),
            "sources.load_table_s": self_s(r"sources\.(load_table|tables\.load_table)"),
            "sources.load_table.calls": calls(r"sources\.(load_table|tables\.load_table)"),
            "unattributed_s": self_s(r"op\."),
        }
        for fam in sorted(set(FUNCTION_FAMILIES.values())):
            mods = "|".join(k for k, v in FUNCTION_FAMILIES.items() if v == fam)
            m[f"functions.{fam}.call_s"] = self_s(rf"functions\.({mods})\.")
        for memo in ("golden.frame_memo", "golden.stat_memo", "golden.table_meta",
                     "functions.column_memo"):
            m[f"{memo}.hits"] = self.counters[f"{memo}.hits"]
            m[f"{memo}.misses"] = self.counters[f"{memo}.misses"]
        m["functions.cache.storage_bytes"] = self.cache_peak["storage_bytes"]
        m["functions.cache.cached_rdds"] = self.cache_peak["cached_rdds"]
        return m

    def jobs_in_ops(self, kind: str) -> int:
        ops = {s["id"] for s in self.spans if s["name"] == f"op.{kind}"}
        return sum(1 for s in self.spans if s["name"] == "spark.job" and s["op"] in ops)

    def unattributed_per_op(self) -> list[dict]:
        st = self.self_times()
        return [
            {"op": s["op_name"], "kind": s["name"][3:], "wall_s": s["t1"] - s["t0"],
             "unattributed_s": st[s["id"]]}
            for s in self.spans if s["name"].startswith("op.")
        ]


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _union(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


_SIZE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)")
_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _python_bytes(sql, execution_id) -> tuple[int, int]:
    """Bytes sent to and returned from Python workers in one SQL
    execution, from the Python-eval nodes' size metrics. The status
    store keeps these as formatted strings with one decimal of their
    unit (B, KiB, MiB, ...), which bounds the precision."""
    values = sql.executionMetrics(execution_id)
    sent = received = 0
    for node in _iter(sql.planGraph(execution_id).allNodes()):
        node_name = node.name()
        if not any(k in node_name for k in ("Python", "Arrow", "Pandas")):
            continue
        for metric in _iter(node.metrics()):
            name = metric.name()
            if "Python workers" not in name or not name.startswith("data "):
                continue
            v = values.get(metric.accumulatorId())
            if not v.isDefined():
                continue
            m = _SIZE.search(v.get())
            if m is None:
                continue
            n = int(float(m.group(1)) * _UNITS[m.group(2)])
            if name.startswith("data sent"):
                sent += n
            else:
                received += n
    return sent, received
