"""``serve_mix``: a serving session of keyed, filter and index reads
beside copy-on-write store writes, about 87% reads and 13% writes.

Each round is a fixed multiset of ops: every read variant three times and
the write list once. The seed permutes the reads, places the writes among
them, picks the keys and assigns the values; the per-type counts and the
order of the writes never change. A
pure-Python model of the store replays every write and is the oracle
for write statuses, keyed store reads and the final state; registry
reads are checked against their DuckDB oracles.
"""

from __future__ import annotations

import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from common import ROOT, DirMeter

sys.path.insert(0, os.path.join(ROOT, "tools"))
import check  # noqa: E402  (normalize/compare and the DuckDB views)

#: registry reads: the reference's read surface (keyed, ordered-stream,
#: count, filter, phrase, geo, vector and telemetry reads); ann_topk_int8
#: is frame-memoized, so the session exercises the memo layers
GOLDEN_READS = [
    "get_point_read", "stream_filtered_ordered", "count_matching",
    "filter_scalar_tree", "phrase_match", "geo_inside", "vector_filter",
    "ann_topk_int8", "telemetry_top_errors",
]
STORE_READS = ["store.get", "store.get_by_index"]
WRITES = ["set", "increment", "patch", "delete", "shift_matching"]
#: each read variant runs this often per round: 33 reads and 5 writes,
#: so the read tail is a percentile near p70 with ten samples above it
READS_PER_VARIANT = 3
#: compaction runs inside every COMPACT_EVERY-th write
COMPACT_EVERY = 2
#: nominal length of one round on a 4-core host; --seconds sets the
#: number of rounds from it, so the schedule never depends on speed
ROUND_SECONDS = 15

SIZES = {
    "full": {"sf": 0.01, "store_rows": 20_000, "batch": 100, "claim": 50, "get_keys": 20},
    "smoke": {"sf": 0.001, "store_rows": 2_000, "batch": 20, "claim": 10, "get_keys": 5},
}


def _initial_row(i: int) -> tuple:
    return (f"k{i:08d}", (i * 7919) % 1000, (i * 31) % 10, i % 100)


def _differing(got, want) -> int:
    """Keys on which a write's reply and the model's disagree."""
    if isinstance(want, set):
        return len(got ^ want)
    return sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))


class StoreModel:
    """The store's rows as key -> (val, prio, n), updated by the same
    requests the engine receives."""

    def __init__(self, n: int):
        self.rows = {r[0]: r[1:] for r in map(_initial_row, range(n))}

    def live(self) -> list[str]:
        return sorted(self.rows)

    def set(self, rows) -> dict:
        out = {}
        for key, val, prio, n in rows:
            old = self.rows.get(key)
            out[key] = "NEW" if old is None else (
                "NOTHING_CHANGED" if old == (val, prio, n) else "UPDATED")
            self.rows[key] = (val, prio, n)
        return out

    def increment(self, keys, delta, limit) -> dict:
        out = {}
        for k in keys:
            val, prio, n = self.rows[k]
            applied = val < limit
            if applied:
                self.rows[k] = (val + delta, prio, n)
            out[k] = (applied, val + delta if applied else val)
        return out

    def patch_inc(self, keys) -> dict:
        out = {}
        for k in keys:
            if k in self.rows:
                val, prio, n = self.rows[k]
                self.rows[k] = (val, prio, n + 1)
                out[k] = "PATCHED"
            else:
                out[k] = "KEY_NOT_FOUND"
        return out

    def delete(self, keys) -> set:
        gone = {k for k in keys if k in self.rows}
        for k in gone:
            del self.rows[k]
        return gone

    def shift(self, how_many: int, min_prio: int) -> set:
        claimed = [k for k in self.live() if self.rows[k][1] >= min_prio][:how_many]
        for k in claimed:
            del self.rows[k]
        return set(claimed)


class ServeMix:
    jobs_per_write_metric = "store.jobs_per_write"

    def __init__(self, ctx, size: str):
        self.ctx = ctx
        self.cfg = SIZES[size]
        self.rng = random.Random(ctx.seed)
        self.new_keys = 0
        self.writes_done = 0

    # -- setup ---------------------------------------------------------------

    def setup(self) -> None:
        from data import write_tables
        from hydraide_spark import golden
        from hydraide_spark.sources.store import TreasureStore
        from pyspark.sql import functions as F

        ctx, cfg = self.ctx, self.cfg
        self.sf_dir = os.path.join(ctx.work, "tables")
        with ctx.phase("tables"):
            write_tables(self.sf_dir, cfg["sf"])
        ctx.start_session()
        spark = ctx.spark
        self.queries = golden.queries()
        with ctx.phase("oracles"):
            duck = check.duck_connection(self.sf_dir)
            oracle_sql = golden.oracle_sql()
            self.oracles = {n: duck.sql(oracle_sql[n]).df() for n in GOLDEN_READS}
            duck.close()

        self.store_root = os.path.join(ctx.work, "store")
        self.store = TreasureStore(spark, self.store_root)
        n = cfg["store_rows"]
        with ctx.phase("store_init"):
            self.store.init(spark.range(n).select(
                F.format_string("k%08d", "id").alias("key"),
                ((F.col("id") * 7919) % 1000).alias("val"),
                ((F.col("id") * 31) % 10).alias("prio"),
                F.struct((F.col("id") % 100).alias("n")).alias("body"),
            ))
        self.model = StoreModel(n)
        # warm-up: every read variant once, checked. Writes get none: a
        # cold write costs about what a warm one does, while a cold read
        # costs several times a warm one (plan build and memo fills).
        with ctx.phase("warmup_reads"):
            for op in GOLDEN_READS + STORE_READS:
                self.run_op(op, measured=False)

    # -- schedule --------------------------------------------------------------

    def schedule(self, seconds: int) -> list[str]:
        """Per round: the reads in seeded order, with the writes at seeded
        positions among them but always in WRITES order, so every run
        pays the same first-of-kind and compaction costs on the same
        write kinds."""
        rounds = max(1, round(seconds / ROUND_SECONDS))
        ops = []
        for _ in range(rounds):
            reads = (GOLDEN_READS + STORE_READS) * READS_PER_VARIANT
            self.rng.shuffle(reads)
            n = len(reads) + len(WRITES)
            slots = set(self.rng.sample(range(n), len(WRITES)))
            w, r = iter(WRITES), iter(reads)
            ops += [next(w) if i in slots else next(r) for i in range(n)]
        return ops

    def run_op(self, op: str, measured: bool = True) -> None:
        if op in GOLDEN_READS:
            self._golden_read(op, measured)
        elif op in STORE_READS:
            self._store_read(op, measured)
        else:
            self._write(op, measured)

    def _golden_read(self, name: str, measured: bool) -> None:
        ctx = self.ctx
        tr = ctx.tracer

        def call():
            with tr.span("golden.build"):
                df = self.queries[name](ctx.spark, self.sf_dir)
            with tr.span("spark.action"):
                return df.toPandas()

        got = ctx.rec.op("read", name, call, measured)
        if got is not None:
            with ctx.rec.paused():
                problems = check.compare(name, got, self.oracles[name])
                if problems:
                    ctx.rec.fail(name, "; ".join(problems))

    def _store_read(self, name: str, measured: bool) -> None:
        from hydraide_spark.operators import read as R
        from hydraide_spark.query.index import Index, IndexOrder, IndexType
        from pyspark.sql import functions as F

        ctx, tr, rng = self.ctx, self.ctx.tracer, self.rng
        live = self.model.live()
        if name == "store.get":
            keys = rng.sample(live, self.cfg["get_keys"] - 2) + ["gone-a", "gone-b"]

            def frame(cur):
                return R.get(cur, keys)

            want = sorted((k,) + self.model.rows[k] for k in keys if k in self.model.rows)
        else:
            offset = rng.randrange(0, len(live) // 2)
            index = Index(index_type=IndexType.VALUE, order=IndexOrder.DESC,
                          value_column="val", offset=offset, limit=25)

            def frame(cur):
                return R.get_by_index(cur, index)

            ranked = sorted(live, key=lambda k: (-self.model.rows[k][0], k))
            want = [(k,) + self.model.rows[k] for k in ranked[offset:offset + 25]]

        def call():
            with tr.span("store.current"):
                cur = self.store.current()
            df = frame(cur).select("key", "val", "prio", F.col("body.n").alias("n"))
            with tr.span("spark.action"):
                return [tuple(r) for r in df.collect()]

        got = ctx.rec.op("read", name, call, measured)
        if got is not None:
            if name == "store.get":
                got = sorted(got)
            if got != want:
                ctx.rec.fail(name, f"{len(got)} rows differ from the model's {len(want)}")

    def _write(self, kind: str, measured: bool) -> None:
        from hydraide_spark.operators.mutate import PatchKind, PatchOp
        from hydraide_spark.query import Cmp, Op
        from hydraide_spark.query.index import Index, IndexOrder, IndexType
        from pyspark.sql import functions as F

        ctx, tr, rng, cfg, model = self.ctx, self.ctx.tracer, self.rng, self.cfg, self.model
        store, batch = self.store, cfg["batch"]
        live = model.live()
        self.writes_done += 1
        compact = measured and self.writes_done % COMPACT_EVERY == 0
        if kind == "set":
            n_new = batch // 5
            rows = [(k, rng.randrange(1000)) + model.rows[k][1:]
                    for k in rng.sample(live, batch - n_new)]
            for _ in range(n_new):
                self.new_keys += 1
                rows.append((f"n{self.new_keys:08d}", rng.randrange(1000),
                             rng.randrange(10), rng.randrange(100)))
            keys = [r[0] for r in rows]
            user_bytes = sum(len(r[0]) + 24 for r in rows)

            def mutate():
                df = ctx.spark.createDataFrame(
                    [(k, v, p, (n,)) for k, v, p, n in rows],
                    "key string, val long, prio long, body struct<n: long>")
                with tr.span("store.set"):
                    st = store.set(df)
                return {r[0]: r[1] for r in st.where(F.col("key").isin(keys)).collect()}

            want = model.set(rows)
        elif kind == "increment":
            keys = rng.sample(live, batch)
            delta = rng.randint(1, 9)
            user_bytes = sum(len(k) + 8 for k in keys)

            def mutate():
                with tr.span("store.increment"):
                    res = store.increment(keys, "val", delta, condition=Cmp("val", Op.LT, 900))
                return {r["key"]: (bool(r["applied"]), int(r["new_value"]))
                        for r in res.select("key", "applied", "new_value").collect()}

            want = model.increment(keys, delta, 900)
        elif kind == "patch":
            keys = rng.sample(live, batch - 2) + ["gone-a", "gone-b"]
            user_bytes = sum(len(k) + 8 for k in keys)

            def mutate():
                with tr.span("store.patch"):
                    res = store.patch(keys, [PatchOp(PatchKind.INC, "n", 1)])
                return {r[0]: r[1] for r in res.select("key", "patch_status").collect()}

            want = model.patch_inc(keys)
        elif kind == "delete":
            keys = rng.sample(live, batch - 2) + ["gone-a", "gone-b"]
            user_bytes = sum(len(k) for k in keys)

            def mutate():
                with tr.span("store.delete"):
                    res = store.delete(keys)
                return {r[0] for r in res.select("key").collect()}

            want = model.delete(keys)
        else:
            user_bytes = 0

            def mutate():
                with tr.span("store.shift_matching"):
                    res = store.shift_matching(
                        Index(index_type=IndexType.KEY, order=IndexOrder.ASC),
                        Cmp("prio", Op.GE, 5), how_many=cfg["claim"])
                return {r[0] for r in res.select("key").collect()}

            want = model.shift(cfg["claim"], 5)

        def call():
            out = mutate()
            if compact:
                with tr.span("store.compact"):
                    store.compact()
            return out

        got = ctx.rec.op("write", kind, call, measured)
        if measured:
            ctx.rec.user_bytes += user_bytes
            if got is not None:
                ctx.rec.rows_written += batch if kind != "shift_matching" else cfg["claim"]
        with ctx.rec.paused():
            if measured:
                self.meter.update()
            if got is not None and got != want:
                ctx.rec.fail(kind, f"{_differing(got, want)} keys differ from the model")

    # -- measured phase and checks ----------------------------------------------

    def begin_measure(self) -> None:
        self.meter = DirMeter(self.store_root)
        self.writes_done = 0

    def finish(self) -> dict:
        """Final-state check and storage metrics (outside the timers)."""
        from pyspark.sql import functions as F

        ctx = self.ctx
        cur = self.store.current().select("key", "val", "prio", F.col("body.n").alias("n"))
        got = sorted(tuple(r) for r in cur.collect())
        want = sorted((k,) + v for k, v in self.model.rows.items())
        ctx.rec.attempted += 1
        if got != want:
            ctx.rec.fail("final_state", f"store holds {len(got)} rows, model {len(want)}")
        live = os.path.join(ctx.work, "live_once.parquet")
        keys = sorted(self.model.rows)
        pq.write_table(pa.table({
            "key": keys,
            "val": [self.model.rows[k][0] for k in keys],
            "prio": [self.model.rows[k][1] for k in keys],
            "body": [{"n": self.model.rows[k][2]} for k in keys],
        }), live)
        dir_bytes = self.meter.total_bytes()
        changes = DirMeter(self.store.changes_dir).total_bytes()
        versions = sum(1 for d in os.listdir(self.store_root) if d.startswith("v="))
        return {
            "write_amp": self.meter.written / ctx.rec.user_bytes,
            "space_amp": dir_bytes / os.path.getsize(live),
            "layers": {
                "store.bytes_written": self.meter.written,
                "store.user_bytes": ctx.rec.user_bytes,
                "store.versions_live": versions,
                "store.dir_bytes": dir_bytes,
                "store.changes_bytes": changes,
            },
        }
