"""``stream_ingest``: the unified search ingest and the MinHash near-dup
ingest fed fixed-size deltas, each epoch followed by state-served reads.

Each epoch (the write op) commits one delta into both states and is
followed by ``READS_PER_EPOCH`` ``bm25_from_state`` reads, each for its
own seeded query words. Epoch 0 and its reads are the warm-up. The state
grows while the delta stays fixed. The seed assigns documents to deltas
and picks the query words.

A run has room for only a few epochs, so two costlier steps are left
out of the schedule: compaction ticks (the first tiered tick is a full
base rewrite costing more than an epoch with its read) and
``hybrid_search_from_unified_state`` reads (about four BM25 reads each).
"""

from __future__ import annotations

import math
import os
import random
from collections import Counter

from common import DirMeter
from data import VOCAB, stream_corpus

#: fewest measured epochs
MIN_EPOCHS = 3
#: nominal seconds per measured epoch on a 4-core host; --seconds sets
#: the epoch count from it. An epoch with its reads takes about 7 s
#: there: the nominal is shorter so that a run of --seconds 20 measures
#: four epochs, the most the benchmark's time budget has room for.
EPOCH_SECONDS = 5
#: state-served reads after each epoch, so a run has twice as many read
#: samples as write samples
READS_PER_EPOCH = 2
TOPK = 10
#: the phases make_ingest reports per epoch, in the order they run
DEDUP_PHASES = ("probe_bands", "candidates", "verify_write", "band_write", "shingle_write")

SIZES = {
    "full": {"pool": 2_000, "delta": 100, "centroids": 16},
    "smoke": {"pool": 400, "delta": 50, "centroids": 4},
}


def bm25_scores(texts: dict, words: list[str], k1: float = 1.2, b: float = 0.75) -> dict:
    """Per-doc BM25 over ``texts`` (doc_id -> text) with the engine's
    whitespace tokens, natural-log idf and per-term 6-digit rounding."""
    toks = {d: t.split() for d, t in texts.items()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    tfs = {d: Counter(t) for d, t in toks.items()}
    out: dict = {}
    for w in words:
        df = sum(1 for c in tfs.values() if w in c)
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        for d, c in tfs.items():
            tf = c.get(w)
            if tf:
                norm = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * len(toks[d]) / avgdl))
                out[d] = out.get(d, 0.0) + round(idf * norm, 6)
    return out


class StreamIngest:
    jobs_per_write_metric = "streaming.jobs_per_epoch"

    def __init__(self, ctx, size: str):
        self.ctx = ctx
        self.cfg = SIZES[size]
        self.rng = random.Random(ctx.seed)
        self.phases: list[dict] = []
        self.fed: list[int] = []
        self.epoch = 0

    def setup(self) -> None:
        from hydraide_spark.functions.vector import train_ivf_centroids
        from hydraide_spark.streaming.dedup_stream import make_ingest
        from hydraide_spark.streaming.search_stream import make_search_ingest

        ctx, cfg = self.ctx, self.cfg
        pool = stream_corpus(cfg["pool"])
        ctx.start_session()
        spark = ctx.spark
        order = list(range(len(pool)))
        self.rng.shuffle(order)
        self.pool = pool.iloc[order].reset_index(drop=True)
        self.texts = dict(zip(pool.doc_id, pool.text))
        with ctx.phase("centroids"):
            self.cents = train_ivf_centroids(
                spark.createDataFrame(
                    pool[["doc_id", "embedding"]].rename(columns={"doc_id": "vec_id"})),
                n_centroids=cfg["centroids"])
        self.ustate = os.path.join(ctx.work, "search_state")
        self.dstate = os.path.join(ctx.work, "neardup_state")
        self.ingest_search = make_search_ingest(spark, self.ustate, self.cents)
        self.ingest_dedup = make_ingest(spark, self.dstate, tau=0.8, timings=self.phases)
        # warm-up: epoch 0 and its read, outside the measured phase
        with ctx.phase("warmup_epoch"):
            self.run_epoch(measured=False)

    def schedule(self, seconds: int) -> list[str]:
        n = max(MIN_EPOCHS, round(seconds / EPOCH_SECONDS))
        if (n + 1) * self.cfg["delta"] > self.cfg["pool"]:
            raise ValueError(f"{n} epochs need more than {self.cfg['pool']} documents")
        return ["epoch"] * n

    def begin_measure(self) -> None:
        self.meters = [DirMeter(self.ustate), DirMeter(self.dstate)]
        self.phases.clear()

    def run_op(self, op: str) -> None:
        """Every op of this schedule is one epoch."""
        self.run_epoch(measured=True)

    def run_epoch(self, measured: bool) -> None:
        from hydraide_spark.streaming.search_stream import committed_epochs

        ctx, tr, cfg = self.ctx, self.ctx.tracer, self.cfg
        e = self.epoch
        self.epoch += 1
        delta = self.pool.iloc[e * cfg["delta"]:(e + 1) * cfg["delta"]]

        def ingest():
            batch = ctx.spark.createDataFrame(
                delta, "doc_id long, text string, embedding array<float>")
            with tr.span("streaming.search_ingest"):
                self.ingest_search(batch, e)
            with tr.span("streaming.dedup_ingest"):
                self.ingest_dedup(batch.select("doc_id", "text"), e)
            return True

        done = ctx.rec.op("write", f"epoch{e}", ingest, measured)
        with ctx.rec.paused():
            if done:
                self.fed += [int(d) for d in delta.doc_id]
                self._phase_spans()
            for state in (self.ustate, self.dstate):
                if e not in committed_epochs(state):
                    ctx.rec.fail(f"epoch{e}", f"no commit marker in {os.path.basename(state)}")
            if measured:
                if done:
                    ctx.rec.rows_written += len(delta)
                ctx.rec.user_bytes += sum(
                    len(t.encode()) + 8 + 4 * len(v) for t, v in zip(delta.text, delta.embedding))
                for m in self.meters:
                    m.update()
        for _ in range(READS_PER_EPOCH):
            self._bm25_read(measured)

    def _phase_spans(self) -> None:
        """Lay the dedup ingest's reported phase walls end to end under
        its span (the ingest reports durations, not start times)."""
        tr = self.ctx.tracer
        if not tr.enabled or not self.phases:
            return
        parent = next(s for s in reversed(tr.spans) if s["name"] == "streaming.dedup_ingest")
        t = parent["t0"]
        for ph in DEDUP_PHASES:
            tr.add_child(parent, f"streaming.dedup.{ph}", t, t + self.phases[-1][ph])
            t += self.phases[-1][ph]

    def _words(self) -> list[str]:
        return self.rng.sample(VOCAB, 3)

    def _bm25_read(self, measured: bool) -> None:
        from hydraide_spark.streaming.search_stream import bm25_from_state, committed_epochs
        from pyspark.sql import functions as F

        ctx, tr = self.ctx, self.ctx.tracer
        words = self._words()

        def call():
            with tr.span("streaming.bm25_from_state"):
                df = (bm25_from_state(ctx.spark, self.ustate, words,
                                      epochs=committed_epochs(self.ustate))
                      .groupBy("doc_id").agg(F.sum("term_score").alias("score"))
                      .orderBy(F.desc("score"), "doc_id").limit(TOPK))
            with tr.span("spark.action"):
                return [(int(r[0]), float(r[1])) for r in df.collect()]

        got = ctx.rec.op("read", "bm25_from_state", call, measured)
        if got is None:
            return
        with ctx.rec.paused():
            want = bm25_scores({d: self.texts[d] for d in self.fed}, words)
            tol = 1e-5
            kth = sorted(want.values(), reverse=True)[:TOPK][-1]
            bad = [d for d, s in got if abs(want.get(d, -1.0) - s) > tol]
            if len(got) != min(TOPK, len(want)) or bad or got[-1][1] < kth - tol:
                ctx.rec.fail("bm25_from_state", f"top-{TOPK} differs from the Python BM25 ({len(bad)} scores)")

    def finish(self) -> dict:
        """Doclen check and storage metrics (outside the timers)."""
        from hydraide_spark.streaming.search_stream import committed_epochs, persisted_doclen

        ctx = self.ctx
        ids = [int(r[0]) for r in persisted_doclen(
            ctx.spark, self.ustate, epochs=committed_epochs(self.ustate)).select("doc_id").collect()]
        ctx.rec.attempted += 1
        if Counter(ids) != Counter(self.fed):
            ctx.rec.fail("doclen", f"{len(ids)} committed doclen rows for {len(self.fed)} fed docs")
        once = os.path.join(ctx.work, "fed_once.parquet")
        self.pool[self.pool.doc_id.isin(self.fed)].to_parquet(once, index=False)
        state_bytes = sum(m.total_bytes() for m in self.meters)
        written = sum(m.written for m in self.meters)
        epochs = len(ctx.rec.samples["write"])
        phase_sum = {ph: sum(p[ph] for p in self.phases) for ph in DEDUP_PHASES}
        return {
            "write_amp": written / ctx.rec.user_bytes,
            "space_amp": state_bytes / os.path.getsize(once),
            "layers": {
                **{f"streaming.dedup.{k}_s": v for k, v in phase_sum.items()},
                "streaming.bytes_written_per_epoch": written / max(1, epochs),
                "streaming.state_bytes": state_bytes,
                "streaming.state_files": sum(m.files() for m in self.meters),
            },
        }
