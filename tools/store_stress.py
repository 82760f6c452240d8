"""Scale-stress for the MUTATION/CLAIM path (TreasureStore) — the one
subsystem the read-side stress (tools/scale_stress.py) never touched.

Measures `set` / `increment` / `shift_matching` / `patch_expired` /
`delete` / `compact` wall time against store size n and fits the growth
exponent b in t = a * n^b, writing rows into BENCH_scale<max>.json next
to the read-side families.

What linear-ish b MEANS here: every mutation is copy-on-write — it
rewrites one snapshot version of ONE swamp (reference model: a swamp is
the small, per-entity storage unit, swamp.go; hydra shards millions of
them). A commit materializes its request-bounded touched rows once and
writes the new version as one map-only projection over the old one
(request keys as plan literals, no join or shuffle of the state), so
the rewrite is the only O(state) term, and the 100 TB argument is
horizontal: 100 TB = many bounded swamps mutated independently, not
one 100 TB swamp (SCALE.md §store). The stress checks there is no
accidental O(n^2) (e.g. a status join that re-enumerates history, or
claim ordering that global-sorts more than the claim window).

Two batch regimes per op where it makes sense:
- fixed batch (1000 keys): the point-write pattern — b measures pure
  state-size dependence (the map-only version rewrite plus one
  literal-filtered scan for the touched rows).
- proportional batch (10% of n): bulk ingest — b ~ 1 expected.

Usage:
    python tools/store_stress.py            # n = 100k vs 3M (x1 vs x30)
    python tools/store_stress.py 100000 30  # base n, multiplier
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time
from datetime import datetime, timedelta

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_HERE)
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from hydraide_spark.operators.claims import Cap  # noqa: E402
from hydraide_spark.operators.mutate import (  # noqa: E402
    IncrementMeta,
    PatchKind,
    PatchOp,
)
from hydraide_spark.query import Cmp, Op  # noqa: E402
from hydraide_spark.query.index import Index, IndexOrder, IndexType  # noqa: E402
from hydraide_spark.session import get_spark  # noqa: E402
from hydraide_spark.sources.store import TreasureStore  # noqa: E402

WORK = os.path.join(_REPO, ".scale", "stores")


def base_frame(spark, n: int):
    """n-row store state: string keys, a counter, a priority, and an
    expired_at spread so ~half the rows are claimable at EPOCH+1h."""
    return spark.range(n).select(
        F.format_string("k%012d", F.col("id")).alias("key"),
        (F.col("id") % 1000).alias("val"),
        (F.col("id") % 10).alias("prio"),
        F.when(
            F.col("id") % 2 == 0,
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") % 3600),
        ).alias("expired_at"),
        F.struct((F.col("id") % 100).alias("n")).alias("body"),
    )


def build_store(spark, path: str, n: int, n_buckets=None) -> TreasureStore:
    if os.path.exists(path):
        shutil.rmtree(path)
    store = TreasureStore(spark, path, n_buckets=n_buckets)
    store.init(base_frame(spark, n))
    return store


def auto_store_buckets(n: int) -> int:
    """Bucket count ∝ store size (bucket ≈ 4096 rows, like the LSM
    state bases): the write prune for a fixed-size key batch is
    min(batch, n_buckets) × bucket_rows — CONSTANT as the store grows,
    which is the whole point of the r11 manifest layout."""
    return 1 << max(4, (n // 4096).bit_length())


def timed(fn) -> float:
    t0 = time.time()
    out = fn()
    if out is not None and hasattr(out, "collect"):
        out.collect()
    return round(time.time() - t0, 3)


def run_ops(spark, store: TreasureStore, n: int) -> dict[str, float]:
    t: dict[str, float] = {}
    keys_fixed = [f"k{i * (n // 1000):012d}" for i in range(1000)]

    # bulk upsert: 10% of n existing keys re-submitted with changed
    # vals + 1% brand-new keys (proportional regime)
    updates = spark.range(n // 10).select(
        F.format_string("k%012d", F.col("id") * 10).alias("key"),
        (F.col("id") % 997).alias("val"),
        (F.col("id") % 10).alias("prio"),
        F.lit(None).cast("timestamp").alias("expired_at"),
        F.struct((F.col("id") % 100).alias("n")).alias("body"),
    ).unionByName(
        spark.range(n // 100).select(
            F.format_string("new%012d", F.col("id")).alias("key"),
            F.lit(0).cast("long").alias("val"),
            F.lit(0).cast("long").alias("prio"),
            F.lit(None).cast("timestamp").alias("expired_at"),
            F.struct((F.col("id") % 100).alias("n")).alias("body"),
        )
    )
    t["store_set_bulk10pct"] = timed(lambda: store.set(updates))
    if store.n_buckets is not None:
        # the designed post-bulk step on the bucketed layout: the bulk
        # landed as a flat write-buffer (r12); settle re-buckets so the
        # point ops below measure the settled layout (its cost is its
        # own row, not smeared into theirs)
        t["store_settle_after_bulk"] = timed(lambda: store.settle())

    # fixed SMALL batch (100 keys): the point-write regime where the
    # bucketed manifest layout's O(batch) claim is measurable — a
    # random 10%-of-n bulk touches every hash bucket by construction
    # (no layout can prune it), but 100 keys touch ≤100 bucket dirs
    # whose total rows stay constant as the store grows
    keys_100 = [f"k{i * (n // 100):012d}" for i in range(100)]
    upd_100 = spark.createDataFrame(
        [(k,) for k in keys_100], "key string"
    ).select(
        "key",
        F.lit(1).cast("long").alias("val"),
        F.lit(1).cast("long").alias("prio"),
        F.lit(None).cast("timestamp").alias("expired_at"),
        F.struct(F.lit(1).cast("long").alias("n")).alias("body"),
    )
    t["store_set_100"] = timed(lambda: store.set(upd_100))

    # point writes: fixed-size key list (state-size dependence only)
    t["store_increment_1k"] = timed(
        lambda: store.increment(
            keys_fixed,
            "val",
            7,
            condition=Cmp("val", Op.GE, 0),
            create_if_not_exist=True,
            meta_if_exist=IncrementMeta(updated_at=True),
            now_us=1_700_000_000_000_000,
        )
    )
    t["store_delete_1k"] = timed(lambda: store.delete(keys_fixed))

    # claim window: fixed HowMany (the queue-pop pattern)
    idx = Index(index_type=IndexType.KEY, order=IndexOrder.ASC)
    t["store_shift_matching_1k"] = timed(
        lambda: store.shift_matching(
            idx,
            Cmp("prio", Op.GE, 5),
            how_many=1000,
            cap=Cap(Cmp("prio", Op.GE, 0), 10_000_000),
        )
    )
    t["store_patch_expired_1k"] = timed(
        lambda: store.patch_expired(
            datetime(2023, 11, 15),
            1000,
            lease=timedelta(minutes=15),
            ops=[PatchOp(PatchKind.INC, "n", 1)],
        )
    )
    # r8: PatchTreasures with the reference-exact Cap budget — the
    # pre-count is one scan-side aggregate, the request-order window is
    # bounded by the 1000-key batch; b should match the other fixed-
    # batch ops (the version rewrite dominates)
    keys_mid = [f"k{(n // 2) + i:012d}" for i in range(1000)]
    t["store_patch_cap_1k"] = timed(
        lambda: store.patch(
            keys_mid,
            [PatchOp(PatchKind.INC, "n", 1)],
            condition=Cmp("body.n", Op.GE, 0),
            cap=Cap(Cmp("body.n", Op.GE, 50), 10_000_000),
        )
    )
    t["store_compact"] = timed(lambda: store.compact())
    t["store_snapshot_read"] = timed(lambda: store.current().count())
    return t


def main() -> None:
    base_n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    spark = get_spark("store_stress")

    # warm the whole op surface on a tiny store (first-touch JIT/codegen
    # excluded — the same protocol as scale_stress --warm)
    warm = build_store(spark, os.path.join(WORK, "warm"), 2_000)
    run_ops(spark, warm, 2_000)

    results: dict[str, dict[str, float]] = {}
    for m in (1, mult):
        n = base_n * m
        print(f"building x{m} store (n={n}) ...", file=sys.stderr)
        store = build_store(spark, os.path.join(WORK, f"x{m}"), n)
        for name, sec in run_ops(spark, store, n).items():
            results.setdefault(name, {})[f"x{m}"] = sec
            print(f"  x{m} {name}: {sec}s", file=sys.stderr)
        store.destroy()
        # the same op surface on the r11 bucketed manifest layout
        nb = auto_store_buckets(n)
        print(f"building x{m} bucketed store (n={n}, b={nb}) ...", file=sys.stderr)
        store = build_store(
            spark, os.path.join(WORK, f"x{m}b"), n, n_buckets=nb
        )
        for name, sec in run_ops(spark, store, n).items():
            results.setdefault(name + "_bucketed", {})[f"x{m}"] = sec
            print(f"  x{m} {name}_bucketed: {sec}s", file=sys.stderr)
        store.destroy()

    table = {}
    for name, r in results.items():
        t_lo, t_hi = r.get("x1", -1), r.get(f"x{mult}", -1)
        b = (
            round(math.log(t_hi / t_lo) / math.log(mult), 2)
            if t_lo > 0 and t_hi > 0
            else None
        )
        table[name] = {**r, "growth_exponent": b, "base_n": base_n}

    out_path = os.path.join(_REPO, f"BENCH_scale{mult}.json")
    if os.path.exists(out_path):
        with open(out_path) as f:
            doc = json.load(f)
        doc.setdefault("queries", {}).update(table)
    else:
        doc = {"metric": "scale_stress", "multipliers": [1, mult], "queries": table}
    doc["store_note"] = (
        "store_* rows: TreasureStore mutation/claim path at n=base_n vs "
        f"{mult}x. Mutations are copy-on-write snapshot rewrites of ONE "
        "swamp, so b~1 vs state size is the expected shape for fixed "
        "batches (the write dominates); the 100 TB story is horizontal "
        "(many bounded swamps), see SCALE.md. warm-protocol: full op "
        "surface pre-run on a tiny store first."
    )
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(table, sort_keys=True))


if __name__ == "__main__":
    main()
