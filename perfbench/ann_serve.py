"""ann_serve: a persisted ``ForestIndex`` under a mixed write and probe load.

A seeded, clustered 64-d corpus is loaded into an index whose codebooks
are trained in set-up.  Each round of the window adds one fixed-size
batch of new vectors with one ``add``, retracts REMOVE_PER_ROUND live
vectors with one ``remove``, then runs a burst of ``topk_direct``
probes: a self-probe of a just-added vector, recently added vectors,
and fresh draws from the same mixture.  It ends with one Spark-planned
``topk`` scan, so probes and scans sample the same stretch of time.
Every add grows the index by one file set, so a write that costs probes
later shows up in the read tail.  Add batches have a fixed size, so the
add rate does not depend on how long the probes take.

Rounds repeat until --seconds have passed and at least MIN_ROUNDS are
done.  A round takes about 8 s on four cores, so at a 10 s window that
is always MIN_ROUNDS rounds: the probe sample size and the index growth
do not flip with the host's speed.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd

import common
import inputs
import spans

DIM = 64
CLUSTERS = 32
CORPUS = 4_000
TRAIN = 1_000  # the codebooks are trained on the first TRAIN corpus vectors
ADD_BATCH = 100
MIN_ROUNDS = 3
REMOVE_PER_ROUND = 10
PROBES_PER_ROUND = 12
K = 20
POOL = 16_000  # the first half is indexed (corpus, then adds), the second half are probe draws
INPUT_PARAMS = (POOL, DIM, CLUSTERS)


def prepare_inputs(out: str, seed: int) -> None:
    np.save(os.path.join(out, "vectors.npy"), inputs.vector_corpus(seed, POOL, DIM, CLUSTERS))


def run(ctx):
    from pyspark.sql import types as T

    from aqueduct_core_spark.catalog.meta import VersionedMeta
    from aqueduct_core_spark.functions.ann_index import ForestIndex
    from aqueduct_core_spark.functions.similarity import forest_train

    tr, led = ctx.tracer, ctx.ledger
    vecs = np.load(os.path.join(ctx.inputs, "vectors.npy"))
    draws = vecs[POOL // 2:]  # probe queries: same mixture, never indexed
    rng = np.random.default_rng([ctx.seed, 5])
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )

    spark, session_s = common.start_session(ctx.work, ctx.trace)
    t_setup = time.perf_counter()
    spans.instrument(tr)

    def frame(ids):
        ids = np.asarray(ids, dtype=np.int64)
        return spark.createDataFrame(pd.DataFrame({"vec_id": ids, "embedding": list(vecs[ids])}), schema)

    codebooks = forest_train(frame(np.arange(TRAIN)), DIM)
    t_train = time.perf_counter()
    ix = ForestIndex.create(spark, os.path.join(ctx.work, "index"), codebooks)
    ix.add(frame(np.arange(CORPUS)))
    t_load = time.perf_counter()
    live = set(range(CORPUS))
    removed: set[int] = set()
    nxt = CORPUS  # next vector id to add
    add_s, added_n, read_ms, recalls = 0.0, 0, [], []

    def probe(q: np.ndarray, record: bool, must_hit: int | None = None) -> None:
        t = time.perf_counter()
        try:
            with tr.span("ann.probe"):
                got = ix.topk_direct(q.tolist(), K)
        except Exception as e:  # counted, reported, never hidden
            led.check(False, f"topk_direct raised {e!r}")
            return
        ms = (time.perf_counter() - t) * 1000.0
        ids = [int(i) for i in got["vec_id"]]
        led.check(not removed.intersection(ids), "a removed vector came back")
        if must_hit is not None:
            led.check(must_hit in ids, f"self-probe of vector {must_hit} missed it")
        if record:
            read_ms.append(ms)
            # exact top-K by cosine over the live set, outside the timing
            pool = np.fromiter(live, dtype=np.int64)
            m = vecs[pool].astype(np.float64)
            sims = (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))
            exact = set(pool[np.argsort(-sims, kind="stable")[:K]].tolist())
            recalls.append(len(exact.intersection(ids)) / K)

    scan_ms: list[float] = []

    def round_(record: bool) -> None:
        nonlocal nxt, add_s, added_n
        batch = list(range(nxt, nxt + ADD_BATCH))
        nxt += ADD_BATCH
        t = time.perf_counter()
        with tr.span("ann.add"):
            ix.add(frame(batch))
        if record:
            add_s += time.perf_counter() - t
            added_n += len(batch)
        live.update(batch)
        led.ok()
        probe(vecs[batch[-1]], record, must_hit=batch[-1])
        remove_some()
        recent = batch[-(PROBES_PER_ROUND // 3):]
        for i in range(PROBES_PER_ROUND - 1):
            if i < len(recent):
                probe(vecs[recent[i]], record)
            else:
                probe(draws[int(rng.integers(len(draws)))].astype(np.float64), record)
        ms = scan(draws[int(rng.integers(len(draws)))].astype(np.float64))
        if record:
            scan_ms.append(ms)

    def remove_some() -> None:
        victims = rng.choice(np.fromiter(live, dtype=np.int64), REMOVE_PER_ROUND, replace=False)
        with tr.span("ann.remove"):
            ix.remove(spark.createDataFrame([(int(v),) for v in victims], "vec_id long"))
        led.ok()
        live.difference_update(victims.tolist())
        removed.update(victims.tolist())

    def scan(q) -> float:
        t = time.perf_counter()
        with tr.span("ann.scan"):
            got = ix.topk(q.tolist(), K).toPandas()
        ms = (time.perf_counter() - t) * 1000.0
        direct = ix.topk_direct(q.tolist(), K)
        led.check(
            list(got.itertuples(index=False, name=None)) == list(direct.itertuples(index=False, name=None)),
            "Spark-planned topk differs from topk_direct",
        )
        return ms

    # warm-up: the corpus load warmed add; warm remove, probes and scan
    probe(vecs[CORPUS - 1], False, must_hit=CORPUS - 1)
    remove_some()
    probe(draws[0].astype(np.float64), False)
    scan(draws[0].astype(np.float64))
    common.settle(spark)
    setup_s = session_s + time.perf_counter() - t_setup
    ctx.notes["set-up"] = (
        f"session {session_s:.1f} s, training {t_train - t_setup:.1f} s, load {t_load - t_train:.1f} s, "
        f"warm-up {time.perf_counter() - t_load:.1f} s"
    )

    compiles0 = spans.codegen_compiles(spark) if ctx.trace else 0
    w0 = time.time()
    rounds = 0
    while rounds < MIN_ROUNDS or time.time() - w0 < ctx.seconds:
        round_(record=True)
        rounds += 1
    w1 = time.time()
    tr.window = (w0, w1)

    e2e = {
        "setup_s": setup_s,
        "ingest_per_s": added_n / add_s,
        "scan_p50_ms": common.p50(scan_ms),
    }
    e2e.update(common.latency_metrics("read", read_ms, ctx.notes))
    ctx.notes["scan_p50_ms"] = f"p50 of {len(scan_ms)} samples"
    ctx.notes["recall_at_20"] = f"{np.mean(recalls):.4f} mean over {len(recalls)} probes"
    ctx.notes["index"] = f"{len(live)} live vectors, {added_n} added in {rounds} rounds in {w1 - w0:.1f} s"

    layers = {}
    if ctx.trace:
        meta = VersionedMeta(ix.root).read()
        probes = tr.children("ann.probe", "io.")
        layers = {
            "ann.add_ms": spans.med(tr.durations_ms("ann.add")),
            "ann.remove_ms": spans.med(tr.durations_ms("ann.remove")),
            "ann.meta_commit_ms": spans.med(tr.durations_ms("ann.meta_commit")),
            "ann.probe_files": float(np.mean([sum(s[5].get("files", 0) for s in k) for k in probes])),
            "ann.probe_rows_read": float(np.mean([sum(s[5].get("rows", 0) for s in k) for k in probes])),
            "ann.index_files": float(
                sum(len(f) for f in meta["files"].values()) + len(meta["vec_files"]) + len(meta["tombstones"])
            ),
            "ann.recall_at_20": float(np.mean(recalls)),
            "spark.codegen_compiles": float(spans.codegen_compiles(spark) - compiles0),
        }
    e2e["peak_rss_mb"] = common.peak_rss_mb(common.stop_session())
    if ctx.trace:
        writes = len(tr.in_window("ann.add")) + len(tr.in_window("ann.remove"))
        layers.update(spans.event_log_metrics(os.path.join(ctx.work, "eventlog"), tr.window, writes, added_n))
        ctx.notes["layer shares"] = json.dumps(tr.layer_shares())
    return e2e, layers
