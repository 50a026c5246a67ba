"""bulk_replay: a replica catches up on a seeded backlog through
``replay()``.

Set-up replays a short prefix of the log into the table as six one-file
epochs, so the table holds live deltas two epochs before a fold.  These
epochs also warm every epoch-path plan shape (scan, argmax shuffle,
delta write, commit); a full-state scan and point reads on the table,
and a fold of a copy of it, warm the rest.

The timed catch-up replays a backlog of three files with the trigger
budget raised to BACKLOG_TRIGGER events per epoch (one file per epoch)
and the shipped fold cadence and pipeline depth: a fold follows the
second epoch and the log ends between folds.  (From an empty table a
fold needs nine epochs; at about 1.5 s of fixed cost per epoch on four
cores that does not fit the run budget.)  After the catch-up the
benchmark alternates a full-state scan with a pass of zero-job point
reads, all against the live deltas, so scans and reads sample the same
stretch of time.  The READ_PASSES passes read a fixed mix of keys: the
same number from the prefix and from each backlog file, and a quarter
absent keys, each key once.  One client issues the reads with READ_GAP_S
of think time after each, so a short stall of the host inflates a few
reads rather than a whole pass.  Scans repeat until --seconds have
passed since the catch-up began and at least MIN_SCANS are done.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import common
import inputs
import spans
from aqueduct_core_spark.generator import STRIDE

PREFIX_EPOCHS = 6  # the fold runs when the table reaches 8 delta epochs
PREFIX_CONVS_PER_EPOCH = 100
BACKLOG_EPOCHS = 3
BACKLOG_CONVS_PER_EPOCH = 1_500  # about 43k events
BACKLOG_TRIGGER = 60_000  # one backlog file fits, two do not
KEYS_PER_FILE = 30  # present keys read from the prefix and from each backlog file
ABSENT_KEYS = 40  # a quarter of the 160 reads
READ_PASSES = 8  # one pass of reads after each of the first READ_PASSES scans
READ_GAP_S = 0.015  # think time after each read
MIN_SCANS = 8
PREFIX_CONVS = PREFIX_EPOCHS * PREFIX_CONVS_PER_EPOCH
INPUT_PARAMS = (PREFIX_EPOCHS, PREFIX_CONVS_PER_EPOCH, BACKLOG_EPOCHS, BACKLOG_CONVS_PER_EPOCH)


def prepare_inputs(out: str, seed: int) -> None:
    """The log for ``seed`` (prefix and backlog, one file per epoch) and
    ``meta.json``."""
    inputs.check_generator(seed)
    files = [(g * PREFIX_CONVS_PER_EPOCH, (g + 1) * PREFIX_CONVS_PER_EPOCH) for g in range(PREFIX_EPOCHS)]
    files += [
        (PREFIX_CONVS + g * BACKLOG_CONVS_PER_EPOCH, PREFIX_CONVS + (g + 1) * BACKLOG_CONVS_PER_EPOCH)
        for g in range(BACKLOG_EPOCHS)
    ]
    written = inputs.write_logs(seed, files, os.path.join(out, "log"))
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump({"backlog_events": sum(written[PREFIX_EPOCHS:])}, f)


def run(ctx):
    from aqueduct_core_spark import EngineConfig
    from aqueduct_core_spark.catalog.table import ParquetTranscriptTable
    from aqueduct_core_spark.operators.compact import fold_deltas
    from aqueduct_core_spark.streaming.pipeline import replay
    from aqueduct_core_spark.verify import consistency_sum, table_consistency_sum

    with open(os.path.join(ctx.inputs, "meta.json")) as f:
        backlog_events = json.load(f)["backlog_events"]
    log_dir = os.path.join(ctx.inputs, "log")
    tr, led = ctx.tracer, ctx.ledger
    rng = np.random.default_rng([ctx.seed, 99])

    # the keys the point reads sample, the same number from every log
    # file (the prefix counts as one), and their oracle rows; hot
    # conversations (1 in 100) are left out so that every seed reads the
    # same mix
    ranges = [(0, PREFIX_CONVS)] + [
        (PREFIX_CONVS + g * BACKLOG_CONVS_PER_EPOCH, PREFIX_CONVS + (g + 1) * BACKLOG_CONVS_PER_EPOCH)
        for g in range(BACKLOG_EPOCHS)
    ]
    sampled = []
    for lo, hi in ranges:
        normal = [i for i in range(lo, hi) if not inputs.is_hot(i)]
        sampled += [inputs.conv_name(int(i)) for i in rng.choice(normal, KEYS_PER_FILE, replace=False)]
    in_prefix = sampled[:KEYS_PER_FILE]
    schedule = sampled + [f"conv-absent-{i}" for i in range(ABSENT_KEYS)]
    rng.shuffle(schedule)
    picked = pq.read_table(log_dir, filters=[("conv_id", "in", sampled)])
    expected = common.expected_by_conv(picked.to_pandas())

    spark, session_s = common.start_session(ctx.work, ctx.trace)
    t_setup = time.perf_counter()
    spans.instrument(tr)
    cfg = EngineConfig(max_events_per_trigger=BACKLOG_TRIGGER, max_bytes_per_trigger=1 << 40)
    log = spark.read.parquet(log_dir)
    root = os.path.join(ctx.work, "replica")
    table = ParquetTranscriptTable.create(spark, root, num_buckets=cfg.num_buckets)
    pre_cfg = EngineConfig(max_events_per_trigger=1, max_bytes_per_trigger=1 << 40)  # one file per epoch
    led.check(
        len(replay(table, log, pre_cfg, end_lsn=PREFIX_CONVS * STRIDE - 1)) == PREFIX_EPOCHS,
        "prefix replay did not take one epoch per file",
    )
    t_prefix = time.perf_counter()

    scan_ms, read_ms = [], []

    def scan(record: bool) -> None:
        tr.add("live_delta_files", spans.live_delta_files(table))
        t = time.perf_counter()
        with tr.span("table.scan"):
            table.read_internal().write.format("noop").mode("overwrite").save()
        if record:
            scan_ms.append((time.perf_counter() - t) * 1000.0)

    def reads(keys: list[str], record: bool) -> None:
        for cid in keys:
            t = time.perf_counter()
            try:
                with tr.span("table.read_direct") as rec:
                    got = table.read_conversation_direct(cid)
                    if rec is not None:
                        rec[5]["hit"] = len(got) > 0
            except Exception as e:  # counted, reported, never hidden
                led.check(False, f"direct read of {cid} raised {e!r}")
                continue
            if record:
                read_ms.append((time.perf_counter() - t) * 1000.0)
            led.check(common.frame_rows(got) == expected.get(cid, []), f"direct read of {cid} differs from the oracle")
            time.sleep(READ_GAP_S)

    # warm-up beyond the prefix epochs: scan and reads over live deltas,
    # and a fold of a copy (the table itself must keep its deltas)
    scan(record=False)
    reads(in_prefix[:6] + ["conv-absent-warm-up-0", "conv-absent-warm-up-1"], record=False)
    shutil.copytree(root, root + "-fold")
    led.check(fold_deltas(ParquetTranscriptTable.load(spark, root + "-fold")).get("folded"), "warm-up fold did not fold")
    shutil.rmtree(root + "-fold")
    common.settle(spark)
    setup_s = session_s + time.perf_counter() - t_setup
    ctx.notes["set-up"] = (
        f"session {session_s:.1f} s, prefix {t_prefix - t_setup:.1f} s, "
        f"warm-up {time.perf_counter() - t_prefix:.1f} s"
    )

    compiles0 = spans.codegen_compiles(spark) if ctx.trace else 0
    w0 = time.time()
    t0 = time.perf_counter()
    with tr.span("pipeline.replay"):
        metrics = replay(table, log, cfg)
    replay_s = time.perf_counter() - t0
    led.check(
        [bool(m.get("folded")) for m in metrics] == [False, True, False],
        "the catch-up did not take three epochs with a fold after the second",
    )
    common.settle(spark)
    gc.collect()
    passes = [schedule[i::READ_PASSES] for i in range(READ_PASSES)]
    while len(scan_ms) < MIN_SCANS or time.time() - w0 < ctx.seconds:
        scan(record=True)
        if len(scan_ms) <= READ_PASSES:
            reads(passes[len(scan_ms) - 1], record=True)
    w1 = time.time()
    tr.window = (w0, w1)
    ctx.notes["catch-up"] = f"{backlog_events} events in {replay_s:.1f} s, window {w1 - w0:.1f} s"

    led.check(
        consistency_sum(log) == table_consistency_sum(table.read_internal()),
        "consistency sum of the replayed table differs from the log's",
    )
    e2e = {
        "setup_s": setup_s,
        "ingest_per_s": backlog_events / replay_s,
        "scan_p50_ms": common.p50(scan_ms),
    }
    e2e.update(common.latency_metrics("read", read_ms, ctx.notes))
    ctx.notes["scan_p50_ms"] = f"p50 of {len(scan_ms)} samples"
    ctx.notes["scan samples"] = " ".join(f"{x:.0f}" for x in scan_ms)

    layers = {}
    if ctx.trace:
        layers = spans.engine_layer_metrics(tr)
        first_prepare = min(s[1] for s in tr.in_window("merge.prepare"))
        layers["pipeline.plan_ms"] = (first_prepare - w0) * 1000.0
        layers["spark.codegen_compiles"] = float(spans.codegen_compiles(spark) - compiles0)
    e2e["peak_rss_mb"] = common.peak_rss_mb(common.stop_session())
    if ctx.trace:
        layers.update(
            spans.event_log_metrics(
                os.path.join(ctx.work, "eventlog"), tr.window, int(layers["pipeline.epochs"]), layers["merge.events_in"]
            )
        )
        ctx.notes["layer shares"] = json.dumps(tr.layer_shares())
        ctx.notes["write share of epoch time"] = f"{write_share(tr):.3f}"
    return e2e, layers


def write_share(tr) -> float:
    """Time in the delta write job as a share of epoch time (prepare +
    apply spans)."""
    epoch = sum(tr.durations_ms("merge.prepare")) + sum(tr.durations_ms("merge.apply"))
    return sum(tr.durations_ms("table.write_delta")) / epoch if epoch else 0.0
