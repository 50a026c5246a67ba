"""Plumbing shared by the workloads: the pinned Spark session, the run's
failure ledger, sample statistics and memory accounting."""

from __future__ import annotations

import os
import resource
import statistics
import tempfile
import time

#: the session is pinned, never sized from the environment: the package
#: default (``SPARK_GRAFT_CPUS`` unset) is ``local[32]``
CORES = min(4, len(os.sched_getaffinity(0)))
HEAP = "2g"


class Ledger:
    """Counts attempted and failed operations.  A failure is recorded
    with its reason and never hidden."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def ok(self) -> None:
        self.attempted += 1

    def check(self, cond: bool, what: str) -> bool:
        self.attempted += 1
        if not cond:
            self.failed += 1
            if len(self.reasons) < 20:
                self.reasons.append(what)
        return cond


def start_session(work: str, trace: bool):
    """Start the benchmark's own session: ``local[CORES]``, fixed shuffle
    partitions and heap, no progress bar, every temporary file inside
    ``work``.  With ``trace`` the Spark event log is on (benchmark
    session only).  Returns (spark, seconds taken)."""
    from aqueduct_core_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # gettempdir() caches its first answer
    # every JVM, the launcher's too: no /tmp/hsperfdata, temp files in work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Xms{HEAP}",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=conf,
    )
    return spark, time.perf_counter() - t0


def settle(spark) -> None:
    """Full JVM collection before a timed window."""
    spark._jvm.System.gc()


def peak_rss_mb(jvm_kb: int) -> float:
    """Peak resident memory of this process plus ``jvm_kb``, the driver
    JVM's peak as :func:`stop_session` returns it.  Input generation
    runs in another process and is not counted."""
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (own_kb + jvm_kb) / 1024.0


def p50(xs) -> float:
    if len(xs) == 0:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it: the
    11th largest value.  Returns (value, percentile)."""
    n = len(xs)
    if n < 21:
        raise ValueError(f"a tail needs at least 21 samples, got {n}")
    return float(sorted(xs)[n - 11]), 100.0 * (n - 10) / n


def latency_metrics(prefix: str, ms: list[float], notes: dict) -> dict:
    """``<prefix>_p50_ms`` and ``<prefix>_tail_ms``; the tail's
    percentile and the sample count go to ``notes``."""
    value, pct = tail(ms)
    notes[f"{prefix}_tail_ms"] = f"p{pct:.3f} of {len(ms)} samples"
    notes[f"{prefix}_p50_ms"] = f"p50 of {len(ms)} samples"
    return {f"{prefix}_p50_ms": p50(ms), f"{prefix}_tail_ms": value}


def frame_rows(df) -> list[tuple]:
    """Rows of a transcript frame as comparable tuples: timestamps as
    naive UTC, missing values as None, ordered by turn."""
    import pandas as pd

    out = []
    for r in df[["conv_id", "turn_idx", "role", "text", "tool", "ts"]].itertuples(index=False):
        ts = None if r.ts is None or pd.isna(r.ts) else pd.Timestamp(r.ts)
        if ts is not None and ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        out.append(
            (
                r.conv_id,
                int(r.turn_idx),
                None if pd.isna(r.role) else r.role,
                None if pd.isna(r.text) else r.text,
                None if pd.isna(r.tool) else r.tool,
                ts,
            )
        )
    return sorted(out, key=lambda t: t[1])


def expected_by_conv(log_pdf) -> dict[str, list[tuple]]:
    """Oracle state per conversation, from the package's straight-line
    pandas reducer over the landed log."""
    from aqueduct_core_spark.generator import expected_state_pdf

    state = expected_state_pdf(log_pdf)
    return {cid: frame_rows(g) for cid, g in state.groupby("conv_id")}


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


def stop_session() -> int:
    """Stop the session, if one is running, and wait for the driver JVM
    to exit (it exits when its stdin pipe closes).  Returns the JVM's
    peak resident memory in KiB, read just before it stops (0 if no
    session was running)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return 0
    proc = gw.proc
    peak_kb = _vm_hwm_kb(proc.pid) if proc is not None else 0
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    return peak_kb
