"""Benchmark entry point.  From the repository root:

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 15 --trace 0

Workloads: bulk_replay, ann_serve (see design.json).  The
program under test is the ``aqueduct_core_spark`` package next to this
directory.  Its inputs are generated from ``--seed`` by ``inputs.py`` in
a separate process before anything is measured, and cached per seed
under ``perfbench/.work/inputs``.  ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer metrics of a traced run.  The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bulk_replay", "ann_serve")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ingest_per_s": "1/s",
    "scan_p50_ms": "ms",
    "read_p50_ms": "ms",
    "read_tail_ms": "ms",
}


class Context:
    """What a workload receives: its arguments, directories, the tracer,
    the failure ledger and the human-readable notes."""

    def __init__(self, args, work: str, inputs: str):
        from common import Ledger
        from spans import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.inputs = inputs
        self.tracer = Tracer(self.trace, f"{args.workload}-{args.seed}-{int(time.time())}")
        self.ledger = Ledger()
        self.notes: dict[str, str] = {}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "aqueduct_core_spark")):
        print(f"perfbench: no aqueduct_core_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from spans import PER_LAYER

    state = os.path.join(HERE, ".work")
    module = importlib.import_module(args.workload)
    key = "-".join(str(p) for p in module.INPUT_PARAMS)
    inputs = os.path.join(state, "inputs", f"{args.workload}-seed{args.seed}-{key}")
    work = os.path.join(state, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    from common import stop_session

    ctx = Context(args, work, inputs)
    try:
        if not os.path.isdir(inputs):
            subprocess.run(
                [sys.executable, os.path.join(HERE, "inputs.py"), "--workload", args.workload,
                 "--seed", str(args.seed), "--out", inputs],
                check=True,
                env={**os.environ, "TMPDIR": os.path.join(work, "tmp")},
            )
        e2e, layers = module.run(ctx)
    finally:
        ctx.tracer.restore()
        stop_session()  # a no-op unless the workload failed mid-run
        shutil.rmtree(work, ignore_errors=True)

    results = os.path.join(state, "results", f"{args.workload}-seed{args.seed}.json")
    if ctx.trace:
        ctx.tracer.write(os.path.join(state, "traces", f"{ctx.tracer.run_id}.json"))
        if os.path.exists(results):
            with open(results) as f:
                untraced = json.load(f)
            for k, v in e2e.items():
                ctx.notes[f"overhead {k}"] = f"{v - untraced[k]:+.4g} (traced {v:.4g}, untraced {untraced[k]:.4g})"
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        os.makedirs(os.path.dirname(results), exist_ok=True)
        with open(results, "w") as f:
            json.dump(e2e, f)
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}

    for k, v in e2e.items():
        print(f"{k:24s} {v:14.4f}  {ctx.notes.pop(k, '')}")
    for k, v in ctx.notes.items():
        print(f"{k:24s} {v}")
    for r in ctx.ledger.reasons:
        print(f"FAILED {r}")
    led = ctx.ledger
    print(
        json.dumps(
            {
                "correct": led.failed == 0,
                "attempted": led.attempted,
                "failed": led.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
