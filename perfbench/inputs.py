"""Seeded benchmark inputs, prepared in a process of their own.

    python3 perfbench/inputs.py --workload bulk_replay --seed 1 --out DIR

writes one seed's inputs for one workload into ``DIR`` (atomically: the
directory appears complete or not at all).  ``run.py`` starts this
before it measures anything, so input generation is never part of a
run's set-up time or of its peak memory.

The change log is the package generator's
(``aqueduct_core_spark.generator``): the per-conversation kernel that
both ``generate_changes_pdf`` and ``generate_changes`` map over
conversation ordinals, with ``generate_changes_pdf``'s defaults (1%
hot conversations, 8 clusters).  Here it is mapped over ordinal ranges
in a few worker processes, and the first range is checked equal to
``generate_changes_pdf`` (:func:`check_generator`).
"""

from __future__ import annotations

import argparse
import importlib
import multiprocessing
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOT_FRACTION = 0.01  # generate_changes_pdf's default
HOT_EVERY = int(round(1.0 / HOT_FRACTION))
N_CLUSTERS = 8  # generate_changes_pdf's default
WORKERS = min(4, len(os.sched_getaffinity(0)))
CHUNK = 500  # conversations per worker task

ARROW_SCHEMA = pa.schema(
    [
        pa.field("lsn", pa.int64(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32()),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        # naive UTC in the generator; the session time zone is UTC
        pa.field("ts", pa.timestamp("us", tz="UTC")),
        pa.field("event_size", pa.int32()),
        pa.field("cluster_id", pa.int64()),
        pa.field("location_group", pa.int64()),
    ]
)


def conv_name(ordinal: int) -> str:
    return f"conv-{ordinal:08d}"


def is_hot(ordinal: int) -> bool:
    return ordinal % HOT_EVERY == HOT_EVERY // 2


def _to_arrow(frame) -> pa.Table:
    return pa.Table.from_pandas(frame, schema=ARROW_SCHEMA, preserve_index=False)


def _chunk(task: tuple[int, int, int]) -> pa.Table:
    import pandas as pd

    from aqueduct_core_spark.generator import _conv_events

    seed, lo, hi = task
    frames = [_conv_events(i, seed, hot=is_hot(i), n_clusters=N_CLUSTERS) for i in range(lo, hi)]
    return _to_arrow(pd.concat(frames, ignore_index=True))


def check_generator(seed: int, n: int = 100) -> None:
    """The ordinal-range mapping must reproduce ``generate_changes_pdf``."""
    from aqueduct_core_spark.generator import generate_changes_pdf

    want = _to_arrow(generate_changes_pdf(n, seed=seed, hot_fraction=HOT_FRACTION, n_clusters=N_CLUSTERS))
    if not _chunk((seed, 0, n)).equals(want):
        raise RuntimeError("ordinal-range generation differs from generate_changes_pdf")


def write_logs(seed: int, files: list[tuple[int, int]], out: str) -> list[int]:
    """Write conversations ``[lo, hi)`` of each ``files`` entry as one
    lsn-ordered parquet file in ``out``; returns each file's row count."""
    tasks = [(seed, a, min(a + CHUNK, hi)) for lo, hi in files for a in range(lo, hi, CHUNK)]
    with multiprocessing.get_context("spawn").Pool(WORKERS) as pool:
        parts = pool.map(_chunk, tasks, chunksize=1)
    os.makedirs(out, exist_ok=True)
    rows, i = [], 0
    for lo, hi in files:
        n = len(range(lo, hi, CHUNK))
        tbl = pa.concat_tables(parts[i:i + n])
        i += n
        write_log(tbl, out)
        rows.append(tbl.num_rows)
    return rows


def write_log(tbl: pa.Table, path: str) -> None:
    """Write a log slice as one parquet file in ``path``, named by its
    first lsn.  The file is written under a temporary name and renamed
    into place, so a directory reader never sees half a file."""
    os.makedirs(path, exist_ok=True)
    name = os.path.join(path, f"part-{tbl['lsn'][0].as_py():016d}.parquet")
    pq.write_table(tbl, name + ".tmp")
    os.replace(name + ".tmp", name)


#: norm of the within-cluster noise, relative to the unit-norm centres
SPREAD = 2.0


def vector_corpus(seed: int, n: int, dim: int, n_clusters: int) -> np.ndarray:
    """``n`` clustered float32 vectors: ``n_clusters`` random unit centres
    with Gaussian spread, all drawn from one mixture fixed by the seed."""
    rng = np.random.default_rng([seed, 7])
    centres = rng.normal(size=(n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    draw = np.random.default_rng([seed, 8])
    lab = draw.integers(0, n_clusters, n)
    vecs = centres[lab] + SPREAD * draw.normal(size=(n, dim)) / np.sqrt(dim)
    return vecs.astype(np.float32)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    sys.path.insert(0, here)
    tmp = args.out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    importlib.import_module(args.workload).prepare_inputs(tmp, args.seed)
    os.replace(tmp, args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
