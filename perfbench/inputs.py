"""Seeded benchmark inputs, generated outside every timed region and
cached per (kind, size, seed) under the work directory.

- the code corpus comes from the program's own planted-truth generator
  (`datagen.generate_code_files`), written as 500-row parquet shards the
  way bench.py writes them, with bench.py's round-robin base/batch split;
- the query tables are not generated: they are copies of the sf0.01
  test tables the queries read, kept under data/ (see README.md), and no
  seed changes them.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd

SHARD_ROWS = 500


def _cached(path: str, build) -> str:
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def write_shards(pdf: pd.DataFrame, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    n_shards = max(len(pdf) // SHARD_ROWS, 1)
    for i in range(n_shards):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i::n_shards], preserve_index=False),
            os.path.join(path, f"part-{i:04d}.parquet"),
        )


def append_corpus(work: str, n_base: int, n_batch: int, n_epochs: int, seed: int) -> str:
    """bench.py's split of one seeded corpus of n_base + n_epochs * n_batch
    files: rows i with i % slices < n_epochs go to batch (i % slices), the
    rest to the base, so every batch interleaves with the base across the
    whole corpus.  <dir>/union holds all of it, <dir>/truth.parquet the
    planted truth."""
    from project_cascade_spark.datagen import generate_code_files

    def build(tmp: str) -> None:
        total = n_base + n_epochs * n_batch
        pdf, truth = generate_code_files(total, seed=seed)
        slices = max(total // n_batch, n_epochs + 1)
        pos = np.arange(len(pdf)) % slices
        write_shards(pdf, os.path.join(tmp, "union"))
        write_shards(pdf[pos >= n_epochs], os.path.join(tmp, "base"))
        for i in range(n_epochs):
            write_shards(pdf[pos == i], os.path.join(tmp, f"batch{i}"))
        truth.to_parquet(os.path.join(tmp, "truth.parquet"), index=False)

    return _cached(
        os.path.join(work, f"append_{n_base}_{n_batch}x{n_epochs}_s{seed}"), build
    )


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
