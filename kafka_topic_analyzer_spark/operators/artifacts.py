"""Trained quantizer artifacts: one parquet file per artifact.

The IVF centroids, PQ/residual/OPQ codebooks, the OPQ rotation and the SQ8
ranges are training outputs, versioned by name (``pq_codebooks_v3``,
``ivf_centroids_v2``, ...) and stored once as ``fixtures/<name>.parquet``.
Each row holds int32 index columns plus ``vals LIST<DOUBLE>`` for the last
axis:

* codebooks ``(m, k, vals)`` — the table the K=256 oracle SQL joins;
* centroids and rotation ``(j, vals)``;
* SQ8 ranges ``(j, vals)``, j=0 for LO and j=1 for HI.

Parquet DOUBLE is IEEE-754 binary64, so ``load`` returns bit-identical
Python floats and Spark and the DuckDB oracle see the same values. The
training provenance lives in the file's key-value metadata. ``save``
never overwrites: a re-cut ships as the next version while v_n keeps
serving. Artifacts are read on the driver; operators take them as plain
tuples and close over them.
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_DIR = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "fixtures")
)


def path(name: str) -> str:
    """Absolute path of artifact ``name``."""
    return os.path.join(FIXTURE_DIR, f"{name}.parquet")


def load(name: str) -> tuple:
    """Artifact ``name`` as nested float tuples (rank 2 or 3), cached per
    process."""
    p = path(name)
    if not os.path.exists(p):
        raise FileNotFoundError(f"no trained artifact {name!r} at {p}")
    return _read(p)


@functools.cache
def _read(p: str) -> tuple:
    table = pq.read_table(p)
    rows = tuple(tuple(v) for v in table.column("vals").to_pylist())
    if table.num_columns == 2:
        return rows
    n_k = max(table.column("k").to_pylist()) + 1
    return tuple(rows[i : i + n_k] for i in range(0, len(rows), n_k))


def save(name: str, values, provenance: str) -> str:
    """Write ``values`` (rank 2 or 3, float64) as artifact ``name`` with
    ``provenance`` in the metadata; refuses to overwrite. Returns the path."""
    p = path(name)
    if os.path.exists(p):
        raise FileExistsError(f"artifact {name!r} already exists at {p}")
    arr = np.asarray(values, dtype=np.float64)
    if arr.ndim not in (2, 3):
        raise ValueError(f"artifact {name!r} must be rank 2 or 3, got {arr.ndim}")
    index = np.indices(arr.shape[:-1]).reshape(arr.ndim - 1, -1)
    names = ("m", "k") if arr.ndim == 3 else ("j",)
    cols = {c: pa.array(ix, pa.int32()) for c, ix in zip(names, index)}
    cols["vals"] = pa.array(
        arr.reshape(-1, arr.shape[-1]).tolist(), pa.list_(pa.float64())
    )
    table = pa.table(cols, metadata={"provenance": provenance})
    os.makedirs(FIXTURE_DIR, exist_ok=True)
    tmp = p + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, p)
    return p
