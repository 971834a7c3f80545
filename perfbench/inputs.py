"""Seeded input generators. The same seed gives the same inputs; the
program only ever sees what these functions produce.

Documents follow the reference's value and length bounds (FIXTURES.md):
battery ``{"voltage": [1..16 ints in 0..2047]}``; trip reports with the
19 fields of ``TRIP_SPARK`` and its fixed list sizes (118 list items).
"""

from __future__ import annotations

import json
import math
import os

import numpy as np


def battery_docs(n: int, seed: int) -> list[str]:
    rng = np.random.default_rng(seed)
    lens = rng.integers(1, 17, n)
    vals = rng.integers(0, 2048, int(lens.sum())).tolist()
    out, lo = [], 0
    for hi in np.cumsum(lens).tolist():
        out.append('{"voltage": [' + ", ".join(map(str, vals[lo:hi])) + "]}")
        lo = hi
    return out


def trip_docs(n: int, seed: int) -> list[str]:
    from bolson_spark.schemas import TRIP_FIXED_LIST_SIZES, TRIP_SPARK

    rng = np.random.default_rng(seed)
    cols = {}
    for f in TRIP_SPARK.fields:
        size = TRIP_FIXED_LIST_SIZES.get(f.name)
        if size is not None:
            cols[f.name] = rng.integers(1, 100, (n, size)).tolist()
        elif f.dataType.typeName() == "boolean":
            cols[f.name] = (rng.random(n) < 0.5).tolist()
        elif f.name == "timestamp":
            cols[f.name] = [f"2005-09-{d} 11:59:06" for d in rng.integers(10, 29, n).tolist()]
        else:
            cols[f.name] = rng.integers(1, 100, n).tolist()
    names = list(cols)
    return [json.dumps(dict(zip(names, row))) for row in zip(*cols.values())]


def write_docs(path: str, docs: list[str]) -> str:
    """``docs`` as a parquet file of ``(arrival, value)`` rows, which
    Spark reads far faster than a Python list."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table({"arrival": pa.array(range(len(docs)), pa.int64()), "value": docs}), path
    )
    return path


def bad_positions(n: int, frac: float) -> list[bool]:
    """Evenly spaced, deterministic malformed-document positions."""
    return [math.floor((i + 1) * frac) > math.floor(i * frac) for i in range(n)]


def corrupt(doc: str) -> str:
    """Chop the closing brace: strict parsing must reject the doc."""
    return doc[:-1] + "!"
