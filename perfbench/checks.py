"""Output checks, run outside the timed window.

Grid answers are compared with the generated fields' closed form; catalog
answers with their DuckDB oracle by row count plus an order-insensitive hash.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

#: Relative tolerance of an interpolated value against the closed form. The
#: fields are affine, so the only error is float rounding (~1e-15 relative).
RTOL = 1e-9


def count_bad_values(got, expected) -> int:
    """Number of values off their closed form. A fill value must match
    exactly; a value of an affine field must match within :data:`RTOL`."""
    got = np.asarray(got, dtype=float)
    expected = np.asarray(expected, dtype=float)
    if got.shape != expected.shape:
        return max(len(got), len(expected))
    ok = np.abs(got - expected) <= RTOL * np.abs(expected)
    return int(np.count_nonzero(~ok))


def _cell(v) -> str:
    if v is None or v is pd.NA or v is pd.NaT:
        return "null"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "null"
        return str(int(f)) if f.is_integer() and abs(f) < 2**53 else f"{f:.12g}"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v)).lower()
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ")
    return str(v)


def frame_digest(pdf) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a pandas frame. Columns are
    taken in name order; numbers are rendered engine-neutrally (integral
    floats as integers, others to 12 significant digits) so Spark's and
    DuckDB's dtypes for the same values hash alike."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_cell(v) for v in row)
        for row in pdf[cols].astype(object).itertuples(index=False, name=None)
    )
    h = hashlib.sha256("|".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return len(rows), h.hexdigest()
