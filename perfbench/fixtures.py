"""Seeded, deterministic input generators for the benchmark.

Everything here is NumPy + PyArrow only (no Spark), so fixtures are written
before the session starts and the program under test receives nothing but
the generated files and point sets.

Grid fixture: one day of 10-minute grid files in the reference's filename
layout (colon-free ``YYYY-MM-DDTHH-MM-SS.parquet``), one timestamp missing.
Each file is a dense 72 lon x 36 lat x 25 h snapshot with ``rho[kg/m^3]`` and
``T[K]``. Both fields are affine in every axis, so N-linear interpolation
reproduces them exactly inside the grid (see :class:`GridField`).

Catalog fixture: the tables the benchmark's catalog entries read (TPC-H-shaped
``region``/``nation``/``customer``/``part``/``orders``/``lineitem`` plus
``events`` and ``documents``) with the same schemas and value domains as the
repository's synthetic test data. The relational and ``events`` tables have
the row counts of its 0.1 scale factor; ``documents`` has the 500 rows of its
0.01 scale factor, because the document entries (deduplication above all)
grow with it faster than a run allows.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LON = np.linspace(-177.5, 177.5, 72)
LAT = np.linspace(-87.5, 87.5, 36)
H = np.linspace(100e3, 700e3, 25)
DAY0 = datetime(2024, 3, 1)
FILE_STEP_S = 600
N_FILES = 144
WINDOW_FILES = 13  # a 2-hour window spans 13 ten-minute files
#: The watched directory's live feed: the same fields on a coarser grid
#: (18 lon x 9 lat x 7 h, same extremes), so a refresh fits a run.
STREAM_AXES = (np.linspace(-177.5, 177.5, 18), np.linspace(-87.5, 87.5, 9), np.linspace(100e3, 700e3, 7))
H_SPAN = 50e3
H_LEVELS = round(H_SPAN / (H[1] - H[0])) + 2  # off-grid ends snap outward
OOB_SHARE = 0.05
FILENAME_FORMAT = "%Y-%m-%dT%H-%M-%S"
MEASURES = {"rho": "rho[kg/m^3]", "T": "T[K]"}


def epoch_s(ts: datetime) -> float:
    """Epoch seconds of a naive UTC datetime (the session time zone is UTC)."""
    return ts.replace(tzinfo=timezone.utc).timestamp()


T0 = epoch_s(DAY0)


@dataclass(frozen=True)
class GridField:
    """Closed form of the generated fields: ``c0 + ct*hours + clon*lon +
    clat*lat + ch*km`` per measure. Affine in each axis, hence reproduced
    exactly by multilinear interpolation on any rectilinear sub-grid."""

    coef: dict

    @classmethod
    def from_seed(cls, seed: int) -> "GridField":
        rng = np.random.default_rng([seed, 1])
        sign = lambda: rng.choice([-1.0, 1.0])  # noqa: E731
        coef = {
            "rho": (
                1e-9,
                sign() * rng.uniform(1e-13, 1e-12),
                sign() * rng.uniform(1e-14, 1e-13),
                sign() * rng.uniform(1e-14, 1e-13),
                -rng.uniform(1e-13, 1e-12),
            ),
            "T": (
                900.0,
                sign() * rng.uniform(0.5, 5.0),
                sign() * rng.uniform(0.01, 0.1),
                sign() * rng.uniform(0.01, 0.1),
                rng.uniform(0.1, 1.0),
            ),
        }
        return cls(coef)

    def value(self, measure: str, t_s, lon, lat, h) -> np.ndarray:
        c0, ct, clon, clat, ch = self.coef[measure]
        return (
            c0
            + ct * ((np.asarray(t_s) - T0) / 3600.0)
            + clon * np.asarray(lon)
            + clat * np.asarray(lat)
            + ch * (np.asarray(h) / 1e3)
        )


def missing_index(seed: int) -> int:
    """The one timestamp of the day that has no file."""
    return int(np.random.default_rng([seed, 2]).integers(1, N_FILES - 1))


def file_time(i: int) -> datetime:
    return DAY0 + timedelta(seconds=FILE_STEP_S * i)


def grid_file_name(i: int) -> str:
    return file_time(i).strftime(FILENAME_FORMAT) + ".parquet"


def write_grid_file(directory: str, i: int, field: GridField, axes=(LON, LAT, H)) -> None:
    lon, lat, h = (a.ravel() for a in np.meshgrid(*axes, indexing="ij"))
    t = np.full(lon.shape, epoch_s(file_time(i)))
    cols = {"lon": lon, "lat": lat, "h": h}
    for m, col in MEASURES.items():
        cols[col] = field.value(m, t, lon, lat, h)
    pq.write_table(pa.table(cols), os.path.join(directory, grid_file_name(i)))


def write_grid_day(directory: str, seed: int) -> GridField:
    """Write the day of grid files for ``seed``; returns its closed form."""
    from concurrent.futures import ThreadPoolExecutor

    field = GridField.from_seed(seed)
    skip = missing_index(seed)
    os.makedirs(directory, exist_ok=True)
    with ThreadPoolExecutor(4) as pool:
        # Parquet encoding releases the GIL; list() re-raises any write error
        list(pool.map(lambda i: write_grid_file(directory, i, field), (i for i in range(N_FILES) if i != skip)))
    return field


@dataclass(frozen=True)
class Window:
    start: datetime
    end: datetime
    h_range: tuple[float, float]

    @property
    def t_bounds(self) -> tuple[float, float]:
        return epoch_s(self.start), epoch_s(self.end)

    @property
    def h_bounds(self) -> tuple[float, float]:
        """The h-range snapped outward to grid values (what the slab holds)."""
        lo, hi = self.h_range
        return float(H[H <= lo].max()), float(H[H >= hi].min())


def pick_window(rng: np.random.Generator, seed: int) -> Window:
    """A 2-hour window whose first and last files exist, and an h-range of
    fixed width with off-grid ends, so every window's slab has the same shape
    (13 times x 72 x 36 x ``H_LEVELS`` h)."""
    skip = missing_index(seed)
    while True:
        k = int(rng.integers(0, N_FILES - WINDOW_FILES + 1))
        if skip not in (k, k + WINDOW_FILES - 1):
            break
    step = H[1] - H[0]
    j = int(rng.integers(0, int((H[-1] - H_SPAN - H[0]) // step)))
    lo = H[0] + j * step + rng.uniform(0.1, 0.9) * step
    return Window(file_time(k), file_time(k + WINDOW_FILES - 1), (lo, lo + H_SPAN))


def make_points(rng: np.random.Generator, window: Window, n: int):
    """``n`` query points (columns point_id, time, lon, lat, h; time in epoch
    seconds) inside the window's slab, with a seeded :data:`OOB_SHARE` pushed
    outside it along one random axis (expected answer: the fill value)."""
    import pandas as pd

    t_lo, t_hi = window.t_bounds
    h_lo, h_hi = window.h_bounds
    lo = np.array([t_lo, LON[0], LAT[0], h_lo])
    hi = np.array([t_hi, LON[-1], LAT[-1], h_hi])
    pts = lo + rng.random((n, 4)) * (hi - lo)
    oob = np.flatnonzero(rng.random(n) < OOB_SHARE)
    axis = rng.integers(0, 4, len(oob))
    width = hi - lo
    side = rng.choice([-1.0, 1.0], len(oob))
    outside = np.where(side > 0, hi[axis], lo[axis]) + side * (0.01 + rng.random(len(oob))) * width[axis]
    pts[oob, axis] = outside
    return pd.DataFrame(
        {
            "point_id": np.arange(n, dtype=np.int64),
            "time": pts[:, 0],
            "lon": pts[:, 1],
            "lat": pts[:, 2],
            "h": pts[:, 3],
        }
    )


def expected_values(field: GridField, measure: str, window: Window, pdf):
    """Closed-form answer for each row of ``pdf`` (time/lon/lat/h columns):
    the field inside the slab (edges inclusive), the registry's default fill
    value 0.0 outside."""
    t_lo, t_hi = window.t_bounds
    h_lo, h_hi = window.h_bounds
    t, lon, lat, h = (pdf[c].to_numpy(dtype=float) for c in ("time", "lon", "lat", "h"))
    inside = (
        (t >= t_lo) & (t <= t_hi)
        & (lon >= LON[0]) & (lon <= LON[-1])
        & (lat >= LAT[0]) & (lat <= LAT[-1])
        & (h >= h_lo) & (h <= h_hi)
    )
    return np.where(inside, field.value(measure, t, lon, lat, h), 0.0)


# ---------------------------------------------------------------------------
# Catalog tables
# ---------------------------------------------------------------------------

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter vector dup"
).split()
_LANGS = ["en", "en", "en", "es", "fr", "de", "zh"]


def _ts_us(days: np.ndarray, base: datetime) -> pa.Array:
    micros = (epoch_s(base) * 1e6 + days * 86400e6).astype(np.int64)
    return pa.array(micros, type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.12:
            # near-duplicate of an earlier original: a few word substitutions
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            for j in rng.integers(0, len(words), int(rng.integers(1, 4))):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[k] for k in rng.integers(0, len(_WORDS), int(rng.integers(8, 90)))]
            originals.append(i)
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [_LANGS[k] for k in rng.integers(0, len(_LANGS), n)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _relational(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part, n_ord = (int(x * sf) for x in (150_000, 10_000, 200_000, 1_500_000))
    pick = lambda xs, n: [xs[k] for k in rng.integers(0, len(xs), n)]  # noqa: E731
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        pick(["red", "blue", "green", "small", "large"], n_part),
                        pick(["widget", "bolt", "ring", "gear", "valve"], n_part),
                    )
                ],
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
                "p_type": pick(["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"], n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
    }
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": _ts_us(order_day, datetime(1995, 1, 1)),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": _ts_us(order_day[okey] + rng.integers(1, 122, n_li), datetime(1995, 1, 1)),
        }
    )
    n_ev = int(1_000_000 * sf)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts_us(np.sort(rng.uniform(0.0, 30.0, n_ev)), datetime(2024, 1, 1)),
            "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), pa.int64()),
            "event_type": pick(["view", "click", "purchase", "signup", "error"], n_ev),
            "value": money(0.0, 20.0, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    return tables


#: The catalog fixture is fixed, like the repository's own test data: the run
#: seed only orders the operators (see ``workloads.PipelineOps``).
CATALOG_SEED = 20240301
CATALOG_SF = 0.1
N_DOCUMENTS = 500


def write_catalog(directory: str) -> None:
    """Write ``{table}.parquet`` for each catalog table into ``directory``."""
    rng = np.random.default_rng(CATALOG_SEED)
    tables = _relational(rng, CATALOG_SF)
    tables["documents"] = _documents(rng, N_DOCUMENTS)
    os.makedirs(directory, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(directory, f"{name}.parquet"))
