"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import fixtures  # noqa: E402
from checks import count_bad_values, frame_digest  # noqa: E402
from run import END_TO_END  # noqa: E402
from tracer import metric_units  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _answer(seed: int, n: int = 2_000):
    rng = np.random.default_rng(seed)
    field = fixtures.GridField.from_seed(seed)
    window = fixtures.pick_window(rng, seed)
    pts = fixtures.make_points(rng, window, n)
    return field, window, pts, fixtures.expected_values(field, "rho", window, pts)


def test_checker_accepts_exact_and_rejects_perturbed_values():
    _, _, _, want = _answer(7)
    inside = np.flatnonzero(want != 0.0)
    outside = np.flatnonzero(want == 0.0)
    assert len(inside) and len(outside)
    assert count_bad_values(want.copy(), want) == 0

    off = want.copy()
    off[inside[0]] *= 1 + 1e-6
    assert count_bad_values(off, want) == 1

    filled = want.copy()
    filled[outside[0]] = 1e-30  # a fill value must come back exactly
    assert count_bad_values(filled, want) == 1


def test_closed_form_is_multilinear_exact_at_cell_corners():
    field, window, _, _ = _answer(3)
    t_lo, _ = window.t_bounds
    h_lo, _ = window.h_bounds
    corner = field.value("T", t_lo, fixtures.LON[0], fixtures.LAT[0], h_lo)
    mid = field.value("T", t_lo + 300.0, fixtures.LON[0], fixtures.LAT[0], h_lo)
    nxt = field.value("T", t_lo + 600.0, fixtures.LON[0], fixtures.LAT[0], h_lo)
    assert mid == pytest.approx((corner + nxt) / 2, rel=1e-12)


def test_frame_digest_ignores_row_order_and_engine_dtypes():
    import pandas as pd

    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, None]})
    b = pd.DataFrame({"v": [None, 1.25, 0.5], "k": pd.array([3, 2, 1], dtype="Int64")})
    b["k"] = b["k"].astype(float)  # Spark renders nullable ints as float64
    assert frame_digest(a) == frame_digest(b)
    b.loc[0, "v"] = 0.75
    assert frame_digest(a) != frame_digest(b)


def test_printed_metric_names_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == metric_units()
    assert [w["name"] for w in SPEC["workloads"]] == sorted(WORKLOADS)
    assert any(m["name"] == "setup_s" for m in SPEC["end_to_end"])


def _files(directory: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(directory.iterdir())}


def test_same_seed_gives_byte_identical_fixtures(tmp_path):
    for run in ("a", "b"):
        d = tmp_path / run / "grid"
        d.mkdir(parents=True)
        field = fixtures.GridField.from_seed(5)
        for i in (0, fixtures.missing_index(5) + 1, fixtures.N_FILES - 1):
            fixtures.write_grid_file(str(d), i, field)
        (tmp_path / run / "watch").mkdir()
        fixtures.write_grid_file(str(tmp_path / run / "watch"), 12, field, fixtures.STREAM_AXES)
        fixtures.write_catalog(str(tmp_path / run / "catalog"))
    for sub in ("grid", "watch", "catalog"):
        assert _files(tmp_path / "a" / sub) == _files(tmp_path / "b" / sub)

    _, w1, p1, _ = _answer(11)
    _, w2, p2, _ = _answer(11)
    assert w1 == w2 and p1.equals(p2)
    _, w3, p3, _ = _answer(12)
    assert not p1.equals(p3)
