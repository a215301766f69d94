"""KamodoSpark registry: per-measure interpolators, units, late-binding guard."""

from __future__ import annotations

from datetime import timedelta

import pytest

from kamodo_dask_spark.grid.ingest import load_grid_range
from kamodo_dask_spark.grid.registry import KamodoSpark

from tests.conftest import GRID_START, rho_fn, temp_fn


@pytest.fixture(scope="module")
def registry(spark, grid_dir):
    start = GRID_START + timedelta(minutes=5)
    end = GRID_START + timedelta(minutes=95)
    with pytest.warns(UserWarning):
        df = load_grid_range(spark, f"{grid_dir}/", start, end, h_range=(292500.0, 357500.0))
    return KamodoSpark(df)


def test_registry_entries_and_units(registry):
    assert set(registry.measures) == {"rho", "T"}
    assert registry.units["rho"] == "kg/m^3"
    assert registry.units["T"] == "K"
    for key in ("rho", "rho_ijkl", "T", "T_ijkl"):
        assert key in registry


def test_each_measure_interpolates_its_own_data(spark, registry):
    """Guard against the reference's late-binding closure bug
    (kamodo_dask.py:328-351): every registered interpolator there evaluates
    the LAST measure's grid. Here rho and T must differ at a shared point."""
    t_mid = (GRID_START + timedelta(minutes=40)).timestamp()
    pts = spark.createDataFrame(
        [(0, t_mid, 90.0, 0.0, 325000.0)],
        "point_id long, time double, lon double, lat double, h double",
    )
    rho_val = registry["rho"](pts).collect()[0]["rho"]
    t_val = registry["T"](pts).collect()[0]["T"]
    assert rho_val != t_val
    # rho is ~1e-9-scale, T is ~800-scale — each hit its own field
    assert rho_val < 1e-6
    assert t_val > 100.0
    assert t_val == pytest.approx(temp_fn(t_mid, 90.0, 0.0, 325000.0), rel=1e-6)


def test_gridded_eval_from_registry(registry):
    t_mid = (GRID_START + timedelta(minutes=40)).timestamp()
    out = registry["T_ijkl"](time=t_mid, lat=0.0).collect()
    # time/lat pinned → lon(17) × h(3) mesh
    assert len(out) == 17 * 3
    for r in out:
        assert r["T"] == pytest.approx(temp_fn(t_mid, r["lon"], 0.0, r["h"]), rel=1e-6)


def test_bounds_and_midpoint(registry):
    b = registry.get_bounds()
    assert b["h"] == (292500.0, 357500.0)
    assert b["lat"] == (-90.0, 90.0)
    m = registry.get_midpoint()
    assert m["lat"] == pytest.approx(0.0)
    assert m["h"] == pytest.approx(325000.0)


def test_composed_function_point_and_gridded(spark, registry):
    """Function composition over registry entries (reference: the Kamodo
    base class's sympy composition, kamodo_dask.py:301): a derived function
    is a SQL expression over registered measures, evaluated as
    interpolate-then-compose in one multi-measure pass."""
    registry["combo[K]"] = "T + rho * 1e9"
    assert "combo" in registry and "combo_ijkl" in registry
    assert registry.units["combo"] == "K"
    assert registry["combo"].expr == "T + rho * 1e9"

    t_mid = (GRID_START + timedelta(minutes=40)).timestamp()
    pts = spark.createDataFrame(
        [(0, t_mid, 90.0, 0.0, 325000.0)],
        "point_id long, time double, lon double, lat double, h double",
    )
    got = registry["combo"](pts).collect()[0]
    expected = temp_fn(t_mid, 90.0, 0.0, 325000.0) + rho_fn(t_mid, 90.0, 0.0, 325000.0) * 1e9
    assert got["combo"] == pytest.approx(expected, rel=1e-5)
    assert set(registry["combo"](pts).columns) == {"point_id", "time", "lon", "lat", "h", "combo"}

    out = registry["combo_ijkl"](time=t_mid, lat=0.0).collect()
    assert len(out) == 17 * 3
    for r in out:
        exp = temp_fn(t_mid, r["lon"], 0.0, r["h"]) + rho_fn(t_mid, r["lon"], 0.0, r["h"]) * 1e9
        assert r["combo"] == pytest.approx(exp, rel=1e-4)


def test_composed_function_rejects_unknown_deps(registry):
    with pytest.raises(ValueError, match="references no registered measure"):
        registry.register("bogus", "x_unknown * 2")


def test_plot_data_heatmap_and_line_payloads(registry):
    """I7: plot_data produces the plotly-consumable payload — free-axis
    coordinate arrays plus a value tensor in axis order — and its values
    equal direct gridded evaluation at the same mesh points."""
    import numpy as np

    t_mid = (GRID_START + timedelta(minutes=40)).timestamp()

    # two free axes (lon, lat) -> heatmap-shaped matrix
    pd2 = registry.plot_data("rho_ijkl", {"time": t_mid, "h": 325000.0})
    assert pd2["name"] == "rho_ijkl" and pd2["units"] == "kg/m^3"
    assert list(pd2["axes"]) == ["lon", "lat"]
    assert pd2["values"].shape == tuple(len(pd2["axes"][a]) for a in ("lon", "lat"))
    assert pd2["fixed"] == {"time": t_mid, "h": 325000.0}
    # cross-check a cell against the gridded function directly
    lon0, lat0 = float(pd2["axes"]["lon"][1]), float(pd2["axes"]["lat"][2])
    direct = (
        registry["rho_ijkl"](time=t_mid, h=325000.0, lon=lon0, lat=lat0)
        .collect()[0]["rho"]
    )
    assert pd2["values"][1, 2] == pytest.approx(direct, rel=1e-12)

    # reference's nested plot_partial spelling; one free axis -> line payload
    pd1 = registry.plot_data(
        "rho_ijkl",
        {"rho_ijkl": {"time": t_mid, "h": 325000.0, "lat": 0.0}},
    )
    assert list(pd1["axes"]) == ["lon"]
    assert pd1["values"].shape == (len(pd1["axes"]["lon"]),)
    assert np.isfinite(pd1["values"]).all()

    with pytest.raises(ValueError, match="fixes every axis"):
        registry.plot_data(
            "rho_ijkl", {"time": t_mid, "h": 325000.0, "lat": 0.0, "lon": 0.0}
        )
    with pytest.raises(KeyError):
        registry.plot_data("nope_ijkl")
    with pytest.raises(ValueError, match="not in grid"):
        registry.plot_data("rho_ijkl", {"altitude": 1.0})


def test_registry_cell_strategy_matches_broadcast(spark, grid_dir):
    """KamodoSpark(strategy='cell') — the repeated-query registry plan —
    answers point queries identically to the broadcast-kernel registry
    (including on a TIMESTAMP time axis, whose epoch-second doubles must
    agree bit-exactly between the driver-snapped lows and the Spark-cast
    cell keys), and release() drops the persisted cell relation."""
    start = GRID_START + timedelta(minutes=5)
    end = GRID_START + timedelta(minutes=95)
    with pytest.warns(UserWarning):
        grid_df = load_grid_range(
            spark, f"{grid_dir}/", start, end, h_range=(292500.0, 357500.0)
        )
    t_mid = (GRID_START + timedelta(minutes=40)).timestamp()
    pts = spark.createDataFrame(
        [(0, t_mid, 90.0, 0.0, 325000.0), (1, t_mid + 213.0, 181.5, 12.5, 300001.0),
         (2, t_mid, 90.0, 0.0, 1.0)],  # oob h -> fill
        "point_id long, time double, lon double, lat double, h double",
    )
    ref = KamodoSpark(grid_df)  # auto -> broadcast at this size
    cell = KamodoSpark(grid_df, strategy="cell")
    try:
        exp = {r["point_id"]: r["rho"] for r in ref["rho"](pts).collect()}
        for _ in range(2):  # repeated queries reuse the persisted relation
            got = {r["point_id"]: r["rho"] for r in cell["rho"](pts).collect()}
            assert set(got) == set(exp)
            for k in exp:
                assert got[k] == pytest.approx(exp[k], rel=1e-9, abs=1e-12)
    finally:
        cell.release()
    assert cell._cells is None


def test_cell_registry_use_after_release_raises_clearly(spark):
    """Querying a released cell- or broadcast-strategy registry raises a
    RuntimeError naming the cause, not an opaque NoneType failure or a
    destroyed-broadcast error deep in Spark."""
    rows = [
        (float(t), float(x), t + 2.0 * x)
        for t in (0.0, 1.0, 2.0)
        for x in (0.0, 1.0, 2.0)
    ]
    df = spark.createDataFrame(rows, "time double, lon double, rho double")
    pts = spark.createDataFrame([(0, 0.5, 0.5)], "point_id long, time double, lon double")
    for strategy in ("cell", "broadcast"):
        reg = KamodoSpark(df, axes=("time", "lon"), strategy=strategy)
        reg["twice"] = "2 * rho"
        assert reg["rho"](pts).count() == 1
        reg.release()
        assert reg._cells is None and reg._slab is None
        calls = [lambda: reg["rho"](pts), lambda: reg["twice"](pts)]
        if strategy == "broadcast":  # gridded calls read the held slab too
            calls.append(lambda: reg["rho_ijkl"](time=0.5))
        for call in calls:
            with pytest.raises(RuntimeError, match="release"):
                call()
        reg.release()  # idempotent


def test_release_warns_instead_of_swallowing(spark):
    """A failed destroy/unpersist is reported, not silently dropped."""
    rows = [(float(t), float(x), t + x) for t in (0.0, 1.0) for x in (0.0, 1.0)]
    reg = KamodoSpark(
        spark.createDataFrame(rows, "time double, lon double, rho double"),
        axes=("time", "lon"),
        strategy="broadcast",
    )
    slab = reg._slab

    class Failing:
        def destroy(self):
            raise OSError("boom")

    reg._slab = Failing()
    with pytest.warns(RuntimeWarning, match="boom"):
        reg.release()
    assert reg._slab is None
    slab.destroy()


class _Jobs:
    """Spark jobs submitted inside the block, counted from its job group."""

    def __init__(self, spark, name):
        self.sc = spark.sparkContext
        self.gid = f"test-registry-{name}"
        self.ids = []

    def __enter__(self):
        self.sc.setJobGroup(self.gid, self.gid)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        # the status store is fed by the async listener bus — drain it first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.ids = list(self.sc.statusTracker().getJobIdsForGroup(self.gid))


def test_broadcast_registry_gathers_once_and_calls_map_side(spark, grid_dir):
    """A broadcast registry pays its slab gather at build (one fused model
    pass + one unordered collect: <= 3 jobs); each point call is then ONE
    job whose plan has no Exchange and no Sort, bounds/midpoint run no job,
    and repeated calls agree."""
    from kamodo_dask_spark.plans.checks import executed_plan

    start = GRID_START + timedelta(minutes=5)
    end = GRID_START + timedelta(minutes=95)
    with pytest.warns(UserWarning):
        df = load_grid_range(spark, f"{grid_dir}/", start, end, h_range=(292500.0, 357500.0))
    with _Jobs(spark, "build") as build:
        reg = KamodoSpark(df)
    assert reg.strategy == "broadcast"
    assert 1 <= len(build.ids) <= 3, build.ids
    try:
        t_mid = (GRID_START + timedelta(minutes=40)).timestamp()
        pts = spark.createDataFrame(
            [(0, t_mid, 90.0, 0.0, 325000.0), (1, t_mid + 213.0, 181.5, 12.5, 300001.0)],
            "point_id long, time double, lon double, lat double, h double",
        )
        answers = []
        for i in range(2):
            with _Jobs(spark, f"call-{i}") as call:
                out = reg["T"](pts)
                answers.append(sorted(out.collect()))
            assert len(call.ids) == 1, call.ids
            plan = executed_plan(out)
            assert "Exchange" not in plan and "Sort" not in plan, plan
        assert answers[0] == answers[1]
        assert answers[0][0]["T"] == pytest.approx(
            temp_fn(t_mid, 90.0, 0.0, 325000.0), rel=1e-6
        )
        with _Jobs(spark, "gridded") as gridded:
            assert len(reg["T_ijkl"](time=t_mid, lat=0.0).collect()) == 17 * 3
        assert len(gridded.ids) == 1, gridded.ids
        with _Jobs(spark, "extent") as extent:
            reg.get_bounds()
            reg.get_midpoint()
        assert extent.ids == []
    finally:
        reg.release()


def test_bounds_and_midpoint_match_the_spark_aggregates(spark):
    """The registry's job-free bounds/midpoint equal the model layer's
    Spark aggregates, timestamp axis included (epoch-second midpoint)."""
    from datetime import datetime

    from kamodo_dask_spark.grid.model import grid_bounds, grid_midpoint

    times = [datetime(2024, 3, 1, 0, 10 * k) for k in range(3)]
    rows = [(t, x, float(k + x)) for k, t in enumerate(times) for x in (-1.5, 0.0, 4.0)]
    df = spark.createDataFrame(rows, "time timestamp, lon double, rho double")
    reg = KamodoSpark(df, axes=("time", "lon"))
    try:
        assert reg.get_bounds() == grid_bounds(df, ("time", "lon"))
        want = grid_midpoint(df, ("time", "lon"))
        got = reg.get_midpoint()
        assert set(got) == set(want)
        for ax in want:
            assert type(got[ax]) is type(want[ax])
            assert got[ax] == pytest.approx(want[ax], rel=1e-15)
    finally:
        reg.release()


def test_broadcast_registry_rejects_bad_slab_at_build(spark):
    """A non-dense slab, and one where a duplicated node masks a missing
    one (row count still equals the cardinality product), raise at build
    with the density message — not on the first call."""
    rows = [(x1, x2, x1 + 2 * x2) for x1 in (0.0, 1.0) for x2 in (0.0, 1.0)]
    holed = spark.createDataFrame(rows[:-1], "x1 double, x2 double, val double")
    with pytest.raises(ValueError, match="grid is not dense"):
        KamodoSpark(holed, axes=("x1", "x2"), strategy="broadcast")
    masked = spark.createDataFrame(rows[:-1] + [rows[0]], "x1 double, x2 double, val double")
    with pytest.raises(ValueError, match="grid is not dense"):
        KamodoSpark(masked, axes=("x1", "x2"), strategy="broadcast")
