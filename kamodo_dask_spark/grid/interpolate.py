"""N-linear grid interpolation, Spark-first.

The reference's flagship capability: materialize a dense 4-D grid and expose
each measure as a callable multilinear interpolator
(``RegularGridInterpolator(axes, data, bounds_error=False, fill_value=0)``,
kamodo_dask/kamodo_dask.py:335-341). Two Spark strategies:

1. :func:`interpolate_points` — **corner join** (relational, fully
   distributed): snap each query coordinate to its bracketing grid values per
   axis (J1), explode each point into its 2^d surrounding corners with
   multilinear weights, equi-join the (possibly huge) grid on the corner
   keys, and ``groupBy(point).sum(weight*value)`` (J2). The grid never leaves
   the executors — this is the 100 TB path. AQE picks broadcast vs shuffle
   join at runtime from the actual slab size.

2. :func:`interpolate_points_broadcast` — **broadcast slab** (exact parity
   with the reference's execution): gather the slab with one unordered
   Arrow collect, order it on the driver into a dense ndarray, broadcast
   it, and evaluate a vectorized NumPy kernel per Arrow batch of query
   points via ``mapInPandas``. Right when the slab is small (the
   reference's canonical 13×17×10×7 workload is ~15k rows) and the point
   set is large. Like the reference's registration-time interpolators, a
   registry gathers the slab ONCE at build (:func:`broadcast_slab`) and
   passes it as ``slab=``: each later call is one map-side job, and the
   driver holds the slab plus one broadcast until ``release()``.

Both return ``fill_value`` for out-of-bounds points without error
(kamodo_dask.py:337-338) and treat grid-edge coordinates as in-bounds,
matching SciPy semantics.
"""

from __future__ import annotations

from functools import reduce
from itertools import product

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from kamodo_dask_spark.grid.model import DEFAULT_AXES, grid_axes

#: Above this per-axis cardinality the O(n)-per-row literal-array snap would
#: dominate; switch to an Arrow-batched binary-search snap.
_LITERAL_AXIS_MAX = 2048

#: A dense slab with at most this many rows (= product of axis cardinalities)
#: gets an explicit broadcast hint on the corner join: the size is provable at
#: plan time, so there is no reason to plan a shuffle exchange and wait for
#: AQE's runtime broadcast conversion. ~1M rows of (d doubles + measures)
#: is well under the 8GB broadcast ceiling.
_BROADCAST_GRID_MAX_ROWS = 1_000_000
# Ceiling on the per-task hash-build side of the corner join: slab rows per
# shuffle partition above which the SHUFFLE_HASH hint is NOT applied and AQE
# picks the join (sort-merge spills; a hash build cannot).
_HASH_BUILD_MAX_ROWS_PER_TASK = 2_000_000

#: Below this dense-slab row bound, ``interpolate_points(strategy="auto")``
#: skips the corner join entirely: collect the slab once, broadcast the dense
#: ndarray, and evaluate the NumPy kernel map-side over the points — ZERO
#: exchanges in the plan (no corner explode, no join, no group-by). A 200k-row
#: slab of doubles is a few MB — cheaper to ship to every executor than to
#: shuffle the (16× exploded) point stream. The reference's canonical
#: 13×17×10×7 workload (~15k rows) is deep inside this regime.
_FUSED_SLAB_MAX_ROWS = 200_000


def nlinear_interp(
    axes: list[np.ndarray],
    values: np.ndarray,
    pts: np.ndarray,
    fill_value: float = 0.0,
) -> np.ndarray:
    """Vectorized d-linear interpolation on a regular (rectilinear) grid.

    NumPy re-implementation of SciPy's ``RegularGridInterpolator`` linear
    method with ``bounds_error=False`` (kamodo_dask.py:335-338): grid edges
    inclusive, strictly-outside points → ``fill_value``. Doubles as the
    test oracle for the relational path.
    """
    d = len(axes)
    m = len(pts)
    idxs, fracs = [], []
    oob = np.zeros(m, dtype=bool)
    for k, ax in enumerate(axes):
        x = pts[:, k]
        oob |= (x < ax[0]) | (x > ax[-1]) | np.isnan(x)
        i = np.clip(np.searchsorted(ax, x, side="right") - 1, 0, len(ax) - 2)
        denom = ax[i + 1] - ax[i]
        fracs.append((x - ax[i]) / denom)
        idxs.append(i)
    out = np.zeros(m, dtype=np.float64)
    for bits in product((0, 1), repeat=d):
        w = np.ones(m, dtype=np.float64)
        corner = []
        for k, b in enumerate(bits):
            w *= fracs[k] if b else (1.0 - fracs[k])
            corner.append(idxs[k] + b)
        out += w * values[tuple(corner)]
    out[oob] = fill_value
    return out


def _session_tz(spark) -> str:
    """The SQL session timezone — the zone in which ARROW-delivered
    timestamps (``toPandas``/pandas-UDF inputs) arrive as naive values.
    Driver-side ``collect()`` is different: it converts to SYSTEM-local
    naive ``datetime`` objects, whose ``.timestamp()`` is already the true
    epoch. Mixing the two conventions shifts axes by the tz offset — each
    conversion site below names which convention its input uses."""
    return spark.conf.get("spark.sql.session.timeZone", "UTC")


def _driver_epoch_seconds(v) -> float:
    """Epoch seconds of a DRIVER-SIDE datetime-like (``collect()`` output or
    user-supplied coordinate): naive values are system-local — exactly
    ``datetime.timestamp()`` semantics, matching how ``createDataFrame``
    interprets naive datetimes on ingestion. ``pd.Timestamp`` overrides
    ``.timestamp()`` with naive-as-UTC semantics, so it is unwrapped first."""
    if hasattr(v, "to_pydatetime"):
        v = v.to_pydatetime()
    return v.timestamp()


def coerce_axis_value(v) -> float:
    """Axis value → float64 in axis units: numerics pass through,
    datetime-likes (the natural spelling for a timestamp axis) convert to
    epoch seconds with driver-side (system-local naive) semantics — the
    same interpretation applied to ``collect()``-derived axis values, so a
    user coordinate and the axis array it is compared against always live
    in the same frame. Shared by ``gridded_eval`` and the registry's
    ``plot_data``."""
    if isinstance(v, str):
        import pandas as pd

        return _driver_epoch_seconds(pd.Timestamp(v))
    if hasattr(v, "timestamp"):
        return _driver_epoch_seconds(v)
    return float(v)


def _axis_arrays(
    grid_df: DataFrame,
    axes: tuple[str, ...],
    levels: dict[str, list] | None = None,
) -> dict[str, np.ndarray]:
    """Distinct sorted per-axis values as float64 (timestamps → epoch secs).
    Pass ``levels`` (a prior :func:`grid_axes` result) to skip re-running
    the distinct-axis aggregation jobs."""
    vals = levels if levels is not None else grid_axes(grid_df, axes)
    out = {}
    for ax, vs in vals.items():
        if len(vs) < 2:
            raise ValueError(f"axis {ax!r} needs >= 2 grid values, got {len(vs)}")
        out[ax] = np.asarray(
            [
                _driver_epoch_seconds(v) if hasattr(v, "timestamp") else float(v)
                for v in vs
            ],
            dtype=np.float64,
        )
    return out


def _as_double(ax: str, df: DataFrame) -> F.Column:
    """Axis coordinate as float64. A single cast covers every axis type:
    Spark's timestamp→double IS epoch seconds (the reference's
    ``v.value/1e9``, kamodo_dask.py:309), and numerics widen losslessly."""
    return F.col(ax).cast("double")


def _snap_columns(
    points: DataFrame,
    axes: tuple[str, ...],
    arrays: dict[str, np.ndarray],
    with_index: bool = False,
) -> DataFrame:
    """Append ``_lo/_hi/_frac`` per axis and an ``_oob`` flag to the points.

    Small axes (the normal dense-grid case) snap JVM-side against a literal
    sorted array — stays inside whole-stage codegen, zero joins, zero
    shuffles. Oversized axes fall back to an Arrow-batched
    ``np.searchsorted`` (O(log n) per point).

    ``with_index=True`` additionally emits the cell's low-corner AXIS INDEX
    per axis (``_loi_{ax}`` int) — integer join keys for the cell strategy:
    int keys carry no ``NormalizeFloatingNumbers`` wrapper, so a persisted
    cell relation's build-time ordering/partitioning satisfies the join
    requirements outright (the double-key join re-sorted per query).
    """
    big = [ax for ax in axes if len(arrays[ax]) > _LITERAL_AXIS_MAX]
    oob = F.lit(False)
    df = points
    for ax in axes:
        arr = arrays[ax]
        x = _as_double(ax, points)
        oob = oob | (x < float(arr[0])) | (x > float(arr[-1])) | x.isNull()
        if ax not in big:
            n = len(arr)
            lit_arr = F.lit([float(v) for v in arr])
            cnt = F.aggregate(
                lit_arr,
                F.lit(0),
                lambda acc, v: acc + F.when(v <= x, F.lit(1)).otherwise(F.lit(0)),
            )
            idx = F.least(F.greatest(cnt - F.lit(1), F.lit(0)), F.lit(n - 2))
            lo = F.element_at(lit_arr, idx + F.lit(1))
            hi = F.element_at(lit_arr, idx + F.lit(2))
            frac = (x - lo) / (hi - lo)
            cols = {f"_lo_{ax}": lo, f"_hi_{ax}": hi, f"_frac_{ax}": frac}
            if with_index:
                cols[f"_loi_{ax}"] = idx.cast("int")
            df = df.withColumns(cols)
    if big:
        df = _snap_udf(df, big, arrays, with_index=with_index)
    return df.withColumn("_oob", oob)


def _snap_udf(
    df: DataFrame,
    axes_subset: list[str],
    arrays: dict[str, np.ndarray],
    with_index: bool = False,
) -> DataFrame:
    """Arrow-batched searchsorted snap for large axes (broadcast axis arrays)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast({ax: arrays[ax] for ax in axes_subset})

    import pandas as pd

    parts = ("lo", "hi", "frac") + (("loi",) if with_index else ())
    fields = [
        T.StructField(
            f"_{part}_{ax}", T.IntegerType() if part == "loi" else T.DoubleType()
        )
        for ax in axes_subset
        for part in parts
    ]
    out_type = T.StructType(fields)

    # NB: no type hints — pandas_udf can't infer an eval type for a varargs
    # signature; the explicit returnType + default SCALAR type suffice.
    def _snap(*cols):
        data = {}
        local = bc.value
        for series, ax in zip(cols, axes_subset):
            ax_arr = local[ax]
            x = series.to_numpy(dtype=np.float64)
            i = np.clip(np.searchsorted(ax_arr, x, side="right") - 1, 0, len(ax_arr) - 2)
            lo, hi = ax_arr[i], ax_arr[i + 1]
            data[f"_lo_{ax}"] = lo
            data[f"_hi_{ax}"] = hi
            data[f"_frac_{ax}"] = (x - lo) / (hi - lo)
            if with_index:
                data[f"_loi_{ax}"] = i.astype(np.int32)
        return pd.DataFrame(data)

    snap = F.pandas_udf(_snap, out_type)

    packed = df.withColumn("_snap", snap(*[_as_double(ax, df) for ax in axes_subset]))
    for ax in axes_subset:
        for part in parts:
            packed = packed.withColumn(f"_{part}_{ax}", F.col(f"_snap._{part}_{ax}"))
    return packed.drop("_snap")


def _collect_dense_slab(
    grid_df: DataFrame,
    axes: tuple[str, ...],
    measures: list[str],
    arrays: dict[str, np.ndarray],
    fill_value: float,
):
    """Driver collect of the slab as dense ndarrays.

    One unordered Arrow ``toPandas()`` (a single scan job: no sample job, no
    range exchange), put in axis order on the driver with ``np.lexsort`` —
    the slab is driver-sized by construction, so sorting it there is cheaper
    than a Spark ``orderBy``. Returns ``(axis_list, slabs)`` or ``None`` when
    the grid is not dense (row count ≠ ∏ axis cardinalities) — the explicit
    version of the reference's trusted reshape (kamodo_dask.py:325,334). NaN
    measures become ``fill_value`` here, before interpolation."""
    shape = tuple(len(arrays[ax]) for ax in axes)
    expected = int(np.prod(shape))
    frame = grid_df.select(
        *[_as_double(ax, grid_df).alias(ax) for ax in axes],
        *[F.col(m).cast("double").alias(m) for m in measures],
    ).toPandas()
    if len(frame) != expected:
        return None
    # Count alone can't catch a duplicated row masking a missing one (the
    # reshape would then misalign every value after the gap) — the collected
    # frame is driver-sized here, so an exact pandas duplicate check is free.
    if frame.duplicated(subset=list(axes)).any():
        return None
    # lexsort's LAST key is the primary one: reverse so axis 1 varies slowest
    order = np.lexsort([frame[ax].to_numpy() for ax in reversed(axes)])
    slabs = {
        m: np.nan_to_num(frame[m].to_numpy(np.float64)[order], nan=fill_value).reshape(shape)
        for m in measures
    }
    return [arrays[ax] for ax in axes], slabs


def broadcast_slab(
    grid_df: DataFrame,
    axes: tuple[str, ...],
    measures: list[str],
    arrays: dict[str, np.ndarray],
    fill_value: float = 0.0,
):
    """Gather the dense slab once (:func:`_collect_dense_slab`) and broadcast
    ``(axis_list, {measure: ndarray})`` — the prebuilt ``slab=`` that
    :func:`interpolate_points_broadcast` and :func:`gridded_eval` evaluate
    against. Raises ``ValueError`` when the slab is not dense or a duplicated
    node masks a missing one. The caller owns the broadcast: ``destroy()``
    it when done."""
    collected = _collect_dense_slab(grid_df, axes, measures, arrays, fill_value)
    if collected is None:
        shape = tuple(len(arrays[ax]) for ax in axes)
        n = grid_df.count()
        raise ValueError(
            f"grid is not dense: {n} rows != {int(np.prod(shape))} "
            f"(= {' * '.join(map(str, shape))})"
        )
    return grid_df.sparkSession.sparkContext.broadcast(collected)


def _fused_kernel_map(
    points_df: DataFrame,
    axes: tuple[str, ...],
    measures: list[str],
    bc,
    fill_value: float,
) -> DataFrame:
    """Map-side interpolation against a broadcast dense slab (a
    :func:`broadcast_slab` result): the NumPy kernel runs per Arrow batch of
    points. Preserves the input point schema exactly (timestamp axes convert
    to epoch seconds *inside* the kernel) and appends one double column per
    measure — same output contract as the corner join, zero exchanges in the
    plan."""
    import pandas as pd  # noqa: F401 — executor-side dependency

    spark = points_df.sparkSession
    axes_l = list(axes)
    fv = float(fill_value)
    ts_axes = {ax for ax, t in points_df.dtypes if ax in axes_l and t == "timestamp"}
    # Arrow delivers timestamps NAIVE in the session timezone; the axis
    # arrays are true UTC epoch seconds — localize before converting or the
    # kernel evaluates at times shifted by the tz offset (only visible when
    # the session tz isn't UTC; the corner path casts Spark-side and was
    # always correct).
    tz = _session_tz(spark)
    out_schema = T.StructType(
        list(points_df.schema.fields) + [T.StructField(m, T.DoubleType()) for m in measures]
    )

    def eval_batches(batches):
        ax_arrs, slab_map = bc.value
        for pdf in batches:
            cols = []
            for ax in axes_l:
                s = pdf[ax]
                if ax in ts_axes:
                    # naive (session tz) → UTC epoch seconds
                    s = (
                        s.dt.tz_localize(
                            tz, ambiguous=True, nonexistent="shift_forward"
                        )
                        .dt.tz_convert("UTC")
                        .dt.tz_localize(None)
                        .astype("datetime64[us]")
                        .astype("int64")
                        / 1e6
                    )
                cols.append(s.astype("float64").to_numpy())
            pts = (
                np.column_stack(cols)
                if len(pdf)
                else np.empty((0, len(axes_l)), dtype=np.float64)
            )
            res = pdf.copy()
            for m in measures:
                res[m] = nlinear_interp(ax_arrs, slab_map[m], pts, fv)
            yield res

    return points_df.mapInPandas(eval_batches, out_schema)


def interpolate_points(
    grid_df: DataFrame,
    points_df: DataFrame,
    axes: tuple[str, ...] = DEFAULT_AXES,
    measures: list[str] | None = None,
    fill_value: float = 0.0,
    axis_arrays: dict[str, np.ndarray] | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Multilinear interpolation, strategy-selected at plan time.

    Output: the original point columns plus one double column per measure.

    ``strategy``:

    - ``"auto"`` (default): when the dense-slab row bound (∏ axis
      cardinalities) is ≤ :data:`_FUSED_SLAB_MAX_ROWS`, collect + broadcast
      the slab and evaluate the NumPy kernel map-side — a plan with ZERO
      exchanges. Non-dense slabs (collect finds fewer rows than the bound)
      fall back to the corner join, whose coverage accounting turns missing
      corners into ``fill_value``. Large slabs always take the corner join.
    - ``"corner"``: force the relational corner join (J1 + J2) — snap, 2^d
      corner explode, equi-join, group-by. The grid never leaves the
      executors; this is the 100 TB path for one-shot queries and partial
      slabs.
    - ``"cell"``: :func:`interpolate_points_cells` — reshape the (dense)
      slab into its cell relation (d window passes), then one equi-join
      per query with a row-local weighted sum: the point stream crosses a
      single 1×-width exchange instead of 2^d-exploding and re-grouping.
      Wins when points ≫ slab or the slab serves repeated queries (pass a
      prebuilt relation directly to ``interpolate_points_cells``).

    Semantics note: the corner join merges duplicate point rows in its final
    group-by; the fused and cell paths preserve them. Include a unique
    ``point_id`` column when duplicates are possible (then all paths agree).
    """
    measures = measures or [c for c, _ in grid_df.dtypes if c not in axes]
    arrays = axis_arrays or _axis_arrays(grid_df, axes)
    d = len(axes)

    if strategy not in ("auto", "corner", "cell"):
        raise ValueError(f"strategy must be auto|corner|cell, got {strategy!r}")
    if strategy == "cell":
        return interpolate_points_cells(
            grid_df, points_df, axes, measures, fill_value, arrays
        )
    dense_bound = int(np.prod([len(arrays[ax]) for ax in axes]))
    if strategy == "auto" and dense_bound <= _FUSED_SLAB_MAX_ROWS:
        collected = _collect_dense_slab(grid_df, axes, measures, arrays, fill_value)
        if collected is not None:
            bc = grid_df.sparkSession.sparkContext.broadcast(collected)
            return _fused_kernel_map(points_df, axes, measures, bc, fill_value)
        # non-dense slab: the corner join's coverage accounting handles it

    point_cols = points_df.columns
    pts = _snap_columns(points_df, axes, arrays)

    # Explode each point into its 2^d corners with multilinear weights.
    corners = []
    for bits in product((0, 1), repeat=d):
        fields, w = [], F.lit(1.0)
        for k, b in enumerate(bits):
            ax = axes[k]
            fields.append((F.col(f"_hi_{ax}") if b else F.col(f"_lo_{ax}")).alias(f"_k_{ax}"))
            fr = F.col(f"_frac_{ax}")
            w = w * (fr if b else (F.lit(1.0) - fr))
        corners.append(F.struct(*fields, w.alias("_w")))
    exploded = pts.withColumn("_c", F.explode(F.array(*corners)))
    exploded = exploded.select(
        *point_cols,
        "_oob",
        *[F.col(f"_c._k_{ax}").alias(f"_k_{ax}") for ax in axes],
        F.col("_c._w").alias("_w"),
    )

    # Grid keyed by float64 corner coordinates (exact values — they came from
    # the grid itself, so float equality is safe). NaN AND NULL measures
    # become fill_value BEFORE interpolation (kamodo_dask.py:334): nanvl
    # alone passes SQL NULL through (NULL is not NaN), which would zero the
    # coverage sum and hard-fill the whole point — while the fused path
    # (np.nan_to_num after toPandas, NULL→NaN) blends fill_value at just
    # that node. coalesce-to-NaN first keeps the two strategies identical.
    grid_keyed = grid_df.select(
        *[_as_double(ax, grid_df).alias(f"_k_{ax}") for ax in axes],
        *[
            F.nanvl(
                F.coalesce(F.col(m).cast("double"), F.lit(float("nan"))),
                F.lit(float(fill_value)),
            ).alias(m)
            for m in measures
        ],
    )

    # Dense-grid row count is provable at plan time (∏ axis cardinalities, an
    # upper bound for partial slabs) — hint broadcast for small slabs instead
    # of planning a shuffle and waiting for AQE's runtime conversion. Large
    # slabs stay a hash join on near-uniform corner keys; AQE still applies.
    if dense_bound <= _BROADCAST_GRID_MAX_ROWS:
        grid_keyed = F.broadcast(grid_keyed)
    else:
        # Mid-size slabs: SHUFFLE_HASH with the grid as build side. Spark's
        # default picks a sort-merge join here — two full sorts on 4
        # normalized-double corner keys (measured 1.7× slower at a 1.23M-row
        # slab × 1.6M corner rows). Per-task build size is the slab divided
        # by spark.sql.shuffle.partitions (NOT the scan's maxPartitionBytes
        # — post-shuffle partitioning is governed by the shuffle-partition
        # count / AQE advisory size), so the hint is gated: hash-build only
        # while dense_bound / shuffle_partitions stays under
        # _HASH_BUILD_MAX_ROWS_PER_TASK (~2M rows ≈ low hundreds of MB of
        # packed doubles + hash overhead per task). Slabs beyond that leave
        # join selection to AQE, where sort-merge spills instead of OOMing
        # the build.
        # same gate as the cell relation's (d=0: corner rows are 1× wide)
        if _cells_hash_join_safe(dense_bound, 0, grid_df.sparkSession):
            grid_keyed = grid_keyed.hint("SHUFFLE_HASH")
    joined = exploded.join(grid_keyed, on=[f"_k_{ax}" for ax in axes], how="left")

    aggs = []
    for m in measures:
        aggs.append(F.sum(F.col("_w") * F.col(m)).alias(f"_v_{m}"))
        aggs.append(F.sum(F.when(F.col(m).isNotNull(), F.col("_w"))).alias(f"_cov_{m}"))
    grouped = joined.groupBy(*point_cols, "_oob").agg(*aggs)

    # fill_value for out-of-bounds points AND for points whose corner support
    # is incomplete (non-dense slab) — the latter turns the reference's
    # silent reshape corruption into defined behavior.
    out_cols = list(point_cols)
    for m in measures:
        # coalesce: zero corner support (all 2^d grid rows missing) leaves the
        # conditional sum NULL — without it the when() below would propagate
        # NULL instead of fill_value for those points.
        cov = F.coalesce(F.col(f"_cov_{m}"), F.lit(0.0))
        covered = F.abs(cov - F.lit(1.0)) < F.lit(1e-9)
        out_cols.append(
            F.when(F.col("_oob") | ~covered, F.lit(float(fill_value)))
            .otherwise(F.col(f"_v_{m}"))
            .alias(m)
        )
    return grouped.select(*out_cols)


def _enable_subset_copartition(spark) -> None:
    """Sticky, cell-strategy-scoped opt-in: accept co-partitioning on a
    SUBSET of the join keys. A persisted cell relation keeps its
    build-time window partitioning (hash on d−1 axis keys); with Spark's
    conservative default (require ALL keys) every point query re-exchanges
    the full slab-sized relation — this conf is what lets the query
    shuffle ONLY the point side (plan-pinned in test_plans.py).

    Deliberately NOT an engine-wide default (it used to be): the conf
    changes exchange planning for every join in the session — a relation
    pre-partitioned on a low-cardinality subset of later join keys would
    run that join at the subset's parallelism. Sessions that never touch
    the cell strategy keep Spark's default; sessions that do accept the
    trade session-wide (the conf must be live at ACTION time, after these
    lazy builders have returned, so a set/restore scope cannot work).
    Axis keys are high-cardinality by construction, so the known downside
    does not apply to the joins this enables."""
    try:
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    except Exception:
        pass  # read-only conf service (e.g. Connect) — planner falls back
        # to re-exchanging the cells side: slower, never wrong


def build_cell_relation(
    grid_df: DataFrame,
    axes: tuple[str, ...] = DEFAULT_AXES,
    measures: list[str] | None = None,
    fill_value: float = 0.0,
    axis_arrays: dict[str, np.ndarray] | None = None,
) -> DataFrame:
    """Reshape a DENSE grid slab into its CELL relation: one row per grid
    cell, keyed by the cell's low corner (``_k_{ax}`` float64 per axis),
    carrying all 2^d corner values per measure as an array
    (``_cells_{m}``, index ``i`` = corner bits ``b_1..b_d`` of the axes in
    order, ``b_1`` most significant).

    This is the join-side precomputation behind the ``"cell"``
    interpolation strategy: d windowed ``lead`` passes (one shuffle per
    axis, slab-sized but narrow) gather each cell's corners so point
    lookups become ONE equi-join with a row-local weighted sum — no 2^d
    point explode and no per-point re-aggregation shuffle. The relation
    depends only on the slab, so repeated point queries (the registry's
    usage pattern — one slab, many lookups) amortize the build; persist it
    or write it as a table for a long-lived slab.

    NULL/NaN node values become ``fill_value`` (the corner join's node
    semantics). Requires a dense slab (row count = ∏ axis cardinalities) —
    raises ``ValueError`` otherwise, because a windowed ``lead`` over a
    gapped axis would silently pair non-adjacent nodes; non-dense slabs
    belong to the corner join, whose coverage accounting defines them.

    d=1 caveat: the single window has no partition keys, so the build
    sorts the whole axis in ONE task — fine for axis-sized relations
    (axes are small by construction), but a huge 1-D "grid" should use
    ``asof_uniform_grid`` or the corner join instead.

    Cache-budget cap (measured, SCALE.md round-6 probe): the relation is
    2^d× WIDER than the raw slab (every corner materialized in 2^d cells
    ≈ ``dense_bound × 2^d × 8 B × n_measures``), and the strategy's
    per-query win assumes the persisted relation is served from memory.
    At 96M cells (~19 GB, past the local storage pool) query scans went
    disk-bound and the corner join won outright — size the cache budget
    before choosing this strategy for a long-lived slab.
    """
    from pyspark.sql import Window

    _enable_subset_copartition(grid_df.sparkSession)
    measures = measures or [c for c, _ in grid_df.dtypes if c not in axes]
    arrays = axis_arrays or _axis_arrays(grid_df, axes)
    expected = int(np.prod([len(arrays[ax]) for ax in axes]))

    base = grid_df.select(
        *[_as_double(ax, grid_df).alias(f"_k_{ax}") for ax in axes],
        *[
            F.nanvl(
                F.coalesce(F.col(m).cast("double"), F.lit(float("nan"))),
                F.lit(float(fill_value)),
            ).alias(m)
            for m in measures
        ],
    )
    # count AND distinct-coordinate count in one job: a duplicated node
    # masking a missing one passes a bare row count (and validate_dense's
    # per-axis cardinality product) but would make the windowed lead pair a
    # duplicate key — two cells sharing one low corner, silently duplicating
    # and corrupting every query row that joins them. Same hole
    # _collect_dense_slab guards on the broadcast path.
    n, nd = base.agg(
        F.count(F.lit(1)), F.countDistinct(*[f"_k_{ax}" for ax in axes])
    ).first()
    if n != expected or nd != expected:
        raise ValueError(
            f"cell relation requires a dense slab: {n} rows / {nd} distinct "
            f"coordinates != {expected} expected; use the corner join for "
            "partial or duplicated slabs"
        )

    # Integer axis-index key per axis (``_ki_{ax}``) alongside the node
    # value: int join keys carry no NormalizeFloatingNumbers wrapper, so a
    # persisted relation's build-time hash partitioning AND in-partition
    # ordering satisfy the point join's requirements syntactically — the
    # double-key join re-sorted the whole relation per query. Derived by
    # exact-equality position in the axis literal (the same exactness the
    # value join itself assumed); NULL when a node value is not a literal
    # array member, which the value join would also have failed to match.
    # Axes beyond the literal bound keep the legacy value keys.
    int_keys = all(len(arrays[ax]) <= _LITERAL_AXIS_MAX for ax in axes)
    key = (lambda ax: f"_ki_{ax}") if int_keys else (lambda ax: f"_k_{ax}")
    if int_keys:
        idx_cols = {}
        for ax in axes:
            lit_arr = F.lit([float(v) for v in arrays[ax]])
            pos = F.array_position(lit_arr, F.col(f"_k_{ax}"))
            idx_cols[f"_ki_{ax}"] = F.when(pos > 0, (pos - 1).cast("int"))
        base = base.withColumns(idx_cols)

    cells = base.select(
        *[F.col(f"_k_{ax}") for ax in axes],
        *([F.col(f"_ki_{ax}") for ax in axes] if int_keys else []),
        *[F.array(F.col(m)).alias(f"_cells_{m}") for m in measures],
    )
    carry = [f"_k_{a}" for a in axes] + ([f"_ki_{a}" for a in axes] if int_keys else [])
    # process axes LAST-first so the final array index is
    # b_1*2^(d-1) + ... + b_d (axis 1 most significant)
    for ax in reversed(axes):
        w = (
            Window.partitionBy(*[key(a) for a in axes if a != ax])
            .orderBy(key(ax))
        )
        cells = (
            cells.select(
                *[F.col(c) for c in carry],
                F.lead(key(ax)).over(w).alias("_nxt"),
                *[
                    F.concat(
                        F.col(f"_cells_{m}"), F.lead(f"_cells_{m}").over(w)
                    ).alias(f"_cells_{m}")
                    for m in measures
                ],
            )
            # the last node along the axis is not the low corner of any cell
            .filter(F.col("_nxt").isNotNull())
            .drop("_nxt")
        )
    if not _cells_hash_join_safe(expected, len(axes), grid_df.sparkSession):
        # SMJ regime (relation too big for an unspillable hash build): sort
        # within the final window pass's partitions ONCE at build. With int
        # keys the persisted ordering satisfies the join's required ordering
        # outright (no normalization wrapper), so the per-query cells-side
        # Sort is ELIDED from the plan; with legacy double keys the Sort
        # node stays but runs spill-free over already-ordered cached runs
        # (21.3 s -> 2.0 s per 1M-point query at a 19M-cell relation). No
        # exchange: the subset hash partitioning (co-partition reuse) kept.
        cells = cells.sortWithinPartitions(*[key(ax) for ax in axes])
    return cells


def _cells_hash_join_safe(dense_bound: int, d: int, spark) -> bool:
    """True while a cell relation of ``dense_bound`` nodes can safely be the
    build side of a shuffled-hash join: per-task build rows (dense_bound /
    shuffle partitions) under the corner-join ceiling scaled by the 2^d row
    widening. A hash build cannot spill — beyond this, the join must be
    left to AQE so sort-merge can spill instead of OOMing."""
    try:
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except Exception:
        n_shuffle = 200
    return dense_bound <= (_HASH_BUILD_MAX_ROWS_PER_TASK // (2**d)) * max(n_shuffle, 1)


def interpolate_points_cells(
    grid_df: DataFrame | None,
    points_df: DataFrame,
    axes: tuple[str, ...] = DEFAULT_AXES,
    measures: list[str] | None = None,
    fill_value: float = 0.0,
    axis_arrays: dict[str, np.ndarray] | None = None,
    cells: DataFrame | None = None,
) -> DataFrame:
    """Cell-relation interpolation strategy: snap each point to its low
    corner, ONE equi-join against :func:`build_cell_relation`'s output, and
    a row-local unrolled weighted sum over the 2^d in-row corner values.

    vs the corner join: no 2^d point explode and no per-point group-by —
    the point stream crosses exactly one exchange at 1× width, so for the
    production regime (points ≫ slab, or repeated queries against one
    slab via ``cells=``) this is the cheapest relational plan. The build
    itself costs d slab-sized window shuffles, so for one-shot queries
    with slab ≫ points the corner join still wins — measured crossover in
    SCALE.md. Duplicate point rows are PRESERVED (fused-path semantics;
    the corner join's final group-by would merge them).

    Pass ``cells`` to reuse a prebuilt (possibly persisted) cell relation;
    ``grid_df`` may then be None. Requires a dense slab (see
    :func:`build_cell_relation`).
    """
    if measures is None:
        if grid_df is not None:
            measures = [c for c, _ in grid_df.dtypes if c not in axes]
        elif cells is not None:
            measures = [
                c[len("_cells_"):] for c in cells.columns if c.startswith("_cells_")
            ]
        else:
            raise ValueError("pass grid_df or a prebuilt cells relation")
    if axis_arrays is None:
        if grid_df is None:
            raise ValueError("axis_arrays is required when grid_df is None")
        axis_arrays = _axis_arrays(grid_df, axes)
    arrays = axis_arrays
    d = len(axes)
    _enable_subset_copartition(points_df.sparkSession)
    if cells is None:
        cells = build_cell_relation(grid_df, axes, measures, fill_value, arrays)

    dense_bound = int(np.prod([len(arrays[ax]) for ax in axes]))
    # the cell relation is 2^d× wider per row than the raw slab — scale the
    # broadcast cutoff down accordingly; above it, same hash-build logic as
    # the corner join (cells build side, point stream probes), with the
    # per-task ceiling also divided by 2^d: a hash build cannot spill, and
    # an ungated hint OOMed the build at a 96M-cell relation (100^4 probe,
    # 32 shuffle partitions → ~3M × 2^d-wide rows per task). Beyond the
    # ceiling AQE picks the join; sort-merge spills instead of dying.
    if dense_bound <= _BROADCAST_GRID_MAX_ROWS // (2**d):
        cells = F.broadcast(cells)
    elif _cells_hash_join_safe(dense_bound, d, points_df.sparkSession):
        cells = cells.hint("SHUFFLE_HASH")

    point_cols = points_df.columns
    # join on the integer axis-index keys when the relation carries them
    # (built with all axes inside the literal bound): int keys avoid the
    # NormalizeFloatingNumbers wrapper on join requirements, so a persisted
    # relation's build partitioning AND ordering are reused as-is — no
    # cells-side Exchange and no cells-side Sort in the per-query plan.
    int_keys = all(f"_ki_{ax}" in cells.columns for ax in axes)
    pts = _snap_columns(points_df, axes, arrays, with_index=int_keys)
    if int_keys:
        cond = reduce(
            lambda a, b: a & b,
            [pts[f"_loi_{ax}"] == cells[f"_ki_{ax}"] for ax in axes],
        )
    else:
        cond = reduce(
            lambda a, b: a & b,
            [pts[f"_lo_{ax}"] == cells[f"_k_{ax}"] for ax in axes],
        )
    joined = pts.join(cells, on=cond, how="left")

    out_cols = list(point_cols)
    for m in measures:
        total = F.lit(0.0)
        for i in range(2**d):
            w = F.lit(1.0)
            for k, ax in enumerate(axes):
                bit = (i >> (d - 1 - k)) & 1
                fr = F.col(f"_frac_{ax}")
                w = w * (fr if bit else (F.lit(1.0) - fr))
            total = total + F.element_at(F.col(f"_cells_{m}"), i + 1) * w
        out_cols.append(
            F.when(F.col("_oob"), F.lit(float(fill_value)))
            .otherwise(F.coalesce(total, F.lit(float(fill_value))))
            .alias(m)
        )
    return joined.select(*out_cols)


def interpolate_points_broadcast(
    grid_df: DataFrame | None,
    points_df: DataFrame,
    axes: tuple[str, ...] = DEFAULT_AXES,
    measures: list[str] | None = None,
    fill_value: float = 0.0,
    axis_arrays: dict[str, np.ndarray] | None = None,
    slab=None,
) -> DataFrame:
    """Broadcast-slab strategy: dense ndarray on every executor, NumPy kernel
    over Arrow batches of points (I3a). The gather is cardinality and
    duplicate checked — the explicit version of the reference's trusted
    reshape (kamodo_dask.py:325,334). Pass ``axis_arrays`` when the axes are
    already known to skip the per-axis distinct job.

    Pass ``slab`` (a :func:`broadcast_slab` result holding at least
    ``measures``) to evaluate against a slab gathered earlier: the call then
    plans a single ``mapInPandas`` over the points — no scan, no exchange,
    one job when run; ``grid_df`` may then be None if ``measures`` is given.
    Without it each call gathers and broadcasts its own slab."""
    measures = measures or [c for c, _ in grid_df.dtypes if c not in axes]
    if slab is None:
        arrays = axis_arrays or _axis_arrays(grid_df, axes)
        slab = broadcast_slab(grid_df, axes, measures, arrays, fill_value)
    return _fused_kernel_map(points_df, axes, measures, slab, fill_value)


def gridded_eval(
    grid_df: DataFrame,
    coords: dict[str, list | float] | None = None,
    axes: tuple[str, ...] = DEFAULT_AXES,
    measures: list[str] | None = None,
    fill_value: float = 0.0,
    strategy: str = "auto",
    axis_arrays: dict[str, np.ndarray] | None = None,
    slab=None,
) -> DataFrame:
    """Gridded (meshgrid) evaluation — the reference's ``@gridify`` functions
    ``var_ijkl(time=…, lon=…, lat=…, h=…)`` (kamodo_dask.py:343-348).

    Unspecified axes default to the full grid axis; supplied axes may be a
    scalar or list. The query-point relation is the per-axis meshgrid,
    built as ONE ``range(∏ sizes)`` decode (div/mod strides + literal-array
    ``element_at``) — a single whole-stage-codegen projection that
    parallelizes across the range, instead of a chain of one-row
    ``crossJoin``s (k−1 BroadcastNestedLoopJoins, one partition, and a plan
    the catalog's no-BNLJ sweep would reject). Then point interpolation.
    Result stays a DataFrame: one row per mesh point.

    ``strategy`` is forwarded to :func:`interpolate_points` (auto | corner |
    broadcast — and validated there, so typos raise instead of silently
    running auto). Pass ``axis_arrays`` (e.g. the registry's cached arrays)
    to skip re-running the distinct-axis aggregation on every call — on a
    big grid that is a full-table job per invocation. Pass ``slab`` (a
    :func:`broadcast_slab` result) to evaluate against that broadcast; it
    implies ``strategy="broadcast"``.
    """
    coords = coords or {}
    arrays = axis_arrays or _axis_arrays(grid_df, axes)
    spark = grid_df.sparkSession

    coerce = coerce_axis_value

    per_axis: list[list[float]] = []
    for ax in axes:
        vals = coords.get(ax)
        if vals is None:
            vals_list = [float(v) for v in arrays[ax]]
        elif np.isscalar(vals) or hasattr(vals, "timestamp"):
            vals_list = [coerce(vals)]
        else:
            vals_list = [coerce(v) for v in vals]
        per_axis.append(vals_list)

    sizes = [len(v) for v in per_axis]
    empty = [ax for ax, s in zip(axes, sizes) if s == 0]
    if empty:
        # the old crossJoin builder returned a silent empty mesh; a zero
        # stride here would be a bare ZeroDivisionError — name the axis
        raise ValueError(f"empty coordinate list for axis {empty[0]!r}")
    n_mesh = int(np.prod(sizes))
    cols, stride = [], n_mesh
    for ax, vals_list, size in zip(axes, per_axis, sizes):
        stride //= size
        idx = ((F.col("id") / stride).cast("long") % size + 1).cast("int")
        cols.append(F.element_at(F.lit(vals_list), idx).alias(ax))
    mesh = spark.range(n_mesh).select(*cols)

    if strategy == "broadcast" or slab is not None:
        return interpolate_points_broadcast(
            grid_df, mesh, axes, measures, fill_value, axis_arrays=arrays, slab=slab
        )
    return interpolate_points(
        grid_df, mesh, axes, measures, fill_value, axis_arrays=arrays,
        strategy=strategy,
    )
