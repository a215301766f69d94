"""Function / interpolator registry.

The reference registers one point interpolator and one gridded interpolator
per measure on a dict-like ``Kamodo`` object with units metadata
(``KamodoDask``, kamodo_dask/kamodo_dask.py:301-357).

[REF-BUG] parity note: the reference's registration loop captures the loop
variable ``rgi`` by reference (kamodo_dask.py:328-351), so every registered
interpolator silently evaluates the *last* measure's grid. This registry
binds per-measure state at registration time — each measure interpolates its
own data (the intended semantics; guarded by a test).

Build cost is paid once, as the reference pays it at registration
(kamodo_dask.py:301-357): one aggregation pass gives the row count and every
axis's levels (density check, shape, bounds and midpoint all derive from it),
and a ``strategy="broadcast"`` registry then gathers its slab once for all
measures and holds one broadcast. Each point call is then one map-side job
(a single ``mapInPandas`` over the points: no scan, no exchange), and so is
every ``*_ijkl``, derived and ``plot_data`` evaluation. The driver holds the
slab plus that broadcast until :meth:`KamodoSpark.release`.
"""

from __future__ import annotations

import warnings

import numpy as np
from pyspark.sql import DataFrame, functions as F

# validate_dense and grid_axes are no longer called here; they stay bound in
# this module because perfbench/tracer.py patches these attributes.
from kamodo_dask_spark.grid.model import (  # noqa: F401
    DEFAULT_AXES,
    check_dense,
    grid_axes,
    grid_levels,
    normalize_measure_columns,
    units_of,
    validate_dense,
)
from kamodo_dask_spark.grid.interpolate import (
    _axis_arrays,
    broadcast_slab,
    build_cell_relation,
    gridded_eval,
    interpolate_points,
    interpolate_points_broadcast,
    interpolate_points_cells,
)

#: Slabs at or below this many rows broadcast comfortably; larger slabs use
#: the distributed corner join.
BROADCAST_MAX_ROWS = 4_000_000


class KamodoSpark(dict):
    """Dict-like registry mapping measure names to interpolator callables.

    ``reg['rho'](points_df)`` → point interpolation (I3);
    ``reg['rho_ijkl'](time=…, lon=…)`` → gridded evaluation (I4, unspecified
    axes default to the full grid). Units parsed from ``name[units]`` column
    spellings ride along as ``StructField`` metadata (I5) and in ``.units``.
    """

    def __init__(
        self,
        grid_df: DataFrame,
        axes: tuple[str, ...] = DEFAULT_AXES,
        fill_value: float = 0.0,
        strategy: str = "auto",
    ):
        super().__init__()
        self.axes = tuple(axes)
        self.fill_value = float(fill_value)
        self.df = normalize_measure_columns(grid_df)
        self.measures = [c for c in self.df.columns if c not in self.axes]
        self.units = {m: units_of(self.df, m) for m in self.measures}

        n_rows, self.levels = grid_levels(self.df, self.axes)
        sizes = check_dense(n_rows, self.levels)
        self.shape = tuple(sizes[ax] for ax in self.axes)
        self._axis_arrays = _axis_arrays(self.df, self.axes, levels=self.levels)

        if strategy == "auto":
            strategy = "broadcast" if n_rows <= BROADCAST_MAX_ROWS else "corner"
        self.strategy = strategy

        # "cell" = the registry's REPEATED-query plan (SCALE.md): reshape
        # the slab into its cell relation ONCE at registration, persist it,
        # and answer every point query with a single equi-join — no slab
        # re-scan, no 2^d explode, per query. Built over all measures in
        # one pass so k measures share the d window shuffles.
        # "broadcast" gathers the dense slab ONCE for all measures and holds
        # one broadcast that every point/gridded/derived call evaluates
        # against; a slab that is not dense (or has a duplicated node masking
        # a missing one) raises here, at build.
        self._cells = None
        self._slab = None
        if strategy == "broadcast":
            self._slab = broadcast_slab(
                self.df, self.axes, self.measures, self._axis_arrays, self.fill_value
            )
        elif strategy == "cell":
            # build_cell_relation runs its own density aggregation even
            # though check_dense just passed — NOT redundant: the
            # cardinality-product check cannot see a duplicated node
            # masking a missing one, the build's count+distinct check can
            # (and a fooled windowed lead would silently corrupt cells).
            self._cells = build_cell_relation(
                self.df,
                self.axes,
                self.measures,
                self.fill_value,
                axis_arrays=self._axis_arrays,
            ).persist()

        for m in self.measures:
            # bind `m` at definition time (default-arg binding) — the fix for
            # the reference's late-binding closure bug.
            def point_fn(points_df: DataFrame, _m: str = m) -> DataFrame:
                return self._points(points_df, [_m])

            def gridded_fn(_m: str = m, **coords) -> DataFrame:
                return self._gridded(coords, [_m])

            point_fn.units = self.units[m]
            gridded_fn.units = self.units[m]
            self[m] = point_fn
            self[f"{m}_ijkl"] = gridded_fn

    def _held(self, state):
        """The held slab broadcast / cell relation, or a loud use-after-
        release error — without it the query dies with an opaque failure
        deep in Spark (a destroyed broadcast, a NoneType relation)."""
        if state is None:
            raise RuntimeError(
                f"this {self.strategy}-strategy registry has been release()d "
                "— rebuild it (or hold the current refresher registry, not a "
                "stale reference)"
            )
        return state

    def _points(self, points_df: DataFrame, measures: list[str]) -> DataFrame:
        """Point interpolation of ``measures`` with the registry's strategy."""
        if self.strategy == "broadcast":
            return interpolate_points_broadcast(
                self.df,
                points_df,
                self.axes,
                measures,
                self.fill_value,
                slab=self._held(self._slab),
            )
        if self.strategy == "cell":
            return interpolate_points_cells(
                None,
                points_df,
                self.axes,
                measures,
                self.fill_value,
                axis_arrays=self._axis_arrays,
                cells=self._held(self._cells),
            )
        return interpolate_points(
            self.df,
            points_df,
            self.axes,
            measures,
            self.fill_value,
            axis_arrays=self._axis_arrays,
        )

    def _gridded(self, coords: dict, measures: list[str]) -> DataFrame:
        """Gridded evaluation of ``measures``; broadcast registries evaluate
        against their held slab."""
        return gridded_eval(
            self.df,
            coords,
            self.axes,
            measures,
            self.fill_value,
            axis_arrays=self._axis_arrays,
            slab=self._held(self._slab) if self.strategy == "broadcast" else None,
        )

    def release(self) -> None:
        """Release engine-held state: the slab broadcast (``"broadcast"``) or
        the persisted cell relation (``"cell"``). Call when replacing a
        registry — e.g. a slab refresh loop — so superseded slabs don't
        accumulate on the driver, the executors or the storage layer. Later
        calls on this registry raise ``RuntimeError``. No-op for ``"corner"``.
        A failed unpersist/destroy is reported as a warning, not raised."""
        for attr, drop in (("_slab", "destroy"), ("_cells", "unpersist")):
            state = getattr(self, attr)
            if state is None:
                continue
            setattr(self, attr, None)
            try:
                getattr(state, drop)()
            except Exception as e:
                warnings.warn(
                    f"KamodoSpark.release(): {drop}() of the {self.strategy} "
                    f"state failed: {e!r}",
                    RuntimeWarning,
                    stacklevel=2,
                )

    def register(self, name: str, expr: str, units: str = "") -> None:
        """Register a DERIVED function: a Spark SQL expression over already-
        registered measures — the Spark-native equivalent of the reference's
        Kamodo sympy composition (``kd['speed[m/s]'] = 'sqrt(u**2+v**2)'``;
        kamodo_dask.py:301 inherits it from the public Kamodo base class).

        ``expr`` references measure names as columns (Spark SQL spelling:
        ``sqrt(u*u + v*v)``, ``power(rho, 2)``). Evaluation is
        interpolate-then-compose: the point/gridded function interpolates
        every referenced measure in ONE slab pass, then applies the
        expression JVM-side — so ``reg['speed'](points)`` costs the same
        plan as a single multi-measure interpolation plus a project.

        ``name`` may carry units in the ``name[units]`` spelling; an explicit
        ``units=`` argument wins.
        """
        import re

        from kamodo_dask_spark.grid.model import parse_units

        name, parsed_units = parse_units(name)
        units = units or parsed_units

        deps = [d for d in self.measures if re.search(rf"\b{re.escape(d)}\b", expr)]
        if not deps:
            raise ValueError(
                f"expression {expr!r} references no registered measure "
                f"(known: {self.measures})"
            )

        def point_fn(points_df: DataFrame, _deps=tuple(deps), _expr=expr) -> DataFrame:
            out = self._points(points_df, list(_deps))
            return out.select(*points_df.columns, F.expr(_expr).alias(name))

        def gridded_fn(_deps=tuple(deps), _expr=expr, **coords) -> DataFrame:
            out = self._gridded(coords, list(_deps))
            keep = [c for c in out.columns if c not in _deps]
            return out.select(*keep, F.expr(_expr).alias(name))

        point_fn.units = units
        gridded_fn.units = units
        point_fn.expr = gridded_fn.expr = expr
        self.units[name] = units
        self[name] = point_fn
        self[f"{name}_ijkl"] = gridded_fn

    def __setitem__(self, key, value):
        """Dict-style composition: assigning a STRING registers a derived
        expression function (reference ``kd['speed'] = 'sqrt(u**2+v**2)'``
        shape); assigning a callable stores it as-is."""
        if isinstance(value, str):
            self.register(key, value)
            return
        super().__setitem__(key, value)

    def plot_data(self, name: str, plot_partial: dict | None = None) -> dict:
        """Plot-READY payload for a registered gridded function — the engine
        half of the reference's ``kd.plot('rho_ijkl', plot_partial=…)``
        (docs/interpolator.md:352-386, I7). The reference delegates figure
        construction to kamodo-core/plotly; this engine ends at the exact
        structure those front-ends consume: per-free-axis coordinate arrays
        plus an N-D value tensor in axis order (x/y/z of a plotly
        Heatmap/Surface, the (x, y) of a line plot).

        ``plot_partial`` fixes axes to scalar values (accepts both the
        reference's nested ``{name: {axis: v}}`` spelling and a flat
        ``{axis: v}``); the remaining free axes span the full grid. The
        mesh is evaluated DISTRIBUTED via the registered ``*_ijkl``
        function; only the plot-sized result is collected.

        Returns ``{"name", "units", "axes": {axis: np.ndarray}, "values":
        np.ndarray (shape = free-axis lengths), "fixed": {axis: float}}``.
        """
        import numpy as np

        key = name if name.endswith("_ijkl") else f"{name}_ijkl"
        if key not in self:
            raise KeyError(f"no gridded function {key!r} registered")
        measure = key[: -len("_ijkl")]
        partial = plot_partial or {}
        if key in partial or measure in partial:  # reference's nested form
            partial = partial.get(key, partial.get(measure))
        bad = set(partial) - set(self.axes)
        if bad:
            raise ValueError(f"plot_partial axes not in grid: {sorted(bad)}")
        # same coercion as gridded_eval: datetime / pd.Timestamp / ISO
        # string are the natural spellings for a timestamp axis (float()
        # alone would reject them)
        from kamodo_dask_spark.grid.interpolate import coerce_axis_value

        fixed = {ax: coerce_axis_value(v) for ax, v in partial.items()}
        free = [ax for ax in self.axes if ax not in fixed]
        if not free:
            raise ValueError("plot_partial fixes every axis — nothing to plot")

        out = self[key](**fixed)  # unspecified axes default to the full grid
        pdf = out.toPandas().sort_values(free)
        axes_arrays = {
            ax: np.asarray(sorted(pdf[ax].unique()), dtype=float) for ax in free
        }
        shape = tuple(len(axes_arrays[ax]) for ax in free)
        values = pdf[measure].to_numpy(dtype=float).reshape(shape)
        return {
            "name": key,
            "units": self.units.get(measure, ""),
            "axes": axes_arrays,
            "values": values,
            "fixed": fixed,
        }

    def get_bounds(self) -> dict:
        """Per-axis (min, max) of the raw levels held since build — no Spark
        job (``get_bounds``, kamodo_dask.py:353-354)."""
        return {ax: (lv[0], lv[-1]) for ax, lv in self.levels.items()}

    def get_midpoint(self) -> dict:
        """Per-axis mean of the distinct levels, timestamps as epoch seconds
        — no Spark job (``get_midpoint``, kamodo_dask.py:356-357)."""
        return {ax: float(np.mean(arr)) for ax, arr in self._axis_arrays.items()}

    def __repr__(self) -> str:  # pragma: no cover
        entries = ", ".join(
            f"{m}[{self.units[m]}]" if self.units[m] else m for m in self.measures
        )
        return f"KamodoSpark({entries}; shape={self.shape}, strategy={self.strategy})"
