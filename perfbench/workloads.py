"""The benchmark's workloads. Each is a closed loop with one client: a step
is issued only after the previous request has answered.

A workload exposes ``warm_up(tracer, tally)``, ``step(tracer, tally)``,
``verify(tally)`` and ``close()``, plus ``STEP``, the request kinds one step
is made of, and ``HEAVY``, the kinds that build state or iterate (the rest
are answers from that state, or single scans).
"""

from __future__ import annotations

import os
import sys
import traceback
from contextlib import contextmanager
from time import perf_counter

import numpy as np

from fixtures import (
    H,
    H_LEVELS,
    LAT,
    LON,
    MEASURES,
    STREAM_AXES,
    WINDOW_FILES,
    Window,
    expected_values,
    make_points,
    missing_index,
    pick_window,
    file_time,
    grid_file_name,
    write_catalog,
    write_grid_day,
    write_grid_file,
)
from checks import count_bad_values, frame_digest
from tracer import plan_seconds


class Tally:
    """(kind, latency) of each answered request, grouped by step, and the
    requests attempted / failed."""

    def __init__(self):
        self.steps: list[list[tuple[str, float]]] = []
        self.attempted = 0
        self.failed = 0

    def begin_step(self) -> None:
        self.steps.append([])

    def latencies(self) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for step in self.steps:
            for kind, dt in step:
                out.setdefault(kind, []).append(dt)
        return out

    @contextmanager
    def timed(self, tracer, kind: str):
        """Time one request. An exception fails the request (traceback to
        stderr) instead of ending the run; ``outcome["ok"]`` says which."""
        outcome = {"ok": False}
        self.attempted += 1
        t0 = perf_counter()
        try:
            with tracer.request(kind):
                yield outcome
            outcome["ok"] = True
            self.steps[-1].append((kind, perf_counter() - t0))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            print(f"check failed: {what}", file=sys.stderr)
            self.failed += 1


class GridSession:
    """Open a seeded 2-hour window with an h-range (``load_grid_range`` ->
    ``KamodoSpark``, auto strategy = broadcast) and make a 1k-point call on
    the registry. Then land the next file in a watched directory, wait until
    the running ``stream_grid_files`` -> ``SlabRefresher(strategy="cell")``
    query (2-hour retention) has replaced its registry (``refresh``), and
    answer a 1k-point call on the new registry (``fresh_1k``, which pays the
    deferred cell build). The live feed is the same fields on the coarser
    :data:`fixtures.STREAM_AXES` grid."""

    STEP = ("open", "call_1k", "refresh", "fresh_1k")
    HEAVY = ("open", "refresh", "fresh_1k")
    POINTS = {"call_1k": 1_000, "fresh_1k": 1_000}
    CHECK_SAMPLE = 500
    #: Files in the watched directory before the stream starts: one short of
    #: the retained 2 hours, so every refresh rebuilds a 13-time slab.
    PRELOAD = WINDOW_FILES - 1

    def __init__(self, spark, work: str, seed: int):
        from kamodo_dask_spark.grid.model import normalize_measure_columns
        from kamodo_dask_spark.streaming import SlabRefresher, stream_grid_files
        from kamodo_dask_spark.streaming.files import GRID_FILE_SCHEMA
        from pyspark.sql import types as T

        self.spark = spark
        self.seed = seed
        self.rng = np.random.default_rng([seed, 3])
        self.check_rng = np.random.default_rng([seed, 4])
        self.grid_dir = os.path.join(work, "grid")
        self.field = write_grid_day(self.grid_dir, seed)

        self.watch_dir = os.path.join(work, "watch")
        self.staging_dir = os.path.join(work, "staging")
        os.makedirs(self.watch_dir)
        os.makedirs(self.staging_dir)
        for i in range(self.PRELOAD):
            write_grid_file(self.watch_dir, i, self.field, STREAM_AXES)
        self.next_file = self.PRELOAD
        schema = T.StructType(
            list(GRID_FILE_SCHEMA.fields) + [T.StructField(c, T.DoubleType()) for c in MEASURES.values()]
        )
        self.refresher = SlabRefresher(
            os.path.join(work, "slab_store"),
            retention_seconds=(WINDOW_FILES - 1) * 600.0,
            strategy="cell",
        )
        self.query = (
            stream_grid_files(spark, self.watch_dir, schema)
            .transform(normalize_measure_columns)
            .writeStream.foreachBatch(self.refresher)
            .option("checkpointLocation", os.path.join(work, "checkpoint"))
            .trigger(processingTime="100 milliseconds")
            .start()
        )
        self.query.processAllAvailable()

    def close(self) -> None:
        self.query.stop()

    def warm_up(self, tr, tally: Tally) -> None:
        """A step that lands no file: the stream's first batch has already
        run the refresh path, so only the cell query is left to warm, on the
        registry that batch built."""
        self._open_and_call(tr, tally)
        measure = str(self.rng.choice(["rho", "T"]))
        self._points(tr, tally, self.refresher.current(), self._feed_window(), measure, "fresh_1k")

    def step(self, tr, tally: Tally) -> None:
        self._open_and_call(tr, tally)
        self._refresh(tr, tally)

    def _feed_window(self) -> Window:
        """The times the live registry holds: the retained 2 hours up to the
        newest landed file, over the feed's full extent."""
        last = self.next_file - 1
        return Window(file_time(max(0, last - WINDOW_FILES + 1)), file_time(last), (float(H[0]), float(H[-1])))

    def _open_and_call(self, tr, tally: Tally) -> None:
        from kamodo_dask_spark import KamodoSpark, load_grid_range

        window = pick_window(self.rng, self.seed)
        with tally.timed(tr, "open") as opened:
            with tr.span("grid.ingest", "load_grid_range"):
                df = load_grid_range(
                    self.spark, self.grid_dir + "/", window.start, window.end, h_range=window.h_range
                )
            reg = KamodoSpark(df)
        if not opened["ok"]:
            return
        k0 = round((window.start - file_time(0)).total_seconds() / 600)
        n_times = WINDOW_FILES - (k0 <= missing_index(self.seed) < k0 + WINDOW_FILES)
        tally.check(reg.shape == (n_times, len(LON), len(LAT), H_LEVELS), f"slab shape {reg.shape}")

        self._points(tr, tally, reg, window, str(self.rng.choice(["rho", "T"])), "call_1k")

    def _refresh(self, tr, tally: Tally) -> None:
        """Land the next file (written aside, then renamed in, so the stream
        never lists a partial file) and time until the registry is replaced."""
        i = self.next_file
        self.next_file += 1
        write_grid_file(self.staging_dir, i, self.field, STREAM_AXES)
        name = grid_file_name(i)
        previous = self.refresher.current()
        with tally.timed(tr, "refresh") as refreshed:
            os.replace(os.path.join(self.staging_dir, name), os.path.join(self.watch_dir, name))
            self.query.processAllAvailable()
        reg = self.refresher.current()
        if not refreshed["ok"]:
            return
        tally.check(reg is not previous, f"file {i} did not replace the registry")
        shape = (WINDOW_FILES, *(len(a) for a in STREAM_AXES))
        tally.check(reg.shape == shape, f"refreshed slab shape {reg.shape}")
        self._points(tr, tally, reg, self._feed_window(), str(self.rng.choice(["rho", "T"])), "fresh_1k")

    def _points(self, tr, tally, reg, window, measure, kind) -> None:
        pdf = make_points(self.rng, window, self.POINTS[kind])
        with tally.timed(tr, kind) as called:
            points = self.spark.createDataFrame(pdf)
            with tr.span("grid.registry", measure):
                answer = reg[measure](points)
            with tr.span("grid.interpolate", "materialize"):
                out = answer.toPandas()
        if not called["ok"]:
            return
        ids = self.check_rng.choice(len(pdf), self.CHECK_SAMPLE, replace=False)
        got = out.set_index("point_id").reindex(pdf["point_id"].to_numpy()[ids])[measure]
        want = expected_values(self.field, measure, window, pdf.iloc[ids])
        bad = count_bad_values(got.to_numpy(), want) + (len(out) != len(pdf))
        tally.check(bad == 0, f"{kind} {measure}: {bad} values off the closed form")

    def verify(self, tally: Tally) -> None:
        """Every grid answer is checked as it arrives."""


OPS_FAMILIES = {
    "dedup": ("minhash_est_jaccard",),
    "graph": ("k_hop_reach",),
    "ml": ("logreg_quality_fit",),
    "scan": ("pricing_summary", "revenue_by_nation", "json_extract", "text_quality"),
}


class PipelineOps:
    """A fixed subset of the operator catalog on the generated catalog
    tables, in seeded order, grouped into four families. Outputs are hashed
    per call and compared with the DuckDB oracles once the loop has ended."""

    HEAVY = OPS_FAMILIES["dedup"] + OPS_FAMILIES["graph"] + OPS_FAMILIES["ml"]
    STEP = HEAVY + OPS_FAMILIES["scan"]

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.rng = np.random.default_rng([seed, 5])
        self.data_dir = os.path.join(work, "catalog")
        write_catalog(self.data_dir)
        self.family = {e: f for f, entries in OPS_FAMILIES.items() for e in entries}
        self.digests: dict[str, list] = {e: [] for e in self.family}

    def step(self, tr, tally: Tally) -> None:
        from kamodo_dask_spark.queries import QUERIES

        for name in self.rng.permutation(self.STEP):
            with tally.timed(tr, name) as ran:
                with tr.span(f"ops.{self.family[name]}", name) as rec:
                    df = QUERIES[name](self.spark, self.data_dir)
                    out = df.toPandas()
            if ran["ok"]:
                if rec is not None:
                    rec["plan_s"] = plan_seconds(df)
                self.digests[name].append(frame_digest(out))

    def close(self) -> None:
        """Nothing runs between steps."""

    def warm_up(self, tr, tally: Tally) -> None:
        self.step(tr, tally)

    def verify(self, tally: Tally) -> None:
        import duckdb

        from kamodo_dask_spark.queries import ORACLES

        with duckdb.connect() as con:
            for f in sorted(os.listdir(self.data_dir)):
                table = f.removesuffix(".parquet")
                con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{self.data_dir}/{f}')")
            for name, digests in self.digests.items():
                want = frame_digest(con.sql(ORACLES[name]).df())
                for got in digests:
                    tally.check(got == want, f"{name}: rows/hash {got} != oracle {want}")


WORKLOADS = {"grid_session": GridSession, "pipeline_ops": PipelineOps}
