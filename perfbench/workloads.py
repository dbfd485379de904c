"""The benchmark's four workloads, one per kind of user of the lake.

Each workload drives the package's public functions the way its user does
and times every op with the benchmark's own clock. A run does a fixed amount
of work sized from ``--seconds`` (``cycles``), so op counts and CPU per op
compare between runs. Every op's output is checked (:mod:`checks`) outside
the timed region: batch ops right after they end, stream replays after the
replay.

* ``dashboard`` — Grafana refresh cycles over the seven reference panels.
* ``lake_export`` — the Airflow DAG run: export one 1-day window of the
  flagship interpolation to parquet, then the Athena enrichment join.
* ``stream_replay`` — the Lambda melt and the Flink CEP consumers over a
  seeded backlog, one after the other, each with AvailableNow.
* ``corpus`` — the LLM-data curation operators.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
from contextlib import nullcontext

from pyspark.sql import functions as F

from time_series_and_data_lakes_spark import queries as Q
from time_series_and_data_lakes_spark.sources.export import export_window
from time_series_and_data_lakes_spark.streaming import (
    match_error_pattern_stream,
    melt_stream,
    read_json_stream,
    start_narrow_store_sink,
)

import checks
import datagen

DASHBOARD_PANELS = [
    "g1_cep_pivot_by_bin",
    "g2_measure_series",
    "g3_raw_feed_ordered",
    "g4_status_counts",
    "g5_binned_percentiles",
    "g6_top_sensors_recent_max",
    "g7_per_sensor_interval_max",
]
CORPUS_OPS = [
    "dedup_components",
    "ann_ivf_kmeans_topk",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "pipe_quality_funnel",
    "pipe_decontaminate",
    "multimodal_decode_stats",
    "text_bm25_topk",
]
EXPORT_KIND = "export_window+a1_enrichment_join"
STREAM_KIND = "backlog_file"
STREAM_TIMEOUT_S = 120


class Ctx:
    """What every workload needs: the session, the input dirs and the
    run's scratch dir."""

    def __init__(self, spark, run_dir: str, lake: str, seed: int):
        self.spark = spark
        self.run_dir = run_dir
        self.lake = lake
        self.seed = seed
        self._db = None
        self._oracles: dict[str, object] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    @property
    def db(self):
        """DuckDB over the lake's tables, opened at the first check."""
        if self._db is None:
            self._db = checks.oracle_db(self.lake)
        return self._db

    def oracle(self, kind: str):
        """The DuckDB oracle's output for a catalog query, computed once."""
        if kind not in self._oracles:
            self._oracles[kind] = self.db.execute(Q.ORACLES[kind]).df()
        return self._oracles[kind]


def _phase(tracer, name):
    return tracer.span(name) if tracer else nullcontext()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cycles(seconds: int, cycle_s: float, least: int) -> int:
    return max(least, round(seconds / cycle_s))


def _finish(query, what: str) -> None:
    """Wait for an AvailableNow query; a stuck or failed one raises."""
    if not query.awaitTermination(STREAM_TIMEOUT_S):
        query.stop()
        raise RuntimeError(f"{what} query still running after {STREAM_TIMEOUT_S} s")
    if query.exception() is not None:
        raise RuntimeError(f"{what} query failed: {query.exception()}")


def tree_stats(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``, hidden files included."""
    files = size = 0
    for d, _dirs, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


class QueryCycles:
    """Closed loop, one client: the op kinds run as cycles, each cycle in a
    seeded shuffled order. One op is one catalog query, from the query call
    through the noop sink."""

    def __init__(self, name: str, kinds: list[str], cycle_s: float):
        self.name = name
        self.kinds = kinds
        self.cycle_s = cycle_s  # about one cycle's seconds on a 4-core host

    def cycles(self, seconds: int, least: int = 1) -> int:
        return _cycles(seconds, self.cycle_s, least)

    def warm(self, ctx: Ctx) -> None:
        """One untimed op of every kind on the measured inputs."""
        for kind in self.kinds:
            self.run_op(ctx, kind, None)

    def schedule(self, seed: int):
        """Refresh cycles: every kind once per cycle, in a seeded order."""
        rng = random.Random(f"{self.name}:{seed}")
        while True:
            order = list(self.kinds)
            rng.shuffle(order)
            yield order

    def run_op(self, ctx: Ctx, kind: str, tracer) -> dict:
        fn = Q.QUERIES[kind]
        t0 = time.perf_counter()
        with _phase(tracer, "build"):
            df = fn(ctx.spark, ctx.lake)
        exchanges = 0
        if tracer:
            with tracer.span("plan"):
                exchanges = tracer.plan(df)
        with _phase(tracer, "exec"):
            _noop(df)
        wall = time.perf_counter() - t0
        ctx.spark.catalog.clearCache()
        return {"wall_s": wall, "exchanges": exchanges}

    def check_op(self, ctx: Ctx, kind: str, rec: dict) -> str | None:
        """Collect the query's output again and compare it with its DuckDB
        oracle."""
        got = Q.QUERIES[kind](ctx.spark, ctx.lake).toPandas()
        ctx.spark.catalog.clearCache()
        return checks.frame_diff(got, ctx.oracle(kind))


class LakeExport:
    """The Airflow DAG run. One op exports the flagship interpolation for one
    1-day window as parquet under the run's lake (idempotent overwrite of the
    window's prefix), then runs the Athena-side enrichment join."""

    name = "lake_export"
    kinds = [EXPORT_KIND]
    cycle_s = 2.0  # about one DAG run's seconds on a 4-core host

    def cycles(self, seconds: int, least: int = 1) -> int:
        return _cycles(seconds, self.cycle_s, least)

    def schedule(self, seed: int):
        """One DAG run per cycle, over the fixture's days in a seeded order."""
        rng = random.Random(f"{self.name}:{seed}")
        days = list(range(datagen.SPAN_DAYS))
        while True:
            rng.shuffle(days)
            for d in days:
                start = dt.datetime(2024, 1, 1) + dt.timedelta(days=d)
                yield [(start, start + dt.timedelta(days=1))]

    def warm(self, ctx: Ctx) -> None:
        """Two untimed DAG runs over the days just past the fixture's, so
        every timed window is new to the run (a new window literal costs
        code generation)."""
        for day in range(datagen.SPAN_DAYS, datagen.SPAN_DAYS + 2):
            start = dt.datetime(2024, 1, 1) + dt.timedelta(days=day)
            self.run_op(ctx, (start, start + dt.timedelta(days=1)), None)

    def run_op(self, ctx: Ctx, window, tracer) -> dict:
        start, end = window
        base = ctx.path("export")
        exchanges = 0
        t0 = time.perf_counter()
        with _phase(tracer, "build"):
            interp = Q.q1_flagship_interpolate(ctx.spark, ctx.lake)
        if tracer:
            with tracer.span("plan"):
                exchanges += tracer.plan(interp)
        with _phase(tracer, "export"):
            path = export_window(interp, base, start, end)
        with _phase(tracer, "build"):
            joined = Q.a1_enrichment_join(ctx.spark, ctx.lake)
        if tracer:
            with tracer.span("plan"):
                exchanges += tracer.plan(joined)
        with _phase(tracer, "exec"):
            _noop(joined)
        wall = time.perf_counter() - t0
        files, size = tree_stats(path)
        return {
            "wall_s": wall,
            "exchanges": exchanges,
            "window": [start.isoformat(), end.isoformat()],
            "path": path,
            "files_written": files,
            "bytes_written": size,
        }

    def check_op(self, ctx: Ctx, window, rec: dict) -> str | None:
        """The exported window, read back with DuckDB, must equal the
        oracle's interpolation filtered to it, and the join's output (collected
        again) its oracle. Records the rows the export landed."""
        err, rec["rows_written"] = checks.check_export(ctx.db, rec["path"], *window)
        if err:
            return f"export: {err}"
        got = Q.a1_enrichment_join(ctx.spark, ctx.lake).toPandas()
        err = checks.frame_diff(got, ctx.oracle("a1_enrichment_join"))
        return f"join: {err}" if err else None


class StreamReplay:
    """The two stream consumers over a seeded backlog read from the start:
    ingest (JSON files → melt → narrow store) and then CEP (JSON files → NFA
    → memory sink), each with AvailableNow and one file per trigger. One op
    is one backlog file; its latency is the file's ingest micro-batch plus
    its CEP micro-batch, each the query's own ``triggerExecution``."""

    name = "stream_replay"
    kinds = [STREAM_KIND]

    cycle_s = 1.0  # about one backlog file's seconds on a 4-core host

    def cycles(self, seconds: int, least: int = 4) -> int:
        """Backlog files a run replays."""
        return _cycles(seconds, self.cycle_s, least)

    def warm(self, ctx: Ctx) -> None:
        """One untimed replay of a two-file backlog of another seed."""
        src = ctx.path("warm_backlog")
        datagen.write_backlog(src, ctx.seed + 1, 0, 2)
        self.replay(ctx, src, ctx.path("warm_stream"), "warm", None)

    def replay(self, ctx: Ctx, src: str, out: str, tag: str, tracer) -> dict:
        spark = ctx.spark
        store = os.path.join(out, "store")
        ckpt = os.path.join(out, "ckpt_ingest")
        with _phase(tracer, "build"):
            narrow = melt_stream(read_json_stream(spark, src, max_files_per_trigger=1))
        with _phase(tracer, "exec"):
            q = start_narrow_store_sink(narrow, store, ckpt)
            _finish(q, "ingest")
        ingest = q.recentProgress
        with _phase(tracer, "build"):
            wide = read_json_stream(spark, src, max_files_per_trigger=1)
            typed = wide.select(
                "sensor_id",
                F.timestamp_millis("event_time").alias("time"),
                "status",
                "temperature",
            )
            matches = match_error_pattern_stream(typed, within="INTERVAL 1 MINUTE")
        table = f"cep_{tag}"
        with _phase(tracer, "exec"):
            q2 = (
                matches.writeStream.format("memory")
                .queryName(table)
                .outputMode("append")
                .option("checkpointLocation", os.path.join(out, "ckpt_cep"))
                .trigger(availableNow=True)
                .start()
            )
            _finish(q2, "CEP")
        return {
            "ingest": [p for p in ingest if p.numInputRows > 0],
            "cep": [p for p in q2.recentProgress if p.numInputRows > 0],
            "store": store,
            "ckpt": ckpt,
            "table": table,
        }


WORKLOADS = {
    "dashboard": QueryCycles("dashboard", DASHBOARD_PANELS, cycle_s=5.0),
    "lake_export": LakeExport(),
    "stream_replay": StreamReplay(),
    "corpus": QueryCycles("corpus", CORPUS_OPS, cycle_s=15.0),
}
