"""The benchmark's workloads.

Each workload generates its inputs from the seed with the engine's own
generators and writes them as parquet during set-up; the measured
operations then read only those files, through the engine's public
functions, the way a user of the engine would. Every operation ends in
an action (a parquet write or a read into Arrow), because Spark plans
lazily.

- ``batch``: the backfill job on hot-key-skewed transcripts — the
  1m/1h/1d cascade rollup, LOCF and linear gap-fill at 1h, Gorilla/DoD
  chunk compression and the 1h t-digest sketch tier — then exact dedup
  and near-duplicate clusters over a corpus shipped as one parquet file,
  in the generator's default families of 5.
- ``store``: one writer and one reader on the cascade store. Each cycle
  lands a time-ordered bucket file, drains it through the streaming
  cascade store, then serves range reads from the store and from a
  chunk store.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from collections import Counter
from statistics import median

from harness import data_files, dir_bytes, parquet_rows
import checks

#: files the backfill input is split into
BACKFILL_FILES = 4
#: input sizes; ``tiny`` is the harness self-check scale
SCALES = {
    "full": {
        "backfill_turns": 60_000,
        "store_turns": 60_000,
        "store_files": 5,
        "dedup_docs": 4_000,
    },
    "tiny": {
        "backfill_turns": 6_000,
        "store_turns": 12_000,
        "store_files": 5,
        "dedup_docs": 400,
    },
}


class Workload:
    """One workload: inputs, the measured operation and its checks."""

    name = ""
    min_ops = 1

    def __init__(self, spark, rd, seed: int, tracer, scale: dict):
        self.spark = spark
        self.rd = rd
        self.seed = seed
        self.tracer = tracer
        self.scale = scale
        self.input = ""
        self.counts: dict[str, float] = {}

    def generator_args(self) -> dict:
        raise NotImplementedError

    def make_input(self, dest: str) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Set-up after the inputs exist (part of ``setup_s``)."""

    def has_next(self, i: int) -> bool:
        return True

    def run_op(self, i: int) -> int:
        """Run measured operation ``i``; return the input rows it covered."""
        raise NotImplementedError

    def throughput_latency(self, rows: list[int], walls: list[float]) -> dict:
        """``rows_per_s`` and ``latency_p50_s`` of the measured operations."""
        return {
            "rows_per_s": median(n / s for n, s in zip(rows, walls)),
            "latency_p50_s": median(walls),
        }

    def check(self) -> list[tuple[str, bool, str]]:
        raise NotImplementedError

    def finish_counts(self) -> None:
        """Layer counts read from the outputs (traced runs only)."""

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# backfill
# ---------------------------------------------------------------------------


def rollup_job(spark, input_dir: str, out: str, tracer) -> float:
    """The 1m/1h/1d cascade rollup written as parquet under ``out``;
    returns its wall in seconds."""
    from streamevmon_spark.operators.rollup import rollup_tiers_cascade_exact

    t = time.perf_counter()
    with tracer.span("operators.rollup.rollup_tiers_cascade_exact"):
        tiers = rollup_tiers_cascade_exact(spark.read.parquet(input_dir))
        for tier in ("1m", "1h", "1d"):
            tiers[tier].write.mode("overwrite").parquet(f"{out}/rollup_{tier}")
        for state in tiers["_state"]:
            state.unpersist()
    return time.perf_counter() - t


def backfill_job(spark, input_dir: str, out: str, tracer) -> float:
    """The backfill job: every output written as parquet under ``out``;
    returns the rollup's wall in seconds."""
    from pyspark.sql import functions as F

    from streamevmon_spark.operators.chunks import compress_chunks
    from streamevmon_spark.operators.gapfill import gap_fill
    from streamevmon_spark.operators.rollup import EPOCH_NTZ, SERIES_KEY
    from streamevmon_spark.operators.sketch_rollup import sketch_tier

    rollup_wall = rollup_job(spark, input_dir, out, tracer)
    df = spark.read.parquet(input_dir)
    for method in ("locf", "interp"):
        with tracer.span("operators.gapfill.gap_fill"):
            gap_fill(df, "1h", method).write.mode("overwrite").parquet(
                f"{out}/gapfill_{method}"
            )
    with tracer.span("operators.chunks.compress_chunks"):
        pts = df.select(
            *SERIES_KEY,
            F.expr(f"datediff(MICROSECOND, {EPOCH_NTZ}, ts)").alias("ts_us"),
            "value",
        )
        compress_chunks(pts, "1d").write.mode("overwrite").parquet(f"{out}/chunks")
    with tracer.span("operators.sketch_rollup.sketch_tier"):
        sketch_tier(df, "1h").write.mode("overwrite").parquet(f"{out}/sketch_1h")
    return rollup_wall


class Backfill(Workload):
    name = "backfill"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rollup_walls: list[float] = []

    def generator_args(self) -> dict:
        return {
            "generator": "data.transcripts.generate_transcripts",
            "n_turns": self.scale["backfill_turns"],
            "seed": self.seed,
            "defaults": "n_convs=200 hot_share=0.5 n_hot=2",
            "layout": f"repartition({BACKFILL_FILES}, conv_id, turn_idx)",
        }

    def make_input(self, dest: str) -> None:
        from streamevmon_spark.data.transcripts import generate_transcripts

        # hash-split into files and sorted within each, so the same seed
        # writes the same files (the generator's round-robin split is not
        # reproducible row for row)
        (
            generate_transcripts(
                self.spark, n_turns=self.scale["backfill_turns"], seed=self.seed
            )
            .repartition(BACKFILL_FILES, "conv_id", "turn_idx")
            .sortWithinPartitions("conv_id", "turn_idx")
            .write.parquet(dest)
        )

    def run_op(self, i: int) -> int:
        self.rollup_walls.append(
            backfill_job(self.spark, self.input, self.rd.path("data", "out"), self.tracer)
        )
        return self.scale["backfill_turns"]

    def check(self):
        from streamevmon_spark.oracles import (
            gapfill_oracle,
            rollup_oracle,
            sketch_exact_stats_oracle,
        )
        from streamevmon_spark.operators.chunks import decompress_chunks
        from streamevmon_spark.operators.sketch_rollup import sketch_exact_stats

        out = self.rd.path("data", "out")
        src = checks.parquet(self.input)
        stats_dir = self.rd.path("data", "check_sketch_stats")
        sketch_exact_stats(self.spark.read.parquet(f"{out}/sketch_1h")).write.mode(
            "overwrite"
        ).parquet(stats_dir)
        decoded = self.rd.path("data", "check_chunks_decoded")
        decompress_chunks(self.spark.read.parquet(f"{out}/chunks")).write.mode(
            "overwrite"
        ).parquet(decoded)
        con = checks.connect()
        res = []
        for tier in ("1m", "1h", "1d"):
            res.append(
                checks.diff(
                    con,
                    f"rollup_{tier}",
                    checks.on_transcripts(rollup_oracle(tier), src),
                    f"SELECT * FROM {checks.parquet(f'{out}/rollup_{tier}')}",
                    _ROLLUP_COLS,
                )
            )
        for method in ("locf", "interp"):
            res.append(
                checks.diff(
                    con,
                    f"gapfill_{method}",
                    checks.on_transcripts(gapfill_oracle("1h", method), src),
                    f"SELECT * FROM {checks.parquet(f'{out}/gapfill_{method}')}",
                    ["conv_id", "tool", "role", "grid_ts", "value_filled", "fill_method"],
                )
            )
        # the blobs decode to exactly the raw points (the lossy NULL is
        # stored as the NaN sentinel), and n_points counts them
        res.append(
            checks.diff(
                con,
                "chunks_decode",
                "SELECT conv_id, tool, role, epoch_us(ts) AS ts_us, value"
                f" FROM {src}",
                "SELECT conv_id, tool, role, ts_us, CASE WHEN isnan(value)"
                f" THEN NULL ELSE value END AS value FROM {checks.parquet(decoded)}",
                ["conv_id", "tool", "role", "ts_us", "value"],
            )
        )
        stored, raw = con.execute(
            f"SELECT (SELECT sum(n_points) FROM {checks.parquet(f'{out}/chunks')}),"
            f" (SELECT count(*) FROM {src})"
        ).fetchone()
        res.append(("chunk_n_points", stored == raw, f"stored={stored} raw={raw}"))
        res.append(
            checks.diff(
                con,
                "sketch_1h_exact_stats",
                checks.on_transcripts(sketch_exact_stats_oracle("1h"), src),
                "SELECT conv_id, tool, role, make_timestamp(window_start_us)"
                " AS window_start, lat_count,"
                " CASE WHEN isnan(lat_min_us) THEN NULL ELSE lat_min_us END"
                " AS lat_min_us,"
                " CASE WHEN isnan(lat_max_us) THEN NULL ELSE lat_max_us END"
                f" AS lat_max_us FROM {checks.parquet(stats_dir)}",
                ["conv_id", "tool", "role", "window_start", "lat_count",
                 "lat_min_us", "lat_max_us"],
            )
        )
        return res

    def finish_counts(self) -> None:
        out = self.rd.path("data", "out")
        for tier in ("1m", "1h", "1d"):
            self.counts[f"operators.rollup.rows_out_{tier}"] = parquet_rows(
                f"{out}/rollup_{tier}"
            )
        self.counts["operators.gapfill.points_out"] = sum(
            parquet_rows(f"{out}/gapfill_{m}") for m in ("locf", "interp")
        )
        con = checks.connect()
        blob, points = con.execute(
            "SELECT sum(octet_length(ts_dod) + octet_length(values_gorilla)),"
            f" sum(n_points) FROM {checks.parquet(f'{out}/chunks')}"
        ).fetchone()
        self.counts["operators.chunks.blob_bytes"] = blob
        self.counts["operators.chunks.bytes_per_point"] = blob / points
        self.counts["operators.sketch_rollup.sketch_bytes"] = con.execute(
            "SELECT sum(octet_length(latency_tdigest))"
            f" FROM {checks.parquet(f'{out}/sketch_1h')}"
        ).fetchone()[0]


# ---------------------------------------------------------------------------
# store: ingest and serve
# ---------------------------------------------------------------------------


def _snapshot(root: str) -> dict[str, tuple[int, int]]:
    snap = {}
    for base, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(base, f)
            st = os.stat(p)
            snap[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return snap


_MIN_US = 60_000_000
_DAY_US = 86_400 * 1_000_000


class Store(Workload):
    """One writer and one reader on the same store, in a closed loop.

    Set-up lands the first half of the time-ordered bucket files and
    drains them in one catch-up batch, builds the mergeable 1h/1d state
    face, and compresses the whole input into a Gorilla/DoD chunk store.
    Each measured operation is one cycle: land the next bucket, drain it
    (``stream_cascade_store``: 1m state, manifest record, 1h/1d
    refresh), refresh the mergeable face, then serve four seeded reads —
    ``range_agg_from_store`` and ``chunk_range_read`` over the landed
    range less up to 2 h at its end, ``read_cascade`` 1h and
    ``downsample_m4_from_store`` over the newest day for the hottest
    conversation, as a dashboard panel reads one series.
    ``rows_per_s`` is the writer's: landed turns per second from landing
    to the store refreshed. ``latency_p50_s`` is the reader's: the time
    to answer a cycle's four reads."""

    name = "store"
    #: every bucket left after the catch-up: one cycle's figures swing
    #: with this shared machine's speed, a median of three much less
    min_ops = 3

    def generator_args(self) -> dict:
        return {
            "generator": "data.transcripts.generate_transcripts",
            "n_turns": self.scale["store_turns"],
            "seed": self.seed,
            "defaults": "n_convs=200 hot_share=0.5 n_hot=2",
            "layout": f"{self.scale['store_files']} equal runs in (ts, conv_id,"
                      " turn_idx) order, one file each",
        }

    def make_input(self, dest: str) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from streamevmon_spark.data.transcripts import generate_transcripts

        # bucket k holds the k-th run of rows in (ts, conv_id, turn_idx)
        # order: time-ordered files, the same for the same seed
        n, files = self.scale["store_turns"], self.scale["store_files"]
        order = Window.orderBy("ts", "conv_id", "turn_idx")
        (
            generate_transcripts(self.spark, n_turns=n, seed=self.seed)
            .withColumn("bucket", F.format_string(
                "%03d", ((F.row_number().over(order) - 1) * files / n).cast("int")))
            .repartition("bucket")
            .sortWithinPartitions("ts", "conv_id", "turn_idx")
            .write.partitionBy("bucket")
            .parquet(dest)
        )

    def prepare(self) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from streamevmon_spark.operators.chunks import compress_chunks
        from streamevmon_spark.operators.rollup import EPOCH_NTZ, SERIES_KEY
        from streamevmon_spark.plans.cascade_store import refresh_state_cascade

        # bucket=000 holds the earliest rows: path order is time order
        self.buckets = data_files(self.input)
        self.bounds_us, self.rows = [], []
        for f in self.buckets:
            ts = pq.read_table(f, columns=["ts"])["ts"].cast("int64")
            self.bounds_us.append((pc.min(ts).as_py(), pc.max(ts).as_py()))
            self.rows.append(len(ts))
        convs = pq.read_table(self.buckets[-1], columns=["conv_id"])["conv_id"]
        self.hot_conv = Counter(convs.to_pylist()).most_common(1)[0][0]
        self.landing = self.rd.path("data", "landing")
        self.store = self.rd.path("data", "store")
        self.chunks_dir = self.rd.path("data", "chunks")
        os.makedirs(self.landing)
        self.n_landed = 0
        self.files_written = self.bytes_written = self.bytes_rewritten = 0
        self.reads: list[dict] = []
        self.lags: list[float] = []
        self.lag_rows: list[int] = []

        half = len(self.buckets) // 2
        for _ in range(half):
            self._land()
        with self.tracer.span("streaming.cascade_stream.stream_cascade_store"):
            self._drain(max_files=None)
        with self.tracer.span("plans.cascade_store.refresh_state_cascade"):
            refresh_state_cascade(self.spark, self.store)
        df = self.spark.read.parquet(self.input)
        pts = df.select(
            *SERIES_KEY,
            F.expr(f"datediff(MICROSECOND, {EPOCH_NTZ}, ts)").alias("ts_us"),
            "value",
        )
        with self.tracer.span("operators.chunks.compress_chunks"):
            compress_chunks(pts, "1d").write.parquet(self.chunks_dir)
        self.chunks = self.spark.read.parquet(self.chunks_dir)
        # one untimed pass of the reads, so the measured ones find their
        # code generated and their Python workers up, as a dashboard's
        # readers do after its first refresh (checked like the rest)
        self._serve(-1)

    def _land(self) -> None:
        # copy under a hidden name, then rename: the file source never
        # lists a partial file
        i = self.n_landed
        tmp = os.path.join(self.landing, f".bucket_{i:04d}.tmp")
        shutil.copyfile(self.buckets[i], tmp)
        os.rename(tmp, os.path.join(self.landing, f"bucket_{i:04d}.parquet"))
        self.n_landed += 1

    def _drain(self, max_files: int | None = 1) -> None:
        from streamevmon_spark.streaming.cascade_stream import stream_cascade_store
        from streamevmon_spark.streaming.rollup_stream import stream_transcripts

        stream_cascade_store(
            self.spark,
            stream_transcripts(self.spark, self.landing, max_files_per_trigger=max_files),
            self.store,
        )

    def has_next(self, i: int) -> bool:
        return self.n_landed < len(self.buckets)

    def _range(self, i: int) -> tuple[int, int]:
        """The cycle's read range, minute-aligned: the whole landed range
        less up to 2 h (and at most half of it) at its end, so it has 1m
        and 1h edges around whole 1d interiors. Set-up's pass lands only
        the first minutes; cutting more would leave a range ending on
        the day before the data, where the M4 read finds no points."""
        rng = random.Random(f"{self.seed}:{i}")
        lo = self.bounds_us[0][0] // _MIN_US
        hi = self.bounds_us[self.n_landed - 1][1] // _MIN_US
        return lo * _MIN_US, (hi - rng.randint(0, min(120, (hi - lo) // 2))) * _MIN_US

    def _read(self, kind: str, span: str, fn, **args) -> None:
        t = time.perf_counter()
        with self.tracer.span(span):
            table = fn().toArrow()
        self.reads.append({"kind": kind, "wall_s": time.perf_counter() - t,
                           "cycle": len(self.lags) - 1, "landed": self.n_landed,
                           "table": table, **args})

    def run_op(self, i: int) -> int:
        """Land the next bucket, drain it, then serve the cycle's reads."""
        from streamevmon_spark.plans.cascade_store import refresh_state_cascade

        before = _snapshot(self.store) if self.tracer.enabled else None
        rows = self.rows[self.n_landed]
        self._land()
        t = time.perf_counter()
        with self.tracer.span("streaming.cascade_stream.stream_cascade_store"):
            self._drain()
        with self.tracer.span("plans.cascade_store.refresh_state_cascade"):
            refresh_state_cascade(self.spark, self.store)
        self.lags.append(time.perf_counter() - t)
        self.lag_rows.append(rows)
        if before is not None:
            after = _snapshot(self.store)
            changed = [p for p, v in after.items() if before.get(p) != v]
            old_days = {os.path.dirname(p) for p in before if "__cday=" in p}
            self.files_written += len(changed)
            self.bytes_written += sum(after[p][0] for p in changed)
            self.bytes_rewritten += sum(
                after[p][0] for p in changed if os.path.dirname(p) in old_days
            )

        self._serve(i)
        return rows

    def _serve(self, i: int) -> None:
        """The reader's four reads over the landed range."""
        from pyspark.sql import functions as F

        from streamevmon_spark.operators.chunks import chunk_range_read
        from streamevmon_spark.operators.downsample import downsample_m4_from_store
        from streamevmon_spark.plans.cascade_store import range_agg_from_store, read_cascade

        t0, t1 = self._range(i)
        day = (t1 - 1) // _DAY_US * _DAY_US
        store, spark, chunks = self.store, self.spark, self.chunks
        self._read("range_agg", "plans.cascade_store.range_agg_from_store",
                   lambda: range_agg_from_store(spark, store, t0, t1), t0=t0, t1=t1)
        self._read("read_cascade", "plans.cascade_store.read_cascade",
                   lambda: read_cascade(spark, store, "1h").where(
                       F.col("conv_id") == self.hot_conv))
        self._read("m4", "operators.downsample.downsample_m4_from_store",
                   lambda: downsample_m4_from_store(chunks.where(
                       (F.col("conv_id") == self.hot_conv) & (F.col("chunk_us") == day))),
                   t0=day, t1=day + _DAY_US)
        self._read("chunk_range", "operators.chunks.chunk_range_read",
                   lambda: chunk_range_read(chunks, t0, t1), t0=t0, t1=t1)

    def measured_reads(self) -> list[dict]:
        """The reads of the measured cycles (not the set-up's pass)."""
        return [r for r in self.reads if r["cycle"] >= 0]

    def throughput_latency(self, rows: list[int], walls: list[float]) -> dict:
        """The writer's landed turns per second of lag (drain and state
        refresh), and the reader's time to answer a cycle's four reads,
        as a dashboard of four panels refreshes (medians over cycles)."""
        refresh = [0.0] * len(self.lags)
        for r in self.measured_reads():
            refresh[r["cycle"]] += r["wall_s"]
        return {
            "rows_per_s": median(n / s for n, s in zip(self.lag_rows, self.lags)),
            "latency_p50_s": median(refresh),
        }

    def check(self):
        from streamevmon_spark.oracles import (
            chunk_range_read_oracle,
            m4_oracle,
            realtime_range_agg_oracle,
            rollup_oracle,
        )
        from streamevmon_spark.plans.cascade_store import read_cascade

        con = checks.connect()
        res = []
        everything = checks.parquet(self.input)

        def diff(name, expected, table, cols):
            con.register("__got", table)
            res.append(checks.diff(con, name, expected, "SELECT * FROM __got", cols))
            con.unregister("__got")

        # the coarse tiers of the drained store equal the batch rollup
        # over every landed file
        landed = checks.parquet_files(self.buckets[: self.n_landed])
        for tier in ("1h", "1d"):
            diff(f"stream_cascade_{tier}",
                 checks.on_transcripts(rollup_oracle(tier), landed),
                 read_cascade(self.spark, self.store, tier).toArrow(), _ROLLUP_COLS)
        # every read of every cycle, against a direct scan of raw rows:
        # the landed prefix for store reads, the whole input for chunk reads
        for k, r in enumerate(self.reads):
            name = f"{r['kind']}[{k}]"
            prefix = checks.parquet_files(self.buckets[: r["landed"]])
            if r["kind"] == "range_agg":
                diff(name, checks.with_range(checks.on_transcripts(
                    realtime_range_agg_oracle(), prefix), r["t0"], r["t1"]),
                    r["table"], _ROLLUP_COLS[:3] + ["range_start", "range_end"]
                    + _ROLLUP_COLS[5:])
            elif r["kind"] == "read_cascade":
                diff(name, "SELECT * FROM (" + checks.on_transcripts(
                    rollup_oracle("1h"), prefix)
                    + f") WHERE conv_id = '{self.hot_conv}'",
                    r["table"], _ROLLUP_COLS)
            elif r["kind"] == "m4":
                days = (f"(SELECT * FROM {everything}"
                        f" WHERE conv_id = '{self.hot_conv}' AND epoch_us(ts) >= {r['t0']}"
                        f" AND epoch_us(ts) < {r['t1']})")
                diff(name, checks.on_transcripts(m4_oracle(), days), r["table"],
                     ["conv_id", "tool", "role", "bucket_start", "ts", "value"])
            else:
                diff(name, checks.with_range(checks.on_transcripts(
                    chunk_range_read_oracle(), everything), r["t0"], r["t1"]),
                    r["table"], ["conv_id", "tool", "role", "point_count",
                                 "lossy_count", "val_avg", "val_min", "val_max",
                                 "ts_first", "ts_last"])
        return res

    def finish_counts(self) -> None:
        from streamevmon_spark.plans.manifest import MANIFEST_NAME

        landed_rows = sum(self.rows[: self.n_landed])
        self.counts["streaming.cascade_stream.files_written"] = self.files_written
        self.counts["streaming.cascade_stream.bytes_written"] = self.bytes_written
        self.counts["streaming.cascade_stream.bytes_rewritten"] = self.bytes_rewritten
        self.counts["streaming.cascade_stream.stored_bytes_per_turn"] = (
            dir_bytes(self.store) / landed_rows
        )
        self.counts["streaming.cascade_stream.batch_lag_p50_s"] = median(self.lags)
        self.counts["plans.manifest.manifest_bytes"] = os.path.getsize(
            os.path.join(self.store, MANIFEST_NAME)
        )
        walls = {}
        for r in self.measured_reads():
            walls.setdefault(r["kind"], []).append(r["wall_s"])
        self.counts["plans.cascade_store.range_agg_p50_s"] = median(walls["range_agg"])
        self.counts["plans.cascade_store.read_cascade_p50_s"] = median(
            walls["read_cascade"])
        self.counts["operators.downsample.m4_p50_s"] = median(walls["m4"])
        self.counts["operators.chunks.range_read_p50_s"] = median(walls["chunk_range"])
        every = sorted(r["wall_s"] for r in self.measured_reads())
        self.counts["run.query_p50_s"] = median(every)
        self.counts["run.query_p80_s"] = every[math.ceil(0.8 * len(every)) - 1]


_ROLLUP_COLS = [
    "conv_id", "tool", "role", "window_start", "window_end",
    "turn_count", "lossy_count", "lat_avg", "lat_min", "lat_max",
    "lat_p50", "lat_p95", "lat_p99", "val_avg", "activity_rate",
]


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


class Dedup(Workload):
    name = "dedup"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self._patched = []
        self._pairs = None
        if self.tracer.enabled:
            self._wrap_for_trace()

    def _wrap_for_trace(self) -> None:
        """Span ``graph.connected_components`` and keep the pair relation
        ``dedup_clusters`` builds, by replacing the module attributes the
        engine resolves at call time. Traced runs only."""
        from streamevmon_spark.operators import dedup, graph

        cc, lsh = graph.connected_components, dedup.minhash_lsh_pairs
        tracer = self.tracer

        def traced_cc(*a, **kw):
            with tracer.span("operators.graph.connected_components"):
                return cc(*a, **kw)

        def keep_pairs(*a, **kw):
            self._pairs = lsh(*a, **kw)
            return self._pairs

        self._patched = [(graph, "connected_components", cc),
                         (dedup, "minhash_lsh_pairs", lsh)]
        graph.connected_components = traced_cc
        dedup.minhash_lsh_pairs = keep_pairs

    def close(self) -> None:
        for module, attr, original in self._patched:
            setattr(module, attr, original)

    def generator_args(self) -> dict:
        return {
            "generator": "data.documents.generate_documents",
            "n_docs": self.scale["dedup_docs"],
            "seed": self.seed,
            "defaults": "family_size=5 tokens_per_doc=60 vocab=50000",
            "layout": "coalesce(1): one file",
        }

    def make_input(self, dest: str) -> None:
        from streamevmon_spark.data.documents import generate_documents

        generate_documents(
            self.spark,
            n_docs=self.scale["dedup_docs"],
            seed=self.seed,
        ).coalesce(1).write.parquet(dest)

    def run_op(self, i: int) -> int:
        from streamevmon_spark.operators.dedup import dedup_clusters, exact_dedup

        out = self.rd.path("data", "out")
        docs = self.spark.read.parquet(self.input)
        with self.tracer.span("operators.dedup.exact_dedup"):
            exact_dedup(docs).write.mode("overwrite").parquet(f"{out}/exact")
        with self.tracer.span("operators.dedup.dedup_clusters"):
            dedup_clusters(docs).write.mode("overwrite").parquet(f"{out}/clusters")
        return self.scale["dedup_docs"]

    def check(self):
        from streamevmon_spark.docs_oracles import (
            exact_dedup_oracle,
            minhash_lsh_oracle,
        )
        from streamevmon_spark.operators.graph import SMALL_GRAPH_EDGES

        out = self.rd.path("data", "out")
        con = checks.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM {checks.parquet(self.input)}"
        )
        res = [
            checks.diff(
                con,
                "exact_dedup",
                exact_dedup_oracle(),
                f"SELECT * FROM {checks.parquet(f'{out}/exact')}",
                ["text_md5", "keep_doc_id", "dup_count"],
            )
        ]
        pairs = con.execute(
            f"SELECT doc_a, doc_b FROM ({minhash_lsh_oracle()})"
        ).fetchall()
        doc_ids = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
        expected = checks.union_find_clusters(doc_ids, pairs)
        got = dict(
            con.execute(
                "SELECT doc_id, cluster_id FROM"
                f" {checks.parquet(f'{out}/clusters')}"
            ).fetchall()
        )
        bad = sum(1 for d, c in expected.items() if got.get(d) != c)
        bad += len(set(got) - set(expected))
        canon_bad = con.execute(
            "SELECT count(*) FROM"
            f" {checks.parquet(f'{out}/clusters')}"
            " WHERE is_canonical <> (doc_id = cluster_id)"
        ).fetchone()[0]
        res.append(
            ("dedup_clusters", bad == 0 and canon_bad == 0,
             f"docs={len(expected)} wrong_cluster={bad} wrong_canonical={canon_bad}")
        )
        # which connected-components branch the corpus takes (profile only)
        self.counts["operators.graph.symmetric_edges"] = 2 * len(pairs)
        self.counts["operators.graph.distributed_branch"] = float(
            2 * len(pairs) > SMALL_GRAPH_EDGES
        )
        return res

    def finish_counts(self) -> None:
        out = self.rd.path("data", "out")
        if self._pairs is not None:
            self.counts["operators.dedup.pairs_out"] = self._pairs.count()
        con = checks.connect()
        self.counts["operators.graph.components_out"] = con.execute(
            "SELECT count(*) FROM (SELECT cluster_id FROM"
            f" {checks.parquet(f'{out}/clusters')}"
            " GROUP BY cluster_id HAVING count(*) > 1)"
        ).fetchone()[0]


# ---------------------------------------------------------------------------
# batch: backfill, then dedup
# ---------------------------------------------------------------------------


class Batch(Workload):
    """The two batch jobs a user submits against files at rest, one after
    the other in each measured operation: the backfill job, then exact
    dedup and near-duplicate clusters. ``rows_per_s`` counts the input
    rows of both (turns and documents)."""

    name = "batch"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.parts = (Backfill(*a, **kw), Dedup(*a, **kw))

    def generator_args(self) -> dict:
        return {p.name: p.generator_args() for p in self.parts}

    def make_input(self, dest: str) -> None:
        for p in self.parts:
            p.make_input(os.path.join(dest, p.name))

    def prepare(self) -> None:
        for p in self.parts:
            p.input = os.path.join(self.input, p.name)

    def run_op(self, i: int) -> int:
        return sum(p.run_op(i) for p in self.parts)

    def check(self):
        return [r for p in self.parts for r in p.check()]

    def finish_counts(self) -> None:
        for p in self.parts:
            p.finish_counts()
            self.counts.update(p.counts)

    def close(self) -> None:
        for p in self.parts:
            p.close()


WORKLOADS = {w.name: w for w in (Batch, Store)}
