"""The benchmark's workloads: what one op is, how it is timed and checked.

Each workload is a closed loop with one client.  An op is one registry query
(query workloads) or one sync step (``sync_backfill``).  Every op starts from
a reset Spark state: the cache is cleared and every persisted RDD is
unpersisted; what the previous op left behind is counted first
(``state.leaked_*``), never fixed.

Query ops execute through the ``noop`` sink, not ``.count()``: ``count()``
lets Catalyst prune the aggregates and columns no count needs, so it times
less than the full result (see README.md for the measured gap).

Phases: ``build`` (the registry function constructs the frame; any Spark job
it starts is an eager job), ``plan`` (traced only: the physical plan is
forced on the built frame), ``exec`` (the noop write).  Sync steps have the
phases ``build`` (source listing + ``plan_sync``), ``readback`` and
``resume_points`` (resume only) and ``write``; the traced run adds the
``unpivot`` and ``dedup`` probes, which execute prefixes of the step's plan
to the noop sink.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from datetime import timezone

from perfbench import datagen

PROBE_PHASES = {"plan", "unpivot", "dedup"}


def reset_state(spark) -> tuple[int, int]:
    """Count what is persisted (RDDs, Dataset cache entries), then release
    all of it.  Returns the counts found."""
    rdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    entries = _cache_entries(spark)
    spark.catalog.clearCache()
    for rdd in rdds:
        rdd.unpersist(True)
    return len(rdds), entries


def _cache_entries(spark) -> int:
    """Entries in the session's CacheManager (``df.cache()``/``persist()``,
    materialized or not).  The list is private, so it is read by reflection."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(cm).size()


class Tracer:
    """Times phases; in a traced pass also tags them with the job group
    ``<workload>:<op>:<phase>`` and records the Spark job ids each started."""

    def __init__(self, sc, workload: str, traced: bool):
        self.sc, self.workload, self.traced = sc, workload, traced
        self.phases: list[dict] = []
        self._seen: set[int] = set()

    @contextmanager
    def phase(self, op: str, phase: str):
        group = f"{self.workload}:{op}:{phase}"
        if self.traced:
            self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            jobs: list[int] = []
            if self.traced:
                self.sc._jsc.clearJobGroup()
                ids = set(self.sc.statusTracker().getJobIdsForGroup(group)) - self._seen
                self._seen |= ids
                jobs = sorted(ids)
            self.phases.append({"op": op, "phase": phase, "s": dt, "jobs": jobs})


# --- query workloads ----------------------------------------------------------


class QueryWorkload:
    """Registry queries over the seeded tables, one op per query."""

    def __init__(self, name: str, ops: list[str], scale: str):
        self.name, self.ops, self.scale = name, ops, scale

    def prepare(self, ctx) -> None:
        self.data_dir = os.path.join(ctx.work, "tables")
        datagen.write_query_tables(self.data_dir, ctx.seed, self.scale)

    def pass_ops(self, rng) -> list[str]:
        """The seed sets the op order inside each pass."""
        return [self.ops[i] for i in rng.permutation(len(self.ops))]

    def run_op(self, ctx, op: str, tracer: Tracer) -> None:
        fn = ctx.queries[op]
        with tracer.phase(op, "build"):
            df = fn(ctx.spark, self.data_dir)
        if tracer.traced:
            with tracer.phase(op, "plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.phase(op, "exec"):
            df.write.format("noop").mode("overwrite").save()

    def check(self, ctx, tracer: Tracer) -> list[tuple[str, str | None]]:
        """Collect every op once (this is also the warm pass) and compare it
        with its DuckDB oracle.  Returns (op, problem or None) per op; only
        the Spark side is timed into ``tracer``."""
        import duckdb

        from tools.check_oracle import TABLES, canon_rows

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        results = []
        for op in self.ops:
            reset_state(ctx.spark)
            try:
                with tracer.phase(op, "check"):
                    sdf = ctx.queries[op](ctx.spark, self.data_dir)
                    scols = sdf.columns
                    srows = [tuple(r) for r in sdf.collect()]
                res = con.execute(ctx.oracles[op])
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
            except Exception as e:  # noqa: BLE001 — an op error is a failed op
                results.append((op, f"error: {type(e).__name__}: {str(e)[:300]}"))
                continue
            if sorted(scols) != sorted(ocols):
                results.append((op, f"columns spark={sorted(scols)} oracle={sorted(ocols)}"))
            elif len(srows) != len(orows):
                results.append((op, f"rowcount spark={len(srows)} oracle={len(orows)}"))
            elif canon_rows(scols, srows) != canon_rows(ocols, orows):
                results.append((op, "values differ from the oracle"))
            else:
                results.append((op, None))
        con.close()
        return results


# --- the sync job -------------------------------------------------------------


class SyncWorkload:
    """The paper's resumable backfill: ``backfill`` syncs the newest half of
    the window into an empty signal table, ``resume`` reads the table back,
    computes the resume points and syncs the whole window with the table as
    ``existing_signals``, so it writes only the older half."""

    name = "sync_backfill"
    ops = ["backfill", "resume"]

    def __init__(self, docs: int, devices: int, days: int):
        self.docs, self.devices, self.days = docs, devices, days
        self.rows: dict[str, int] = {}

    def prepare(self, ctx) -> None:
        self.in_dir = os.path.join(ctx.work, "sync_input")
        self.window = datagen.write_device_status(
            self.in_dir, ctx.seed, self.docs, self.devices, self.days)
        self.table = os.path.join(ctx.work, "signal_table")

    def pass_ops(self, rng) -> list[str]:
        return list(self.ops)

    def begin_pass(self) -> None:
        shutil.rmtree(self.table, ignore_errors=True)

    def _plan(self, ctx, op, tracer, start, existing=None):
        from es_ch_sync_spark.catalog import DEVICE_STATUS_CATALOG
        from es_ch_sync_spark.job.sync import SyncOptions, plan_sync

        spark = ctx.spark
        opts = SyncOptions(start_time=start, stop_time=self.window["stop"])
        with tracer.phase(op, "build"):
            status = spark.read.parquet(os.path.join(self.in_dir, "status"))
            dim = spark.read.parquet(os.path.join(self.in_dir, "device"))
            signals, _ = plan_sync(status, DEVICE_STATUS_CATALOG, dim, opts,
                                   existing_signals=existing)
        if tracer.traced:
            self._probes(ctx, op, tracer, status, dim, opts)
            with tracer.phase(op, "dedup"):
                signals.write.format("noop").mode("overwrite").save()
        return signals

    def _probes(self, ctx, op, tracer, status, dim, opts) -> None:
        """The resolve_tokens + unpivot_signals prefix of plan_sync, to noop."""
        from pyspark.sql import functions as F

        from es_ch_sync_spark.catalog import DEVICE_STATUS_CATALOG
        from es_ch_sync_spark.operators.dimjoin import resolve_tokens
        from es_ch_sync_spark.operators.transform import split_quarantine, unpivot_signals

        start, stop = opts.resolved_window()
        with tracer.phase(op, "unpivot"):
            clean, _ = split_quarantine(status)
            scan = clean.filter((F.col("time") >= F.lit(start)) & (F.col("time") < F.lit(stop)))
            resolved, _ = resolve_tokens(scan, dim)
            unpivot_signals(resolved, DEVICE_STATUS_CATALOG, ts_col="time") \
                .write.format("noop").mode("overwrite").save()

    def run_op(self, ctx, op: str, tracer: Tracer) -> None:
        from es_ch_sync_spark.io.sinks import read_signals, write_signals
        from es_ch_sync_spark.operators.maintenance import resume_points

        if op == "backfill":
            signals = self._plan(ctx, op, tracer, self.window["mid"])
        else:
            with tracer.phase(op, "readback"):
                existing = read_signals(ctx.spark, self.table)
            with tracer.phase(op, "resume_points"):
                self.points = resume_points(existing).collect()
            signals = self._plan(ctx, op, tracer, self.window["start"], existing)
        with tracer.phase(op, "write"):
            write_signals(signals, self.table)

    def table_files(self) -> tuple[int, int]:
        """(parquet files, bytes) currently in the signal table."""
        n = size = 0
        for root, _dirs, files in os.walk(self.table):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(root, f))
        return n, size

    def expected_sql(self, lo, hi) -> str:
        """DuckDB unpivot of the generated documents, built from
        DEVICE_STATUS_CATALOG: the signal rows a sync of [lo, hi) commits."""
        from es_ch_sync_spark.catalog import DEVICE_STATUS_CATALOG

        conv = {"identity": "{c}", "ratio_to_percent": "({c} * 100.0)"}
        parts = []
        for d in DEVICE_STATUS_CATALOG.defs:
            c = f'CAST("{d.source_field}" AS DOUBLE)'
            num = conv[d.conversion].format(c=c) if d.value_class == "number" else "CAST(NULL AS DOUBLE)"
            txt = f'CAST("{d.source_field}" AS VARCHAR)' if d.value_class == "string" else "CAST(NULL AS VARCHAR)"
            parts.append(f"SELECT token_id, time AS timestamp, '{d.name}' AS name, source, "
                         f"{num} AS value_number, {txt} AS value_string FROM res")
        status = os.path.join(self.in_dir, "status", "*.parquet")
        device = os.path.join(self.in_dir, "device", "*.parquet")
        return f"""
            WITH res AS (
                SELECT s.*, d.token_id
                FROM read_parquet('{status}') s JOIN read_parquet('{device}') d USING (subject)
                WHERE d.token_id IS NOT NULL AND NOT s.is_malformed
                  AND s.time >= TIMESTAMPTZ '{lo.isoformat()}'
                  AND s.time < TIMESTAMPTZ '{hi.isoformat()}'
            )
            SELECT DISTINCT * FROM ({' UNION ALL '.join(parts)})
            WHERE value_number IS NOT NULL OR value_string IS NOT NULL
        """

    def check(self, ctx, tracer: Tracer) -> list[tuple[str, str | None]]:
        """Run one pass (the warm pass), then compare the read-back table
        with the DuckDB reference as a multiset, and check that running
        ``resume`` again commits no row."""
        import duckdb

        from es_ch_sync_spark.io.sinks import read_signals
        from es_ch_sync_spark.operators.transform import SIGNAL_COLUMNS

        w = self.window
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        self.rows = {
            "backfill": con.execute(f"SELECT count(*) FROM ({self.expected_sql(w['mid'], w['stop'])})").fetchone()[0],
            "resume": con.execute(f"SELECT count(*) FROM ({self.expected_sql(w['start'], w['mid'])})").fetchone()[0],
        }
        results = []
        self.begin_pass()
        for op in self.ops:
            reset_state(ctx.spark)
            try:
                with tracer.phase(op, "check"):
                    self.run_op(ctx, op, _Untimed())
            except Exception as e:  # noqa: BLE001 — an op error is a failed op
                results.append((op, f"error: {type(e).__name__}: {str(e)[:300]}"))
                return results + [(o, "not run") for o in self.ops[len(results):]]
            results.append((op, None))
        # the backfill left every token's oldest signal in the newer half
        if any(p["min_ts"].replace(tzinfo=timezone.utc) < w["mid"] for p in self.points):
            results[0] = ("backfill", "resume point older than the backfill window")
        actual = read_signals(ctx.spark, self.table).select(*SIGNAL_COLUMNS).toArrow()
        con.register("actual", actual)
        cols = ", ".join(SIGNAL_COLUMNS)
        norm = f"SELECT token_id, CAST(timestamp AS TIMESTAMPTZ) AS timestamp, name, source, value_number, value_string FROM"
        exp = f"{norm} ({self.expected_sql(w['start'], w['stop'])})"
        act = f"{norm} actual"
        missing = con.execute(f"SELECT count(*) FROM ({exp} EXCEPT ALL {act})").fetchone()[0]
        extra = con.execute(f"SELECT count(*) FROM ({act} EXCEPT ALL {exp})").fetchone()[0]
        if missing or extra:
            results[1] = ("resume", f"table differs from the reference: {missing} rows missing, "
                                    f"{extra} unexpected ({cols})")
        before = actual.num_rows
        reset_state(ctx.spark)
        try:
            self.run_op(ctx, "resume", _Untimed())
            after = read_signals(ctx.spark, self.table).count()
            problem = None if after == before else f"re-running resume committed {after - before} rows"
        except Exception as e:  # noqa: BLE001
            problem = f"error: {type(e).__name__}: {str(e)[:300]}"
        results.append(("resume_idempotent", problem))
        con.close()
        return results


class _Untimed(Tracer):
    """Phases inside a check step: recorded here, not in the caller's tracer,
    so the step's time is counted once."""

    def __init__(self):
        super().__init__(None, "", False)


def workloads(small: bool) -> dict:
    scale = "sf0.001" if small else "sf0.01"
    return {
        "sync_backfill": lambda: SyncWorkload(
            docs=2_000 if small else 10_000, devices=100, days=30),
        "curation_build": lambda: QueryWorkload("curation_build", [
            "host_hits", "nb_lang_confusion"], scale),
        "media_boundary": lambda: QueryWorkload("media_boundary", [
            "multimodal_gif_stats", "multimodal_jpeg_stats", "multimodal_flac_stats",
            "embedding_near_dup"], scale),
    }


KERNELS = ("gif", "jpeg", "webp", "flac")


def kernel_blobs(n: int) -> dict[str, list[bytes]]:
    """The media queries' blobs for media ids 0..n-1, made in the driver
    with the same generators the queries run executor-side."""
    from es_ch_sync_spark.operators import multimodal as mm

    makers = {"gif": mm.synth_gif_blob, "jpeg": mm.synth_jpeg_blob,
              "webp": mm.synth_webp_blob, "flac": mm.synth_flac_blob}
    return {k: [makers[k](i) for i in range(n)] for k in KERNELS}


def time_kernels(blobs: dict[str, list[bytes]]) -> dict[str, float]:
    """Seconds to decode each codec's blobs once, single core, in the driver."""
    from es_ch_sync_spark.operators.flac import decode_flac
    from es_ch_sync_spark.operators.multimodal import decode_gif, decode_jpeg
    from es_ch_sync_spark.operators.webp import decode_webp

    decoders = {"gif": decode_gif, "jpeg": decode_jpeg, "webp": decode_webp, "flac": decode_flac}
    out = {}
    for k in KERNELS:
        t0 = time.perf_counter()
        for b in blobs[k]:
            decoders[k](b)
        out[k] = time.perf_counter() - t0
    return out

