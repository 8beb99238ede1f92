"""The benchmark's four parts and the two workloads built from them.
Each part generates its inputs from the seed, prepares engine-side
state, then runs a measured pass that calls the engine only through its
public entry points and checks what came back.

A part's measured work is a fixed quota derived from ``--seconds``
(batches, statements, queries, files), so two runs of one seed do the
same work and their counts and space figures compare directly; wall
time follows the engine's speed.
"""

from __future__ import annotations

import copy
import datetime as dt
import glob
import json
import os
import shutil
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import checks
import gen
from tracing import Tracer

STAMP = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


@dataclass
class Ctx:
    """One run's shared state: where to write, and how many operations
    were attempted and failed. An operation fails when it raises or
    when its output check finds a difference."""

    work: str
    seed: int
    seconds: float
    tracer: Tracer
    spark: object = None
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def op(self, what: str, fn, *args, **kw):
        """Run one operation; an exception marks it failed and returns
        None."""
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception as e:  # noqa: BLE001 - a failed op is a measurement
            self.failed += 1
            self.failures.append(f"{what}: {type(e).__name__}: {str(e)[:300]}")
            return None

    def verify(self, msgs: list[str]) -> None:
        """The output check of an operation already counted by op()."""
        if msgs:
            self.failed += 1
            self.failures.extend(msgs)

    def check(self, msgs: list[str]) -> None:
        """A standalone output check, counted as one operation."""
        self.attempted += 1
        self.verify(msgs)


@dataclass
class Outcome:
    """What a measured part reports: latency samples per operation kind,
    bytes left on disk and bytes of the same live rows written once, the
    figures named per part (name -> (value, unit, samples)), and layer
    counters gathered outside spans."""

    latency_ms: dict[str, list[float]]
    disk_bytes: int
    user_bytes: int
    detail: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)

    def merge(self, other: "Outcome") -> "Outcome":
        layer = dict(self.layer)
        for k, v in other.layer.items():
            layer[k] = layer.get(k, 0) + v if k.startswith("table.") else v
        return Outcome(
            {**self.latency_ms, **other.latency_ms},
            self.disk_bytes + other.disk_bytes,
            self.user_bytes + other.user_bytes,
            {**self.detail, **other.detail},
            layer,
        )


def geomean(values) -> float:
    return float(np.exp(np.mean(np.log(np.asarray(values, dtype=float)))))


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else float("nan")


def timing(name: str, values_ms) -> dict:
    """Median and p90 of a latency sample in ms, with the sample count."""
    return {
        f"{name}_p50_ms": (pct(values_ms, 50), "ms", len(values_ms)),
        f"{name}_p90_ms": (pct(values_ms, 90), "ms", len(values_ms)),
    }


def du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def once_size(df, keys: list[str], scratch: str) -> int:
    """Bytes of a Spark frame's rows written once by Spark's Parquet
    writer, the engine's own, as one file sorted by ``keys``. Encoding
    and compression then cancel out of a space ratio, and the size does
    not depend on the order rows came back in."""
    path = os.path.join(scratch, "user_bytes")
    shutil.rmtree(path, ignore_errors=True)
    df.coalesce(1).sortWithinPartitions(*keys).write.parquet(path)
    try:
        return sum(os.path.getsize(p) for p in glob.glob(f"{path}/*.parquet"))
    finally:
        shutil.rmtree(path, ignore_errors=True)


def table_stats(root: str) -> dict:
    """Files and bytes of a versioned table, read from its directory
    tree (manifests under _manifest, deletion vectors under _dv)."""
    man = glob.glob(f"{root}/_manifest/*.json")
    dvs = glob.glob(f"{root}/_dv/*.parquet")
    data = [
        p
        for p in glob.glob(f"{root}/**/*.parquet", recursive=True)
        if "/_dv/" not in p and "/_manifest/" not in p
    ]
    return {
        "table.versions": len(man),
        "table.manifest_bytes": sum(os.path.getsize(p) for p in man),
        "table.data_files": len(data),
        "table.dv_files": len(dvs),
        "table.bytes_on_disk": du(root),
    }


@contextmanager
def wrapped(tracer: Tracer, module, attr: str, span: str):
    """While tracing, wrap ``module.attr`` so each call records a span.
    Used only for engine functions that another entry point calls
    internally (the eval runner's load and per-model steps)."""
    if not tracer.enabled:
        yield
        return
    orig = getattr(module, attr)

    def call(*a, **kw):
        with tracer.span(span):
            return orig(*a, **kw)

    setattr(module, attr, call)
    try:
        yield
    finally:
        setattr(module, attr, orig)


def boundary(tracer: Tracer, df, keep: list):
    """In a traced run, materialise a lazy stage's output inside its
    span so its executor work is attributed to it; untraced runs keep
    the fused plan."""
    if not tracer.enabled:
        return df
    df = df.persist()
    df.count()
    keep.append(df)
    return df


class Part:
    """One of the four measured paths. ``tiny`` overrides the sizes for
    the warm-up pass (and for the self-tests' smoke run)."""

    name = ""
    tiny: dict = {}
    # a console session pays its cold start once, so it is warmed up
    # before timing; a batch job pays it on every run, so it is measured
    # cold
    warm = False
    # a closed-loop part's wall time follows the engine's speed, so a
    # traced run measures its tracing overhead on it
    closed_loop = True

    def prepare(self, ctx: Ctx, inputs: str) -> None:
        pass

    def warm_up(self, ctx: Ctx) -> None:
        """Run a warm part once on tiny inputs, so code paths and caches
        are warm before the measured pass. Its operations are checked
        and counted like any other."""
        if not self.warm:
            return
        tiny = copy.copy(self)
        vars(tiny).update(self.tiny)
        inputs = f"{ctx.work}/warm-up-{self.name}"
        tiny.generate(ctx, inputs)
        tiny.prepare(ctx, inputs)
        tiny.run(ctx, "warm-up", 0.0)


# ---------------------------------------------------------------------------
# pipeline_batch
# ---------------------------------------------------------------------------


class PipelineBatch(Part):
    """The paper's batch: lake read -> validate -> clean -> daily Tmax
    -> write -> train features -> multi-model eval -> report."""

    name = "pipeline_batch"
    stations = 10
    years = [2021, 2022]
    tiny = {"stations": 2, "years": [2022]}
    share = 0.5  # of --seconds, in a workload with other parts
    batch_s = 12.0  # one batch per this many seconds of its share

    def generate(self, ctx: Ctx, inputs: str) -> dict:
        self.lake = f"{inputs}/lake"
        self.info = gen.pipeline_lake(self.lake, ctx.seed, self.stations, self.years)
        return self.info

    def _batch(self, ctx: Ctx, out: str):
        from pyspark.sql import functions as F

        from temp_data_pipeline_spark.eval import runner
        from temp_data_pipeline_spark.eval.config import EvalConfig, ModelConfig
        from temp_data_pipeline_spark.eval.report import write_all_artifacts
        from temp_data_pipeline_spark.operators.clean_hourly import clean_hourly_obs
        from temp_data_pipeline_spark.operators.daily_tmax import build_daily_tmax, write_daily_tmax
        from temp_data_pipeline_spark.operators.features import build_train_daily_tmax
        from temp_data_pipeline_spark.schemas.validate import validate_hourly_obs
        from temp_data_pipeline_spark.sources.registry import read_parquet_any

        spark, tr, keep = ctx.spark, ctx.tracer, []
        try:
            with tr.span("pipeline.batch"):
                with tr.span("sources.read"):
                    hourly = read_parquet_any(spark, f"{self.lake}/hourly_obs")
                    fc = read_parquet_any(spark, f"{self.lake}/forecast")
                    stations = spark.read.parquet(f"{self.lake}/stations.parquet")
                    hourly = boundary(tr, hourly, keep)
                with tr.span("schemas.validate"):
                    validate_hourly_obs(hourly, check_unique=False, check_temp_range=False)
                with tr.span("operators.clean_hourly"):
                    clean = clean_hourly_obs(
                        hourly, tie_breaker="ingest_seq", validate_input=False, validate_output=False
                    )
                    clean = boundary(tr, clean, keep)
                with tr.span("operators.daily_tmax"):
                    daily = build_daily_tmax(
                        clean.join(F.broadcast(stations), "station_id"),
                        station_tz=F.col("tz"),
                        updated_at_utc=STAMP,
                        validate=False,
                    )
                    daily = boundary(tr, daily, keep)
                with tr.span("operators.daily_tmax.write"):
                    write_daily_tmax(daily, f"{out}/daily_tmax")
                with tr.span("operators.features"):
                    truth = spark.read.parquet(f"{out}/daily_tmax")
                    train = build_train_daily_tmax(fc, truth, validate=False)
                    train = boundary(tr, train, keep)
                cfg = EvalConfig(
                    station_ids=self.info["stations"],
                    start_date_local=f"{self.years[0]}-01-01",
                    end_date_local=f"{self.years[-1]}-12-31",
                    models=[
                        ModelConfig(type="passthrough"),
                        ModelConfig(type="persistence"),
                        ModelConfig(type="ridge"),
                    ],
                )
                with tr.span("eval.run"), wrapped(tr, runner, "load_eval_data", "eval.load"), wrapped(
                    tr, runner, "_evaluate_model", "eval.fit_predict"
                ):
                    result = runner.run_multi_model_evaluation(cfg, fc, truth, feature_df=train, run_id="bench")
                with tr.span("eval.report"):
                    write_all_artifacts(result, base_path=f"{out}/runs", now=STAMP)
                for split in (result.dataset.train, result.dataset.test):
                    split.unpersist()
                for res in result.models.values():
                    res.predictions.unpersist()
            return result
        finally:
            for df in keep:
                df.unpersist()

    def run(self, ctx: Ctx, tag: str, seconds: float) -> Outcome:
        n = max(1, int(round(seconds / self.batch_s)))
        out = f"{ctx.work}/pipeline-{tag}"
        walls, result = [], None
        for i in range(n):
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.perf_counter()
            result = ctx.op("pipeline batch", self._batch, ctx, out)
            walls.append(time.perf_counter() - t0)
        daily = ctx.op("read back daily_tmax", lambda: ctx.spark.read.parquet(f"{out}/daily_tmax").toPandas())
        if daily is not None:
            ctx.verify(checks.frames_equal(daily, checks.expected_daily(self.lake), checks.DAILY_COLS, "daily_tmax"))
        comp = os.path.join(out, "runs", "bench", "comparison.json")
        ok = result is not None and os.path.exists(comp)
        models = json.load(open(comp))["models"] if ok else {}
        ctx.check([] if len(models) == 3 else [f"eval report lists {sorted(models)}"])
        return Outcome(
            latency_ms={"pipeline_batch": [w * 1e3 for w in walls]},
            disk_bytes=du(f"{out}/daily_tmax"),
            user_bytes=0 if daily is None else once_size(ctx.spark.read.parquet(f"{out}/daily_tmax"), ["station_id", "date_local"], ctx.work),
            detail={"pipeline_s": (pct(walls, 50), "s", len(walls))},
        )


# ---------------------------------------------------------------------------
# lakehouse_dml
# ---------------------------------------------------------------------------

_QUARANTINE_BIT = 64
# hourly-table columns as the console and stream checks compare them
HOURLY_COLS = ["station_id", "ts_us", "temp_c", "qc_flags"]


def _ts_lit(us: int) -> str:
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))
    return f"TIMESTAMP'{t:%Y-%m-%d %H:%M:%S}'"


class LakehouseDml(Part):
    """One closed-loop console user on a versioned hourly table."""

    name = "lakehouse_dml"
    warm = True
    stations = 20
    hours = 24 * 180
    share = 0.5
    # one cycle of the statement mix: six writes (two INSERTs of the next
    # hour, two MERGEs of late corrections, one UPDATE and one DELETE
    # quarantining a station-day), nine reads (point and range SELECTs,
    # VERSION AS OF reads), then an OPTIMIZE. The kinds repeat in this
    # order; the seed draws every key, value, day and version.
    cycle = [
        "insert", "point", "range", "merge", "time_travel", "point",
        "update", "range", "time_travel", "insert", "point", "range",
        "merge", "time_travel", "delete", "optimize",
    ]  # fmt: skip
    cycle_s = 12.0  # one cycle per this many seconds of the share
    READS = ("point", "range", "time_travel")
    WRITES = ("insert", "merge", "update", "delete", "optimize")
    # time-travel targets, in turn: the oldest, a middle and the newest
    # version (a read's cost depends on how far back it goes)
    TT_POSITIONS = (0.0, 0.5, 0.999)
    tiny = {
        "stations": 3,
        "hours": 72,
        "cycle": ["insert", "point", "range", "merge", "time_travel", "update", "delete", "optimize"],
    }

    def generate(self, ctx: Ctx, inputs: str) -> dict:
        self.inputs = inputs
        self.info = gen.dml_seed_table(inputs, ctx.seed, self.stations, self.hours)
        return self.info

    def prepare(self, ctx: Ctx, inputs: str) -> None:
        from temp_data_pipeline_spark.operators.versioned import commit_version

        self.path = f"{inputs}/table-{int(time.time() * 1e6)}"
        self.v0 = commit_version(ctx.spark.read.parquet(f"{inputs}/dml_seed.parquet"), self.path)

    def _statements(self, ctx: Ctx, cycles: int):
        """The seeded statement sequence as (kind, params) pairs."""
        rng = np.random.default_rng([ctx.seed, 6])
        sts = self.info["stations"]
        h0 = gen.hours_since_epoch(gen.DML_YEAR)
        next_hour = self.hours
        out = []
        for kind in self.cycle * cycles:
            if kind == "insert":
                us = (h0 + next_hour) * gen.US_PER_HOUR
                rows = [(s, us, float(np.round(rng.normal(12.0, 8.0), 1)), 0) for s in sts]
                next_hour += 1
                out.append(("insert", rows))
            elif kind == "merge":
                # late corrections, biased toward the most recent hours
                lag = np.minimum(rng.geometric(0.05, 6), next_hour - 1)
                keys = {
                    (sts[int(rng.integers(len(sts)))], int((h0 + next_hour - 1 - int(g)) * gen.US_PER_HOUR))
                    for g in lag
                }
                rows = [(s, us, float(np.round(rng.normal(12.0, 8.0), 1)), 0) for s, us in sorted(keys)]
                out.append(("merge", rows))
            elif kind in ("update", "delete", "point", "range"):
                s = sts[int(rng.integers(len(sts)))]
                day = int(rng.integers(0, next_hour // 24))
                lo = (h0 + 24 * day) * gen.US_PER_HOUR
                if kind == "point":
                    out.append(("point", (s, lo + int(rng.integers(0, 24)) * gen.US_PER_HOUR)))
                elif kind == "range":
                    out.append(("range", (s, lo, lo + 7 * 24 * gen.US_PER_HOUR)))
                else:
                    out.append((kind, (s, lo, lo + 24 * gen.US_PER_HOUR)))
            elif kind == "time_travel":
                pos = self.TT_POSITIONS[sum(k == "time_travel" for k, _ in out) % 3]
                out.append(("time_travel", (sts[int(rng.integers(len(sts)))], pos)))
            else:
                out.append(("optimize", None))
        return out

    def _render(self, kind: str, p, replay: checks.DmlReplay, versions: list[int]):
        """Spark SQL for one statement, plus the replay's answer for a
        read or the replay predicate for an UPDATE/DELETE."""
        if kind in ("update", "delete"):
            s, lo, hi = p
            pred = f"station_id = '{s}' AND ts_utc >= {_ts_lit(lo)} AND ts_utc < {_ts_lit(hi)}"
            if kind == "update":
                stmt = f"UPDATE t SET qc_flags = qc_flags | {_QUARANTINE_BIT} WHERE {pred}"
            else:
                stmt = f"DELETE FROM t WHERE {pred}"
            return stmt, f"station_id = '{s}' AND ts_us >= {lo} AND ts_us < {hi}"
        if kind in ("insert", "merge"):
            vals = ", ".join(f"('{s}', {_ts_lit(us)}, {t!r}D, {q}L)" for s, us, t, q in p)
            if kind == "insert":
                return f"INSERT INTO t VALUES {vals}", None
            return (
                "MERGE INTO t USING (SELECT * FROM VALUES "
                f"{vals} AS s(station_id, ts_utc, temp_c, qc_flags)) s "
                "ON t.station_id = s.station_id AND t.ts_utc = s.ts_utc "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            ), None
        if kind == "point":
            s, at = p
            return (
                "SELECT station_id, unix_micros(ts_utc) AS ts_us, temp_c, qc_flags FROM t "
                f"WHERE station_id = '{s}' AND ts_utc = {_ts_lit(at)}",
                replay.query(
                    f"SELECT station_id, ts_us, temp_c, qc_flags FROM {replay.at(None)} "
                    f"WHERE station_id = '{s}' AND ts_us = {at}"
                ),
            )
        if kind == "range":
            s, lo, hi = p
            return (
                "SELECT count(*) AS n, max(temp_c) AS tmax, min(temp_c) AS tmin, sum(qc_flags) AS q "
                f"FROM t WHERE station_id = '{s}' AND ts_utc >= {_ts_lit(lo)} AND ts_utc < {_ts_lit(hi)}",
                replay.query(
                    "SELECT count(*), max(temp_c), min(temp_c), sum(qc_flags) "
                    f"FROM {replay.at(None)} WHERE station_id = '{s}' AND ts_us >= {lo} AND ts_us < {hi}"
                ),
            )
        if kind == "time_travel":
            s, r = p
            v = versions[int(r * len(versions))]
            return (
                "SELECT count(*) AS n, max(temp_c) AS tmax, sum(qc_flags) AS q "
                f"FROM t VERSION AS OF {v} WHERE station_id = '{s}'",
                replay.query(
                    f"SELECT count(*), max(temp_c), sum(qc_flags) FROM {replay.at(v)} WHERE station_id = '{s}'"
                ),
            )
        return "OPTIMIZE t", None

    def _execute(self, ctx: Ctx, eng, kind: str, stmt: str):
        from temp_data_pipeline_spark.operators.deletion_vectors import has_deletes, materialize_deletes

        span = "sql.select" if kind in ("point", "range") else f"sql.{kind}"
        with ctx.tracer.span(span):
            if kind == "optimize":
                # SQL OPTIMIZE refuses tables with deletion vectors, so
                # the console user folds them in first (the refusal's
                # own advice)
                if has_deletes(ctx.spark, self.path):
                    materialize_deletes(ctx.spark, self.path)
                return eng.sql(stmt)
            res = eng.sql(stmt)
            return res.collect() if kind in self.READS else res

    def run(self, ctx: Ctx, tag: str, seconds: float) -> Outcome:
        from temp_data_pipeline_spark.operators.deletion_vectors import read_table
        from temp_data_pipeline_spark.sql import SqlEngine

        eng = SqlEngine(ctx.spark, {"t": self.path})
        replay = checks.DmlReplay(f"{self.inputs}/dml_seed.parquet", self.v0)
        cycles = max(1, int(round(seconds / self.cycle_s)))
        versions = [self.v0]
        lat: dict[str, list[float]] = {}
        rewritten = 0
        try:
            for kind, p in self._statements(ctx, cycles):
                stmt, want = self._render(kind, p, replay, versions)
                before = du(self.path) if kind == "optimize" else 0
                t0 = time.perf_counter()
                res = ctx.op(f"{kind}: {stmt[:80]}", self._execute, ctx, eng, kind, stmt)
                lat.setdefault(kind, []).append((time.perf_counter() - t0) * 1e3)
                if res is None:
                    continue
                if kind in self.READS:
                    got = [tuple(r) for r in res]
                    ctx.verify(checks.rows_equal(got, want, f"{kind} {stmt[:60]}"))
                    continue
                v = int(res)
                if kind == "insert":
                    replay.insert(p, v)
                elif kind == "merge":
                    replay.merge(p, v)
                elif kind == "update":
                    replay.update_flags(want, _QUARANTINE_BIT, v)
                elif kind == "delete":
                    replay.delete(want, v)
                else:
                    rewritten += max(0, du(self.path) - before)
                versions.append(v)
            snap = ctx.op(
                "final snapshot",
                lambda: eng.sql("SELECT station_id, unix_micros(ts_utc) AS ts_us, temp_c, qc_flags FROM t").toPandas(),
            )
            final = replay.snapshot()
            user = 0
            if snap is not None:
                ctx.verify(checks.frames_equal(snap, final, HOURLY_COLS, "final snapshot"))
                user = once_size(read_table(ctx.spark, self.path), ["station_id", "ts_utc"], ctx.work)
        finally:
            replay.close()
        writes = [x for k in self.WRITES for x in lat.get(k, [])]
        reads = [x for k in self.READS for x in lat.get(k, [])]
        stats = table_stats(self.path)
        return Outcome(
            latency_ms={"write": writes, "read": reads},
            disk_bytes=stats["table.bytes_on_disk"],
            user_bytes=user,
            detail={
                **timing("write", writes),
                **timing("read", reads),
                "console_bytes_per_user_byte": (stats["table.bytes_on_disk"] / max(1, user), "ratio", 1),
            },
            layer={**stats, "sql.optimize.bytes_rewritten": rewritten},
        )


# ---------------------------------------------------------------------------
# curation_batch
# ---------------------------------------------------------------------------


class CurationBatch(Part):
    """gopher_filter -> exact_dedup -> minhash_dedup -> hash_embed_dense
    -> build_ivf_index, then a closed loop of ivf_index_topk queries."""

    name = "curation_batch"
    docs = 1000
    dim = 64
    k = 10
    nprobe = 4
    share = 0.5
    queries_per_s = 1.4  # ANN queries per second of the share
    min_queries = 20
    tiny = {"docs": 150, "min_queries": 3}

    def generate(self, ctx: Ctx, inputs: str) -> dict:
        self.inputs = inputs
        self.info = gen.corpus(inputs, ctx.seed, self.docs)
        self.qvecs = gen.query_vectors(ctx.seed, 200, self.dim)
        return self.info

    def _batch(self, ctx: Ctx, path: str, layer: dict) -> dict:
        from temp_data_pipeline_spark.llm.dedup import exact_dedup, minhash_dedup
        from temp_data_pipeline_spark.llm.embed import hash_embed_dense
        from temp_data_pipeline_spark.llm.text import gopher_filter
        from temp_data_pipeline_spark.llm.vector_index import build_ivf_index

        spark, tr, keep = ctx.spark, ctx.tracer, []
        t0 = time.perf_counter()
        try:
            with tr.span("curation.batch"):
                docs = spark.read.parquet(f"{self.inputs}/docs.parquet")
                with tr.span("llm.quality"):
                    good = boundary(tr, gopher_filter(docs), keep)
                with tr.span("llm.dedup.exact"):
                    exact = boundary(tr, exact_dedup(good), keep)
                with tr.span("llm.dedup.minhash"):
                    near = boundary(tr, minhash_dedup(exact), keep)
                with tr.span("llm.embed"):
                    emb = boundary(tr, hash_embed_dense(near, dim=self.dim), keep)
                with tr.span("llm.vector_index.build"):
                    man = build_ivf_index(emb, path, id_col="doc_id", n_centroids=16, seed=ctx.seed)
            layer["batch_s"] = time.perf_counter() - t0
            if tr.enabled:
                layer.update(minhash_candidates(tr, exact.count() - near.count()))
            return man
        finally:
            for df in keep:
                df.unpersist()

    def run(self, ctx: Ctx, tag: str, seconds: float) -> Outcome:
        from temp_data_pipeline_spark.llm.vector_index import ivf_index_topk, read_ivf_manifest

        spark, tr = ctx.spark, ctx.tracer
        path = f"{ctx.work}/ivf-{tag}"
        layer: dict = {}
        t0 = time.perf_counter()
        man = ctx.op("curation batch", self._batch, ctx, path, layer)
        batch_s = layer.pop("batch_s", time.perf_counter() - t0)
        if man is None:
            return Outcome({"curation_batch": [batch_s * 1e3]}, 0, 0, {}, layer)
        man = read_ivf_manifest(spark, path)
        cells = spark.read.parquet(*[f"{path}/{d}" for d in man["cells_dirs"]])
        pdf = cells.select("doc_id", "embedding").toPandas()
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        emb = np.array(pdf["embedding"].tolist(), dtype=float).reshape(len(pdf), self.dim)
        docs = pq.read_table(f"{self.inputs}/docs.parquet").to_pydict()
        texts = dict(zip(docs["doc_id"], docs["text"]))
        ctx.check(checks.curation_survivors(np.array(docs["doc_id"]), texts, ids))
        lat, recalls = [], []
        n_q = max(self.min_queries, int(seconds * self.queries_per_s))
        for q in self.qvecs[:n_q]:
            t1 = time.perf_counter()

            def topk():
                with tr.span("llm.vector_index.topk"):
                    return ivf_index_topk(spark, path, q.tolist(), k=self.k, nprobe=self.nprobe).collect()

            rows = ctx.op("ann query", topk)
            lat.append((time.perf_counter() - t1) * 1e3)
            if rows is None:
                continue
            fails, rec = checks.ann_result(ids, emb, q, [(int(r[0]), float(r[1])) for r in rows], self.k)
            ctx.verify(fails)
            recalls.append(rec)
        layer["llm.vector_index.topk.recall_at_k"] = float(np.mean(recalls)) if recalls else 0.0
        return Outcome(
            latency_ms={"curation_batch": [batch_s * 1e3], "ann_query": lat},
            disk_bytes=du(path),
            user_bytes=once_size(cells.select("doc_id", "embedding"), ["doc_id"], ctx.work),
            detail={
                "curation_docs_per_s": (self.info["docs"] / batch_s, "docs/s", 1),
                **timing("ann", lat),
                "ann_recall_at_k": (float(np.mean(recalls)) if recalls else 0.0, "ratio", len(recalls)),
            },
            layer=layer,
        )


def minhash_candidates(tracer: Tracer, removed: int) -> dict:
    """LSH candidate pairs of the traced ``minhash_dedup`` call, read
    from its plan: the output rows of the aggregate that makes the
    (id_a, id_b) pairs distinct (its final step, the smaller count). The
    useful ratio is the share of candidates that removed a document."""
    counts = [
        n["metrics"].get("number of output rows", 0)
        for n in tracer.nodes("llm.dedup.minhash")
        if n["name"] == "HashAggregate"
        and n["desc"].startswith("HashAggregate(keys=[id_a#")
        and "id_b#" in n["desc"]
        and "functions=[]" in n["desc"]
    ]
    n = min(counts) if counts else 0
    return {
        "llm.dedup.minhash.candidate_pairs": n,
        "llm.dedup.minhash.useful_ratio": removed / n if n else 0.0,
    }


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


class StreamIngest(Part):
    """Open-loop ingest: a generator thread lands one hourly file per
    interval while one streaming query upserts into a versioned table."""

    name = "stream_ingest"
    # open loop: the generator's schedule sets the wall time. Not warmed
    # up: the query's start-up delays only the first file, which the
    # median lag absorbs and the p90 shows
    closed_loop = False
    stations = 40
    share = 0.85  # 8 files at --seconds 24
    # below saturation: on a 4-core host a data micro-batch takes about
    # 1.3-1.6 s (p50-p90) and the watermark adds a no-data batch after
    # it; files every 2.0 s or 2.5 s leave no backlog, every 1.5 s they
    # pile up (perfbench/README.md has the measurement)
    interval_s = 2.5
    min_files = 8
    drain_timeout_s = 60.0
    # the self-tests' smoke run only has to run the code paths once
    tiny = {"stations": 4, "min_files": 2, "interval_s": 1.0}

    def _n_files(self, seconds: float) -> int:
        return max(self.min_files, round(seconds / self.interval_s))

    def generate(self, ctx: Ctx, inputs: str) -> dict:
        n = self._n_files(ctx.seconds * self.share)
        self.files = gen.stream_files(ctx.seed, self.stations, n)
        return {"files": n, "rows": sum(t.num_rows for t in self.files)}

    def run(self, ctx: Ctx, tag: str, seconds: float) -> Outcome:
        from temp_data_pipeline_spark.operators.deletion_vectors import read_table
        from temp_data_pipeline_spark.streaming.ingest import stream_hourly_obs
        from temp_data_pipeline_spark.streaming.sink import stream_upsert_versioned

        spark = ctx.spark
        base = f"{ctx.work}/stream-{tag}"
        landing, table, ckpt = f"{base}/landing", f"{base}/table", f"{base}/ckpt"
        os.makedirs(landing)
        files = self.files[: self._n_files(seconds)]
        query = stream_upsert_versioned(
            stream_hourly_obs(spark, landing),
            table,
            ckpt,
            keys=["station_id", "ts_utc"],
            available_now=False,
        )
        due, landed = [], []

        def generator(t_start: float) -> None:
            for i, t in enumerate(files):
                d = t_start + i * self.interval_s
                time.sleep(max(0.0, d - time.time()))
                gen.write_stream_file(t, f"{landing}/h{i:05d}.parquet")
                due.append(d)
                landed.append(time.time())

        try:
            th = threading.Thread(target=generator, args=(time.time() + 0.5,), daemon=True)
            th.start()
            th.join()
            consumed = self._drain(ckpt, table, len(files), query)
            progress = [json.loads(p.json) if hasattr(p, "json") else p for p in query.recentProgress]
        finally:
            query.stop()
        names = [f"{landing}/h{i:05d}.parquet" for i in range(len(files))]
        commits = _stream_commits(table)
        lags = []
        for i, name in enumerate(names):
            b = consumed.get(name)
            ctx.attempted += 1
            if b is None or b not in commits:
                ctx.verify([f"stream: file {i} never became visible"])
                continue
            lags.append((commits[b] - due[i]) * 1e3)
        got = ctx.op(
            "read stream table",
            lambda: read_table(spark, table)
            .selectExpr("station_id", "unix_micros(ts_utc) AS ts_us", "temp_c", "qc_flags")
            .toPandas(),
        )
        want = checks.expected_stream(landing)
        if got is not None:
            ctx.verify(checks.frames_equal(got, want, HOURLY_COLS, "stream table"))
        batches = [p for p in progress if p.get("numInputRows", 0) > 0]

        def dur(k: str) -> list[float]:
            return [p["durationMs"].get(k, 0) for p in batches]

        # files that had landed but were not yet committed when file i
        # landed: 0 while the stream keeps up with the generator
        done = [commits.get(consumed.get(name), float("inf")) for name in names]
        backlog = [sum(1 for j in range(i) if done[j] > landed[i]) for i in range(len(landed))]
        rows = sum(p["numInputRows"] for p in batches)
        stats = table_stats(table)
        user = 0 if got is None else once_size(read_table(spark, table), ["station_id", "ts_utc"], ctx.work)
        return Outcome(
            latency_ms={"stream_lag": lags},
            # how files group into micro-batches is a timing effect that
            # sets the stream table's file count, so its bytes stay out
            # of the end-to-end space ratio (they are in table.*)
            disk_bytes=0,
            user_bytes=0,
            detail={
                **timing("stream_lag", lags),
                "stream_trigger_p90_ms": (pct(dur("triggerExecution"), 90), "ms", len(batches)),
                "stream_backlog_files": (float(np.mean(backlog)) if backlog else 0.0, "files", len(backlog)),
                "stream_bytes_per_user_byte": (stats["table.bytes_on_disk"] / max(1, user), "ratio", 1),
            },
            layer={
                **stats,
                "streaming.trigger_ms": pct(dur("triggerExecution"), 50),
                "streaming.add_batch_ms": pct(dur("addBatch"), 50),
                "streaming.query_planning_ms": pct(dur("queryPlanning"), 50),
                "streaming.wal_commit_ms": pct(dur("walCommit"), 50),
                "streaming.rows_per_batch": rows / max(1, len(batches)),
                "streaming.backlog_files": float(np.mean(backlog)) if backlog else 0.0,
                "bench.generator_late_ms": pct([(l - d) * 1e3 for l, d in zip(landed, due)], 90),
            },
        )

    def _drain(self, ckpt: str, table: str, n_files: int, query) -> dict[str, int]:
        """Wait until every landed file is in a committed batch; returns
        file path -> batch id from the file source's log."""
        deadline = time.time() + self.drain_timeout_s
        while True:
            consumed = _source_log(ckpt)
            commits = _stream_commits(table)
            if len(consumed) >= n_files and all(b in commits for b in consumed.values()):
                return consumed
            if time.time() > deadline or query.exception() is not None:
                return consumed
            time.sleep(0.05)


def _log_entries(d: str) -> dict[int, list[dict]]:
    """Entry number -> JSON lines of a streaming metadata log directory
    (a compacted file counts under its own number)."""
    out = {}
    for f in glob.glob(f"{d}/*"):
        name = os.path.basename(f)
        if name.startswith("."):
            continue
        try:
            lines = open(f).read().splitlines()[1:]
        except OSError:
            continue
        rows = []
        for line in lines:
            try:
                rows.append(json.loads(line))
            except json.JSONDecodeError:
                pass
        out[int(name.split(".")[0])] = rows
    return out


def _source_log(ckpt: str) -> dict[str, int]:
    """File path -> the query batch that read it. The file source logs
    each file under its own offset; the query's offset log says which
    source offset each batch read up to. The two numberings differ
    because the watermark adds batches that read no files."""
    upto = {}
    for b, rows in _log_entries(f"{ckpt}/offsets").items():
        offs = [r["logOffset"] for r in rows if "logOffset" in r]
        if offs:
            upto[b] = offs[0]
    order = sorted(upto.items())
    out = {}
    for rows in _log_entries(f"{ckpt}/sources/0").values():
        for e in rows:
            o = int(e["batchId"])
            b = next((b for b, last in order if last >= o), None)
            if b is not None:
                path = e["path"]
                out[path[len("file://"):] if path.startswith("file://") else path] = b
    return out


def _stream_commits(table: str) -> dict[int, float]:
    """Stream batch id -> the wall clock at which its version committed."""
    out = {}
    for f in glob.glob(f"{table}/_manifest/*.json"):
        try:
            man = json.load(open(f))
        except (OSError, json.JSONDecodeError):
            continue
        b = man.get("_stream_batch_id")
        if b is not None:
            out[int(b)] = float(man.get("committed_at", os.path.getmtime(f)))
    return out


class Workload:
    """A benchmark workload: one or more parts run one after another in
    the same session, each on its share of ``--seconds``."""

    def __init__(self, name: str, parts: list):
        self.name = name
        self.parts = [p() for p in parts]

    def generate(self, ctx: Ctx, inputs: str) -> dict:
        return {p.name: p.generate(ctx, f"{inputs}/{p.name}") for p in self.parts}

    def prepare(self, ctx: Ctx, inputs: str) -> None:
        for p in self.parts:
            p.prepare(ctx, f"{inputs}/{p.name}")

    def warm_up(self, ctx: Ctx) -> None:
        for p in self.parts:
            p.warm_up(ctx)

    def run(self, ctx: Ctx, tag: str, closed_loop_only: bool = False) -> Outcome:
        """Run the parts in turn; ``walls`` keeps each part's wall time."""
        out, self.walls = None, {}
        for p in self.parts:
            if closed_loop_only and not p.closed_loop:
                continue
            t0 = time.perf_counter()
            o = p.run(ctx, tag, ctx.seconds * p.share)
            self.walls[p.name] = time.perf_counter() - t0
            out = o if out is None else out.merge(o)
        return out


PARTS = (PipelineBatch, CurationBatch, LakehouseDml, StreamIngest)
WORKLOADS = {
    "batch": [PipelineBatch, CurationBatch],
    "lakehouse": [LakehouseDml, StreamIngest],
}

