"""The three workloads, their correctness gate and the metric roll-up.

Every workload is a closed loop with one client on one SparkSession from
the package's ``get_spark``. A run is:

1. generate inputs (not timed);
2. start the session and run one warm-up pass that doubles as the
   correctness gate (``setup_s``, minus the oracle work);
3. measure whole passes until ``--seconds`` have elapsed, in an order
   the seed permutes. A traced run (``--trace 1``) measures the same
   passes with tracing on and reports per-layer metrics instead; its
   ``trace.ops_per_s`` against an untraced run's ``ops_per_s`` is the
   tracing overhead.

An op is timed from the call into the package until its output is fully
consumed. Between ops, outside the timed region, the op's leftover cached
RDDs are counted and then dropped, so no op reads another's cache.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from tracing import (
    ProcessTree,
    Spans,
    covered_ms,
    group_counts,
    parse_event_log,
)

PACKAGE = "data_engineering_etl_self_service_spark"

QUERY_MIXES = {
    "session_analytics": [
        "sessionize_stats",
        "sessionize_skewsafe",
        "funnel",
        "rolling_wau",
        "hourly_event_counts",
        "peak_concurrency",
        "rfm_scores",
        "key_gaps",
        "bitmap_distinct_users",
        "incremental_rollup",
        "pricing_summary",
        "regional_revenue",
        "shipping_priority",
        "running_total",
        "asof_join",
        "scd2_history",
    ],
    "corpus_curation": [
        "minhash_lsh_dedup",
        "neardup_groups",
        "semantic_dedup",
        "cosine_topk",
        "sq_ann",
        "pq_ann",
        "quality_scores",
        "nb_classifier_scores",
        "html_extract_stats",
        "unicode_normalize_report",
        "url_normalize_report",
        "term_doc_freq",
        "chunk_documents",
        "pack_sequences",
    ],
}
WORKLOADS = (*QUERY_MIXES, "etl_backfill")

#: lake tables each query reads (its parquet reads, recorded once): the
#: input bytes of a query op, the base of its ``write_amp``
_EVENTS = ("events",)
_ORDERS = ("orders",)
_DOCS = ("documents",)
_EMB = ("embeddings",)
QUERY_TABLES = {
    **dict.fromkeys(
        (
            "sessionize_stats", "sessionize_skewsafe", "funnel", "rolling_wau",
            "hourly_event_counts", "peak_concurrency", "bitmap_distinct_users",
            "incremental_rollup", "asof_join", "url_normalize_report",
        ),
        _EVENTS,
    ),
    **dict.fromkeys(("rfm_scores", "key_gaps", "running_total", "scd2_history"), _ORDERS),
    "pricing_summary": ("lineitem",),
    "regional_revenue": ("customer", "lineitem", "nation", "orders", "region"),
    "shipping_priority": ("customer", "lineitem", "orders"),
    **dict.fromkeys(
        (
            "minhash_lsh_dedup", "neardup_groups", "quality_scores",
            "nb_classifier_scores", "html_extract_stats", "unicode_normalize_report",
            "term_doc_freq", "chunk_documents", "pack_sequences",
        ),
        _DOCS,
    ),
    **dict.fromkeys(("semantic_dedup", "cosine_topk", "sq_ann", "pq_ann"), _EMB),
}

#: input sizes: the analytics lake's scale factor and the ETL landing zone
FULL = {"sf": 0.1, "rows_per_day": 200_000, "partial_rows": 300}
SMOKE = {"sf": 0.001, "rows_per_day": 4_000, "partial_rows": 30}
ETL_DAYS = ["2024-03-01", "2024-03-02", "2024-03-03", "2024-03-04"]
ETL_PARTIAL_DAY = "2024-03-05"

#: public functions timed in a traced run, by module
SPAN_TARGETS = {
    "runtime.truncate_lineage": (f"{PACKAGE}.runtime", "truncate_lineage"),
    "runtime.spread_scan": (f"{PACKAGE}.runtime", "spread_scan"),
    "catalog.load_table": (f"{PACKAGE}.catalog", "load_table"),
    "plans.transform": (f"{PACKAGE}.plans.pipeline", "apply_transformations"),
    "quality.run_checks": (f"{PACKAGE}.operators.quality", "run_checks"),
    "snapshots.write_snapshot": (f"{PACKAGE}.sources.snapshots", "write_snapshot"),
}


# ------------------------------------------------------------ oracle compare


def mismatch(srows, scols, orows, ocols) -> str | None:
    """Compare by the rules of the repository's oracle checker: rows
    sorted by every column (columns by name), floats equal bit for bit,
    everything else by ``str``."""
    from tools.check_oracle import canon, values_equal

    s_rows, s_cols = canon(srows, scols)
    o_rows, o_cols = canon(orows, ocols)
    if s_cols != o_cols:
        return f"columns differ: spark={s_cols} oracle={o_cols}"
    if len(s_rows) != len(o_rows):
        return f"row count: spark={len(s_rows)} oracle={len(o_rows)}"
    for sr, orr in zip(s_rows, o_rows):
        if not all(values_equal(a, b) for a, b in zip(sr, orr)):
            return f"value mismatch: spark={sr} oracle={orr}"
    return None


def arrow_rows(tab) -> tuple[list[tuple], list[str]]:
    """Rows of an Arrow table as Python tuples; zoned timestamps become
    naive UTC, as ``collect()`` returns them in a UTC session."""
    cols = []
    for i in range(tab.num_columns):
        vals = tab.column(i).to_pylist()
        if pa.types.is_timestamp(tab.schema.field(i).type) and tab.schema.field(i).type.tz:
            utc = dt.timezone.utc
            vals = [v if v is None else v.astimezone(utc).replace(tzinfo=None) for v in vals]
        cols.append(vals)
    return list(zip(*cols)) if cols else [], tab.schema.names


class Oracle:
    """The DuckDB oracles of ``queries.ORACLES`` over the lake.

    Each oracle's result is kept in ``cache_dir`` as an Arrow file, keyed by
    the lake's bytes and the SQL, so a checkout runs each oracle once. The
    14 ``corpus_curation`` oracles take 10-13 s of an uncached run of
    86-101 s on a 4-vCPU box, and 26 such runs must fit the benchmark's
    time budget with the ETL runs. A cached result is compared exactly like
    a fresh one, and the cache is read before the peak RSS is reset, so no
    reported metric depends on whether it was warm."""

    def __init__(self, lake: str, cache_dir: str):
        from data_engineering_etl_self_service_spark.catalog import TABLES

        self.lake, self.tables, self.cache_dir = lake, TABLES, cache_dir
        h = hashlib.sha256()
        for t in TABLES:
            with open(os.path.join(lake, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
        self.lake_digest = h.hexdigest()
        self.con = None
        os.makedirs(cache_dir, exist_ok=True)

    def result(self, sql: str) -> pa.Table:
        path = os.path.join(
            self.cache_dir, hashlib.sha256((self.lake_digest + sql).encode()).hexdigest()
        )
        if os.path.exists(path):
            with pa.OSFile(path) as f:
                return pa.ipc.open_file(f).read_all()
        if self.con is None:
            import duckdb

            self.con = duckdb.connect()
            for t in self.tables:
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.lake}/{t}.parquet'")
        tab = self.con.execute(sql).arrow()
        tmp = f"{path}.{os.getpid()}"
        with pa.OSFile(tmp, "wb") as f, pa.ipc.new_file(f, tab.schema) as w:
            w.write_table(tab)
        os.replace(tmp, path)
        return tab

    def check(self, sql: str, srows, scols) -> str | None:
        """None if the Spark result equals the oracle's, else why not."""
        orows, ocols = arrow_rows(self.result(sql))
        return mismatch(srows, scols, orows, ocols)

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


# ------------------------------------------------------------------- helpers


def dir_rows(path: str) -> int:
    n = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return n


class Context:
    """One benchmark run: the session, its inputs and what was measured."""

    def __init__(self, args, run_dir: str, work_dir: str):
        self.args, self.run_dir, self.work_dir = args, run_dir, work_dir
        self.n_ops = 0
        self.size = SMOKE if args.smoke else FULL
        self.tree = ProcessTree()
        self.spans = Spans()
        self.traced = False
        self.errors: list[str] = []
        self.attempted = self.failed = 0
        self.detail: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg_start": os.getloadavg(),
            "size": self.size,
        }

    # ----------------------------------------------------------- session
    def start_spark(self) -> None:
        from pyspark import __version__ as pyspark_version

        from data_engineering_etl_self_service_spark import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(self.event_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.event_dir}",
                    "spark.eventLog.compress": "true",
                    "spark.eventLog.compression.codec": "zstd",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            cpus=self.detail["nproc"],
            extra_conf=conf,
        )
        self.sc = self.spark.sparkContext
        self.spark_start_s = time.perf_counter() - t0
        self.detail["versions"] = {
            "spark": self.spark.version,
            "pyspark": pyspark_version,
        }
        self.detail["spark_conf"] = {
            k: self.spark.conf.get(k)
            for k in ("spark.driver.memory", "spark.sql.shuffle.partitions", "spark.master")
        }

    def stop_spark(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None

    # ----------------------------------------------------------- op frame
    def set_group(self, group: str | None) -> None:
        if self.traced:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    def hygiene(self) -> int:
        """Count the RDDs an op left persisted, then drop them and the
        SQL cache."""
        rdds = list(self.sc._jsc.getPersistentRDDs().values())
        self.spark.catalog.clearCache()
        for rdd in rdds:
            rdd.unpersist(True)
        return len(rdds)

    def timed_op(self, key: str, body) -> dict | None:
        """Run ``body(group)`` as one op; ``group(phase)`` tags the jobs of
        each phase in a traced run. Returns the op record, or None if it
        raised (counted as failed)."""
        self.attempted += 1
        self.n_ops += 1
        idx = self.n_ops
        wb0 = self.tree.sample()
        spans0 = (Counter(self.spans.seconds), Counter(self.spans.calls))
        groups: list[str] = []

        def group(phase: str) -> None:
            g = f"{phase}|{key}|{idx}"
            groups.append(g)
            self.set_group(g)

        rec = {"key": key}
        e0 = time.time()
        t0 = time.perf_counter()
        try:
            rec.update(body(group))
        except Exception as exc:  # one broken op must not end the run
            self.failed += 1
            self.errors.append(f"{key}: {type(exc).__name__}: {exc}"[:500])
            self.set_group(None)
            self.hygiene()
            return None
        rec["wall_s"] = time.perf_counter() - t0
        rec["epoch_ms"] = (e0 * 1000, time.time() * 1000)
        self.set_group(None)
        rec["write_bytes"] = self.tree.sample() - wb0
        rec["cached_left"] = self.hygiene()
        rec["groups"] = groups
        if self.traced:
            rec["counts"] = {g: group_counts(self.sc, g) for g in groups}
            rec["span_s"] = dict(self.spans.seconds - spans0[0])
            rec["span_calls"] = dict(self.spans.calls - spans0[1])
        return rec

    def measure(self, one_pass, seconds: float) -> tuple[list[dict], int]:
        """Whole passes until ``seconds`` have elapsed (at least one)."""
        ops: list[dict] = []
        t_end = time.perf_counter() + seconds
        n_pass = 0
        while n_pass == 0 or time.perf_counter() < t_end:
            ops.extend(r for r in one_pass() if r is not None)
            n_pass += 1
        return ops, n_pass


# ------------------------------------------------------------ query workloads


class QueryWorkload:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.names = QUERY_MIXES[ctx.args.workload]
        self.rng = random.Random(ctx.args.seed)

    def inputs(self) -> None:
        self.lake = datagen.write_lake(os.path.join(self.ctx.run_dir, "lake"), self.ctx.size["sf"])
        self.input_bytes = {
            n: sum(os.path.getsize(os.path.join(self.lake, f"{t}.parquet")) for t in QUERY_TABLES[n])
            for n in self.names
        }

    def run_query(self, name: str):
        from data_engineering_etl_self_service_spark.queries import QUERIES

        def body(group):
            group("b")
            t0 = time.perf_counter()
            df = QUERIES[name](self.ctx.spark, self.lake)
            t1 = time.perf_counter()
            group("x")
            df.write.format("noop").mode("overwrite").save()
            return {"build_s": t1 - t0, "exec_s": time.perf_counter() - t1}

        return body

    def warmup_and_gate(self) -> float:
        """Warm-up: fetch every result, ``nproc`` queries at a time, and
        check each against its DuckDB oracle. Returns the Spark-side wall.

        The warm-up runs concurrently only to shorten set-up (the cold
        pass costs about twice a warm one); it is never timed as ops."""
        from concurrent.futures import ThreadPoolExecutor

        from data_engineering_etl_self_service_spark.queries import ORACLES, QUERIES

        ctx = self.ctx

        def fetch(name):
            return arrow_rows(QUERIES[name](ctx.spark, self.lake).toArrow())

        got = {}
        t_pass = time.perf_counter()
        with ThreadPoolExecutor(max_workers=ctx.detail["nproc"]) as pool:
            futures = {name: pool.submit(fetch, name) for name in self.names}
            for name, fut in futures.items():
                ctx.attempted += 1
                try:
                    got[name] = fut.result()
                except Exception as exc:  # counted; the run goes on
                    ctx.failed += 1
                    ctx.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:500])
        spark_s = time.perf_counter() - t_pass
        ctx.hygiene()
        t0 = time.perf_counter()
        oracle = Oracle(self.lake, os.path.join(ctx.work_dir, "oracle"))
        self.out_rows = {}
        for name in list(got):
            srows, scols = got.pop(name)
            bad = oracle.check(ORACLES[name], srows, scols)
            if bad:
                ctx.failed += 1
                ctx.errors.append(f"{name}: oracle {bad}"[:500])
            self.out_rows[name] = len(srows)
        oracle.close()
        ctx.detail["oracle_s"] = time.perf_counter() - t0
        return spark_s

    def one_pass(self) -> list[dict | None]:
        order = list(self.names)
        self.rng.shuffle(order)
        recs = []
        for name in order:
            rec = self.ctx.timed_op(name, self.run_query(name))
            if rec is not None:
                rec["rows"] = self.out_rows.get(name, 0)
                rec["input_bytes"] = self.input_bytes[name]
            recs.append(rec)
        return recs

    def detail_key(self, rec: dict) -> str:
        return rec["key"]


# --------------------------------------------------------------- ETL backfill


class EtlWorkload:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.base = os.path.join(ctx.run_dir, "etl")

    def inputs(self) -> None:
        size = self.ctx.size
        landing = os.path.join(self.base, "landing")
        self.days = ETL_DAYS + [ETL_PARTIAL_DAY]
        self.landing = datagen.write_landing(
            landing,
            self.ctx.args.seed,
            ETL_DAYS,
            ETL_PARTIAL_DAY,
            size["rows_per_day"],
            size["partial_rows"],
        )
        self.out = os.path.join(self.base, "out")
        self.lake_path = os.path.join(self.out, "clicks_lake")
        self.snap_path = os.path.join(self.out, "click_sessions")
        min_rows = size["rows_per_day"] // 2
        source = {"type": "file", "format": "parquet", "path": f"{landing}/ds={{ds}}"}
        from data_engineering_etl_self_service_spark.plans.spec import spec_from_dict

        self.specs = [
            spec_from_dict(
                {
                    "pipeline_info": {"name": "clicks_lake"},
                    "source": source,
                    "data_quality_mode": "rows",
                    "data_quality_checks": [
                        {"check_type": "non_null", "column": "user_id"},
                        {"check_type": "min_row_count", "threshold": min_rows},
                    ],
                    "destination": {
                        "type": "parquet",
                        "path": self.lake_path,
                        "partition_by": ["ds"],
                    },
                }
            ),
            spec_from_dict(
                {
                    "pipeline_info": {"name": "click_sessions"},
                    "source": source,
                    "transformations": [
                        {"op": "filter", "predicate": "user_id IS NOT NULL"},
                        {
                            "op": "sessionize",
                            "ts_col": "event_time",
                            "gap_minutes": 30,
                            "tiebreak_cols": ["event_id"],
                        },
                        {"op": "mask", "columns": ["user_id"], "salt": "perfbench"},
                        {
                            "op": "aggregate",
                            "group_by": ["user_id", "session_seq"],
                            "aggs": {
                                "n_events": "count(*)",
                                "session_start": "min(event_time)",
                                "session_end": "max(event_time)",
                                "revenue": "sum(CASE WHEN event_type = 'purchase' "
                                "THEN price ELSE 0 END)",
                            },
                        },
                    ],
                    "data_quality_checks": [
                        {"check_type": "min_row_count", "threshold": min_rows // 10},
                    ],
                    "destination": {"type": "snapshot", "path": self.snap_path},
                }
            ),
        ]

    def run_day(self, ds: str):
        from data_engineering_etl_self_service_spark.plans.pipeline import backfill

        def body(group):
            results = []
            for spec in self.specs:
                group(spec.name)
                results.append(backfill(self.ctx.spark, spec, [ds])[0])
            return {"results": results}

        return body

    def check_day(self, ds: str, results) -> str | None:
        from data_engineering_etl_self_service_spark.sources.snapshots import (
            snapshot_versions,
        )

        lake, sessions = results
        info = self.landing[ds]
        versions = len(snapshot_versions(self.snap_path))
        if ds == ETL_PARTIAL_DAY:
            if lake.published_path or not lake.quarantined_path:
                return "partial day was published by the lake spec"
            if sessions.published_path or not sessions.quarantined_path:
                return "partial day was published by the sessions spec"
            return None if versions == self.versions else "partial day added a version"
        self.versions += 1
        if lake.published_path != self.lake_path or not lake.passed:
            return "lake spec did not publish"
        if lake.metrics["rows_quarantined"] != info["bad"]:
            return f"quarantined {lake.metrics['rows_quarantined']} rows, injected {info['bad']}"
        if info["bad"]:
            q = dir_rows(f"{lake.quarantined_rows_path}/ds={ds}")
            if q != info["bad"]:
                return f"quarantine holds {q} rows, injected {info['bad']}"
        n = dir_rows(f"{self.lake_path}/ds={ds}")
        if n != info["rows"] - info["bad"]:
            return f"lake holds {n} rows, expected {info['rows'] - info['bad']}"
        if sessions.published_path != self.snap_path:
            return "sessions spec did not publish"
        if versions != self.versions:
            return f"{versions} snapshot versions after {self.versions} runs"
        return None

    def one_pass(self, days: list[str] | None = None) -> list[dict | None]:
        ctx = self.ctx
        shutil.rmtree(self.out, ignore_errors=True)
        self.versions = 0
        recs = []
        for ds in days or self.days:
            rec = ctx.timed_op(ds, self.run_day(ds))
            if rec is not None:
                results = rec.pop("results")
                bad = self.check_day(ds, results)
                if bad:
                    ctx.failed += 1
                    ctx.errors.append(f"{ds}: {bad}")
                rec["rows"] = self.landing[ds]["rows"]
                rec["input_bytes"] = self.landing[ds]["bytes"]
                rec["pipeline"] = {
                    r.spec.name: {k: r.metrics[k] for k in ("plan_s", "checks_s", "write_s")}
                    for r in results
                }
            recs.append(rec)
        return recs

    def warmup_and_gate(self) -> float:
        """Warm-up: one full day and the partial day, checked like every
        measured pass."""
        t0 = time.perf_counter()
        self.one_pass([self.days[0], ETL_PARTIAL_DAY])
        return time.perf_counter() - t0

    def detail_key(self, rec: dict) -> str:
        return "partial_day" if rec["key"] == ETL_PARTIAL_DAY else "full_day"


# ------------------------------------------------------------------ roll-up


def end_to_end(ctx: Context, ops: list[dict], setup_s: float, peak: int) -> dict:
    walls = [r["wall_s"] for r in ops]
    busy = sum(walls)
    # A pass holds 5 to 16 ops, too few for a percentile with ten samples
    # above it, so the tail is the mean of the slowest quarter of the ops.
    # A quantile falls in the gaps between the mix's few slow queries: over
    # ten corpus seeds the upper quartile spread 0.36 (IQR/median) where
    # this spread 0.18, the same as the summed wall.
    slow = sorted(walls)[-max(1, len(walls) // 4):]
    # The typical latency of a fixed, heterogeneous mix is its geometric
    # mean (as in TPC-H's power test): every query counts, scaled to its
    # own size. The median of one pass is the latency of whichever one or
    # two queries sit in the middle, and spread 0.26 against 0.11.
    geomean = math.exp(statistics.fmean(math.log(w) for w in walls))
    ctx.detail["latency"] = {"p50_s": statistics.median(walls), "walls_s": walls}
    m = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(ops) / busy, "1/s"),
        "latency_geomean_s": (geomean, "s"),
        "latency_tail_s": (statistics.fmean(slow), "s"),
        "rows_per_s": (sum(r["rows"] for r in ops) / busy, "1/s"),
        "write_amp": (
            sum(r["write_bytes"] for r in ops) / sum(r["input_bytes"] for r in ops),
            "ratio",
        ),
        "ok_ratio": ((ctx.attempted - ctx.failed) / ctx.attempted, "ratio"),
        "peak_rss_mb": (peak / 2**20, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def per_layer(ctx: Context, ops: list[dict], log: dict) -> dict:
    n = len(ops)
    jobs_by_group: dict[str, list] = {}
    for j in log["jobs"]:
        jobs_by_group.setdefault(j["group"], []).append(j)
    tot: Counter = Counter()
    for r in ops:
        tot["build_s"] += r.get("build_s", 0.0)
        tot["exec_s"] += r.get("exec_s", 0.0)
        tot["cached_left"] += r["cached_left"]
        for g, c in r["counts"].items():
            phase = g.split("|", 1)[0]
            tot["jobs"] += c["jobs"]
            tot["stages"] += c["stages"]
            tot["tasks"] += c["tasks"]
            if phase in ("b", "x"):
                tot[f"{phase}_jobs"] += c["jobs"]
            # task counts come from the status tracker above
            tot.update({k: v for k, v in log["groups"].get(g, {}).items() if k != "tasks"})
        intervals = [
            (j["start_ms"], j["end_ms"] or j["start_ms"])
            for g in r["groups"]
            for j in jobs_by_group.get(g, ())
        ]
        lo, hi = r["epoch_ms"]
        tot["driver_only_s"] += (hi - lo - covered_ms(intervals, lo, hi)) / 1000
        for label, s in r["span_s"].items():
            tot[f"{label}_s"] += s
        for label, c in r["span_calls"].items():
            tot[f"{label}_calls"] += c
        for stages in r.get("pipeline", {}).values():
            for k, v in stages.items():
                tot[f"pipeline.{k}"] += v
    run_s, cpu_s, gc_s = tot["run_ms"] / 1e3, tot["cpu_ns"] / 1e9, tot["gc_ms"] / 1e3
    per_op = {
        "queries.build_s": (tot["build_s"], "s"),
        "queries.build_jobs": (tot["b_jobs"], "count"),
        "queries.exec_s": (tot["exec_s"], "s"),
        "queries.exec_jobs": (tot["x_jobs"], "count"),
        "queries.cached_left": (tot["cached_left"], "count"),
        "runtime.truncate_lineage_s": (tot["runtime.truncate_lineage_s"], "s"),
        "runtime.truncate_lineage_calls": (tot["runtime.truncate_lineage_calls"], "count"),
        "runtime.spread_scan_s": (tot["runtime.spread_scan_s"], "s"),
        "runtime.spread_scan_calls": (tot["runtime.spread_scan_calls"], "count"),
        "catalog.load_table_s": (tot["catalog.load_table_s"], "s"),
        "catalog.load_table_calls": (tot["catalog.load_table_calls"], "count"),
        "spark.jobs": (tot["jobs"], "count"),
        "spark.stages": (tot["stages"], "count"),
        "spark.tasks": (tot["tasks"], "count"),
        "spark.driver_only_s": (tot["driver_only_s"], "s"),
        "spark.executor_run_s": (run_s, "s"),
        "spark.executor_cpu_s": (cpu_s, "s"),
        "spark.gc_s": (gc_s, "s"),
        "spark.offcpu_s": (run_s - cpu_s - gc_s, "s"),
        "spark.shuffle_write_bytes": (tot["shuffle_write_bytes"], "bytes"),
        "spark.shuffle_read_bytes": (tot["shuffle_read_bytes"], "bytes"),
        "spark.spill_bytes": (tot["spill_bytes"], "bytes"),
        "spark.input_bytes": (tot["input_bytes"], "bytes"),
        "spark.output_bytes": (tot["output_bytes"], "bytes"),
        "pipeline.plan_s": (tot["pipeline.plan_s"], "s"),
        "pipeline.checks_s": (tot["pipeline.checks_s"], "s"),
        "pipeline.write_s": (tot["pipeline.write_s"], "s"),
        "plans.transform_s": (tot["plans.transform_s"], "s"),
        "quality.run_checks_s": (tot["quality.run_checks_s"], "s"),
        "snapshots.write_snapshot_s": (tot["snapshots.write_snapshot_s"], "s"),
    }
    m = {k: (v / n, u) for k, (v, u) in per_op.items()}
    m["spark.shuffle_per_input"] = (
        tot["shuffle_write_bytes"] / max(tot["input_bytes"], 1),
        "ratio",
    )
    # tracing overhead: this against ops_per_s of an untraced run
    m["trace.ops_per_s"] = (n / sum(r["wall_s"] for r in ops), "1/s")
    ctx.detail["unattributed"] = dict(log["groups"].get("", {}))
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def split(ops: list[dict], key) -> dict:
    """Per-query (or per-day-kind) medians for the detail file."""
    by: dict[str, list[dict]] = {}
    for r in ops:
        by.setdefault(key(r), []).append(r)
    out = {}
    for k, rs in sorted(by.items()):
        row = {"n": len(rs), "wall_s": statistics.median(r["wall_s"] for r in rs)}
        for f in ("build_s", "exec_s", "cached_left", "write_bytes"):
            if f in rs[0]:
                row[f] = statistics.median(r[f] for r in rs)
        if rs[0].get("counts"):
            for g, c in rs[0]["counts"].items():
                row[f"jobs.{g.split('|', 1)[0]}"] = c["jobs"]
        if "pipeline" in rs[0]:
            row["pipeline"] = rs[0]["pipeline"]
        out[k] = row
    return out


def run(args, run_dir: str, work_dir: str, t_start: float) -> dict:
    ctx = Context(args, run_dir, work_dir)
    wl = EtlWorkload(ctx) if args.workload == "etl_backfill" else QueryWorkload(ctx)
    t_imports = time.perf_counter() - t_start
    t0 = time.perf_counter()
    wl.inputs()
    ctx.detail["input_gen_s"] = time.perf_counter() - t0
    ctx.start_spark()
    try:
        warm_s = wl.warmup_and_gate()
        setup_s = t_imports + ctx.spark_start_s + warm_s
        # the peak covers measured ops only, not input generation, the
        # warm-up or the oracles
        ctx.tree.reset_peak()
        if args.trace:
            ctx.spans.install(PACKAGE, SPAN_TARGETS)
            ctx.traced = True
        ops, ctx.detail["passes"] = ctx.measure(wl.one_pass, 0 if args.smoke else args.seconds)
    finally:
        ctx.stop_spark()
    if not ops:
        raise RuntimeError(f"no op succeeded: {ctx.errors[:3]}")
    ctx.detail["loadavg_end"] = os.getloadavg()
    ctx.detail["errors"] = ctx.errors
    ctx.detail["split"] = split(ops, wl.detail_key)
    if args.trace:
        (log_file,) = os.listdir(ctx.event_dir)
        metrics = per_layer(ctx, ops, parse_event_log(os.path.join(ctx.event_dir, log_file)))
    else:
        metrics = end_to_end(ctx, ops, setup_s, ctx.tree.peak_rss_bytes())
    ctx.detail["setup"] = {"imports_s": t_imports, "spark_start_s": ctx.spark_start_s, "warmup_s": warm_s}
    ctx.detail["metrics"] = metrics
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-smoke' if args.smoke else ''}.json"
    detail_dir = os.path.join(work_dir, "detail")
    os.makedirs(detail_dir, exist_ok=True)
    with open(os.path.join(detail_dir, name), "w") as f:
        json.dump(ctx.detail, f, indent=1, default=str)
    return {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
