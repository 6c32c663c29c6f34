"""The workloads. Each runs closed-loop with one client: set-up rounds,
an untimed warm-up, timed passes until the run's seconds are spent, then
the correctness checks.

- ``medallion_daily``: consecutive ``date_id``s plus seeded re-runs of
  earlier ones through ``orchestration.run_dag.run_medallion``; the
  runner dispatches to ``pipelines.{bronze,silver,gold}.run`` and gold
  loads a sqlite serving table through ``connect=``.
- ``mix_small``: registry queries over a small corpus (plan/job-floor
  bound).
- ``mix_scaled``: linearly scaling queries over an x16 key-offset replica
  (scan/shuffle/compute bound; the medium posture self-selects). A run
  takes ~90 s of set-up and warm-up before it measures anything and ~2
  min of oracle checks after (4 vCPUs), so it is left out of
  BENCHMARK.json, whose runs must fit a fixed time budget; run it by hand.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import sqlite3
import statistics
import sys
import time
import traceback

import corpus
from spans import Tracer, event_log_confs

#: Query families of the mix workloads.
FAMILY = {
    **dict.fromkeys([
        "flagship_silver_shape", "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
        "tpch_q5_star_join", "tpch_q9_profit", "tpch_q18_shape", "sessionization_gap30m",
        "window_lag_lead", "asof_join_events", "json_flatten", "time_bucket_agg",
        "cohort_retention",
    ], "warehouse"),
    **dict.fromkeys([
        "dedup_minhash_lsh", "dedup_simhash", "dedup_exact", "dedup_collapse_components",
        "similarity_topk_cosine", "similarity_ivf_topk", "text_tf_idf", "semdedup_prune",
        "context_window_pack",
    ], "curation"),
    **dict.fromkeys([
        "pagerank_docs", "kcore_decomposition", "bradley_terry_strengths", "raking_ipf",
        "runs_test_shuffle_audit",
    ], "iterative"),
    **dict.fromkeys(["streaming_tumbling_counts", "streaming_stream_join"], "streaming"),
}
FAMILIES = ("warehouse", "curation", "iterative", "streaming")

MIX_SMALL = [
    "flagship_silver_shape", "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "sessionization_gap30m", "window_lag_lead", "json_flatten", "dedup_exact",
    "similarity_topk_cosine", "similarity_ivf_topk", "text_tf_idf", "bradley_terry_strengths",
    "streaming_tumbling_counts",
]
#: Queries whose work grows linearly with the replica factor; near-dup and
#: graph queries grow quadratically under verbatim text replication.
MIX_SCALED = [
    "flagship_silver_shape", "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q5_star_join", "tpch_q9_profit", "tpch_q18_shape", "sessionization_gap30m",
    "window_lag_lead", "asof_join_events", "time_bucket_agg", "cohort_retention", "dedup_exact",
    "similarity_topk_cosine", "similarity_ivf_topk", "text_tf_idf", "raking_ipf",
    "streaming_tumbling_counts",
]

SETUP_ROUNDS = 3
#: The mix corpora are fixed; the run's seed fixes the query order.
CORPUS_SEED = 42


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Workload:
    """Shared run skeleton; subclasses fill in set-up work and passes."""

    name = ""
    memory = "2g"

    def __init__(self, work: str, seed: int, seconds: float, tracer: Tracer, smoke: bool):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.tracer, self.smoke = tracer, smoke
        self.rng = random.Random(seed)
        self.spark = None
        self.setup_walls: list[float] = []
        self.floor_s = 0.0
        self.pass_walls: list[float] = []
        self.op_walls: dict[str, list[float]] = {}  # timed walls per query or DAG task
        self.pass_rows: list[float] = []  # rows produced per timed pass
        self.pass_spans: list[dict] = []
        self.trace_walls: list[float] = []  # tracer bookkeeping per pass
        self.attempted = self.failed = 0
        self.problems: list[str] = []

    # -- session -----------------------------------------------------------
    def session_confs(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        confs = {
            "spark.driver.memory": self.memory,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # a fixed-size heap keeps the JVM's resident set from tracking GC timing
            "spark.driver.extraJavaOptions": f"-Xms{self.memory}",
        }
        if self.tracer.enabled:
            os.makedirs(self.event_dir, exist_ok=True)
            confs.update(event_log_confs(self.event_dir))
        return confs

    @property
    def event_dir(self) -> str:
        return os.path.join(self.work, "eventlog")

    def start_session(self):
        from etl_poor_main_pipeline_spark.session import get_spark

        k = min(4, os.cpu_count() or 1)
        spark = get_spark(
            app_name=f"perfbench-{self.name}", master=f"local[{k}]",
            extra_confs=self.session_confs(),
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = spark.sparkContext
        return spark

    def setup(self) -> None:
        """``SETUP_ROUNDS`` rounds of: fresh SparkContext (the JVM stays)
        and the workload's builds; then the host floor."""
        span = self.tracer.span
        for _ in range(SETUP_ROUNDS):
            if self.spark is not None:
                self.spark.stop()
                self.tracer.sc = None
            t0 = time.perf_counter()
            with span("setup"):
                with span("session.start"):
                    self.spark = self.start_session()
                self.build()
            self.setup_walls.append(time.perf_counter() - t0)
        with span("host.floor"):
            self.floor_s = self.host_floor()

    def host_floor(self) -> float:
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            self.spark.range(10).count()
            walls.append(time.perf_counter() - t0)
        return min(walls)

    def build(self) -> None:
        raise NotImplementedError

    # -- measurement -------------------------------------------------------
    def run(self) -> None:
        t0 = time.perf_counter()
        self.prepare()
        t1 = time.perf_counter()
        self.setup()
        t2 = time.perf_counter()
        self.warm()
        t3 = time.perf_counter()
        deadline = t3 + self.seconds
        i = 0
        while i == 0 or time.perf_counter() < deadline:
            before = self.tracer.self_s
            with self.tracer.span("pass", index=i) as rec:
                wall = self.one_pass()
            self.pass_walls.append(wall)
            if rec is not None:
                self.pass_spans.append(rec)
                self.trace_walls.append(self.tracer.self_s - before)
            self.after_pass()
            i += 1
        t4 = time.perf_counter()
        self.check()
        self.phases = {"prepare": t1 - t0, "setup": t2 - t1, "warm": t3 - t2,
                       "measure": t4 - t3, "check": time.perf_counter() - t4}

    def prepare(self) -> None:
        """Generate inputs (not part of set-up time)."""

    def warm(self) -> None:
        """Untimed warm-up after set-up."""

    def one_pass(self) -> float:
        raise NotImplementedError

    def after_pass(self) -> None:
        """Untimed bookkeeping between passes."""

    def check(self) -> None:
        """Untimed end-of-run correctness checks."""

    def fail(self, msg: str, exc: Exception | None = None) -> None:
        self.failed += 1
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)
        if len(self.problems) < 20:
            self.problems.append(msg)

    def peak_rss_mb(self) -> float:
        jvm = self.spark.sparkContext._gateway.proc.pid
        return vm_hwm_mb("self") + vm_hwm_mb(jvm)

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": median(self.setup_walls),
            "pass_s": median(self.pass_walls),
            "pass_s_tail": tail(self.pass_walls),
            "query_s_geomean": geomean([median(w) for w in self.op_walls.values()]),
            "rows_per_s": median([r / w for r, w in zip(self.pass_rows, self.pass_walls)]),
            "bytes_written_per_input_byte": self.bytes_ratio(),
            "peak_rss_mb": self.peak_rss_mb(),
        }

    def pass_median(self, names: tuple[str, ...], self_time: bool = False,
                    family: str | None = None) -> float:
        """Median over passes of the per-pass wall of spans named ``names``
        (``self_time``: minus the part covered by child spans; ``family``:
        only query spans of that family)."""
        tr = self.tracer
        per_pass = {p["id"]: 0.0 for p in self.pass_spans}
        children: dict[str, float] = {}
        for s in tr.spans:
            if s["parent"] is not None and "t1" in s:
                children[s["parent"]] = children.get(s["parent"], 0.0) + tr.duration(s)
        for s in tr.spans:
            if s["name"] not in names or "t1" not in s:
                continue
            if family is not None and s["attrs"].get("family") != family:
                continue
            for a in tr.ancestors(s):
                if a["id"] in per_pass:
                    d = tr.duration(s) - (children.get(s["id"], 0.0) if self_time else 0.0)
                    per_pass[a["id"]] += d
                    break
        return median(list(per_pass.values()))


def tail(walls: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it; with
    fewer than eleven samples, the slowest one."""
    xs = sorted(walls)
    return xs[len(xs) - 11] if len(xs) > 10 else xs[-1]


# -- medallion ----------------------------------------------------------------


class Medallion(Workload):
    name = "medallion_daily"

    def prepare(self) -> None:
        from etl_poor_main_pipeline_spark.pipelines.schemas import GOLD_WEATHER_COLUMNS

        keys = 300 if self.smoke else 6000
        self.api = corpus.WeatherApi(self.seed, keys)
        self.warm_api = corpus.WeatherApi(self.seed, 100)
        self.lake = os.path.join(self.work, "lake")
        self.warm_lake = os.path.join(self.work, "warm_lake")
        self.db = os.path.join(self.work, "serving.db")
        types = {"temperature": "REAL", "feels_like": "REAL", "wind_speed": "REAL",
                 "weather_code": "INTEGER"}
        cols = ", ".join(f"{c} {types.get(c, 'TEXT')}" for c in GOLD_WEATHER_COLUMNS)
        with sqlite3.connect(self.db) as conn:
            for table in ("north_america_weather", "warm_weather"):
                conn.execute(f"CREATE TABLE {table} ({cols})")
        self.connect = lambda: sqlite3.connect(self.db)
        self.next_day = 19_000 + self.rng.randrange(365)  # days since 1970-01-01
        self.done: list[str] = []
        self.expected: dict[str, dict] = {}
        self.in_bytes = self.out_bytes = 0
        self.snapshot = self.lake_files()
        self.lake_written: list[tuple[int, int]] = []  # (files, bytes) per pass
        if self.tracer.enabled:
            self.wrap_layers()

    def wrap_layers(self) -> None:
        from etl_poor_main_pipeline_spark.pipelines import bronze, gold, silver
        from etl_poor_main_pipeline_spark.sinks import write

        w = self.tracer.wrap
        w(bronze, "ingest_batch", "sources.api.ingest")
        for mod in (bronze, silver, write):
            w(mod, "write_partition_overwrite", "sinks.write")
        w(gold, "load_serving_table", "sinks.jdbc")

    @staticmethod
    def day(n: int) -> str:
        return (dt.date(1970, 1, 1) + dt.timedelta(days=n)).isoformat()

    def medallion(self, lake: str, date_id: str, payloads: dict, table: str) -> dict[str, float]:
        """One ``date_id`` through bronze -> silver US/CA -> gold; returns
        the per-task walls."""
        from etl_poor_main_pipeline_spark.orchestration.run_dag import run_medallion
        from etl_poor_main_pipeline_spark.pipelines import bronze, gold, silver

        walls: dict[str, float] = {}
        landed = [0]

        def runner(argv: list[str]) -> int:
            layer, opts = argv[0], dict(zip(argv[1::2], argv[2::2]))
            task = f"{layer}_{opts['--country']}" if layer == "silver" else layer
            t0 = time.perf_counter()
            with self.tracer.span(f"pipelines.{layer}", task=task):
                if layer == "bronze":
                    landed[0] = bronze.run(self.spark, lake, date_id, list(payloads),
                                           payloads.__getitem__)
                elif layer == "silver":
                    silver.run(self.spark, lake, date_id, opts["--country"])
                else:
                    gold.run(self.spark, lake, date_id, connect=self.connect, table=table)
            walls[task] = time.perf_counter() - t0
            return 0

        with self.tracer.span("orchestration"):
            run_medallion(lake, date_id, runner=runner)
        self.landed = landed[0]
        return walls

    def build(self) -> None:
        date_id = self.day(18_000)
        self.medallion(self.warm_lake, date_id, self.warm_api.day(date_id), "warm_weather")

    def warm(self) -> None:
        """One full-size day on the warm-up lake, so the timed passes start
        with a warm JIT, as a long-running daily job would have it."""
        date_id = self.day(18_001)
        self.medallion(self.warm_lake, date_id, self.api.day(date_id), "warm_weather")

    def one_pass(self) -> float:
        # every third pass re-runs a seeded earlier date (idempotent overwrite)
        rerun = len(self.pass_walls) % 3 == 2 and bool(self.done)
        date_id = self.rng.choice(self.done) if rerun else self.day(self.next_day)
        if not rerun:
            self.next_day += 1
        payloads = self.api.day(date_id)
        if date_id not in self.expected:
            self.expected[date_id] = corpus.WeatherApi.expected(payloads)
        before = self.sibling_state(date_id) if rerun else None
        self.attempted += 4
        t0 = time.perf_counter()
        try:
            walls = self.medallion(self.lake, date_id, payloads, "north_america_weather")
        except Exception as exc:  # a failed pass counts against failed_ratio
            self.fail(f"{date_id}: {exc!r}"[:300], exc)
            self.pass_rows.append(0)
            return time.perf_counter() - t0
        wall = time.perf_counter() - t0
        for task, w in walls.items():
            self.op_walls.setdefault(task, []).append(w)
        self.pass_rows.append(self.landed)
        self.in_bytes += sum(len(p) for p in payloads.values())
        if not rerun:
            self.done.append(date_id)
        if before is not None and self.sibling_state(date_id) != before:
            self.fail(f"re-run of {date_id} touched sibling partitions")
        self.out_bytes += self.serving_bytes(date_id)
        return wall

    def after_pass(self) -> None:
        files = self.lake_files()
        new = [meta[0] for path, meta in files.items() if self.snapshot.get(path) != meta]
        self.lake_written.append((len(new), sum(new)))
        self.out_bytes += sum(new)
        self.snapshot = files

    def lake_files(self) -> dict[str, tuple]:
        out = {}
        for root, _, names in os.walk(self.lake):
            for n in names:
                if n.endswith(".parquet"):
                    st = os.stat(os.path.join(root, n))
                    out[os.path.join(root, n)] = (st.st_size, st.st_mtime_ns, st.st_ino)
        return out

    def sibling_state(self, date_id: str):
        files = {p: m for p, m in self.lake_files().items() if f"date_id={date_id}" not in p}
        with sqlite3.connect(self.db) as conn:
            rows = conn.execute(
                "SELECT date_id, count(*) FROM north_america_weather WHERE date_id <> ? "
                "GROUP BY date_id ORDER BY date_id", (date_id,),
            ).fetchall()
        return files, rows

    def serving_bytes(self, date_id: str) -> int:
        with sqlite3.connect(self.db) as conn:
            cols = [r[1] for r in conn.execute("PRAGMA table_info(north_america_weather)")]
            size = " + ".join(f"coalesce(length(CAST({c} AS BLOB)), 0)" for c in cols)
            return conn.execute(
                f"SELECT coalesce(sum({size}), 0) FROM north_america_weather WHERE date_id = ?",
                (date_id,),
            ).fetchone()[0]

    def check(self) -> None:
        """Every landed date: bronze per-country counts, silver per-category
        counts, gold = US + CA, and no duplicate keys anywhere."""
        import duckdb

        con = duckdb.connect()

        def table(db: str, t: str) -> str:
            return (f"read_parquet('{self.lake}/{db}/{t}/*/*.parquet', "
                    "hive_partitioning=true, hive_types_autocast=false)")

        bronze = table("analytics", "world_weather")
        silver = {c: table("analytics", t) for c, t in (("US", "us_weather"), ("CA", "canada_weather"))}
        with sqlite3.connect(self.db) as conn:
            gold = dict(conn.execute(
                "SELECT date_id, count(*) FROM north_america_weather GROUP BY date_id").fetchall())
            gold_dups = conn.execute(
                "SELECT count(*) - count(DISTINCT date_id || city) FROM north_america_weather"
            ).fetchone()[0]
        got_country = {(d, c): n for d, c, n in con.sql(
            f"SELECT date_id, country, count(*) FROM {bronze} GROUP BY ALL").fetchall()}
        bronze_dups = con.sql(
            f"SELECT count(*) - count(DISTINCT (date_id, city)) FROM {bronze}").fetchone()[0]
        got_cat = {}
        for c, src in silver.items():
            for d, k, n in con.sql(
                f"SELECT date_id, temperature_category, count(*) FROM {src} GROUP BY ALL"
            ).fetchall():
                got_cat[(d, f"{c}/{k}")] = n
        if bronze_dups or gold_dups:
            self.fail(f"duplicate keys: bronze {bronze_dups}, gold {gold_dups}")
        for d in self.done:
            exp = self.expected[d]
            if {c: got_country.get((d, c), 0) for c in exp["by_country"]} != exp["by_country"]:
                self.fail(f"{d}: bronze per-country counts")
            if sum(n for (dd, _), n in got_country.items() if dd == d) != exp["bronze"]:
                self.fail(f"{d}: bronze total")
            if {k: got_cat.get((d, k), 0) for k in exp["by_category"]} != exp["by_category"]:
                self.fail(f"{d}: silver per-category counts")
            if sum(n for (dd, _), n in got_cat.items() if dd == d) != exp["gold"]:
                self.fail(f"{d}: silver total")
            if gold.get(d, 0) != exp["gold"]:
                self.fail(f"{d}: gold rows {gold.get(d, 0)} != US+CA {exp['gold']}")
        if set(gold) != set(self.done):
            self.fail("serving table holds dates that were never loaded")

    def bytes_ratio(self) -> float:
        return self.out_bytes / max(1, self.in_bytes)

    def per_layer(self) -> dict[str, float]:
        pm = self.pass_median
        return {
            "sources.api.ingest_s": pm(("sources.api.ingest",)),
            "pipelines.bronze_s": pm(("pipelines.bronze",)),
            "pipelines.silver_s": pm(("pipelines.silver",)),
            "pipelines.gold_s": pm(("pipelines.gold",)),
            "orchestration.overhead_s": pm(("orchestration",), self_time=True),
            "sinks.write_s": pm(("sinks.write",)),
            "sinks.jdbc_s": pm(("sinks.jdbc",)),
            "sinks.files_written": self.lake_written[0][0],
            "sinks.bytes_written": self.lake_written[0][1],
        }


# -- query mixes --------------------------------------------------------------


class Mix(Workload):
    queries: list[str] = []
    layouts = True  # build the bucketed/day-partitioned layouts in set-up

    def make_corpus(self, out_dir: str) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        from etl_poor_main_pipeline_spark.registry import queries

        self.sf_dir = os.path.join(self.work, "corpus")
        self.make_corpus(self.sf_dir)
        self.order = list(self.queries)
        self.rng.shuffle(self.order)
        self.qs = queries()
        self.counts: dict[str, set[int]] = {}  # rows counted per query
        self.io = (0, 0)

    def build(self) -> None:
        from etl_poor_main_pipeline_spark.operators.similarity import ensure_ivf_index
        from etl_poor_main_pipeline_spark.registry_ext125 import ensure_layouts
        from etl_poor_main_pipeline_spark.sources.read import load_table

        span = self.tracer.span
        for t in corpus.TABLES:  # parquet footers and listing, as bench.py warms
            load_table(self.spark, self.sf_dir, t).count()
        if "similarity_ivf_topk" in self.queries:
            with span("similarity.ivf_index"):
                ensure_ivf_index(self.spark, self.sf_dir, num_centroids=16)
        if self.layouts:
            with span("layouts.build"):
                ensure_layouts(self.spark, self.sf_dir)

    def warm(self) -> None:
        """One untimed pass of the timed code, so the timed passes run on
        warm generated code and JIT."""
        self.run_queries(record=False)
        self.io = self.executor_io()

    def one_pass(self) -> float:
        return self.run_queries(record=True)

    def run_queries(self, record: bool) -> float:
        """``count()`` every query in the seeded order, as bench.py times
        it (build plus count under the size-derived posture); returns the
        summed wall."""
        from etl_poor_main_pipeline_spark.fastpath import execution_posture

        span = self.tracer.span
        total = 0.0
        rows = 0
        for name in self.order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with span("query", query=name, family=FAMILY[name]):
                    with execution_posture(self.spark, self.sf_dir, name):
                        with span("registry.build"):
                            df = self.qs[name](self.spark, self.sf_dir)
                        with span("query.run"):
                            n = df.count()
            except Exception as exc:
                self.fail(f"{name}: {exc!r}"[:300], exc)
                continue
            wall = time.perf_counter() - t0
            total += wall
            rows += n
            self.counts.setdefault(name, set()).add(n)
            if record:
                self.op_walls.setdefault(name, []).append(wall)
        if record:
            self.pass_rows.append(rows)
        return total

    def executor_io(self) -> tuple[int, int]:
        """(shuffle bytes written, input bytes read) so far, from the
        application status store."""
        ex = self.spark.sparkContext._jsc.sc().statusStore().executorList(False)
        summaries = [ex.apply(i) for i in range(ex.size())]
        return (sum(s.totalShuffleWrite() for s in summaries),
                sum(s.totalInputBytes() for s in summaries))

    def check(self) -> None:
        """Each query's full result against its DuckDB oracle twin (row
        count, columns, value hash, as tools/parity does), and every timed
        count against the oracle's row count."""
        from etl_poor_main_pipeline_spark.fastpath import execution_posture
        from etl_poor_main_pipeline_spark.registry import oracle_sql
        from tools.parity import duck_con, value_hash

        w0, r0 = self.io
        w1, r1 = self.executor_io()
        self.shuffle_written, self.input_read = w1 - w0, r1 - r0
        con = duck_con(self.sf_dir)
        oracles = oracle_sql()
        for name in self.order:
            self.attempted += 1
            try:
                with execution_posture(self.spark, self.sf_dir, name):
                    got = self.qs[name](self.spark, self.sf_dir).toPandas()
                want = con.sql(oracles[name]).fetchdf()
            except Exception as exc:
                self.fail(f"{name}: {exc!r}"[:300], exc)
                continue
            if len(got) != len(want):
                self.fail(f"{name}: rows {len(got)} != oracle {len(want)}")
            elif sorted(got.columns) != sorted(want.columns):
                self.fail(f"{name}: columns differ from oracle")
            elif value_hash(got) != value_hash(want):
                self.fail(f"{name}: value hash differs from oracle")
            if self.counts.get(name, set()) - {len(want)}:
                self.fail(f"{name}: counted {sorted(self.counts[name])} rows, oracle {len(want)}")
        con.close()

    def bytes_ratio(self) -> float:
        return self.shuffle_written / max(1, self.input_read)

    def per_layer(self) -> dict[str, float]:
        out = {f"family.{f}_s": self.pass_median(("query",), family=f) for f in FAMILIES}
        out["registry.build_s"] = self.pass_median(("registry.build",))
        return out


class MixSmall(Mix):
    name = "mix_small"
    queries = MIX_SMALL

    def make_corpus(self, out_dir: str) -> None:
        corpus.make_corpus(out_dir, 0.001 if self.smoke else 0.01, CORPUS_SEED)


class MixScaled(Mix):
    name = "mix_scaled"
    queries = MIX_SCALED
    memory = "3g"
    layouts = False  # no query in the list reads them; at x16 they cost ~10 s a round

    def make_corpus(self, out_dir: str) -> None:
        base = os.path.join(self.work, "corpus_base")
        corpus.make_corpus(base, 0.001 if self.smoke else 0.1, CORPUS_SEED)
        corpus.make_scaled(base, 16, out_dir)


WORKLOADS = {w.name: w for w in (Medallion, MixSmall, MixScaled)}
