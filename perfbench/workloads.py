"""The closed-loop workloads and the run state they share.

Each workload drives one ``local[nproc]`` session from this one Python
process, and every call waits for its reply. An *op* is the unit a
user waits for: one pass over the ten headline queries, or one CSV
batch landed and refreshed through bronze, the incremental ETL, the
five gold widgets and the two streaming queries. A *step* is one engine
call inside an op.

With tracing on, measured ops run in blocks of four: traced, untraced,
untraced, traced. One run yields both the per-layer numbers (from the
traced ops) and the tracing overhead, in which a cost that grows from
op to op cancels out.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import re
import statistics
import sys
import time
import traceback
from decimal import Decimal

import covid
from tables import build_tables, write_tables
from spans import COUNTERS, Tracer, phases_ms

from bench import HEADLINE
from coviddatapipeline_spark.session import get_spark

HEADLINE_SF = 0.02
# Untimed rounds after set-up: rounds in a fresh JVM get faster while the
# JIT compiles the ten queries' code paths, on 4 vCPUs from about 5.5 s
# for the second round to within a tenth of the plateau by the fourth.
HEADLINE_WARM_ROUNDS = 3
# Untimed landings after set-up, each into tables of its own, so that the
# measured landings start warm without growing the measured tables.
COVID_WARM_LANDINGS = 1
# Rows per covid batch, not a multiple of 10 so that a date straddles each
# boundary. On 4 vCPUs a landing costs about 4.3 s of fixed Spark and
# streaming work plus 35 us per row landed: at 40k rows the data is a
# quarter of a landing, and a run still takes about a minute.
BATCH_ROWS = 40_003
MIN_ROUNDS = 4
MIN_COVID_LANDINGS = 4  # new batches; the re-delivery lands among them
FAILED = object()


class Bench:
    """One run: the session, the op and step timings, the spans and the
    output checks."""

    def __init__(self, seed: int, seconds: float, trace: bool, nproc: int, work: str) -> None:
        self.seed, self.seconds, self.trace, self.nproc, self.work = seed, seconds, trace, nproc, work
        self.tracer = Tracer()
        self.spark = None
        self.setup_s = 0.0  # the cold set-up
        self.session_start_s = 0.0  # its get_spark call
        self.warmup_s: list[float] = []
        self.ops: list[tuple[float, bool, object]] = []  # (seconds, traced, root span)
        self.redelivered: set[int] = set()  # ops that re-land an old batch
        self.steps: list[tuple[str, float, bool]] = []  # (name, seconds, traced)
        self.bad_steps: set[int] = set()
        self.problems: list[str] = []
        self.layers: dict[str, list[float]] = {}
        self.first_op = self.first_step = 0  # ops and steps before these warmed up
        self.peak_rss_mb = (0.0, 0.0)  # (driver JVM, this process) over the measured run

    # -- session and set-up ------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def setup(self, prepare):
        """The cold set-up a user of the engine waits for: start the JVM
        and the engine's session, make the inputs from the run's seed and
        run the first op on them."""
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": self.path("spark-local"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        self.tracer.attach(self.spark)
        state = prepare(self.seed, self.path("inputs"))
        self.setup_s = time.perf_counter() - t0
        return state

    def warm_up(self, fn, times: int) -> None:
        """Run ``fn(rep)`` untimed for ``rep`` in ``range(times)``; what
        follows is measured."""
        for rep in range(times):
            t0 = time.perf_counter()
            fn(rep)
            self.warmup_s.append(time.perf_counter() - t0)
        self.first_op, self.first_step = len(self.ops), len(self.steps)

    def more(self, alike: int, least: int, deadline: float) -> bool:
        """Whether to run another op, given ``alike`` measured ops so far
        (re-deliveries not counted): at least ``least`` of them, until the
        deadline, and with tracing on, whole blocks of four."""
        return alike < least or time.perf_counter() < deadline or (self.trace and alike % 4 != 0)

    def done(self) -> None:
        """The measured run has ended; read its peak memory before any
        oracle runs in this process."""
        self.peak_rss_mb = peak_rss_mb()

    # -- ops, steps and checks -----------------------------------------------
    def op(self, fn, traced: bool) -> None:
        self.tracer.enabled = traced
        t0 = time.perf_counter()
        with self.tracer.span("op") as sp:
            fn()
        self.ops.append((time.perf_counter() - t0, traced, sp))
        self.tracer.enabled = False

    def call(self, name: str, fn, group: bool = False):
        """One engine call: timed, traced when tracing is on, and counted
        as failed if it raises. Returns its value or FAILED."""
        idx = len(self.steps)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, group=group) as sp:
                value = fn(sp)
        except Exception:  # a failed call is counted, and the run goes on
            traceback.print_exc(file=sys.stderr)
            self.bad_steps.add(idx)
            self.problems.append(f"{name} raised")
            value = FAILED
        self.steps.append((name, time.perf_counter() - t0, self.tracer.enabled))
        return value

    def collect(self, df):
        """Collect a DataFrame as a traced leaf, with its Catalyst phases."""
        with self.tracer.span("collect", group=True) as sp:
            rows = df.collect()
        if sp is not None:
            sp.attrs["catalyst"] = phases_ms(df._jdf.queryExecution())
        return rows

    def check(self, ok: bool, what: str, step: int | None = None) -> bool:
        """Record an output check against the last step (or ``step``)."""
        if not ok:
            self.bad_steps.add(len(self.steps) - 1 if step is None else step)
            self.problems.append(what)
        return ok

    def note(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(value)

    def traced(self, alike: int) -> bool:
        """Blocks of four like ops run traced, untraced, untraced, traced."""
        return self.trace and alike % 4 in (0, 3)

    # -- results ---------------------------------------------------------------
    def end_to_end(self) -> dict[str, tuple[float, str, int]]:
        """``op_s`` is one op's time as the sum over its steps of each
        step's median over the untraced measured ops: a stall of the host
        that hits one step of one op leaves it unchanged."""
        by_step: dict[str, list[float]] = {}
        for name, s, traced in self.steps[self.first_step :]:
            if not traced:
                by_step.setdefault(name, []).append(s)
        ops = sum(1 for _, traced, _ in self.ops[self.first_op :] if not traced)
        return {
            "setup_s": (self.setup_s, "s", 1),
            "op_s": (sum(statistics.median(v) for v in by_step.values()), "s", ops),
        }

    def step_p90(self) -> tuple[float, int]:
        """90th percentile of one untraced engine call, with its sample
        count. Printed but not a BENCHMARK.json metric: a run has 25-40
        calls of up to ten kinds, so the percentile is an order statistic
        of the slowest kind and moves by a fifth between equal runs."""
        steps = [s for _, s, traced in self.steps[self.first_step :] if not traced]
        return percentile(steps, 0.90), len(steps)

    def per_layer(self) -> dict[str, tuple[float, str]]:
        """Per-op means over the traced ops of the counters every workload
        has, plus the session start time, peak memory and the tracing
        overhead."""
        traced = [sp for _, t, sp in self.ops[self.first_op :] if t]
        sums: dict[str, float] = {}
        for op in traced:
            for key, value in op_layers(self.tracer, op).items():
                sums[key] = sums.get(key, 0.0) + value
        out = {k: (v / len(traced), LAYER_UNITS[k]) for k, v in sums.items()}
        out["session.start_s"] = (self.session_start_s, "s")
        out["mem.jvm_peak_rss_mb"] = (self.peak_rss_mb[0], "MB")
        out["mem.py_peak_rss_mb"] = (self.peak_rss_mb[1], "MB")
        # like against like: a re-delivered batch loads nothing. In a block
        # (traced, untraced, untraced, traced) a cost that grows linearly
        # from op to op cancels out of (t0 + t3 - t1 - t2) / 2.
        alike = [op[0] for i, op in enumerate(self.ops) if i >= self.first_op and i not in self.redelivered]
        blocks = [alike[j : j + 4] for j in range(0, len(alike) - 3, 4)]
        out["trace.overhead_s"] = (statistics.median((t[0] + t[3] - t[1] - t[2]) / 2 for t in blocks), "s")
        return out

    def workload_layers(self) -> dict[str, float]:
        return {k: sum(v) / len(v) for k, v in sorted(self.layers.items())}


LAYER_UNITS = {
    "build_s": "s",
    "build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.input_rows": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "driver.self_s": "s",
}


def op_layers(tracer: Tracer, op) -> dict[str, float]:
    """Sum one traced op's spans into the layer metrics of LAYER_UNITS."""
    c = dict.fromkeys(COUNTERS, 0.0)
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    job_s_outside_build = trace_s = 0.0
    for sp in tracer.descendants(op):
        trace_s += sp.attrs.get("trace_s", 0.0)
        for k, v in sp.counters.items():
            c[k] += v
        if sp.name == "build":
            out["build_s"] += sp.seconds
            out["build_jobs"] += sp.counters.get("jobs", 0)
        elif sp.counters:
            job_s_outside_build += sp.counters["job_ms"] / 1000
        for phase, ms in sp.attrs.get("catalyst", {}).items():
            out[f"catalyst.{phase}_ms"] += ms
    out["sched.jobs"] = c["jobs"]
    out["sched.stages"] = c["stages"]
    out["sched.tasks"] = c["tasks"]
    out["exec.run_s"] = c["run_ms"] / 1000
    out["exec.cpu_s"] = c["cpu_ns"] / 1e9
    out["exec.input_rows"] = c["input_rows"]
    out["exec.shuffle_write_bytes"] = c["shuffle_write_bytes"]
    out["exec.spill_bytes"] = c["spill_bytes"]
    out["driver.self_s"] = op.seconds - out["build_s"] - job_s_outside_build - trace_s
    return out


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident memory (VmHWM) of the driver JVM and of this process."""
    from pyspark import SparkContext

    def hwm(pid: int) -> float:
        with open(f"/proc/{pid}/status") as f:
            return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024

    return hwm(SparkContext._gateway.proc.pid), hwm(os.getpid())


# -- result comparison -----------------------------------------------------------
def _cell(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, dt.datetime) and v.time() == dt.time(0):
        return v.date()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def canon(rows, columns: list[str]) -> list[tuple]:
    """Rows with columns in name order and cells normalised, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=repr)


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (
            a is not None
            and b is not None
            and math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
        )
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))


# -- headline ----------------------------------------------------------------------
def headline(b: Bench) -> None:
    from coviddatapipeline_spark.queries import catalog

    qs, oracles = catalog.queries(), catalog.oracle_sql()

    def prepare(seed: int, d: str) -> str:
        write_tables(build_tables(seed, HEADLINE_SF), d)
        for name in HEADLINE:
            qs[name](b.spark, d).collect()
        return d

    d = b.setup(prepare)
    first: dict[str, list[tuple]] = {}
    first_step: dict[str, int] = {}

    def one_round(traced: bool) -> None:
        raw: dict[str, tuple[int, object]] = {}

        def run() -> None:
            for name in HEADLINE:
                raw[name] = (len(b.steps), b.call(f"query.{name}", lambda sp, n=name: query(b, qs[n], d)))

        b.op(run, traced)
        for name, (step, value) in raw.items():
            if value is FAILED:
                continue
            rows = canon(*value)
            if name not in first:
                first[name], first_step[name] = rows, step
            else:
                b.check(same_rows(rows, first[name]), f"{name}: round {len(b.ops)} differs from the first", step)

    b.warm_up(lambda rep: one_round(False), HEADLINE_WARM_ROUNDS)
    deadline = time.perf_counter() + b.seconds
    i = 0
    while b.more(i, MIN_ROUNDS, deadline):
        one_round(b.traced(i))
        i += 1
    b.done()
    for sp in b.tracer.spans:
        if sp.name.startswith("query."):
            b.note(f"{sp.name}_s", sp.seconds)
            build = [c for c in b.tracer.children(sp) if c.name == "build"]
            b.note("catalog.build_s", sum(c.seconds for c in build))
            b.note("catalog.build_jobs", sum(c.counters.get("jobs", 0) for c in build))
    check_oracles(b, d, oracles, first, first_step)


def query(b: Bench, fn, d: str):
    with b.tracer.span("build", group=True):
        df = fn(b.spark, d)
    rows = b.collect(df)
    return rows, df.columns


def check_oracles(b: Bench, d: str, oracles: dict[str, str], got, got_step) -> None:
    """Each entry's first result against its DuckDB oracle on the same
    tables. CTEs are materialised, which changes no result and saves the
    MinHash oracle from recomputing its signatures once per reference."""
    import duckdb

    cte = re.compile(r"((?:\bWITH|,)\s+\w+\s+AS)\s+\(", re.I)
    con = duckdb.connect()
    try:
        for f in os.listdir(d):
            name = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(d, f)}')")
        for name in HEADLINE:
            if name not in got:
                continue
            rel = con.execute(cte.sub(r"\1 MATERIALIZED (", oracles[name]))
            want = canon(rel.fetchall(), [c[0] for c in rel.description])
            b.check(same_rows(got[name], want), f"{name}: differs from its oracle", got_step[name])
    finally:
        con.close()


# -- covid ------------------------------------------------------------------------
class Pipeline:
    """The covid pipeline over one set of tables: every landed batch is
    refreshed by the batch path (bronze ingest, incremental ETL, five gold
    widgets) and then drained by its streaming twin (CSV to silver,
    incremental gold q5), all checked against the oracle."""

    WIDGETS = {
        "q1": "q1_total_count",
        "q2": "q2_latest_date",
        "q3": "q3_browse",
        "q4": "q4_cases_by_county_topk_other",
        "q5": "q5_deaths_by_state",
    }

    def __init__(self, b: Bench, root: str, seed: int) -> None:
        from coviddatapipeline_spark.pipeline.etl import default_paths

        self.b, self.seed = b, seed
        self.paths = default_paths(os.path.join(root, "batch"))
        self.landing = os.path.join(root, "landing")
        self.staging = os.path.join(root, "staging.csv")
        self.stream = {x: os.path.join(root, "stream", x) for x in ("silver", "gold", "ck-silver", "ck-gold")}
        os.makedirs(self.landing)
        self.oracle = covid.Oracle()
        self.seen: set[int] = set()
        self.landed = 0

    def next_is_new(self) -> bool:
        return covid.delivered(self.landed) not in self.seen

    def land_next(self, traced: bool) -> None:
        """Land the next batch, refresh everything as one op, check it."""
        bi = covid.delivered(self.landed)
        self.landed += 1
        rows = covid.make_batch(self.seed, bi, BATCH_ROWS)
        covid.write_csv(self.staging, rows)
        dst = os.path.join(self.landing, f"batch_{bi:03d}.csv")
        os.replace(self.staging, dst)
        out: dict[str, object] = {}
        new = bi not in self.seen
        if not new:
            self.b.redelivered.add(len(self.b.ops))
        self.b.op(lambda: self._refresh(dst, out), traced)
        self.seen.add(bi)
        if new:
            self.oracle.add(rows)
        check_refresh(self.b, out, self.oracle, bi, rows, new)
        if traced:
            note_covid_layers(self.b, len(rows), out, self.paths["silver"])

    def _refresh(self, dst: str, out: dict) -> None:
        from coviddatapipeline_spark.pipeline.bronze import ingest_csv_to_bronze
        from coviddatapipeline_spark.pipeline.etl import run_incremental_etl
        from coviddatapipeline_spark.pipeline.streaming import (
            stream_csv_to_silver,
            stream_incremental_gold_q5,
        )

        b, spark, p, s = self.b, self.b.spark, self.paths, self.stream
        out["in"] = b.call(
            "bronze.ingest",
            lambda sp: ingest_csv_to_bronze(spark, dst, p["bronze"], mode="append"),
            group=True,
        )
        out["etl"] = b.call(
            "etl.run",
            lambda sp: run_incremental_etl(spark, p["bronze"], p["silver"], p["checkpoint"]),
            group=True,
        )
        out["gold"] = b.call("gold.widgets", lambda sp: self._widgets())
        out["s_silver"] = b.call(
            "streaming.silver_drain",
            lambda sp: self._drain(
                sp, lambda: stream_csv_to_silver(spark, self.landing, s["silver"], s["ck-silver"])
            ),
        )
        out["s_gold"] = b.call(
            "streaming.gold_q5_drain",
            lambda sp: self._drain(
                sp, lambda: stream_incremental_gold_q5(spark, self.landing, s["gold"], s["ck-gold"])
            ),
        )

    def _widgets(self) -> dict[str, list]:
        from coviddatapipeline_spark.pipeline import gold

        with self.b.tracer.span("build", group=True):
            cases = self.b.spark.read.parquet(self.paths["silver"])
            dfs = {q: getattr(gold, fn)(cases) for q, fn in self.WIDGETS.items()}
        return {q: self.b.collect(df) for q, df in dfs.items()}

    def _drain(self, sp, start) -> list[dict]:
        """Start an AvailableNow query, wait for it, return its progress."""
        with self.b.tracer.span("build"):
            q = start()
        if sp is not None:
            sp.attrs["groups"].append(str(q.runId))
        q.awaitTermination()
        last = q._jsq.streamingQuery().lastExecution() if sp is not None else None
        if last is not None:
            sp.attrs["catalyst"] = phases_ms(last)
        return q.recentProgress

    def check_stream_tables(self) -> None:
        """The streamed silver and gold tables against the oracle."""
        spark, step = self.b.spark, len(self.b.steps) - 1
        n = spark.read.parquet(self.stream["silver"]).count()
        self.b.check(n == self.oracle.n, f"streamed silver has {n} rows, expected {self.oracle.n}", step)
        q5 = {r["state"]: r["deaths"] for r in spark.read.parquet(self.stream["gold"]).collect()}
        self.b.check(q5 == self.oracle.q5(), "streamed q5 deaths by state", step)


def covid_pipeline(b: Bench) -> None:
    """Set-up lands the first batch; untimed landings of other seeds'
    first batches, each into tables of its own, warm the JIT; then each
    measured op lands one more batch."""

    def prepare(seed: int, d: str) -> Pipeline:
        pipe = Pipeline(b, d, seed)
        pipe.land_next(traced=False)
        return pipe

    pipe = b.setup(prepare)
    b.warm_up(lambda rep: prepare(b.seed + 1 + rep, b.path(f"warm-{rep}")), COVID_WARM_LANDINGS)
    deadline = time.perf_counter() + b.seconds
    k = 0  # new batches landed
    while b.more(k, MIN_COVID_LANDINGS, deadline):
        if pipe.next_is_new():
            pipe.land_next(b.traced(k))
            k += 1
        else:
            pipe.land_next(traced=False)
    b.done()
    pipe.check_stream_tables()


def check_refresh(b: Bench, out: dict, oracle: covid.Oracle, bi: int, rows, new: bool) -> None:
    """One landing's outputs: rows ingested and loaded, the five widgets,
    and the rows each streaming query read. A re-delivered batch is
    ingested into bronze again but loads nothing and streams nothing."""
    if out["in"] is not FAILED:
        b.check(out["in"] == len(rows), f"bronze ingest of batch {bi}: {out['in']} rows")
    if out["etl"] is not FAILED:
        got, want = out["etl"].rows_loaded, len(covid.clean_rows(rows)) if new else 0
        b.check(got == want, f"etl after batch {bi}: loaded {got}, expected {want}")
    if out["gold"] is not FAILED:
        check_gold(b, out["gold"], oracle, bi)
    for key in ("s_silver", "s_gold"):
        if out[key] is not FAILED:
            got, want = sum(p["numInputRows"] for p in out[key]), len(rows) if new else 0
            b.check(got == want, f"{key} drain of batch {bi}: read {got} rows, expected {want}")


def check_gold(b: Bench, got: dict[str, list], oracle: covid.Oracle, bi: int) -> None:
    where = f"gold after batch {bi}"
    b.check(got["q1"][0]["n"] == oracle.n, f"{where}: q1 {got['q1'][0]['n']} != {oracle.n}")
    b.check(got["q2"][0]["latest_date"] == oracle.latest, f"{where}: q2 latest date")
    b.check(len(got["q3"]) == min(2000, oracle.n), f"{where}: q3 row count")
    q4 = sorted(((r["county"], r["cases"], r["pct"]) for r in got["q4"]), key=lambda x: (-x[1], x[0]))
    want = oracle.q4()
    b.check(
        len(q4) == len(want)
        and all(
            g[0] == w[0] and g[1] == w[1] and abs(g[2] - w[2]) <= 0.005 + 1e-9
            for g, w in zip(q4, want)
        ),
        f"{where}: q4 top-9 + Other",
    )
    b.check({r["state"]: r["deaths"] for r in got["q5"]} == oracle.q5(), f"{where}: q5 deaths by state")


def note_covid_layers(b: Bench, landed: int, out: dict, silver: str) -> None:
    """The pipeline's own layer numbers for the op just traced."""
    spans = {sp.name: sp for sp in b.tracer.descendants(b.ops[-1][2])}
    ingest, etl, widgets = spans["bronze.ingest"], spans["etl.run"], spans["gold.widgets"]
    b.note("bronze.ingest_s", ingest.seconds)
    b.note("bronze.jobs", ingest.counters["jobs"])
    b.note("bronze.csv_rows_read_per_row", ingest.counters["input_rows"] / landed)
    if out["etl"] is not FAILED:
        scanned = etl.counters["input_rows"]
        b.note("etl.rows_loaded", out["etl"].rows_loaded)
        b.note("etl.useful_ratio", out["etl"].rows_loaded / scanned if scanned else 0.0)
    b.note("etl.run_s", etl.seconds)
    b.note("etl.jobs", etl.counters["jobs"])
    b.note("etl.bronze_rows_scanned", etl.counters["input_rows"])
    b.note("gold.widgets_s", widgets.seconds)
    b.note("gold.jobs", sum(sp.counters.get("jobs", 0) for sp in b.tracer.descendants(widgets)))
    b.note("silver.files", sum(1 for f in os.listdir(silver) if f.endswith(".parquet")))
    for name in ("streaming.silver_drain", "streaming.gold_q5_drain"):
        b.note(f"{name}_s", spans[name].seconds)
        b.note(f"{name}.jobs", spans[name].counters["jobs"])
    progress = [p for key in ("s_silver", "s_gold") if out[key] is not FAILED for p in out[key]]
    b.note("streaming.trigger_ms", sum(p["durationMs"].get("triggerExecution", 0) for p in progress))
    b.note("streaming.input_rows", sum(p["numInputRows"] for p in progress))
    if out["s_gold"] is not FAILED and out["s_gold"]:
        state = out["s_gold"][-1].get("stateOperators") or [{}]
        b.note("streaming.state_rows", state[0].get("numRowsTotal", 0))


WORKLOADS = {
    "headline": headline,
    "covid": covid_pipeline,
}
