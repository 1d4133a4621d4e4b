"""Serving benchmark of the approximate query engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run starts Spark, writes its seeded
inputs, sets the engine up, computes the exact-answer oracle with raw
``spark.sql``, warms up, and then drives the engine from outside for
``--seconds`` (the ingest workload for at least ``MIN_INGEST_CYCLES``
cycles): SQL through ``POST /query`` and maintenance through
``POST /maintenance/run`` (Flask test client, in process, no sockets).
One client sends every request, each after the previous one returned:
the engine's Spark session already spreads a query over every core, so
more clients only queue behind each other (four served 4.3 queries/s on
4 cores, one 4.2) and measure the scheduler. Every exact-plan answer is
compared row for row with the oracle; every approximate one is scored
against it.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` traces every
other request of the timed phase and prints the per-layer metrics of the
traced ones, plus ``trace.overhead_pct`` (their median latency against the
untraced ones'); its spans and per-request Spark stage metrics are written
to ``.perfbench_work/traces/``. After its timed phase the traced run also
asks every synopsis-routed question again, interleaved with the same
question sent with ``prefer_exact``, for ``planner.approx_slower_share``.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Lines before it print every metric with its unit and sample
count, the route each template took, and warnings.

``bench.py`` at the repository root is the driver bench and is not this
benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, replace
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import stats  # noqa: E402
from tracing import TRACE_CONFS, Tracer  # noqa: E402
from workloads import (  # noqa: E402
    INGEST_BASE_ROWS,
    INGEST_BATCH_ROWS,
    WORKLOADS,
    ingest_batch,
)

#: maintenance calls after the timed phase of a read-only workload, so
#: every workload reports refresh_p50_ms: there it times maintenance's
#: freshness checks over unchanged data. READ_MAINTENANCE_WARMUP more
#: calls in the warm-up go untimed: a run's first call is slower by a third.
READ_MAINTENANCE_CALLS = 5
READ_MAINTENANCE_WARMUP = 2
#: the ingest workload runs at least this many timed cycles, so
#: refresh_p50_ms has at least this many samples whatever the run length.
#: Two warm-up cycles: after one, the first timed maintenance call is still
#: 20-50% slower than the rest. Seven appends of 1% in all stay under the
#: 10% drift that would rebuild the sample and sketch.
MIN_INGEST_CYCLES = 5
INGEST_WARMUP_CYCLES = 2
#: passes of the traced run's approximate-against-exact comparison
DUEL_PASSES = 3
#: warm-up passes of the mix workload over its questions. Fixed work, not
#: fixed time, so every run has done the same work when timing starts,
#: whatever the host's speed. Latencies fall by a quarter over the first 20 s of
#: asking and keep falling slowly after that (some 10% over the next
#: 30 s), which no affordable warm-up waits out; the trend warning flags
#: a run whose timed windows still move. After 5 passes the first 5 s of
#: timing still spread twice as widely from run to run as the next 5 s.
WARMUP_PASSES = 8
#: most full GCs before the retained heap is read
GC_READS = 5
WORK_DIR = ".perfbench_work"


def configure_env(work: Path, trace: bool) -> int:
    """Spark settings for this run, set before the JVM starts: all cores,
    a small heap, and every scratch file inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        **(TRACE_CONFS if trace else {}),
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    return cpus


@dataclass
class Instance:
    template: object
    sql: str
    oracle: list | None = None


@dataclass
class Rec:
    """One request as the client saw it."""

    rid: str
    template: str
    question: str  # the template, and for ingest whether before maintenance
    t0: float
    t1: float
    ok: bool
    reason: str
    route: str
    approx: bool
    rel_error: float | None
    over: bool
    nbytes: int
    rows: int
    traced: bool

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Run:
    """One run of one workload: set-up, oracle, warm-up, timed phase."""

    def __init__(self, wl, args, work: Path, cpus: int):
        self.wl, self.args, self.work, self.cpus = wl, args, work, cpus
        self.seed = args.seed
        self.rng = random.Random(args.seed)
        self.recs: list[Rec] = []
        self.refresh: list[tuple[float, dict, bool, str]] = []  # ms, report, traced, rid
        self.appended_bytes = 0
        self.maint_outcomes: list[stats.Outcome] = []
        self.tally = stats.Tally()
        self._n = 0
        self._asked: Counter[str] = Counter()  # timed requests per template
        self._oracles: dict[str, list] = {}
        self.cycle = 0
        self.rows = INGEST_BASE_ROWS

    # -- set-up -------------------------------------------------------------
    def setup(self) -> None:
        from approximate_query_engine_spark import AQEngine, get_spark
        from approximate_query_engine_spark.api import create_app

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark)
        self.data_dir = self.wl.prepare(str(self.work), self.seed)
        self.inputs_s = time.perf_counter() - t0 - self.session_s
        # one engine set-up a run: a second costs 5-9 s, which the budget of
        # 48 runs in 3420 s cannot spare on a slow host
        self.workdir = self.work / "engine"
        s = time.perf_counter()
        self.eng = AQEngine(self.spark, workdir=str(self.workdir), data_dir=self.data_dir)
        r = time.perf_counter()
        if self.args.trace:
            self.tracer.install(self.eng)
        self.tracer.begin("setup", bool(self.args.trace))
        self.wl.build(self.eng, self.seed)
        e = time.perf_counter()
        self.tracer.end()
        self.setup_wall, self.register_wall, self.build_window = e - s, r - s, (r, e)
        print(f"perfbench: session {self.session_s:.2f}s inputs {self.inputs_s:.2f}s "
              f"set-up {self.setup_wall:.2f}s", file=sys.stderr, flush=True)
        self.app = create_app(self.eng)

    def oracles(self, insts: list[Instance]) -> None:
        """Each instance's raw-SQL answer, JSON-normalised like a response,
        computed ``cpus`` at a time."""

        def answer(sql: str) -> list:
            rows = [r.asDict(recursive=True) for r in self.spark.sql(sql).collect()]
            return json.loads(self.app.json.dumps(rows))

        todo = sorted({i.sql for i in insts} - set(self._oracles))
        with ThreadPoolExecutor(self.cpus) as pool:
            self._oracles.update(zip(todo, pool.map(answer, todo)))
        for inst in insts:
            inst.oracle = self._oracles[inst.sql]

    # -- requests -----------------------------------------------------------
    def _rid(self, prefix: str) -> str:
        self._n += 1
        return f"{prefix}{self._n}"

    def ask(self, inst: Instance, traced: bool = False, question: str | None = None) -> Rec:
        from approximate_query_engine_spark.executor import measured_relative_error

        params = inst.template.params
        rid = self._rid("r")
        self.tracer.begin(rid, traced)
        t0 = time.perf_counter()
        resp = self.client.post("/query", json={"sql": inst.sql, **params})
        t1 = time.perf_counter()
        self.tracer.end()
        body = resp.get_json(silent=True)
        plan = (body or {}).get("plan") or {}
        result = (body or {}).get("result") or []
        approx = plan.get("type", "exact") != "exact"
        rel, match = None, None
        if resp.status_code == 200 and body and body.get("status") == "ok":
            if approx:
                rel = measured_relative_error(result, inst.oracle)
            else:
                match = stats.rows_match(result, inst.oracle)
        outcome = stats.judge(resp.status_code, body, match)
        tol = params.get("max_rel_error", 0.05)
        return Rec(rid, inst.template.name, question or inst.template.name, t0, t1,
                   outcome.ok, outcome.reason,
                   stats.route_of(plan), approx, rel,
                   approx and (rel is None or rel > tol),
                   len(resp.data), len(result), traced)

    def maintain(self) -> None:
        """One ``POST /maintenance/run``; a non-200 answer or a report with
        errors counts as a failed request."""
        rid = self._rid("m")
        traced = bool(self.args.trace)
        self.tracer.begin(rid, traced)
        t0 = time.perf_counter()
        resp = self.client.post("/maintenance/run", json={})
        ms = (time.perf_counter() - t0) * 1000.0
        self.tracer.end()
        report = resp.get_json(silent=True) or {}
        ok = resp.status_code == 200 and not report.get("errors")
        self.maint_outcomes.append(stats.Outcome(ok, "" if ok else "maintenance failed"))
        self.refresh.append((ms, report, traced, rid))

    # -- loops --------------------------------------------------------------
    def run_mix(self, pool: list[Instance], seconds: float,
                trace: bool = False) -> tuple[list[Rec], float]:
        """Ask the pool's questions in turn, in a closed loop, for
        ``seconds``. ``trace`` traces every other request of each
        template, so every template is seen both ways. Returns the records
        and the phase's wall time."""
        out: list[Rec] = []
        t0 = time.perf_counter()
        deadline = t0 + seconds
        while time.perf_counter() < deadline:
            inst = pool[len(out) % len(pool)]
            self._asked[inst.template.name] += 1
            out.append(self.ask(inst, trace and self._asked[inst.template.name] % 2 == 0))
        return out, time.perf_counter() - t0

    def ingest_cycle(self) -> tuple[list[Rec], float]:
        """Append a batch and re-register the view (untimed, with the
        oracle), then, timed: update the engine's row count, ask every
        template, run maintenance, ask every template again."""
        self.cycle += 1
        events_dir = os.path.join(self.data_dir, "events")
        self.appended_bytes += ingest_batch(events_dir, self.seed, self.cycle)
        self.rows += INGEST_BATCH_ROWS
        self.spark.read.parquet(events_dir).createOrReplaceTempView("events")
        self._oracles.clear()  # the data changed
        self.oracles(self.pool)
        t0 = time.perf_counter()
        self.eng.catalog.upsert_table_stats("events", self.rows)
        # the traced run traces every other question, each one once a
        # cycle, before maintenance on one cycle and after it on the next
        tr, c = bool(self.args.trace), self.cycle
        recs = [self.ask(inst, tr and (j + c) % 2 == 0, inst.template.name + ".before")
                for j, inst in enumerate(self.pool)]
        self.maintain()
        recs += [self.ask(inst, tr and (j + c) % 2 == 1, inst.template.name + ".after")
                 for j, inst in enumerate(self.pool)]
        return recs, time.perf_counter() - t0

    def run_ingest(self, seconds: float) -> tuple[list[Rec], float]:
        out, wall, cycles = [], 0.0, 0
        while wall < seconds or cycles < MIN_INGEST_CYCLES:
            recs, w = self.ingest_cycle()
            out += recs
            wall += w
            cycles += 1
        return out, wall

    def duel(self) -> list[Rec]:
        """Every synopsis-routed question of the pool asked as the workload
        asks it and again with ``prefer_exact``, interleaved, by the
        workload's client: both sides take the same client path in the same
        state. The exact twin's answer is checked against the oracle like
        any exact answer."""
        pairs = []
        for inst in self.pool:
            t = inst.template
            if t.route != "exact":
                twin = replace(t, name=t.name + ".exact", route="exact",
                               params={"prefer_exact": True})
                pairs += [inst, Instance(twin, inst.sql, inst.oracle)]
        return [self.ask(inst) for inst in pairs * DUEL_PASSES]

    # -- the run ------------------------------------------------------------
    def mark(self, what: str) -> None:
        """Phase timings on stderr, for tuning the run's length."""
        now = time.perf_counter()
        print(f"perfbench: {what} {now - self._mark:.2f}s", file=sys.stderr, flush=True)
        self._mark = now

    def execute(self) -> dict:
        self._mark = time.perf_counter()
        self.setup()
        self.mark("setup (session, inputs, engine set-up)")
        # warm-up, then memory: it is read after a fixed amount of work, so
        # a version that serves more requests per second is not charged for
        # the state those extra requests leave behind (Spark's status store,
        # caches)
        self.client = self.app.test_client()
        # one draw of each template, asked all run (by the ingest workload
        # every cycle, as a dashboard re-asks its questions when data
        # lands; only their oracle answers change)
        self.pool = [Instance(t, t.sql(self.rng)) for t in self.wl.templates]
        if self.wl.loop == "mix":
            self.oracles(self.pool)
            self.mark("oracle")
            for inst in self.pool * WARMUP_PASSES:
                self.ask(inst)
            for _ in range(READ_MAINTENANCE_WARMUP):
                self.maintain()
        else:
            for _ in range(INGEST_WARMUP_CYCLES):
                self.ingest_cycle()
        self.mem_mb = self.retained_mb()
        self.refresh.clear()
        self.maint_outcomes.clear()
        self.appended_bytes = 0
        self.mark("warm-up")
        if self.wl.loop == "mix":
            self.recs, self.wall = self.run_mix(self.pool, float(self.args.seconds),
                                                trace=bool(self.args.trace))
            for _ in range(READ_MAINTENANCE_CALLS):
                self.maintain()
        else:
            self.recs, self.wall = self.run_ingest(float(self.args.seconds))
        self.mark("timed phase")
        self.duel_recs = self.duel() if self.args.trace else []
        for rec in self.recs + self.duel_recs:
            self.tally.add(stats.Outcome(rec.ok, rec.reason))
        for outcome in self.maint_outcomes:
            self.tally.add(outcome)
        if self.args.trace:
            from report import layer_metrics

            return layer_metrics(self)
        from report import end_to_end

        return end_to_end(self)

    def retained_mb(self) -> float:
        """JVM heap in use after forced full GCs, plus the driver's RSS.
        The first GC of a run can leave 15-30 MB that a second one frees,
        so it collects until two reads agree."""
        jvm = self.spark.sparkContext._jvm
        rt = jvm.java.lang.Runtime.getRuntime()
        heap = None
        for _ in range(GC_READS):
            jvm.java.lang.System.gc()
            last, heap = heap, rt.totalMemory() - rt.freeMemory()
            if last is not None and abs(heap - last) < 2**20:
                break
            time.sleep(0.2)
        with open("/proc/self/status") as f:
            rss_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
        print(f"perfbench: retained jvm heap {heap / 2**20:.1f} MB, driver rss "
              f"{rss_kb / 1024.0:.1f} MB", file=sys.stderr, flush=True)
        return heap / 2**20 + rss_kb / 1024.0


def stop_spark() -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # the JVM ignored EOF; force it
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test: without it there is nothing to measure
    import approximate_query_engine_spark  # noqa: F401

    work_root = ROOT / WORK_DIR
    work = work_root / f"run-{os.getpid()}"
    cpus = configure_env(work, bool(args.trace))

    try:
        result = Run(WORKLOADS[args.workload], args, work, cpus).execute()
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    check_names(result["metrics"], "per_layer" if args.trace else "end_to_end")
    for line in result.pop("table"):
        print(line)
    print(json.dumps(result))
    return 0


def check_names(metrics: dict, section: str) -> None:
    """The result must carry exactly the metrics, with the units, that
    BENCHMARK.json lists in ``section``."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())[section]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != want:
        raise SystemExit(f"metrics differ from BENCHMARK.json {section}: "
                         f"missing {sorted(set(want) - set(got))}, "
                         f"extra {sorted(set(got) - set(want))}, "
                         f"units {[k for k in want if k in got and got[k] != want[k]]}")


if __name__ == "__main__":
    sys.exit(main())
