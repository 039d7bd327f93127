"""The repository benchmark: one command, two seeded workloads.

Run from the repository root:

    python3 perfbench/run.py --workload creator_etl --seed 1 --seconds 8 --trace 0

Workloads (one closed-loop client each, one driver process, a local Spark
session on ``$SPARK_GRAFT_CPUS`` cores, default all cores this process may
run on):

- ``creator_etl``: the reference's own pipeline on seeded creator
  directories (``creators.py``): load_users/load_posts, creator_report,
  write_analyzed_json, then wide_csv.flatten_report + sanitize_and_write to
  real files. One operation is one batch, timed cold: a fresh process runs
  one batch, as the reference's scripts do.
- ``catalog_mix``: reference-surface catalog queries over the seed-42
  star tables at sf0.1 (``tables.py``), each written to the noop sink. One
  operation is one query; the client issues seeded permutations of
  ``CATALOG_MIX`` in whole rounds, after a checked pass and ``WARM_ROUNDS``
  untimed rounds that warm the JIT. Traced runs then also time the
  operators layer through the eager ``cp1_curated_corpus`` chain and its
  registered component queries.

Each workload runs operations until ``--seconds`` have passed: at least one
batch, or at least ``MIN_ROUNDS`` rounds. Outputs are checked on every run:
creator_etl against values recomputed in plain Python from the generated
documents and against the report digest of earlier runs with the same seed;
the catalog queries against their registered DuckDB oracles (computed once
per checkout and cached) in the warm pass; cp1 against its output digest of
earlier traced runs. A failed check counts as a failed operation.

stdout: a report line with every stamp and per-workload metric, then, as
the last line, ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
Per-layer metrics of layers a run does not call read 0. Scratch files,
caches and traces live under ``.bench_build/perfbench`` in the checkout.
METRICS.md maps each metric to its layer.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, ROOT)

WORKLOADS = ("creator_etl", "catalog_mix")
N_CREATORS = 100
POSTS_PER_CREATOR = 50
CATALOG_SF = 0.1
CATALOG_MIX = [
    "a6_viral_count",
    "c2_type_tier",
    "f2_recent_window",
    "j2_first_match_theta_join",
    "k1_top6_er",
    "x2_x4_string_ops",
    "mj1_shipping_priority",
    "ro1_hourly_rollup",
]
MIN_ROUNDS = 4
WARM_ROUNDS = 3
CURATE_QUERY = "cp1_curated_corpus"
CURATE_COMPONENTS = {
    "cm1": "cm1_corpus_manifest",
    "dd11": "dd11_staged_keep_list",
    "mx1": "mx1_temperature_mix",
    "ds1": "ds1_corpus_shuffle",
    "dp1": "dp1_sequence_packing",
}

END_TO_END = {
    "setup_s": "s",
    "op_geomean_ms": "ms",
}
_SPARK = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes")
PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.start_s": "s",
    "jvm.gc_s": "s",
    "spark.tasks_failed": "count",
    "sources.read_s": "s",
    "sources.tasks": "count",
    "sources.input_bytes": "bytes",
    "sources.rows_out": "count",
    "creator_report.s": "s",
    "creator_report.fixed_s": "s",
    "creator_report.per_kpost_ms": "ms",
    **{f"creator_report.{k}": "bytes" if k.endswith("bytes") else "count" for k in _SPARK},
    "creator_report.smj": "count",
    "creator_report.bhj": "count",
    "creator_report.exchanges": "count",
    "sinks.json_s": "s",
    "sinks.csv_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "catalog.plan_ms": "ms",
    "catalog.exec_ms": "ms",
    "catalog.jobs_per_query": "count",
    "catalog.tasks_per_query": "count",
    **{f"catalog.q.{q}_ms": "ms" for q in CATALOG_MIX},
    "curate.construct_s": "s",
    "curate.write_s": "s",
    **{f"curate.{k}_s": "s" for k in CURATE_COMPONENTS},
    **{f"curate.{k}": "bytes" if k.endswith("bytes") else "count" for k in _SPARK},
    "curate.pinned_bytes": "bytes",
    "trace.overhead_s": "s",
    "trace.op_geomean_ms": "ms",
}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    """A condition under which the benchmark refuses to run."""


def _percentile(values: list[float], q: int) -> float:
    """The q-th percentile (inclusive interpolation; a lone value is every
    percentile of itself)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _geomean_of_medians(by_kind: dict[str, list[float]]) -> float:
    """Geometric mean over operation kinds of each kind's median latency.
    Every kind weighs the same whatever its latency, so a mix of sub-second
    and multi-second queries has no gap for the figure to jump across, as
    the median of the pooled samples has."""
    return statistics.geometric_mean([statistics.median(v) for v in by_kind.values()])


def _file_digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha1(fh.read()).hexdigest()[:12]


class Run:
    """State of one invocation: session, tracer, counters and results."""

    def __init__(self, args, work: str):
        from spans import Tracer

        self.args = args
        self.work = work
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        # spans are always recorded (a clock read each); counters, plan
        # inspection and the trace file belong to traced runs only
        self.tracer = Tracer(self.run_id)
        self.spark = None
        self.counters = None  # SparkCounters in traced runs
        self.prep_s = 0.0
        self.setup_s = None
        self.deadline = None
        self.samples_ms: list[float] = []  # successful timed operations
        self.kind_ms: dict[str, list[float]] = {}  # the same, by operation
        self.failed_ms: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, list[float]] = {}
        self.spark_counts: list[dict] = []  # one per counted span
        self.native: dict[str, object] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- phases -----------------------------------------------------------

    @contextlib.contextmanager
    def prep(self):
        """Benchmark-side work (input generation, caches, output compares):
        excluded from setup_s."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.prep_s += time.perf_counter() - t0

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_PROCESS - self.prep_s
        _log(f"setup {self.setup_s:.2f}s (excluded: {self.prep_s:.2f}s)")
        self.deadline = time.perf_counter() + self.args.seconds

    def measuring(self) -> bool:
        return time.perf_counter() < self.deadline

    # -- operations and checks -------------------------------------------

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {detail}")
        print(f"FAIL {what}: {detail}", file=sys.stderr, flush=True)

    def operation(self, what: str, fn, timed: bool = True):
        """Run one operation; returns ``(ok, ms, result)``. A timed one adds
        its latency to the samples. Eager pins are released afterwards,
        also when ``fn`` raises."""
        from ig_etl_with_user_reports_2024_spark.operators.dedup import release_eager_pins

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            ms = (time.perf_counter() - t0) * 1000
            self.fail(what, traceback.format_exc(limit=3))
            self.failed_ms.append(ms)
            return False, ms, None
        finally:
            release_eager_pins()
        ms = (time.perf_counter() - t0) * 1000
        if timed:
            self.samples_ms.append(ms)
            self.kind_ms.setdefault(what, []).append(ms)
        _log(f"op {what}: {ms:.0f} ms")
        return True, ms, result

    def check(self, what: str, fn) -> None:
        """An untimed output check; an exception or a False verdict is one
        failed operation."""
        from ig_etl_with_user_reports_2024_spark.operators.dedup import release_eager_pins

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            ok, detail = fn()
        except Exception:  # noqa: BLE001
            ok, detail = False, traceback.format_exc(limit=3)
        finally:
            release_eager_pins()
        _log(f"check {what}: {detail} ({time.perf_counter() - t0:.2f}s)")
        if not ok:
            self.fail(what, detail)

    # -- per-layer recording ----------------------------------------------

    def record(self, name: str, value: float) -> None:
        if name not in PER_LAYER:
            raise KeyError(f"undeclared per-layer metric {name}")
        self.layer.setdefault(name, []).append(value)

    @contextlib.contextmanager
    def layer_span(self, name: str):
        """A span that, in traced runs, also collects the Spark counters of
        the jobs it ran; the yielded dict is filled when the span ends."""
        counts: dict[str, int] = {}
        mark = None
        if self.counters:
            with self.tracer.overhead():
                mark = self.counters.mark()
        with self.tracer.span(name):
            yield counts
        if mark is not None:
            with self.tracer.overhead():
                counts.update(self.counters.since(mark))
            self.spark_counts.append(counts)

    def record_counts(self, prefix: str, counts: dict[str, int]) -> None:
        for k in _SPARK:
            self.record(f"{prefix}.{k}", counts[k])

    def last_self_time(self, span: str) -> float:
        return self.tracer.self_times()[span][-1]


def _spark_conf(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # keep every stage of a traced run in the status store
        "spark.ui.retainedStages": "20000",
        "spark.ui.retainedJobs": "20000",
    }


# ---------------------------------------------------------------------------
# creator_etl
# ---------------------------------------------------------------------------


def _etl_batch(run: Run, root: str, cities, out: str) -> None:
    """One batch: read, report, both sinks; inputs and report persisted
    between the stages and released afterwards."""
    from pyspark import StorageLevel

    from ig_etl_with_user_reports_2024_spark.config import AS_OF_REFERENCE as AS_OF
    from ig_etl_with_user_reports_2024_spark.plans import creator_report as cr
    from ig_etl_with_user_reports_2024_spark.plans import wide_csv

    spark, keep = run.spark, StorageLevel.MEMORY_AND_DISK
    users = posts = report = None
    try:
        with run.layer_span("sources.read") as c_read:
            users = cr.load_users(spark, f"{root}/*/userInfo.json").persist(keep)
            posts = cr.load_posts(spark, f"{root}/*/postInfo.json").persist(keep)
            rows = users.count() + posts.count()
        with run.layer_span("creator_report") as c_report:
            report = cr.creator_report(
                spark, users, posts, as_of=AS_OF, cities=cities
            ).persist(keep)
            report.count()
        with run.layer_span("sinks.json"):
            cr.write_analyzed_json(report, os.path.join(out, "json"))
        with run.layer_span("sinks.csv"):
            wide_csv.sanitize_and_write(
                wide_csv.flatten_report(report), os.path.join(out, "csv")
            )
        if run.counters:
            from spans import plan_operators

            with run.tracer.overhead():
                for name, v in plan_operators(report).items():
                    run.record(f"creator_report.{name}", v)
            run.record("sources.rows_out", rows)
            run.record("sources.tasks", c_read["tasks"])
            run.record("sources.input_bytes", c_read["input_bytes"])
            run.record_counts("creator_report", c_report)
    finally:
        for df in (report, posts, users):
            if df is not None:
                df.unpersist()


def _read_report(out: str) -> tuple[list[dict], str]:
    """The analyzed JSON rows and a digest over them (objects re-serialized
    with sorted keys; array order is kept, it carries the report's ranks)."""
    rows = []
    for part in sorted(glob.glob(os.path.join(out, "json", "part-*"))):
        with open(part) as fh:
            rows += [json.loads(line) for line in fh if line.strip()]
    canon = sorted(json.dumps(r, sort_keys=True) for r in rows)
    return rows, hashlib.sha256("\n".join(canon).encode()).hexdigest()


def _check_report(rows: list[dict], expected: dict[str, dict]) -> tuple[bool, str]:
    if len(rows) != len(expected):
        return False, f"{len(rows)} report rows, {len(expected)} public creators"
    for r in rows:
        want = expected.get(r.get("username"))
        if want is None:
            return False, f"unexpected creator {r.get('username')!r}"
        for k, v in want.items():
            if r.get(k) != v:
                return False, f"{r['username']}.{k} = {r.get(k)!r}, expected {v!r}"
    return True, "ok"


def _check_digest(path: str, digest: str) -> tuple[bool, str]:
    """An output digest must equal the one every earlier run with the same
    inputs produced in this checkout."""
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(digest + "\n")
    with open(path) as fh:
        first = fh.read().strip()
    if first != digest:
        return False, f"output digest {digest[:24]} != {first[:24]} of an earlier run"
    return True, f"digest {digest[:24]}"


def _output_stats(out: str) -> tuple[int, int]:
    files = [p for p in glob.glob(os.path.join(out, "*", "part-*")) if os.path.isfile(p)]
    return len(files), sum(os.path.getsize(p) for p in files)


def _report_scaling(run: Run, root: str, cities) -> None:
    """Traced only: creator_report time on pre-materialized inputs at the
    generated size and at four re-keyed replicas of it, after the timed
    batch, run as [1x, 4x, 1x] so that the JIT's warming drifts out of the
    mean of the two 1x takes. The two points give the fixed cost and the
    cost per thousand posts."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from ig_etl_with_user_reports_2024_spark.config import AS_OF_REFERENCE as AS_OF
    from ig_etl_with_user_reports_2024_spark.plans import creator_report as cr

    keep = StorageLevel.MEMORY_AND_DISK
    spark = run.spark
    users = cr.load_users(spark, f"{root}/*/userInfo.json").persist(keep)
    posts = cr.load_posts(spark, f"{root}/*/postInfo.json").persist(keep)
    taken: dict[int, list[float]] = {1: [], 4: []}
    kposts: dict[int, float] = {}
    try:
        for n_rep in (1, 4, 1):
            rep = spark.range(n_rep).select(F.col("id").cast("string").alias("_rep"))
            rekey = F.concat_ws("__", F.col("username"), F.col("_rep"))
            u = users.crossJoin(rep).withColumn("username", rekey).drop("_rep")
            p = posts.crossJoin(rep).withColumn("username", rekey).drop("_rep")
            u, p = u.persist(keep), p.persist(keep)
            u.count()
            kposts[n_rep] = p.count() / 1000.0
            t0 = time.perf_counter()
            report = cr.creator_report(spark, u, p, as_of=AS_OF, cities=cities)
            report = report.persist(keep)
            report.count()
            taken[n_rep].append(time.perf_counter() - t0)
            for df in (report, p, u):
                df.unpersist()
    finally:
        users.unpersist()
        posts.unpersist()
    s1, s4 = statistics.mean(taken[1]), taken[4][0]
    slope = (s4 - s1) / (kposts[4] - kposts[1])
    run.record("creator_report.per_kpost_ms", slope * 1000)
    run.record("creator_report.fixed_s", s1 - slope * kposts[1])


def creator_etl(run: Run) -> None:
    import creators

    from ig_etl_with_user_reports_2024_spark.config import AS_OF_REFERENCE as AS_OF

    with run.prep():
        root = run.path("creators")
        expected = creators.write_creators(
            root, N_CREATORS, POSTS_PER_CREATOR, run.args.seed, AS_OF
        )
    cities = run.spark.createDataFrame(
        creators.cities_rows(), "city string, state_id string, ord int"
    )
    # no warm pass: the batch is timed cold, in a fresh process, the way the
    # reference's scripts run each batch
    run.setup_done()
    digest_file = os.path.join(
        BUILD,
        "digests",
        f"creator_etl-n{N_CREATORS}-seed{run.args.seed}-"
        f"{_file_digest(os.path.join(HERE, 'creators.py'))}.txt",
    )
    k = 0
    while True:
        out = run.path(f"etl-out-{k}")
        ok, _, _ = run.operation("etl batch", lambda: _etl_batch(run, root, cities, out))
        if ok:
            rows, digest = _read_report(out)
            run.check("etl report values", lambda: _check_report(rows, expected))
            run.check("etl report digest", lambda: _check_digest(digest_file, digest))
            if run.counters:
                files, size = _output_stats(out)
                run.record("sources.read_s", run.last_self_time("sources.read"))
                run.record("creator_report.s", run.last_self_time("creator_report"))
                run.record("sinks.json_s", run.last_self_time("sinks.json"))
                run.record("sinks.csv_s", run.last_self_time("sinks.csv"))
                run.record("sinks.files_written", files)
                run.record("sinks.bytes_written", size)
        shutil.rmtree(out, ignore_errors=True)
        k += 1
        if not run.measuring():
            break
    if run.samples_ms:
        run.native["etl_s"] = statistics.median(run.samples_ms) / 1000
    if run.counters:
        run.operation("report scaling", lambda: _report_scaling(run, root, cities), timed=False)


# ---------------------------------------------------------------------------
# catalog_mix and the operators layer
# ---------------------------------------------------------------------------


def _tables_dir(sf: float) -> str:
    return os.path.join(
        BUILD, f"tables-sf{sf}-{_file_digest(os.path.join(HERE, 'tables.py'))}"
    )


def _oracle_path(sf_dir: str, name: str) -> str:
    import __spark_entry__ as entry

    sql = entry.oracle_sql()[name]
    return os.path.join(
        sf_dir, "oracle", f"{name}-{hashlib.sha1(sql.encode()).hexdigest()[:12]}.pkl"
    )


def build_cache() -> None:
    """Write the seed-42 tables and the DuckDB oracle results the checks
    compare against, skipping whatever already exists. Runs in a child
    process so DuckDB's memory and threads stay out of the measured one."""
    import tables
    from tools.oracle_check import duck_connect

    import __spark_entry__ as entry

    sf_dir = tables.ensure_tables(_tables_dir(CATALOG_SF), CATALOG_SF)
    con = duck_connect(sf_dir)
    for name in CATALOG_MIX:
        path = _oracle_path(sf_dir, name)
        if not os.path.exists(path):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            con.execute(entry.oracle_sql()[name]).df().to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)


def _ensure_cache(run: Run) -> None:
    """Build the caches when any part is missing: the first run in a
    checkout pays for it, whichever workload it is."""
    sf_dir = _tables_dir(CATALOG_SF)
    if not os.path.exists(os.path.join(sf_dir, "_SUCCESS")) or not all(
        os.path.exists(_oracle_path(sf_dir, n)) for n in CATALOG_MIX
    ):
        with run.prep():
            subprocess.run(
                [sys.executable, __file__, "--build-cache"],
                check=True,
                cwd=ROOT,
                stdout=sys.stderr,
            )


def _verify(run: Run, sf_dir: str, name: str) -> tuple[bool, str]:
    """Run ``name`` through Spark and compare with its cached oracle (the
    bit-exact compare of tools/oracle_check; FLOAT-FUZZY is a failure).
    Only the Spark side counts as warm-up; the compare is excluded from
    setup_s like the other benchmark-side work."""
    import pandas as pd
    from tools.oracle_check import compare

    from ig_etl_with_user_reports_2024_spark.plans import QUERIES

    spark_pdf = QUERIES[name].fn(run.spark, sf_dir).toPandas()
    with run.prep():
        ok, msg = compare(spark_pdf, pd.read_pickle(_oracle_path(sf_dir, name)))
    return ok and msg == "exact", msg


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _query(run: Run, sf_dir: str, name: str) -> None:
    """One catalog query, from calling its function until the noop write
    completes; traced, the plan is forced first so planning and execution
    are timed apart."""
    from ig_etl_with_user_reports_2024_spark.plans import QUERIES

    fn = QUERIES[name].fn
    if not run.counters:
        _noop(fn(run.spark, sf_dir))
        return
    with run.layer_span("catalog.query"):
        with run.tracer.span("catalog.plan"):
            df = fn(run.spark, sf_dir)
            df._jdf.queryExecution().executedPlan()
        with run.tracer.span("catalog.exec"):
            _noop(df)


def catalog_mix(run: Run) -> None:
    from ig_etl_with_user_reports_2024_spark.plans import QUERIES

    eager = [n for n in CATALOG_MIX if QUERIES[n].eager]
    if eager:
        raise BenchError(f"catalog_mix expects lazy queries; {eager} are eager")
    sf_dir = _tables_dir(CATALOG_SF)
    # warm pass: every query once, its output checked against the oracle,
    # then untimed rounds through the noop sink: latencies fall for about
    # ten rounds while the JIT compiles, steepest in the first three
    for name in CATALOG_MIX:
        run.check(f"oracle {name}", lambda: _verify(run, sf_dir, name))
    rng = random.Random(run.args.seed)
    for _ in range(WARM_ROUNDS):
        order = CATALOG_MIX[:]
        rng.shuffle(order)
        for name in order:
            fn = QUERIES[name].fn
            run.operation(f"warm {name}", lambda: _noop(fn(run.spark, sf_dir)), timed=False)
    run.setup_done()
    rounds = 0
    # at least MIN_ROUNDS: stopping on the clock alone would give a slow
    # (busy) host fewer, less warmed rounds and skew its median further
    while rounds < MIN_ROUNDS or run.measuring():
        order = CATALOG_MIX[:]
        rng.shuffle(order)
        for name in order:
            run.operation(name, lambda: _query(run, sf_dir, name))
        rounds += 1
    if run.samples_ms:
        run.native["query_p50_ms"] = statistics.median(run.samples_ms)
        run.native["query_p90_ms"] = _percentile(run.samples_ms, 90)
    if run.counters and run.spark_counts:
        st = run.tracer.self_times()
        run.record("catalog.plan_ms", statistics.median(st["catalog.plan"]) * 1000)
        run.record("catalog.exec_ms", statistics.median(st["catalog.exec"]) * 1000)
        counts = run.spark_counts
        run.record("catalog.jobs_per_query", statistics.mean(c["jobs"] for c in counts))
        run.record("catalog.tasks_per_query", statistics.mean(c["tasks"] for c in counts))
        for name, v in run.kind_ms.items():
            run.record(f"catalog.q.{name}_ms", statistics.median(v))
        curation_layers(run)


def _chain(run: Run, sf_dir: str, name: str, span: str):
    """One run of an eager chain: construction (its CC rounds and pins run
    inside the query function), then the noop write. Returns the Spark
    counters of the run and the result, whose pins are still held."""
    from ig_etl_with_user_reports_2024_spark.plans import QUERIES

    with run.layer_span(span) as counts:
        with run.tracer.span(f"{span}.construct"):
            df = QUERIES[name].fn(run.spark, sf_dir)
        with run.tracer.span(f"{span}.write"):
            _noop(df)
    return counts, df


def _cp1_once(run: Run, sf_dir: str) -> tuple[dict, str]:
    """cp1 once, then (untimed, before its pins are released) the storage
    its pins hold and an order-insensitive digest of its output."""
    counts, df = _chain(run, sf_dir, CURATE_QUERY, "curate")
    with run.tracer.overhead():
        counts["pinned_bytes"] = run.counters.stored_bytes()
        row = df.selectExpr(
            "count(*) AS n", "sum(cast(xxhash64(*) AS decimal(38, 0))) AS h"
        ).first()
    return counts, f"{row['n']}:{row['h']}"


def curation_layers(run: Run) -> None:
    """Traced catalog_mix runs only: the operators layer, through the eager
    cp1 chain at sf0.1 and its registered component queries. cp1's output
    digest must equal that of every earlier traced run in the checkout (its
    DuckDB oracle takes about 80 s at sf0.01 and did not finish in nine
    minutes at sf0.1, too long for a run)."""
    sf_dir = _tables_dir(CATALOG_SF)
    ok, _, res = run.operation(CURATE_QUERY, lambda: _cp1_once(run, sf_dir), timed=False)
    if ok:
        counts, digest = res
        digest_file = os.path.join(BUILD, "digests", f"{os.path.basename(sf_dir)}-cp1.txt")
        run.check("cp1 digest", lambda: _check_digest(digest_file, digest))
        construct = run.last_self_time("curate.construct")
        write = run.last_self_time("curate.write")
        run.record("curate.construct_s", construct)
        run.record("curate.write_s", write)
        run.native["curate_s"] = construct + write
        run.record("curate.pinned_bytes", counts["pinned_bytes"])
        run.record_counts("curate", counts)
    for key, name in CURATE_COMPONENTS.items():
        span = f"component.{key}"
        ok, _, _ = run.operation(name, lambda: _chain(run, sf_dir, name, span), timed=False)
        if ok:
            run.record(
                f"curate.{key}_s",
                run.last_self_time(f"{span}.construct") + run.last_self_time(f"{span}.write"),
            )


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def _cpus() -> int:
    """Cores this process may run on; SPARK_GRAFT_CPUS defaults to it and
    may not exceed it."""
    n = len(os.sched_getaffinity(0))
    want = os.environ.setdefault("SPARK_GRAFT_CPUS", str(n))
    if not want.isdigit() or not 1 <= int(want) <= n:
        raise BenchError(f"SPARK_GRAFT_CPUS={want!r} must be 1..{n} (nproc)")
    return int(want)


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM and every process left under this one,
    waiting for each to end."""
    from pyspark import SparkContext
    from spans import process_tree

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    leftovers = [p for p in process_tree()[1:] if proc is None or p != proc.pid]
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # JVM-spawned Python workers are reparented when the JVM exits, so they
    # cannot be waited for; poll until they are gone, killing stragglers
    deadline = time.time() + 10
    for pid in leftovers:
        while os.path.exists(f"/proc/{pid}"):
            if time.time() > deadline:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _cpu_ticks() -> tuple[int, int, float]:
    """(all, stolen) CPU ticks of the machine so far, from /proc/stat, and
    the ticks everything else on it was busy: all ticks not idle, waiting
    for I/O or stolen, less this process and its waited-for descendants."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    busy = sum(fields) - sum(fields[3:5]) - sum(fields[7:8])
    own = sum(os.times()[:4]) * os.sysconf("SC_CLK_TCK")
    return sum(fields), fields[7] if len(fields) > 7 else 0, busy - own


def _versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def _check_declared() -> None:
    """The metrics printed must be the ones BENCHMARK.json declares."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        raise BenchError(f"cannot read BENCHMARK.json: {e}") from e
    declared = (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
        [w["name"] for w in spec["workloads"]],
    )
    if declared != (END_TO_END, PER_LAYER, list(WORKLOADS)):
        raise BenchError("BENCHMARK.json does not match the metrics run.py prints")


def bench(args) -> int:
    cpus = _cpus()
    _check_declared()
    try:
        import __spark_entry__  # noqa: F401
        from ig_etl_with_user_reports_2024_spark.session import get_spark
    except ImportError as e:
        raise BenchError(f"the engine is not importable from {ROOT}: {e}") from e
    from spans import SparkCounters, peak_rss_mb, process_tree

    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's scratch space, warehouse and temp files stay in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    run = Run(args, work)
    load_before = list(os.getloadavg())
    ticks_before = _cpu_ticks()
    try:
        _ensure_cache(run)
        with run.tracer.span("session.start"):
            run.spark = get_spark("perfbench", extra_conf=_spark_conf(work))
        try:
            if args.trace:
                run.counters = SparkCounters(run.spark)
                gc0 = run.counters.jvm_gc_ms()
            globals()[args.workload](run)
            if args.trace:
                run.record("session.start_s", run.tracer.self_times()["session.start"][0])
                run.record("jvm.gc_s", (run.counters.jvm_gc_ms() - gc0) / 1000)
                run.record(
                    "spark.tasks_failed", sum(c["tasks_failed"] for c in run.spark_counts)
                )
            versions = _versions(run.spark)
            rss = peak_rss_mb(process_tree())
        finally:
            _stop_session(run.spark)
    finally:
        if args.trace:
            run.tracer.write(os.path.join(BUILD, "traces", f"{run.run_id}.json"))
        shutil.rmtree(work, ignore_errors=True)

    ticks = _cpu_ticks()
    # a failed operation misses every latency limit: with no successful
    # one, the percentiles fall back to the failed attempts' times
    lat = run.samples_ms or run.failed_ms or [0.0]
    p50, p90 = statistics.median(lat), _percentile(lat, 90)
    geomean = _geomean_of_medians(run.kind_ms or {"failed": lat})
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": cpus,
        "load_before": load_before,
        "load_after": list(os.getloadavg()),
        # share of the machine's CPU time the hypervisor gave to other
        # guests during the run: latencies stretch with it
        "steal_share": (ticks[1] - ticks_before[1]) / max(ticks[0] - ticks_before[0], 1),
        # share of the machine's CPU time other processes (other containers
        # on the host) kept busy during the run
        "others_share": (ticks[2] - ticks_before[2]) / max(ticks[0] - ticks_before[0], 1),
        **versions,
        "prep_s": run.prep_s,
        "setup_s": run.setup_s,
        "peak_rss_mb": rss,
        "samples": len(run.samples_ms),
        "op_geomean_ms": geomean,
        "op_p50_ms": p50,
        "op_p90_ms": p90,
        "beyond_p90": sum(v > p90 for v in run.samples_ms),
        **run.native,
        "self_s": {k: [round(x, 3) for x in v] for k, v in run.tracer.self_times().items()},
        "error_rate": run.failed / max(run.attempted, 1),
        "errors": run.errors,
    }
    if args.trace:
        values = {k: statistics.median(v) for k, v in run.layer.items()}
        values["trace.overhead_s"] = run.tracer.overhead_s
        values["trace.op_geomean_ms"] = geomean
        values["peak_rss_mb"] = rss
        units = PER_LAYER
    else:
        values = {"setup_s": run.setup_s, "op_geomean_ms": geomean}
        units = END_TO_END
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    print(json.dumps({"report": report}), flush=True)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv == ["--build-cache"]:
        build_cache()
        return 0
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    try:
        return bench(args)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
