"""The benchmark's three workloads, each run in its own Spark session.

* ``registry_queries`` / ``registry_llm_ops``: a ninth of the queries
  registered in ``plans/queries.py`` / ``plans/llm_ops.py``, chosen by
  measured latency (``registry_specs``), over the bundled fixtures. Each
  query runs to a ``noop`` sink (build plus action), one at a time. The seed
  permutes the query order of every pass; the data is fixed.
* ``etl_flashscore``: seeded flashscore JSON dumps through
  ``plans.flashscore.run_pipeline``, all four parquet tables written to a
  fresh directory per run.

Every workload sets up (session, inputs, untimed checked and warm-up
passes), measures whole passes until ``seconds`` have passed, and checks
outputs outside the timed spans. A failed operation is counted and named; it never
stops the run. With ``trace`` on, passes alternate between untraced and
traced, and the traced ones feed the per-layer metrics.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import flashscore_dumps
from tracing import (
    LAYER_PROPERTY,
    PASS_PROPERTY,
    EventLog,
    LayerStats,
    Tracer,
    busy_seconds,
    closure,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: A copy of the repository's sf0.01 fixture set, the scale its DuckDB
#: oracle check is written for. The benchmark reads nothing outside its own
#: checkout, so the tables travel with it.
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")

#: Cold and warm time of every registered query, measured once on 4 cores.
QUERY_TIMES = os.path.join(HERE, "query_times.json")

#: Left out of the registry workloads: it writes its input dumps to a fixed
#: directory under /tmp, outside the benchmark's checkout.
EXCLUDED_QUERIES = frozenset({"flashscore_format_parity"})

#: The registry share: the middle query of each consecutive ``QUERY_STRIDE``
#: in order of measured warm time.
QUERY_STRIDE = 9
#: Untimed passes after the checked cold pass. Pass times keep falling for
#: ~60-90 query runs of a fresh session while the JIT compiles the planner:
#: the first pass after the cold one took 1.8 times as long as the tenth.
REGISTRY_WARMUP_PASSES = 5
#: Passes the window holds at least, however short ``seconds`` is.
REGISTRY_MIN_PASSES = 5
#: JVM flags of the registry sessions: C1 only. These queries spend their
#: time planning and scheduling, not in generated code. On 4 cores, C2 made
#: ``registry_queries`` no faster (1.69 s a pass against 1.72 s) but kept
#: recompiling for over 100 query runs, and the interquartile range of its
#: runs was 12% of their median against 4% with C1 alone.
#: ``registry_llm_ops`` is 15% slower with C1 alone. The ETL session keeps
#: the default JIT: its JSON parsing and parquet writing run 65% slower
#: without C2.
REGISTRY_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"

#: flashscore input size: files x matches per file.
ETL_FILES = 8
ETL_MATCHES_PER_FILE = 2500
#: Run times keep falling over the first runs of a session while the JIT
#: compiles the JSON reader and parquet writer. After eight warm-up runs the
#: first three measured runs were still 10-20% slower than the rest; after
#: sixteen none were, but those cost 7 s of a run's time budget.
ETL_WARMUP_RUNS = 12
#: Runs the window holds at least, however short ``seconds`` is.
ETL_MIN_RUNS = 10

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:.1f} s]: {msg}",
          file=sys.stderr, flush=True)


OPERATOR_MODULES = ("relational", "dedup", "similarity", "graph", "nested",
                    "multimodal")


@dataclass
class PassTrace:
    """What one traced pass measured from the benchmark's side."""

    pass_no: int
    wall_s: float
    build_s: float = 0.0
    action_s: float = 0.0
    layers: dict[str, LayerStats] = field(default_factory=dict)


@dataclass
class Outcome:
    setup_s: float = 0.0
    session_start_s: float = 0.0
    pass_s: list[float] = field(default_factory=list)  # untraced passes
    op_s: list[float] = field(default_factory=list)  # untraced operations
    rows_per_pass: int = 0  # etl_flashscore: rows written per run
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    traced: list[PassTrace] = field(default_factory=list)
    session_samples: list[dict[str, float]] = field(default_factory=list)
    event_log: EventLog | None = None

    def fail(self, what: str, err: BaseException | str) -> None:
        msg = err if isinstance(err, str) else f"{type(err).__name__}: {err}"
        self.failures.append(f"{what}: {msg.strip().splitlines()[0][:200]}")


class Session:
    """A ``local[cores]`` session built by the package's own ``get_spark``,
    with every scratch directory inside ``work``."""

    def __init__(self, work: str, cores: int, trace: bool,
                 java_options: str | None = None):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        confs = {"spark.local.dir": tmp,
                 "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
        self.event_dir = os.path.join(work, "eventlog")
        if trace:
            os.makedirs(self.event_dir, exist_ok=True)
            confs.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file://" + self.event_dir,
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false"})
        confs["spark.ui.showConsoleProgress"] = "false"
        if java_options:
            # Prepended to the package's own spark.driver.extraJavaOptions.
            confs["spark.driver.defaultJavaOptions"] = java_options
        os.environ.update({
            "PYSPARK_SUBMIT_ARGS": " ".join(
                f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
            + " pyspark-shell",
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "SPARK_GRAFT_CPUS": str(cores),
            # Where load_table reads when a caller names no directory.
            "SPARK_GRAFT_SF_DIR": FIXTURES,
            "SPARK_DRIVER_MEMORY": "4g",
            # Python workers import the package from the checkout.
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        })
        from data_pipeline_eng_project_1_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=cores,
                               shuffle_partitions=cores)
        self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext

    def tag(self, group: str | None, pass_no: int | None) -> None:
        """Job group ``<query>|<phase>`` and pass number for later jobs."""
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty(PASS_PROPERTY,
                                 None if pass_no is None else str(pass_no))

    def set_layer(self, layer: str | None) -> None:
        self.sc.setLocalProperty(LAYER_PROPERTY, layer)

    def sample(self) -> dict[str, float]:
        """Cached/checkpointed RDDs, their storage and the driver JVM's RSS."""
        jsc = self.sc._jsc
        infos = jsc.sc().getRDDStorageInfo()
        storage = sum(i.memSize() + i.diskSize() for i in infos)
        pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        rss_kb = 0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    rss_kb = int(line.split()[1])
        return {"persisted_rdds": float(jsc.getPersistentRDDs().size()),
                "storage_mb": storage / 1e6, "jvm_rss_mb": rss_kb / 1e3}

    def stop(self) -> EventLog | None:
        """Stop Spark, wait for its JVM to exit, return the event log if any."""
        gateway = self.sc._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        log("session stopped")
        logs = glob.glob(os.path.join(self.event_dir, "*"))
        return EventLog.read(logs[0]) if logs else None


def _window(seconds: float, trace: bool, more_needed=lambda: False):
    """Yield (pass number, traced?) until the window has passed. Tracing
    runs blocks of untraced, traced, traced, untraced passes, so a drift
    in speed over the run cancels out of the overhead."""
    start, n = time.perf_counter(), 0
    while True:
        elapsed = time.perf_counter() - start >= seconds
        if trace:
            if elapsed and n % 4 == 0 and n > 0:
                return
        elif elapsed and not more_needed():
            return
        yield n, trace and n % 4 in (1, 2)
        n += 1


# --------------------------------------------------------------------------
# Registry workloads
# --------------------------------------------------------------------------

def registry_names(module: str) -> list[str]:
    """The middle query of each consecutive ``QUERY_STRIDE`` of
    ``plans.<module>`` in order of measured warm time. The share keeps the
    registry's latency spread and the operator modules the registry is
    chosen for, at a ninth of the cost of the checked cold pass, so that a
    run has time to warm up and to measure many passes."""
    with open(QUERY_TIMES) as f:
        times = json.load(f)["queries"]
    ranked = sorted((t["warm_s"], name) for name, t in times.items()
                    if t["module"] == module and name not in EXCLUDED_QUERIES)
    return [name for _, name in ranked[QUERY_STRIDE // 2::QUERY_STRIDE]]


def registry_specs(module: str) -> tuple[list, list[str]]:
    """The registered specs of ``registry_names(module)``, and the names no
    longer registered."""
    from data_pipeline_eng_project_1_spark.plans import queries

    registered = {s.name: s for s in queries.specs()}
    names = registry_names(module)
    return ([registered[n] for n in names if n in registered],
            [n for n in names if n not in registered])


def _install_layers(tracer: Tracer) -> None:
    import importlib

    from data_pipeline_eng_project_1_spark.sources import catalog

    tracer.install(catalog, "sources.load_table", ["load_table"])
    for m in OPERATOR_MODULES:
        mod = importlib.import_module(
            f"data_pipeline_eng_project_1_spark.operators.{m}")
        tracer.install(mod, f"operators.{m}")


def run_registry(module: str, seed: int, seconds: float, trace: bool,
                 work: str, cores: int) -> Outcome:
    from tests.oracle_harness import compare_query, duck_connection

    out = Outcome()
    rng = random.Random(seed)
    t0 = time.perf_counter()
    sess = Session(work, cores, trace, REGISTRY_JAVA_OPTIONS)
    out.session_start_s = sess.start_s
    specs, missing = registry_specs(module)
    for name in missing:
        out.attempted += 1
        out.fail(name, "not registered")
    spark = sess.spark
    tracer = Tracer(on_change=sess.set_layer)

    def execute(spec, p: PassTrace | None) -> float:
        out.attempted += 1
        t_start = time.perf_counter()
        try:
            if p:
                sess.tag(f"{spec.name}|build", p.pass_no)
            t_build = time.perf_counter()
            df = spec.builder(spark, FIXTURES)
            t_action = time.perf_counter()
            if p:
                p.build_s += t_action - t_build
                sess.tag(f"{spec.name}|action", p.pass_no)
                t_action = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            if p:
                p.action_s += time.perf_counter() - t_action
        except Exception as e:  # noqa: BLE001 - counted, the run goes on
            out.fail(spec.name, e)
        return time.perf_counter() - t_start

    def run_pass(p: PassTrace | None, samples: list[float]) -> float:
        order = specs[:]
        rng.shuffle(order)
        t = time.perf_counter()
        samples.extend(execute(s, p) for s in order)
        return time.perf_counter() - t

    # The cold pass is the output check: every query runs once to a
    # collected result, compared with its DuckDB oracle.
    con = duck_connection(FIXTURES)
    for spec in rng.sample(specs, len(specs)):
        out.attempted += 1
        try:
            ok, msg = compare_query(spark, con, spec.name, FIXTURES)
        except Exception as e:  # noqa: BLE001 - counted, the run goes on
            out.fail(spec.name, e)
            continue
        if not ok:
            out.fail(spec.name, msg)
    con.close()
    for _ in range(REGISTRY_WARMUP_PASSES):
        run_pass(None, [])
    out.setup_s = time.perf_counter() - t0
    log(f"set up in {out.setup_s:.1f} s")
    if trace:
        out.session_samples.append(sess.sample())
    for n, traced in _window(
            seconds, trace, lambda: len(out.pass_s) < REGISTRY_MIN_PASSES):
        if traced:
            p = PassTrace(n, 0.0)
            tracer.reset()
            _install_layers(tracer)
            try:
                p.wall_s = run_pass(p, [])
            finally:
                tracer.uninstall()
                sess.tag(None, None)
            p.layers = tracer.stats
            out.traced.append(p)
        else:
            out.pass_s.append(run_pass(None, out.op_s))
        if trace:
            out.session_samples.append(sess.sample())
    log("window done")
    out.event_log = sess.stop()
    return out


# --------------------------------------------------------------------------
# flashscore ETL
# --------------------------------------------------------------------------

_DIGEST_SQL = """
SELECT t, count(*) AS rows, count(DISTINCT ID_MATCH) AS ids,
       sum(CAST(conv(substr(ID_MATCH, 1, 8), 16, 10) AS BIGINT)) AS chk
FROM ({tables}) GROUP BY t"""
_TABLE_SQL = "SELECT '{table}' AS t, ID_MATCH FROM parquet.`{run_dir}/{table}`"


def _check_etl(spark, run_dir: str,
               expected: dict[str, flashscore_dumps.TableDigest]
               ) -> list[str]:
    """The mismatches between the tables of one run and the expected
    digests."""
    sql = _DIGEST_SQL.format(tables=" UNION ALL ".join(
        _TABLE_SQL.format(table=t, run_dir=run_dir) for t in expected))
    got = {r["t"]: flashscore_dumps.TableDigest(r["rows"], r["ids"],
                                                r["chk"] or 0)
           for r in spark.sql(sql).collect()}
    return [f"{t} {got.get(t)} != expected {want}"
            for t, want in expected.items() if got.get(t) != want]


def run_etl(seed: int, seconds: float, trace: bool, work: str,
            cores: int) -> Outcome:
    out = Outcome()
    t0 = time.perf_counter()
    sess = Session(work, cores, trace)
    out.session_start_s = sess.start_s
    from data_pipeline_eng_project_1_spark.plans import flashscore

    paths, expected = flashscore_dumps.write_dumps(
        os.path.join(work, "dumps"), seed, ETL_FILES, ETL_MATCHES_PER_FILE)
    out.rows_per_pass = sum(d.rows for d in expected.values())
    tracer = Tracer(on_change=sess.set_layer)
    out_dir = os.path.join(work, "out")

    def run_once(name: str) -> tuple[float, float]:
        """Run the pipeline into a fresh directory; return when it started
        and when it returned. Then, untimed, check the tables written and
        remove them: output deleted while still in the page cache never
        reaches the disk, whose writeback and discards otherwise slow the
        runs that follow by up to a quarter."""
        out.attempted += 1
        target = os.path.join(out_dir, name)
        t = time.perf_counter()
        try:
            flashscore.run_pipeline(sess.spark, paths, target,
                                    mode="overwrite")
        except Exception as e:  # noqa: BLE001 - counted, the run goes on
            out.fail(f"run {name}", e)
            return t, time.perf_counter()
        end = time.perf_counter()
        sess.tag(None, None)
        try:
            bad = _check_etl(sess.spark, target, expected)
        except Exception as e:  # noqa: BLE001 - counted, the run goes on
            bad = [f"{type(e).__name__}: {e}"]
        if bad:
            out.fail(f"check {name}", "; ".join(bad))
        shutil.rmtree(target, ignore_errors=True)
        return t, end

    def build_phase(p: PassTrace, fn, ends: list[float]):
        """Tag the plan-building steps of run_pipeline as ``etl|build``,
        add their time to the build and note when each returned."""
        def phase(*args, **kwargs):
            sess.tag("etl|build", p.pass_no)
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                ends.append(time.perf_counter())
                p.build_s += ends[-1] - t
                sess.tag("etl|action", p.pass_no)
        return phase

    for i in range(ETL_WARMUP_RUNS):
        run_once(f"warmup{i}")
    out.setup_s = time.perf_counter() - t0
    log(f"set up in {out.setup_s:.1f} s")
    if trace:
        out.session_samples.append(sess.sample())
    for n, traced in _window(seconds, trace,
                             lambda: len(out.pass_s) < ETL_MIN_RUNS):
        if not traced:
            start, end = run_once(f"run{n}")
            out.pass_s.append(end - start)
            out.op_s.append(end - start)
        else:
            from data_pipeline_eng_project_1_spark.operators import nested

            p = PassTrace(n, 0.0)
            tracer.reset()
            tracer.install(flashscore, "sources.read_matches",
                           ["read_matches"])
            tracer.install(nested, "operators.nested")
            originals = (flashscore.read_matches, flashscore.transform_all)
            build_ends: list[float] = []
            flashscore.read_matches = build_phase(p, originals[0], build_ends)
            flashscore.transform_all = build_phase(p, originals[1],
                                                   build_ends)
            sess.tag("etl|action", n)
            try:
                start, end = run_once(f"run{n}")
            finally:
                flashscore.read_matches, flashscore.transform_all = originals
                tracer.uninstall()
                sess.tag(None, None)
            p.wall_s = end - start
            # The writes: from the return of transform_all, the last build
            # step, to the return of run_pipeline.
            p.action_s = end - build_ends[-1] if build_ends else 0.0
            p.layers = tracer.stats
            out.traced.append(p)
        if trace:
            out.session_samples.append(sess.sample())

    log("window done")
    out.event_log = sess.stop()
    return out


# --------------------------------------------------------------------------
# Per-layer metrics of a traced run
# --------------------------------------------------------------------------

def layer_metrics(out: Outcome, cores: int) -> dict[str, float]:
    """Per-pass layer figures, each the median over the traced passes."""
    jobs = list(out.event_log.jobs.values()) if out.event_log else []
    per_pass: list[dict[str, float]] = []
    for p in out.traced:
        mine = [j for j in jobs if j.pass_no == str(p.pass_no)]
        build = [j for j in mine if j.phase == "build"]
        action = [j for j in mine if j.phase == "action"]
        m = {
            "plans.build.s": p.build_s,
            "plans.build.driver_s": p.build_s - busy_seconds(build),
            "plans.build.jobs": len(build),
            "plans.action.s": p.action_s,
            "plans.action.jobs": len(action),
            "plans.action.stages": sum(j.stages for j in action),
            "plans.action.tasks": sum(j.tasks for j in action),
            "plans.action.task_retries": sum(j.task_retries for j in action),
            "plans.action.cpu_s": sum(j.cpu_ns for j in action) / 1e9,
            "plans.action.gc_s": sum(j.gc_ms for j in action) / 1e3,
            "plans.action.core_util": (sum(j.run_ms for j in action) / 1e3
                                       / (p.action_s * cores)
                                       if p.action_s > 0 else 0.0),
            "plans.action.shuffle_read_mb":
                sum(j.shuffle_read_b for j in action) / 1e6,
            "plans.action.shuffle_write_mb":
                sum(j.shuffle_write_b for j in action) / 1e6,
            "plans.action.spill_mb": sum(j.spill_b for j in action) / 1e6,
            "plans.action.input_mb": sum(j.input_b for j in action) / 1e6,
            "plans.action.output_mb": sum(j.output_b for j in action) / 1e6,
            "functions.python.rows": sum(j.python_rows for j in mine),
            "functions.python.mb_sent": sum(j.python_sent_b for j in mine) / 1e6,
            "functions.python.mb_received":
                sum(j.python_received_b for j in mine) / 1e6,
        }
        load = p.layers.get("sources.load_table", LayerStats())
        m["sources.load_table.calls"] = load.calls
        m["sources.load_table.s"] = load.total_s
        m["sources.load_table.jobs"] = sum(
            j.layer == "sources.load_table" for j in mine)
        m["sources.read_matches.s"] = p.layers.get(
            "sources.read_matches", LayerStats()).total_s
        for mod in OPERATOR_MODULES:
            layer = f"operators.{mod}"
            st = p.layers.get(layer, LayerStats())
            m[f"{layer}.calls"] = st.calls
            m[f"{layer}.self_s"] = st.self_s
            m[f"{layer}.jobs"] = sum(j.layer == layer for j in mine)
        per_pass.append(m)
    metrics = {k: statistics.median(d[k] for d in per_pass)
               for k in per_pass[0]}

    first, last = out.session_samples[0], out.session_samples[-1]
    metrics["session.start_s"] = out.session_start_s
    metrics["session.persisted_rdds"] = last["persisted_rdds"]
    metrics["session.persisted_rdds_growth"] = (last["persisted_rdds"]
                                                - first["persisted_rdds"])
    metrics["session.storage_mb"] = last["storage_mb"]
    metrics["session.jvm_rss_mb"] = last["jvm_rss_mb"]

    metrics.update(closure(
        [(p.build_s, p.action_s, p.wall_s) for p in out.traced], out.pass_s))
    return metrics


WORKLOADS = {
    "registry_queries": lambda **kw: run_registry("queries", **kw),
    "registry_llm_ops": lambda **kw: run_registry("llm_ops", **kw),
    "etl_flashscore": run_etl,
}


def clean(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
