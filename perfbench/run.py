"""Repository benchmark: the CrossRef ETL and the boundary-heavy query set.

    python3 perfbench/run.py --workload {query_boundary,biblio_etl} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One process, one client, closed loop, on
``local[nproc]``. Set-up (inputs, session, registry, a short warm-up) is
timed as ``setup_s``; then whole passes of the workload run until
``--seconds`` have been measured (at least one pass), and each pass is
checked. ``--trace 1`` runs the workload with spans and Spark's event log and
prints the per-layer metrics. The last stdout line is the result object; the
line before it is a full report with the named metrics, box state and the
side each dual-path operator took. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import pandas as pd  # noqa: E402 - module level: pandas UDF type hints resolve here

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

RANKSTATS = ["q_events_wilcoxon", "q_events_quade", "q_events_bh_adjust",
             "q_docs_zipf_fit", "q_events_theil_sen"]
GRAPH = ["q_graph_adamic_adar", "q_graph_label_propagation", "q_graph_kcore"]
SETSIM = ["q_docs_containment_join", "q_basket_frequent_triples", "q_emb_semantic_dedup"]
BOUNDARY = RANKSTATS + GRAPH + SETSIM

# The 11 queries run on a copy of the sf 0.01 test lake that the tests and
# tools/check_queries.py use, committed next to this file so that a run reads
# nothing outside its checkout; each result is checked against the row count
# and hash in expected_queries.json.
LAKE = os.path.join(HERE, "lake")
EXPECTED = os.path.join(HERE, "expected_queries.json")
# biblio_etl: seeded works for the cold run and for the traced run's
# incremental batch. An Engine.run costs about the same for 40 works as for
# 150: its time goes to its roughly 100 Spark jobs, not to the rows.
ETL_WORKS, ETL_APPEND = 150, 30
# a refresh takes one to two seconds, too short to time steadily alone, so a
# pass clicks through several and times them together
DASH_REFRESHES = 5

END_TO_END = ["setup_s", "wall_s", "core_s", "ok_frac"]
UNITS = {"setup_s": "s", "wall_s": "s", "core_s": "s", "ok_frac": "ratio"}
LAYER_SPANS = {
    # (module, attribute) -> layer name; wrapped in the traced run only
    ("ups_crossref_etl_spark.sources.crossref", "read_works_fixtures"):
        "sources.crossref.read_works_fixtures",
    ("ups_crossref_etl_spark.plans.ingest", "ingest"): "plans.ingest.ingest",
    ("ups_crossref_etl_spark.plans.entities", "resolve_authors"):
        "plans.entities.resolve_authors",
    ("ups_crossref_etl_spark.operators.graph", "connected_components"):
        "operators.graph.connected_components",
    ("ups_crossref_etl_spark.plans.flatview", "clean_tables"): "plans.flatview.clean_tables",
    ("ups_crossref_etl_spark.plans.flatview", "build_vista_analisis"):
        "plans.flatview.build_vista_analisis",
    ("ups_crossref_etl_spark.sources.sinks", "write_table"): "sources.sinks.write_table",
    ("ups_crossref_etl_spark.plans.incremental", "append_batch"):
        "plans.incremental.append_batch",
}
S, N, B, R = "s", "count", "bytes", "ratio"
PER_LAYER = {
    "session.get_spark_s": S, "plans.registry.load_all_s": S,
    "plans.build_s": S, "plans.build_jobs": N, "plans.build_share": R,
    "plans.collect_s": S, "plans.collect_jobs": N, "plans.result_rows": N,
    "exec.jobs": N, "exec.stages": N, "exec.tasks": N, "exec.task_run_s": S,
    "exec.task_cpu_s": S, "exec.gc_s": S, "exec.skew_max_median": R, "exec.core_util": R,
    "shuffle.write_bytes": B, "shuffle.read_bytes": B, "shuffle.fetch_wait_s": S,
    "spill.disk_bytes": B, "python.worker_run_s": S, "python.bytes_to_worker": B,
    "sources.crossref.read_works_fixtures_s": S,
    "plans.ingest.ingest_s": S, "plans.ingest.ingest_jobs": N,
    "plans.entities.resolve_authors_s": S, "plans.entities.resolve_authors_jobs": N,
    "operators.graph.connected_components_s": S,
    "operators.graph.connected_components_calls": N,
    "operators.graph.connected_components_jobs": N,
    "plans.incremental.append_batch_s": S, "plans.incremental.append_batch_jobs": N,
    "plans.flatview.clean_tables_s": S, "plans.flatview.build_vista_analisis_s": S,
    "engine.run_s": S, "engine.run_jobs": N,
    "sources.sinks.write_table_s": S, "sources.sinks.write_table_jobs": N,
    "sources.sinks.files_written": N, "sources.sinks.lake_bytes_per_input_byte": R,
    "plans.analytics.dashboard_s": S,
    "trace.overhead_frac": R, "trace.reconcile_frac": R,
}


class BoxState:
    """CPU steal share of the whole box over a run, from /proc/stat."""

    def __init__(self):
        self._stat0 = self._cpu_stat()

    @staticmethod
    def _cpu_stat():
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]

    def steal_share(self) -> float:
        d = [a - b for a, b in zip(self._cpu_stat(), self._stat0)]
        total = sum(d[:8])
        return d[7] / total if total > 0 and len(d) > 7 else 0.0


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (``VmHWM``) of every live process
    descended from this one: the Spark JVM and its Python workers."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant (the
    Python workers forked under the JVM outlive it for a moment), so that
    ``stop_processes`` can wait for them."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def descendants() -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def stop_processes(grace_s: float = 20.0) -> None:
    """Stop the Spark session and its JVM, then terminate every process
    still descended from this one and reap each of them: nothing this run
    started outlives it."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:  # noqa: BLE001 - the JVM is terminated below anyway
            pass
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        while True:  # reap whatever has ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        alive = descendants()
        if not alive:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["query_boundary", "biblio_etl"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


# --------------------------------------------------------------------------
# query_boundary
# --------------------------------------------------------------------------


def digest(cols, rows) -> dict:
    """Row count and order-insensitive hash of a result, after the
    normalization ``tools/check_queries.py`` compares with (columns sorted
    by name, floats rounded to 6 places, rows sorted)."""
    import check_queries as cq

    norm = cq.normalize([tuple(r) for r in rows], list(cols))
    text = json.dumps([sorted(cols), norm], default=str)
    return {"rows": len(rows), "hash": hashlib.sha256(text.encode()).hexdigest()}


def query_pass(spark, registry, tracer):
    """One pass over the boundary queries: ``fn()`` + ``.schema`` is the
    build span, ``.collect()`` the collect span. Returns each query's time
    and its (DataFrame, rows), or the exception it raised."""
    times, results = {}, {}
    for name in BOUNDARY:
        t0 = time.perf_counter()
        try:
            with tracer.span("plans.build", query=name):
                df = registry[name].fn(spark, LAKE)
                df.schema
            with tracer.span("plans.collect", query=name) as rec:
                rows = df.collect()
                rec["rows"] = len(rows)
            results[name] = (df, rows)
        except Exception as ex:  # noqa: BLE001 - a failed operation
            results[name] = ex
        times[name] = time.perf_counter() - t0
    return times, results


def check_queries(results, expected) -> dict[str, str | None]:
    out = {}
    for name, res in results.items():
        if isinstance(res, Exception):
            out[name] = f"raised {res!r}"[:300]
            continue
        df, rows = res
        got, want = digest(df.columns, rows), expected[name]
        if got["rows"] != want["rows"]:
            out[name] = f"rows {got['rows']} != {want['rows']}"
        elif got["hash"] != want["hash"]:
            out[name] = f"values differ from the {want['source']}"
        else:
            out[name] = None
    return out


NOT_REACHED = "not reached"
DUAL_PATHS = ("lake.spread_scan", "setsim.broadcast_gate", "itemsets.frequent_triples",
              "graph.adamic_adar")


def plan_side(results) -> str:
    """Side of the ``frequent_triples`` width probe, read from the executed
    physical plan: the row-local expansion flattens nested sequences."""
    res = results["q_basket_frequent_triples"]
    if isinstance(res, Exception):
        return NOT_REACHED
    plan = res[0]._jdf.queryExecution().executedPlan().toString()
    return "row_local" if "flatten(" in plan else "join_expand"


# --------------------------------------------------------------------------
# biblio_etl
# --------------------------------------------------------------------------


def etl_pass(spark, work, inputs, exp, tracer, k, append):
    """Cold ``Engine.run`` into a fresh lake, then dashboard refreshes read
    back from the written lake; with ``append``, an incremental
    ``Engine.run`` on that lake after them. Each step is checked right after
    it, outside its timing; a step after a failed one is not run and counts
    as failed too."""
    from ups_crossref_etl_spark.engine import Engine

    lake = os.path.join(work, f"lake{k}")
    eng = Engine(spark)
    steps = [("cold", "engine.run", lambda: eng.run(works_jsonl=inputs[0], lake_root=lake),
              lambda _: check_lake(spark, lake, exp["cold"]))]
    steps += [(f"refresh{i}", "plans.analytics.dashboard", lambda: dashboard(spark, eng, lake),
               lambda charts: check_dashboard(charts, exp["cold"]))
              for i in range(DASH_REFRESHES)]
    if append:
        steps.append(("append", "engine.run",
                      lambda: eng.run(works_jsonl=inputs[1], lake_root=lake),
                      lambda _: check_lake(spark, lake, exp["append"])))
    times, problems = {}, {}
    for name, span, fn, check in steps:
        if any(problems.values()):
            problems[name] = "not run: an earlier step failed"
            continue
        t0 = time.perf_counter()
        try:
            with tracer.span(span, step=name):
                out = fn()
        except Exception as ex:  # noqa: BLE001 - a failed operation
            problems[name] = f"raised {ex!r}"[:300]
            continue
        times[name] = time.perf_counter() - t0
        problems[name] = check(out)
    return lake, times, problems


def dashboard(spark, eng, lake) -> dict:
    """One dashboard refresh from the lake: the three charts, a filtered
    table and one SQL query over ``vista_analisis``."""
    from ups_crossref_etl_spark.plans import analytics

    eng.load_lake(lake)
    vista = spark.read.parquet(os.path.join(lake, "vista_analisis"))
    analytics.register_views(spark, vista)
    return {
        "year": analytics.publications_per_year(vista).collect(),
        "country": analytics.publications_per_country(vista).collect(),
        "area": analytics.publications_per_area(vista).collect(),
        "filtered": analytics.apply_dashboard_filters(
            vista, year_from=2021, tipo="journal-article").collect(),
        "sql": eng.sql("SELECT Anio, count(*) AS n, sum(Citas) AS citas "
                       "FROM vista_analisis GROUP BY Anio").collect(),
    }


def check_lake(spark, lake, exp) -> str | None:
    """Row counts and the ``vista_analisis`` hash of the lake on disk
    against the sequential oracle."""
    import works_gen
    from ups_crossref_etl_spark.engine import Engine

    tables = Engine(spark).load_lake(lake)
    got = {t: tables[t].count() for t in ("obras", "autores", "afiliaciones")}
    bad = {t: (got[t], exp[t]) for t in got if got[t] != exp[t]}
    if bad:
        return f"row counts (got, want): {bad}"
    vista = spark.read.parquet(os.path.join(lake, "vista_analisis")).collect()
    if works_gen.rows_hash([r.asDict() for r in vista]) != exp["vista_hash"]:
        return "vista_analisis hash differs from the oracle"
    return None


def check_dashboard(charts, exp) -> str | None:
    """Publications per year, from the chart and from SQL, against the
    oracle's ``vista_analisis``."""
    want_sql: dict = {}
    for v in exp["vista"]:
        want_sql[v["Anio"]] = want_sql.get(v["Anio"], 0) + 1
    want_year = {y: n for y, n in want_sql.items() if y is not None}
    got_year = {r["Anio"]: r["n"] for r in charts["year"]}
    got_sql = {r["Anio"]: r["n"] for r in charts["sql"]}
    if got_year != want_year or got_sql != want_sql:
        return "publications per year differ from the oracle"
    return None


def lake_files(lake):
    n = size = 0
    for d, _, files in os.walk(lake):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


# --------------------------------------------------------------------------
# set-up and the run
# --------------------------------------------------------------------------


def warm_up(spark):
    """Short workload-neutral warm-up, timed into ``setup_s``: the session's
    first action and a grouped pandas UDF, which starts the Python workers.
    It runs no query or ETL step of the workloads, so the first operations
    of a pass still pay for compiling their own plans."""
    from pyspark.sql import functions as F

    def centre(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.assign(v=pdf.v - pdf.v.mean())

    df = spark.range(20000).select((F.col("id") % 97).alias("k"),
                                   F.col("id").cast("double").alias("v"))
    df.groupBy("k").applyInPandas(centre, "k long, v double").agg(F.sum("v")).collect()


def code_fingerprint() -> str:
    """Hash of the package, the entry module and the benchmark's own files
    (documentation left out): an untraced run is a reference for a traced
    one only with the same hash."""
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for base in (os.path.join(ROOT, "ups_crossref_etl_spark"), HERE):
        paths += [os.path.join(d, f) for d, _, files in os.walk(base)
                  for f in files if not f.endswith((".pyc", ".md"))]
    h = hashlib.sha256()
    for path in sorted(paths):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def untraced_reference(records: str, code: str, workload: str) -> float | None:
    """Median ``wall_s`` of the untraced runs of this workload on this code
    recorded in the checkout, or None when there is none."""
    if not os.path.exists(records):
        return None
    with open(records) as fh:
        walls = [r["wall_s"] for r in map(json.loads, fh)
                 if r["code"] == code and r["workload"] == workload]
    return statistics.median(walls) if walls else None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ups_crossref_etl_spark")):
        fail("the package ups_crossref_etl_spark is not next to perfbench/")
    if not os.path.exists(EXPECTED):
        fail(f"missing {EXPECTED}")

    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    state_dir = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(state_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    records, code = os.path.join(state_dir, "untraced.jsonl"), code_fingerprint()
    reference = untraced_reference(records, code, args.workload) if args.trace else None
    # everything a run writes stays in the checkout; Python workers import
    # the package from it
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tools")]

    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        report = run(args, cpus, work, BoxState(), reference)
    finally:
        # every path out stops the JVM and its Python workers and waits
        # for them, before the scratch they write to is removed
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    if not args.trace and report["failed"] == 0:
        with open(records, "a") as fh:
            fh.write(json.dumps({"code": code, "workload": args.workload, "seed": args.seed,
                                 "wall_s": report["metrics"]["wall_s"]}) + "\n")
    print(json.dumps(report, default=str))
    if args.trace:
        out = {k: {"value": report["per_layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": report["metrics"][k], "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps({"correct": report["failed"] == 0, "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": out}))
    return 0


def run(args, cpus, work, box, reference) -> dict:
    import tracing
    import works_gen

    steps: dict[str, float] = {}
    t = time.perf_counter()
    if args.workload == "query_boundary":
        # the lake is fixed; the seed only names the run
        with open(EXPECTED) as fh:
            expected = json.load(fh)
        input_bytes = 0
    else:
        cold, append = works_gen.make_batches(args.seed, ETL_WORKS, ETL_APPEND)
        inputs = (os.path.join(work, "cold.jsonl"), os.path.join(work, "append.jsonl"))
        input_bytes = works_gen.write_jsonl(cold, inputs[0])
        exp = {"cold": works_gen.expected(ROOT, cold)}
        if args.trace:  # only the traced run makes the incremental step
            input_bytes += works_gen.write_jsonl(append, inputs[1])
            exp["append"] = works_gen.expected(ROOT, cold, append)
    steps["inputs_s"] = time.perf_counter() - t

    t = time.perf_counter()
    from ups_crossref_etl_spark.session import get_spark

    log_dir = os.path.join(work, "eventlog")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={os.path.join(work, 'derby')} -Djava.io.tmpdir={work}",
    }
    if args.trace:
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    steps["session.get_spark_s"] = time.perf_counter() - t

    t = time.perf_counter()
    from ups_crossref_etl_spark.plans.registry import load_all

    registry = load_all()
    steps["plans.registry.load_all_s"] = time.perf_counter() - t

    t = time.perf_counter()
    warm_up(spark)
    steps["warm_up_s"] = time.perf_counter() - t
    setup_s = time.perf_counter() - T_START

    def one_pass(tracer, k):
        """Run and check one pass; its wall is the sum of its timed
        operations, so the checks between them are left out."""
        n0 = len(tracer.spans)
        if args.workload == "query_boundary":
            times, results = query_pass(spark, registry, tracer)
            problems = check_queries(results, expected)
            core = sum(times[q] for q in GRAPH + SETSIM)
            extra = {"results": results, "times": times}
        else:
            lake, times, problems = etl_pass(spark, work, inputs, exp, tracer, k,
                                             append=bool(args.trace))
            refresh = [v for n, v in times.items() if n.startswith("refresh")]
            core = times.get("cold", 0.0)
            extra = {"lake": lake, "times": times,
                     "refresh": statistics.median(refresh) if refresh else 0.0}
        # the traced run's incremental step is left out of the pass wall, so
        # that it compares with the untraced pass
        return {"wall": sum(v for n, v in times.items() if n != "append"),
                "traced_s": sum(times.values()), "core": core, "problems": problems,
                "spans": (n0, len(tracer.spans)), **extra}

    sides = dict.fromkeys(DUAL_PATHS, NOT_REACHED)
    if args.trace:
        tracer = tracing.Tracer(spark.sparkContext, jobs=True)
        for (mod, attr), name in LAYER_SPANS.items():
            __import__(mod)
            tracer.wrap(mod, attr, name)
        record_gate_sides(sides)
    else:
        tracer = tracing.Tracer()

    passes: list[dict] = []
    t_measure = time.perf_counter()
    while not passes or time.perf_counter() - t_measure < args.seconds:
        passes.append(one_pass(tracer, len(passes)))
    peak_mb = peak_rss_mb()

    attempted = sum(len(p["problems"]) for p in passes)
    failed = sum(1 for p in passes for v in p["problems"].values() if v)
    med = statistics.median
    if args.workload == "query_boundary":
        sides["itemsets.frequent_triples"] = plan_side(passes[-1]["results"])
        named = {f"{q}_s": med([p["times"][q] for p in passes if q in p["times"]])
                 for q in BOUNDARY}
        named.update({f"{fam}_s": med([sum(p["times"][q] for q in qs if q in p["times"])
                                       for p in passes])
                      for fam, qs in (("rankstats", RANKSTATS), ("graph", GRAPH),
                                      ("setsim", SETSIM))})
    else:
        named = {"etl_cold_works_per_s": med([ETL_WORKS / p["core"] if p["core"] else 0.0
                                              for p in passes]),
                 "dash_refresh_s": med([p["refresh"] for p in passes])}
        if args.trace:
            named["etl_append_s"] = med([p["times"].get("append", 0.0) for p in passes])
    metrics = {
        "setup_s": setup_s,
        "wall_s": med([p["wall"] for p in passes]),
        "core_s": med([p["core"] for p in passes]),
        "ok_frac": (attempted - failed) / attempted,
    }
    spark.stop()  # also flushes and closes the event log
    per_layer = {}
    if args.trace:
        per_layer = layer_metrics(tracer, passes, steps, log_dir, cpus, reference,
                                  passes[-1].get("lake"), input_bytes)
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "cpu_steal_share": box.steal_share(), "passes": len(passes),
        "inputs": ({"lake": "perfbench/lake (sf 0.01)"} if args.workload == "query_boundary"
                   else {"works": ETL_WORKS, "append_works": ETL_APPEND,
                         "input_bytes": input_bytes}),
        "peak_rss_mb": peak_mb,
        "steps": steps,
        "attempted": attempted, "failed": failed, "fail_frac": failed / attempted,
        "problems": {k: v for p in passes for k, v in p["problems"].items() if v},
        "named": named,
        "dual_path_sides": sides,
        "untraced_reference_s": reference,
        "metrics": metrics,
        "per_layer": per_layer,
    }


def record_gate_sides(sides: dict) -> None:
    """Wrap the input-observing choices so each call records its side:
    ``spread_scan`` (round-robin spread or the scan as it is), the
    setsim/containment broadcast gate (``input_bytes_below``) and the
    Adamic-Adar degree cap (capped twin with its cap, or exact)."""
    from ups_crossref_etl_spark.operators import graph
    from ups_crossref_etl_spark.sources import lake

    def note(key, side):
        seen = sides.get(key, NOT_REACHED)
        if seen == NOT_REACHED:
            sides[key] = side
        elif side not in seen.split("+"):
            sides[key] = f"{seen}+{side}"

    orig = {"spread_scan": lake.spread_scan, "input_bytes_below": lake.input_bytes_below,
            "adamic_adar": graph.adamic_adar}

    def spread_scan(df, *a, **kw):
        out = orig["spread_scan"](df, *a, **kw)
        note("lake.spread_scan", "as_scanned" if out is df else "spread")
        return out

    def input_bytes_below(df, threshold):
        out = orig["input_bytes_below"](df, threshold)
        note("setsim.broadcast_gate", "broadcast" if out else "shuffle")
        return out

    def adamic_adar(edges, top_n=50, max_degree=None):
        note("graph.adamic_adar", f"capped(max_degree={max_degree})" if max_degree else "exact")
        return orig["adamic_adar"](edges, top_n=top_n, max_degree=max_degree)

    wrappers = {"spread_scan": spread_scan, "input_bytes_below": input_bytes_below,
                "adamic_adar": adamic_adar}
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("ups_crossref_etl_spark"):
            continue
        for attr, fn in orig.items():
            if getattr(mod, attr, None) is fn:
                setattr(mod, attr, wrappers[attr])


def layer_metrics(tracer, passes, steps, log_dir, cpus, reference, lake, input_bytes):
    import tracing

    log = tracing.read_event_log(log_dir)
    first, last = passes[0]["spans"][0], passes[-1]["spans"][1]
    spans = tracer.spans[first:last]
    selft = tracer.self_times()
    jobs = tracing.jobs_by_group(log)
    n = len(passes)
    wall = sum(p["wall"] for p in passes)
    traced = sum(p["traced_s"] for p in passes)

    def per_pass(name, what):
        sel = [s for s in spans if s["name"] == name]
        if what == "s":
            return sum(selft[s["id"]] for s in sel) / n
        if what == "jobs":
            return sum(jobs.get(s["id"], 0) for s in sel) / n
        return len(sel) / n

    m = {k: v for k, v in steps.items() if k in PER_LAYER}
    m.update(tracing.exec_metrics(log, {s["id"] for s in spans}, traced, cpus))
    m["plans.build_s"] = per_pass("plans.build", "s")
    m["plans.build_jobs"] = per_pass("plans.build", "jobs")
    m["plans.collect_s"] = per_pass("plans.collect", "s")
    m["plans.collect_jobs"] = per_pass("plans.collect", "jobs")
    m["plans.result_rows"] = sum(s.get("rows", 0) for s in spans) / n
    both = m["plans.build_s"] + m["plans.collect_s"]
    m["plans.build_share"] = m["plans.build_s"] / both if both else 0.0
    m["engine.run_s"] = per_pass("engine.run", "s")
    m["engine.run_jobs"] = per_pass("engine.run", "jobs")
    for name in LAYER_SPANS.values():
        m[f"{name}_s"] = per_pass(name, "s")
        m[f"{name}_jobs"] = per_pass(name, "jobs")
        m[f"{name}_calls"] = per_pass(name, "calls")
    dash = [selft[s["id"]] for s in spans if s["name"] == "plans.analytics.dashboard"]
    m["plans.analytics.dashboard_s"] = statistics.median(dash) if dash else 0.0
    if lake is not None:
        n_files, size = lake_files(lake)
        m["sources.sinks.files_written"] = n_files
        m["sources.sinks.lake_bytes_per_input_byte"] = size / input_bytes
    out = {k: m.get(k, 0.0) for k in PER_LAYER}
    # over the operations the untraced pass has too; null without an
    # untraced run of the same code in this checkout
    top = [s for s in spans if s["parent"] is None and s.get("step") != "append"]
    out["trace.overhead_frac"] = wall / n / reference - 1.0 if reference else None
    out["trace.reconcile_frac"] = (sum(s["t1"] - s["t0"] for s in top) / n / reference - 1.0
                                   if reference else None)
    return out


if __name__ == "__main__":
    sys.exit(main())
