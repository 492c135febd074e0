"""Isolation harness: time individual queries with the noop sink
(guide §1.4 — computation only, no result serialization to the driver) and
dump their .explain('formatted') to plans/<subdir>/<query>_<tag>.txt.

Usage:
    python tools/isolate.py <subdir> <tag> <query> [query ...]
    python tools/isolate.py --time-only <subdir> <tag> <query> [...]
    python tools/isolate.py --plans-only <subdir> <tag> <query> [...]

``subdir`` names the directory under plans/ (e.g. 'r14'); it also labels
the Spark jobs.

``tag`` is 'before' or 'after' (anything else works too, e.g. 'probe').
Prints one JSON line {query: {"noop_s": best-of-2, "collect_s": best-of-2}}.
The collect timing replicates bench.py methodology so numbers are
comparable with BENCH_LOCAL.json; the noop timing isolates compute.
Jobs are labelled (guide §1.5) so the UI/event log attributes time.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ups_crossref_etl_spark.plans.registry import load_all  # noqa: E402
from ups_crossref_etl_spark.session import get_spark  # noqa: E402


def best_of(run, n: int = 2) -> float:
    best = None
    for _ in range(n):
        t0 = time.time()
        run()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    return round(best, 3)


def main() -> None:
    args = sys.argv[1:]
    time_only = plans_only = False
    if args and args[0] == "--time-only":
        time_only = True
        args = args[1:]
    if args and args[0] == "--plans-only":
        plans_only = True
        args = args[1:]
    subdir, tag, names = args[0], args[1], args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", subdir,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("isolate")
    specs = load_all()
    # warmup: JVM/codegen/parquet-footer caches (same as bench.py)
    specs["q1_pricing_summary"].fn(spark, sf_dir).count()

    res: dict[str, dict[str, float]] = {}
    for name in names:
        fn = specs[name].fn
        entry: dict[str, float] = {}
        sc = spark.sparkContext
        if not time_only:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
                f.write(buf.getvalue())
        if plans_only:
            continue
        if name.startswith("q_stream_"):
            # streaming gates execute eagerly inside fn(); noop is moot
            sc.setJobDescription(f"{subdir} {name} collect")
            entry["collect_s"] = best_of(lambda: fn(spark, sf_dir).collect())
        else:
            sc.setJobDescription(f"{subdir} {name} noop")
            entry["noop_s"] = best_of(
                lambda: fn(spark, sf_dir)
                .write.format("noop").mode("overwrite").save()
            )
            sc.setJobDescription(f"{subdir} {name} collect")
            entry["collect_s"] = best_of(lambda: fn(spark, sf_dir).collect())
        sc.setJobDescription(None)
        res[name] = entry
        print(json.dumps({name: entry}), flush=True)
    print("RESULT " + json.dumps(res))


if __name__ == "__main__":
    main()
