"""Write ``perfbench/expected_queries.json``: row count and order-insensitive
hash of every ``query_boundary`` result on the committed lake.

    python3 perfbench/make_expected.py

Run from the repository root. Gated queries take their rows from the
registered DuckDB oracle (``__spark_entry__.oracle_sql``); the one query
without an oracle, ``q_emb_semantic_dedup``, takes the engine's output at the
commit that wrote the file. The engine's result for every query is computed
too and must match, so a file is only written when engine and oracle agree.
Rows are compared as ``tools/check_queries.py`` compares them.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tools")]
os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])

import check_queries as cq  # noqa: E402

import run  # noqa: E402


def main() -> int:
    import __spark_entry__ as entry
    from ups_crossref_etl_spark.plans.registry import load_all
    from ups_crossref_etl_spark.session import get_spark
    from ups_crossref_etl_spark.sources.lake import assert_testdata_shape

    assert_testdata_shape(run.LAKE)
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench-expected", master=f"local[{cpus}]", shuffle_partitions=cpus)
    registry, oracles = load_all(), entry.oracle_sql()
    con = cq.duck_con(run.LAKE)
    out, bad = {}, []
    for name in run.BOUNDARY:
        df = registry[name].fn(spark, run.LAKE)
        got = run.digest(df.columns, [tuple(r) for r in df.collect()])
        if name in oracles:
            res = con.execute(oracles[name])
            want = run.digest([d[0] for d in res.description], res.fetchall())
            source = "duckdb oracle"
        else:
            want, source = got, "engine output"
        if got != want:
            bad.append(name)
        out[name] = {**want, "source": source}
        print(f"{'ok' if got == want else 'MISMATCH':8s} {name}: {want['rows']} rows ({source})")
    spark.stop()
    if bad:
        print(f"engine and oracle disagree on {bad}; nothing written", file=sys.stderr)
        return 1
    with open(run.EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
