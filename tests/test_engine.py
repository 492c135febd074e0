"""End-to-end facade: fresh run, incremental re-run, charts, run audit."""

from __future__ import annotations

import json
import os
import tempfile

from ups_crossref_etl_spark.engine import Engine
from ups_crossref_etl_spark.fixtures import make_works


def _write_jsonl(items, path):
    with open(path, "w") as f:
        for it in items:
            f.write(json.dumps(it) + "\n")


def test_engine_end_to_end_and_incremental(spark):
    items = make_works()
    with tempfile.TemporaryDirectory() as td:
        w1 = os.path.join(td, "w1.jsonl")
        w2 = os.path.join(td, "w2.jsonl")
        _write_jsonl(items[:120], w1)
        _write_jsonl(items, w2)  # superset → only new works append
        lake = os.path.join(td, "lake")

        # the ETL path materialises only by local checkpoints: no run may
        # leave a persisted or cached DataFrame behind in the session
        spark.catalog.clearCache()
        cache_manager = spark._jsparkSession.sharedState().cacheManager()

        eng = Engine(spark)
        vista1 = eng.run(works_jsonl=w1, lake_root=lake)
        assert cache_manager.isEmpty()
        n1 = vista1.count()
        assert n1 > 0
        assert os.path.exists(os.path.join(lake, "obras"))
        assert eng.publications_per_year().count() > 0

        vista2 = eng.run(works_jsonl=w2, lake_root=lake)  # incremental
        assert cache_manager.isEmpty()
        n2 = vista2.count()
        assert n2 >= n1

        # third run with identical input: no growth (idempotence)
        vista3 = eng.run(works_jsonl=w2, lake_root=lake)
        assert vista3.count() == n2

        runs = eng.runs(lake).collect()
        assert {r["RunID"] for r in runs} == {1, 2, 3}
        assert all(r["EndedAt"] is not None for r in runs)

        # SQL surface registered
        assert eng.sql("SELECT count(*) AS n FROM vista_analisis").first()["n"] == n2
        # year partition layout on vista
        assert any(
            d.startswith("Anio=")
            for d in os.listdir(os.path.join(lake, "vista_analisis"))
        )


def test_cli_corpus_subcommand(spark, sf_dir, tmp_path):
    """`python -m ups_crossref_etl_spark corpus` end to end: clean + split
    + pack over the real documents parquet, partitioned output, JSON
    report line."""
    import json

    from ups_crossref_etl_spark.__main__ import main

    out = str(tmp_path / "clean")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        main([
            "corpus", "--docs", f"{sf_dir}/documents.parquet", "--out", out,
            "--dedup", "transitive", "--split", "--pack", "2048",
        ])
    report = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert report["output_docs"] > 0
    assert report["output_docs"] <= report["input_docs"]
    got = spark.read.parquet(out)
    assert {"split", "pack_bin", "n_tok"} <= set(got.columns)
    assert {r["split"] for r in got.select("split").distinct().collect()} <= {
        "train", "val", "test"
    }
