"""High-level facade — the one-object API a reference user switches to.

The reference is a single script run end-to-end (`python
barrazueta_pipeline_etl_crossref.py` → SQLite file). The equivalent here:

    from ups_crossref_etl_spark.engine import Engine

    eng = Engine()                                # builds the session
    eng.run(works_jsonl="works.jsonl",            # EP1+EP2+EP3 (+K10 audit)
            lake_root="/data/ups_lake")
    eng.publications_per_year().show()            # EP4 charts
    eng.sql("SELECT * FROM vista_analisis WHERE Anio = 2024")

Re-running ``run`` against the same lake is incremental and idempotent
(plans/incremental.py), mirroring the reference's documented multi-run
operation. ``python -m ups_crossref_etl_spark`` wraps this in a CLI.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .plans import analytics, flatview
from .plans.incremental import append_batch
from .plans.ingest import ingest
from .plans.runs import current_runs, finish_run, start_run
from .schemas import runs_schema
from .session import get_spark
from .sources import sinks
from .sources.catalog import read_catalog_csv, seed_catalog
from .sources.crossref import read_works_fixtures

TABLES = ("obras", "obra_tema", "autores", "afiliaciones", "obra_autor_afiliacion")


class Engine:
    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        self._vista: DataFrame | None = None

    # -- lake I/O -----------------------------------------------------------

    def _lake_exists(self, lake_root: str) -> bool:
        return os.path.exists(os.path.join(lake_root, "obras"))

    def load_lake(self, lake_root: str) -> dict[str, DataFrame]:
        return {t: self.spark.read.parquet(os.path.join(lake_root, t)) for t in TABLES}

    # -- the end-to-end run (reference __main__ equivalent) -----------------

    def run(
        self,
        works_jsonl: str | None = None,
        works_raw: DataFrame | None = None,
        catalog_csv: str | None = None,
        lake_root: str = "./ups_lake",
        max_works: int | None = None,
    ) -> DataFrame:
        """Ingest → catalog labeling → cleanup/flat view → write lake.
        Returns ``vista_analisis``. Incremental when the lake exists."""
        if works_raw is None:
            if works_jsonl is None:
                raise ValueError("pass works_jsonl or works_raw")
            works_raw = read_works_fixtures(self.spark, works_jsonl)
        catalog = (
            read_catalog_csv(self.spark, catalog_csv)
            if catalog_csv
            else seed_catalog(self.spark)
        )

        run_row = start_run(self.spark, run_id=self._next_run_id(lake_root),
                            query_params={"source": works_jsonl or "dataframe"})

        if self._lake_exists(lake_root):
            existing = self.load_lake(lake_root)
            tables = append_batch(self.spark, existing, works_raw, catalog)
        else:
            tables = ingest(self.spark, works_raw, catalog, max_works=max_works)

        # materialize BEFORE overwriting the lake we may be reading from
        tables = {k: v.localCheckpoint() for k, v in tables.items()}
        vista = flatview.build_vista_analisis(
            flatview.clean_tables(tables),
            catalog.select("SedeID", "Sede", "AreaAcademica"),
        )

        sinks.write_lake(self.spark, {**tables, "vista_analisis": vista}, lake_root)
        n = tables["obras"].count()
        done = finish_run(run_row, cursor_fin=None, rows_ingested=n, notes="ok")
        sinks.write_table(done, os.path.join(lake_root, "runs"), mode="append")

        self._vista = vista
        analytics.register_views(self.spark, vista)
        return vista

    def _next_run_id(self, lake_root: str) -> int:
        p = os.path.join(lake_root, "runs")
        if not os.path.exists(p):
            return 1
        import pyspark.sql.functions as F

        prev = self.spark.read.schema(runs_schema).parquet(p)
        mx = prev.agg(F.max("RunID").alias("m")).first()["m"]
        return int(mx or 0) + 1

    # -- EP4 analytics ------------------------------------------------------

    def vista(self) -> DataFrame:
        if self._vista is None:
            raise RuntimeError("run() first (or load a lake and set vista)")
        return self._vista

    def publications_per_year(self) -> DataFrame:
        return analytics.publications_per_year(self.vista())

    def publications_per_country(self) -> DataFrame:
        return analytics.publications_per_country(self.vista())

    def publications_per_area(self) -> DataFrame:
        return analytics.publications_per_area(self.vista())

    def filtered(self, **kw) -> DataFrame:
        return analytics.apply_dashboard_filters(self.vista(), **kw)

    def runs(self, lake_root: str) -> DataFrame:
        return current_runs(
            self.spark.read.schema(runs_schema).parquet(os.path.join(lake_root, "runs"))
        )

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)
