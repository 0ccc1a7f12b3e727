"""User-facing facade: one object that makes the repo a complete,
standalone engine for someone switching from the reference pipeline.

    from patientdataintegration_spark.engine import Engine

    eng = Engine(data_dir="/root/testdata/sf0.01")
    eng.table("orders")                  # catalog DataFrame
    eng.sql("SELECT count(*) FROM lineitem")   # SQL over the same catalog
    eng.run("q45_full_pipeline")         # any named suite query
    eng.explain("q04_auroc")             # its physical plan
    eng.names()                          # every available query

The reference's entry points map directly: `Experiment()`'s ETL
stage is `run("q45_full_pipeline")`'s first half, the notebook's
evaluation queries are q02-q05/q16-q17, and the per-experiment
config loop (`run_experiments.py:11-17`) becomes parameterized
`run()` calls on one long-lived SparkSession instead of one OS
process per experiment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from patientdataintegration_spark.session import build_session
from patientdataintegration_spark.sources.catalog import TABLES, load_table, register_views


class Engine:
    def __init__(
        self,
        data_dir: str,
        spark: SparkSession | None = None,
        app_name: str = "pdi-engine",
    ) -> None:
        self.spark = spark or build_session(app_name)
        self.data_dir = data_dir
        self._views_registered = False

    # --- catalog -----------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.data_dir, name)

    def tables(self) -> tuple[str, ...]:
        return TABLES

    # --- SQL ---------------------------------------------------------------
    def sql(self, query: str) -> DataFrame:
        if not self._views_registered:
            register_views(self.spark, self.data_dir)
            self._views_registered = True
        return self.spark.sql(query)

    # --- named query suite -------------------------------------------------
    def names(self) -> list[str]:
        from patientdataintegration_spark.suite import QUERIES

        return sorted(QUERIES)

    def run(self, name: str) -> DataFrame:
        from patientdataintegration_spark.suite import QUERIES

        if name not in QUERIES:
            raise KeyError(f"unknown query {name!r}; see names()")
        return QUERIES[name](self.spark, self.data_dir)

    def oracle_sql(self, name: str) -> str:
        """The lane's DuckDB-runnable twin (every lane carries one)."""
        from patientdataintegration_spark.suite import ORACLES

        return ORACLES[name]

    def explain(self, name: str, mode: str = "formatted") -> str:
        from patientdataintegration_spark.plans.inspect import explain_str

        return explain_str(self.run(name), mode)

    def verify(self, name: str) -> dict:
        """Run `name` on Spark AND its ANSI-SQL oracle twin on DuckDB
        over the same parquet, comparing rows/schema/values — the
        migration-trust check as a library call. Returns {name, rows,
        match, problems}."""
        from patientdataintegration_spark.verify import verify_query

        return verify_query(self.spark, self.data_dir, name)

    # --- config/glob batch driver (S4) -------------------------------------
    def run_experiments(
        self, config_glob: str, repeats: int = 1
    ) -> dict[str, list[DataFrame]]:
        """S4 (`run_experiments.py:11-17`): the reference globs
        per-experiment YAML configs and launches one OS process per
        config x repeat; here each config is a small JSON/key=value
        file naming a suite query (plus optional `data_dir`), and
        every experiment runs as a job on THIS long-lived
        SparkSession — scans, broadcast state and the JIT-warmed
        executors are shared across the whole sweep instead of paying
        a cold JVM per experiment.

        Config format (JSON object, or `key=value` lines for a
        yaml-lite without a parser dependency):
            {"query": "q45_full_pipeline", "data_dir": "..."}
        Returns {config_path: [result DataFrame per repeat]} — lazy
        frames; callers trigger execution (`.collect`, writers).
        """
        import glob as _glob
        import json

        paths = sorted(_glob.glob(config_glob))
        if not paths:
            raise FileNotFoundError(f"no configs match {config_glob!r}")
        results: dict[str, list[DataFrame]] = {}
        for path in paths:
            with open(path) as fh:
                text = fh.read()
            try:
                cfg = json.loads(text)
            except json.JSONDecodeError:
                cfg = {}
                for line in text.splitlines():
                    line = line.strip()
                    if line and not line.startswith("#") and ("=" in line or ":" in line):
                        k, _, v = (
                            line.partition("=") if "=" in line else line.partition(":")
                        )
                        cfg[k.strip()] = v.strip()
            if "query" not in cfg:
                raise KeyError(f"{path}: config missing 'query'")
            data_dir = cfg.get("data_dir", self.data_dir)
            from patientdataintegration_spark.suite import QUERIES

            name = cfg["query"]
            if name not in QUERIES:
                raise KeyError(f"{path}: unknown query {name!r}")
            results[path] = [
                QUERIES[name](self.spark, data_dir) for _ in range(int(repeats))
            ]
        return results

    def results_overview(
        self, results: dict[str, list[DataFrame]], out_path: str | None = None
    ) -> DataFrame:
        """K3 (`main.py:51` overview_results_finals.csv): one long
        relation over an experiment sweep — every result row tagged
        with (config, repeat) provenance, columns conformed by name
        across heterogeneous queries (missing ones null), optionally
        sunk to CSV. The union is plan-level; nothing materializes on
        the driver."""
        from pyspark.sql import functions as F

        tagged = []
        for path, frames in results.items():
            for i, df in enumerate(frames):
                tagged.append(
                    df.select(
                        F.lit(path).alias("config"),
                        F.lit(i).alias("repeat"),
                        *[F.col(c).cast("string").alias(c) for c in df.columns],
                    )
                )
        out = tagged[0]
        for df in tagged[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        if out_path is not None:
            from patientdataintegration_spark.sources.csv_io import write_csv

            write_csv(out, out_path, single_file=True)
        return out
