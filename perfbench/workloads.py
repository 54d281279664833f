"""The benchmark's workloads.

Each workload builds its inputs from the seed (``setup``), runs one
operation (``op``, the timed region), and checks the outputs
(``check``, untimed). The traced run wraps the same
operation in spans (``trace_patches``) and then reads per-layer
numbers from the spans and Spark's status store (``layer_metrics``).
The load is a closed loop with one caller: the next operation starts
only when the previous one returned, as a CLI user or a scheduler task
waits for each run.
"""

from __future__ import annotations

import os
import shutil
import time

import fixtures as fx
from checks import check_apply, check_dedup_pairs, check_report, compare_frames

AWS_ACCOUNT_ID = "123456789012"  # explicit: never resolve via STS / instance metadata


# ---------------------------------------------------------------------------
# cli_alter
# ---------------------------------------------------------------------------

CLI_TABLES = 25

# (module, attribute, span) wrapped in the traced run; run_alterator
# imports each of these inside its body, so the wrappers take effect
CLI_SPANS = (
    ("easy_alterator_spark.cli", "run_alterator", "cli.run_alterator"),
    ("easy_alterator_spark.files", "filter_ddl_files", "files.filter_ddl_files"),
    ("easy_alterator_spark.ddl.parser", "read_ddl_corpus", "ddl.parser.read_ddl_corpus"),
    ("easy_alterator_spark.ddl.parser", "parse_ddl_corpus", "ddl.parser.parse_ddl_corpus"),
    ("easy_alterator_spark.diff.catalog", "snapshot_catalog", "diff.catalog.snapshot_catalog"),
    (
        "easy_alterator_spark.diff.iceberg_metadata",
        "read_metadata_files",
        "diff.iceberg_metadata.read_metadata_files",
    ),
    ("easy_alterator_spark.diff", "hive_diff", "diff.hive.hive_diff"),
    ("easy_alterator_spark.diff", "iceberg_diff", "diff.iceberg.iceberg_diff"),
    ("easy_alterator_spark.diff", "build_report", "diff.report.build_report"),
    ("easy_alterator_spark.diff.catalog", "table_version", "diff.catalog.table_version"),
    ("easy_alterator_spark.diff.catalog", "apply_statements", "diff.catalog.apply_statements"),
    ("easy_alterator_spark.ddl.render", "hive_alter_statements", "ddl.render"),
    ("easy_alterator_spark.ddl.render", "iceberg_alter_statements", "ddl.render"),
)
# spans whose Spark jobs / stages / tasks are reported
CLI_JOB_SPANS = (
    "ddl.parser.read_ddl_corpus",
    "ddl.parser.parse_ddl_corpus",
    "diff.catalog.snapshot_catalog",
    "diff.hive.hive_diff",
    "diff.iceberg.iceberg_diff",
    "diff.report.build_report",
    "cli.run_alterator",
)


class CliAlter:
    """``cli.run_alterator`` in apply mode over a seeded DDL corpus,
    against a live session catalog of matching tables."""

    name = "cli_alter"
    # every CLI invocation is a fresh process: the op is timed once,
    # cold; a repeat would run warm, which no CLI user sees
    warmups = 0
    repeat = False

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed

    def setup(self, spark, k: int) -> None:
        # a fresh database per set-up: table locations of an earlier
        # set-up stay on disk after the session catalog is dropped
        self.db = f"perfbench_cli_alter_{k}"
        self.ddl_dir = os.path.join(self.work, f"ddl{k}")
        meta_dir = os.path.join(self.work, f"meta{k}")
        os.makedirs(meta_dir)
        self.plan = fx.cli_corpus(self.db, CLI_TABLES, self.seed)
        fx.write_cli_ddl(self.plan, self.ddl_dir)
        spark.sql(f"CREATE DATABASE {self.db}")
        for e in self.plan:
            fx.create_catalog_table(spark, e, meta_dir)

    def attempted(self) -> int:
        return len(self.plan)

    def op(self, spark, tracer=None) -> None:
        # traced runs get their spans from trace_patches
        from easy_alterator_spark.cli import run_alterator

        self.report = run_alterator(
            spark, [self.ddl_dir], validate=False, aws_account_id=AWS_ACCOUNT_ID
        )

    def check(self, spark) -> tuple[list[str], int]:
        """(failure messages, failed ops); an op is one table."""
        fails = check_report(self.plan, self.report) + check_apply(self.plan, self.report)
        fails += self.fixpoint(spark)
        failed_tables = {m.split(":", 1)[0] for m in fails}
        return fails, min(len(self.plan), len(failed_tables))

    def fixpoint(self, spark) -> list[str]:
        """After the apply every altered Hive table's live schema, as the
        program's own snapshot reads it, must equal its DDL."""
        from easy_alterator_spark.diff.catalog import snapshot_catalog

        altered = {e["table"]: e for e in self.plan if e["expect"]["outcome"] == "success"}
        cat_cols, _ = snapshot_catalog(spark, sorted(altered))
        live: dict[str, list] = {}
        for r in cat_cols.filter("NOT is_partition").orderBy("table_name", "position").collect():
            live.setdefault(r["table_name"], []).append((r["name"], r["type"]))
        return [
            f"{t}: after apply the catalog has {live.get(t)}"
            for t, e in altered.items()
            if live.get(t) != [(c, ty) for c, ty in e["ddl_cols"]]
        ]

    def trace_patches(self, tracer) -> None:
        from pyspark.sql import SparkSession
        from pyspark.sql.catalog import Catalog

        for mod, attr, span in CLI_SPANS:
            tracer.patch(mod, attr, span)
        for attr in ("tableExists", "listColumns"):
            tracer.count_calls(Catalog, attr, lambda a: "spark.catalog_calls")

        def sql_kind(args):
            stmt = str(args[1]).lstrip().upper() if len(args) > 1 else ""
            if stmt.startswith("DESCRIBE"):
                return "spark.sql_describe"
            if stmt.startswith("ALTER"):
                return "spark.sql_alter"
            return None

        tracer.count_calls(SparkSession, "sql", sql_kind)

    def layer_metrics(self, tracer, spark) -> dict[str, float]:
        tot = tracer.totals()
        m: dict[str, float] = {}
        for span in {s for _, _, s in CLI_SPANS}:
            if span in tot:
                m[span + "_s"] = tot[span]["s"]
        if "cli.run_alterator" in tot:
            m["cli.run_alterator_self_s"] = tot["cli.run_alterator"]["self_s"]
        snap = tot.get("diff.catalog.snapshot_catalog")
        if snap:
            m["diff.catalog.snapshot_ms_per_table"] = 1000 * snap["s"] / len(self.plan)
        m["diff.catalog.table_version_calls"] = tot.get("diff.catalog.table_version", {}).get("calls", 0)
        for span in CLI_JOB_SPANS:
            stats = tracer.job_stats(tot.get(span, {}).get("jobs", []))
            for k in ("jobs", "stages", "tasks"):
                m[f"{span}.{k}"] = stats[k]
        for k in ("spark.catalog_calls", "spark.sql_describe", "spark.sql_alter"):
            m[k] = tracer.counters.get(k, 0)
        return m


# ---------------------------------------------------------------------------
# query workloads
# ---------------------------------------------------------------------------


# (label, registered query, input): input ``sf`` is the sf0.1-shaped
# table set, ``genh`` the high-entropy documents
QUERY_MIX_RUNS = (
    ("eval_mcc", "eval_mcc", "sf"),
    ("events_funnel", "events_funnel", "sf"),
    ("text_pmi_pairs", "text_pmi_pairs", "sf"),
    ("dedup_floor", "dedup_minhash_lsh", "sf"),
    ("dedup_genh", "dedup_minhash_lsh", "genh"),
    ("pipeline", "pipeline_training_corpus", "sf"),
)
# runs profiled layer by layer (execute / transfer / stages) when traced
HEAVY_LABELS = ("dedup_floor", "dedup_genh", "pipeline")


class QueryMix:
    """One pass over ``QUERY_MIX_RUNS``, each query built and fetched
    with ``.toPandas()``."""

    # queries run in a long-lived session: two untimed passes first (the
    # second pass is still ~10% slower than later ones while the JIT
    # settles), then passes until the run's time is up
    warmups = 2
    repeat = True

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed

    def setup(self, spark, k: int) -> None:
        from easy_alterator_spark.queries import load_all

        load_all()
        self.dirs = {src: os.path.join(self.work, f"{src}{k}") for src in ("sf", "genh")}
        fx.write_star_schema(self.dirs["sf"], self.seed)
        fx.write_genh_documents(self.dirs["genh"], self.seed)

    def attempted(self) -> int:
        return len(QUERY_MIX_RUNS)

    def op(self, spark, tracer=None) -> None:
        from contextlib import nullcontext

        from easy_alterator_spark.queries import QUERIES

        span = tracer.span if tracer else (lambda _n: nullcontext())
        self.results, self.frames = {}, {}
        for label, qname, src in QUERY_MIX_RUNS:
            with span(f"queries.{qname}.build"):
                df = QUERIES[qname](spark, self.dirs[src])
            with span(f"{label}.collect"):
                self.results[label] = df.toPandas()
            self.frames[label] = df

    def check(self, spark) -> tuple[list[str], int]:
        import duckdb
        import pandas as pd

        from easy_alterator_spark.queries import ORACLES

        fails: list[str] = []
        cons = {}
        for label, qname, src in QUERY_MIX_RUNS:
            got = self.results[label]
            if qname == "dedup_minhash_lsh":
                docs = pd.read_parquet(os.path.join(self.dirs[src], "documents.parquet"))
                fails += check_dedup_pairs(label, got, docs, threshold=0.9)
                continue
            if src not in cons:
                cons[src] = duckdb.connect()
                for f in os.listdir(self.dirs[src]):
                    path = os.path.join(self.dirs[src], f)
                    cons[src].execute(
                        f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM read_parquet('{path}')"
                    )
            fails += compare_frames(label, got, cons[src].execute(ORACLES[qname]).df())
        for con in cons.values():
            con.close()
        failed = {m.split(":", 1)[0] for m in fails}
        return fails, len(failed)

    def trace_patches(self, tracer) -> None:
        """Nothing to patch: op() opens the spans itself."""

    def layer_metrics(self, tracer, spark) -> dict[str, float]:
        tot = tracer.totals()
        builds = {s: t for s, t in tot.items() if s.startswith("queries.") and s.endswith(".build")}
        m = {s + "_s": t["s"] for s, t in builds.items()}
        m["queries.build_s"] = sum(t["s"] for t in builds.values())
        m["queries.build_jobs"] = sum(len(t["jobs"]) for t in builds.values())
        catalyst = 0.0
        for df in self.frames.values():
            phases = df._jdf.queryExecution().tracker().phases()
            for p in ("analysis", "optimization", "planning"):
                o = phases.get(p)
                if o.isDefined():
                    catalyst += o.get().durationMs() / 1000
        m["catalyst_s"] = catalyst
        # execution vs transfer: one more (warm) noop-sink execution and
        # one more toPandas for the profiled runs, outside the timed op
        from easy_alterator_spark.queries import QUERIES

        for label, qname, src in QUERY_MIX_RUNS:
            if label not in HEAVY_LABELS:
                continue
            stats = tracer.job_stats(tot[f"{label}.collect"]["jobs"], skew=True)
            for k, v in stats.items():
                m[f"{label}.{k}"] = v
            m[f"{label}.output_rows"] = len(self.results[label])
            df = QUERIES[qname](spark, self.dirs[src])
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            QUERIES[qname](spark, self.dirs[src]).toPandas()
            t2 = time.perf_counter()
            m[f"{label}.execute_s"] = t1 - t0
            m[f"{label}.transfer_s"] = (t2 - t1) - (t1 - t0)
        return m



def make(name: str, work: str, seed: int):
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    return {"cli_alter": CliAlter, "query_mix": QueryMix}[name](work, seed)
