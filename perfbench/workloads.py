"""The benchmark's workloads and the op runner they share.

An op is ``(name, layer, fn)``: ``fn(ctx)`` makes the lazy product (a
DataFrame, a zero-argument ``finish`` callable for eager work such as
collect-then-BH or model evaluation, or ``None`` when the call itself did
the work) and the runner forces it. Untraced, ``ctx.call`` is a plain call;
in the traced pass it opens a child span and forces and persists the
layer's product at the span boundary.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

from pyspark.sql import DataFrame

import datagen

#: Analytics queries and the layer of their main operator.
ANALYTICS = {
    "categorized_summary_fast": "summarize",
    "pricing_summary": "summarize",
    "join_star_revenue": "summarize",
    "quality_report_lineitem": "quality",
    "window_customer_order_rank": "summarize",
    "mann_whitney_click_vs_view": "stats",
    "anova_totalprice_by_priority": "stats",
    "kaplan_meier_signup_to_purchase": "stats",
    "events_sessionization": "summarize",
}
ANALYTICS_TABLES = ["lineitem", "orders", "customer", "nation", "region", "events"]

#: data seed of the analytics tables (the engine's test data uses 42)
DATA_SEED = 42
#: half of sf0.1 (300k lineitem, 75k orders, 50k events): at sf0.1 one run
#: takes ~63 s on 4 cores, too long for a 3,420 s round of 48 runs
ANALYTICS_SF = 0.05


class Ctx:
    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer

    def call(self, layer: str, name: str, fn):
        """Call into ``layer``. Traced, the product is persisted and forced
        inside the span."""
        if self.tracer is None:
            return fn()
        with self.tracer.span(name, layer) as rec:
            t0 = time.monotonic()
            product = fn()
            rec["build_s"] = time.monotonic() - t0 - rec["child_s"]
            if isinstance(product, DataFrame):
                product = product.persist()
                t1 = time.monotonic()
                _noop(product)
                rec["exec_s"] = time.monotonic() - t1
        return product

    def count_rows(self, df: DataFrame, key: str) -> DataFrame:
        """Traced, count the rows flowing through ``df`` into the current
        span's ``key`` with an observation (no extra job)."""
        if self.tracer is None:
            return df
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(f"{key}_{len(self.tracer.spans)}")
        self.tracer.current()[key] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("n"))


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def force(product, collect: bool):
    if isinstance(product, DataFrame):
        if collect:
            return product.toPandas()
        _noop(product)
        return None
    if callable(product):
        return product()
    return product


def run_op(ctx: Ctx, name: str, layer: str, fn, collect: bool = False):
    """Build and force one op; returns (seconds, output). Cache release
    happens after the clock stops, as in the repository's bench runner."""
    span = ctx.tracer.span(name, layer) if ctx.tracer else nullcontext()
    product = None
    try:
        with span as rec:
            t0 = time.monotonic()
            product = fn(ctx)
            t1 = time.monotonic()
            build_child = rec["child_s"] if rec is not None else 0.0
            out = force(product, collect)
            t2 = time.monotonic()
            if rec is not None:
                # child spans may run in either phase (a finish that publishes)
                rec["build_s"] = t1 - t0 - build_child
                rec["exec_s"] = t2 - t1 - (rec["child_s"] - build_child)
                for key in ("rows_in", "rows_out"):
                    if key in rec:
                        rec[key] = rec[key].get["n"]
        return t2 - t0, out
    finally:
        for c in getattr(product, "_stage_caches", None) or []:
            c.unpersist()
        ctx.spark.catalog.clearCache()


class QueryWorkload:
    """Registered queries checked against their DuckDB oracles.

    The tables come from the fixed ``DATA_SEED``, like the engine's own
    sf0.1 test data; the run's seed permutes the query order of each pass.
    Oracle results depend only on the input bytes and the oracle SQL, so
    they are cached under ``.perfbench_cache/`` in the checkout (the
    near-duplicate oracle alone takes ~40 s in DuckDB)."""

    permute = True

    def __init__(self, name: str, queries: dict[str, str], tables: list[str], sf: float,
                 cache_dir: str):
        self.name = name
        self.queries = queries
        self.tables = tables
        self.sf = sf
        self.cache_dir = cache_dir

    def generate(self, out_dir: str, seed: int) -> None:
        self.sf_dir = out_dir
        datagen.write_star_schema(out_dir, DATA_SEED, self.sf, self.tables)

    def ops(self):
        from azure_medicine_data_engineering_spark.queries import (  # noqa: F401
            events, medstats, quality, relational,
        )
        from azure_medicine_data_engineering_spark.queries.registry import QUERIES

        return [(q, layer, self._query_fn(QUERIES[q])) for q, layer in self.queries.items()]

    def _query_fn(self, q):
        return lambda ctx: q(ctx.spark, self.sf_dir)

    def before_pass(self, spark, tag: str) -> None:
        pass

    def after_pass(self, spark, tag: str) -> list[str]:
        return []

    def published_bytes(self, tag: str) -> tuple[int, int]:
        return 0, 0

    def _oracle(self, con, query: str, sql: str):
        import hashlib

        import pandas as pd

        h = hashlib.sha256(sql.encode())
        for t in self.tables:
            with open(os.path.join(self.sf_dir, f"{t}.parquet"), "rb") as fh:
                h.update(fh.read())
        path = os.path.join(self.cache_dir, f"{query}-{h.hexdigest()[:24]}.parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        df = con.sql(sql).df()
        os.makedirs(self.cache_dir, exist_ok=True)
        df.to_parquet(path + ".tmp")
        os.replace(path + ".tmp", path)
        return pd.read_parquet(path)

    def check(self, outputs: dict) -> list[str]:
        """Every query's collected result against its oracle, compared with
        the canon of ``tools/check_correctness.py``."""
        import duckdb

        from azure_medicine_data_engineering_spark.queries.registry import ORACLES
        from tools.check_correctness import compare

        con = duckdb.connect()
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        errs = []
        for q, pdf in outputs.items():
            res = compare(pdf, self._oracle(con, q, ORACLES[q]))
            if not (res["rows"] and res["schema"] and res["values_exact"]):
                errs.append(f"{q}: oracle mismatch {res.get('detail', res)}")
        con.close()
        return errs


class ClinicalWorkload:
    """The clinical pipeline over three generated CSV cohorts."""

    name = "clinical_pipeline"
    permute = False

    def __init__(self, work_dir: str):
        self.work_dir = work_dir

    def generate(self, out_dir: str, seed: int) -> None:
        from clinical import Clinical

        cohorts = datagen.write_clinical(out_dir, seed)
        self.clinical = Clinical(cohorts, out_dir, seed)

    def ops(self):
        return self.clinical.ops()

    def _db(self, tag: str) -> str:
        return f"bench_{tag}"

    def before_pass(self, spark, tag: str) -> None:
        """A fresh database (its own warehouse directory) per pass, so the
        catalog's append history never grows from pass to pass."""
        loc = os.path.join(self.work_dir, "warehouse", tag)
        spark.sql(f"CREATE DATABASE {self._db(tag)} LOCATION '{loc}'")
        spark.catalog.setCurrentDatabase(self._db(tag))

    def after_pass(self, spark, tag: str) -> list[str]:
        spark.catalog.setCurrentDatabase("default")
        errs = self.clinical.check_published(spark, self._db(tag))
        spark.sql(f"DROP DATABASE IF EXISTS {self._db(tag)} CASCADE")
        shutil.rmtree(os.path.join(self.work_dir, "warehouse", tag), ignore_errors=True)
        return errs

    def published_bytes(self, tag: str) -> tuple[int, int]:
        """(data files, bytes) the pass wrote to its warehouse."""
        files = size = 0
        for root, _, names in os.walk(os.path.join(self.work_dir, "warehouse", tag)):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        return files, size

    def check(self, outputs: dict) -> list[str]:
        errs = []
        for name, out in outputs.items():
            errs += self.clinical.check(name, out)
        return errs


def make(name: str, work_dir: str, cache_dir: str):
    if name == "clinical_pipeline":
        return ClinicalWorkload(work_dir)
    if name == "lineitem_analytics":
        return QueryWorkload(name, ANALYTICS, ANALYTICS_TABLES, ANALYTICS_SF, cache_dir)
    raise ValueError(f"unknown workload {name!r}")
