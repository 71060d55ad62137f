"""The benchmark workloads.

Each workload is closed-loop from one driver thread: it runs one *step*
after another (a warehouse day, a catalog pass) until
the run's measuring time is used, then checks its outputs. Every call
into a package layer is wrapped in a span (a no-op when tracing is off),
named after the layer it enters, so the traced run can split each step
into layers without any change to the package.

- ``warehouse_daily``: reference entry point 1 (``marts.flow``) run over
  consecutive run dates into one ``LayeredWarehouse`` whose sales history
  was backfilled to ``HISTORY_DAYS`` days, plus ``reconcile.diff`` of
  today's sales slice against yesterday's. Bypasses ``llm``, ``streaming``,
  ``queries`` and the explicit Catalyst planning phase.
- ``catalog_sf01``: one pass over ``CATALOG_ROWS`` in a seed-permuted
  order, each row split into build / plan / execute. Bypasses ``sinks``
  (execute is a noop write), ``validators`` and ``core.pipeline``.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import shutil
import time

import gen
import numpy as np
from checks import oracle_matches, oracle_rows

# Input sizes. Small on purpose: a run must fit in under a minute on four
# cores, and every workload here is dominated by per-job driver overhead
# already at these sizes (see README.md).
WAREHOUSE_SF = 0.005
CATALOG_SF = 0.005
HISTORY_DAYS = 30
CHANGED_PER_DAY = 40
NEW_ORDERS_PER_DAY = 100

# Three of the ROADMAP item B heavy-build rows of bench.py's HEADLINE list
# (a frozen copy: the pass must not change when bench.py does): the
# heaviest one, the streaming micro-batches, and the two first candidates
# item B names, the composed k-means + IVF index and connected-components
# rounds. The full 70-row pass, or all eleven heavy rows, do not fit one
# run (README.md).
CATALOG_ROWS = (
    "doc_neardup_stream",
    "emb_ivf_kmeans_topk",
    "doc_dedup_clusters",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class Workload:
    """Common loop. ``prepare`` makes the inputs and returns the files the
    set-up warm-up reads; ``first`` runs untimed, untraced, before the
    measured steps; ``step(spark, tr, i)`` runs measured step ``i`` and
    returns the seconds it counts. Output checks run inside ``first``
    and ``step``, outside their timed regions."""

    name = ""

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.inputs = os.path.join(work, "inputs")
        self.out = os.path.join(work, "run", self.name)
        self.failures: list[str] = []
        self.attempted = 0
        self.extra: dict[str, float] = {}  # workload-specific per-layer values, summed over steps
        self.leaked = 0
        self.check_s = 0.0  # wall time spent in output checks

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def oracle_check(self, df, sql: str, sf_dir: str, what: str) -> None:
        """Hash-compare ``df`` with a DuckDB oracle; untimed."""
        t0 = time.perf_counter()
        self.attempted += 1
        if not oracle_matches(df, sql, sf_dir):
            self.fail(f"{what} differs from its oracle")
        self.check_s += time.perf_counter() - t0

    def add(self, key: str, value: float) -> None:
        self.extra[key] = self.extra.get(key, 0.0) + value

    def run(self, spark, tr, seconds: float) -> list[float]:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)
        tracing, tr.enabled = tr.enabled, False
        try:
            self.first(spark, tr)
        finally:
            tr.enabled = tracing
        self.extra, self.leaked = {}, 0
        steps: list[float] = []
        t_end = time.perf_counter() + seconds
        while not steps or time.perf_counter() < t_end:
            before = _persisted(spark)
            steps.append(self.step(spark, tr, len(steps) + 1))
            self.leaked += _persisted(spark) - before
            spark.catalog.clearCache()
        return steps


# --------------------------------------------------------------------------
# warehouse_daily


class _SpannedWarehouse:
    """A ``LayeredWarehouse`` whose sink calls open spans."""

    def __init__(self, wh, tr):
        self._wh, self._tr = wh, tr

    def write_raw(self, df, name):
        with self._tr.span("sinks.write_raw", "action", name):
            return self._wh.write_raw(df, name)

    def write_legacy(self, df, name, run_date):
        with self._tr.span("sinks.write_legacy", "action", name):
            return self._wh.write_legacy(df, name, run_date)

    def read_legacy(self, spark, name, run_date=None):
        with self._tr.span("sinks.read_legacy", "build", name):
            return self._wh.read_legacy(spark, name, run_date)


def _spanned(tr, name: str, fn, kind: str | None = None):
    def call(*a, **k):
        with tr.span(name, kind):
            return fn(*a, **k)

    return call


class WarehouseDaily(Workload):
    name = "warehouse_daily"
    # flow-module names wrapped in spans: (attribute, span, kind)
    FLOW_CALLS = (
        ("tpch_entities", "sources.read", "build"),
        ("validate_non_empty", "validators.check", "action"),
        ("validate_unique", "validators.check", "action"),
        ("dedupe_by_key", "operators.dedupe_by_key", "build"),
        ("build_supplier_performance", "marts.build", "build"),
        ("build_product_performance", "marts.build", "build"),
        ("build_customer_sales_report", "marts.build", "build"),
    )
    MART_TASKS = ("supplier_performance", "product_performance", "customer_sales_report")

    def prepare(self) -> list[str]:
        self.base = gen.tables(os.path.join(self.inputs, f"tpch-{WAREHOUSE_SF}-{self.seed}"), WAREHOUSE_SF, self.seed)
        return [os.path.join(self.base, f"{t}.parquet") for t in ("lineitem", "orders", "part", "customer", "supplier")]

    def day_dir(self, day: int) -> tuple[str, set]:
        if day == 0:
            return self.base, set()
        d = os.path.join(self.inputs, f"tpch-{WAREHOUSE_SF}-{self.seed}-day{day}")
        return d, gen.warehouse_day(self.base, d, day, self.seed, CHANGED_PER_DAY, NEW_ORDERS_PER_DAY)

    def run_date(self, day: int) -> dt.date:
        """Day 1, the first measured day, runs on ``marts.RUN_DATE``: the
        date the catalog's pipeline oracle is written for."""
        from sahithi_metamorph_etl_spark.marts import RUN_DATE

        return RUN_DATE + dt.timedelta(days=day - 1)

    def run(self, spark, tr, seconds):
        from sahithi_metamorph_etl_spark.marts import flow

        saved = {a: getattr(flow, a) for a, _, _ in self.FLOW_CALLS}
        for attr, span, kind in self.FLOW_CALLS:
            setattr(flow, attr, _spanned(tr, span, saved[attr], kind))
        try:
            return super().run(spark, tr, seconds)
        finally:
            for attr, fn in saved.items():
                setattr(flow, attr, fn)

    def _tasks(self, spark, tr, day: int, sf_dir: str):
        from sahithi_metamorph_etl_spark.marts import flow

        wh = _SpannedWarehouse(self.wh, tr)
        tasks = flow.metamorph_tasks(spark, sf_dir, wh, self.run_date(day))
        span_of = {t: f"marts.{t}" for t in self.MART_TASKS}
        return [dataclasses.replace(t, fn=_spanned(tr, span_of.get(t.name, "core.task"), t.fn)) for t in tasks]

    def first(self, spark, tr) -> None:
        """Day 0's sales only, through the package's own sales ingest task,
        then copied under the HISTORY_DAYS - 1 dates before it: the first
        measured day finds a month of sales history to reconcile against,
        list and prune."""
        from sahithi_metamorph_etl_spark.sinks.warehouse import LayeredWarehouse

        self.wh = LayeredWarehouse(os.path.join(self.out, "wh"))
        self.attempted += 1
        ingest_sales = next(t for t in self._tasks(spark, tr, 0, self.base) if t.name == "ingest_sales")
        ingest_sales.fn({})
        sales = os.path.join(self.wh.root, "legacy", "sales")
        src = os.path.join(sales, f"DAY_DT={self.run_date(0).isoformat()}")
        for back in range(1, HISTORY_DAYS):
            shutil.copytree(src, os.path.join(sales, f"DAY_DT={self.run_date(-back).isoformat()}"))

    def check_customer_mart(self, spark, sf_dir: str) -> None:
        from sahithi_metamorph_etl_spark.queries.catalog import all_oracles

        sql = all_oracles()["pipeline_customer_sales_report"]
        cols = oracle_rows(f"SELECT * FROM ({sql}) LIMIT 0", sf_dir)[0]
        out = self.wh.read_legacy(spark, "customer_sales_report", self.run_date(1)).select(*cols)
        self.oracle_check(out, sql, sf_dir, "day 1 customer_sales_report")

    def _files(self) -> dict[str, int]:
        out = {}
        for root, _, files in os.walk(self.wh.root):
            for f in files:
                if f.startswith("part-"):
                    p = os.path.join(root, f)
                    out[p] = os.path.getsize(p)
        return out

    def step(self, spark, tr, i: int) -> float:
        from sahithi_metamorph_etl_spark.core.pipeline import run_pipeline
        from sahithi_metamorph_etl_spark.reconcile.diff import diff

        day = i
        sf_dir, planted = self.day_dir(day)  # generated outside the timed region
        before = self._files() if tr.enabled else {}
        tr.request(f"{self.name}/day{day}")
        tasks = self._tasks(spark, tr, day, sf_dir)
        self.attempted += len(tasks) + 1
        t0 = time.perf_counter()
        with tr.span("step"):
            with tr.span("core.run_pipeline"):
                runs = run_pipeline(tasks, raise_on_failure=False)
            with tr.span("reconcile.diff"):
                with tr.span("reconcile.diff.build", "build"):
                    sales = lambda d: self.wh.read_legacy(spark, "sales", self.run_date(d)).drop("DAY_DT")  # noqa: E731
                    res = diff(sales(day - 1), sales(day), ["SALE_ID"])
                with tr.span("reconcile.diff.action", "action"):
                    cells = res.mismatched_cells.select("SALE_ID", "column_name").collect()
        elapsed = time.perf_counter() - t0
        for name, r in runs.items():
            if r.status != "success":
                self.fail(f"day {day}: task {name} {r.status}: {r.error!r}")
        self.add("core.task_attempts", sum(r.attempts for r in runs.values()))
        if day == 1:
            self.check_customer_mart(spark, sf_dir)
        found = {(r.SALE_ID, r.column_name) for r in cells}
        if found != planted:
            self.fail(f"day {day}: reconcile found {len(found)} cells, {len(planted)} planted, {len(found ^ planted)} differ")
        self.add("reconcile.mismatched_cells", len(found))
        if tr.enabled:
            after = self._files()
            new = {p: s for p, s in after.items() if before.get(p) != s}
            self.add("sinks.files_written", len(new))
            self.add("sinks.bytes_written", sum(new.values()))
        return elapsed


# --------------------------------------------------------------------------
# catalog_sf01


class CatalogSf01(Workload):
    name = "catalog_sf01"

    def prepare(self) -> list[str]:
        self.sf_dir = gen.tables(os.path.join(self.inputs, f"tpch-{CATALOG_SF}-{self.seed}"), CATALOG_SF, self.seed)
        self.rows = [CATALOG_ROWS[i] for i in np.random.default_rng(self.seed).permutation(len(CATALOG_ROWS))]
        return [os.path.join(self.sf_dir, f"{t}.parquet") for t in ("documents", "embeddings", "lineitem", "orders")]

    def first(self, spark, tr) -> None:
        from sahithi_metamorph_etl_spark.queries.catalog import all_oracles, all_queries

        self.queries = all_queries()
        self.oracles = all_oracles()

    def step(self, spark, tr, i: int) -> float:
        """One pass; each row is its own request. The oracle check of the
        first pass runs between rows, outside the timed phases."""
        total = 0.0
        for row in self.rows:
            tr.request(f"{self.name}/pass{i}/{row}")
            before = _persisted(spark)
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span("step"):
                    with tr.span(f"catalog.{row}.build", "build"):
                        df = self.queries[row](spark, self.sf_dir)
                    with tr.span(f"catalog.{row}.plan", "plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tr.span(f"catalog.{row}.execute", "action"):
                        _noop(df)
            except Exception as e:  # noqa: BLE001 — a failed row is counted, the pass goes on
                self.fail(f"catalog row {row} raised {e!r}")
                continue
            finally:
                total += time.perf_counter() - t0
            if i == 1:
                self.oracle_check(df, self.oracles[row], self.sf_dir, f"catalog row {row}")
            self.leaked += _persisted(spark) - before
            spark.catalog.clearCache()
        return total


WORKLOADS = {w.name: w for w in (WarehouseDaily, CatalogSf01)}
