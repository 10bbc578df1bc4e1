"""The benchmark's workloads: what one pass runs, and how its outputs are
checked against DuckDB.

``corpus_curation`` runs the LLM-data and analytics headline queries
through the engine's ``workload`` query factories, each forced by
``count()``. ``medallion_batches`` replays the reference's batch
lifecycle on generated inventory CSV batches through ``sources`` and
``pipeline``, ending each batch with the dashboard queries over the star
it just wrote. Every call into the engine sits inside a span of the
``Tracer``; the span names are the layer names the report uses.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from decimal import Decimal

import duckdb
import pandas as pd

CORPUS_QUERIES = (
    "q33_exact_dedup",
    "q37_minhash_near_dups",
    "q50_knn_bruteforce",
    "q53_embedding_similar_pairs",
    "q147_hybrid_retrieval_rrf",
    "q275_setcover_selection",
    "q281_stochastic_setcover",
    "q312_matryoshka_rerank",
    "q313_binary_hamming_rerank",
    "q345_ams_f2_sketch",
    "q346_ann_recall_audit",
    "q368_littles_law_audit",
)
VALUE_CHECKS_PER_RUN = 2  # value-compared queries per run, rotating with the seed


def _run_query(run, name: str, build_span: str, build, action):
    """One query execution: ``build()`` the DataFrame under a span named
    ``build_span``, force its physical plan when tracing, then run
    ``action`` on it. Returns ``(span, result)``."""
    tr = run.tracer
    with tr.span("query", what=name) as q:
        with tr.span(build_span, what=name):
            df = build()
        if tr.sc is not None:
            with tr.span("catalyst.plan", what=name):
                df._jdf.queryExecution().executedPlan()
        with tr.span("exec.action", what=name):
            result = action(df)
    run.samples.append((run.pass_no, q["end"] - q["start"]))
    return q, result


def _record(run, kind: str, name: str, fn):
    """Run ``fn`` and record the op; an exception fails the op instead
    of ending the run."""
    try:
        result = fn()
        error = None
    except Exception as exc:  # one failed op must not stop the measurement
        result, error = None, f"{type(exc).__name__}: {exc}"
    run.ops.append({"kind": kind, "name": name, "pass": run.pass_no, "error": error, "result": result})


# ------------------------------------------------------- corpus_curation

class Corpus:
    def __init__(self, run):
        from batchprocessingetl_spark.workload import collect_extra_queries, collect_queries

        registry = {**collect_queries(), **collect_extra_queries()}
        self.run = run
        self.factories = {q: registry[q] for q in CORPUS_QUERIES}
        self.rng = random.Random(run.seed)

    def run_pass(self) -> None:
        """Every query once, in an order drawn from the seed."""
        run = self.run
        order = self.rng.sample(CORPUS_QUERIES, len(CORPUS_QUERIES))
        for name in order:
            fn = self.factories[name]

            def execute(name=name, fn=fn):
                span, rows = _run_query(run, name, "workload.build",
                                        lambda: fn(run.spark, run.data_dir), lambda df: df.count())
                return {"s": span["end"] - span["start"], "rows": rows}

            _record(run, "query", name, execute)

    def value_checked(self) -> list[str]:
        start = (self.run.seed * VALUE_CHECKS_PER_RUN) % len(CORPUS_QUERIES)
        return [CORPUS_QUERIES[(start + i) % len(CORPUS_QUERIES)] for i in range(VALUE_CHECKS_PER_RUN)]

    def check(self) -> None:
        """Every recorded count must equal the oracle's row count; the
        queries picked by ``value_checked`` are also compared value by
        value (untimed, after the measurement)."""
        from tools.check_oracle import compare

        oracle = oracle_frames(self.run.data_dir, os.path.join(self.run.cache_dir, "oracle"))
        wrong = set()
        for q in self.value_checked():
            problems = compare(q, self.factories[q](self.run.spark, self.run.data_dir).toPandas(), oracle[q])
            if problems:
                wrong.add(q)
                self.run.problems.append(f"{q}: {problems}")
        for op in self.run.ops:
            if op["error"] is None and op["result"]["rows"] != len(oracle[op["name"]]):
                op["error"] = f"count {op['result']['rows']} != expected {len(oracle[op['name']])}"
            elif op["error"] is None and op["name"] in wrong:
                op["error"] = "values differ from the oracle"


def oracle_frames(data_dir: str, cache_dir: str) -> dict[str, pd.DataFrame]:
    """DuckDB's answer to every corpus query over ``data_dir``. The
    answers are cached, keyed by the oracle SQL and the input files, as
    some oracles take seconds (q37's takes about nine)."""
    from batchprocessingetl_spark.catalog import TABLES
    from batchprocessingetl_spark.workload import collect_extra_oracle, collect_oracle

    oracles = {**collect_oracle(), **collect_extra_oracle()}
    inputs = sorted((f, os.path.getsize(os.path.join(data_dir, f))) for f in os.listdir(data_dir))
    os.makedirs(cache_dir, exist_ok=True)
    frames, con = {}, None
    for q in CORPUS_QUERIES:
        key = hashlib.sha256(repr((oracles[q], inputs)).encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, f"{q}-{key}.pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
            con.execute(oracles[q]).fetchdf().to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        frames[q] = pd.read_pickle(path)  # written above by this program only
    if con is not None:
        con.close()
    return frames


# ----------------------------------------------------- medallion_batches

DASHBOARD_YEAR = 2023


def dashboard_queries(F, tables: dict) -> dict:
    """The reference's dashboard Q1-Q4 (total sales over time and
    regions, units sold per product in a year, inventory turnover,
    product performance) over the current rows of the star."""
    f, d = tables["fact_sales"], tables["dim_date"]
    s = tables["dim_store"].filter("is_current").select("store_id", "store_location")
    p = tables["dim_product"].filter("is_current").select("product_id", "product_category")
    fd = f.join(d, f["date"] == d["date_id"])
    fsp = f.join(s, "store_id").join(p, "product_id")
    return {
        "q1_sales_by_month_location": lambda: fd.join(s, "store_id")
        .groupBy("year", "month", "store_location")
        .agg(F.sum("total_sales").alias("total_sales")),
        "q2_units_by_product_in_year": lambda: fd.filter(F.col("year") == DASHBOARD_YEAR)
        .join(p, "product_id")
        .groupBy("product_id", "product_category")
        .agg(F.sum("quantity_sold").alias("total_quantity_sold")),
        "q3_inventory_turnover": lambda: fsp
        .groupBy("store_location", "product_id", "product_category")
        .agg(F.sum("quantity_sold").alias("total_sold"),
             F.avg("stock_level").alias("avg_stock_level")),
        "q4_product_performance": lambda: fsp
        .groupBy("store_location", "product_id", "product_category")
        .agg(F.sum("quantity_sold").alias("total_quantity_sold"),
             F.sum("total_sales").alias("total_sales")),
    }


DASHBOARD_SQL = {
    "q1_sales_by_month_location": """
        SELECT d.year, d.month, s.store_location, SUM(f.total_sales) AS total_sales
        FROM staged f JOIN dim_date d ON f.date = d.date_id
        JOIN dim_store s ON f.store_id = s.store_id
        GROUP BY 1, 2, 3""",
    "q2_units_by_product_in_year": f"""
        SELECT p.product_id, p.product_category,
               CAST(SUM(f.quantity_sold) AS BIGINT) AS total_quantity_sold
        FROM staged f JOIN dim_date d ON f.date = d.date_id
        JOIN dim_product p ON f.product_id = p.product_id
        WHERE d.year = {DASHBOARD_YEAR}
        GROUP BY 1, 2""",
    "q3_inventory_turnover": """
        SELECT s.store_location, p.product_id, p.product_category,
               CAST(SUM(f.quantity_sold) AS BIGINT) AS total_sold,
               AVG(f.stock_level) AS avg_stock_level
        FROM staged f JOIN dim_store s ON f.store_id = s.store_id
        JOIN dim_product p ON f.product_id = p.product_id
        GROUP BY 1, 2, 3""",
    "q4_product_performance": """
        SELECT s.store_location, p.product_id, p.product_category,
               CAST(SUM(f.quantity_sold) AS BIGINT) AS total_quantity_sold,
               SUM(f.total_sales) AS total_sales
        FROM staged f JOIN dim_store s ON f.store_id = s.store_id
        JOIN dim_product p ON f.product_id = p.product_id
        GROUP BY 1, 2, 3""",
}
CSV_COLUMNS = {
    "transaction_id": "VARCHAR", "date": "TIMESTAMP", "store_id": "VARCHAR",
    "store_location": "VARCHAR", "product_id": "VARCHAR", "product_category": "VARCHAR",
    "quantity_sold": "INTEGER", "unit_price": "DOUBLE", "total_sales": "DOUBLE",
    "stock_level": "INTEGER", "reorder_point": "INTEGER", "lead_time_days": "INTEGER",
    "carrying_cost": "DOUBLE", "stock_out_risk": "DOUBLE", "inventory_turnover": "DOUBLE",
}
STAGED_SQL = """
    SELECT transaction_id, date, store_id, store_location, product_id, product_category,
           quantity_sold, CAST(unit_price AS DECIMAL(10, 2)) AS unit_price,
           CAST(total_sales AS DECIMAL(15, 2)) AS total_sales,
           COALESCE(stock_level, 0) AS stock_level, COALESCE(reorder_point, 0) AS reorder_point,
           COALESCE(lead_time_days, 0) AS lead_time_days, COALESCE(carrying_cost, 0) AS carrying_cost,
           COALESCE(stock_out_risk, 0) AS stock_out_risk,
           COALESCE(inventory_turnover, 0) AS inventory_turnover
    FROM (SELECT DISTINCT * FROM raw) WHERE date IS NOT NULL"""


def _current_dim_sql(key: str, attrs: list[str]) -> str:
    order = ", ".join(["date DESC"] + [f"{a} DESC NULLS LAST" for a in attrs])
    cols = ", ".join([key, *attrs])
    return (f"SELECT {cols} FROM (SELECT *, row_number() OVER "
            f"(PARTITION BY {key} ORDER BY {order}) AS rn FROM staged) WHERE rn = 1")


def _frame(rows, columns) -> pd.DataFrame:
    """Collected rows as pandas, with decimals as floats so that both
    engines' results compare under ``check_oracle.compare``."""
    pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
    for c in pdf.columns:
        if pdf[c].map(lambda v: isinstance(v, Decimal)).any():
            pdf[c] = pdf[c].astype("float64")
    return pdf


class Medallion:
    def __init__(self, run, manifest: dict):
        self.run = run
        self.manifest = manifest

    def run_pass(self) -> None:
        from pyspark.sql import functions as F

        from batchprocessingetl_spark.pipeline.incremental import incremental_load
        from batchprocessingetl_spark.pipeline.staging import clean_inventory
        from batchprocessingetl_spark.pipeline.star import build_star
        from batchprocessingetl_spark.schemas import INVENTORY_SCHEMA
        from batchprocessingetl_spark.sources.readers import read_csv, read_parquet, write_parquet

        run, tr, spark = self.run, self.run.tracer, self.run.spark
        root = os.path.join(run.work_dir, f"pass{run.pass_no}")
        shutil.rmtree(root, ignore_errors=True)

        def path(layer, b, table=""):
            return os.path.join(root, layer, f"v{b}", table)

        def read(p):
            with tr.span("sources.read_parquet", what=p):
                return read_parquet(spark, p)

        def write(df, p):
            with tr.span("sources.write_parquet", what=p):
                write_parquet(df, p)

        for b, csv_path in enumerate(self.manifest["csv"]):
            def cycle(b=b, csv_path=csv_path):
                results = {}
                with tr.span("batch", what=b) as bs:
                    with tr.span("sources.read_csv", what=b):
                        src = read_csv(spark, csv_path, INVENTORY_SCHEMA)
                    with tr.span("pipeline.incremental", what=b):
                        existing = read(path("raw", b - 1)) if b else None
                        incremental_load(spark, src, existing, "date",
                                         os.path.join(root, "watermark"),
                                         sink=lambda merged: write(merged, path("raw", b)))
                    with tr.span("pipeline.staging", what=b):
                        write(clean_inventory(read(path("raw", b))), path("staging", b))
                    with tr.span("pipeline.star", what=b):
                        prev = {t: read(path("curated", b - 1, t)) for t in ("dim_store", "dim_product")} if b else {}
                        star = build_star(read(path("staging", b)), f"2024-01-0{b + 1} 00:00:00",
                                          prev.get("dim_store"), prev.get("dim_product"))
                        for table, df in star.items():
                            write(df, path("curated", b, table))
                    with tr.span("pipeline.dashboard", what=b):
                        tables = {t: read(path("curated", b, t)) for t in star}
                        for qname, build in dashboard_queries(F, tables).items():
                            span, rows = _run_query(run, qname, "dashboard.build", build,
                                                    lambda df: (df.columns, df.collect()))
                            results[qname] = rows
                return {"s": bs["end"] - bs["start"], "batch": b, "dashboard": results}

            _record(run, "batch", f"batch{b}", cycle)

    def check(self) -> None:
        """DuckDB over the same CSVs must agree on the staged and fact
        row counts and on the dashboard answers of every batch; every
        SCD2 dimension written must hold exactly one current row per
        key. A batch cycle failing any check is a failed op."""
        from batchprocessingetl_spark.pipeline.star import DIM_PRODUCT_COLS, DIM_STORE_COLS
        from tools.check_oracle import compare

        con = duckdb.connect()
        cols = "{" + ", ".join(f"'{k}': '{v}'" for k, v in CSV_COLUMNS.items()) + "}"
        expected = []
        watermark = None
        for b, csv_path in enumerate(self.manifest["csv"]):
            con.execute(f"CREATE OR REPLACE TABLE batch AS SELECT * FROM read_csv('{csv_path}', "
                        f"header=true, columns={cols}, timestampformat='%Y-%m-%d %H:%M:%S')")
            inc = "SELECT * FROM batch" + (f" WHERE date > TIMESTAMP '{watermark}'" if watermark else "")
            con.execute(("CREATE OR REPLACE TABLE raw AS SELECT DISTINCT * FROM "
                         "(SELECT * FROM raw UNION ALL " + inc + ")") if b else
                        f"CREATE TABLE raw AS SELECT DISTINCT * FROM ({inc})")
            watermark = con.execute("SELECT max(date) FROM raw").fetchone()[0]
            con.execute(f"CREATE OR REPLACE TABLE staged AS {STAGED_SQL}")
            con.execute("CREATE OR REPLACE TABLE dim_date AS SELECT DISTINCT date AS date_id, "
                        "year(date) AS year, month(date) AS month FROM staged")
            con.execute(f"CREATE OR REPLACE TABLE dim_store AS {_current_dim_sql('store_id', DIM_STORE_COLS)}")
            con.execute(f"CREATE OR REPLACE TABLE dim_product AS {_current_dim_sql('product_id', DIM_PRODUCT_COLS)}")
            expected.append({
                "staged": con.execute("SELECT count(*) FROM staged").fetchone()[0],
                "stores": con.execute("SELECT count(*) FROM dim_store").fetchone()[0],
                "products": con.execute("SELECT count(*) FROM dim_product").fetchone()[0],
                "dashboard": {q: con.execute(sql).fetchdf() for q, sql in DASHBOARD_SQL.items()},
            })
        for op in self.run.ops:
            if op["error"] is None:
                problems = self._check_batch(con, op, expected[op["result"]["batch"]], compare)
                if problems:
                    op["error"] = "; ".join(problems)
        con.close()

    def _check_batch(self, con, op, want: dict, compare) -> list[str]:
        b = op["result"]["batch"]
        root = os.path.join(self.run.work_dir, f"pass{op['pass']}")

        def parquet(layer, table=""):
            return f"read_parquet('{os.path.join(root, layer, f'v{b}', table)}/*.parquet')"

        problems = []
        for layer, table in (("staging", ""), ("curated", "fact_sales")):
            got = con.execute(f"SELECT count(*) FROM {parquet(layer, table)}").fetchone()[0]
            if got != want["staged"]:
                problems.append(f"{layer} {table} rows {got} != {want['staged']}")
        for table, key, n_keys in (("dim_store", "store_id", want["stores"]),
                                   ("dim_product", "product_id", want["products"])):
            keys, bad = con.execute(
                f"SELECT count(*), count(*) FILTER (WHERE c <> 1) FROM (SELECT {key}, "
                f"count(*) FILTER (WHERE is_current) AS c FROM {parquet('curated', table)} "
                f"GROUP BY {key})").fetchone()
            if keys != n_keys or bad:
                problems.append(f"{table}: {keys} keys (want {n_keys}), {bad} without one current row")
        for q, (columns, rows) in op["result"]["dashboard"].items():
            diff = compare(q, _frame(rows, columns), want["dashboard"][q])
            if diff:
                problems.append(f"{q}: {diff}")
        return problems
