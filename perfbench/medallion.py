"""The ``medallion`` workload: the paper's write path.

An initial load from an empty warehouse, then k closed-loop drops.
Each round (load or drop) runs, in order: bronze ingest and silver
transform for every entity, the two gold dimensions, the gold fact
(streamed from silver, partitioned by ``order_date``) and the DQ rule
set for every entity.  A drop lands only after the previous round's
gold and DQ calls returned.

Every pipeline call is one operation.  A call that raises is counted
as failed, its error text is kept, and the round goes on with the next
call.  After each round, outside the timed section, the silver row
counts, the fact row count, ``sum(line_total)`` per ``order_date`` and
the DQ violation counts of every DQ call that returned are compared
with DuckDB over the landed JSON.
"""

from __future__ import annotations

import glob
import math
import os
import time
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.catalog import Lakehouse
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators import star
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.operators.quality import (
    date_range_rule,
    email_rule,
    null_pk_rule,
    positive_rule,
    whitespace_rule,
)
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.streaming.pipeline import (
    EntityConfig,
    MedallionPipeline,
)

ENTITIES = ("customers", "products", "orders")
KEYS = {
    "customers": ["customer_id"],
    "products": ["product_id"],
    # the grain key SURVEY 4.3-L3 recommends for the exploded orders
    "orders": ["order_id", "items_item_id", "metadata_key"],
}


def entity_configs(landing: str) -> list[EntityConfig]:
    rules = {
        "customers": [
            null_pk_rule(["customer_id"]),
            email_rule("email"),
            whitespace_rule(["name"]),
        ],
        "products": [
            null_pk_rule(["product_id"]),
            positive_rule(["price"]),
            whitespace_rule(["product_name"]),
        ],
        "orders": [
            null_pk_rule(["order_id"]),
            positive_rule(["items_quantity", "items_price"]),
            date_range_rule("timestamp", "1900-01-01", "2100-01-01"),
            email_rule("customer_email"),
        ],
    }
    return [
        EntityConfig(
            name=e,
            source_dir=os.path.join(landing, e),
            primary_keys=KEYS[e],
            quality_rules=rules[e],
        )
        for e in ENTITIES
    ]


@dataclass
class Op:
    name: str
    ok: bool
    error: str = ""


@dataclass
class RoundResult:
    seconds: float
    ops: list[Op] = field(default_factory=list)
    dq: dict[str, dict[str, int]] = field(default_factory=dict)


def known_defect(op: str, error: str) -> bool:
    """The one failure the benchmark expects: ``run_quality`` on every
    entity after the first raises ``AnalysisException``, because the
    shared ``quality_issues`` table keeps the first entity's columns.
    Any other failed operation makes the run incorrect."""
    entity = op.removeprefix("run_quality.")
    return (
        entity in ENTITIES[1:]
        and error.startswith("AnalysisException")
        and "quality_issues" in error
    )


def _first_line(exc: BaseException) -> str:
    text = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {text[0] if text else ''}"[:300]


class Warehouse:
    """One empty warehouse plus the pipeline over it."""

    def __init__(self, spark: SparkSession, root: str, landing: str, prefix: str, tracer):
        self.spark = spark
        self.tracer = tracer
        self.lh = Lakehouse(spark, os.path.join(root, "wh"), prefix=prefix)
        self.pipe = MedallionPipeline(spark, self.lh, entity_configs(landing))

    def run_round(self) -> RoundResult:
        """One closed-loop round over everything landed so far."""
        pipe, res = self.pipe, RoundResult(0.0)

        def op(name, fn, *args):
            try:
                with self.tracer.span("pipeline." + name.split(".")[0]):
                    out = fn(*args)
                res.ops.append(Op(name, True))
                return out
            except Exception as exc:  # a failing call is a measured outcome
                res.ops.append(Op(name, False, _first_line(exc)))
                return None

        t0 = time.perf_counter()
        for e in ENTITIES:
            op(f"bronze_ingest.{e}", pipe.bronze_ingest, e)
            op(f"silver_transform.{e}", pipe.silver_transform, e)
        op("build_gold_dim.customers", pipe.build_gold_dim, "customers", self._dim_customers())
        op("build_gold_dim.products", pipe.build_gold_dim, "products", self._dim_products())
        op("build_gold_fact.fact_sales", self._fact)
        for e in ENTITIES:
            counts = op(f"run_quality.{e}", lambda n: pipe.run_quality(n).collect(), e)
            if counts is not None:
                res.dq[e] = {r["rule"]: int(r["n_violations"] or 0) for r in counts}
        res.seconds = time.perf_counter() - t0
        return res

    def _silver(self, e: str):
        return self.pipe.io.read(self.lh.table("silver", e))

    def _dim_customers(self):
        return star.build_dim(
            self._silver("customers"),
            {
                "customer_id": "customer_id",
                "name": "name",
                "email": "email",
                "city": F.initcap("address_city"),
                "country": F.initcap("address_country"),
                "postal_code": "address_postal_code",
            },
            not_null=["customer_id"],
            audit_col="gold_ingest_ts",
        )

    def _dim_products(self):
        return star.build_dim(
            self._silver("products"),
            {
                "product_id": "product_id",
                "product_name": "product_name",
                "category": F.lower("category"),
                "price": "price",
            },
            not_null=["product_id"],
            filters=[F.col("price") > 0],
            audit_col="gold_ingest_ts",
        )

    def _fact(self) -> str:
        io, lh = self.pipe.io, self.lh
        orders = io.read_stream(lh.table("silver", "orders"))
        fact = star.build_fact(
            orders,
            dims=[
                star.DimSpec(
                    io.read(lh.table("gold", "dim_customers")),
                    "customer_customer_id",
                    "customer_id",
                    {"city": "customer_city", "country": "customer_country"},
                ),
                star.DimSpec(
                    io.read(lh.table("gold", "dim_products")),
                    "items_item_id",
                    "product_id",
                    {"category": "product_category"},
                ),
            ],
            derived={"line_total": F.col("items_price") * F.col("items_quantity")},
            validity=[F.col("order_id").isNotNull(), F.col("items_quantity") > 0],
            partition_date_source="timestamp",
            audit_col="gold_ingest_ts",
        ).select(
            "order_id",
            F.col("timestamp").alias("order_timestamp"),
            F.col("customer_customer_id").alias("customer_id"),
            "customer_name",
            "customer_email",
            "customer_city",
            "customer_country",
            "payment_method",
            "payment_transaction_id",
            F.col("items_item_id").alias("product_id"),
            F.col("items_product_name").alias("product_name"),
            "product_category",
            F.col("items_price").alias("price"),
            F.col("items_quantity").alias("quantity"),
            "line_total",
            "metadata_key",
            "metadata_value",
            "gold_ingest_ts",
            "order_date",
        )
        return self.pipe.build_gold_fact(
            fact, "fact_sales", partition_by=["order_date"]
        )

    # ------------------------------------------------------------ oracle
    def location(self, layer: str, table: str) -> str:
        """Directory of a managed table (the session warehouse layout)."""
        wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        return os.path.join(wh, f"{self.lh.prefix}_{layer}.db", table)

    def observed(self) -> dict:
        """Committed state, read back with DuckDB from the table files
        after a round (not timed)."""
        con = duckdb.connect()
        out: dict = {"silver": {}, "fact_rows": None, "fact_sums": {}}
        try:
            for e in ENTITIES:
                files = os.path.join(self.location("silver", e), "*.parquet")
                out["silver"][e] = con.execute(
                    f"SELECT count(*) FROM read_parquet('{files}')"
                ).fetchall()[0][0]
            files = os.path.join(self.location("gold", "fact_sales"), "*", "*.parquet")
            rows = con.execute(
                f"""SELECT CAST(order_date AS VARCHAR), count(*), sum(line_total)
                    FROM read_parquet('{files}', hive_partitioning = true)
                    GROUP BY 1"""
            ).fetchall()
            out["fact_rows"] = sum(r[1] for r in rows)
            out["fact_sums"] = {r[0]: float(r[2]) for r in rows}
        except duckdb.Error:
            pass  # a table that was never committed stays None/empty
        finally:
            con.close()
        return out

    def fact_files(self) -> int:
        return len(glob.glob(os.path.join(self.location("gold", "fact_sales"), "*", "*.parquet")))

#: the raw orders shape (FIXTURES.md section 1), stated for DuckDB so the
#: ISO timestamp stays a string, as Spark's JSON inference keeps it
ORDER_COLUMNS = {
    "order_id": "VARCHAR",
    "timestamp": "VARCHAR",
    "customer": "STRUCT(customer_id BIGINT, name VARCHAR, email VARCHAR, "
    "address STRUCT(city VARCHAR, postal_code VARCHAR, country VARCHAR))",
    "items": "STRUCT(item_id VARCHAR, product_name VARCHAR, quantity BIGINT, price DOUBLE)[]",
    "payment": "STRUCT(method VARCHAR, transaction_id VARCHAR)",
    "metadata": "STRUCT(key VARCHAR, value VARCHAR)[]",
}
EMAIL_RE = r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}$"


def expected(landing: str) -> dict:
    """DuckDB over the landed JSON: what the committed state must be."""
    con = duckdb.connect()
    try:
        src = {e: os.path.join(landing, e, "*.json") for e in ENTITIES}
        con.execute(
            f"CREATE VIEW c AS SELECT DISTINCT * FROM read_json('{src['customers']}', format='array')"
        )
        con.execute(
            f"CREATE VIEW p AS SELECT DISTINCT * FROM read_json('{src['products']}', format='array')"
        )
        con.execute(
            f"""CREATE VIEW o AS
            SELECT DISTINCT order_id, "timestamp" AS ts, customer.customer_id AS cid,
                   customer.email AS cemail, it.item_id AS item_id,
                   it.quantity AS qty, it.price AS price, m.key AS mkey
            FROM read_json('{src['orders']}', format='array', columns={ORDER_COLUMNS}) o0,
                 unnest(o0.items) AS t(it), unnest(o0.metadata) AS u(m)"""
        )
        q = lambda s: con.execute(s).fetchall()  # noqa: E731
        out = {
            "silver": {
                "customers": q("SELECT count(DISTINCT customer_id) FROM c")[0][0],
                "products": q("SELECT count(DISTINCT product_id) FROM p")[0][0],
                "orders": q("SELECT count(*) FROM o")[0][0],
            }
        }
        fact = q(
            """SELECT CAST(CAST(substr(o.ts, 1, 10) AS DATE) AS VARCHAR) d,
                      count(*), sum(o.price * o.qty)
               FROM o JOIN c ON o.cid = c.customer_id
                      JOIN p ON o.item_id = p.product_id AND p.price > 0
               WHERE o.order_id IS NOT NULL AND o.qty > 0
               GROUP BY 1"""
        )
        out["fact_rows"] = sum(r[1] for r in fact)
        out["fact_sums"] = {r[0]: float(r[2]) for r in fact}
        ws = lambda col: f"length({col}) <> length(trim({col}))"  # noqa: E731
        bad_email = lambda col: f"NOT regexp_matches({col}, '{EMAIL_RE}')"  # noqa: E731
        out["dq"] = {
            "customers": {
                "null_pk[customer_id]": q("SELECT count(*) FROM c WHERE customer_id IS NULL")[0][0],
                "email[email]": q(f"SELECT count(*) FROM c WHERE {bad_email('email')}")[0][0],
                "whitespace[name]": q(f"SELECT count(*) FROM c WHERE {ws('name')}")[0][0],
            },
            "products": {
                "null_pk[product_id]": q("SELECT count(*) FROM p WHERE product_id IS NULL")[0][0],
                "positive[price]": q("SELECT count(*) FROM p WHERE price <= 0")[0][0],
                "whitespace[product_name]": q(
                    f"SELECT count(*) FROM p WHERE {ws('product_name')}"
                )[0][0],
            },
            "orders": {
                "null_pk[order_id]": q("SELECT count(*) FROM o WHERE order_id IS NULL")[0][0],
                "positive[items_quantity,items_price]": q(
                    "SELECT count(*) FROM o WHERE qty <= 0 OR price <= 0"
                )[0][0],
                "date_range[timestamp]": q(
                    "SELECT count(*) FROM o WHERE try_cast(replace(ts, 'Z', '') AS TIMESTAMP) IS NULL"
                    " OR ts < '1900-01-01' OR ts > '2100-01-01'"
                )[0][0],
                "email[customer_email]": q(
                    f"SELECT count(*) FROM o WHERE {bad_email('cemail')}"
                )[0][0],
            },
        }
        return out
    finally:
        con.close()


def compare(obs: dict, exp: dict, dq: dict[str, dict[str, int]]) -> list[str]:
    """Mismatches between committed state and the oracle, by name."""
    bad = []
    for e in ENTITIES:
        if obs["silver"].get(e) != exp["silver"][e]:
            bad.append(f"silver.{e}: {obs['silver'].get(e)} != {exp['silver'][e]}")
    if obs["fact_rows"] != exp["fact_rows"]:
        bad.append(f"fact_sales rows: {obs['fact_rows']} != {exp['fact_rows']}")
    got, want = obs["fact_sums"], exp["fact_sums"]
    wrong = [
        d
        for d in set(got) | set(want)
        if d not in got
        or d not in want
        or not math.isclose(got[d], want[d], rel_tol=1e-9, abs_tol=1e-6)
    ]
    if wrong:
        bad.append(f"fact_sales sum(line_total): {len(wrong)} order_date(s) differ, e.g. {sorted(wrong)[:3]}")
    for e, counts in dq.items():
        if counts != exp["dq"][e]:
            bad.append(f"run_quality.{e}: {counts} != {exp['dq'][e]}")
    return bad


def op_of(mismatch: str) -> str:
    """The operation whose output a ``compare`` line is about."""
    what = mismatch.split(":", 1)[0].split(" ", 1)[0]
    if what.startswith("silver."):
        return "silver_transform." + what.split(".", 1)[1]
    if what == "fact_sales":
        return "build_gold_fact.fact_sales"
    return what
