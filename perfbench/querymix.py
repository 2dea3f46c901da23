"""The ``query`` workload: the registry read path.

Relational entries are bound by execution (scans, joins, aggregates,
Arrow kernels); iterative ones (ALS, k-core) by the driver, whose
training and graph loops issue many small eager jobs.  Every entry has
a DuckDB oracle; queries run one after another on one session.

One query is one operation: its builder ``fn(spark, data_dir)`` (the
driver-side Python plus its eager jobs) and then the collection of its
result through Arrow, which is what a caller of the registry gets.  The
results of every timed pass are compared with ``ORACLE_SQL`` on DuckDB
over the same parquet files, using the canonical form and hash of
``tools/check_correctness.py``.
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field

import duckdb
from pyspark.sql import SparkSession

from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries import (
    ORACLE_SQL,
    SPARK_QUERIES,
)
from host import measured_cpu_s
from lakehouse_alchemy_bronze_to_gold_pipeline_spark.queries.data import TABLES

#: execution-bound entries first, then the driver-bound iterative ones
MIX = (
    "fact_sales",
    "pricing_summary",
    "embedding_ivf_topk_fixed",
    "als_rank2_fixed",
    "part_kcore_profile",
)


def _checker():
    """canon/table_hash of the repository's correctness gate."""
    tools = os.path.join(os.getcwd(), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_correctness import canon, table_hash

    return canon, table_hash


@dataclass
class QueryResult:
    name: str
    build_s: float = 0.0
    exec_s: float = 0.0
    cpu_s: float = 0.0  # of the process tree, build + collection
    error: str = ""
    mismatch: str = ""

    @property
    def seconds(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class Mix:
    spark: SparkSession
    data_dir: str
    names: tuple[str, ...]
    tracer: object
    results: dict[str, object] = field(default_factory=dict)

    def run_pass(self, keep: bool) -> list[QueryResult]:
        """Every query once, in list order; with ``keep`` each result
        is kept for ``verify``."""
        out = []
        for name in self.names:
            self.tracer.request = name
            r = QueryResult(name)
            cpu0 = measured_cpu_s()
            t0 = time.perf_counter()
            try:
                with self.tracer.span("queries.build"):
                    df = SPARK_QUERIES[name](self.spark, self.data_dir)
                t1 = time.perf_counter()
                with self.tracer.span("queries.exec"):
                    pdf = df.toPandas()
                t2 = time.perf_counter()
                r.build_s, r.exec_s = t1 - t0, t2 - t1
                if keep:
                    self.results[name] = pdf
            except Exception as exc:  # a failing query is a measured outcome
                r.error = f"{type(exc).__name__}: {str(exc).strip()[:300]}"
                r.build_s = time.perf_counter() - t0
            finally:
                r.cpu_s = measured_cpu_s() - cpu0
                # queries persist intermediates; free them between queries
                self.spark.catalog.clearCache()
            out.append(r)
        return out

    def verify(self, results: list[QueryResult]) -> None:
        """Compare each kept result with its DuckDB oracle (not timed);
        a mismatch is recorded on the result by name."""
        canon, table_hash = _checker()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'"
                )
            for r in results:
                if r.error:
                    continue
                s = canon(self.results.pop(r.name))
                o = canon(con.execute(ORACLE_SQL[r.name]).fetchdf())
                if len(s) != len(o):
                    r.mismatch = f"rows {len(s)} vs {len(o)}"
                elif list(s.columns) != list(o.columns):
                    r.mismatch = f"cols {list(s.columns)} vs {list(o.columns)}"
                elif [str(t) for t in s.dtypes] != [str(t) for t in o.dtypes]:
                    r.mismatch = "dtypes differ"
                elif table_hash(s) != table_hash(o):
                    r.mismatch = "value-hash mismatch"
        finally:
            con.close()
