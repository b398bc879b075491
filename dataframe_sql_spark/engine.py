"""Public engine API — Spark-native counterpart of the reference's
3-function surface (/root/reference/dataframe_sql/__init__.py:2 exports
``query``, ``register_temp_table``, ``remove_temp_table``;
implementations at sql_select_query.py:15-96).

Where the reference wraps sql_to_ibis + the ibis pandas backend, this
engine wraps the dialect shim + ``spark.sql`` and lets Catalyst do all
planning/optimization/execution. Queries return *lazy*
``pyspark.sql.DataFrame``s (the scalable contract); ``query_pandas``
gives the reference's eager-materialization convenience.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .dialect.shim import translate
from .session import get_spark

__all__ = [
    "SparkSqlEngine",
    "plan_string",
    "query",
    "register_temp_table",
    "remove_temp_table",
]


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """``df``'s query plan as ``df.explain(mode)`` prints it, returned
    as a string (modes: simple, extended, codegen, cost, formatted)."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


class SparkSqlEngine:
    """register/remove/query over a Spark session catalog.

    The reference keeps a module-global name→table catalog
    (sql_select_query.py:12, :36-39); here the Spark session catalog
    (temp views) plays that role, which is what makes the same API
    work unchanged on a multi-node cluster.
    """

    def __init__(self, spark: SparkSession | None = None) -> None:
        self.spark = spark or get_spark()

    # -- catalog ----------------------------------------------------------
    def register_temp_table(self, frame: Any, table_name: str) -> None:
        """Register a Spark DataFrame (or pandas DataFrame, converted
        via Arrow) under ``table_name``. Mirrors sql_select_query.py:15-39."""
        if not isinstance(frame, DataFrame):
            frame = self.spark.createDataFrame(frame)
        frame.createOrReplaceTempView(table_name)

    def remove_temp_table(self, table_name: str) -> None:
        """Drop a registered table. Mirrors sql_select_query.py:42-61
        (raises if the table was never registered)."""
        if not self.spark.catalog.dropTempView(table_name):
            raise KeyError(f"Table {table_name} is not registered")

    def register_parquet_dir(self, sf_dir: str, tables: list[str] | None = None) -> None:
        """Register every parquet table in a testdata dir as a view.

        Per-table guard: one unreadable file must not poison the other
        registrations (round 1: events.parquet's TIMESTAMP_NANOS failed
        ALL queries, including the ~140 that never touch events).
        Queries on a skipped table fail with TABLE_OR_VIEW_NOT_FOUND;
        everything else keeps working.
        """
        import warnings

        from .sources.io import (
            FAN_OUT_TABLES,
            TESTDATA_TABLES,
            read_table,
            scan_fan_out,
        )

        errors: list[str] = []
        for name in tables or TESTDATA_TABLES:
            try:
                df = read_table(self.spark, sf_dir, name)
                if name in FAN_OUT_TABLES:
                    # r14: the corpus-axis tables' SQL pipelines do
                    # their per-row CPU (k-gram md5, tokenize) in the
                    # scan stage; a single-row-group file makes that
                    # one task. Scale-adaptive, no-op at real scale.
                    df = scan_fan_out(self.spark, df, f"{sf_dir}/{name}.parquet")
                self.register_temp_table(df, name)
            except Exception as exc:  # noqa: BLE001 - isolate per-table failures
                errors.append(f"{name}: {type(exc).__name__}: {exc}")
        if errors:
            warnings.warn(
                f"register_parquet_dir({sf_dir}): skipped {len(errors)} table(s): "
                + "; ".join(errors),
                stacklevel=2,
            )

    # -- query ------------------------------------------------------------
    def translate(self, sql: str) -> str:
        """Dialect shim output for ``sql`` (exposed for inspection)."""
        return translate(sql, schema_lookup=self._schema_lookup)

    def query(self, sql: str) -> DataFrame:
        """Parse + plan one SELECT statement; returns a lazy DataFrame.

        Reference contract: sql_select_query.py:64-96 (its grammar at
        :69-81 is a strict subset of what Spark SQL accepts after the
        shim's rewrites)."""
        return self.spark.sql(self.translate(sql))

    def query_pandas(self, sql: str):
        """Eager variant matching the reference's materialized-return
        behavior (sql_select_query.py:96). Arrow-accelerated."""
        return self.query(sql).toPandas()

    def explain(self, sql: str, mode: str = "formatted") -> str:
        """The physical plan Catalyst chose for ``sql`` (after the
        dialect shim), as a string — the scale-debugging entry point:
        check PushedFilters / ReadSchema / join strategy / Exchanges
        before a query ships to a large cluster."""
        return plan_string(self.query(sql), mode)

    def _schema_lookup(self, table_name: str) -> list[str]:
        return self.spark.table(table_name).columns

    # -- UDF surface (SURVEY.md §2.11: absent in reference; extension) -----
    def register_function(self, name: str, fn, return_type, vectorized: bool = True):
        """Register a Python function for use in ``query()`` SQL.

        ``vectorized=True`` wraps it as an Arrow-batched pandas UDF
        (fn takes/returns ``pandas.Series``) — the 10-100× faster
        path; set False only for genuinely scalar logic. The reference
        has no UDF surface (its __init__.py:2 exports exactly three
        functions), so this is pure extension.
        """
        if vectorized:
            from pyspark.sql.functions import pandas_udf

            udf = pandas_udf(fn, return_type)
        else:
            from pyspark.sql.functions import udf as plain_udf

            udf = plain_udf(fn, return_type)
        self.spark.udf.register(name, udf)
        return udf

    def register_table_function(self, name: str, cls, return_type: str):
        """Register a Python UDTF (table function) for use in
        ``query()`` SQL — the one-row-in/many-rows-out surface
        (``SELECT ... FROM my_udtf(col)`` or LATERAL), complementing
        the scalar/vectorized path of :meth:`register_function`.

        ``cls`` is a class with an ``eval(self, *args)`` generator
        method (Spark 3.5+ Python UDTF contract). UDTFs run row-at-a-
        time in Python — fine for low-volume explode-like helpers; for
        hot paths prefer built-in ``explode``/``transform`` or
        Arrow-batched ``mapInPandas`` (see SCALE.md's UDF ladder).
        """
        from pyspark.sql.functions import udtf as _udtf

        wrapped = _udtf(cls, returnType=return_type)
        self.spark.udtf.register(name, wrapped)
        return wrapped


# -- module-level convenience API (drop-in for the reference import style) --
_DEFAULT: SparkSqlEngine | None = None


def _default() -> SparkSqlEngine:
    global _DEFAULT
    if _DEFAULT is None:
        _DEFAULT = SparkSqlEngine()
    return _DEFAULT


def register_temp_table(frame: Any, table_name: str) -> None:
    _default().register_temp_table(frame, table_name)


def remove_temp_table(table_name: str) -> None:
    _default().remove_temp_table(table_name)


def query(sql: str) -> DataFrame:
    return _default().query(sql)
