"""QuerySpec registry infrastructure."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from openalex_walden_spark.tables import TABLES, register_views

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None  # DuckDB SQL; None → driver does rows-only check
    tags: tuple[str, ...] = ()
    doc: str = ""
    tables: tuple[str, ...] = TABLES
    module: str = ""  # defining module — the unit of change for the
    #                   driver-window freshness audit (test_driver_window)
    spread: tuple[str, ...] = ()  # tables scanned through a round-robin
    #                               exchange (see ``register``)


CATALOG: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
    tables: tuple[str, ...] = TABLES,
    doc: str = "",
    spread: tuple[str, ...] = (),
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a (spark_fn, oracle_sql) pair under ``name``.

    ``tables`` lists the test tables the query reads; only those get
    (re-)registered as temp views before the query body runs, so one
    unreadable fixture can never break unrelated queries.

    ``spread`` names tables (each also in ``tables``) whose scan feeds
    CPU-heavy per-row work, typically a regex parse.  The fixtures are
    single-row-group parquet files, so such a scan is ONE task whatever
    ``spark.sql.files.maxPartitionBytes`` says, and the work above it
    ran on one core (letten at sf0.1: 55-74 s; 5.6-6.0 s spread).  While
    the query body runs, each spread table's view is a round-robin
    ``repartition(defaultParallelism)`` of the scan; the plain view is
    put back once the body returns.  The returned DataFrame was analysed
    eagerly, so it keeps the exchange and no later query sees it.  The
    SQL text is untouched, and column pruning still narrows what crosses
    the exchange.
    """
    missing = sorted(set(spread) - set(tables))
    if missing:
        raise ValueError(f"{name}: spread tables {missing} are not in tables")

    def wrap(fn: SparkQuery) -> SparkQuery:
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            views = register_views(spark, sf_dir, tables)
            plain = {t: views[t] for t in spread if t in views}
            par = spark.sparkContext.defaultParallelism
            for t, df in plain.items():
                df.repartition(par).createOrReplaceTempView(t)
            try:
                return fn(spark, sf_dir)
            finally:
                for t, df in plain.items():
                    df.createOrReplaceTempView(t)

        CATALOG[name] = QuerySpec(
            name=name,
            spark=run,
            oracle=oracle,
            tags=tags,
            doc=doc or (fn.__doc__ or ""),
            tables=tables,
            module=fn.__module__,
            spread=spread,
        )
        return run

    return wrap
