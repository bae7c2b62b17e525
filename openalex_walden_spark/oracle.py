"""DuckDB oracle harness: run CATALOG queries against DuckDB and compare.

This replicates the driver's correctness gate locally (row count + column
names + order-insensitive canonical value comparison) so blockers surface
in `pytest` instead of in the round report.
"""

from __future__ import annotations

import ast
import contextlib
import datetime as _dt
import hashlib
import math
import os
import re
import sys
from dataclasses import dataclass, field

import duckdb

from openalex_walden_spark.tables import TABLES


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh in-memory DuckDB with every test table registered as a view."""
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.sql(
                f"CREATE OR REPLACE VIEW {name} AS "
                f"SELECT * FROM read_parquet('{path}')"
            )
    return con


def _canon_value(v) -> str:
    """Canonical string for one cell, exact for floats (hex form)."""
    if v is None:
        return "NULL"
    # pandas NaN/NaT
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return float(v).hex()
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, _dt.datetime):
        s = v.isoformat(sep=" ")
        return s[:-9] if s.endswith(" 00:00:00") else s
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    # numpy arrays (DuckDB list columns) → python lists
    if getattr(v, "ndim", 0):
        return _canon_value(v.tolist())
    if isinstance(v, dict):
        items = sorted((str(k), _canon_value(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
    # numpy scalars → python
    item = getattr(v, "item", None)
    if item is not None:
        try:
            return _canon_value(item())
        except Exception:  # pragma: no cover
            pass
    if hasattr(v, "isoformat"):
        s = v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else v.isoformat()
        return s
    return str(v)


def canonical_rows(df_pandas) -> list[tuple[str, ...]]:
    """Column-name-sorted, row-sorted canonical form of a pandas frame."""
    cols = sorted(df_pandas.columns)
    ordered = df_pandas[cols]
    rows = [
        tuple(_canon_value(v) for v in row)
        for row in ordered.itertuples(index=False, name=None)
    ]
    return sorted(rows)


def golden_hash(df_pandas, spark_schema=None) -> dict:
    """Order-insensitive content fingerprint of a result frame.

    The committed goldens file (``tests/goldens_sf0001.json``) pins one of
    these per catalog query; ``test_oracle_parity`` recomputes it on every
    run, so any output change — even one where the Spark query and its
    DuckDB oracle move together — fails loudly and must be acknowledged:
    regenerate with ``python scripts/gen_goldens.py <name>``; the driver
    window fronts it (``__spark_entry__._driver_order``).

    ``spark_schema`` (the DataFrame's ``.schema``) is hashed alongside the
    values: canonical value strings mask type drift (int 5 and string
    ``'5'`` both canonicalize to ``'5'``), so the Spark-side column types
    are pinned explicitly.
    """
    cols = sorted(str(c) for c in df_pandas.columns)
    schema = (
        ",".join(
            sorted(f"{f.name}:{f.dataType.simpleString()}"
                   for f in spark_schema.fields)
        )
        if spark_schema is not None
        else ""
    )
    rows = canonical_rows(df_pandas)
    payload = "\x1d".join(
        [schema, "\x1f".join(cols)] + ["\x1f".join(r) for r in rows]
    )
    return {
        "rows": len(rows),
        "hash": hashlib.sha256(payload.encode("utf-8")).hexdigest(),
    }


@contextlib.contextmanager
def checkpoint_capture(spark):
    """Collect the ``QueryExecution`` of every DataFrame frozen by
    ``localCheckpoint`` while the block runs.

    The final plan shows a checkpointed sub-plan only as a ``LogicalRDD``,
    so its scans and operators are visible only through this list.
    """
    frozen: list = []
    cls = type(spark.range(0))
    orig = cls.localCheckpoint

    def record(self, *args, **kwargs):
        frozen.append(self._jdf.queryExecution())  # noqa: SLF001
        return orig(self, *args, **kwargs)

    cls.localCheckpoint = record
    try:
        yield frozen
    finally:
        cls.localCheckpoint = orig


# Run-dependent tokens of an analyzed plan string: exprIds, generated
# CTE ids (a recursive CTE's UnionLoop carries its CTE's id) and PySpark
# lambda variable suffixes (both renumbered by first appearance),
# common-subexpression names, file paths and the core-derived
# repartition counts.
_EXPR_ID = re.compile(r"#\d+")
_COMMON_EXPR = re.compile(r"_common_expr_\d+")
_FILE_PATH = re.compile(r"file:[^\s,\])]*")
_REPARTITION_N = re.compile(
    r"^(.*(?:Repartition|RepartitionByExpression \[.*\],)) \d+", re.M)
_RENUMBERED = (
    re.compile(r"((?:CTERelation(?:Def|Ref)|UnionLoop(?:Ref)?) )(\d+)"),
    re.compile(r"(lambda \w+?_)(\d+)\b"),
)


def _normalize_plan(text: str) -> str:
    for pattern in _RENUMBERED:
        seen: dict[str, int] = {}
        text = pattern.sub(
            lambda m, seen=seen: m[1] + str(seen.setdefault(m[2], len(seen))),
            text)
    text = _EXPR_ID.sub("", text)
    text = _COMMON_EXPR.sub("_common_expr", text)
    text = _FILE_PATH.sub("file:", text)
    return _REPARTITION_N.sub(r"\1", text)


def _module_source(dotted: str) -> str:
    """Source text of module ``dotted`` of an imported package, read from
    its file ('' when there is no such file)."""
    top = getattr(sys.modules.get(dotted.split(".")[0]), "__file__", None)
    if not top:
        return ""
    base = os.path.join(os.path.dirname(os.path.dirname(top)), *dotted.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            with open(path, encoding="utf-8") as f:
                return f.read()
    return ""


def _engine_imports(dotted: str, source: str) -> set[str]:
    """Same-package names that ``source`` imports (one hop), including
    imports inside function bodies."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            out.add(node.module)
            out.update(f"{node.module}.{a.name}" for a in node.names)
    pkg = dotted.split(".")[0]
    return {m for m in out if m.split(".")[0] == pkg} - {dotted}


def _python_udf_modules(plan, jvm) -> set[str]:
    """Defining modules of the Python functions behind each ``PythonUDF``
    of ``plan``; the plan names a UDF but cannot show its code."""
    from pyspark.serializers import CloudPickleSerializer

    pattern = jvm.org.apache.spark.sql.catalyst.trees.TreePattern.PYTHON_UDF()
    byte_tag = jvm.scala.reflect.ClassTag.Byte()
    mods: set[str] = set()
    stack = [(plan, True)]
    while stack:
        node, is_plan = stack.pop()
        if not node.containsPattern(pattern):
            continue
        if node.getClass().getSimpleName() == "PythonUDF":
            func, _ = CloudPickleSerializer().loads(
                bytes(node.func().command().toArray(byte_tag)))
            func = getattr(func, "__wrapped__", func)
            mods.add(func.__module__)
        seqs = [(node.children(), is_plan)]
        if is_plan:
            seqs.append((node.expressions(), False))
        for seq, plans in seqs:
            it = seq.iterator()
            while it.hasNext():
                stack.append((it.next(), plans))
    return mods


def _sql_function_ddls(plan_text: str) -> list[str]:
    """DDL of each engine SQL function (``sql_udfs._ALL``) that
    ``plan_text`` calls, and of each function those bodies call, in name
    order; the plan names a SQL function but does not show its body."""
    from openalex_walden_spark.functions import sql_udfs

    ddls = {re.search(r"FUNCTION (\w+)", d)[1]: d for d in sql_udfs._ALL}
    seen: set[str] = set()
    texts = [plan_text]
    while texts:
        text = texts.pop()
        for name, ddl in ddls.items():
            if name not in seen and re.search(rf"\b{name}\(", text):
                seen.add(name)
                texts.append(ddl)
    return [ddls[n] for n in sorted(seen)]


def plan_fingerprint(df, frozen=()) -> str:
    """sha256 of the query's normalized analyzed logical plan.

    ``frozen`` holds the ``QueryExecution`` of each sub-plan the query
    froze behind ``localCheckpoint`` (``checkpoint_capture``); their plans
    are folded in ahead of the final one.  Each engine SQL function the
    plans call contributes its DDL (``_sql_function_ddls``), and each
    Python UDF the source of its function's module and of that module's
    engine-internal imports.  The analyzed plan is used because optimized
    plans are not stable across sessions (``_common_expr`` placement,
    among others).
    """
    jvm = df.sparkSession._jvm  # noqa: SLF001
    plans = [qe.analyzed() for qe in frozen]
    plans.append(df._jdf.queryExecution().analyzed())  # noqa: SLF001
    text = "\n".join(
        p.treeString(True, False, 2**31 - 1, False, False) for p in plans)
    parts = [_normalize_plan(text)] + _sql_function_ddls(text)
    udf_mods: set[str] = set()
    for p in plans:
        udf_mods |= _python_udf_modules(p, jvm)
    for mod in sorted(udf_mods):
        src = _module_source(mod)
        parts.append(f"{mod}\n{src}")
        for dep in sorted(_engine_imports(mod, src)):
            # imported names that are not modules read as ''
            parts.append(f"{dep}\n{_module_source(dep)}")
    return hashlib.sha256("\x1e".join(parts).encode("utf-8")).hexdigest()


@dataclass
class CompareResult:
    name: str
    rows_spark: int
    rows_oracle: int
    cols_spark: list[str]
    cols_oracle: list[str]
    match: bool
    mismatches: list[str] = field(default_factory=list)
    spark_golden: dict | None = None

    @property
    def summary(self) -> str:
        status = "OK " if self.match else "FAIL"
        return f"[{status}] {self.name}: {self.rows_spark} rows" + (
            "" if self.match else f" — {'; '.join(self.mismatches[:3])}"
        )


def compare(name: str, spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> CompareResult:
    spark_pd = spark_df.toPandas()
    duck_pd = con.sql(sql).df()
    res = CompareResult(
        name=name,
        rows_spark=len(spark_pd),
        rows_oracle=len(duck_pd),
        cols_spark=sorted(spark_pd.columns),
        cols_oracle=sorted(duck_pd.columns),
        match=True,
        spark_golden=golden_hash(spark_pd, spark_df.schema),
    )
    if res.rows_spark != res.rows_oracle:
        res.match = False
        res.mismatches.append(f"row count {res.rows_spark} != {res.rows_oracle}")
    if res.cols_spark != res.cols_oracle:
        res.match = False
        res.mismatches.append(f"columns {res.cols_spark} != {res.cols_oracle}")
        return res
    a = canonical_rows(spark_pd)
    b = canonical_rows(duck_pd)
    if a != b:
        res.match = False
        diffs = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
        for i in diffs[:3]:
            res.mismatches.append(f"row {i}: spark={a[i]} oracle={b[i]}")
        if len(a) != len(b):  # pragma: no cover - caught above normally
            res.mismatches.append("row multiset size diff")
    return res
