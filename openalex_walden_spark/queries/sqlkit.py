"""The SQL vocabulary shared by the scrape-parse modules, once per dialect.

Each parse module renders ONE template, ``_sql(dialect)``, twice: as the
Spark SQL the query runs and as its DuckDB oracle.  ``kit(dialect)``
returns the dialect's helpers (each emits a SQL fragment) and ``build``
renders a template and applies the DuckDB post-pass.  A helper lives
here only when two or more modules emit the same SQL with it; a name
means one emitted form, so a variant gets its own name.

Spark string literals are backslash-escaped while DuckDB's are
standard SQL, so templates double every regex backslash and ``build``
halves them again for DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable


class _Kit:
    """Helpers written once for both dialects, over ``g``, ``S`` and the
    per-dialect primitives of the subclasses."""

    g: str  # regexp_replace's replace-all flag (DuckDB replaces once)
    S: str  # the string type
    fmt: str  # printf-style format function

    def cs(self, expr: str) -> str:
        return f"CAST({expr} AS {self.S})"

    def nullcols(self, *names: str) -> str:
        return ", ".join(f"CAST(NULL AS {self.S}) AS {n}" for n in names)

    def sq(self, text: str) -> str:
        """A Python string as the body of a SQL string literal."""
        return text.replace("'", "''")

    def rx(self, x: str, pat: str, grp: int) -> str:
        return f"nullif(regexp_extract({x}, '{pat}', {grp}), '')"

    def rxall(self, x: str, pat: str, grp: int) -> str:
        return f"regexp_extract_all({x}, '{pat}', {grp})"

    def unesc(self, x: str) -> str:
        return f"replace({x}, '&amp;', '&')"

    def clean(self, x: str) -> str:
        """NULL-safe whitespace collapse + strip; empty -> NULL."""
        return (f"nullif(trim(regexp_replace(coalesce({x}, ''), "
                f"'\\\\s+', ' '{self.g})), '')")

    def clean_ws(self, x: str) -> str:
        """NBSP -> space, whitespace collapse + strip; empty -> NULL."""
        return (f"nullif(trim(regexp_replace(replace({x}, chr(160), ' '), "
                f"'\\\\s+', ' '{self.g})), '')")

    def clean_ent(self, x: str) -> str:
        """``clean_ws`` after decoding ``&amp;`` and ``&nbsp;``."""
        return self.clean_ws(
            f"replace(replace({x}, '&amp;', '&'), '&nbsp;', ' ')")

    def striphtml(self, x: str) -> str:
        """Tags -> space, ``&amp;`` decode, whitespace collapse + strip;
        empty -> NULL."""
        return (f"nullif(trim(regexp_replace(replace(regexp_replace({x}, "
                f"'<[^>]+>', ' '{self.g}), '&amp;', '&'), '\\\\s+', ' '"
                f"{self.g})), '')")

    def slug(self, x: str) -> str:
        """Lowercase non-alnum runs -> '-', stripped, first 90 chars."""
        s = (f"regexp_replace(lower(coalesce({x}, '')), '[^a-z0-9]+', "
             f"'-'{self.g})")
        return f"substr(trim(BOTH '-' FROM {s}), 1, 90)"

    def slugify(self, x: str) -> str:
        """Lowercase non-alnum runs -> '-', stripped; empty -> 'unknown'."""
        s = (f"regexp_replace(lower(coalesce({x}, '')), '[^a-z0-9]+', "
             f"'-'{self.g})")
        return f"coalesce(nullif(trim(BOTH '-' FROM {s}), ''), 'unknown')"

    def noints(self) -> str:
        """An empty array typed as an INT array."""
        return self.head(self.arr("0"), "0")

    def jn(self, a: str, n: str) -> str:
        """The first ``n`` elements joined by a space."""
        return self.jnall(self.head(a, n))

    def jnall(self, a: str) -> str:
        return self.jnsep(a, "' '")

    def jnspan(self, a: str, start: str, length: str) -> str:
        """``length`` elements from ``start`` joined by a space."""
        return self.jnall(self.sl(a, start, length))


class _Spark(_Kit):
    g, S, fmt = "", "STRING", "format_string"

    def bar(self, name: str, prev: str, passthrough: list, cols: list,
            where: str = "") -> str:
        """A Generate barrier: CTE ``name`` over ``prev`` keeps the
        ``passthrough`` columns (``["*"]``: all) and adds ``cols``, a
        list of (name, expression) pairs; ``where`` is any text to put
        before the closing parenthesis.

        Chained CTEs that each derive columns from the last inline into
        one projection whose size multiplies at every reference (a
        70 MB optimized plan for the Canada Council parse).  Catalyst's
        CollapseProject cannot merge across a Generate, so each layer
        is a 1:1 ``explode(array(named_struct(...)))``; DuckDB inlines
        CTEs too, so its side of the barrier is MATERIALIZED."""
        ns = ", ".join(f"'{c}', {e}" for c, e in cols)
        sel = ", ".join(f"_s.{c} AS {c}" for c, _ in cols)
        pt = ", ".join(f"_p.{c}" for c in passthrough)
        return (f"{name} AS (\n  SELECT {pt}, {sel}\n  FROM {prev} _p\n"
                f"  LATERAL VIEW explode(array(named_struct({ns}))) "
                f"_bv AS _s\n{where})")

    def elem(self, a: str, i: str) -> str:
        return f"try_element_at({a}, {i})"

    def asize(self, a: str) -> str:
        return f"size({a})"

    def arr(self, *items: str) -> str:
        return f"array({', '.join(items)})" if items else "array()"

    def sl(self, a: str, start: str, length: str) -> str:
        return f"slice({a}, {start}, {length})"

    def head(self, a: str, n: str) -> str:
        return f"slice({a}, 1, {n})"

    def jnsep(self, a: str, sep: str) -> str:
        return f"array_join({a}, {sep})"

    def jnagg(self, a: str) -> str:
        return f"array_join({a}, ' ')"

    def splitre(self, x: str, pat: str) -> str:
        return f"split({x}, '{pat}')"

    def splitsp(self, x: str) -> str:
        return f"filter(split({x}, ' +'), x -> x <> '')"

    def splitws(self, x: str) -> str:
        return f"filter(split({x}, '\\\\s+'), t -> t <> '')"

    def filt(self, a: str, c: str) -> str:
        return f"filter({a}, t -> {c})"

    def tx(self, a: str, e: str) -> str:
        return f"transform({a}, t -> {e})"

    def amin(self, a: str) -> str:
        return f"array_min({a})"

    def overlap(self, a: str, b: str) -> str:
        return f"arrays_overlap({a}, {b})"

    def idx_of(self, a: str, cond: str, agg: str = "array_min") -> str:
        """1-based index of the first (``array_max``: last) element
        ``t`` satisfying ``cond``."""
        return (f"{agg}(zip_with({a}, sequence(1, size({a})), "
                f"(t, i) -> CASE WHEN {cond} THEN i END))")

    def rl(self, x: str, pat: str) -> str:
        return f"{x} RLIKE '{pat}'"

    def like(self, x: str, pat: str) -> str:
        return f"{x} rlike '{pat}'"

    def iso(self, x: str) -> str:
        return f"date_format(try_cast({x} AS TIMESTAMP), 'yyyy-MM-dd')"

    def titlecase(self, x: str) -> str:
        return f"initcap({x})"

    def tagtext(self, tag: str, text: str) -> str:
        """A {tag, text} struct literal."""
        return f"named_struct('tag', '{tag}', 'text', {text})"

    def trunc_int(self, x: str) -> str:
        return f"CAST({x} AS BIGINT)"


class _Duck(_Kit):
    g, S, fmt = ", 'g'", "VARCHAR", "printf"

    def bar(self, name: str, prev: str, passthrough: list, cols: list,
            where: str = "") -> str:
        sel = ", ".join(f"{e} AS {c}" for c, e in cols)
        pt = ", ".join(passthrough)
        return (f"{name} AS MATERIALIZED (\n  SELECT {pt}, {sel}\n"
                f"  FROM {prev}\n{where})")

    def elem(self, a: str, i: str) -> str:
        return f"{a}[({i})]"

    def asize(self, a: str) -> str:
        return f"len({a})"

    def arr(self, *items: str) -> str:
        return f"[{', '.join(items)}]" if items else "[]::VARCHAR[]"

    def sl(self, a: str, start: str, length: str) -> str:
        return f"list_slice({a}, {start}, ({start}) + ({length}) - 1)"

    def head(self, a: str, n: str) -> str:
        return f"list_slice({a}, 1, {n})"

    def jnsep(self, a: str, sep: str) -> str:
        return f"array_to_string({a}, {sep})"

    def jnagg(self, a: str) -> str:
        return f"list_aggr({a}, 'string_agg', ' ')"

    def splitre(self, x: str, pat: str) -> str:
        return f"regexp_split_to_array({x}, '{pat}')"

    def splitsp(self, x: str) -> str:
        return (f"list_filter(regexp_split_to_array({x}, ' +'), "
                f"x -> x <> '')")

    def splitws(self, x: str) -> str:
        return (f"list_filter(regexp_split_to_array({x}, '\\\\s+'), "
                f"t -> t <> '')")

    def filt(self, a: str, c: str) -> str:
        return f"list_filter({a}, t -> {c})"

    def tx(self, a: str, e: str) -> str:
        return f"list_transform({a}, t -> {e})"

    def amin(self, a: str) -> str:
        return f"list_min({a})"

    def overlap(self, a: str, b: str) -> str:
        return f"list_has_any({a}, {b})"

    def idx_of(self, a: str, cond: str, agg: str = "array_min") -> str:
        agg = "list_min" if agg == "array_min" else "list_max"
        return (f"{agg}(list_transform({a}, (t, i) -> "
                f"CASE WHEN {cond} THEN i END))")

    def rl(self, x: str, pat: str) -> str:
        return f"regexp_matches({x}, '{pat}')"

    like = rl

    def iso(self, x: str) -> str:
        return f"strftime(try_cast({x} AS TIMESTAMP), '%Y-%m-%d')"

    def titlecase(self, x: str) -> str:
        # no initcap in DuckDB 1.0: upper-case each space-split word's head
        return (f"array_to_string(list_transform(string_split({x}, ' '), "
                f"t -> upper(t[1]) || t[2:]), ' ')")

    def tagtext(self, tag: str, text: str) -> str:
        return f"{{'tag': '{tag}', 'text': {text}}}"

    def trunc_int(self, x: str) -> str:
        return f"CAST(trunc({x}) AS BIGINT)"


_KITS = {"spark": _Spark(), "duck": _Duck()}


def kit(dialect: str) -> _Kit:
    """The helpers for ``dialect`` (``"spark"`` or ``"duck"``)."""
    return _KITS[dialect]


def build(sql: Callable[[str], str], dialect: str) -> str:
    """Render the template ``sql`` for ``dialect``.  For DuckDB, halve
    the doubled backslashes and spell the string type VARCHAR."""
    text = sql(dialect)
    if dialect == "duck":
        text = text.replace("\\\\", "\\").replace("AS STRING", "AS VARCHAR")
    return text
