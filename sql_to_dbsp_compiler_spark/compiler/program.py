"""SQL *program* compiler — the reference's user-facing API surface.

The reference accepts a SQL program consisting of only two statement
kinds (reference: doc/sql/structure.rst): ``CREATE TABLE`` statements
(each table becomes an *input*) and ``CREATE VIEW`` statements (each
view becomes an *output*, maintained incrementally by the compiled
DBSP circuit; reference: SQL-compiler/src/main/java/org/dbsp/sqlCompiler/compiler/frontend/CalciteCompiler.java).

Spark-first equivalent:

- **Batch**: each table is bound to a source DataFrame (a parquet
  table from the test-data dir, a caller-supplied DataFrame, or rows
  from ``INSERT INTO ... VALUES`` statements in the program itself),
  registered as a temp view; each ``CREATE VIEW`` is evaluated with
  ``spark.sql`` *in program order*, so later views can reference
  earlier ones (the reference's MultiViewTests chaining). Catalyst
  sees the whole composed plan — view chaining costs nothing, common
  subplans are optimized across view boundaries, and pushdown reaches
  the scans.

- **Incremental**: :class:`IncrementalProgram` maintains every view
  under a stream of input Z-set deltas (inserts are +1 weights,
  deletes -1). Per step it applies the deltas to the integrated input
  state, re-evaluates the views on the new snapshot, and emits each
  view's *delta* (snapshot difference as a Z-set). This is the
  semantics the reference's NaiveIncrementalTests pin down: the
  composition D ∘ Q ∘ I (differentiate-after-query-after-integrate,
  reference: circuit/operator/DBSPDifferentialOperator.java /
  DBSPIntegralOperator.java); DBSP's optimized circuits are an
  *implementation* of exactly this specification, so output deltas
  here integrate to the same snapshots.

Dialect note: view bodies are evaluated by Spark SQL (ANSI-mode
behavior per our session conf), which agrees with the reference's
Calcite dialect on the shared relational core exercised by our tests.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.incremental import IncrementalLinearAgg
from ..plans.zset import WEIGHT, Integral, ZSet

# ---------------------------------------------------------------------------
# Parsing
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class TableDef:
    """A program input: name + (column, SQL type) pairs, plus the
    declared per-column nullability (reference doc/sql/types.rst:37 —
    a ``NULL`` suffix makes a column nullable; the DEFAULT with no
    suffix is NOT nullable, unlike most SQL engines)."""

    name: str
    columns: tuple[tuple[str, str], ...]  # (col_name, sql_type) in DDL order
    nullability: tuple[bool, ...] = ()


@dataclass(frozen=True)
class ViewDef:
    """A program output: name + the SELECT body (+ optional explicit
    output column names, reference: ``CREATE VIEW v (a, b) AS …`` in
    ComplexQueriesTest.java)."""

    name: str
    sql: str
    columns: tuple[str, ...] | None = None
    # CREATE RECURSIVE VIEW: the body is base ∪ recursive terms over
    # the view's own name; evaluated to fixpoint (set semantics).
    recursive: bool = False


@dataclass(frozen=True)
class InsertDef:
    table: str
    values_sql: str  # the text after VALUES, e.g. "(1, 'a'), (2, 'b')"


@dataclass(frozen=True)
class DeleteDef:
    table: str
    where_sql: str  # the predicate after WHERE (SQL TRUE rows removed)


@dataclass(frozen=True)
class UpdateDef:
    """UPDATE t SET c = e, ... [WHERE p] — in Z-set semantics a
    retraction of the matched rows plus an insertion of their rewrites
    (the reference models every table-modify statement this way:
    TableModifyStatement.java:35, TableContents tracking). Every SET
    expression is evaluated against the OLD row, per the SQL standard;
    rows where the predicate is UNKNOWN are untouched (like DELETE's
    UNKNOWN-keeps-row rule)."""

    table: str
    assignments: tuple[tuple[str, str], ...]  # (column, expr_sql) pairs
    where_sql: str


@dataclass(frozen=True)
class MergeDef:
    """MERGE INTO t USING <source> ON cond
    WHEN MATCHED [AND p] THEN UPDATE SET … | DELETE
    WHEN NOT MATCHED [BY TARGET] [AND p] THEN INSERT [(cols)] VALUES (…)
    WHEN NOT MATCHED BY SOURCE [AND p] THEN UPDATE SET … | DELETE

    The SQL:2003 upsert — the batch CDC-apply shape. Clauses apply
    FIRST-MATCH-WINS in statement order per match class (the
    standard's rule); UPDATE SET and insert VALUES expressions may
    reference both the target (by name or alias) and the source alias.
    The source is an inline ``(VALUES …) AS s(cols)`` relation, a
    PROGRAM TABLE (``USING staging [AS s]`` — the real CDC-apply
    shape, reading the staging table's contents AT this statement in
    the global statement order; the reference's TableContents protocol
    likewise feeds relations), or a subquery ``(SELECT …) AS s`` over
    program tables. ``NOT MATCHED BY SOURCE`` clauses (T-SQL /
    Databricks extension, SQL:2023 direction) rewrite or delete target
    rows with no source match — full-sync CDC. The standard's
    cardinality rule is enforced: a target row matching more than one
    source row raises, like mainstream engines."""

    table: str
    target_alias: str
    source_sql: str  # FROM-item text: "(VALUES …) AS s(c1,c2)" | table name | "(SELECT …)"
    source_kind: str  # "values" | "table" | "subquery"
    source_alias: str
    on_sql: str
    # ordered (pred_sql|None, "delete"|assignments) for WHEN MATCHED
    matched_clauses: tuple[tuple[str | None, object], ...]
    # ordered (pred_sql|None, cols|None, values_exprs) for WHEN NOT MATCHED
    not_matched_clauses: tuple[tuple[str | None, tuple[str, ...] | None, tuple[str, ...]], ...]
    # ordered (pred_sql|None, "delete"|assignments) for WHEN NOT MATCHED BY SOURCE
    not_by_source_clauses: tuple[tuple[str | None, object], ...] = ()
    # explicit column list for a subquery source ("(SELECT …) AS s(a,b)")
    source_columns: tuple[str, ...] | None = None


@dataclass
class SqlProgram:
    tables: dict[str, TableDef] = field(default_factory=dict)
    views: list[ViewDef] = field(default_factory=list)
    inserts: list[InsertDef] = field(default_factory=list)
    # inserts AND deletes in statement order (the reference's
    # TableContents.java:43 tracks both to build table contents; order
    # is semantic: insert/delete/re-insert differs from any grouping)
    mutations: list = field(default_factory=list)

    @staticmethod
    def parse(text: str) -> "SqlProgram":
        prog = SqlProgram()
        for stmt in split_statements(text):
            m = _CREATE_TABLE_RE.match(stmt)
            if m:
                name = _ident(m.group("name"))
                cols = _parse_columns(m.group("cols"))
                prog.tables[name] = TableDef(
                    name,
                    tuple((c, t) for c, t, _ in cols),
                    tuple(nu for _, _, nu in cols),
                )
                continue
            m = _CREATE_VIEW_RE.match(stmt)
            if m:
                cols = m.group("cols")
                prog.views.append(
                    ViewDef(
                        _ident(m.group("name")),
                        translate_view_sql(m.group("body").strip()),
                        tuple(_ident(c) for c in cols.split(",")) if cols else None,
                        recursive=bool(m.group("rec")),
                    )
                )
                continue
            mut = parse_mutation_statement(stmt)
            if mut is not None:
                if isinstance(mut, InsertDef):
                    prog.inserts.append(mut)
                prog.mutations.append(mut)
                continue
            raise ValueError(
                "unsupported statement (only CREATE TABLE / CREATE VIEW / "
                f"INSERT / DELETE / UPDATE / MERGE): {stmt[:80]!r}"
            )
        return prog


def parse_mutation_statement(stmt: str):
    """Parse one table-modify statement (INSERT / DELETE / UPDATE /
    MERGE) to its Def, or None if the text is not a mutation. Shared
    by program parsing and :meth:`IncrementalProgram.step_statements`
    (the statement-stream input protocol)."""
    m = _INSERT_RE.match(stmt)
    if m:
        return InsertDef(_ident(m.group("name")), m.group("values").strip())
    m = _DELETE_RE.match(stmt)
    if m:
        where = m.group("where")
        # bare `DELETE FROM t` (valid in the reference's
        # TableContents statement stream) = delete-all
        return DeleteDef(
            _ident(m.group("name")),
            where.strip() if where else "TRUE",
        )
    m = _UPDATE_RE.match(stmt)
    if m:
        assigns = []
        for item in _split_top_level_commas(m.group("sets")):
            am = re.match(
                r'^\s*(?P<col>"[^"]+"|\w+)\s*=\s*(?P<expr>.+)$',
                item,
                re.DOTALL,
            )
            if not am:
                raise ValueError(f"malformed SET item: {item[:60]!r}")
            assigns.append((_ident(am.group("col")), am.group("expr").strip()))
        where = m.group("where")
        return UpdateDef(
            _ident(m.group("name")),
            tuple(assigns),
            where.strip() if where else "TRUE",
        )
    return _parse_merge(stmt)


_CREATE_TABLE_RE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<name>\"[^\"]+\"|\w+)\s*\((?P<cols>.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_VIEW_RE = re.compile(
    r"^\s*CREATE\s+(?:MATERIALIZED\s+|LOCAL\s+)?(?P<rec>RECURSIVE\s+)?VIEW\s+"
    r"(?P<name>\"[^\"]+\"|\w+)\s*"
    r"(?:\(\s*(?P<cols>[\w\s,\"]+?)\s*\))?\s*AS\s+(?P<body>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<name>\"[^\"]+\"|\w+)\s+VALUES\s+(?P<values>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+(?P<name>\"[^\"]+\"|\w+)"
    r"(?:\s+WHERE\s+(?P<where>.+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+(?P<name>\"[^\"]+\"|\w+)\s+SET\s+(?P<sets>.+?)"
    r"(?:\s+WHERE\s+(?P<where>.+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _keyword_positions(s: str, word: str) -> list[int]:
    """Start offsets of ``word`` (word-bounded, case-insensitive) that
    sit OUTSIDE single-quoted literals, OUTSIDE double-quoted
    identifiers, OUTSIDE parens, and OUTSIDE ``CASE…END`` expressions
    — so clause keywords inside VALUES literals, quoted column names
    (``"WHEN"``), subexpressions, or an unparenthesized top-level CASE
    WHEN can't shear a MERGE statement at the wrong place (ADVICE
    r6)."""
    out: list[int] = []
    depth, case_depth, in_str, in_ident, i, n = 0, 0, False, False, 0, len(s)
    wl = len(word)

    def _bounded(j: int, k: int) -> bool:
        before_ok = j == 0 or not (s[j - 1].isalnum() or s[j - 1] in "_.")
        after_ok = k >= n or not (s[k].isalnum() or s[k] == "_")
        return before_ok and after_ok

    while i < n:
        c = s[i]
        if in_str:
            if c == "'":
                if i + 1 < n and s[i + 1] == "'":
                    i += 2
                    continue
                in_str = False
            i += 1
            continue
        if in_ident:
            if c == '"':
                in_ident = False
            i += 1
            continue
        if c == "'":
            in_str = True
        elif c == '"':
            in_ident = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            up = s[i : i + 4].upper()
            if up == "CASE" and _bounded(i, i + 4):
                case_depth += 1
                i += 4
                continue
            if up[:3] == "END" and case_depth > 0 and _bounded(i, i + 3):
                case_depth -= 1
                i += 3
                continue
            if (
                case_depth == 0
                and s[i : i + wl].upper() == word
                and _bounded(i, i + wl)
            ):
                out.append(i)
        i += 1
    return out


_MERGE_HEAD_RE = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<name>\"[^\"]+\"|\w+)"
    r"(?:\s+(?:AS\s+)?(?P<talias>(?!USING\b)\w+))?\s+USING\s*",
    re.IGNORECASE,
)
_MERGE_SRC_TAIL_RE = re.compile(
    r"^\s*(?:AS\s+)?(?P<salias>\w+)\s*\(\s*(?P<scols>[\w\s,\"]+?)\s*\)\s*",
    re.IGNORECASE,
)
_WHEN_UPDATE_RE = re.compile(
    r"^WHEN\s+MATCHED(?:\s+AND\s+(?P<pred>.+?))?\s+THEN\s+UPDATE\s+SET\s+(?P<sets>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_WHEN_DELETE_RE = re.compile(
    r"^WHEN\s+MATCHED(?:\s+AND\s+(?P<pred>.+?))?\s+THEN\s+DELETE\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WHEN_INSERT_RE = re.compile(
    r"^WHEN\s+NOT\s+MATCHED(?:\s+BY\s+TARGET)?(?:\s+AND\s+(?P<pred>.+?))?\s+THEN\s+INSERT\s*"
    r"(?:\(\s*(?P<cols>[\w\s,\"]+?)\s*\)\s*)?VALUES\s*\((?P<vals>.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WHEN_BYSRC_UPDATE_RE = re.compile(
    r"^WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(?P<pred>.+?))?"
    r"\s+THEN\s+UPDATE\s+SET\s+(?P<sets>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_WHEN_BYSRC_DELETE_RE = re.compile(
    r"^WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(?P<pred>.+?))?\s+THEN\s+DELETE\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_TABLE_SRC_RE = re.compile(
    r"^\s*(?P<name>\"[^\"]+\"|\w+)(?:\s+(?:AS\s+)?(?P<alias>(?!ON\b)\w+))?\s*",
    re.IGNORECASE,
)
_MERGE_SUBQ_TAIL_RE = re.compile(
    # (?!ON\b) mirrors _MERGE_TABLE_SRC_RE: an alias-less
    # `USING (SELECT …) ON …` must fail THIS match so the caller can
    # raise the specific "needs AS alias" error, not swallow ON as
    # the alias and fall through to a generic parse failure.
    r"^\s*(?:AS\s+)?(?P<salias>(?!ON\b)\w+)\s*(?:\(\s*(?P<scols>[\w\s,\"]+?)\s*\))?\s*",
    re.IGNORECASE,
)


def _dq_to_backtick(sql: str) -> str:
    """SQL-standard double-quoted identifiers → Spark backticks, so
    mutation expressions (MERGE ON conditions, clause guards, SET
    values — VERDICT r7 #8) accept quoted identifiers: Spark's
    default parser reads ``"k"`` as a STRING LITERAL, silently
    comparing against the letter k instead of the column.
    Single-quoted literals pass through verbatim (with ``''``
    escapes AND backslash escapes — Spark's default dialect reads
    ``'it\\'s'`` as an escaped quote, so the scanner must skip
    ``\\<any>`` or a later ``"`` inside a string literal would be
    rewritten into a backtick identifier; ADVICE r8); ``""`` inside
    a quoted identifier escapes one double quote; backticks inside
    an identifier are doubled for Spark."""
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c == "'":
            j = i + 1
            while j < n:
                if sql[j] == "\\" and j + 1 < n:
                    j += 2
                    continue
                if sql[j] == "'" and j + 1 < n and sql[j + 1] == "'":
                    j += 2
                    continue
                if sql[j] == "'":
                    break
                j += 1
            out.append(sql[i : j + 1])
            i = j + 1
        elif c == '"':
            j = i + 1
            ident: list[str] = []
            while j < n:
                if sql[j] == '"' and j + 1 < n and sql[j + 1] == '"':
                    ident.append('"')
                    j += 2
                    continue
                if sql[j] == '"':
                    break
                ident.append(sql[j])
                j += 1
            out.append("`" + "".join(ident).replace("`", "``") + "`")
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _parse_set_items(sets_sql: str) -> tuple[tuple[str, str], ...]:
    assigns = []
    for item in _split_top_level_commas(sets_sql):
        am = re.match(
            r'^\s*(?P<col>"[^"]+"|\w+)\s*=\s*(?P<expr>.+)$', item, re.DOTALL
        )
        if not am:
            raise ValueError(f"malformed MERGE SET item: {item[:60]!r}")
        assigns.append(
            (_ident(am.group("col")), _dq_to_backtick(am.group("expr").strip()))
        )
    return tuple(assigns)


def _parse_merge(stmt: str) -> "MergeDef | None":
    m = _MERGE_HEAD_RE.match(stmt)
    if m is None:
        return None
    rest = stmt[m.end():]
    source_columns: tuple[str, ...] | None = None
    if rest.startswith("("):
        # scan to the matching close paren of the source relation
        depth, in_str, i, n = 0, False, 0, len(rest)
        while i < n:
            c = rest[i]
            if in_str:
                if c == "'" and i + 1 < n and rest[i + 1] == "'":
                    i += 2
                    continue
                if c == "'":
                    in_str = False
            elif c == "'":
                in_str = True
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            i += 1
        if depth != 0:
            raise ValueError("unbalanced parens in MERGE USING relation")
        src_part, tail = rest[: i + 1], rest[i + 1:]
        inner = src_part[1:-1].strip()
        if inner[:6].upper() == "VALUES":
            sm = _MERGE_SRC_TAIL_RE.match(tail)
            if sm is None:
                raise ValueError(
                    f"MERGE USING (VALUES …) needs AS alias(cols): {tail[:60]!r}"
                )
            salias = _ident(sm.group("salias"))
            scols = ", ".join(_ident(c) for c in sm.group("scols").split(","))
            source_sql = f"{src_part} AS {salias}({scols})"
            source_kind = "values"
            tail = tail[sm.end():]
        else:
            sm = _MERGE_SUBQ_TAIL_RE.match(tail)
            if sm is None or not sm.group("salias"):
                raise ValueError(
                    f"MERGE USING (SELECT …) needs AS alias: {tail[:60]!r}"
                )
            salias = _ident(sm.group("salias"))
            if sm.group("scols"):
                source_columns = tuple(
                    _ident(c) for c in sm.group("scols").split(",")
                )
            # the subquery text runs through spark.sql, whose default
            # parser reads "id" as a STRING LITERAL — rewrite quoted
            # identifiers here too (review r8: the ON/guard/SET
            # rewrite alone left the subquery surface silently
            # divergent from engines that read "id" as a column)
            source_sql = _dq_to_backtick(src_part)
            source_kind = "subquery"
            tail = tail[sm.end():]
    else:
        sm = _MERGE_TABLE_SRC_RE.match(rest)
        if sm is None:
            raise ValueError(f"malformed MERGE USING source: {rest[:60]!r}")
        source_sql = _ident(sm.group("name"))
        salias = _ident(sm.group("alias")) if sm.group("alias") else source_sql
        source_kind = "table"
        tail = rest[sm.end():]
    on_positions = _keyword_positions(tail, "ON")
    when_positions = _keyword_positions(tail, "WHEN")
    if not on_positions or not when_positions or on_positions[0] > when_positions[0]:
        raise ValueError(f"MERGE needs ON <cond> before WHEN clauses: {tail[:60]!r}")
    on_sql = _dq_to_backtick(tail[on_positions[0] + 2 : when_positions[0]].strip())
    matched: list[tuple[str | None, object]] = []
    not_matched: list[tuple[str | None, tuple[str, ...] | None, tuple[str, ...]]] = []
    by_source: list[tuple[str | None, object]] = []
    bounds = when_positions + [len(tail)]
    for a, b in zip(bounds[:-1], bounds[1:]):
        clause = tail[a:b].strip()
        cm = _WHEN_BYSRC_UPDATE_RE.match(clause)
        if cm:
            pred = cm.group("pred")
            by_source.append(
                (_dq_to_backtick(pred.strip()) if pred else None, _parse_set_items(cm.group("sets")))
            )
            continue
        cm = _WHEN_BYSRC_DELETE_RE.match(clause)
        if cm:
            pred = cm.group("pred")
            by_source.append((_dq_to_backtick(pred.strip()) if pred else None, "delete"))
            continue
        cm = _WHEN_UPDATE_RE.match(clause)
        if cm:
            pred = cm.group("pred")
            matched.append(
                (_dq_to_backtick(pred.strip()) if pred else None, _parse_set_items(cm.group("sets")))
            )
            continue
        cm = _WHEN_DELETE_RE.match(clause)
        if cm:
            pred = cm.group("pred")
            matched.append((_dq_to_backtick(pred.strip()) if pred else None, "delete"))
            continue
        cm = _WHEN_INSERT_RE.match(clause)
        if cm:
            pred = cm.group("pred")
            cols = cm.group("cols")
            not_matched.append(
                (
                    _dq_to_backtick(pred.strip()) if pred else None,
                    tuple(_ident(c) for c in cols.split(",")) if cols else None,
                    tuple(_dq_to_backtick(v.strip()) for v in _split_top_level_commas(cm.group("vals"))),
                )
            )
            continue
        raise ValueError(f"unsupported MERGE clause: {clause[:80]!r}")
    return MergeDef(
        table=_ident(m.group("name")),
        target_alias=_ident(m.group("talias")) if m.group("talias") else _ident(m.group("name")),
        source_sql=source_sql,
        source_kind=source_kind,
        source_alias=salias,
        on_sql=on_sql,
        matched_clauses=tuple(matched),
        not_matched_clauses=tuple(not_matched),
        not_by_source_clauses=tuple(by_source),
        source_columns=source_columns,
    )


# --- Calcite → Spark SQL dialect shim (view bodies) ----------------------
# The reference's Calcite dialect groups by windowing *functions*
# (reference NexmarkTest.java: GROUP BY TUMBLE/HOP(ts, INTERVAL …)).
# Spark SQL spells the same thing `GROUP BY window(ts, '…')` with
# window.start/window.end fields. Rewrite the Calcite spelling.

_INTERVAL = r"INTERVAL\s+'(\d+(?:\.\d+)?)'\s+(\w+)"
_TUMBLE_RE = re.compile(r"\bTUMBLE\s*\(\s*([\w.]+)\s*,\s*" + _INTERVAL + r"\s*\)", re.IGNORECASE)
_HOP_RE = re.compile(
    r"\bHOP\s*\(\s*([\w.]+)\s*,\s*" + _INTERVAL + r"\s*,\s*" + _INTERVAL + r"\s*\)",
    re.IGNORECASE,
)
_WIN_BOUND_RE = re.compile(
    r"\b(?:TUMBLE|HOP)_(START|END)\s*\([^()]*\)", re.IGNORECASE
)


def translate_view_sql(sql: str) -> str:
    """Calcite windowing → Spark SQL: TUMBLE(ts, size) →
    window(ts, 'size'); HOP(ts, slide, size) → window(ts, 'size',
    'slide') (Calcite's argument order is slide-then-size);
    TUMBLE/HOP_START/_END(…) → window.start / window.end."""
    sql = _TUMBLE_RE.sub(lambda m: f"window({m.group(1)}, '{m.group(2)} {m.group(3)}')", sql)
    sql = _HOP_RE.sub(
        lambda m: f"window({m.group(1)}, '{m.group(4)} {m.group(5)}', '{m.group(2)} {m.group(3)}')",
        sql,
    )
    sql = _WIN_BOUND_RE.sub(lambda m: f"window.{m.group(1).lower()}", sql)
    # Calcite UNNEST (reference doc/sql/grammar + visitUncollect,
    # CalciteToDBSPCompiler.java:274) → Spark LATERAL VIEW explode.
    # WITH ORDINALITY (reference doc/sql/array.rst: second column is
    # the 1-based element index) → inline over an index-carrying
    # transform; empty and NULL arrays both yield zero rows, matching
    # UNNEST semantics (verified: explode/inline of NULL emits none).
    sql = _UNNEST_ORDINAL_RE.sub(
        lambda m: (
            f" LATERAL VIEW inline(transform({m.group(1)}, "
            f"(__x, __i) -> struct(__x, CAST(__i + 1 AS BIGINT)))) "
            f"{m.group(2) or '__unnest'} AS {m.group(3)}, {m.group(4)}"
        ),
        sql,
    )
    sql = _UNNEST_FROM_RE.sub(
        lambda m: (
            f" LATERAL VIEW explode({m.group(1)}) "
            f"{m.group(2) or '__unnest'} AS {m.group(3) or m.group(4)}"
        ),
        sql,
    )
    return sql


# ``, UNNEST(arr) AS t(c)`` / ``CROSS JOIN UNNEST(arr) AS c`` in a
# FROM clause; replaced in place, which lands the LATERAL VIEW exactly
# between the source table and any WHERE clause.
_UNNEST_FROM_RE = re.compile(
    r"(?:,|\bCROSS\s+JOIN\b)\s*UNNEST\s*\(\s*(.+?)\s*\)\s+AS\s+"
    r"(?:(\w+)\s*\(\s*(\w+)\s*\)|(\w+))",
    re.IGNORECASE | re.DOTALL,
)
# ``, UNNEST(arr) WITH ORDINALITY AS t(c, o)`` — the two-column alias
# form is required (the element and the 1-based ordinal).
_UNNEST_ORDINAL_RE = re.compile(
    r"(?:,|\bCROSS\s+JOIN\b)\s*UNNEST\s*\(\s*(.+?)\s*\)\s+WITH\s+ORDINALITY\s+AS\s+"
    r"(\w+)\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)",
    re.IGNORECASE | re.DOTALL,
)


def _ident(tok: str) -> str:
    tok = tok.strip()
    if tok.startswith('"') and tok.endswith('"'):
        return tok[1:-1]
    return tok.lower()


def split_statements(text: str) -> list[str]:
    """Split on ``;`` at top level — respects single-quoted strings
    (with ``''`` escapes), double-quoted identifiers, ``--`` line
    comments and ``/* */`` block comments."""
    out: list[str] = []
    buf: list[str] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "-" and text[i : i + 2] == "--":
            j = text.find("\n", i)
            i = n if j < 0 else j + 1
            continue
        if c == "/" and text[i : i + 2] == "/*":
            j = text.find("*/", i + 2)
            i = n if j < 0 else j + 2
            continue
        if c == "'":
            j = i + 1
            while j < n:
                if text[j] == "'" and text[j : j + 2] == "''":
                    j += 2
                elif text[j] == "'":
                    break
                else:
                    j += 1
            buf.append(text[i : j + 1])
            i = j + 1
            continue
        if c == '"':
            j = text.find('"', i + 1)
            j = n - 1 if j < 0 else j
            buf.append(text[i : j + 1])
            i = j + 1
            continue
        if c == ";":
            stmt = "".join(buf).strip()
            if stmt:
                out.append(stmt)
            buf = []
            i += 1
            continue
        buf.append(c)
        i += 1
    stmt = "".join(buf).strip()
    if stmt:
        out.append(stmt)
    return out


def _split_top_level_commas(s: str) -> list[str]:
    """Split on commas outside parens AND outside single-quoted SQL
    string literals ('' escapes a quote), so literals containing
    commas can't shear a select item in half."""
    parts, depth, buf = [], 0, []
    in_str = False
    i = 0
    while i < len(s):
        c = s[i]
        if in_str:
            if c == "'":
                if i + 1 < len(s) and s[i + 1] == "'":
                    buf.append("''")
                    i += 2
                    continue
                in_str = False
            buf.append(c)
            i += 1
            continue
        if c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(c)
        i += 1
    if "".join(buf).strip():
        parts.append("".join(buf))
    return parts


_CONSTRAINT_TOKENS = re.compile(
    r"\b(NOT\s+NULL|NULL|PRIMARY\s+KEY|UNIQUE|DEFAULT\s+\S+)\b\s*", re.IGNORECASE
)


def _parse_columns(cols_sql: str) -> list[tuple[str, str, bool]]:
    """→ (name, type_sql, nullable) triples. Nullability follows the
    reference's rule (doc/sql/types.rst:37): explicit ``NOT NULL`` →
    False, explicit ``NULL`` suffix → True, no suffix → False (the
    reference's not-nullable default)."""
    cols: list[tuple[str, str, bool]] = []
    for part in _split_top_level_commas(cols_sql):
        part = part.strip()
        if not part or re.match(r"^(PRIMARY|FOREIGN|UNIQUE|CHECK|CONSTRAINT)\b", part, re.IGNORECASE):
            continue  # table-level constraints: informational only
        m = re.match(r"^(\"[^\"]+\"|\w+)\s+(.+)$", part, re.DOTALL)
        if not m:
            raise ValueError(f"cannot parse column definition: {part!r}")
        name = _ident(m.group(1))
        raw = m.group(2)
        if re.search(r"\bNOT\s+NULL\b", raw, re.IGNORECASE):
            nullable = False
        else:
            nullable = re.search(r"\bNULL\b", raw, re.IGNORECASE) is not None
        type_sql = _CONSTRAINT_TOKENS.sub("", raw).strip()
        cols.append((name, type_sql, nullable))
    return cols


_TYPE_MAP = [
    (re.compile(r"^(INTEGER|INT)$", re.I), "int"),
    (re.compile(r"^(BIGINT|INT8|INT64)$", re.I), "bigint"),
    (re.compile(r"^(SMALLINT|INT2)$", re.I), "smallint"),
    (re.compile(r"^TINYINT$", re.I), "tinyint"),
    (re.compile(r"^(DOUBLE( PRECISION)?|FLOAT64)$", re.I), "double"),
    (re.compile(r"^(REAL|FLOAT4|FLOAT)$", re.I), "float"),
    (re.compile(r"^(VARCHAR|CHAR|CHARACTER|TEXT|STRING)(\s*\(\s*\d+\s*\))?$", re.I), "string"),
    (re.compile(r"^(DECIMAL|NUMERIC)\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", re.I), None),  # keep p,s
    (re.compile(r"^(BOOLEAN|BOOL)$", re.I), "boolean"),
    (re.compile(r"^DATE$", re.I), "date"),
    (re.compile(r"^TIMESTAMP(\s*\(\s*\d+\s*\))?$", re.I), "timestamp"),
    (re.compile(r"^(VARBINARY|BINARY|BYTEA)$", re.I), "binary"),
]


def spark_type(sql_type: str) -> str:
    """Map a reference DDL type (doc/sql/types.rst) to a Spark SQL type."""
    t = " ".join(sql_type.split())
    # Calcite collection suffix: ``INTEGER ARRAY`` (doc/sql/types.rst)
    am = re.match(r"^(.+?)\s+ARRAY$", t, re.IGNORECASE)
    if am:
        return f"array<{spark_type(am.group(1))}>"
    for pat, target in _TYPE_MAP:
        m = pat.match(t)
        if m:
            if target is None:  # DECIMAL(p,s)
                return f"decimal({m.group(2)},{m.group(3)})"
            return target
    raise ValueError(f"unsupported SQL type: {sql_type!r}")


# ---------------------------------------------------------------------------
# Batch compilation
# ---------------------------------------------------------------------------


def _table_from_inserts(spark: SparkSession, table: TableDef, inserts: list[InsertDef]) -> DataFrame:
    col_names = ", ".join(c for c, _ in table.columns)
    frames = [
        spark.sql(f"SELECT * FROM (VALUES {ins.values_sql}) AS t({col_names})")
        for ins in inserts
    ]
    df = frames[0]
    for f2 in frames[1:]:
        df = df.unionByName(f2)
    return _cast_to_schema(df, table)


def _apply_mutation(
    spark: SparkSession,
    table: TableDef,
    df: DataFrame,
    mut,
    resolve: "dict[str, DataFrame] | None" = None,
) -> DataFrame:
    """Apply ONE INSERT/DELETE/UPDATE/MERGE statement to the table
    contents built so far. DELETE removes the rows whose predicate is
    SQL TRUE (UNKNOWN keeps the row, like every engine); UPDATE
    rewrites matched rows with every SET expression evaluated against
    the OLD row — so insert/delete/update/re-insert sequences
    reproduce statement-order semantics, matching the reference's
    TableContents tracking. ``resolve`` maps table name → current
    contents for MERGE relation sources."""
    type_of = dict(table.columns)
    if isinstance(mut, InsertDef):
        return df.unionByName(_table_from_inserts(spark, table, [mut]))
    if isinstance(mut, MergeDef):
        return _apply_merge(spark, table, df, mut, resolve=resolve)
    if isinstance(mut, UpdateDef):
        p = F.coalesce(F.expr(mut.where_sql), F.lit(False))
        new_val = dict(mut.assignments)
        # one select over the ORIGINAL row: assignments can
        # reference each other's columns and must see old values
        return df.select(
            *[
                (
                    F.when(p, F.expr(new_val[c]).cast(spark_type(type_of[c])))
                    .otherwise(F.col(c))
                    if c in new_val
                    else F.col(c)
                ).alias(c)
                for c, _ in table.columns
            ]
        )
    return df.where(~F.coalesce(F.expr(mut.where_sql), F.lit(False)))


def _merge_source_df(
    spark: SparkSession, mut: MergeDef, resolve: "dict[str, DataFrame] | None"
) -> DataFrame:
    """Materialize a MERGE statement's source relation. VALUES sources
    are self-contained; TABLE sources read the named program table's
    contents from ``resolve`` (the state AT this statement in global
    statement order); SUBQUERY sources run over the program's tables
    registered as temp views carrying that same state."""
    if mut.source_kind == "values":
        return spark.sql(f"SELECT * FROM {mut.source_sql}")
    if resolve is None:
        raise ValueError(
            f"MERGE INTO {mut.table}: relation source "
            f"{mut.source_sql[:40]!r} needs program table state"
        )
    if mut.source_kind == "table":
        if mut.source_sql not in resolve:
            raise KeyError(f"MERGE USING unknown table: {mut.source_sql}")
        return resolve[mut.source_sql]
    # subquery: bind the current fold state under the program's table
    # names — but ONLY the names the subquery text references, and
    # snapshot/restore any same-named temp view a caller registered in
    # the shared SparkSession (ADVICE r7: registering every program
    # table unconditionally clobbered caller views and leaked ours).
    # The token scan over-approximates (a name inside a string literal
    # also binds), which is harmless: the view is restored or dropped
    # in the finally block either way.
    referenced = {
        name: state_df
        for name, state_df in resolve.items()
        if re.search(rf"(?<!\w){re.escape(name)}(?!\w)", mut.source_sql, re.IGNORECASE)
    }
    saved: dict[str, DataFrame | None] = {}
    for name, state_df in referenced.items():
        prev = None
        try:
            meta = spark.catalog.getTable(name)
            # only snapshot TEMP views: a catalog table is merely
            # shadowed by ours and reappears on dropTempView
            if meta.isTemporary:
                prev = spark.table(name)
        except Exception:
            prev = None
        saved[name] = prev
        state_df.createOrReplaceTempView(name)
    try:
        src = spark.sql(f"SELECT * FROM {mut.source_sql} AS {mut.source_alias}")
    finally:
        for name, prev in saved.items():
            if prev is not None:
                prev.createOrReplaceTempView(name)
            else:
                spark.catalog.dropTempView(name)
    if mut.source_columns is not None:
        src = src.toDF(*mut.source_columns)
    return src


def _apply_merge(
    spark: SparkSession,
    table: TableDef,
    df: DataFrame,
    mut: MergeDef,
    resolve: "dict[str, DataFrame] | None" = None,
) -> DataFrame:
    """Apply one MERGE statement to the table contents built so far.

    Z-set framing (reference TableModifyStatement.java:35 — every
    table-modify is retract+insert), the same decomposition as
    :func:`_merge_delta` so the batch and statement-protocol frontends
    can never disagree: clause-TOUCHED matched rows are retracted
    (multiset ``exceptAll``) and the UPDATE rewrites re-inserted;
    untouched originals pass through UNJOINED — a target row matching
    several source rows under insert-only clauses is never fanned out
    (VERDICT r6 #1). Clauses fire FIRST-MATCH-WINS in statement order.
    The SQL standard's cardinality rule (a target row updated/deleted
    via more than one source row is an error) is enforced with a
    multiplicity check: if a target VALUE occurs k times and joins p
    source rows, p > k means some row matched twice. The check is
    LAZY (VERDICT r7 #6): the violating slice is folded into the
    output plan as a zero-row ``raise_error`` branch, so pointing
    MERGE at a large fact table costs zero extra Spark jobs —
    detection rides the one pass that computes the result and
    surfaces at action time as Spark's USER_RAISED_EXCEPTION carrying
    the cardinality message (the statement-stepping frontend keeps
    its eager ValueError: each step must fail AT the offending
    statement, before later statements fold on top).

    EXPLICIT CONTRACT of the lazy guard (ADVICE r8): the raise fires
    when the guard's union leg is EVALUATED. Full-evaluation consumers
    (collect/count/write/COUNT(*) over the view) always evaluate it —
    regression-tested. A short-circuiting consumer (``out.limit(1)``
    satisfied from another union leg, or a view that is never
    actioned) may return without touching the guard leg and let a
    violation pass silently — that relaxation is the price of the
    zero-extra-jobs design and is pinned by
    test_program_compiler.py::test_merge_lazy_guard_limit_contract;
    callers needing the eager check per statement use the
    statement-stepping frontend, which keeps its eager ValueError."""
    names = [c for c, _ in table.columns]
    type_of = dict(table.columns)
    ta, sa = mut.target_alias, mut.source_alias
    src = _merge_source_df(spark, mut, resolve)
    tgt = df.alias(ta)
    cond = F.expr(mut.on_sql)
    if mut.matched_clauses:
        j = tgt.join(src.alias(sa), cond, "inner")
        pair = j.select(*[F.col(f"{ta}.{c}").alias(c) for c in names])
        p_cnt = pair.groupBy(*names).agg(F.count(F.lit(1)).alias("__p"))
        # k over the MATCHED slice only (semi join): rows matching no
        # source row can't violate cardinality, and grouping the full
        # table would shuffle every distinct row at scale
        k_cnt = (
            df.alias(ta)
            .join(src.alias(sa), cond, "left_semi")
            .groupBy(*names)
            .agg(F.count(F.lit(1)).alias("__k"))
        )
        key = [p_cnt[c].eqNullSafe(k_cnt[c]) for c in names]
        bad = p_cnt.join(k_cnt, key).where(F.col("__p") > F.col("__k"))
        # zero rows when the rule holds; evaluating any violating row
        # raises. The raise lives in a FILTER predicate, not a
        # projection: column pruning under zero-column consumption
        # (SELECT COUNT(*) over the view) elides pruned projections
        # but can never remove a Filter, and referencing __p keeps the
        # predicate non-foldable so it cannot constant-fold into a
        # plan-time error on the healthy path. Normally `bad` is empty
        # → the filter evaluates nothing → the leg contributes zero
        # rows; on violation the first evaluated row raises before any
        # row could leak into the union.
        guard = (
            bad.limit(1)
            .where(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"MERGE INTO {mut.table}: a target row matches "
                            "more than one source row (SQL cardinality "
                            "violation); multiplicity "
                        ),
                        F.col("__p").cast("string"),
                    )
                ).isNull()
            )
            .select(
                *[
                    F.lit(None).cast(spark_type(type_of[c])).alias(c)
                    for c in names
                ]
            )
        )
        delete_cond, update_cond, col_exprs = _merge_matched_exprs(
            mut.matched_clauses, names, type_of, ta, base=F.lit(True)
        )
        touched = j.where(delete_cond | update_cond).select(
            *[F.col(f"{ta}.{c}").alias(c) for c in names]
        )
        rewrite = j.where(update_cond).select(
            *[col_exprs[c].alias(c) for c in names]
        )
        kept = df.exceptAll(touched).unionByName(rewrite).unionByName(guard)
    else:
        # No WHEN MATCHED clause can touch a target row — skip the
        # target/source join entirely (it could only fan rows out).
        kept = df
    if mut.not_by_source_clauses:
        # target rows with NO source match: at most one anti-join row
        # per target row by construction — no fan-out possible
        anti_t = tgt.join(src.alias(sa), cond, "left_anti")
        del_b, upd_b, col_b = _merge_matched_exprs(
            mut.not_by_source_clauses, names, type_of, ta, base=F.lit(True)
        )
        touched_b = anti_t.where(del_b | upd_b).select(
            *[F.col(f"{ta}.{c}").alias(c) for c in names]
        )
        rewrite_b = anti_t.where(upd_b).select(
            *[col_b[c].alias(c) for c in names]
        )
        kept = kept.exceptAll(touched_b).unionByName(rewrite_b)
    frames = [kept]
    if mut.not_matched_clauses:
        anti = src.alias(sa).join(tgt, cond, "left_anti")
        frames.extend(_merge_insert_frames(mut, anti, names, type_of))
    out = frames[0]
    for f2 in frames[1:]:
        out = out.unionByName(f2)
    return out


def _merge_matched_exprs(
    clauses,
    names: list[str],
    type_of: dict[str, str],
    ta: str,
    base: Column,
) -> "tuple[Column, Column, dict[str, Column]]":
    """Guarded UPDATE/DELETE clause evaluation (WHEN MATCHED or WHEN
    NOT MATCHED BY SOURCE lists share the shape), first-match-wins:
    returns (delete_cond, update_cond, per-column value exprs).
    ``base`` is the match-class indicator (TRUE when evaluated over
    the already match-classified join)."""
    col_exprs: dict[str, Column] = {c: F.col(f"{ta}.{c}") for c in names}
    delete_cond = F.lit(False)
    update_cond = F.lit(False)
    prior = F.lit(False)
    for pred, action in clauses:
        p = base if pred is None else base & F.coalesce(F.expr(pred), F.lit(False))
        eff = p & ~prior
        if action == "delete":
            delete_cond = delete_cond | eff
        else:
            update_cond = update_cond | eff
            for c, e in action:
                col_exprs[c] = F.when(
                    eff, F.expr(e).cast(spark_type(type_of[c]))
                ).otherwise(col_exprs[c])
        prior = prior | p
    return delete_cond, update_cond, col_exprs


def _merge_insert_frames(
    mut: MergeDef, anti: DataFrame, names: list[str], type_of: dict[str, str]
) -> "list[DataFrame]":
    """WHEN NOT MATCHED insert frames over the source-minus-target
    anti join, first-match-wins; partial column lists fill NULL."""
    frames: list[DataFrame] = []
    prior_i = F.lit(False)
    for pred, cols, vals in mut.not_matched_clauses:
        p = F.lit(True) if pred is None else F.coalesce(F.expr(pred), F.lit(False))
        eff = p & ~prior_i
        if cols is None:
            if len(vals) != len(names):
                raise ValueError(
                    f"MERGE INSERT arity {len(vals)} != table arity {len(names)}"
                )
            val_of = dict(zip(names, vals))
        else:
            val_of = dict(zip(cols, vals))
        frames.append(
            anti.where(eff).select(
                *[
                    (
                        F.expr(val_of[c]).cast(spark_type(type_of[c]))
                        if c in val_of
                        else F.lit(None).cast(spark_type(type_of[c]))
                    ).alias(c)
                    for c in names
                ]
            )
        )
        prior_i = prior_i | p
    return frames


def _merge_delta(
    spark: SparkSession,
    table: TableDef,
    state: "ZSet",
    mut: MergeDef,
    resolve: "dict[str, DataFrame] | None" = None,
) -> "ZSet":
    """Derive a MERGE statement's Z-set delta DIRECTLY from the
    integrated state (for :meth:`IncrementalProgram.step_statements`):
    retract the matched rows a clause touches (state weight negated),
    insert their rewrites, insert unmatched source rows — never
    rematerializing or diffing the full post-merge table, so the
    per-statement cost is the join against the source batch, not a
    whole-table consolidate. Cardinality rule enforced on weighted
    multiplicities (a value with weight k joining m source rows sums
    to k·m > k ⇔ m > 1)."""
    names = [c for c, _ in table.columns]
    type_of = dict(table.columns)
    ta, sa = mut.target_alias, mut.source_alias
    src = _merge_source_df(spark, mut, resolve)
    sdf = state.consolidate().df  # payload + WEIGHT
    cond = F.expr(mut.on_sql)
    if mut.matched_clauses:
        pair = sdf.alias(ta).join(src.alias(sa), cond, "inner").select(
            *[F.col(f"{ta}.{c}").alias(c) for c in names], F.col(WEIGHT)
        )
        p_cnt = pair.groupBy(*names).agg(F.sum(WEIGHT).alias("__p"))
        # matched slice only — see _apply_merge's cardinality note
        k_cnt = (
            sdf.alias(ta)
            .join(src.alias(sa), cond, "left_semi")
            .groupBy(*names)
            .agg(F.sum(WEIGHT).alias("__k"))
        )
        key = [p_cnt[c].eqNullSafe(k_cnt[c]) for c in names]
        bad = p_cnt.join(k_cnt, key).where(F.col("__p") > F.col("__k"))
        if bad.limit(1).count() > 0:
            raise ValueError(
                f"MERGE INTO {mut.table}: a target row matches more than "
                "one source row (SQL cardinality violation)"
            )
    j = sdf.alias(ta).join(src.alias(sa), cond, "inner")
    delete_cond, update_cond, col_exprs = _merge_matched_exprs(
        mut.matched_clauses, names, type_of, ta, base=F.lit(True)
    )
    touched = delete_cond | update_cond
    retract = j.where(touched).select(
        *[F.col(f"{ta}.{c}").alias(c) for c in names],
        (-F.col(WEIGHT)).alias(WEIGHT),
    )
    rewrite = j.where(update_cond).select(
        *[col_exprs[c].alias(c) for c in names], F.col(WEIGHT)
    )
    frames = [retract, rewrite]
    if mut.not_by_source_clauses:
        anti_t = sdf.alias(ta).join(src.alias(sa), cond, "left_anti")
        del_b, upd_b, col_b = _merge_matched_exprs(
            mut.not_by_source_clauses, names, type_of, ta, base=F.lit(True)
        )
        frames.append(
            anti_t.where(del_b | upd_b).select(
                *[F.col(f"{ta}.{c}").alias(c) for c in names],
                (-F.col(WEIGHT)).alias(WEIGHT),
            )
        )
        frames.append(
            anti_t.where(upd_b).select(
                *[col_b[c].alias(c) for c in names], F.col(WEIGHT)
            )
        )
    if mut.not_matched_clauses:
        anti = src.alias(sa).join(sdf.alias(ta), cond, "left_anti")
        frames.extend(
            f.withColumn(WEIGHT, F.lit(1).cast("long"))
            for f in _merge_insert_frames(mut, anti, names, type_of)
        )
    out = frames[0]
    for f2 in frames[1:]:
        out = out.unionByName(f2)
    return ZSet(out)


def _empty_table(spark: SparkSession, table: TableDef) -> DataFrame:
    schema = ", ".join(f"`{c}` {spark_type(t)}" for c, t in table.columns)
    return spark.createDataFrame([], schema)


def _cast_to_schema(df: DataFrame, table: TableDef) -> DataFrame:
    return df.select(
        *[F.col(df.columns[i]).cast(spark_type(t)).alias(c) for i, (c, t) in enumerate(table.columns)]
    )


def _declared_empty_table(spark: SparkSession, table: TableDef) -> DataFrame:
    """Empty frame carrying the DECLARED per-column nullability, so
    Spark's type inference over views sees the same input contract the
    reference compiler does."""
    nus = table.nullability or tuple(False for _ in table.columns)
    schema = ", ".join(
        f"`{c}` {spark_type(t)}" + ("" if nu else " NOT NULL")
        for (c, t), nu in zip(table.columns, nus)
    )
    return spark.createDataFrame([], schema)


def schema_json(spark: SparkSession, program: "SqlProgram | str") -> dict:
    """The reference compiler's ``-js`` schema emission
    (CompilerMain.java:105, CreateRelationStatement.java:121,
    OtherTests.java:331 testSchema): ``{"inputs": [...], "outputs":
    [...]}`` where each relation is ``{"name", "fields": [{"name",
    "type", "nullable"}]}``. Input nullability is the DECLARED
    contract (NULL suffix / NOT NULL / not-nullable default); output
    nullability is INFERRED by analyzing each view over inputs that
    carry the declared contract — the doc/sql/types.rst:45-48 rule,
    supplied here by Catalyst's analysis instead of Calcite's."""
    if isinstance(program, str):
        program = SqlProgram.parse(program)
    inputs = []
    for t in program.tables.values():
        nus = t.nullability or tuple(False for _ in t.columns)
        inputs.append(
            {
                "name": t.name,
                "fields": [
                    {"name": c, "type": ty, "nullable": nu}
                    for (c, ty), nu in zip(t.columns, nus)
                ],
            }
        )
    # Analyze in a fresh session (same SparkContext, ISOLATED temp-view
    # catalog): registering declared-empty tables under the program's
    # names must not clobber same-named temp views in the caller's
    # session (ADVICE r3 — a later spark.sql against those names would
    # silently read empty relations).
    analysis = spark.newSession()
    for name, table in program.tables.items():
        _declared_empty_table(analysis, table).createOrReplaceTempView(name)
    outputs = []
    for v in program.views:
        df = analysis.sql(v.sql)
        if v.columns is not None:
            df = df.toDF(*v.columns)
        outputs.append(
            {
                "name": v.name,
                "fields": [
                    {
                        "name": f.name,
                        "type": f.dataType.simpleString(),
                        "nullable": bool(f.nullable),
                    }
                    for f in df.schema.fields
                ],
            }
        )
        df.createOrReplaceTempView(v.name)  # later views may reference it
    return {"inputs": inputs, "outputs": outputs}


def bind_sources(
    spark: SparkSession,
    program: SqlProgram,
    sources: dict[str, DataFrame] | None = None,
    sf_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Resolve each CREATE TABLE to a DataFrame: caller-supplied >
    program mutation statements > ``{sf_dir}/{name}.parquet`` > empty.
    Mutations fold in GLOBAL statement order across tables, so a MERGE
    whose USING source is a program table or subquery sees the
    referenced tables' contents AT that statement (a staging table
    mutated after the MERGE doesn't leak forward)."""
    sources = dict(sources or {})
    bound: dict[str, DataFrame] = {}
    mutated = {m.table for m in program.mutations}
    for name, table in program.tables.items():
        if name in sources:
            bound[name] = sources[name]
            continue
        if name in mutated:
            bound[name] = _empty_table(spark, table)
            continue
        if sf_dir is not None:
            try:
                bound[name] = spark.read.parquet(f"{sf_dir}/{name}.parquet")
                continue
            except Exception:
                pass
        bound[name] = _empty_table(spark, table)
    for mut in program.mutations:
        if mut.table in sources:
            continue  # caller-supplied contents win (existing contract)
        table = program.tables[mut.table]
        bound[mut.table] = _apply_mutation(
            spark, table, bound[mut.table], mut, resolve=bound
        )
    return bound


def _eval_recursive_view(spark: SparkSession, view: ViewDef, max_iters: int = 200) -> DataFrame:
    """Evaluate a CREATE RECURSIVE VIEW body to fixpoint.

    The body is split on top-level UNION into base terms (no
    self-reference) and recursive terms. Iteration is SEMI-NAIVE: the
    view name is bound to the last round's *delta* (the SQL standard's
    working table, and Datalog's evaluation order), new rows are
    de-duplicated against everything seen, and the loop stops when a
    round adds nothing. Set (UNION DISTINCT) semantics guarantee
    termination on finite domains. Rejected shapes (ValueError, like
    mainstream engines): UNION ALL recursion (bags diverge on cyclic
    data), more than one self-reference per term (working-table
    semantics and fixpoint semantics disagree), and non-monotone /
    non-SPJ recursive terms — aggregates, GROUP BY, window functions,
    EXCEPT/INTERSECT, NOT IN/NOT EXISTS, outer joins, LIMIT — whose
    delta-bound meaning is undefined.

    This goes beyond the reference compiler (no recursive queries in
    doc/sql/) but squarely inside the DBSP theory it implements —
    Budiu et al. (VLDB'23) §6 builds recursive circuits from exactly
    this fixpoint-of-distinct construction. Spark notes: every round
    materializes via eager localCheckpoint, so lineage stays flat no
    matter the iteration count; each round is one distributed
    union+distinct+subtract — driver code never touches row data.
    Each round advances derivations by one application of the
    recursive terms, so depth-D recursion costs D rounds; for graph
    closure at scale use the O(log n)-round star-contraction operator
    (llm/dedup.py connected_components_star) instead.
    """
    base_parts, rec_parts = _split_recursive_body(view)
    total = spark.sql(base_parts[0])
    cols = total.columns
    for p in base_parts[1:]:
        total = total.unionByName(spark.sql(p).toDF(*cols))
    total = total.distinct().localCheckpoint(eager=True)
    total = _recursive_fixpoint(spark, view, cols, total, total, rec_parts, max_iters)
    total.createOrReplaceTempView(view.name)
    return total


# Constructs whose meaning under working-table (delta) binding is
# undefined or non-monotone: mainstream engines reject them inside
# recursive terms, and so do we. Conservative: matching anywhere in a
# recursive term rejects it, even where a static-source NOT IN would
# technically be safe for batch.
_NON_SPJ_RE = re.compile(
    r"\b(GROUP\s+BY|HAVING|EXCEPT|INTERSECT|NOT\s+IN|NOT\s+EXISTS|"
    r"LEFT\s+(?:OUTER\s+)?JOIN|RIGHT\s+(?:OUTER\s+)?JOIN|FULL\s+(?:OUTER\s+)?JOIN|"
    r"ANTI\s+JOIN|SEMI\s+JOIN|LIMIT|ORDER\s+BY)\b"
    r"|\b(SUM|COUNT|AVG|MIN|MAX|STDDEV|VARIANCE|ARRAY_AGG|COLLECT_LIST|COLLECT_SET)\s*\("
    r"|\bOVER\s*\(",
    re.IGNORECASE,
)


def _split_recursive_body(view: ViewDef) -> tuple[list[str], list[str]]:
    """Split a recursive view body into (base_parts, rec_parts).
    Raises ValueError on shapes the fixpoint cannot evaluate safely."""
    parts, seps = _split_union(view.sql)
    if len(parts) == 1:
        raise ValueError(f"recursive view {view.name}: body has no UNION (base ∪ recursive)")
    if any(s == "all" for s in seps):
        raise ValueError(
            f"recursive view {view.name}: UNION ALL recursion does not terminate on "
            "cyclic data; use UNION (set semantics)"
        )
    name_re = re.compile(rf"\b{re.escape(view.name)}\b", re.IGNORECASE)
    base_parts = [p for p in parts if not name_re.search(_strip_string_literals(p))]
    rec_parts = [p for p in parts if name_re.search(_strip_string_literals(p))]
    if not base_parts or not rec_parts:
        raise ValueError(
            f"recursive view {view.name}: need at least one base term and one "
            "self-referencing term"
        )
    for p in rec_parts:
        masked = _strip_string_literals(p)
        if len(name_re.findall(masked)) > 1:
            raise ValueError(
                f"recursive view {view.name}: a recursive term may reference the view "
                "only once (working-table semantics; non-linear fixpoints diverge "
                "from standard SQL recursion)"
            )
        m = _NON_SPJ_RE.search(masked)
        if m:
            raise ValueError(
                f"recursive view {view.name}: {m.group(0).strip()!r} is not allowed in "
                "a recursive term (non-monotone or undefined under working-table "
                "binding); move it to a downstream view over the fixpoint"
            )
    return base_parts, rec_parts


def _recursive_fixpoint(
    spark: SparkSession,
    view: ViewDef,
    cols: list[str],
    total: DataFrame,
    delta: DataFrame,
    rec_parts: list[str],
    max_iters: int,
) -> DataFrame:
    """Semi-naive iteration to fixpoint from (total, delta): each
    round binds the view name to the previous round's new rows (the
    SQL standard's working table — sound because rejection rules
    guarantee the terms are linear SPJ, distributive over union)."""
    for _ in range(max_iters):
        delta.createOrReplaceTempView(view.name)
        new = None
        for p in rec_parts:
            pdf = spark.sql(p).toDF(*cols)
            new = pdf if new is None else new.unionByName(pdf)
        new = new.subtract(total).localCheckpoint(eager=True)
        if new.isEmpty():
            break
        total = total.unionByName(new).localCheckpoint(eager=True)
        delta = new
    else:
        raise RuntimeError(
            f"recursive view {view.name}: no fixpoint after {max_iters} rounds "
            "(raise max_iters for deep recursion, or use the log-round "
            "star-contraction operator for graph closure)"
        )
    return total


def compile_batch(
    spark: SparkSession,
    program: SqlProgram | str,
    sources: dict[str, DataFrame] | None = None,
    sf_dir: str | None = None,
    max_iters: int = 200,
) -> dict[str, DataFrame]:
    """Compile a SQL program; returns ``{view_name: DataFrame}`` for
    every view (the program's outputs), lazily evaluated — nothing
    runs until an action, and Catalyst optimizes each composed plan
    whole (chained views fuse; shared inputs are scanned with
    pushdown per consumer). ``max_iters`` bounds recursive-view
    fixpoint rounds (one recursion hop per round)."""
    if isinstance(program, str):
        program = SqlProgram.parse(program)
    bound = bind_sources(spark, program, sources, sf_dir)
    for name, df in bound.items():
        df.createOrReplaceTempView(name)
    out: dict[str, DataFrame] = {}
    taken = set(program.tables) | {v.name for v in program.views}
    for view in program.views:
        if view.recursive:
            # fixpoint views materialize eagerly (checkpointed rounds);
            # downstream views compose over the materialized result
            df = _eval_recursive_view(spark, view, max_iters=max_iters)
        else:
            try:
                df = spark.sql(view.sql)
            except Exception as ex:  # noqa: BLE001
                # Spark ≥4.0 runs WITH RECURSIVE ... UNION ALL natively
                # but rejects the UNION (set) form — exactly the form
                # that terminates on cyclic data. Expand the CTEs and
                # fixpoint the recursive ones ourselves.
                if "UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE" not in str(ex):
                    raise
                parts = _split_ctes(view.sql)
                if not parts or (
                    {n for n, _, _ in parts[0]} & taken
                ):  # malformed or name shadowing: keep the original error
                    raise
                ctes, outer = parts
                for n, body, is_rec in ctes:
                    if is_rec:
                        _eval_recursive_view(
                            spark, ViewDef(n, body, recursive=True), max_iters=max_iters
                        )
                    else:
                        spark.sql(body).createOrReplaceTempView(n)
                df = spark.sql(outer)
                # the outer plan is resolved eagerly; drop the hidden
                # CTE temp views so they don't leak into the session
                for n, _, _ in ctes:
                    spark.catalog.dropTempView(n)
        if view.columns is not None:
            df = df.toDF(*view.columns)
        df.createOrReplaceTempView(view.name)
        out[view.name] = df
    return out


def compile_streaming(
    spark: SparkSession,
    program: SqlProgram | str,
    stream_sources: dict[str, DataFrame],
    static_sources: dict[str, DataFrame] | None = None,
    sf_dir: str | None = None,
    watermarks: dict[str, tuple[str, str]] | None = None,
) -> dict[str, DataFrame]:
    """Compile a program into *continuously maintained* views — the
    Spark-first realization of what the reference compiles circuits
    for: every CREATE VIEW over a streaming table becomes a streaming
    DataFrame whose state Structured Streaming maintains per
    micro-batch (state store = the circuit's integrated Z-sets).

    ``stream_sources`` binds tables to streaming DataFrames
    (``spark.readStream...``); remaining tables bind statically
    (caller DataFrames / program INSERTs / ``sf_dir`` parquet) and
    participate as the static side of stream-static joins.
    ``watermarks`` maps table → (event_time_col, delay) and is applied
    before view evaluation so windowed aggregates / stream-stream
    joins can bound their state.

    Views evaluate in program order via ``spark.sql`` so chained views
    compose into one streaming plan per output. Each returned view is
    unstarted — attach a sink with the output mode its shape requires
    (append for stateless/watermarked; update/complete for maintained
    aggregates). Shapes Structured Streaming cannot maintain raise its
    own AnalysisException at sink attach, mirroring the reference
    rejecting non-incrementalizable circuits."""
    if isinstance(program, str):
        program = SqlProgram.parse(program)
    # Pin UTC etc. even for externally created sessions / stream_sources
    # that never pass through sources.tables.load_table, so the
    # NTZ->LTZ event-time cast below stays value-preserving.
    from ..sources.tables import _ensure_session_confs

    _ensure_session_confs(spark)
    static = bind_sources(
        spark,
        SqlProgram(
            tables={n: t for n, t in program.tables.items() if n not in stream_sources},
            views=[],
            inserts=[i for i in program.inserts if i.table not in stream_sources],
            mutations=[m for m in program.mutations if m.table not in stream_sources],
        ),
        static_sources,
        sf_dir,
    )
    for name, df in {**static, **stream_sources}.items():
        if watermarks and name in watermarks:
            col, delay = watermarks[name]
            from ..streaming.event_time import with_event_time_watermark

            df = with_event_time_watermark(df, col, delay)
        df.createOrReplaceTempView(name)
    out: dict[str, DataFrame] = {}
    for view in program.views:
        if view.recursive:
            raise ValueError(
                f"recursive view {view.name}: fixpoint iteration is not expressible "
                "as a single continuous streaming plan; use IncrementalProgram "
                "(recomputes the fixpoint per delta step) or compile_batch"
            )
        df = spark.sql(view.sql)
        if view.columns is not None:
            df = df.toDF(*view.columns)
        df.createOrReplaceTempView(view.name)
        out[view.name] = df
    return out


# ---------------------------------------------------------------------------
# View-shape recognition (the "optimized incremental" compiler pass)
# ---------------------------------------------------------------------------
#
# The reference compiler rewrites each view's circuit into incremental
# operators where it can (DBSPIncrementalAggregateOperator,
# DBSPIncrementalJoinOperator, …) and falls back to naive D∘Q∘I where
# it can't. We do the same on SQL *shape*: a conservative recognizer
# maps a view body onto one of the plans/incremental.py operators;
# anything unrecognized stays on the naive path. Misrecognition is
# impossible by construction — every guard rejects toward naive, and
# the property tests assert optimized == naive == batch.

def _strip_string_literals(s: str) -> str:
    """Replace single-quoted SQL literals with '' so keyword scans
    can't be fooled by literal content ('a JOIN b' is just a string)."""
    return re.sub(r"'(?:[^']|'')*'", "''", s)


def _sub_outside_literals(pattern: str, repl: str, s: str, flags: int = 0) -> str:
    """re.sub applied only OUTSIDE single-quoted SQL literals, so a
    qualifier-strip rewrite can't corrupt literal content: with inner
    table ``clk``, the conjunct ``b.tag = 'clk.x'`` must keep its
    literal intact while ``b.`` is rewritten (ADVICE r5)."""
    out: list[str] = []
    pos = 0
    for m in re.finditer(r"'(?:[^']|'')*'", s):
        out.append(re.sub(pattern, repl, s[pos : m.start()], flags=flags))
        out.append(m.group(0))
        pos = m.end()
    out.append(re.sub(pattern, repl, s[pos:], flags=flags))
    return "".join(out)


_FORBIDDEN_LINEAR_RAW = re.compile(
    r"\b(JOIN|GROUP\s+BY|ORDER\s+BY|LIMIT|HAVING|UNION|INTERSECT|EXCEPT|DISTINCT|OVER)\b"
    r"|\(\s*SELECT\b|\bSUM\s*\(|\bCOUNT\s*\(|\bAVG\s*\(|\bMIN\s*\(|\bMAX\s*\(",
    re.IGNORECASE,
)


class _LiteralSafeScanner:
    """Drop-in for the compiled regex: scans with string literals
    stripped, so forbidden-keyword checks see structure, not data."""

    def search(self, s: str):
        return _FORBIDDEN_LINEAR_RAW.search(_strip_string_literals(s))


_FORBIDDEN_LINEAR = _LiteralSafeScanner()

_SELECT_FROM_RE = re.compile(
    r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<src>\w+)\s*(?:WHERE\s+(?P<where>.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_AGG_SELECT_RE = re.compile(
    r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<src>\w+)\s*"
    r"(?:WHERE\s+(?P<where>.+?))?\s*GROUP\s+BY\s+(?P<keys>.+?)\s*"
    r"(?:HAVING\s+(?P<having>.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# words allowed in a HAVING condition besides the view's own output
# columns (operators/literals — anything else → naive fallback)
_HAVING_KEYWORDS = {
    "and", "or", "not", "null", "is", "true", "false",
    "between", "in", "like", "case", "when", "then", "else", "end",
}


# GROUP BY with a window(ts, '…') grouping expression (the TUMBLE/HOP
# dialect shim rewrites Calcite spellings into this form first).
_WIN_AGG_RE = re.compile(
    r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<src>\w+)\s*"
    r"(?:WHERE\s+(?P<where>.+?))?\s*GROUP\s+BY\s+(?P<keys>.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WINDOW_KEY_RE = re.compile(
    r"^window\s*\(\s*(?P<col>\w+)\s*,\s*'(?P<iv>[^']+)'(?:\s*,\s*'(?P<slide>[^']+)')?\s*\)$",
    re.IGNORECASE,
)
_WINDOW_FIELD_RE = re.compile(
    r"^window\.(?P<field>start|end)\s+AS\s+(?P<alias>\w+)$", re.IGNORECASE
)


def _parse_window_agg(m: "re.Match"):
    """Recognize ``SELECT window.start AS …, keys, aggs FROM src
    [WHERE …] GROUP BY window(ts, '…')[, keys]`` → a _WinAggOp; None
    for anything else (→ naive)."""
    from ..plans.incremental import (
        AggSpec,
        IncrementalGroupRecomputeAgg,
        IncrementalLinearAgg,
    )

    src = m.group("src").lower()
    keys_raw = [k.strip() for k in _split_top_level_commas(m.group("keys"))]
    win_sql = None
    plain_keys: list[str] = []
    for k in keys_raw:
        km = _WINDOW_KEY_RE.match(k)
        if km:
            # sliding (HOP) windows replicate each row into several
            # windows — the derived-column rewrite only holds for
            # tumbling windows; HOP stays naive
            if win_sql is not None or km.group("slide"):
                return None
            win_sql = k
        elif re.fullmatch(r"\w+", k):
            plain_keys.append(k.lower())
        else:
            return None
    if win_sql is None:
        return None
    where = m.group("where")
    if where and _FORBIDDEN_LINEAR.search(where):
        return None

    items: list[tuple[str, str, str]] = []
    out_exprs: list[Column] = []
    for item in _split_top_level_commas(m.group("sel")):
        item = item.strip()
        am = _AGG_ITEM_RE.match(item)
        wm = _WINDOW_FIELD_RE.match(item)
        if am:
            fn = am.group("fn").lower()
            arg = am.group("arg").strip()
            alias = am.group("alias").lower()
            if arg != "*" and _FORBIDDEN_LINEAR.search(arg):
                return None
            items.append((fn, arg, alias))
            out_exprs.append(F.col(alias))
        elif wm:
            out_exprs.append(
                F.col(f"__win.{wm.group('field').lower()}").alias(wm.group("alias").lower())
            )
        elif re.fullmatch(r"\w+", item) and item.lower() in plain_keys:
            out_exprs.append(F.col(item.lower()))
        else:
            return None
    if not items:
        return None
    cond = F.expr(where) if where else None
    keys = ["__win", *plain_keys]

    if any(fn in ("min", "max") for fn, _, _ in items):
        aggs = [
            (F.count(F.lit(1)) if (fn == "count" and arg == "*") else F.expr(f"{fn}({arg})")).alias(alias)
            for fn, arg, alias in items
        ]
        return _WinAggOp(
            src, win_sql, IncrementalGroupRecomputeAgg(keys=keys, aggs=aggs, cond=cond), out_exprs
        )
    specs: list = []
    for fn, arg, alias in items:
        if fn == "count" and arg == "*":
            specs.append(AggSpec(alias, "count"))
        elif fn == "count":
            specs.append(AggSpec(alias, "count", F.expr(arg)))
        elif fn == "sum":
            specs.append(AggSpec(alias, "sum", F.expr(arg)))
        else:
            specs.append(AggSpec(alias, "avg", F.expr(arg)))
    return _WinAggOp(
        src, win_sql, IncrementalLinearAgg(keys=keys, specs=specs, cond=cond), out_exprs
    )


# Window-function select item: FN(args) OVER (PARTITION BY … ORDER BY
# …[ frame]) AS alias. The whole item is passed to selectExpr verbatim
# (Catalyst evaluates it); the recognizer only needs the partition keys
# to scope affected-partition recompute.
_WINFN_ITEM_RE = re.compile(
    r"^(?P<fn>ROW_NUMBER|RANK|DENSE_RANK|NTILE|LAG|LEAD|FIRST_VALUE|LAST_VALUE"
    r"|NTH_VALUE|SUM|COUNT|AVG|MIN|MAX)\s*\(\s*(?P<arg>[^()]*)\s*\)"
    r"(?:\s+(?:IGNORE|RESPECT)\s+NULLS)?\s+OVER\s*\(\s*"
    r"PARTITION\s+BY\s+(?P<part>[\w\s,]+?)\s+ORDER\s+BY\s+(?P<order>[\w\s,]+?)"
    r"(?:\s+(?:ROWS|RANGE)\s+BETWEEN\s+[^()]+?)?\s*\)\s+AS\s+(?P<alias>\w+)$",
    re.IGNORECASE | re.DOTALL,
)

# Aggregate directly over a two-table equi-join (the reference chains
# DBSPIncrementalJoinOperator into DBSPIncrementalAggregateOperator in
# one circuit; here the recognizer composes the same two operators).
_AGG_JOIN_RE = re.compile(
    r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<a>\w+)\s+JOIN\s+(?P<b>\w+)\s+ON\s+"
    r"(?P<on>.+?)\s*(?:WHERE\s+(?P<where>.+?))?\s*GROUP\s+BY\s+"
    r"(?P<keys>[\w\s,\.]+?)\s*(?:HAVING\s+(?P<having>.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _extract_having_aggs(
    having_sql: str, existing: "dict[tuple[str, str], str]"
) -> "tuple[str, list[tuple[str, str, str]]] | None":
    """Rewrite aggregate calls inside a HAVING condition to references
    to (possibly hidden) aggregate output columns, so HAVING over
    non-output aggregates — ``HAVING COUNT(*) > 2`` when COUNT isn't
    selected — compiles to extra aggregate items plus a row-wise
    filter (the reference compiles HAVING into the aggregate operator
    followed by a filter, DBSPAggregateOperator + DBSPFilterOperator).
    ``existing`` maps normalized (fn, arg) of already-selected items to
    their aliases so duplicates reuse the visible column. Returns
    (rewritten_condition, extra_items) or None on unbalanced parens."""
    pat = re.compile(r"\b(SUM|COUNT|AVG|MIN|MAX)\s*\(", re.IGNORECASE)
    # Spans of single-quoted literals: an aggregate-looking substring
    # inside one (HAVING tag = 'SUM(x)') is data, not a call — rewriting
    # it would silently corrupt the condition. Paren balancing must skip
    # literal content too (COUNT(CASE WHEN c = ')' …)).
    lit_spans = [
        (lm.start(), lm.end()) for lm in re.finditer(r"'(?:[^']|'')*'", having_sql)
    ]

    def _in_literal(i: int) -> bool:
        return any(a <= i < b for a, b in lit_spans)

    res: list[str] = []
    extra: list[tuple[str, str, str]] = []
    pos = 0
    search = 0
    n = 0
    while True:
        m = pat.search(having_sql, search)
        if not m:
            break
        if _in_literal(m.start()):
            search = m.end()
            continue
        depth, j = 1, m.end()
        while j < len(having_sql) and depth:
            if _in_literal(j):
                j += 1
                continue
            if having_sql[j] == "(":
                depth += 1
            elif having_sql[j] == ")":
                depth -= 1
            j += 1
        if depth:
            return None
        fn = m.group(1).lower()
        arg = having_sql[m.end() : j - 1].strip()
        key = (fn, re.sub(r"\s+", "", arg.lower()))
        alias = existing.get(key)
        if alias is None:
            alias = f"__h{n}"
            n += 1
            existing[key] = alias
            extra.append((fn, arg, alias))
        res.append(having_sql[pos : m.start()])
        res.append(alias)
        pos = search = j
    res.append(having_sql[pos:])
    return "".join(res), extra


def _having_refs_only(cond: str, out_cols: list[str]) -> bool:
    """True iff every identifier in the condition is an output column
    (HAVING is then a row-wise filter on the aggregate's output, which
    commutes with delta emission — retract/insert rows filter the
    same way the snapshot rows do)."""
    no_strings = re.sub(r"'(?:[^']|'')*'", "", cond)
    idents = {t.lower() for t in re.findall(r"[A-Za-z_]\w*", no_strings)}
    return idents <= (set(out_cols) | _HAVING_KEYWORDS)
_FILTER_AGG_HEAD_RE = re.compile(
    r"\b(?P<fn>SUM|COUNT|AVG|MIN|MAX)\s*\(", re.IGNORECASE
)
_FILTER_KW_RE = re.compile(r"\s*FILTER\s*\(\s*WHERE\s+", re.IGNORECASE)


def _scan_to_close(s: str, i: int) -> int:
    """``i`` points just past an opening ``(``; return the index just
    past the matching ``)``, skipping single-quoted literals (with
    ``''`` escapes) so parens inside strings don't count. -1 if
    unbalanced."""
    depth, n = 1, len(s)
    while i < n and depth:
        c = s[i]
        if c == "'":
            i += 1
            while i < n:
                if s[i] == "'":
                    if i + 1 < n and s[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        i += 1
    return i if depth == 0 else -1


def _rewrite_filter_aggs(sql: str) -> str:
    """Rewrite ``agg(x) FILTER (WHERE p)`` to the exactly-equivalent
    CASE form (``agg(CASE WHEN p THEN x END)``; ``COUNT(*)`` becomes
    ``COUNT(CASE WHEN p THEN 1 END)``, DISTINCT stays outside the
    CASE) so the recognizer's existing aggregate circuits apply —
    FILTER-conditional SUM/COUNT are still LINEAR aggregates. Applied
    only on the recognition copy; the naive path keeps the original
    text (Spark SQL evaluates FILTER natively). The reference's
    Calcite frontend has no filterArg handling, so this is surface the
    Spark engine adds.

    Scans quote-aware (ADVICE r4): a paren inside a string literal in
    either the aggregate arg or the FILTER predicate —
    ``COUNT(*) FILTER (WHERE s = ')')`` — must not shift the captured
    boundaries. Agg heads inside string literals are data, skipped.
    Any unbalanced span leaves the text untouched, so the view
    declines cleanly to naive instead of compiling a corrupt copy."""
    lit_spans = [
        (lm.start(), lm.end()) for lm in re.finditer(r"'(?:[^']|'')*'", sql)
    ]

    def _in_literal(i: int) -> bool:
        return any(a <= i < b for a, b in lit_spans)

    out: list[str] = []
    pos = search = 0
    while True:
        m = _FILTER_AGG_HEAD_RE.search(sql, search)
        if not m:
            break
        if _in_literal(m.start()):
            search = m.end()
            continue
        arg_end = _scan_to_close(sql, m.end())
        if arg_end < 0:
            search = m.end()
            continue
        fm = _FILTER_KW_RE.match(sql, arg_end)
        if not fm:
            search = arg_end
            continue
        pred_end = _scan_to_close(sql, fm.end())
        if pred_end < 0:
            search = arg_end
            continue
        arg = sql[m.end() : arg_end - 1].strip()
        pred = sql[fm.end() : pred_end - 1].strip()
        distinct, body = "", arg
        dm = re.match(r"^DISTINCT\s+(.+)$", arg, re.IGNORECASE | re.DOTALL)
        if dm:
            distinct, body = "DISTINCT ", dm.group(1)
        if body.strip() == "*":
            body = "1"
        out.append(sql[pos : m.start()])
        out.append(
            f"{m.group('fn')}({distinct}CASE WHEN {pred} THEN {body} END)"
        )
        pos = search = pred_end
    out.append(sql[pos:])
    return "".join(out)


# The aggregate-item matcher scans the arg with a quote-aware paren
# counter (arbitrary nesting) instead of a regex: a lazy `.+?` would
# swallow a trailing `) FILTER (WHERE ...` clause into the arg and
# "recognize" a FILTER-bearing aggregate as garbage, while a
# bounded-depth balanced regex rejects legitimately deep expressions
# (the HLL register view nests six calls). Anything between the
# aggregate's closing paren and `AS alias` (FILTER, WITHIN GROUP, …)
# makes match() return None → the view declines to naive.
_AGG_HEAD_RE = re.compile(
    r"^(?P<fn>SUM|COUNT|AVG|MIN|MAX)\s*\(", re.IGNORECASE | re.DOTALL
)
_AGG_TAIL_RE = re.compile(r"^\s+AS\s+(?P<alias>\w+)$", re.IGNORECASE | re.DOTALL)


class _AggMatch:
    __slots__ = ("_g",)

    def __init__(self, fn: str, arg: str, alias: str) -> None:
        self._g = {"fn": fn, "arg": arg, "alias": alias}

    def group(self, name: str) -> str:
        return self._g[name]


class _AggItemMatcher:
    """Drop-in for the old compiled regex: .match(item) → object with
    .group('fn'|'arg'|'alias'), or None."""

    def match(self, item: str) -> "_AggMatch | None":
        m = _AGG_HEAD_RE.match(item)
        if not m:
            return None
        depth, i, n = 1, m.end(), len(item)
        while i < n and depth:
            c = item[i]
            if c == "'":  # skip string literal ('' is an escaped quote)
                i += 1
                while i < n:
                    if item[i] == "'":
                        if i + 1 < n and item[i + 1] == "'":
                            i += 2
                            continue
                        break
                    i += 1
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            i += 1
        if depth:
            return None
        arg = item[m.end() : i - 1].strip()
        tm = _AGG_TAIL_RE.match(item[i:])
        if not tm or not arg:
            return None
        return _AggMatch(m.group("fn"), arg, tm.group("alias"))


_AGG_ITEM_RE = _AggItemMatcher()
_JOIN_RE = re.compile(
    r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<a>\w+)\s+JOIN\s+(?P<b>\w+)\s+ON\s+"
    r"(?P<on>.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_OUTER_JOIN_RE = re.compile(
    r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<a>\w+)\s+(?P<how>LEFT|RIGHT|FULL)\s+"
    r"(?:OUTER\s+)?JOIN\s+(?P<b>\w+)\s+ON\s+(?P<on>.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_EQ_CONJUNCT_RE = re.compile(
    r"^\s*(?P<q1>\w+)\.(?P<c1>\w+)\s*=\s*(?P<q2>\w+)\.(?P<c2>\w+)\s*$"
)


def _parse_equi_keys(
    on: str, a: str, b: str, cols_a: list[str], cols_b: list[str]
) -> tuple[list[str], list[str]] | None:
    """Parse ``x.k1 = y.k1 AND …`` into oriented (keys_a, keys_b);
    None for anything beyond a conjunction of cross-side equalities
    with columns unambiguous across the two inputs."""
    keys_a: list[str] = []
    keys_b: list[str] = []
    for conj in re.split(r"\bAND\b", on, flags=re.IGNORECASE):
        m = _EQ_CONJUNCT_RE.match(conj.lower())
        if not m:
            return None
        q1, c1, q2, c2 = m.group("q1"), m.group("c1"), m.group("q2"), m.group("c2")
        if {q1, q2} != {a, b}:
            return None
        ka, kb = (c1, c2) if q1 == a else (c2, c1)
        # join columns must be unambiguous across the two inputs
        if ka == kb or ka in cols_b or kb in cols_a or ka not in cols_a or kb not in cols_b:
            return None
        keys_a.append(ka)
        keys_b.append(kb)
    return (keys_a, keys_b) if keys_a else None
_DISTINCT_RE = re.compile(
    r"^\s*SELECT\s+DISTINCT\s+(?P<sel>.+?)\s+FROM\s+(?P<src>\w+)\s*"
    r"(?:WHERE\s+(?P<where>.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# SELECT * FROM src ORDER BY o [ASC|DESC], ... LIMIT k — the global
# topK view shape (DBSPIndexedTopKOperator with a unit key).
_GLOBAL_TOPK_RE = re.compile(
    r"^\s*SELECT\s+(?P<sel>\*|[\w\s,]+?)\s+FROM\s+(?P<src>\w+)\s+ORDER\s+BY\s+"
    r"(?P<order>[\w\s,]+?)\s+LIMIT\s+(?P<k>\d+)\s*$",
    re.IGNORECASE | re.DOTALL,
)
# SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY o) AS rn
#                FROM src) [alias] WHERE rn <= K
# — the reference's per-group TopK spelling (DBSPIndexedTopKOperator).
_TOPK_RE = re.compile(
    r"^\s*SELECT\s+\*\s+FROM\s*\(\s*SELECT\s+\*\s*,\s*ROW_NUMBER\s*\(\s*\)\s+OVER\s*\(\s*"
    r"PARTITION\s+BY\s+(?P<keys>[\w\s,]+?)\s+ORDER\s+BY\s+(?P<order>[\w\s,]+?)\s*\)\s+"
    r"AS\s+(?P<rn>\w+)\s+FROM\s+(?P<src>\w+)\s*\)\s*(?:AS\s+\w+|\w+)?\s*"
    r"WHERE\s+(?P<rn2>\w+)\s*<=\s*(?P<k>\d+)\s*$",
    re.IGNORECASE | re.DOTALL,
)


# ---------------------------------------------------------------------------
# Round-3 shapes: UNNEST flatmap, decorrelated [NOT] EXISTS / IN,
# scalar-aggregate subqueries, ROLLUP/CUBE/GROUPING SETS aggregates
# (reference: CalciteToDBSPCompiler.java:213 visitCorrelate, :274
# visitUncollect, :294 visitAggregate with Expand-style groupings).
# ---------------------------------------------------------------------------

# UNNEST arrives here already rewritten to LATERAL VIEW explode by
# translate_view_sql (and users may write LATERAL VIEW directly).
_LATERAL_EXPLODE_RE = re.compile(
    r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<src>\w+)\s+LATERAL\s+VIEW\s+"
    r"explode\s*\(\s*(?P<arr>.+?)\s*\)\s+(?P<tab>\w+)\s+AS\s+(?P<col>\w+)\s*"
    r"(?:WHERE\s+(?P<where>.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALIAS_JOIN_RE = re.compile(
    r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<a>\w+)\s+(?P<aa>\w+)\s+JOIN\s+"
    r"(?P<b>\w+)\s+(?P<ba>\w+)\s+ON\s+(?P<on>.+?)\s*(?:WHERE\s+(?P<where>.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


_RESERVED_ALIASES = {
    "join", "on", "where", "inner", "left", "right", "full", "cross", "outer",
    "group", "order", "having",
}


# Words that are SQL syntax in expression position: a bare column
# reference spelled like one of these cannot be rewritten safely
# (e.g. a column named "day" vs `INTERVAL '1' DAY`) — such names are
# treated as ambiguous and reject the view to the naive path.
_BARE_KEYWORDS = frozenset(
    "day month year hour minute second week quarter date time timestamp "
    "interval row rows range current user order group select from where "
    "value values case when then else end cast as and or not in is null "
    "true false like between exists all any some distinct left right "
    "inner outer on join union except intersect by asc desc "
    "to at zone escape over partition filter within nulls first last "
    "following preceding unbounded".split()
)

_STR_LIT_RE = re.compile(r"'(?:[^']|'')*'")


def _make_alias_rewriter(aa: str, cols_a: list[str], ba: str, cols_b: list[str]):
    return _make_chain_rewriter({aa: cols_a, ba: cols_b})


def _parse_alias_on(on: str, aa: str, ba: str) -> "Column | None":
    """Equi-conjunction over rewritten names → join condition."""
    on_col = None
    for conj in re.split(r"\bAND\b", on, flags=re.IGNORECASE):
        cm = re.fullmatch(r"\s*(__\w+)\s*=\s*(__\w+)\s*", conj)
        if not cm:
            return None
        l, r = cm.group(1), cm.group(2)
        if l.startswith(f"__{aa}_") and r.startswith(f"__{ba}_"):
            eq = F.col(l) == F.col(r)
        elif l.startswith(f"__{ba}_") and r.startswith(f"__{aa}_"):
            eq = F.col(r) == F.col(l)
        else:
            return None
        on_col = eq if on_col is None else (on_col & eq)
    return on_col


_ALIAS_AGG_JOIN_RE = re.compile(
    r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<a>\w+)\s+(?P<aa>\w+)\s+JOIN\s+"
    r"(?P<b>\w+)\s+(?P<ba>\w+)\s+ON\s+(?P<on>.+?)\s*"
    r"(?:WHERE\s+(?P<where>.+?))?\s*GROUP\s+BY\s+(?P<keys>.+?)\s*"
    r"(?:HAVING\s+(?P<having>.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _recognize_alias_agg_join(sql: str, cols_of: dict[str, list[str]]):
    """GROUP BY aggregate over an aliased two-table inner equi-join
    (incl. self-joins). Keys must be alias-qualified plain columns;
    HAVING may reference aggregate output aliases only."""
    from ..plans.incremental import (
        AggSpec,
        IncrementalGroupRecomputeAgg,
        IncrementalJoin,
        IncrementalLinearAgg,
    )

    m = _ALIAS_AGG_JOIN_RE.match(sql)
    if not m:
        return None
    a, b = m.group("a").lower(), m.group("b").lower()
    aa, ba = m.group("aa").lower(), m.group("ba").lower()
    if aa == ba or {aa, ba} & _RESERVED_ALIASES:
        return None
    if a not in cols_of or b not in cols_of:
        return None
    cols_a, cols_b = cols_of[a], cols_of[b]
    rewrite = _make_alias_rewriter(aa, cols_a, ba, cols_b)

    on = rewrite(m.group("on"))
    if on is None or _FORBIDDEN_LINEAR.search(on):
        return None
    on_col = _parse_alias_on(on, aa, ba)
    if on_col is None:
        return None
    where = m.group("where")
    if where is not None:
        where = rewrite(where)
        if where is None or _FORBIDDEN_LINEAR.search(where):
            return None

    key_map: dict[str, str] = {}  # renamed key col → output name
    key_order: list[str] = []
    for k in _split_top_level_commas(m.group("keys")):
        ks = k.strip()
        km = re.fullmatch(r"(\w+)\.(\w+)", ks)
        if km:
            out_name = km.group(2).lower()
        elif re.fullmatch(r"\w+", ks):
            out_name = ks.lower()  # bare key — rewrite resolves the side
        else:
            return None
        rk = rewrite(ks)
        if rk is None or not re.fullmatch(r"\w+", rk):
            return None
        key_map[rk] = out_name
        key_order.append(rk)

    items: list[tuple[str, str, str]] = []
    sel_exprs: list[str] = []
    out_cols: list[str] = []
    for item in _split_top_level_commas(m.group("sel")):
        item = item.strip()
        am = _AGG_ITEM_RE.match(item)
        if am:
            fn = am.group("fn").lower()
            arg = am.group("arg").strip()
            alias = am.group("alias").lower()
            if arg != "*":
                arg = rewrite(arg)
                if arg is None or _FORBIDDEN_LINEAR.search(arg):
                    return None
                if re.search(r"\bDISTINCT\b", arg, re.IGNORECASE):
                    return None
            items.append((fn, arg, alias))
            sel_exprs.append(alias)
            out_cols.append(alias)
        else:
            im = re.fullmatch(
                r"(?P<expr>.+?)\s+AS\s+(?P<alias>\w+)", item, re.IGNORECASE | re.DOTALL
            )
            if im:
                expr, out = rewrite(im.group("expr").strip()), im.group("alias").lower()
            else:
                expr, out = rewrite(item), None
            if expr is None or expr not in key_map:
                return None
            out = out or key_map[expr]
            sel_exprs.append(f"{expr} AS {out}")
            out_cols.append(out)
    if not items:
        return None
    having_sql = m.group("having")
    if having_sql is not None and not _having_refs_only(
        having_sql, [al for _, _, al in items]
    ):
        return None
    having = F.expr(having_sql) if having_sql else None
    cond = F.expr(where) if where else None
    keys = key_order
    if any(fn in ("min", "max") for fn, _, _ in items):
        aggs = [
            (F.count(F.lit(1)) if (fn == "count" and arg == "*") else F.expr(f"{fn}({arg})")).alias(al)
            for fn, arg, al in items
        ]
        agg_op = IncrementalGroupRecomputeAgg(keys=keys, aggs=aggs, cond=cond)
    else:
        specs: list = []
        for fn, arg, al in items:
            if fn == "count" and arg == "*":
                specs.append(AggSpec(al, "count"))
            elif fn == "count":
                specs.append(AggSpec(al, "count", F.expr(arg)))
            elif fn == "sum":
                specs.append(AggSpec(al, "sum", F.expr(arg)))
            elif fn == "avg":
                specs.append(AggSpec(al, "avg", F.expr(arg)))
            else:
                return None
        agg_op = IncrementalLinearAgg(keys=keys, specs=specs, cond=cond)
    pre_a = [f"{c} AS __{aa}_{c}" for c in cols_a]
    pre_b = [f"{c} AS __{ba}_{c}" for c in cols_b]
    return _AliasJoinAggOp(
        a, b, pre_a, pre_b, IncrementalJoin(on=on_col), agg_op, sel_exprs, out_cols, having
    )


def _make_chain_rewriter(alias_cols: "dict[str, list[str]]"):
    """Rewriter mapping alias-qualified refs (``x.col``) to prefixed
    names (``__x_col``) across any number of aliases. Bare column
    references resolve to whichever alias uniquely owns the name (SQL
    name resolution); names owned by 2+ aliases — every column of a
    self-join — or spelled like SQL keywords stay ambiguous → None.
    Rewriting skips string-literal content; qualified refs with an
    unknown qualifier → None."""
    lower = {alias: {c.lower() for c in cols} for alias, cols in alias_cols.items()}
    all_cols: "set[str]" = set()
    shared: "set[str]" = set()
    for cols in lower.values():
        shared |= all_cols & cols
        all_cols |= cols
    shared |= all_cols & _BARE_KEYWORDS
    owner = {
        c: alias for alias, cols in lower.items() for c in cols if c not in shared
    }
    # bare ref: not preceded by [.\w] (qualified/prefixed/mid-word),
    # not followed by "." (qualifier use) or "(" (function call)
    bare_re = (
        re.compile(
            r"(?<![.\w])(" + "|".join(map(re.escape, sorted(owner))) + r")\b(?!\s*[.(])",
            re.IGNORECASE,
        )
        if owner
        else None
    )
    shared_re = (
        re.compile(
            r"(?<![.\w])(" + "|".join(map(re.escape, sorted(shared))) + r")\b(?!\s*[.(])",
            re.IGNORECASE,
        )
        if shared
        else None
    )

    def _rw_segment(seg: str) -> "str | None":
        bad = False

        def sub_q(alias: str, cols: "set[str]"):
            def repl(mm: "re.Match") -> str:
                nonlocal bad
                c = mm.group(1).lower()
                if c not in cols:
                    bad = True
                    return mm.group(0)
                return f"__{alias}_{c}"

            return repl

        for alias, cols in lower.items():
            seg = re.sub(rf"\b{alias}\.(\w+)", sub_q(alias, cols), seg)
        if bad:
            return None
        if re.search(r"\b[A-Za-z_]\w*\s*\.\s*[A-Za-z_]", seg):
            return None  # qualified ref with an unknown qualifier
        if shared_re is not None and shared_re.search(seg):
            return None  # ambiguous (or keyword-shaped) bare reference
        if bare_re is not None:
            seg = bare_re.sub(
                lambda mm: f"__{owner[mm.group(1).lower()]}_{mm.group(1).lower()}", seg
            )
        return seg

    def rewrite(text: str) -> "str | None":
        res: list[str] = []
        pos = 0
        for lm in _STR_LIT_RE.finditer(text):
            seg = _rw_segment(text[pos : lm.start()])
            if seg is None:
                return None
            res.append(seg)
            res.append(lm.group(0))
            pos = lm.end()
        seg = _rw_segment(text[pos:])
        if seg is None:
            return None
        res.append(seg)
        return "".join(res)

    return rewrite


def _parse_chain_from(
    rest: str, cols_of: dict[str, list[str]], min_sources: int = 3
):
    """Parse ``<t1> <q1> JOIN <t2> <q2> ON … [JOIN …] [WHERE …]`` (the
    FROM-onward tail of a left-deep aliased inner-join chain). Returns
    (srcs, quals, rewrite, join_ops, where, pres) or None. Every leg's
    delta is pre-projected to alias-prefixed columns, so repeated
    tables and shadowed column names are fine; each ON conjunct must
    link the new leg to the already-joined prefix (left-deep)."""
    from ..plans.incremental import IncrementalJoin

    if re.search(r"\b(LEFT|RIGHT|FULL|OUTER|CROSS)\b", rest, re.IGNORECASE):
        return None
    wm = re.split(r"\bWHERE\b", rest, maxsplit=1, flags=re.IGNORECASE)
    from_clause, where = wm[0], (wm[1].strip() if len(wm) > 1 else None)
    parts = re.split(r"\bJOIN\b", from_clause, flags=re.IGNORECASE)
    if len(parts) < min_sources:
        return None
    hm = re.fullmatch(r"\s*(?P<t>\w+)\s+(?P<q>\w+)\s*", parts[0])
    if not hm:
        return None
    srcs = [hm.group("t").lower()]
    quals = [hm.group("q").lower()]
    ons: list[str] = []
    for p in parts[1:]:
        pm = re.match(r"^\s*(?P<t>\w+)\s+(?P<q>\w+)\s+ON\s+(?P<on>.+)$", p, re.IGNORECASE | re.DOTALL)
        if not pm:
            return None
        srcs.append(pm.group("t").lower())
        quals.append(pm.group("q").lower())
        ons.append(pm.group("on").strip())
    if len(set(quals)) != len(quals) or set(quals) & _RESERVED_ALIASES:
        return None
    if any(s not in cols_of for s in srcs):
        return None
    alias_cols = {q: cols_of[s] for q, s in zip(quals, srcs)}
    rewrite = _make_chain_rewriter(alias_cols)

    def owner(ref: str) -> "str | None":
        for q in quals:
            if ref.startswith(f"__{q}_"):
                return q
        return None

    ops = []
    for i, on in enumerate(ons):
        ron = rewrite(on)
        if ron is None or _FORBIDDEN_LINEAR.search(ron):
            return None
        new_q, prev_qs = quals[i + 1], set(quals[: i + 1])
        on_col = None
        for conj in re.split(r"\bAND\b", ron, flags=re.IGNORECASE):
            cm = re.fullmatch(r"\s*(__\w+)\s*=\s*(__\w+)\s*", conj)
            if not cm:
                return None
            ql, qr = owner(cm.group(1)), owner(cm.group(2))
            if ql is None or qr is None:
                return None
            if not ({ql, qr} <= prev_qs | {new_q} and new_q in {ql, qr} and {ql, qr} & prev_qs):
                return None  # each conjunct links the new leg to the prefix
            eq = F.col(cm.group(1)) == F.col(cm.group(2))
            on_col = eq if on_col is None else (on_col & eq)
        if on_col is None:
            return None
        ops.append(IncrementalJoin(on=on_col, project=None))
    if where is not None:
        where = rewrite(where)
        if where is None or _FORBIDDEN_LINEAR.search(where):
            return None
    pres = [
        [f"{c} AS __{q}_{c}" for c in cols_of[s]] for q, s in zip(quals, srcs)
    ]
    return srcs, quals, rewrite, ops, where, pres


def _parse_alias_join_chain(sql: str, cols_of: dict[str, list[str]]):
    """Left-deep ALIASED inner-join chain with >= 3 sources —
    repeated tables and shadowed column names allowed because every
    leg's delta is pre-projected to alias-prefixed columns (the
    unaliased chain requires global column uniqueness; this one
    allows bare references only where one leg uniquely owns the
    name)."""
    m = re.match(r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<rest>.+)$", sql, re.IGNORECASE | re.DOTALL)
    if not m:
        return None
    sel, rest = m.group("sel"), m.group("rest")
    if re.search(r"\bGROUP\s+BY\b", _strip_string_literals(rest), re.IGNORECASE):
        return None  # → _recognize_chain_agg
    parsed = _parse_chain_from(rest, cols_of)
    if parsed is None:
        return None
    srcs, quals, rewrite, ops, where, pres = parsed
    project: "list[Column]" = []
    aliases: list[str] = []
    for item in _split_top_level_commas(sel):
        item = item.strip()
        im = re.fullmatch(r"(?P<expr>.+?)\s+AS\s+(?P<alias>\w+)", item, re.IGNORECASE | re.DOTALL)
        if im:
            expr, out = im.group("expr"), im.group("alias").lower()
        else:
            qm = re.fullmatch(r"(\w+)\.(\w+)", item)
            if qm:
                expr, out = item, qm.group(2).lower()
            elif re.fullmatch(r"\w+", item):
                expr, out = item, item.lower()  # bare column reference
            else:
                return None
        expr = rewrite(expr)
        if expr is None or _FORBIDDEN_LINEAR.search(expr) or out in aliases:
            return None
        project.append(F.expr(expr).alias(out))
        aliases.append(out)
    return _MultiJoinOp(srcs, ops, project, aliases, where, pres)


_CHAIN_AGG_RE = re.compile(
    r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<rest>.+?)\s*GROUP\s+BY\s+"
    r"(?P<keys>.+?)\s*(?:HAVING\s+(?P<having>.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _recognize_chain_agg(sql: str, cols_of: dict[str, list[str]]):
    """GROUP BY over a left-deep aliased join chain of 3+ sources
    (TPC-H q3/q5/q10 shape: facts joined to dims, then aggregated —
    the reference emits a cascade of DBSPIncrementalJoinOperators
    feeding a DBSPIncrementalAggregateOperator): each stage is the
    bilinear join rule; the final delta feeds one incremental
    aggregate. MIN/MAX ride touched-group recompute."""
    from ..plans.incremental import (
        AggSpec,
        IncrementalGroupRecomputeAgg,
        IncrementalLinearAgg,
    )

    m = _CHAIN_AGG_RE.match(sql)
    if not m:
        return None
    parsed = _parse_chain_from(m.group("rest"), cols_of)
    if parsed is None:
        return None
    srcs, quals, rewrite, join_ops, where, pres = parsed

    key_map: dict[str, str] = {}  # prefixed key col → output name
    key_order: list[str] = []
    for k in _split_top_level_commas(m.group("keys")):
        ks = k.strip()
        km = re.fullmatch(r"(\w+)\.(\w+)", ks)
        if km:
            out_name = km.group(2).lower()
        elif re.fullmatch(r"\w+", ks):
            out_name = ks.lower()
        else:
            return None
        rk = rewrite(ks)
        if rk is None or not re.fullmatch(r"\w+", rk):
            return None
        key_map[rk] = out_name
        key_order.append(rk)

    items: list[tuple[str, str, str]] = []
    sel_exprs: list[str] = []
    out_cols: list[str] = []
    for item in _split_top_level_commas(m.group("sel")):
        item = item.strip()
        am = _AGG_ITEM_RE.match(item)
        if am:
            fn = am.group("fn").lower()
            arg = am.group("arg").strip()
            alias = am.group("alias").lower()
            if arg != "*":
                if re.search(r"\bDISTINCT\b", arg, re.IGNORECASE):
                    return None
                arg = rewrite(arg)
                if arg is None or _FORBIDDEN_LINEAR.search(arg):
                    return None
            items.append((fn, arg, alias))
            sel_exprs.append(alias)
            out_cols.append(alias)
        else:
            im = re.fullmatch(
                r"(?P<expr>.+?)\s+AS\s+(?P<alias>\w+)", item, re.IGNORECASE | re.DOTALL
            )
            if im:
                expr, out = rewrite(im.group("expr").strip()), im.group("alias").lower()
            else:
                expr, out = rewrite(item), None
            if expr is None or expr not in key_map:
                return None
            out = out or key_map[expr]
            sel_exprs.append(f"{expr} AS {out}")
            out_cols.append(out)
    if not items:
        return None
    having_sql = m.group("having")
    if having_sql is not None:
        # prefix column refs first, then compile aggregates not in the
        # select list to hidden __hN items + a row-wise filter
        having_sql = rewrite(having_sql)
        if having_sql is None:
            return None
        existing = {
            (fn, re.sub(r"\s+", "", (arg or "").lower())): al for fn, arg, al in items
        }
        rewritten = _extract_having_aggs(having_sql, existing)
        if rewritten is None:
            return None
        having_sql, extra = rewritten
        for fn, arg, _al in extra:
            if arg != "*" and (
                re.search(r"\bDISTINCT\b", arg, re.IGNORECASE)
                or _FORBIDDEN_LINEAR.search(arg)
            ):
                return None
        items = items + extra
        if not _having_refs_only(
            having_sql, out_cols + [al for _, _, al in extra] + key_order
        ):
            return None
    having = F.expr(having_sql) if having_sql else None
    cond = F.expr(where) if where else None
    if any(fn in ("min", "max") for fn, _, _ in items):
        aggs = [
            (F.count(F.lit(1)) if (fn == "count" and arg == "*") else F.expr(f"{fn}({arg})")).alias(al)
            for fn, arg, al in items
        ]
        agg_op = IncrementalGroupRecomputeAgg(keys=key_order, aggs=aggs, cond=cond)
    else:
        specs: list = []
        for fn, arg, al in items:
            if fn == "count" and arg == "*":
                specs.append(AggSpec(al, "count"))
            elif fn == "count":
                specs.append(AggSpec(al, "count", F.expr(arg)))
            elif fn in ("sum", "avg"):
                specs.append(AggSpec(al, fn, F.expr(arg)))
            else:
                return None
        agg_op = IncrementalLinearAgg(keys=key_order, specs=specs, cond=cond)
    return _MultiJoinAggOp(srcs, join_ops, pres, agg_op, sel_exprs, out_cols, having)


_ALIAS_OUTER_JOIN_RE = re.compile(
    r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<a>\w+)\s+(?P<aa>\w+)\s+"
    r"(?P<how>LEFT|RIGHT|FULL)\s+(?:OUTER\s+)?JOIN\s+(?P<b>\w+)\s+(?P<ba>\w+)\s+"
    r"ON\s+(?P<on>.+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALIAS_OUTER_AGG_RE = re.compile(
    r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<a>\w+)\s+(?P<aa>\w+)\s+"
    r"(?P<how>LEFT|RIGHT|FULL)\s+(?:OUTER\s+)?JOIN\s+(?P<b>\w+)\s+(?P<ba>\w+)\s+"
    r"ON\s+(?P<on>.+?)\s*GROUP\s+BY\s+(?P<keys>.+?)\s*"
    r"(?:HAVING\s+(?P<having>.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _recognize_alias_outer_agg(sql: str, cols_of: dict[str, list[str]]):
    """GROUP BY over an aliased OUTER equi-join → _AliasOuterJoinAggOp
    (TPC-H q13 shape: customer LEFT JOIN orders, COUNT(o_orderkey))."""
    from ..plans.incremental import (
        AggSpec,
        IncrementalGroupRecomputeAgg,
        IncrementalLinearAgg,
        IncrementalOuterJoin,
    )

    m = _ALIAS_OUTER_AGG_RE.match(sql)
    if not m:
        return None
    a, b = m.group("a").lower(), m.group("b").lower()
    aa, ba = m.group("aa").lower(), m.group("ba").lower()
    how = m.group("how").lower()
    if aa == ba or {aa, ba} & _RESERVED_ALIASES:
        return None
    if a not in cols_of or b not in cols_of:
        return None
    cols_a, cols_b = cols_of[a], cols_of[b]
    rewrite = _make_alias_rewriter(aa, cols_a, ba, cols_b)
    on = rewrite(m.group("on"))
    if on is None or _FORBIDDEN_LINEAR.search(on):
        return None
    keys_a: list[str] = []
    keys_b: list[str] = []
    for conj in re.split(r"\bAND\b", on, flags=re.IGNORECASE):
        cm = re.fullmatch(r"\s*(__\w+)\s*=\s*(__\w+)\s*", conj)
        if not cm:
            return None
        l, r = cm.group(1), cm.group(2)
        if l.startswith(f"__{aa}_") and r.startswith(f"__{ba}_"):
            keys_a.append(l)
            keys_b.append(r)
        elif l.startswith(f"__{ba}_") and r.startswith(f"__{aa}_"):
            keys_a.append(r)
            keys_b.append(l)
        else:
            return None
    if not keys_a:
        return None

    key_map: dict[str, str] = {}
    key_order: list[str] = []
    for k in _split_top_level_commas(m.group("keys")):
        ks = k.strip()
        km = re.fullmatch(r"(\w+)\.(\w+)", ks)
        if km:
            out_name = km.group(2).lower()
        elif re.fullmatch(r"\w+", ks):
            out_name = ks.lower()
        else:
            return None
        rk = rewrite(ks)
        if rk is None or not re.fullmatch(r"\w+", rk):
            return None
        key_map[rk] = out_name
        key_order.append(rk)

    items: list[tuple[str, str, str]] = []
    sel_exprs: list[str] = []
    out_cols: list[str] = []
    for item in _split_top_level_commas(m.group("sel")):
        item = item.strip()
        am = _AGG_ITEM_RE.match(item)
        if am:
            fn = am.group("fn").lower()
            arg = am.group("arg").strip()
            alias = am.group("alias").lower()
            if arg != "*":
                if re.search(r"\bDISTINCT\b", arg, re.IGNORECASE):
                    return None  # distinct aggregates over outer joins → naive
                arg = rewrite(arg)
                if arg is None or _FORBIDDEN_LINEAR.search(arg):
                    return None
            items.append((fn, arg, alias))
            sel_exprs.append(alias)
            out_cols.append(alias)
        else:
            im = re.fullmatch(
                r"(?P<expr>.+?)\s+AS\s+(?P<alias>\w+)", item, re.IGNORECASE | re.DOTALL
            )
            if im:
                expr, out = rewrite(im.group("expr").strip()), im.group("alias").lower()
            else:
                expr, out = rewrite(item), None
            if expr is None or expr not in key_map:
                return None
            out = out or key_map[expr]
            sel_exprs.append(f"{expr} AS {out}")
            out_cols.append(out)
    if not items:
        return None
    having_sql = m.group("having")
    if having_sql is not None:
        having_sql = rewrite(having_sql)
        if having_sql is None:
            return None
        existing = {
            (fn, re.sub(r"\s+", "", (arg or "").lower())): al for fn, arg, al in items
        }
        rewritten = _extract_having_aggs(having_sql, existing)
        if rewritten is None:
            return None
        having_sql, extra = rewritten
        for fn, arg, _al in extra:
            if arg != "*" and (
                re.search(r"\bDISTINCT\b", arg, re.IGNORECASE)
                or _FORBIDDEN_LINEAR.search(arg)
            ):
                return None
        items = items + extra
        if not _having_refs_only(
            having_sql, out_cols + [al for _, _, al in extra] + key_order
        ):
            return None
    having = F.expr(having_sql) if having_sql else None
    if any(fn in ("min", "max") for fn, _, _ in items):
        aggs = [
            (F.count(F.lit(1)) if (fn == "count" and arg == "*") else F.expr(f"{fn}({arg})")).alias(al)
            for fn, arg, al in items
        ]
        agg_op = IncrementalGroupRecomputeAgg(keys=key_order, aggs=aggs)
    else:
        specs: list = []
        for fn, arg, al in items:
            if fn == "count" and arg == "*":
                specs.append(AggSpec(al, "count"))
            elif fn == "count":
                specs.append(AggSpec(al, "count", F.expr(arg)))
            elif fn in ("sum", "avg"):
                specs.append(AggSpec(al, fn, F.expr(arg)))
            else:
                return None
        agg_op = IncrementalLinearAgg(keys=key_order, specs=specs)
    pre_a = [f"{c} AS __{aa}_{c}" for c in cols_a]
    pre_b = [f"{c} AS __{ba}_{c}" for c in cols_b]
    project = [
        F.col(f"__{aa}_{c}") for c in cols_a
    ] + [F.col(f"__{ba}_{c}") for c in cols_b]
    return _AliasOuterJoinAggOp(
        a, b, pre_a, pre_b,
        IncrementalOuterJoin(key_a=keys_a, key_b=keys_b, project=project, how=how),
        agg_op, sel_exprs, out_cols, having,
    )


def _recognize_alias_outer_join(sql: str, cols_of: dict[str, list[str]]):
    """Aliased LEFT/RIGHT/FULL OUTER equi-join → _AliasOuterJoinOp."""
    from ..plans.incremental import IncrementalOuterJoin

    m = _ALIAS_OUTER_JOIN_RE.match(sql)
    if not m:
        return None
    a, b = m.group("a").lower(), m.group("b").lower()
    aa, ba = m.group("aa").lower(), m.group("ba").lower()
    how = m.group("how").lower()
    if aa == ba or {aa, ba} & _RESERVED_ALIASES:
        return None
    if a not in cols_of or b not in cols_of:
        return None
    cols_a, cols_b = cols_of[a], cols_of[b]
    rewrite = _make_alias_rewriter(aa, cols_a, ba, cols_b)
    on = rewrite(m.group("on"))
    if on is None or _FORBIDDEN_LINEAR.search(on):
        return None
    keys_a: list[str] = []
    keys_b: list[str] = []
    for conj in re.split(r"\bAND\b", on, flags=re.IGNORECASE):
        cm = re.fullmatch(r"\s*(__\w+)\s*=\s*(__\w+)\s*", conj)
        if not cm:
            return None
        l, r = cm.group(1), cm.group(2)
        if l.startswith(f"__{aa}_") and r.startswith(f"__{ba}_"):
            keys_a.append(l)
            keys_b.append(r)
        elif l.startswith(f"__{ba}_") and r.startswith(f"__{aa}_"):
            keys_a.append(r)
            keys_b.append(l)
        else:
            return None
    if not keys_a:
        return None
    project: "list[Column]" = []
    out_cols: list[str] = []
    for item in _split_top_level_commas(m.group("sel")):
        item = item.strip()
        im = re.fullmatch(
            r"(?P<expr>.+?)\s+AS\s+(?P<alias>\w+)", item, re.IGNORECASE | re.DOTALL
        )
        if im:
            expr, out = im.group("expr"), im.group("alias").lower()
        else:
            qm = re.fullmatch(r"(\w+)\.(\w+)", item)
            if qm:
                expr, out = item, qm.group(2).lower()
            elif re.fullmatch(r"\w+", item):
                expr, out = item, item.lower()  # bare column reference
            else:
                return None
        expr = rewrite(expr)
        if expr is None or _FORBIDDEN_LINEAR.search(expr) or out in out_cols:
            return None
        project.append(F.expr(expr).alias(out))
        out_cols.append(out)
    pre_a = [f"{c} AS __{aa}_{c}" for c in cols_a]
    pre_b = [f"{c} AS __{ba}_{c}" for c in cols_b]
    return _AliasOuterJoinOp(
        a, b, pre_a, pre_b,
        IncrementalOuterJoin(key_a=keys_a, key_b=keys_b, project=project, how=how),
        out_cols,
    )


def _recognize_alias_join(sql: str, cols_of: dict[str, list[str]]):
    """Aliased two-table inner join (incl. self-join) → _AliasJoinOp.
    Both sides must carry an explicit alias and ON must be an
    equi-conjunction; column references may be alias-qualified or
    bare when one side uniquely owns the name (SQL resolution —
    self-joins reject every bare reference as ambiguous)."""
    from ..plans.incremental import IncrementalJoin

    m = _ALIAS_JOIN_RE.match(sql)
    if not m:
        return None
    a, b = m.group("a").lower(), m.group("b").lower()
    aa, ba = m.group("aa").lower(), m.group("ba").lower()
    if aa == ba or {aa, ba} & _RESERVED_ALIASES:
        return None
    if a not in cols_of or b not in cols_of:
        return None
    cols_a, cols_b = cols_of[a], cols_of[b]
    rewrite = _make_alias_rewriter(aa, cols_a, ba, cols_b)

    on = rewrite(m.group("on"))
    if on is None or _FORBIDDEN_LINEAR.search(on):
        return None
    on_col = _parse_alias_on(on, aa, ba)
    if on_col is None:
        return None

    where = m.group("where")
    if where is not None:
        where = rewrite(where)
        if where is None or _FORBIDDEN_LINEAR.search(where):
            return None

    sel_items: list[str] = []
    out_cols: list[str] = []
    for item in _split_top_level_commas(m.group("sel")):
        item = item.strip()
        im = re.fullmatch(
            r"(?P<expr>.+?)\s+AS\s+(?P<alias>\w+)", item, re.IGNORECASE | re.DOTALL
        )
        if im:
            expr, out = im.group("expr"), im.group("alias").lower()
        else:
            qm = re.fullmatch(r"(\w+)\.(\w+)", item)
            if qm:
                expr, out = item, qm.group(2).lower()
            elif re.fullmatch(r"\w+", item):
                expr, out = item, item.lower()  # bare column reference
            else:
                return None
        expr = rewrite(expr)
        if expr is None or _FORBIDDEN_LINEAR.search(expr) or out in out_cols:
            return None
        sel_items.append(f"{expr} AS {out}")
        out_cols.append(out)
    pre_a = [f"{c} AS __{aa}_{c}" for c in cols_a]
    pre_b = [f"{c} AS __{ba}_{c}" for c in cols_b]
    return _AliasJoinOp(
        a, b, pre_a, pre_b, IncrementalJoin(on=on_col), where, sel_items, out_cols
    )


# The exact LATERAL VIEW shape translate_view_sql emits for UNNEST
# WITH ORDINALITY (inline over an index-carrying transform).
_LATERAL_ORDINAL_RE = re.compile(
    r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<src>\w+)\s+LATERAL\s+VIEW\s+"
    r"inline\s*\(\s*transform\s*\(\s*(?P<arr>.+?)\s*,\s*"
    r"\(\s*__x\s*,\s*__i\s*\)\s*->\s*struct\s*\(\s*__x\s*,\s*"
    r"CAST\s*\(\s*__i\s*\+\s*1\s+AS\s+BIGINT\s*\)\s*\)\s*\)\s*\)\s+"
    r"(?P<tab>\w+)\s+AS\s+(?P<col>\w+)\s*,\s*(?P<ord>\w+)\s*"
    r"(?:WHERE\s+(?P<where>.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_EXISTS_CONJ_RE = re.compile(
    r"^\s*(?P<neg>NOT\s+)?EXISTS\s*\(\s*(?P<inner>SELECT\b.+)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_IN_CONJ_RE = re.compile(
    r"^\s*(?P<col>[\w.]+)\s+IN\s*\(\s*SELECT\s+(?P<bcol>[\w.]+)\s+FROM\s+"
    r"(?P<b>\w+)\s*(?:WHERE\s+(?P<bwhere>.+?))?\s*\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_NOT_IN_CONJ_RE = re.compile(
    r"^\s*(?P<col>[\w.]+)\s+NOT\s+IN\s*\(\s*SELECT\s+(?P<bcol>[\w.]+)\s+FROM\s+"
    r"(?P<b>\w+)\s*(?:WHERE\s+(?P<bwhere>.+?))?\s*\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SCALAR_SUBQ_ITEM_RE = re.compile(
    r"^\(\s*SELECT\s+(?P<fn>SUM|COUNT|AVG|MIN|MAX)\s*\(\s*(?P<arg>\*|[^()]+?)\s*\)\s+"
    r"FROM\s+(?P<b>\w+)\s+WHERE\s+(?P<cond>.+)\)\s+AS\s+(?P<alias>\w+)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_GROUPING_AGG_RE = re.compile(
    r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<src>\w+)\s*"
    r"(?:WHERE\s+(?P<where>.+?))?\s*GROUP\s+BY\s+"
    r"(?P<kind>ROLLUP|CUBE|GROUPING\s+SETS)\s*\((?P<body>.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_GROUPING_ITEM_RE = re.compile(
    r"^GROUPING\s*\(\s*(?P<col>\w+)\s*\)\s+AS\s+(?P<alias>\w+)$",
    re.IGNORECASE,
)


def _split_conjuncts(s: str) -> list[str]:
    """Split a WHERE condition on top-level AND — outside parens and
    outside single-quoted literals — preserving each conjunct's text.
    The AND inside ``[NOT] BETWEEN lo AND hi`` pairs with its BETWEEN
    and does NOT split (the conjunct stays whole, so the band form is
    recognizable downstream)."""
    parts, buf = [], []
    depth, in_str, i = 0, False, 0
    pending_between = 0
    up = s.upper()

    def _kw(at: int, kw: str) -> bool:
        return (
            up.startswith(kw, at)
            and (at == 0 or not (s[at - 1].isalnum() or s[at - 1] == "_"))
            and (
                at + len(kw) >= len(s)
                or not (s[at + len(kw)].isalnum() or s[at + len(kw)] == "_")
            )
        )

    while i < len(s):
        c = s[i]
        if in_str:
            if c == "'":
                if i + 1 < len(s) and s[i + 1] == "'":
                    buf.append("''")
                    i += 2
                    continue
                in_str = False
            buf.append(c)
            i += 1
            continue
        if c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if depth == 0 and _kw(i, "BETWEEN"):
            pending_between += 1
        if depth == 0 and _kw(i, "AND"):
            if pending_between:
                pending_between -= 1
            else:
                parts.append("".join(buf))
                buf = []
                i += 3
                continue
        buf.append(c)
        i += 1
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


def _resolve_side(
    tok: str, a: str, b: str, cols_a: list[str], cols_b: list[str]
) -> "tuple[str, str] | None":
    """Resolve ``a.x`` / ``b.y`` / bare ``x`` to ('a'|'b', column);
    None when unresolvable or ambiguous across the two inputs."""
    tok = tok.strip().lower()
    if "." in tok:
        q, _, c = tok.partition(".")
        if q == a and c in cols_a:
            return ("a", c)
        if q == b and c in cols_b:
            return ("b", c)
        return None
    in_a, in_b = tok in cols_a, tok in cols_b
    if in_a and not in_b:
        return ("a", tok)
    if in_b and not in_a:
        return ("b", tok)
    return None


def _split_correlation(
    cond: str, a: str, b: str, cols_a: list[str], cols_b: list[str]
) -> "tuple[list[str], list[str], str | None] | None":
    """Split a subquery's WHERE into correlation equi-pairs and a
    residual B-only filter: returns (keys_a, keys_b, b_where) or None
    when a conjunct references the outer input non-equi or ambiguous
    columns (→ naive fallback)."""
    keys_a: list[str] = []
    keys_b: list[str] = []
    residual: list[str] = []
    for conj in _split_conjuncts(cond):
        m = re.fullmatch(r"\s*([\w.]+)\s*=\s*([\w.]+)\s*", conj)
        if m:
            s1 = _resolve_side(m.group(1), a, b, cols_a, cols_b)
            s2 = _resolve_side(m.group(2), a, b, cols_a, cols_b)
            if s1 and s2 and {s1[0], s2[0]} == {"a", "b"}:
                ka, kb = (s1[1], s2[1]) if s1[0] == "a" else (s2[1], s1[1])
                keys_a.append(ka)
                keys_b.append(kb)
                continue
            if s1 is None or s2 is None:
                return None
        # residual must be B-only: no outer-input references
        stripped = _strip_string_literals(conj)
        if re.search(rf"\b{re.escape(a)}\s*\.", stripped, re.IGNORECASE):
            return None
        if _FORBIDDEN_LINEAR.search(conj):
            return None
        for word in re.findall(r"\b[A-Za-z_]\w*\b", stripped):
            w = word.lower()
            prefixed = re.search(rf"\b\w+\s*\.\s*{re.escape(word)}\b", stripped)
            if not prefixed and w in cols_a and w in cols_b:
                return None  # ambiguous bare column
            if not prefixed and w in cols_a and w not in cols_b:
                return None  # outer reference in a non-equi conjunct
        residual.append(
            _sub_outside_literals(rf"\b{re.escape(b)}\s*\.\s*", "", conj, flags=re.IGNORECASE)
        )
    if not keys_a:
        return None
    return keys_a, keys_b, (" AND ".join(residual) if residual else None)


# One side of a range-correlation comparison: a qualified column, a
# number, or a string literal, optionally combined with one +/- term.
_RANGE_TERM = r"(?:\w+\s*\.\s*\w+|\d+(?:\.\d+)?|'(?:[^']|'')*')"
_RANGE_CONJ_RE = re.compile(
    rf"^\s*(?P<l>{_RANGE_TERM})(?:\s*[+\-]\s*{_RANGE_TERM})?\s*"
    rf"(?:<=|>=|<>|!=|<|>)\s*"
    rf"(?P<r>{_RANGE_TERM})(?:\s*[+\-]\s*{_RANGE_TERM})?\s*$"
)
# X BETWEEN lo AND hi (same term grammar) — expanded to two range
# conjuncts before matching, so the band-join form is recognized.
_RANGE_BETWEEN_RE = re.compile(
    rf"^\s*(?P<x>{_RANGE_TERM})\s+BETWEEN\s+"
    rf"(?P<lo>{_RANGE_TERM}(?:\s*[+\-]\s*{_RANGE_TERM})?)\s+AND\s+"
    rf"(?P<hi>{_RANGE_TERM}(?:\s*[+\-]\s*{_RANGE_TERM})?)\s*$",
    re.IGNORECASE,
)


def _split_correlation_ranged(
    cond: str, a: str, b: str, cols_a: list[str], cols_b: list[str]
) -> "tuple[list[str], list[str], str | None, str, list[str]] | None":
    """Like :func:`_split_correlation` but ACCEPTS non-equi correlated
    conjuncts (``b.ts < a.ts``) instead of declining: returns
    (keys_a, keys_b, b_where, pred_sql, b_pred_cols) where pred_sql is
    the AND of the non-equi conjuncts rewritten to A's natural names +
    ``__b_``-prefixed B names. Requires ≥1 equi pair (the state is
    bucketed on it) and ≥1 non-equi conjunct (else the plain splitter
    already handles the view). Non-equi conjuncts are held to a strict
    grammar — comparisons of fully-qualified columns / literals with
    at most one +/- term per side — so every identifier is
    unambiguously resolved; anything else declines to naive."""
    keys_a: list[str] = []
    keys_b: list[str] = []
    residual: list[str] = []
    preds: list[str] = []
    pred_cols: list[str] = []
    conjs: list[str] = []
    for conj in _split_conjuncts(cond):
        bm = _RANGE_BETWEEN_RE.match(conj)
        if bm and re.search(
            rf"\b{re.escape(a)}\s*\.", _strip_string_literals(conj), re.IGNORECASE
        ):
            # band form: expand X BETWEEN lo AND hi into two range
            # conjuncts the grammar below accepts
            conjs.append(f"{bm.group('x')} >= {bm.group('lo')}")
            conjs.append(f"{bm.group('x')} <= {bm.group('hi')}")
        else:
            conjs.append(conj)
    for conj in conjs:
        m = re.fullmatch(r"\s*([\w.]+)\s*=\s*([\w.]+)\s*", conj)
        if m:
            s1 = _resolve_side(m.group(1), a, b, cols_a, cols_b)
            s2 = _resolve_side(m.group(2), a, b, cols_a, cols_b)
            if s1 and s2 and {s1[0], s2[0]} == {"a", "b"}:
                ka, kb = (s1[1], s2[1]) if s1[0] == "a" else (s2[1], s1[1])
                keys_a.append(ka)
                keys_b.append(kb)
                continue
            if s1 is None or s2 is None:
                return None
        stripped = _strip_string_literals(conj)
        refs_a = re.search(rf"\b{re.escape(a)}\s*\.", stripped, re.IGNORECASE)
        refs_b = re.search(rf"\b{re.escape(b)}\s*\.", stripped, re.IGNORECASE)
        if refs_a and refs_b:
            if not _RANGE_CONJ_RE.match(conj):
                return None
            ok = True
            for qual, col in re.findall(r"\b(\w+)\s*\.\s*(\w+)", stripped):
                q, c = qual.lower(), col.lower()
                if q == a and c in cols_a:
                    continue
                if q == b and c in cols_b:
                    pred_cols.append(c)
                    continue
                ok = False
            if not ok:
                return None
            p = _sub_outside_literals(
                rf"\b{re.escape(a)}\s*\.\s*", "", conj, flags=re.IGNORECASE
            )
            p = _sub_outside_literals(
                rf"\b{re.escape(b)}\s*\.\s*", "__b_", p, flags=re.IGNORECASE
            )
            preds.append(f"({p.strip()})")
            continue
        if refs_a:
            return None  # outer-only conjunct inside the subquery
        if _FORBIDDEN_LINEAR.search(conj):
            return None
        for word in re.findall(r"\b[A-Za-z_]\w*\b", stripped):
            w = word.lower()
            prefixed = re.search(rf"\b\w+\s*\.\s*{re.escape(word)}\b", stripped)
            if not prefixed and w in cols_a and w in cols_b:
                return None
            if not prefixed and w in cols_a and w not in cols_b:
                return None
        residual.append(
            _sub_outside_literals(rf"\b{re.escape(b)}\s*\.\s*", "", conj, flags=re.IGNORECASE)
        )
    if not keys_a or not preds:
        return None
    return (
        keys_a,
        keys_b,
        (" AND ".join(residual) if residual else None),
        " AND ".join(preds),
        sorted(set(pred_cols)),
    )


def _parse_plain_sel(
    sel: str, src: str
) -> "tuple[list[str] | None, list[str] | None] | None":
    """Validate a projection over one input (+ optional derived
    columns): returns (sel_items|None for *, out_names|None) or None.
    Strips ``src.`` qualifiers; items are plain columns or
    forbidden-free ``expr AS alias``."""
    sel = sel.strip()
    if sel == "*":
        return (None, None)
    items, names = [], []
    for item in _split_top_level_commas(sel):
        item = _sub_outside_literals(
            rf"\b{re.escape(src)}\s*\.\s*", "", item.strip(), flags=re.IGNORECASE
        )
        am = re.search(r"\s+AS\s+(\w+)\s*$", item, re.IGNORECASE)
        if am:
            if _FORBIDDEN_LINEAR.search(item):
                return None
            names.append(am.group(1).lower())
        elif re.fullmatch(r"\w+", item):
            names.append(item.lower())
        else:
            return None
        items.append(item)
    return (items, names)


@dataclass
class _FlatMapOp:
    """UNNEST / LATERAL VIEW explode view — linear (DBSPFlatMapOperator;
    reference visitUncollect): the delta of the flatmap is the flatmap
    of the delta, each exploded row inheriting its source weight."""

    src: str
    arr_expr: str
    elem: str
    sel_items: "list[str] | None"
    where: "str | None"
    out_cols: "list[str] | None"
    ord_col: "str | None" = None  # WITH ORDINALITY output column


@dataclass
class _SemiAntiOp:
    """Decorrelated [NOT] EXISTS / IN-subquery view
    (plans.incremental.IncrementalSemiAnti)."""

    src_a: str
    src_b: str
    b_keys: "list[str]"
    b_where: "str | None"
    a_where: "str | None"
    sel_items: "list[str] | None"
    op: object  # IncrementalSemiAnti
    out_cols: "list[str] | None"
    anti: bool


@dataclass
class _NotInOp:
    """NULL-aware ``x NOT IN (SELECT y FROM b [WHERE …])`` view with an
    uncorrelated subquery (plans.incremental.IncrementalNullAwareNotIn
    — three-valued logic, NOT a plain anti join)."""

    src_a: str
    src_b: str
    b_key: str
    b_where: "str | None"
    a_where: "str | None"
    sel_items: "list[str] | None"
    op: object  # IncrementalNullAwareNotIn
    out_cols: "list[str] | None"


@dataclass
class _KeyedNotInOp:
    """CORRELATED NULL-aware NOT IN view — ``x NOT IN (SELECT y FROM b
    WHERE b.k = a.k [AND resid])`` (plans.incremental.
    IncrementalKeyedNotIn: per-key mode indicators, touched-key
    recompute)."""

    src_a: str
    src_b: str
    b_key: str  # compared column of b (the y)
    corr_b: "list[str]"  # correlation columns of b
    b_where: "str | None"  # residual b-only filter
    a_where: "str | None"
    sel_items: "list[str] | None"
    op: object  # IncrementalKeyedNotIn
    out_cols: "list[str] | None"


@dataclass
class _RangeSemiAntiOp:
    """Decorrelated [NOT] EXISTS whose correlation mixes equi keys
    with NON-EQUI residual conjuncts — ``EXISTS (SELECT 1 FROM b
    WHERE b.k = a.k AND b.ts < a.ts)`` (plans.incremental.
    IncrementalRangeSemiAnti: touched-key recompute; the reference's
    visitCorrelate, CalciteToDBSPCompiler.java:213, decorrelates the
    same shapes to join circuits with residual conditions)."""

    src_a: str
    src_b: str
    b_keys: "list[str]"  # equi-correlation columns of b
    b_pred_cols: "list[str]"  # b columns the residual predicate reads
    pred: str  # residual over A natural names + __b_ prefixed B names
    b_where: "str | None"
    a_where: "str | None"
    sel_items: "list[str] | None"
    op: object  # IncrementalRangeSemiAnti
    out_cols: "list[str] | None"
    anti: bool


@dataclass
class _RangeScalarSubqOp:
    """Range-correlated scalar-aggregate subquery view — ``SELECT a.*,
    (SELECT agg(b.v) FROM b WHERE b.k = a.k AND b.ts < a.ts) AS m
    FROM a`` (plans.incremental.IncrementalRangeScalarAgg: per-outer-
    row aggregate slices, touched-key recompute; the "latest-before"
    as-of aggregation the reference's visitCorrelate also
    decorrelates)."""

    src_a: str
    src_b: str
    b_keys: "list[str]"
    b_pred_cols: "list[str]"
    b_arg: "str | None"  # None for COUNT(*)
    pred: str
    b_where: "str | None"
    a_where: "str | None"
    op: object  # IncrementalRangeScalarAgg
    out_cols: "list[str]"


@dataclass
class _ScalarSub:
    """One decorrelated scalar-aggregate subquery: its source table,
    the key+arg pre-projection of that delta, and the aggregate +
    left-outer-join operators that maintain it."""

    src_b: str
    b_sel: "list[str]"  # pre-projection of the B delta (__bk keys + __arg)
    b_where: "str | None"
    agg_op: object  # IncrementalLinearAgg | IncrementalGroupRecomputeAgg
    join_op: object  # IncrementalOuterJoin (left)


@dataclass
class _ScalarSubqueryOp:
    """Correlated scalar-aggregate subqueries in the SELECT list,
    decorrelated to grouped-aggregate → left-outer-join (reference
    visitCorrelate lowers these to aggregate+join circuits). COUNT
    coalesces NULL (no matching group) to 0 — SQL's scalar-subquery
    semantics over an empty set. Multiple subqueries chain: the k-th
    join's outer side is the (k-1)-th join's output delta, each join
    projecting the plain columns plus every alias produced so far."""

    src_a: str
    subs: "list[_ScalarSub]"
    a_where: "str | None"
    out_exprs_sql: "list[str]"  # post-join projection (coalesce for COUNT)
    out_cols: "list[str]"


@dataclass
class _GroupingSetsOp:
    """GROUP BY ROLLUP / CUBE / GROUPING SETS over linear aggregates:
    one incremental aggregate per grouping set; per-step output is the
    Z-set sum of each set's delta padded with typed NULLs for absent
    keys and per-set GROUPING() literals. The empty grouping set is a
    constant-keyed group that appears/disappears with its support —
    Spark's Expand-based grouping emits the grand-total row only for
    nonempty input, unlike a bare GROUP-BY-less aggregate."""

    src: str
    where: "str | None"
    sets: "list[list[str]]"
    all_keys: "list[str]"
    grouping_aliases: "dict[str, str]"  # out alias -> grouped column
    agg_aliases: "list[str]"
    out_cols: "list[str]"
    sub_ops: "list[object]"  # parallel to sets (empty set keyed by __g)
    kindword: str  # rollup | cube | grouping-sets
    items: "list[tuple[str, str, str]]"  # (fn, arg, alias)
    recompute: bool = False  # MIN/MAX present → per-set recompute


def _parse_join_projection(
    sel: str, a: str, b: str, cols_a: list[str], cols_b: list[str]
) -> "tuple[list[Column], list[str]] | None":
    """Parse a join select-list of plain (optionally qualified /
    aliased) columns into unambiguous Column projections (+ their
    output names); None when any item is an expression, unknown, or
    ambiguous across inputs."""
    project: list[Column] = []
    aliases: list[str] = []
    for item in _split_top_level_commas(sel):
        item = item.strip()
        im = re.fullmatch(
            r"(?:(?P<q>\w+)\.)?(?P<col>\w+)(?:\s+AS\s+(?P<alias>\w+))?",
            item,
            re.IGNORECASE,
        )
        if not im:
            return None
        col = im.group("col").lower()
        qual = (im.group("q") or "").lower()
        alias = (im.group("alias") or col).lower()
        owner = a if col in cols_a else (b if col in cols_b else None)
        if owner is None or (col in cols_a and col in cols_b):
            return None  # unknown or ambiguous column
        if qual and qual != owner:
            return None
        project.append(F.col(col).alias(alias))
        aliases.append(alias)
    return project, aliases


def _parse_multi_projection(
    sel: str, cols_map: "dict[str, list[str]]"
) -> "tuple[list[Column], list[str]] | None":
    """Generalize :func:`_parse_join_projection` to n sources: each
    select item must be a plain (optionally qualified / aliased)
    column owned by exactly one source."""
    owners: dict[str, str] = {}
    ambiguous: set[str] = set()
    for src, cols in cols_map.items():
        for c in cols:
            if c in owners:
                ambiguous.add(c)
            owners[c] = src
    project: list[Column] = []
    aliases: list[str] = []
    for item in _split_top_level_commas(sel):
        item = item.strip()
        im = re.fullmatch(
            r"(?:(?P<q>\w+)\.)?(?P<col>\w+)(?:\s+AS\s+(?P<alias>\w+))?",
            item,
            re.IGNORECASE,
        )
        if not im:
            return None
        col = im.group("col").lower()
        qual = (im.group("q") or "").lower()
        alias = (im.group("alias") or col).lower()
        if col not in owners or col in ambiguous:
            return None
        if qual and qual != owners[col]:
            return None
        project.append(F.col(col).alias(alias))
        aliases.append(alias)
    return project, aliases


def _parse_join_chain(
    sql: str, cols_of: dict[str, list[str]]
) -> "_MultiJoinOp | None":
    """Recognize ``SELECT … FROM a JOIN b ON … JOIN c ON … [WHERE …]``
    with ≥3 sources, all inner equi-joins, all column names globally
    unambiguous. Two-source joins keep their dedicated path."""
    from ..plans.incremental import IncrementalJoin

    m = re.match(r"^\s*SELECT\s+(?P<sel>.+?)\s+FROM\s+(?P<rest>.+)$", sql, re.IGNORECASE | re.DOTALL)
    if not m:
        return None
    sel, rest = m.group("sel"), m.group("rest")
    if re.search(r"\b(LEFT|RIGHT|FULL|OUTER|CROSS)\b", rest, re.IGNORECASE):
        return None
    wm = re.split(r"\bWHERE\b", rest, maxsplit=1, flags=re.IGNORECASE)
    from_clause = wm[0]
    where = wm[1].strip() if len(wm) > 1 else None
    parts = re.split(r"\bJOIN\b", from_clause, flags=re.IGNORECASE)
    if len(parts) < 3:  # fewer than 3 sources
        return None
    srcs = [parts[0].strip().lower()]
    ons: list[str] = []
    for p in parts[1:]:
        pm = re.match(r"^\s*(?P<t>\w+)\s+ON\s+(?P<on>.+)$", p, re.IGNORECASE | re.DOTALL)
        if not pm:
            return None
        srcs.append(pm.group("t").lower())
        ons.append(pm.group("on").strip())
    if len(set(srcs)) != len(srcs) or any(s not in cols_of for s in srcs):
        return None
    # global column-name uniqueness: cascaded frames carry no qualifiers
    all_cols = [c for s in srcs for c in cols_of[s]]
    if len(set(all_cols)) != len(all_cols):
        return None
    col_owner = {c: s for s in srcs for c in cols_of[s]}
    ops = []
    for i, on in enumerate(ons):
        new = srcs[i + 1]
        prev = set(srcs[: i + 1])
        on_col = None
        for conj in re.split(r"\bAND\b", on, flags=re.IGNORECASE):
            cm = _EQ_CONJUNCT_RE.match(conj.lower())
            if not cm:
                return None
            q1, c1, q2, c2 = cm.group("q1"), cm.group("c1"), cm.group("q2"), cm.group("c2")
            if col_owner.get(c1) != q1 or col_owner.get(c2) != q2:
                return None
            if not ({q1, q2} <= prev | {new} and new in {q1, q2} and {q1, q2} & prev):
                return None  # each conjunct links the new source to the prefix
            eq = F.col(c1) == F.col(c2)
            on_col = eq if on_col is None else (on_col & eq)
        if on_col is None:
            return None
        ops.append(IncrementalJoin(on=on_col, project=None))
    if where and (_FORBIDDEN_LINEAR.search(where) or re.search(r"\w+\.\w+", where)):
        return None
    parsed = _parse_multi_projection(sel, {s: cols_of[s] for s in srcs})
    if parsed is None:
        return None
    project, aliases = parsed
    return _MultiJoinOp(srcs, ops, project, aliases, where)


def _apply_linear(df: DataFrame, sel: "list[str] | None", where: "str | None") -> DataFrame:
    """Apply a recognized linear view body to a delta DataFrame
    (weight column carried through)."""
    if where:
        df = df.where(where)
    if sel is not None:
        df = df.selectExpr(*sel, WEIGHT)
    return df


@dataclass
class _LinearOp:
    """Linear view: the delta is the select/filter of the delta.
    Compiled to DataFrame ops (where + selectExpr), NOT a temp-view
    SQL query — catalog-free, so deltas from cloned sessions
    (foreachBatch micro-batches) work unchanged."""

    src: str
    sel: "list[str] | None"  # selectExpr items (weight appended); None = *
    where: "str | None"


@dataclass
class _WinFnOp:
    """Window-function view maintained by affected-partition recompute
    (plans.incremental.IncrementalPartitionedWindow)."""

    src: str
    op: object  # IncrementalPartitionedWindow
    out_cols: "list[str]"


@dataclass
class _JoinAggOp:
    """GROUP BY over a two-table equi-join: IncrementalJoin feeding an
    incremental aggregate — the chained-circuit composition."""

    src_a: str
    src_b: str
    join_op: object  # IncrementalJoin
    agg_op: object  # IncrementalLinearAgg | IncrementalGroupRecomputeAgg
    out_cols: "list[str]"
    having: "Column | None"


@dataclass
class _AggOp:
    src: str
    op: "object"  # IncrementalLinearAgg / IncrementalGroupRecomputeAgg
    out_cols: list[str]
    having: "Column | None" = None
    # computed / renamed GROUP BY keys: a linear pre-projection of the
    # delta (all source columns + key-expression aliases)
    pre_sel: "list[str] | None" = None


@dataclass
class _DistinctAggOp:
    """COUNT(DISTINCT col) GROUP BY keys — composed circuit: linear
    pre-projection to (keys, col) → IncrementalDistinct (multiplicity
    zero-crossing state) → linear COUNT per key (reference compiles
    DISTINCT aggregates the same way: a distinct stage feeding a
    non-distinct aggregate)."""

    src: str
    where: "str | None"
    dist_sel: "list[str]"  # projection feeding the distinct state
    distinct_op: object  # IncrementalDistinct
    agg_op: object  # IncrementalLinearAgg (count over the arg)
    out_cols: list[str]
    having: "Column | None" = None


@dataclass
class _JoinOp:
    src_a: str
    src_b: str
    op: "object"  # IncrementalJoin
    aliases: "list[str] | None" = None  # output column names


@dataclass
class _OuterJoinOp:
    src_a: str
    src_b: str
    op: "object"  # IncrementalOuterJoin
    aliases: "list[str] | None" = None


@dataclass
class _AliasJoinOp:
    """Aliased two-table inner equi-join, including SELF-joins
    (``FROM a x JOIN a y ON x.c = y.d``): each side's delta is
    pre-projected to alias-prefixed column names (so a self-join's
    two legs never collide), then the standard bilinear
    IncrementalJoin applies — a self-join is just the bilinear rule
    with the same source feeding both legs (2× state, reference
    visitJoin places no distinctness requirement on the inputs).
    Column references are alias-qualified or bare-but-uniquely-owned
    (self-joins make every bare name ambiguous → rejected); WHERE is
    linear and filters the joined delta."""

    src_a: str
    src_b: str
    pre_a: "list[str]"  # c AS __<alias>_c per source column
    pre_b: "list[str]"
    op: object  # IncrementalJoin over the renamed columns
    where: "str | None"
    sel_items: "list[str]"
    out_cols: "list[str]"


@dataclass
class _AliasOuterJoinOp:
    """Aliased LEFT/RIGHT/FULL OUTER equi-join (incl. self-joins):
    alias-prefixed pre-projections feeding IncrementalOuterJoin's
    touched-key recompute (outer joins are not bilinear)."""

    src_a: str
    src_b: str
    pre_a: "list[str]"
    pre_b: "list[str]"
    op: object  # IncrementalOuterJoin over renamed columns
    out_cols: "list[str]"


@dataclass
class _AliasOuterJoinAggOp:
    """GROUP BY over an aliased LEFT/RIGHT/FULL OUTER equi-join (the
    TPC-H q13 customer-distribution circuit): IncrementalOuterJoin's
    touched-key recompute feeding an incremental aggregate — COUNT of
    a side's column counts only matched (non-NULL-padded) rows,
    COUNT(*) counts padded rows too, exactly SQL's semantics."""

    src_a: str
    src_b: str
    pre_a: "list[str]"
    pre_b: "list[str]"
    join_op: object  # IncrementalOuterJoin projecting all prefixed cols
    agg_op: object  # IncrementalLinearAgg | IncrementalGroupRecomputeAgg
    sel_exprs: "list[str]"
    out_cols: "list[str]"
    having: "Column | None" = None


@dataclass
class _AliasJoinAggOp:
    """Aggregate over an aliased two-table join (incl. self-joins):
    bilinear IncrementalJoin over alias-prefixed pre-projections
    feeding an incremental aggregate — the aliased spelling of the
    reference's chained join→aggregate circuit."""

    src_a: str
    src_b: str
    pre_a: "list[str]"
    pre_b: "list[str]"
    join_op: object  # IncrementalJoin
    agg_op: object  # IncrementalLinearAgg | IncrementalGroupRecomputeAgg
    sel_exprs: "list[str]"  # final projection (renames prefixed keys)
    out_cols: "list[str]"
    having: "Column | None" = None


@dataclass
class _MultiJoinOp:
    """Left-deep inner-join chain ``a JOIN b ON … JOIN c ON … [WHERE]``
    (the reference emits a cascade of DBSPIncrementalJoinOperators for
    multi-way joins): each stage is a bilinear IncrementalJoin whose
    output delta feeds the next stage's left input. The optional WHERE
    is linear, so it's applied to the final delta; the projection runs
    last. Per-step cost is the bilinear rule at every stage — state
    sides bucketed on their join keys at scale."""

    srcs: "list[str]"  # n sources, left-deep order
    ops: "list[object]"  # n-1 IncrementalJoin (no per-stage projection)
    project: "list[Column]"
    aliases: "list[str]"
    where: "str | None" = None
    # aliased chains: per-source alias-prefix pre-projection (allows
    # repeated tables and shadowed column names)
    pres: "list[list[str]] | None" = None


@dataclass
class _MultiJoinAggOp:
    """GROUP BY over a left-deep aliased join chain (3+ sources):
    cascaded bilinear IncrementalJoins feeding one incremental
    aggregate — the reference's multi-way join→aggregate circuit
    (TPC-H q3/q5/q10 shape)."""

    srcs: "list[str]"
    ops: "list[object]"  # n-1 IncrementalJoin
    pres: "list[list[str]]"  # per-leg alias-prefix pre-projections
    agg_op: object  # IncrementalLinearAgg | IncrementalGroupRecomputeAgg
    sel_exprs: "list[str]"  # final projection (renames prefixed keys)
    out_cols: "list[str]"
    having: "Column | None" = None


@dataclass
class _DistinctOp:
    src: str
    sel: "list[str] | None"  # linear pre-projection; None = *
    where: "str | None"
    op: "object"  # IncrementalDistinct


@dataclass
class _TopKOp:
    src: str
    op: "object"  # IncrementalTopK


@dataclass
class _GlobalTopKOp:
    """Global ``SELECT * FROM src ORDER BY … LIMIT k`` (reference
    DBSPIndexedTopKOperator with a unit key): maintained as a
    single-group IncrementalTopK keyed by a constant. Per-step cost is
    a re-rank of the integrated input's single group — unavoidable in
    general because a delete inside the top-k refills from arbitrary
    depth."""

    src: str
    op: "object"  # IncrementalTopK keyed by __g
    out_cols: "list[str]"
    sel: "list[str] | None" = None  # plain-column pre-projection


@dataclass
class _UnionAllOp:
    """UNION ALL of linear selects (DBSPSumOperator): Z-set addition
    commutes with D, so the output delta is the sum of the per-branch
    linear deltas — stateless. UNION DISTINCT composes the sum with
    IncrementalDistinct (multiplicity zero-crossing)."""

    parts: "list[tuple[str, list[str] | None, str | None]]"  # (src, sel, where)
    names0: "list[str]"  # first branch's output names (positional union)
    distinct_op: "object | None" = None


@dataclass
class _UnionChainOp:
    """Mixed UNION / UNION ALL chain, left-associative:
    ``a UNION ALL b UNION c`` = ``distinct((a + b)) … `` — each
    UNION-distinct separator gets its own multiplicity state applied
    to the running sum, while UNION ALL separators are plain Z-set
    addition (uniform chains take the cheaper single-state
    _UnionAllOp path)."""

    parts: "list[tuple[str, list[str] | None, str | None]]"
    names0: "list[str]"
    # one entry per separator: an IncrementalDistinct for 'distinct',
    # None for 'all'
    distinct_ops: "list[object | None]"


def _split_union(sql: str) -> "tuple[list[str], list[str]]":
    """Split on top-level UNION [ALL|DISTINCT]; returns (parts, seps)
    with seps[i] in {'all', 'distinct'} between parts[i] and
    parts[i+1]. Paren depth guards against subquery UNIONs; literals
    are masked (length-preserving) so 'a UNION b' data never splits."""
    parts: list[str] = []
    seps: list[str] = []
    depth, last = 0, 0
    for t in re.finditer(
        r"[()]|\bUNION(?:\s+(?:ALL|DISTINCT))?\b", _mask_literals(sql), re.IGNORECASE
    ):
        tok = t.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            parts.append(sql[last : t.start()])
            seps.append("all" if re.search(r"\bALL\b", tok, re.IGNORECASE) else "distinct")
            last = t.end()
    parts.append(sql[last:])
    return parts, seps


@dataclass
class _SetOpOp:
    """EXCEPT [ALL] / INTERSECT [ALL] of two linear selects
    (DBSPSubtractOperator ∘ DBSPDistinctOperator in the reference;
    maintained here by one multiplicity-state IncrementalSetOp)."""

    part_a: "tuple[str, list[str] | None, str | None]"  # (src, sel, where)
    part_b: "tuple[str, list[str] | None, str | None]"
    names0: "list[str]"
    op: "object"  # IncrementalSetOp


@dataclass
class _SetOpChainOp:
    """Left-associative chain of 3+ EXCEPT[/ALL] or 3+ INTERSECT[/ALL]
    branches (`a EXCEPT b EXCEPT c` = `(a EXCEPT b) EXCEPT c`): each
    stage is one multiplicity-state IncrementalSetOp whose output
    delta feeds the next stage's left input — the same cascaded
    composition the reference emits for n-ary set expressions. Only
    same-precedence families chain (INTERSECT binds tighter than
    EXCEPT, so a mixed chain is not left-associative and stays
    naive)."""

    parts: "list[tuple[str, list[str] | None, str | None]]"  # n branches
    names0: "list[str]"
    ops: "list[object]"  # n-1 IncrementalSetOp, left-assoc order


def _mask_literals(s: str) -> str:
    """Length-preserving literal masking: token positions found on the
    masked text slice the original correctly."""
    return _STR_LIT_RE.sub(lambda m: "'" + " " * (len(m.group(0)) - 2) + "'", s)


@dataclass
class _SetExprNode:
    """One node of a set-expression tree: a leaf (part index) or a
    binary set operation with its own incremental state."""

    kind: str  # leaf|union|union_all|except|except_all|intersect|intersect_all
    left: "object"  # node, or int part index for a leaf
    right: "object | None" = None
    op: "object | None" = None  # IncrementalSetOp / IncrementalDistinct(union)


@dataclass
class _SetExprOp:
    """Arbitrary n-ary set expression with SQL precedence (INTERSECT
    binds tighter; UNION and EXCEPT associate left at equal
    precedence): compiled to a tree of multiplicity-state set ops —
    the reference compiles Calcite's SetOp trees to the matching
    circuit cascade. Uniform chains take the cheaper dedicated paths;
    this op covers the genuinely mixed expressions
    (``a UNION b EXCEPT c INTERSECT d`` …)."""

    parts: "list[tuple[str, list[str] | None, str | None]]"
    names0: "list[str]"
    root: _SetExprNode
    n_ops: int


def _split_set_expr(sql: str) -> "tuple[list[str], list[str]]":
    """Split on ALL top-level set operators (literal-masked, paren
    depth guarded); seps use IncrementalSetOp kind spelling plus
    union/union_all."""
    masked = _mask_literals(sql)
    parts: list[str] = []
    seps: list[str] = []
    depth, last = 0, 0
    for t in re.finditer(
        r"[()]|\b(UNION|EXCEPT|INTERSECT)(\s+(ALL|DISTINCT))?\b", masked, re.IGNORECASE
    ):
        tok = t.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            parts.append(sql[last : t.start()])
            kind = t.group(1).lower()
            if re.search(r"\bALL\b", tok, re.IGNORECASE):
                kind += "_all"
            seps.append(kind)
            last = t.end()
    parts.append(sql[last:])
    return parts, seps


def _recognize_uniform_sets(
    sql: str,
    known: set[str],
    cols_of: dict[str, list[str]],
    union_parts: list[str],
    union_seps: list[str],
    setop_parts: list[str],
    setop_seps: list[str],
):
    """The dedicated single-family set recognizers: UNION[/ALL] chains
    (stateless sum / one-or-per-sep distinct states) and EXCEPT/
    INTERSECT[/ALL] pairs and chains. Returns None for mixed-family
    expressions (handled by _recognize_set_expr)."""
    from ..plans.incremental import IncrementalDistinct, IncrementalSetOp

    if len(union_parts) > 1:
        parsed_parts = []
        names0 = None
        for i, p in enumerate(union_parts):
            lp = _linear_part(p, known, cols_of)
            if lp is None:
                return None
            src, sel, where, names = lp
            arity = len(sel) if sel is not None else (len(names) if names is not None else None)
            if i == 0:
                if names is None:
                    return None  # first branch names the output columns
                names0 = names
            elif arity is None or arity != len(names0):
                return None  # unknown or mismatched branch arity
            parsed_parts.append((src, sel, where))
        if all(s == "all" for s in union_seps):
            return _UnionAllOp(parsed_parts, names0, None)
        if all(s == "distinct" for s in union_seps):
            # uniform distinct chain: one terminal multiplicity state
            # (distinct(distinct(a+b)+c) == distinct(a+b+c))
            return _UnionAllOp(parsed_parts, names0, IncrementalDistinct())
        # mixed chain: left-assoc, one distinct state per UNION sep
        return _UnionChainOp(
            parsed_parts,
            names0,
            [IncrementalDistinct() if s == "distinct" else None for s in union_seps],
        )

    if len(setop_parts) > 2:
        # 3+ branch chain: left-assoc is only sound within one
        # precedence family (INTERSECT binds tighter than EXCEPT)
        fams = {s.split("_")[0] for s in setop_seps}
        if len(fams) != 1:
            return None
        parsed = [_linear_part(p, known, cols_of) for p in setop_parts]
        if any(lp is None for lp in parsed):
            return None
        names0 = parsed[0][3]
        if names0 is None:
            return None
        for lp in parsed[1:]:
            src_i, sel_i, where_i, names_i = lp
            arity = len(sel_i) if sel_i is not None else (
                len(names_i) if names_i is not None else None
            )
            if arity != len(names0):
                return None
        return _SetOpChainOp(
            [(src_i, sel_i, where_i) for src_i, sel_i, where_i, _ in parsed],
            names0,
            [IncrementalSetOp(kind) for kind in setop_seps],
        )
    if len(setop_parts) == 2:
        kind = setop_seps[0]  # except | except_all | intersect | intersect_all
        lp_a = _linear_part(setop_parts[0], known, cols_of)
        lp_b = _linear_part(setop_parts[1], known, cols_of)
        if lp_a is not None and lp_b is not None:
            src_a, sel_a, where_a, names_a = lp_a
            src_b, sel_b, where_b, names_b = lp_b
            arity_b = len(sel_b) if sel_b is not None else (
                len(names_b) if names_b is not None else None
            )
            if names_a is not None and arity_b == len(names_a):
                return _SetOpOp(
                    (src_a, sel_a, where_a),
                    (src_b, sel_b, where_b),
                    names_a,
                    IncrementalSetOp(kind),
                )
    return None


def _paren_wrapped(t: str) -> bool:
    """True when the whole string is one balanced parenthesized group
    (literal-masked scan — depth never returns to 0 before the end)."""
    if not (t.startswith("(") and t.endswith(")")):
        return False
    masked = _mask_literals(t)
    depth = 0
    for i, c in enumerate(masked):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i == len(masked) - 1
    return False


def _recognize_set_expr(sql: str, known: set[str], cols_of: dict[str, list[str]]):
    """Mixed-precedence set expression → _SetExprOp (the uniform-chain
    recognizers having already declined). Recurses into parenthesized
    subgroups, so ``a EXCEPT (b UNION c)`` compiles too."""
    from ..plans.incremental import IncrementalDistinct, IncrementalSetOp

    leaves: list = []  # (src, sel, where, names)
    n_ops = 0

    def node(kind: str, left, right) -> _SetExprNode:
        nonlocal n_ops
        n_ops += 1
        if kind == "union_all":
            op = None
        elif kind == "union":
            op = IncrementalDistinct()
        else:
            op = IncrementalSetOp(kind)
        return _SetExprNode(kind, left, right, op)

    def build(text: str) -> "_SetExprNode | None":
        parts, seps = _split_set_expr(text)
        if len(parts) == 1:
            t = text.strip()
            if _paren_wrapped(t):
                return build(t[1:-1])
            lp = _linear_part(t, known, cols_of)
            if lp is None:
                return None
            leaves.append(lp)
            return _SetExprNode("leaf", len(leaves) - 1)
        nodes = [build(p) for p in parts]
        if any(n is None for n in nodes):
            return None
        # precedence climbing: INTERSECT[/ALL] binds tighter;
        # UNION[/ALL] and EXCEPT[/ALL] associate left at equal level
        groups: list = []
        group_seps: list[str] = []
        cur = nodes[0]
        for sep, nxt in zip(seps, nodes[1:]):
            if sep.startswith("intersect"):
                cur = node(sep, cur, nxt)
            else:
                groups.append(cur)
                group_seps.append(sep)
                cur = nxt
        groups.append(cur)
        root = groups[0]
        for sep, g in zip(group_seps, groups[1:]):
            root = node(sep, root, g)
        return root

    top_parts, _ = _split_set_expr(sql)
    if len(top_parts) < 2:
        return None
    root = build(sql)
    if root is None or not leaves:
        return None
    names0 = leaves[0][3]
    if names0 is None:
        return None
    for src_i, sel_i, where_i, names_i in leaves[1:]:
        arity = len(sel_i) if sel_i is not None else (
            len(names_i) if names_i is not None else None
        )
        if arity != len(names0):
            return None
    return _SetExprOp(
        [(src_i, sel_i, where_i) for src_i, sel_i, where_i, _ in leaves],
        names0,
        root,
        n_ops,
    )


def _split_setop(sql: str) -> "tuple[list[str], list[str]]":
    """Split on top-level EXCEPT [ALL] / INTERSECT [ALL]; returns
    (parts, seps) with seps[i] an IncrementalSetOp kind string.
    Literal-masked like _split_union."""
    parts: list[str] = []
    seps: list[str] = []
    depth, last = 0, 0
    for t in re.finditer(
        r"[()]|\b(EXCEPT|INTERSECT)(\s+(ALL|DISTINCT))?\b",
        _mask_literals(sql),
        re.IGNORECASE,
    ):
        tok = t.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            parts.append(sql[last : t.start()])
            kind = t.group(1).lower()
            if re.search(r"\bALL\b", tok, re.IGNORECASE):
                kind += "_all"
            seps.append(kind)
            last = t.end()
    parts.append(sql[last:])
    return parts, seps


def _linear_part(p: str, known: set[str], cols_of: dict[str, list[str]]):
    """Parse one union branch as a linear select; returns
    (src, sel_items|None, where|None, out_names|None) or None."""
    pm = _SELECT_FROM_RE.match(p.strip())
    if not pm or pm.group("src").lower() not in known:
        return None
    sel, src = pm.group("sel").strip(), pm.group("src").lower()
    where = pm.group("where")
    if _FORBIDDEN_LINEAR.search(sel) or (where and _FORBIDDEN_LINEAR.search(where)):
        return None
    if sel == "*":
        names = list(cols_of[src]) if src in cols_of else None
        return (src, None, where, names)
    items = [s.strip() for s in _split_top_level_commas(sel)]
    names: "list[str] | None" = []
    for item in items:
        am = re.search(r"\s+AS\s+(\w+)\s*$", item, re.IGNORECASE)
        if am:
            names.append(am.group(1).lower())
        elif re.fullmatch(r"\w+", item):
            names.append(item.lower())
        else:
            names = None
            break
    return (src, items, where, names)


@dataclass
class _GlobalAggOp:
    """Global (GROUP-BY-less) linear aggregate. SQL semantics: ALWAYS
    exactly one output row — COUNT 0 / NULL sums over empty input
    (reference EndToEndTests constAggregateExpression / zero tests).
    Maintained as a linear agg keyed by a constant, with a
    default-row fallback (computed once, by aggregating the empty
    source — exact Spark types) when integrated state goes empty."""

    src: str
    items: "list[tuple[str, str, str]]"  # (fn, arg, alias)
    where: "str | None"
    op: "object"  # IncrementalLinearAgg keyed by __g
    out_cols: "list[str]"
    default_df: "DataFrame | None" = None  # filled by IncrementalProgram
    prev: "DataFrame | None" = None


@dataclass
class _WinAggOp:
    """Tumbling/hopping window aggregate (reference
    DBSPWindowAggregateOperator): the window() grouping expression is
    computed as a derived struct key on the delta, then maintained by
    the same linear-agg / group-recompute machinery as any GROUP BY —
    per-step cost ∝ |delta| + touched (window, key) groups, never a
    rescan of history."""

    src: str
    win_sql: str  # e.g. "window(ts, '1 hour')"
    op: "object"  # IncrementalLinearAgg / IncrementalGroupRecomputeAgg
    out_exprs: "list[Column]"


def _recognize_agg_join(m: "re.Match", cols_of: dict[str, list[str]]):
    """GROUP BY over a two-table equi-join → IncrementalJoin chained
    into an incremental aggregate (the reference's composed circuit:
    DBSPIncrementalJoinOperator → DBSPIncrementalAggregateOperator).
    Column sets must be disjoint so dequalified names are unambiguous;
    WHERE becomes a linear filter on the join's output delta."""
    from ..plans.incremental import (
        AggSpec,
        IncrementalGroupRecomputeAgg,
        IncrementalJoin,
        IncrementalLinearAgg,
    )

    a, b = m.group("a").lower(), m.group("b").lower()
    if a not in cols_of or b not in cols_of or a == b:
        return None
    cols_a, cols_b = cols_of[a], cols_of[b]
    if set(cols_a) & set(cols_b):
        return None  # ambiguous concatenated schema → naive

    def dequal(s: str) -> str:
        return re.sub(rf"\b(?:{a}|{b})\.(\w+)", r"\1", s, flags=re.IGNORECASE)

    keys_ab = _parse_equi_keys(m.group("on"), a, b, cols_a, cols_b)
    if keys_ab is None:
        return None
    keys_a, keys_b = keys_ab
    all_cols = set(cols_a) | set(cols_b)
    keys: list[str] = []
    for k in m.group("keys").split(","):
        k = dequal(k.strip()).lower()
        if not re.fullmatch(r"\w+", k) or k not in all_cols:
            return None
        keys.append(k)
    if not keys:
        return None
    where = m.group("where")
    if where:
        where = dequal(where)
        if _FORBIDDEN_LINEAR.search(where):
            return None
    items: list[tuple[str, str, str]] = []
    out_cols: list[str] = []
    seen_keys: set[str] = set()
    for item in _split_top_level_commas(m.group("sel")):
        item = dequal(item.strip())
        am = _AGG_ITEM_RE.match(item)
        if am:
            fn = am.group("fn").lower()
            arg = am.group("arg").strip()
            alias = am.group("alias").lower()
            if arg != "*" and _FORBIDDEN_LINEAR.search(arg):
                return None
            items.append((fn, arg, alias))
            out_cols.append(alias)
        elif re.fullmatch(r"\w+", item) and item.lower() in keys:
            seen_keys.add(item.lower())
            out_cols.append(item.lower())
        else:
            return None
    if not items or seen_keys != set(keys):
        return None
    having_sql = m.group("having")
    if having_sql is not None:
        having_sql = dequal(having_sql)
        existing = {
            (fn, re.sub(r"\s+", "", arg.lower())): alias for fn, arg, alias in items
        }
        rewritten = _extract_having_aggs(having_sql, existing)
        if rewritten is None:
            return None
        having_sql, extra = rewritten
        for fn, arg, _alias in extra:
            if arg != "*" and _FORBIDDEN_LINEAR.search(arg):
                return None
        items = items + extra
        if not _having_refs_only(
            having_sql, out_cols + [alias for _, _, alias in extra]
        ):
            return None
    having = F.expr(having_sql) if having_sql else None
    cond = F.expr(where) if where else None
    on_col = None
    for ka, kb in zip(keys_a, keys_b):
        eq = F.col(ka) == F.col(kb)
        on_col = eq if on_col is None else (on_col & eq)
    join_op = IncrementalJoin(on=on_col)
    if any(fn in ("min", "max") for fn, _, _ in items):
        aggs = [
            (
                F.count(F.lit(1))
                if (fn == "count" and arg == "*")
                else F.expr(f"{fn}({arg})")
            ).alias(alias)
            for fn, arg, alias in items
        ]
        agg_op = IncrementalGroupRecomputeAgg(keys=keys, aggs=aggs, cond=cond)
    else:
        specs: list = []
        for fn, arg, alias in items:
            if fn == "count" and arg == "*":
                specs.append(AggSpec(alias, "count"))
            elif fn == "count":
                specs.append(AggSpec(alias, "count", F.expr(arg)))
            elif fn == "sum":
                specs.append(AggSpec(alias, "sum", F.expr(arg)))
            else:
                specs.append(AggSpec(alias, "avg", F.expr(arg)))
        agg_op = IncrementalLinearAgg(keys=keys, specs=specs, cond=cond)
    return _JoinAggOp(a, b, join_op, agg_op, out_cols, having)


def _recognize_flatmap(sql: str, known: set[str]):
    ord_col = None
    m = _LATERAL_ORDINAL_RE.match(sql)
    if m:
        ord_col = m.group("ord").lower()
    else:
        m = _LATERAL_EXPLODE_RE.match(sql)
    if not m or m.group("src").lower() not in known:
        return None
    src = m.group("src").lower()
    arr, elem = m.group("arr").strip(), m.group("col").lower()
    where = m.group("where")
    if _FORBIDDEN_LINEAR.search(arr) or (where and _FORBIDDEN_LINEAR.search(where)):
        return None
    parsed = _parse_plain_sel(m.group("sel"), src)
    if parsed is None:
        return None
    sel_items, names = parsed
    return _FlatMapOp(src, arr, elem, sel_items, where, names, ord_col)


def _recognize_semi_anti(sql: str, known: set[str], cols_of: dict[str, list[str]]):
    from ..plans.incremental import IncrementalSemiAnti

    m = _SELECT_FROM_RE.match(sql)
    if not m or m.group("src").lower() not in known or not m.group("where"):
        return None
    a = m.group("src").lower()
    if a not in cols_of:
        return None
    cols_a = cols_of[a]
    conjs = _split_conjuncts(m.group("where"))
    subq_idx = [
        i
        for i, c in enumerate(conjs)
        if _EXISTS_CONJ_RE.match(c) or _IN_CONJ_RE.match(c) or _NOT_IN_CONJ_RE.match(c)
    ]
    if len(subq_idx) != 1:
        return None
    outer = [c for i, c in enumerate(conjs) if i != subq_idx[0]]
    for c in outer:
        if _FORBIDDEN_LINEAR.search(c):
            return None
    subq = conjs[subq_idx[0]]

    not_in_key: "str | None" = None
    notin_corr: "tuple[list[str], list[str]] | None" = None
    ranged: "tuple[str, list[str]] | None" = None
    nim = _NOT_IN_CONJ_RE.match(subq)
    if nim:
        # NULL-aware NOT IN: global scalar indicators when the
        # subquery is uncorrelated, per-key touched recompute when it
        # correlates to the outer input with equi-conjuncts
        b = nim.group("b").lower()
        if b not in cols_of or b == a:
            return None
        sa = _resolve_side(nim.group("col"), a, b, cols_a, cols_of[b])
        sb = _resolve_side(nim.group("bcol"), a, b, cols_a, cols_of[b])
        if sa is None or sa[0] != "a" or sb is None or sb[0] != "b":
            return None
        b_where = nim.group("bwhere")
        if b_where:
            stripped_bw = _strip_string_literals(b_where)
            if re.search(rf"\b{re.escape(a)}\s*\.", stripped_bw, re.IGNORECASE):
                corr = _split_correlation(b_where, a, b, cols_a, cols_of[b])
                if corr is None:
                    return None
                ca, cb, b_where = corr
                notin_corr = (ca, cb)
            elif _FORBIDDEN_LINEAR.search(b_where):
                return None
            else:
                b_where = re.sub(
                    rf"\b{re.escape(b)}\s*\.\s*", "", b_where, flags=re.IGNORECASE
                )
        not_in_key, keys_a, keys_b = sa[1], [sa[1]], [sb[1]]
        anti = True
    elif (em := _EXISTS_CONJ_RE.match(subq)):
        anti = em.group("neg") is not None
        im = _SELECT_FROM_RE.match(em.group("inner").strip())
        if not im:
            return None
        b = im.group("src").lower()
        if b not in cols_of or b == a or not im.group("where"):
            return None
        corr = _split_correlation(im.group("where"), a, b, cols_a, cols_of[b])
        if corr is None:
            # non-equi correlation (b.ts < a.ts): decorrelate to the
            # touched-key range circuit when ≥1 equi key anchors it
            rng = _split_correlation_ranged(
                im.group("where"), a, b, cols_a, cols_of[b]
            )
            if rng is None:
                return None
            keys_a, keys_b, b_where, pred_sql, b_pred_cols = rng
            ranged = (pred_sql, b_pred_cols)
        else:
            keys_a, keys_b, b_where = corr
    else:
        nm = _IN_CONJ_RE.match(subq)
        if re.search(r"\bNOT\s+IN\b", subq, re.IGNORECASE):
            return None  # NOT IN has distinct NULL semantics → naive
        anti = False
        b = nm.group("b").lower()
        if b not in cols_of or b == a:
            return None
        sa = _resolve_side(nm.group("col"), a, b, cols_a, cols_of[b])
        sb = _resolve_side(nm.group("bcol"), a, b, cols_a, cols_of[b])
        if sa is None or sa[0] != "a" or sb is None or sb[0] != "b":
            return None
        keys_a, keys_b = [sa[1]], [sb[1]]
        b_where = None
        if nm.group("bwhere"):
            full_cond = (
                nm.group("bwhere") + f" AND {b}.{keys_b[0]} = {a}.{keys_a[0]}"
            )
            corr = _split_correlation(full_cond, a, b, cols_a, cols_of[b])
            if corr is None:
                # IN with a range-correlated residual: the IN value
                # equality is just another equi pair, so the range
                # semi circuit hosts it directly
                rng = _split_correlation_ranged(
                    full_cond, a, b, cols_a, cols_of[b]
                )
                if rng is None:
                    return None
                keys_a, keys_b, b_where, pred_sql, b_pred_cols = rng
                ranged = (pred_sql, b_pred_cols)
            else:
                ka2, kb2, b_where = corr
                keys_a, keys_b = ka2, kb2
    for k in keys_a:
        if k not in cols_a:
            return None
    parsed = _parse_plain_sel(m.group("sel"), a)
    if parsed is None:
        return None
    sel_items, names = parsed
    a_where = None
    if outer:
        a_where = " AND ".join(
            _sub_outside_literals(rf"\b{re.escape(a)}\s*\.\s*", "", c, flags=re.IGNORECASE)
            for c in outer
        )
        stripped = _strip_string_literals(a_where)
        if re.search(rf"\b{re.escape(b)}\s*\.", stripped, re.IGNORECASE):
            return None
    out_names = names if names is not None else (list(cols_a) if sel_items is None else None)
    if not_in_key is not None and notin_corr is not None:
        from ..plans.incremental import IncrementalKeyedNotIn

        ca, cb = notin_corr
        for k in ca:
            if k not in cols_a:
                return None
        return _KeyedNotInOp(
            a, b, keys_b[0], cb, b_where, a_where, sel_items,
            IncrementalKeyedNotIn(val_a=not_in_key, corr_a=ca),
            out_names,
        )
    if not_in_key is not None:
        from ..plans.incremental import IncrementalNullAwareNotIn

        return _NotInOp(
            a, b, keys_b[0], b_where, a_where, sel_items,
            IncrementalNullAwareNotIn(key_a=not_in_key),
            out_names,
        )
    if ranged is not None:
        from ..plans.incremental import IncrementalRangeSemiAnti

        pred_sql, b_pred_cols = ranged
        return _RangeSemiAntiOp(
            a, b, keys_b, b_pred_cols, pred_sql, b_where, a_where, sel_items,
            IncrementalRangeSemiAnti(keys_a=keys_a, pred=pred_sql, anti=anti),
            out_names,
            anti,
        )
    return _SemiAntiOp(
        a, b, keys_b, b_where, a_where, sel_items,
        IncrementalSemiAnti(keys_a=keys_a, anti=anti),
        out_names,
        anti,
    )


def _split_select_from(sql: str) -> "tuple[str, str, str | None] | None":
    """Split ``SELECT <sel> FROM <src> [WHERE <w>]`` at the *top-level*
    FROM (the regex _SELECT_FROM_RE grabs the first FROM, which may
    belong to a parenthesized subquery in the select list)."""
    m = re.match(r"^\s*SELECT\s+", sql, re.IGNORECASE)
    if not m:
        return None
    i, depth, in_str = m.end(), 0, False
    up = sql.upper()
    from_at = None
    while i < len(sql):
        c = sql[i]
        if in_str:
            if c == "'":
                in_str = False
            i += 1
            continue
        if c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif (
            depth == 0
            and up.startswith("FROM", i)
            and not (sql[i - 1].isalnum() or sql[i - 1] == "_")
            and (i + 4 >= len(sql) or not (sql[i + 4].isalnum() or sql[i + 4] == "_"))
        ):
            from_at = i
            break
        i += 1
    if from_at is None:
        return None
    sel = sql[m.end():from_at].strip()
    rest = sql[from_at + 4:].strip()
    rm = re.match(r"^(?P<src>\w+)\s*(?:WHERE\s+(?P<where>.+?))?\s*$", rest, re.IGNORECASE | re.DOTALL)
    if not rm:
        return None
    return sel, rm.group("src").lower(), rm.group("where")


def _recognize_scalar_subq(sql: str, known: set[str], cols_of: dict[str, list[str]]):
    from ..plans.incremental import (
        AggSpec,
        IncrementalGroupRecomputeAgg,
        IncrementalLinearAgg,
        IncrementalOuterJoin,
    )

    split = _split_select_from(sql)
    if split is None:
        return None
    sel, a, a_where = split
    if a not in known or a not in cols_of:
        return None
    cols_a = cols_of[a]
    if a_where and _FORBIDDEN_LINEAR.search(a_where):
        return None
    items = [s.strip() for s in _split_top_level_commas(sel)]
    plain: list[str] = []
    out_cols: list[str] = []
    sub_items: "list[re.Match]" = []
    for item in items:
        sm = _SCALAR_SUBQ_ITEM_RE.match(item)
        if sm:
            sub_items.append(sm)
            out_cols.append(sm.group("alias").lower())
        elif re.fullmatch(r"\w+", item) and item.lower() in cols_a:
            plain.append(item.lower())
            out_cols.append(item.lower())
        else:
            return None
    if not sub_items or not plain:
        return None
    aliases = [sm.group("alias").lower() for sm in sub_items]
    if len(set(aliases)) != len(aliases) or any(al in cols_a for al in aliases):
        return None  # duplicate or column-shadowing aliases → naive

    subs: list[_ScalarSub] = []
    count_aliases: set[str] = set()
    carried = list(plain)  # columns available to each successive join
    for k, sm in enumerate(sub_items):
        b = sm.group("b").lower()
        if b not in cols_of or b == a:
            return None
        alias = aliases[k]
        corr = _split_correlation(sm.group("cond"), a, b, cols_a, cols_of[b])
        if corr is None:
            # range correlation (b.ts < a.ts): the aggregate's slice
            # is per OUTER ROW, so the keyed-agg + outer-join chain
            # below can't host it — a single range subquery compiles
            # to the touched-key recompute circuit instead
            if len(sub_items) != 1:
                return None
            rng = _split_correlation_ranged(
                sm.group("cond"), a, b, cols_a, cols_of[b]
            )
            if rng is None:
                return None
            r_keys_a, _r_keys_b, r_b_where, pred_sql, b_pred_cols = rng
            for kk in r_keys_a:
                if kk not in cols_a:
                    return None
            fn = sm.group("fn").lower()
            arg = sm.group("arg").strip()
            star = arg == "*"
            if not star:
                arg = re.sub(
                    rf"\b{re.escape(b)}\s*\.\s*", "", arg, flags=re.IGNORECASE
                )
                if _FORBIDDEN_LINEAR.search(arg):
                    return None
            from ..plans.incremental import IncrementalRangeScalarAgg

            return _RangeScalarSubqOp(
                a, b, _r_keys_b, b_pred_cols,
                None if star else arg, pred_sql, r_b_where, a_where,
                IncrementalRangeScalarAgg(
                    keys_a=r_keys_a, pred=pred_sql, fn=fn, alias=alias,
                    star=star,
                ),
                out_cols,
            )
        keys_a, keys_b, b_where = corr
        if not set(keys_a) <= set(plain):
            return None  # join keys must pass through for the outer join
        fn = sm.group("fn").lower()
        arg = sm.group("arg").strip()
        if arg != "*":
            arg = _sub_outside_literals(
                rf"\b{re.escape(b)}\s*\.\s*", "", arg, flags=re.IGNORECASE
            )
            if _FORBIDDEN_LINEAR.search(arg):
                return None
        bks = [f"__bk{i}" for i in range(len(keys_b))]
        b_sel = [f"{kb} AS {bk}" for kb, bk in zip(keys_b, bks)]
        if arg != "*":
            b_sel.append(f"{arg} AS __arg")
        if fn in ("min", "max"):
            agg_op = IncrementalGroupRecomputeAgg(
                keys=bks, aggs=[F.expr(f"{fn}(__arg)").alias(alias)]
            )
        else:
            if fn == "count" and arg == "*":
                spec = AggSpec(alias, "count")
            elif fn == "count":
                spec = AggSpec(alias, "count", F.col("__arg"))
            else:
                spec = AggSpec(alias, fn if fn != "avg" else "avg", F.col("__arg"))
            agg_op = IncrementalLinearAgg(keys=bks, specs=[spec])
        if fn == "count":
            count_aliases.add(alias)
        join_op = IncrementalOuterJoin(
            key_a=keys_a,
            key_b=bks,
            project=[F.col(c) for c in carried] + [F.col(alias)],
            how="left",
        )
        carried = carried + [alias]
        subs.append(_ScalarSub(b, b_sel, b_where, agg_op, join_op))
    out_exprs = [
        (f"coalesce({c}, 0) AS {c}" if c in count_aliases else c)
        for c in out_cols
    ]
    return _ScalarSubqueryOp(a, subs, a_where, out_exprs, out_cols)


def _recognize_grouping_sets(sql: str, known: set[str]):
    from ..plans.incremental import (
        AggSpec,
        IncrementalGroupRecomputeAgg,
        IncrementalLinearAgg,
    )

    m = _GROUPING_AGG_RE.match(sql)
    if not m or m.group("src").lower() not in known:
        return None
    src = m.group("src").lower()
    where = m.group("where")
    if where and _FORBIDDEN_LINEAR.search(where):
        return None
    kind = re.sub(r"\s+", " ", m.group("kind").upper())
    body = m.group("body").strip()
    if kind == "ROLLUP" or kind == "CUBE":
        keys = [k.strip().lower() for k in body.split(",") if k.strip()]
        if not keys or not all(re.fullmatch(r"\w+", k) for k in keys):
            return None
        if kind == "ROLLUP":
            sets = [keys[:i] for i in range(len(keys), -1, -1)]
        else:
            if len(keys) > 4:
                return None  # 2^n sets — cap the expansion
            sets = []
            for mask in range((1 << len(keys)) - 1, -1, -1):
                sets.append([k for i, k in enumerate(keys) if mask & (1 << i)])
    else:  # GROUPING SETS
        sets = []
        keys_seen: list[str] = []
        for part in _split_top_level_commas(body):
            part = part.strip()
            if not (part.startswith("(") and part.endswith(")")):
                return None
            inner = part[1:-1].strip()
            gset = [k.strip().lower() for k in inner.split(",") if k.strip()] if inner else []
            if not all(re.fullmatch(r"\w+", k) for k in gset):
                return None
            sets.append(gset)
            for k in gset:
                if k not in keys_seen:
                    keys_seen.append(k)
        keys = keys_seen
        if not sets:
            return None
    all_keys = keys

    items: list[tuple[str, str, str]] = []
    grouping_aliases: dict[str, str] = {}
    out_cols: list[str] = []
    seen_keys: set[str] = set()
    for item in _split_top_level_commas(m.group("sel")):
        item = item.strip()
        gm = _GROUPING_ITEM_RE.match(item)
        am = _AGG_ITEM_RE.match(item)
        if gm:
            col, alias = gm.group("col").lower(), gm.group("alias").lower()
            if col not in all_keys:
                return None
            grouping_aliases[alias] = col
            out_cols.append(alias)
        elif am:
            fn = am.group("fn").lower()
            arg = am.group("arg").strip()
            if arg != "*" and _FORBIDDEN_LINEAR.search(arg):
                return None
            alias = am.group("alias").lower()
            items.append((fn, arg, alias))
            out_cols.append(alias)
        elif re.fullmatch(r"\w+", item) and item.lower() in all_keys:
            seen_keys.add(item.lower())
            out_cols.append(item.lower())
        else:
            return None
    if not items or seen_keys != set(all_keys):
        return None

    def _specs() -> list:
        specs = []
        for fn, arg, alias in items:
            if fn == "count" and arg == "*":
                specs.append(AggSpec(alias, "count"))
            elif fn == "count":
                specs.append(AggSpec(alias, "count", F.expr(arg)))
            else:
                specs.append(AggSpec(alias, fn, F.expr(arg)))
        return specs

    cond = F.expr(where) if where else None
    # MIN/MAX have no subtraction rule → per-set affected-group
    # recompute, the same strategy as the single-group-by path
    # (aggregate-recompute); linear-only views keep the cheaper
    # delta-aggregate per set.
    recompute = any(fn in ("min", "max") for fn, _, _ in items)
    if recompute:
        def _agg_cols() -> list:
            return [
                F.expr(f"{fn}({arg})").alias(alias) for fn, arg, alias in items
            ]

        sub_ops = [
            IncrementalGroupRecomputeAgg(
                keys=(gset if gset else ["__g"]), aggs=_agg_cols(), cond=cond
            )
            for gset in sets
        ]
    else:
        sub_ops = [
            IncrementalLinearAgg(keys=(gset if gset else ["__g"]), specs=_specs(), cond=cond)
            for gset in sets
        ]
    kindword = {"ROLLUP": "rollup", "CUBE": "cube", "GROUPING SETS": "grouping-sets"}[kind]
    return _GroupingSetsOp(
        src, where, sets, all_keys, grouping_aliases,
        [al for _, _, al in items], out_cols, sub_ops, kindword, items,
        recompute,
    )


def _recognize_view(view: ViewDef, cols_of: dict[str, list[str]], known: set[str]):
    """Return an op descriptor or None (→ naive). `known` = names of
    tables and earlier views (valid delta sources); `cols_of` = output
    columns of every source whose schema is statically known (tables
    always; earlier views when their recognized shape or explicit
    column list tells us) — joins need it for disambiguation, which is
    what lets recognized views feed recognized joins (whole-circuit
    composition, the reference's chained incremental operators)."""
    from ..plans.incremental import AggSpec, IncrementalJoin, IncrementalLinearAgg

    if view.columns is not None:
        return None  # explicit output column list → naive (rename pass)

    sql = _rewrite_filter_aggs(view.sql.strip().rstrip(";"))

    union_parts, union_seps = _split_union(sql)
    setop_parts, setop_seps = _split_setop(sql)
    if len(union_parts) > 1 or len(setop_parts) > 1:
        op = _recognize_uniform_sets(
            sql, known, cols_of, union_parts, union_seps, setop_parts, setop_seps
        )
        if op is None:
            # genuinely mixed (UNION with EXCEPT/INTERSECT, or mixed
            # precedence families) → the general set-expression tree
            op = _recognize_set_expr(sql, known, cols_of)
        return op

    op = _recognize_grouping_sets(sql, known)
    if op is not None:
        return op
    op = _recognize_flatmap(sql, known)
    if op is not None:
        return op
    if re.search(r"\bEXISTS\s*\(|\bIN\s*\(\s*SELECT\b", _strip_string_literals(sql), re.IGNORECASE):
        op = _recognize_semi_anti(sql, known, cols_of)
        if op is not None:
            return op
    if re.search(r"\(\s*SELECT\b", _strip_string_literals(sql), re.IGNORECASE):
        op = _recognize_scalar_subq(sql, known, cols_of)
        if op is not None:
            return op

    m = _AGG_SELECT_RE.match(sql)
    if m and re.search(
        r"\bwindow\s*\(|\b(ROLLUP|CUBE|GROUPING)\b", m.group("keys"), re.IGNORECASE
    ):
        # event-time windows belong to the _WIN_AGG_RE path below;
        # grouping-set keys were already declined above → fall through
        m = None
    if m and m.group("src").lower() in known:
        sel, src = m.group("sel"), m.group("src").lower()
        where = m.group("where")
        key_exprs = [
            k.strip() for k in _split_top_level_commas(m.group("keys")) if k.strip()
        ]
        if not key_exprs:
            return None
        if any(_FORBIDDEN_LINEAR.search(k) for k in key_exprs):
            return None
        if where and _FORBIDDEN_LINEAR.search(where):
            return None

        def norm(e: str) -> str:
            return re.sub(r"\s+", "", e.lower())

        # GROUP BY <select-alias> (e.g. SELECT a % 3 AS k … GROUP BY k):
        # substitute the aliased expression — but only when the key
        # word is NOT a source column (SQL resolves columns before
        # aliases) and the schema is statically known to decide that.
        alias_exprs = {}
        for it in _split_top_level_commas(sel):
            am2 = re.fullmatch(
                r"(?P<expr>.+?)\s+AS\s+(?P<alias>\w+)", it.strip(), re.IGNORECASE | re.DOTALL
            )
            if am2 and not _AGG_ITEM_RE.match(it.strip()):
                alias_exprs[am2.group("alias").lower()] = am2.group("expr").strip()
        src_cols0 = cols_of.get(src)
        if src_cols0 is not None:
            key_exprs = [
                alias_exprs[k.lower()]
                if re.fullmatch(r"\w+", k)
                and k.lower() not in src_cols0
                and k.lower() in alias_exprs
                else k
                for k in key_exprs
            ]

        key_norms = [norm(k) for k in key_exprs]
        items: list[tuple[str, str, str]] = []  # (fn, arg, alias)
        out_cols: list[str] = []
        key_alias: dict[str, str] = {}  # norm(key expr) → output alias
        for item in _split_top_level_commas(sel):
            item = item.strip()
            am = _AGG_ITEM_RE.match(item)
            if am:
                fn = am.group("fn").lower()
                arg = am.group("arg").strip()
                alias = am.group("alias").lower()
                dm = re.fullmatch(r"DISTINCT\s+(?P<col>\w+)", arg, re.IGNORECASE)
                dme = re.match(r"DISTINCT\b\s*(?P<expr>.+)$", arg, re.IGNORECASE | re.DOTALL)
                if dm and fn == "count":
                    items.append(("count_distinct", dm.group("col").lower(), alias))
                elif dme and fn in ("min", "max"):
                    # DISTINCT is a no-op under MIN/MAX
                    inner = dme.group("expr").strip()
                    if _FORBIDDEN_LINEAR.search(inner):
                        return None
                    items.append((fn, inner, alias))
                elif dm:
                    # SUM/AVG DISTINCT col → touched-group recompute
                    items.append((f"{fn}_distinct", dm.group("col").lower(), alias))
                elif dme:
                    # DISTINCT over an expression (any agg fn) →
                    # touched-group recompute evaluates it verbatim
                    inner = dme.group("expr").strip()
                    if _FORBIDDEN_LINEAR.search(inner):
                        return None
                    items.append((f"{fn}_distinct_expr", inner, alias))
                elif arg != "*" and _FORBIDDEN_LINEAR.search(arg):
                    return None
                else:
                    items.append((fn, arg, alias))
                out_cols.append(alias)
            elif re.fullmatch(r"\w+", item) and norm(item) in key_norms:
                key_alias[norm(item)] = item.lower()
                out_cols.append(item.lower())
            else:
                km = re.fullmatch(
                    r"(?P<expr>.+?)\s+AS\s+(?P<alias>\w+)", item, re.IGNORECASE | re.DOTALL
                )
                if km and norm(km.group("expr")) in key_norms:
                    # computed or renamed GROUP BY key selected with an alias
                    key_alias[norm(km.group("expr"))] = km.group("alias").lower()
                    out_cols.append(km.group("alias").lower())
                else:
                    return None  # non-key expressions → naive
        if not items:
            return None
        # resolve each GROUP BY key to an operator key column; computed,
        # renamed, or UNSELECTED-non-column keys need a pre-projection
        src_cols = cols_of.get(src)
        op_keys: list[str] = []
        pre_extra: list[str] = []
        for i, (ke, kn) in enumerate(zip(key_exprs, key_norms)):
            alias = key_alias.get(kn)
            plain = re.fullmatch(r"\w+", ke) is not None
            if alias is None and plain:
                op_keys.append(ke.lower())  # unselected plain column key
                continue
            if alias is None:
                alias = f"__k{i}"  # unselected expression key (hidden)
            if plain and alias == ke.lower():
                op_keys.append(alias)
                continue
            if src_cols is None or alias in src_cols:
                return None  # need the schema; alias must not collide
            pre_extra.append(f"{ke} AS {alias}")
            op_keys.append(alias)
        keys = op_keys
        pre_sel = (list(src_cols) + pre_extra) if pre_extra else None
        having_sql = m.group("having")
        if having_sql is not None:
            # HAVING over aggregates not in the select list compiles to
            # hidden aggregate items + a filter (dropped by out_cols)
            existing = {
                (fn, re.sub(r"\s+", "", arg.lower())): alias
                for fn, arg, alias in items
            }
            rewritten = _extract_having_aggs(having_sql, existing)
            if rewritten is None:
                return None
            having_sql, extra = rewritten
            for fn, arg, _alias in extra:
                if arg != "*" and _FORBIDDEN_LINEAR.search(arg):
                    return None
            items = items + extra
            if not _having_refs_only(
                having_sql, out_cols + [alias for _, _, alias in extra]
            ):
                return None
        having = F.expr(having_sql) if having_sql else None
        cond = F.expr(where) if where else None

        if any(
            fn in ("sum_distinct", "avg_distinct") or fn.endswith("_distinct_expr")
            for fn, _, _ in items
        ):
            # DISTINCT under SUM/AVG (or over any expression) has no
            # linear subtraction rule and no cheap count composition —
            # the reference evaluates such aggregates over the indexed
            # group; here: touched-group recompute, mixing freely with
            # any other aggregate item
            from ..plans.incremental import IncrementalGroupRecomputeAgg

            aggs = []
            for fn, arg, alias in items:
                if fn == "count_distinct":
                    aggs.append(F.count_distinct(F.col(arg)).alias(alias))
                elif fn in ("sum_distinct", "avg_distinct"):
                    aggs.append(F.expr(f"{fn[:-9]}(DISTINCT {arg})").alias(alias))
                elif fn.endswith("_distinct_expr"):
                    base = fn[: -len("_distinct_expr")]
                    aggs.append(F.expr(f"{base}(DISTINCT {arg})").alias(alias))
                elif fn == "count" and arg == "*":
                    aggs.append(F.count(F.lit(1)).alias(alias))
                else:
                    aggs.append(F.expr(f"{fn}({arg})").alias(alias))
            return _AggOp(
                src,
                IncrementalGroupRecomputeAgg(keys=keys, aggs=aggs, cond=cond),
                out_cols,
                having,
                pre_sel,
            )

        cd_items = [(arg, alias) for fn, arg, alias in items if fn == "count_distinct"]
        if cd_items:
            if any(arg in keys for arg, _ in cd_items):
                return None  # COUNT(DISTINCT key) — degenerate, naive
            if len(items) == 1:
                # sole distinct aggregate: distinct stage feeding a
                # count (the reference's distinct→aggregate circuit)
                from ..plans.incremental import IncrementalDistinct

                arg, alias = cd_items[0]
                dist_sel = []
                for ke, k in zip(key_exprs, keys):
                    dist_sel.append(ke if norm(ke) == k else f"{ke} AS {k}")
                dist_sel.append(arg)
                return _DistinctAggOp(
                    src,
                    where,
                    dist_sel,
                    IncrementalDistinct(),
                    IncrementalLinearAgg(
                        keys=keys, specs=[AggSpec(alias, "count", F.col(arg))]
                    ),
                    out_cols,
                    having,
                )
            plain_items = [
                (fn, arg, alias) for fn, arg, alias in items if fn != "count_distinct"
            ]
            if any(fn in ("min", "max") for fn, _, _ in plain_items):
                # distinct + non-linear plain items: touched-group
                # recompute evaluates the whole mix per affected group
                from ..plans.incremental import IncrementalGroupRecomputeAgg

                aggs = [
                    (
                        F.count_distinct(F.col(arg)) if fn == "count_distinct"
                        else F.count(F.lit(1)) if (fn == "count" and arg == "*")
                        else F.expr(f"{fn}({arg})")
                    ).alias(alias)
                    for fn, arg, alias in items
                ]
                return _AggOp(
                    src,
                    IncrementalGroupRecomputeAgg(keys=keys, aggs=aggs, cond=cond),
                    out_cols,
                    having,
                    pre_sel,
                )
            # linear plain items + distinct counts: per-branch states
            # recombined on touched keys (O(|delta|) per step)
            from ..plans.incremental import IncrementalMixedAgg

            plain_specs: list = []
            for fn, arg, alias in plain_items:
                if fn == "count" and arg == "*":
                    plain_specs.append(AggSpec(alias, "count"))
                elif fn == "count":
                    plain_specs.append(AggSpec(alias, "count", F.expr(arg)))
                else:
                    plain_specs.append(
                        AggSpec(alias, "sum" if fn == "sum" else "avg", F.expr(arg))
                    )
            return _AggOp(
                src,
                IncrementalMixedAgg(
                    keys=keys,
                    plain_specs=plain_specs,
                    dist_items=cd_items,
                    cond=cond,
                ),
                out_cols,
                having,
                pre_sel,
            )

        if any(fn in ("min", "max") for fn, _, _ in items):
            # non-linear aggregates: affected-group recompute keeps
            # per-step cost bounded by the touched groups
            from ..plans.incremental import IncrementalGroupRecomputeAgg

            aggs = [
                (F.count(F.lit(1)) if (fn == "count" and arg == "*") else F.expr(f"{fn}({arg})")).alias(alias)
                for fn, arg, alias in items
            ]
            return _AggOp(
                src,
                IncrementalGroupRecomputeAgg(keys=keys, aggs=aggs, cond=cond),
                out_cols,
                having,
                pre_sel,
            )

        specs: list = []
        for fn, arg, alias in items:
            if fn == "count" and arg == "*":
                specs.append(AggSpec(alias, "count"))
            elif fn == "count":
                specs.append(AggSpec(alias, "count", F.expr(arg)))
            elif fn == "sum":
                specs.append(AggSpec(alias, "sum", F.expr(arg)))
            else:
                specs.append(AggSpec(alias, "avg", F.expr(arg)))
        return _AggOp(
            src,
            IncrementalLinearAgg(keys=keys, specs=specs, cond=cond),
            out_cols,
            having,
            pre_sel,
        )

    m = _AGG_JOIN_RE.match(sql)
    if m:
        op = _recognize_agg_join(m, cols_of)
        if op is not None:
            return op

    m = _WIN_AGG_RE.match(sql)
    if m and m.group("src").lower() in known:
        parsed = _parse_window_agg(m)
        if parsed is not None:
            return parsed

    m = _TOPK_RE.match(sql)
    if m and m.group("src").lower() in known and m.group("rn").lower() == m.group("rn2").lower():
        from ..plans.incremental import IncrementalTopK

        keys = [k.strip().lower() for k in m.group("keys").split(",") if k.strip()]
        order: list[Column] = []
        for o in m.group("order").split(","):
            om = re.fullmatch(r"(?P<col>\w+)(?:\s+(?P<dir>ASC|DESC))?", o.strip(), re.IGNORECASE)
            if not om:
                return None
            c = F.col(om.group("col").lower())
            order.append(c.desc() if (om.group("dir") or "").upper() == "DESC" else c.asc())
        if not keys or not order:
            return None
        return _TopKOp(
            m.group("src").lower(),
            IncrementalTopK(
                keys=keys, order=order, k=int(m.group("k")), rank_alias=m.group("rn").lower()
            ),
        )

    m = _GLOBAL_TOPK_RE.match(sql)
    if m and m.group("src").lower() in known:
        from ..plans.incremental import IncrementalTopK

        src = m.group("src").lower()
        src_cols = cols_of.get(src)
        if src_cols is None:
            return None  # need the schema to drop the rank/key columns
        sel_txt = m.group("sel").strip()
        if sel_txt == "*":
            sel_cols = list(src_cols)
            pre = None
        else:
            # plain-column projection: applied to the delta BEFORE the
            # topk state (sound when the ORDER BY only uses selected
            # columns — rows identical on them are interchangeable)
            sel_cols = [c.strip().lower() for c in sel_txt.split(",") if c.strip()]
            if not sel_cols or any(
                not re.fullmatch(r"\w+", c) or c not in src_cols for c in sel_cols
            ):
                return None
            pre = sel_cols
        order: list[Column] = []
        for o in m.group("order").split(","):
            om = re.fullmatch(r"(?P<col>\w+)(?:\s+(?P<dir>ASC|DESC))?", o.strip(), re.IGNORECASE)
            if not om or om.group("col").lower() not in sel_cols:
                return None
            c = F.col(om.group("col").lower())
            order.append(c.desc() if (om.group("dir") or "").upper() == "DESC" else c.asc())
        if not order:
            return None
        return _GlobalTopKOp(
            src,
            IncrementalTopK(keys=["__g"], order=order, k=int(m.group("k")), rank_alias="__rn"),
            sel_cols,
            pre,
        )

    m = _DISTINCT_RE.match(sql)
    if m and m.group("src").lower() in known:
        sel, src = m.group("sel").strip(), m.group("src").lower()
        where = m.group("where")
        if _FORBIDDEN_LINEAR.search(sel) or (where and _FORBIDDEN_LINEAR.search(where)):
            return None
        from ..plans.incremental import IncrementalDistinct

        sel_items = None if sel == "*" else [s.strip() for s in _split_top_level_commas(sel)]
        return _DistinctOp(src, sel_items, where, IncrementalDistinct())

    chain = (
        _parse_join_chain(sql, cols_of)
        or _parse_alias_join_chain(sql, cols_of)
        or _recognize_chain_agg(sql, cols_of)
    )
    if chain is not None:
        return chain

    m = _OUTER_JOIN_RE.match(sql) or _JOIN_RE.match(sql)
    if m:
        how = (m.groupdict().get("how") or "inner").lower()
        a, b = m.group("a").lower(), m.group("b").lower()
        if a not in cols_of or b not in cols_of or a == b:
            return None  # unknown-schema sources / self-join → naive
        cols_a, cols_b = cols_of[a], cols_of[b]
        keys = _parse_equi_keys(m.group("on"), a, b, cols_a, cols_b)
        if keys is None:
            return None
        keys_a, keys_b = keys
        parsed = _parse_join_projection(m.group("sel"), a, b, cols_a, cols_b)
        if parsed is None:
            return None
        project, aliases = parsed
        if how == "inner":
            from ..plans.incremental import IncrementalJoin as _IJ

            on_col = None
            for ka, kb in zip(keys_a, keys_b):
                eq = F.col(ka) == F.col(kb)
                on_col = eq if on_col is None else (on_col & eq)
            return _JoinOp(a, b, _IJ(on=on_col, project=project), aliases)
        from ..plans.incremental import IncrementalOuterJoin

        return _OuterJoinOp(
            a,
            b,
            IncrementalOuterJoin(key_a=keys_a, key_b=keys_b, project=project, how=how),
            aliases,
        )

    op = (
        _recognize_alias_agg_join(sql, cols_of)
        or _recognize_alias_outer_agg(sql, cols_of)
        or _recognize_alias_outer_join(sql, cols_of)
        or _recognize_alias_join(sql, cols_of)
    )
    if op is not None:
        if op.src_a in known and op.src_b in known:
            return op
        return None

    m = _SELECT_FROM_RE.match(sql)
    if m and m.group("src").lower() in known:
        sel, src = m.group("sel").strip(), m.group("src").lower()
        where = m.group("where")
        if where and _FORBIDDEN_LINEAR.search(where):
            return None
        items = [s.strip() for s in _split_top_level_commas(sel)]
        agg_items = [_AGG_ITEM_RE.match(i) for i in items]
        if all(agg_items):
            # global aggregate: every select item is an aggregate
            from ..plans.incremental import AggSpec, IncrementalLinearAgg

            parsed: list[tuple[str, str, str]] = []
            for am in agg_items:
                fn = am.group("fn").lower()
                arg = am.group("arg").strip()
                if fn in ("min", "max"):
                    return None  # global MIN/MAX needs a full rescan on delete → naive
                if arg != "*" and _FORBIDDEN_LINEAR.search(arg):
                    return None
                parsed.append((fn, arg, am.group("alias").lower()))
            specs = []
            for fn, arg, alias in parsed:
                if fn == "count" and arg == "*":
                    specs.append(AggSpec(alias, "count"))
                elif fn == "count":
                    specs.append(AggSpec(alias, "count", F.expr(arg)))
                elif fn == "sum":
                    specs.append(AggSpec(alias, "sum", F.expr(arg)))
                else:
                    specs.append(AggSpec(alias, "avg", F.expr(arg)))
            return _GlobalAggOp(
                src,
                parsed,
                where,
                IncrementalLinearAgg(
                    keys=["__g"], specs=specs, cond=F.expr(where) if where else None
                ),
                [alias for _, _, alias in parsed],
            )
        win_matches = [(it, _WINFN_ITEM_RE.match(it)) for it in items]
        if any(wm for _, wm in win_matches):
            # Window-function view (LAG/ROW_NUMBER/running aggs with
            # arbitrary partitioning): affected-partition recompute.
            from ..plans.incremental import IncrementalPartitionedWindow

            part_keys: "list[str] | None" = None
            out_cols: list[str] = []
            plain: list[str] = []
            for it, wm in win_matches:
                if wm:
                    pk = [p.strip().lower() for p in wm.group("part").split(",") if p.strip()]
                    if part_keys is None:
                        part_keys = pk
                    elif part_keys != pk:
                        return None  # mixed partitionings → naive
                    arg = (wm.group("arg") or "").strip()
                    if arg and arg != "*" and _FORBIDDEN_LINEAR.search(arg):
                        return None
                    out_cols.append(wm.group("alias").lower())
                elif re.fullmatch(r"\w+", it):
                    plain.append(it.lower())
                    out_cols.append(it.lower())
                else:
                    return None
            # partition keys must pass through: retract/insert
            # bookkeeping joins previous output on them
            if part_keys is None or not set(part_keys) <= set(plain):
                return None
            return _WinFnOp(
                src,
                IncrementalPartitionedWindow(
                    part_keys=part_keys,
                    select_items=items,
                    cond=F.expr(where) if where else None,
                ),
                out_cols,
            )
        if _FORBIDDEN_LINEAR.search(sel):
            return None
        sel_items = None if sel == "*" else items
        return _LinearOp(src, sel_items, where)

    return None


def _out_cols_of(
    view: ViewDef, op, cols_of: dict[str, list[str]]
) -> "list[str] | None":
    """Statically-known output columns of a view, or None when the
    shape doesn't pin them down (naive views without an explicit
    column list, linear selects with unaliased expressions)."""
    if view.columns is not None:
        return [c.lower() for c in view.columns]
    if isinstance(op, (_LinearOp, _DistinctOp)):
        if op.sel is None:
            return list(cols_of[op.src]) if op.src in cols_of else None
        cols = []
        for item in op.sel:
            m = re.search(r"\s+AS\s+(\w+)\s*$", item, re.IGNORECASE)
            if m:
                cols.append(m.group(1).lower())
            elif re.fullmatch(r"\w+", item.strip()):
                cols.append(item.strip().lower())
            else:
                return None
        return cols
    if isinstance(op, (_AggOp, _DistinctAggOp)):
        return list(op.out_cols)
    if isinstance(op, (_JoinOp, _OuterJoinOp)):
        return list(op.aliases) if op.aliases is not None else None
    if isinstance(op, (_AliasJoinOp, _AliasJoinAggOp, _AliasOuterJoinOp, _AliasOuterJoinAggOp)):
        return list(op.out_cols)
    if isinstance(op, _TopKOp):
        src_cols = cols_of.get(op.src)
        return src_cols + [op.op.rank_alias] if src_cols else None
    if isinstance(op, (_UnionAllOp, _UnionChainOp)):
        return list(op.names0)
    if isinstance(op, (_SetOpOp, _SetOpChainOp, _SetExprOp)):
        return list(op.names0)
    if isinstance(op, _MultiJoinOp):
        return list(op.aliases)
    if isinstance(op, _MultiJoinAggOp):
        return list(op.out_cols)
    if isinstance(op, _GlobalTopKOp):
        return list(op.out_cols)
    if isinstance(op, _GlobalAggOp):
        return list(op.out_cols)
    if isinstance(op, (_WinFnOp, _JoinAggOp)):
        return list(op.out_cols)
    if isinstance(
        op, (_FlatMapOp, _SemiAntiOp, _RangeSemiAntiOp, _NotInOp, _KeyedNotInOp)
    ):
        return list(op.out_cols) if op.out_cols is not None else None
    if isinstance(op, (_ScalarSubqueryOp, _RangeScalarSubqOp, _GroupingSetsOp)):
        return list(op.out_cols)
    return None


# ---------------------------------------------------------------------------
# Incremental evaluation (D ∘ Q ∘ I)
# ---------------------------------------------------------------------------


_WITH_HEAD_RE = re.compile(r"^\s*WITH\s+", re.IGNORECASE)


def _split_ctes(sql: str):
    """Split a view body's leading WITH clause into
    ``([(cte_name, cte_body), ...], outer_select)``.

    Calcite erases CTEs during planning (each WITH binding becomes an
    ordinary sub-plan feeding its consumers), so the reference
    compiles a WITH view to the same circuit graph as an equivalent
    chain of views. We mirror that by registering each CTE as a
    hidden intermediate view: the recognizer then compiles CTE bodies
    to incremental circuits instead of falling back to whole-view
    naive recompute.

    WITH RECURSIVE is accepted: each CTE whose body references its own
    name is flagged via the third tuple element (name, body, is_rec)
    — callers route those to the fixpoint evaluator. Returns None —
    caller keeps the view intact (naive ``spark.sql`` evaluates WITH
    natively) — for a malformed clause or an outer statement that is
    not a plain SELECT. Scans quote-aware: parens inside string
    literals don't count."""
    m = _WITH_HEAD_RE.match(sql)
    if not m:
        return None
    rest = sql[m.end():]
    mr = re.match(r"RECURSIVE\b\s*", rest, re.IGNORECASE)
    if mr:
        rest = rest[mr.end():]
    ctes: list[tuple[str, str]] = []
    while True:
        mm = re.match(r'\s*("[^"]+"|\w+)\s+AS\s*\(', rest, re.IGNORECASE)
        if not mm:
            return None
        name = _ident(mm.group(1))
        i = mm.end()
        depth, j, in_str = 1, i, False
        while j < len(rest) and depth:
            ch = rest[j]
            if in_str:
                if ch == "'":
                    if j + 1 < len(rest) and rest[j + 1] == "'":
                        j += 1  # doubled quote inside the literal
                    else:
                        in_str = False
            elif ch == "'":
                in_str = True
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            j += 1
        if depth:
            return None
        ctes.append((name, rest[i : j - 1].strip()))
        rest = rest[j:]
        mc = re.match(r"\s*,", rest)
        if mc:
            rest = rest[mc.end():]
            continue
        break
    outer = rest.strip()
    if not re.match(r"SELECT\b", outer, re.IGNORECASE):
        return None
    flagged = [
        (
            n,
            body,
            bool(re.search(rf"\b{re.escape(n)}\b", _strip_string_literals(body), re.IGNORECASE)),
        )
        for n, body in ctes
    ]
    return flagged, outer


def _linear_agg(op) -> "IncrementalLinearAgg | None":
    """The aggregate of an aggregate view's op when it is an
    IncrementalLinearAgg, else None."""
    if not isinstance(op, (_AggOp, _DistinctAggOp, _JoinAggOp, _AliasJoinAggOp,
                           _AliasOuterJoinAggOp, _MultiJoinAggOp)):
        return None
    agg = op.op if isinstance(op, _AggOp) else op.agg_op
    return agg if isinstance(agg, IncrementalLinearAgg) else None


def _agg_view_rows(op, z: ZSet) -> ZSet:
    """An aggregate view's HAVING and final projection over rows ``z`` of
    its aggregate. Both are linear, so they map the aggregate's deltas
    and its integrated rows alike."""
    if op.having is not None:
        z = z.filter(op.having)
    if isinstance(op, (_AliasJoinAggOp, _AliasOuterJoinAggOp, _MultiJoinAggOp)):
        return z.map(*[F.expr(i) for i in op.sel_exprs])
    return z.map(*[F.col(c) for c in op.out_cols])


class _AggViewState:
    """The integrated value of an aggregate view whose aggregate is an
    IncrementalLinearAgg, read from that aggregate's per-group state.
    The view's deltas sum to exactly those rows (a step emits a changed
    group's old and new finished rows), so an Integral of the deltas
    would only store and compact the same data a second time. ``add``
    keeps the Integral interface and has nothing to do."""

    def __init__(self, zero: ZSet, op, agg: IncrementalLinearAgg):
        self._zero = zero  # leads the sum: value() stays in the program's session
        self._op = op
        self._agg = agg

    def add(self, delta: ZSet) -> None:
        pass

    def value(self) -> ZSet:
        return self._zero.add(_agg_view_rows(self._op, ZSet.from_df(self._agg.snapshot())))

    def snapshot(self) -> ZSet:
        return self.value().consolidate()


class IncrementalProgram:
    """Maintain a program's views under input Z-set deltas.

    Semantics (the reference's incremental-circuit specification):
    each ``step`` integrates the input deltas into per-table state and
    returns per-view output *deltas* — Z-sets whose integral always
    equals the view evaluated on the integrated inputs.

    Cost: with ``optimize=True`` each recognized view runs an
    incremental operator (plans/incremental.py) whose step reads the
    input deltas, so its Spark work follows |delta|. Views the
    recognizer leaves out (and recursive views) take the naive D∘Q∘I
    path, which re-evaluates the view over the full table snapshots.
    Table and view state are each an :class:`Integral`, as is the
    state of every operator but the linear aggregate, so a step
    appends its deltas rather than re-consolidating the state, and a
    table with no delta in a step feeds the views a ``ZSet.empty``
    that Catalyst and the operators prune. A view over a linear
    aggregate is the exception: its integrated value is read from the
    aggregate's per-group state, which already holds it.
    ``checkpoint_every`` paces the table and view Integrals only:
    their raw deltas are merged every ``checkpoint_every`` steps into
    consolidated runs, and a merge takes in only the runs of no more
    than ``checkpoint_every`` times its size, so a small step never
    re-reads the bulk load. The operators are built without it, so
    each uses the default of 8; the linear aggregate checkpoints its
    per-group state every step. Join-aggregate views feed the
    aggregate the join delta unconsolidated (it sums weights anyway).
    """

    def __init__(
        self,
        spark: SparkSession,
        program: SqlProgram | str,
        checkpoint_every: int = 8,
        optimize: bool = False,
        max_iters: int = 200,
    ):
        self.spark = spark
        self.program = SqlProgram.parse(program) if isinstance(program, str) else program
        self._max_iters = max_iters
        if not self.program.views:
            raise ValueError("program has no views")
        # fail fast: a malformed/unsupported recursive body should
        # error here, not on the first step
        for v in self.program.views:
            if v.recursive:
                _split_recursive_body(v)
        # The statically empty delta of each table, for steps that do
        # not change it.
        self._zero: dict[str, ZSet] = {
            name: ZSet.empty(ZSet.from_df(_empty_table(spark, t)).df)
            for name, t in self.program.tables.items()
        }
        # Integrated input state, one Integral per table (starts empty).
        self._state: dict[str, Integral] = {
            name: Integral(z, checkpoint_every) for name, z in self._zero.items()
        }
        # Integrated state of each view (created on its first step).
        self._view_state: dict[str, Integral | _AggViewState] = {}
        self._steps = 0
        self._checkpoint_every = checkpoint_every
        # observability: # of steps where a recursive view warm-started
        # (insert-only delta rule) or ran delete-and-rederive
        self.recursive_warm_steps = 0
        self.recursive_dred_steps = 0
        self.recursive_counting_steps = 0
        # Counting-based recursion state (VERDICT r4 item 3): per view,
        # a Z-set whose WEIGHTS are derivation counts (number of
        # derivation trees per fact). Initialized lazily on the first
        # retraction step; views where the count fixpoint diverges
        # (cyclic derivations) or counts blow past _COUNT_CAP are
        # permanently marked failed and keep using DRed.
        self._rec_counts: dict[str, ZSet] = {}
        self._rec_count_failed: set[str] = set()

        # CTE decomposition (the reference's Calcite planner erases
        # WITH into ordinary sub-plans): register each CTE as a
        # hidden intermediate view under its own name, so CTE bodies
        # compile to incremental circuits and the outer SELECT — now
        # CTE-free — gets its own shot at the recognizer. A name
        # collision (CTE shadowing a table/view, or reused across
        # views) keeps that view un-expanded: spark.sql evaluates
        # its WITH natively on the naive path, with correct scoping.
        self._hidden: set[str] = set()
        self._exec_views: list[ViewDef] = []
        taken = set(self.program.tables) | {v.name for v in self.program.views}
        for view in self.program.views:
            parts = _split_ctes(view.sql) if not view.recursive else None
            if parts:
                ctes, outer = parts
                cte_names = [n for n, _, _ in ctes]
                # a recursive CTE expands to a hidden RECURSIVE view
                # (fixpoint-evaluated) — but only when its body is a
                # shape the fixpoint accepts (base ∪ rec, UNION set);
                # otherwise keep the view intact: Spark ≥4.0 evaluates
                # UNION ALL recursion natively on the naive path
                def _expandable(n: str, body: str, is_rec: bool) -> bool:
                    if not is_rec:
                        return True
                    try:
                        _split_recursive_body(ViewDef(n, body, recursive=True))
                        return True
                    except ValueError:
                        return False

                if (
                    len(set(cte_names)) == len(cte_names)
                    and not (set(cte_names) & taken)
                    and all(_expandable(n, b, r) for n, b, r in ctes)
                ):
                    for n, body, is_rec in ctes:
                        self._exec_views.append(ViewDef(n, body, recursive=is_rec))
                        self._hidden.add(n)
                        taken.add(n)
                    view = ViewDef(view.name, outer, view.columns)
                elif any(r and _expandable(n, b, r) for n, b, r in ctes):
                    # a set-UNION recursive CTE that needs the fixpoint
                    # evaluator but cannot be expanded (name collision
                    # or duplicate CTE names): spark.sql would reject
                    # it on every step — fail at construction instead
                    raise ValueError(
                        f"view {view.name}: WITH RECURSIVE ... UNION CTE cannot be "
                        "expanded (CTE name collides with a table/view or repeats); "
                        "rename the CTE"
                    )
            self._exec_views.append(view)

        # Optimized pass: map each view to an incremental operator
        # where the shape allows; None → naive D∘Q∘I fallback.
        # cols_of tracks statically-known output schemas so recognized
        # views can feed later recognized joins.
        self._ops: dict[str, object | None] = {}
        known = set(self.program.tables)
        cols_of = {n: [c for c, _ in t.columns] for n, t in self.program.tables.items()}
        for view in self._exec_views:
            op = (
                _recognize_view(view, cols_of, known)
                if optimize and not view.recursive
                else None
            )
            if op is not None:
                # Real-parser cross-check (DuckDB AST): a regex
                # misparse — string literals hiding keywords, nested
                # joins, quoted identifiers — may only LOSE
                # optimization, never change results.
                from .ast_guard import consistent

                if not consistent(op, view.sql):
                    op = None
            if isinstance(op, _GlobalAggOp):
                # the empty-input default row needs the source's exact
                # schema — table sources only; view sources → naive
                if op.src not in self.program.tables:
                    op = None
                else:
                    empty = _empty_table(spark, self.program.tables[op.src])
                    if op.where:
                        empty = empty.where(op.where)
                    op.default_df = empty.agg(
                        *[
                            (
                                F.count(F.lit(1)) if (fn == "count" and arg == "*")
                                else F.expr(f"{fn}({arg})")
                            ).cast("long" if fn == "count" else None)
                            .alias(alias)
                            if fn == "count"
                            else F.expr(f"{fn}({arg})").alias(alias)
                            for fn, arg, alias in op.items
                        ]
                    ).localCheckpoint(eager=False)
            self._ops[view.name] = op
            known.add(view.name)
            oc = _out_cols_of(view, op, cols_of)
            if oc is not None:
                cols_of[view.name] = oc
        self._has_naive = any(op is None for op in self._ops.values())

    def plan(self) -> dict[str, str]:
        """Which path each view compiles to — the analogue of the
        reference's circuit dump (incremental operators vs naive)."""
        from ..plans.incremental import IncrementalGroupRecomputeAgg, IncrementalMixedAgg

        def kind(op) -> str:
            if isinstance(op, _LinearOp):
                return "linear"
            if isinstance(op, _AggOp):
                if isinstance(op.op, IncrementalGroupRecomputeAgg):
                    return "aggregate-recompute"
                if isinstance(op.op, IncrementalMixedAgg):
                    return "mixed-distinct-aggregate"
                return "aggregate"
            if isinstance(op, _DistinctAggOp):
                return "distinct-count-aggregate"
            if isinstance(op, _JoinOp):
                return "join"
            if isinstance(op, _AliasJoinOp):
                return "self-join" if op.src_a == op.src_b else "join"
            if isinstance(op, _AliasOuterJoinOp):
                return f"{op.op.how}-outer-join"
            if isinstance(op, _AliasOuterJoinAggOp):
                rc = "-recompute" if isinstance(op.agg_op, IncrementalGroupRecomputeAgg) else ""
                return f"{op.join_op.how}-outer-join-aggregate{rc}"
            if isinstance(op, _AliasJoinAggOp):
                kindname = "self-join" if op.src_a == op.src_b else "join"
                if isinstance(op.agg_op, IncrementalGroupRecomputeAgg):
                    return f"{kindname}-aggregate-recompute"
                return f"{kindname}-aggregate"
            if isinstance(op, _OuterJoinOp):
                return f"{op.op.how}-outer-join"
            if isinstance(op, _DistinctOp):
                return "distinct"
            if isinstance(op, _TopKOp):
                return "topk"
            if isinstance(op, _WinAggOp):
                if isinstance(op.op, IncrementalGroupRecomputeAgg):
                    return "window-aggregate-recompute"
                return "window-aggregate"
            if isinstance(op, _UnionAllOp):
                return "union-all" if op.distinct_op is None else "union-distinct"
            if isinstance(op, _UnionChainOp):
                return f"union-chain-{len(op.parts)}"
            if isinstance(op, _SetOpOp):
                return op.op.kind.replace("_", "-")
            if isinstance(op, _SetOpChainOp):
                return f"setop-chain-{len(op.parts)}"
            if isinstance(op, _SetExprOp):
                return f"set-expr-{len(op.parts)}"
            if isinstance(op, _MultiJoinOp):
                return f"join-chain-{len(op.srcs)}"
            if isinstance(op, _MultiJoinAggOp):
                rc = "-recompute" if isinstance(op.agg_op, IncrementalGroupRecomputeAgg) else ""
                return f"join-chain-{len(op.srcs)}-aggregate{rc}"
            if isinstance(op, _GlobalTopKOp):
                return "topk-global"
            if isinstance(op, _GlobalAggOp):
                return "aggregate-global"
            if isinstance(op, _WinFnOp):
                return "partitioned-window"
            if isinstance(op, _JoinAggOp):
                if isinstance(op.agg_op, IncrementalGroupRecomputeAgg):
                    return "join-aggregate-recompute"
                return "join-aggregate"
            if isinstance(op, _FlatMapOp):
                return "flatmap"
            if isinstance(op, _SemiAntiOp):
                return "anti-join-decorrelated" if op.anti else "semi-join-decorrelated"
            if isinstance(op, _RangeSemiAntiOp):
                return (
                    "range-anti-join-decorrelated"
                    if op.anti
                    else "range-semi-join-decorrelated"
                )
            if isinstance(op, _NotInOp):
                return "not-in-null-aware"
            if isinstance(op, _KeyedNotInOp):
                return "not-in-correlated"
            if isinstance(op, _ScalarSubqueryOp):
                return "scalar-agg-join"
            if isinstance(op, _RangeScalarSubqOp):
                return "range-scalar-agg"
            if isinstance(op, _GroupingSetsOp):
                suffix = "-recompute" if op.recompute else ""
                return f"{op.kindword}-aggregate{suffix}"
            return "naive"

        rec = {v.name for v in self._exec_views if v.recursive}
        return {
            name: ("recursive-fixpoint" if name in rec else kind(op))
            for name, op in self._ops.items()
        }

    def step(self, deltas: dict[str, ZSet | DataFrame]) -> dict[str, ZSet]:
        """Apply one round of input deltas; returns per-view output
        deltas (consolidated Z-sets; empty Z-set => view unchanged)."""
        # validate every delta before any state changes, so a bad step
        # leaves the program as it was (a table's Integral reads a
        # delta's columns only when it compacts)
        for name in deltas:
            if name not in self._state:
                raise KeyError(f"unknown table: {name}")
        in_deltas = {
            name: d if isinstance(d, ZSet) else ZSet.from_df(d) for name, d in deltas.items()
        }
        for name, z in in_deltas.items():
            want = {c.lower() for c, _ in self.program.tables[name].columns} | {WEIGHT}
            if {c.lower() for c in z.df.columns} != want:
                raise ValueError(f"delta for {name} has columns {z.df.columns}")
        for name, z in in_deltas.items():
            self._state[name].add(z)
        self._steps += 1

        if self._has_naive:
            # naive views read full snapshots of the tables
            for name, integ in self._state.items():
                integ.value().to_multiset_df().createOrReplaceTempView(name)

        out: dict[str, ZSet] = {}

        def delta_of(src: str) -> ZSet:
            if src in self.program.tables:
                return in_deltas.get(src) or self._zero[src]
            return out[src]  # earlier view's delta this step

        for view in self._exec_views:
            op = self._ops[view.name]
            if isinstance(op, _LinearOp):
                d = ZSet(_apply_linear(delta_of(op.src).df, op.sel, op.where)).consolidate()
            elif isinstance(op, _AggOp):
                z = delta_of(op.src)
                if op.pre_sel is not None:
                    z = ZSet(_apply_linear(z.df, op.pre_sel, None))
                # having may reference hidden __hN aggregate columns:
                # it filters before the projection drops them
                d = _agg_view_rows(op, op.op.step(z))
            elif isinstance(op, _DistinctAggOp):
                z = ZSet(
                    _apply_linear(delta_of(op.src).df, op.dist_sel, op.where)
                ).consolidate()
                d = _agg_view_rows(op, op.agg_op.step(op.distinct_op.step(z)))
            elif isinstance(op, _JoinAggOp):
                # the aggregate sums weights: it takes the join delta
                # unconsolidated, sparing a shuffle of every join column
                jd = op.join_op.step_unconsolidated(delta_of(op.src_a), delta_of(op.src_b))
                d = _agg_view_rows(op, op.agg_op.step(jd))
            elif isinstance(op, _WinFnOp):
                d = op.op.step(delta_of(op.src))
                d = d.map(*[F.col(c) for c in op.out_cols])
            elif isinstance(op, _JoinOp):
                d = op.op.step(delta_of(op.src_a), delta_of(op.src_b))
            elif isinstance(op, _AliasJoinOp):
                da = ZSet(_apply_linear(delta_of(op.src_a).df, op.pre_a, None))
                db = ZSet(_apply_linear(delta_of(op.src_b).df, op.pre_b, None))
                d = op.op.step(da, db)
                if op.where:
                    d = d.filter(F.expr(op.where))
                d = d.map(*[F.expr(i) for i in op.sel_items]).consolidate()
            elif isinstance(op, _AliasOuterJoinOp):
                da = ZSet(_apply_linear(delta_of(op.src_a).df, op.pre_a, None))
                db = ZSet(_apply_linear(delta_of(op.src_b).df, op.pre_b, None))
                d = op.op.step(da, db)
            elif isinstance(op, (_AliasJoinAggOp, _AliasOuterJoinAggOp)):
                da = ZSet(_apply_linear(delta_of(op.src_a).df, op.pre_a, None))
                db = ZSet(_apply_linear(delta_of(op.src_b).df, op.pre_b, None))
                if isinstance(op, _AliasJoinAggOp):
                    jd = op.join_op.step_unconsolidated(da, db)
                else:
                    jd = op.join_op.step(da, db)
                d = _agg_view_rows(op, op.agg_op.step(jd))
            elif isinstance(op, _OuterJoinOp):
                d = op.op.step(delta_of(op.src_a), delta_of(op.src_b))
            elif isinstance(op, _DistinctOp):
                d = op.op.step(
                    ZSet(_apply_linear(delta_of(op.src).df, op.sel, op.where)).consolidate()
                )
            elif isinstance(op, _TopKOp):
                d = op.op.step(delta_of(op.src))
            elif isinstance(op, _GlobalTopKOp):
                src_z = delta_of(op.src)
                if op.sel is not None:
                    src_z = ZSet(_apply_linear(src_z.df, op.sel, None)).consolidate()
                dd = src_z.df.withColumn("__g", F.lit(0))
                d = op.op.step(ZSet(dd))
                d = d.map(*[F.col(c) for c in op.out_cols])
            elif isinstance(op, _WinAggOp):
                dd = delta_of(op.src).df.withColumn("__win", F.expr(op.win_sql))
                d = op.op.step(ZSet(dd))
                d = d.map(*op.out_exprs)
            elif isinstance(op, _UnionAllOp):
                z = None
                for src, sel, where in op.parts:
                    pd_ = _apply_linear(delta_of(src).df, sel, where)
                    payload = [c for c in pd_.columns if c != WEIGHT]
                    pd_ = pd_.select(*payload, WEIGHT).toDF(*op.names0, WEIGHT)
                    z = ZSet(pd_) if z is None else z.add(ZSet(pd_))
                d = z.consolidate()
                if op.distinct_op is not None:
                    d = op.distinct_op.step(d)
            elif isinstance(op, _UnionChainOp):
                def _upart(i):
                    src_i, sel_i, where_i = op.parts[i]
                    ud = _apply_linear(delta_of(src_i).df, sel_i, where_i)
                    pc = [c for c in ud.columns if c != WEIGHT]
                    return ZSet(ud.select(*pc, WEIGHT).toDF(*op.names0, WEIGHT))

                d = _upart(0)
                for i, dop in enumerate(op.distinct_ops):
                    d = d.add(_upart(i + 1)).consolidate()
                    if dop is not None:
                        d = dop.step(d)
            elif isinstance(op, _MultiJoinOp):
                def _leg(i):
                    z = delta_of(op.srcs[i])
                    if op.pres is not None:
                        z = ZSet(_apply_linear(z.df, op.pres[i], None))
                    return z

                d = op.ops[0].step(_leg(0), _leg(1))
                for j, nxt in enumerate(op.ops[1:], start=2):
                    d = nxt.step(d, _leg(j))
                if op.where:
                    d = ZSet(d.df.where(op.where))
                d = d.map(*op.project).consolidate()
            elif isinstance(op, _MultiJoinAggOp):
                def _aleg(i):
                    return ZSet(_apply_linear(delta_of(op.srcs[i]).df, op.pres[i], None))

                # only the last stage feeds the aggregate unconsolidated
                jd = _aleg(0)
                for j, stage in enumerate(op.ops, start=1):
                    last = j == len(op.ops)
                    jd = (stage.step_unconsolidated if last else stage.step)(jd, _aleg(j))
                d = _agg_view_rows(op, op.agg_op.step(jd))
            elif isinstance(op, _SetOpOp):
                src_a, sel_a, where_a = op.part_a
                src_b, sel_b, where_b = op.part_b
                da_df = _apply_linear(delta_of(src_a).df, sel_a, where_a)
                pa = [c for c in da_df.columns if c != WEIGHT]
                da = ZSet(da_df.select(*pa, WEIGHT).toDF(*op.names0, WEIGHT))
                db = ZSet(_apply_linear(delta_of(src_b).df, sel_b, where_b))
                d = op.op.step(da, db)
            elif isinstance(op, _SetOpChainOp):
                def _branch(i):
                    src_i, sel_i, where_i = op.parts[i]
                    bd = _apply_linear(delta_of(src_i).df, sel_i, where_i)
                    pc = [c for c in bd.columns if c != WEIGHT]
                    return ZSet(bd.select(*pc, WEIGHT).toDF(*op.names0, WEIGHT))

                d = op.ops[0].step(_branch(0), _branch(1))
                for j, nxt in enumerate(op.ops[1:], start=2):
                    d = nxt.step(d, _branch(j))
            elif isinstance(op, _SetExprOp):
                def _sleaf(i):
                    src_i, sel_i, where_i = op.parts[i]
                    bd = _apply_linear(delta_of(src_i).df, sel_i, where_i)
                    pc = [c for c in bd.columns if c != WEIGHT]
                    return ZSet(bd.select(*pc, WEIGHT).toDF(*op.names0, WEIGHT))

                def _seval(node):
                    if node.kind == "leaf":
                        return _sleaf(node.left)
                    l = _seval(node.left)
                    r = _seval(node.right)
                    if node.kind == "union_all":
                        return l.add(r).consolidate()
                    if node.kind == "union":
                        return node.op.step(l.add(r).consolidate())
                    return node.op.step(l, r)

                d = _seval(op.root)
            elif isinstance(op, _GlobalAggOp):
                dd = delta_of(op.src).df.withColumn("__g", F.lit(0))
                op.op.step(ZSet(dd))
                snap = op.op.snapshot().select(*op.out_cols)
                cur = snap if snap.limit(1).count() > 0 else op.default_df
                d = (
                    ZSet.from_df(cur)
                    if op.prev is None
                    else ZSet.from_df(cur).subtract(ZSet.from_df(op.prev)).consolidate()
                )
                op.prev = cur
            elif isinstance(op, _FlatMapOp):
                if op.ord_col is not None:
                    z = delta_of(op.src).flat_map_ordinal(
                        F.expr(op.arr_expr), op.elem, op.ord_col
                    )
                else:
                    z = delta_of(op.src).flat_map(F.expr(op.arr_expr), op.elem)
                if op.where:
                    z = z.filter(F.expr(op.where))
                if op.sel_items is not None:
                    z = z.map(*[F.expr(i) for i in op.sel_items])
                d = z.consolidate()
            elif isinstance(op, _SemiAntiOp):
                da = ZSet(
                    _apply_linear(delta_of(op.src_a).df, None, op.a_where)
                ).consolidate()
                dk = ZSet(
                    _apply_linear(
                        delta_of(op.src_b).df,
                        [f"{k} AS __k{i}" for i, k in enumerate(op.b_keys)],
                        op.b_where,
                    )
                )
                d = op.op.step(da, dk)
                if op.sel_items is not None:
                    d = d.map(*[F.expr(i) for i in op.sel_items])
            elif isinstance(op, _RangeSemiAntiOp):
                da = ZSet(
                    _apply_linear(delta_of(op.src_a).df, None, op.a_where)
                ).consolidate()
                dk = ZSet(
                    _apply_linear(
                        delta_of(op.src_b).df,
                        [f"{k} AS __k{i}" for i, k in enumerate(op.b_keys)]
                        + [f"{c} AS __b_{c}" for c in op.b_pred_cols],
                        op.b_where,
                    )
                )
                d = op.op.step(da, dk)
                if op.sel_items is not None:
                    d = d.map(*[F.expr(i) for i in op.sel_items])
            elif isinstance(op, _NotInOp):
                da = ZSet(
                    _apply_linear(delta_of(op.src_a).df, None, op.a_where)
                ).consolidate()
                dk = ZSet(
                    _apply_linear(
                        delta_of(op.src_b).df, [f"{op.b_key} AS __k0"], op.b_where
                    )
                )
                d = op.op.step(da, dk)
                if op.sel_items is not None:
                    d = d.map(*[F.expr(i) for i in op.sel_items])
            elif isinstance(op, _KeyedNotInOp):
                da = ZSet(
                    _apply_linear(delta_of(op.src_a).df, None, op.a_where)
                ).consolidate()
                dk = ZSet(
                    _apply_linear(
                        delta_of(op.src_b).df,
                        [f"{k} AS __k{i}" for i, k in enumerate(op.corr_b)]
                        + [f"{op.b_key} AS __v"],
                        op.b_where,
                    )
                )
                d = op.op.step(da, dk)
                if op.sel_items is not None:
                    d = d.map(*[F.expr(i) for i in op.sel_items])
            elif isinstance(op, _RangeScalarSubqOp):
                da = ZSet(
                    _apply_linear(delta_of(op.src_a).df, None, op.a_where)
                ).consolidate()
                b_sel = [f"{k} AS __k{i}" for i, k in enumerate(op.b_keys)] + [
                    f"{c} AS __b_{c}" for c in op.b_pred_cols
                ]
                if op.b_arg is not None:
                    b_sel.append(f"{op.b_arg} AS __arg")
                dk = ZSet(
                    _apply_linear(delta_of(op.src_b).df, b_sel, op.b_where)
                )
                d = op.op.step(da, dk)
                d = d.map(*[F.col(c) for c in op.out_cols])
            elif isinstance(op, _ScalarSubqueryOp):
                d = ZSet(
                    _apply_linear(delta_of(op.src_a).df, None, op.a_where)
                ).consolidate()
                for sub in op.subs:
                    db = ZSet(
                        _apply_linear(delta_of(sub.src_b).df, sub.b_sel, sub.b_where)
                    ).consolidate()
                    jd = sub.agg_op.step(db)
                    d = sub.join_op.step(d, jd)
                d = ZSet(d.df.selectExpr(*op.out_exprs_sql, WEIGHT)).consolidate()
            elif isinstance(op, _GroupingSetsOp):
                src_z = delta_of(op.src)
                dtypes = {f.name.lower(): f.dataType for f in src_z.df.schema.fields}
                total: ZSet | None = None
                for gset, sub in zip(op.sets, op.sub_ops):
                    if gset:
                        dz = sub.step(src_z)
                    else:
                        # empty grouping set: Spark's Expand-based
                        # grouping emits the grand-total row only while
                        # input (post-WHERE) is nonempty — a plain
                        # constant-keyed group that appears/disappears
                        # with its support, NOT the one-row-always
                        # global aggregate semantics of _GlobalAggOp.
                        dz = sub.step(ZSet(src_z.df.withColumn("__g", F.lit(0))))
                        dz = dz.map(*[F.col(c) for c in op.agg_aliases])
                    cols = []
                    for oc in op.out_cols:
                        if oc in op.grouping_aliases:
                            key = op.grouping_aliases[oc]
                            cols.append(
                                F.lit(0 if key in gset else 1).cast("tinyint").alias(oc)
                            )
                        elif oc in op.all_keys:
                            if oc in gset:
                                cols.append(F.col(oc))
                            else:
                                cols.append(F.lit(None).cast(dtypes[oc]).alias(oc))
                        else:
                            cols.append(F.col(oc))
                    dz = dz.map(*cols)
                    total = dz if total is None else total.add(dz)
                d = total.consolidate()
            else:  # naive D∘Q∘I: recompute snapshot, diff vs previous
                if view.recursive:
                    # insert-only deltas warm-start semi-naive from the
                    # previous fixpoint (the DBSP delta rule); steps
                    # with retractions run delete-and-rederive; only
                    # guarded-out shapes recompute from scratch
                    snap_df = self._warm_recursive(view, in_deltas, out)
                    if snap_df is None:
                        snap_df = _eval_recursive_view(
                            self.spark, view, max_iters=self._max_iters
                        )
                else:
                    snap_df = self.spark.sql(view.sql)
                if view.columns is not None:
                    snap_df = snap_df.toDF(*view.columns)
                # The recomputed snapshot becomes a fresh Integral, whose
                # base is compacted BEFORE diffing so the diff and the
                # stored state share one materialization (without it
                # the subtract and the next step's state would each
                # re-execute the view query). Safe against the Spark
                # 4.1 LogicalRDD dangling-constraint bug only because
                # constraint propagation is disabled in session.py.
                integ = Integral(ZSet.from_df(snap_df), self._checkpoint_every)
                snap = integ.value()
                prev = self._view_state.get(view.name)
                d = snap if prev is None else snap.subtract(prev.value()).consolidate()
                self._view_state[view.name] = integ
                if self._has_naive:
                    snap.to_multiset_df().createOrReplaceTempView(view.name)
                out[view.name] = d
                continue

            integ = self._view_state.get(view.name)
            if integ is None:
                # the zero lives in the program's session, so the temp
                # views below land in its catalog even when d comes from
                # a foreachBatch (cloned-session) delta
                zero = ZSet.empty(self.spark.createDataFrame([], d.df.schema))
                agg = _linear_agg(op)
                if agg is not None:
                    integ = _AggViewState(zero, op, agg)
                else:
                    integ = Integral(zero, self._checkpoint_every)
                self._view_state[view.name] = integ
            integ.add(d)
            if self._has_naive:
                # downstream naive views may read this view's snapshot
                integ.value().to_multiset_df().createOrReplaceTempView(view.name)
            out[view.name] = d
        # hidden CTE views are circuit internals, not program outputs
        return {n: z for n, z in out.items() if n not in self._hidden}

    def snapshot(self, view: str) -> ZSet:
        """Current integrated value of a view (Z-set)."""
        if view not in self._view_state:
            raise ValueError("no steps applied yet")
        return self._view_state[view].snapshot()

    def step_statements(self, text: str) -> dict[str, ZSet]:
        """Drive the circuits with TABLE-MODIFY STATEMENTS instead of
        pre-computed deltas — the reference's input protocol
        (TableContents.java consumes the INSERT/DELETE statement
        stream; TableModifyStatement.java:35 models each as Z-set
        retract+insert). Each statement's delta is DERIVED from the
        integrated state: INSERT adds its VALUES rows; DELETE retracts
        the TRUE-matching state rows (all copies, weights and all);
        UPDATE retracts matched rows and inserts their old-row-
        semantics rewrites; MERGE takes the post-merge multiset minus
        the current state (clause guards, cardinality rule and all —
        one code path with the batch frontend). Statements step IN
        ORDER, each against the state the previous one left. Returns
        the per-view delta summed across the statements (one CDC
        transaction's net effect)."""
        combined: dict[str, ZSet] = {}
        for stmt in split_statements(text):
            mut = parse_mutation_statement(stmt)
            if mut is None:
                raise ValueError(f"not a table-modify statement: {stmt[:80]!r}")
            if mut.table not in self.program.tables:
                raise KeyError(f"unknown table: {mut.table}")
            table = self.program.tables[mut.table]
            type_of = dict(table.columns)
            state = self._state[mut.table].snapshot()
            if isinstance(mut, InsertDef):
                delta = ZSet.from_df(
                    _table_from_inserts(self.spark, table, [mut])
                )
            elif isinstance(mut, DeleteDef):
                delta = state.filter(
                    F.coalesce(F.expr(mut.where_sql), F.lit(False))
                ).neg()
            elif isinstance(mut, UpdateDef):
                p = F.coalesce(F.expr(mut.where_sql), F.lit(False))
                matched = state.filter(p)
                new_val = dict(mut.assignments)
                rewritten = matched.map(
                    *[
                        (
                            F.expr(new_val[c]).cast(spark_type(type_of[c]))
                            if c in new_val
                            else F.col(c)
                        ).alias(c)
                        for c, _ in table.columns
                    ]
                )
                delta = matched.neg().add(rewritten)
            else:  # MergeDef
                resolve = None
                if mut.source_kind != "values":
                    # relation sources read the INTEGRATED state of the
                    # referenced tables (multiset expansion of the Z-set)
                    resolve = {
                        n: self._state[n].value().to_multiset_df()
                        for n in self.program.tables
                        if n in self._state
                    }
                delta = _merge_delta(self.spark, table, state, mut, resolve=resolve)
            out = self.step({mut.table: delta.consolidate()})
            for name, z in out.items():
                combined[name] = combined[name].add(z) if name in combined else z
        return {n: z.consolidate() for n, z in combined.items()}

    def save_state(self, path: str) -> None:
        """Persist the program's integrated INPUT state (one parquet
        Z-set per table, weights consolidated) plus a manifest. The
        view/operator state is deliberately NOT persisted: every view
        is a pure function of the integrated inputs, so `restore`
        rebuilds it — which keeps the format valid for every operator
        kind (optimized circuits hold heterogeneous internal
        accumulators that have no stable on-disk contract)."""
        import json
        import os

        os.makedirs(path, exist_ok=True)
        for name, integ in self._state.items():
            integ.snapshot().df.write.mode("overwrite").parquet(
                os.path.join(path, f"table_{name}")
            )
        manifest = {
            "tables": sorted(self._state),
            "views": [v.name for v in self.program.views],
            "steps": self._steps,
        }
        with open(os.path.join(path, "manifest.json"), "w") as fh:
            json.dump(manifest, fh)

    @classmethod
    def restore(
        cls,
        spark: SparkSession,
        program: "SqlProgram | str",
        path: str,
        **kwargs,
    ) -> "IncrementalProgram":
        """Reconstruct a program from `save_state` output and resume
        incremental maintenance. The saved table state replays as ONE
        bootstrap insert-only delta — a full recompute whose cost is
        proportional to the state size, paid once at restart; every
        step after it is incremental again. Correct for all operator
        kinds (naive, every recognized circuit, recursive fixpoints)
        because a single insert-only step from empty is just the
        ordinary semantics. The bootstrap's output deltas are
        discarded (they re-derive the pre-save totals)."""
        import json
        import os

        with open(os.path.join(path, "manifest.json")) as fh:
            manifest = json.load(fh)
        inc = cls(spark, program, **kwargs)
        if sorted(inc._state) != manifest["tables"] or [
            v.name for v in inc.program.views
        ] != manifest["views"]:
            raise ValueError("saved state does not match this program")
        deltas = {
            name: ZSet(spark.read.parquet(os.path.join(path, f"table_{name}")))
            for name in manifest["tables"]
        }
        inc.step(deltas)
        inc._steps = manifest["steps"] + 1
        return inc

    def _warm_recursive(self, view: ViewDef, in_deltas: dict, out: dict):
        """Warm-start evaluation of a recursive view for this step, or
        None when the safe preconditions don't hold.

        Preconditions: a previous fixpoint exists; the recursion is
        LINEAR with SPJ base terms; and each recursive term references
        each changed source at most once. Steps whose source deltas
        carry retractions dispatch to :meth:`_dred_recursive`; the
        insert-only case continues here, where the new fixpoint
        T' ⊇ T and semi-naive iteration can be
        seeded with the delta rule for multilinear terms: re-evaluated
        base terms minus T, plus each recursive term evaluated with
        the view bound to T and ONE changed source bound to its delta
        (other sources see their new full snapshots). Every first
        derivation of a new fact uses ≥1 changed-source delta row, so
        the seed is complete; distinct∘subtract keeps it sound."""
        if view.name not in self._view_state:
            return None
        prev = self._view_state[view.name].value()
        if view.columns is not None:
            # the stored snapshot carries the RENAMED columns; the
            # recursive terms are written against the body's natural
            # names — recompute cold rather than bind a mismatched T
            return None
        try:
            base_parts, rec_parts = _split_recursive_body(view)
        except ValueError:
            return None
        # recursive terms are SPJ by the split's rejection rules; base
        # terms are unrestricted in batch, but a non-monotone base
        # (NOT IN, EXCEPT, aggregates ...) can SHRINK under an
        # insert-only source delta — warm-start only over SPJ bases
        if any(_NON_SPJ_RE.search(_strip_string_literals(p)) for p in base_parts):
            return None

        known = set(self.program.tables) | set(self._view_state) | set(out)
        known.discard(view.name)

        def refs(sql: str) -> list[str]:
            masked = _strip_string_literals(sql)
            return [s for s in known if re.search(rf"\b{re.escape(s)}\b", masked, re.IGNORECASE)]

        sources = {s for p in base_parts + rec_parts for s in refs(p)}

        def delta_of_source(s: str) -> "ZSet | None":
            if s in self.program.tables:
                return in_deltas.get(s)
            return out.get(s)

        changed: dict[str, "ZSet"] = {}
        for s in sources:
            dz = delta_of_source(s)
            if dz is None:
                continue
            changed[s] = dz.consolidate()
        for p in rec_parts:
            masked = _strip_string_literals(p)
            for s in changed:
                if len(re.findall(rf"\b{re.escape(s)}\b", masked, re.IGNORECASE)) > 1:
                    return None  # non-linear in a changed source
        has_retract = any(
            dz.df.where(F.col(WEIGHT) < 0).limit(1).count() > 0
            for dz in changed.values()
        )
        # Counting-based maintenance (preferred once initialized — it
        # must see EVERY step to keep derivation counts fresh; it
        # initializes lazily on the first retraction, so insert-only
        # histories keep the cheaper warm-start seed below).
        if view.name not in self._rec_count_failed and (
            view.name in self._rec_counts or has_retract
        ):
            snap = self._counting_recursive(view, base_parts, rec_parts, refs, changed)
            if snap is not None:
                return snap
        if has_retract:
            # retractions: delete-and-rederive instead of cold recompute
            return self._dred_recursive(view, base_parts, rec_parts, refs, changed, prev)

        spark = self.spark
        T = prev.to_multiset_df().localCheckpoint(eager=False)
        cols = T.columns

        def snapshot_df(s: str) -> DataFrame:
            if s in self.program.tables:
                return self._state[s].value().to_multiset_df()
            return self._view_state[s].value().to_multiset_df()

        seeds: list[DataFrame] = []
        T.createOrReplaceTempView(view.name)
        for p in base_parts:
            seeds.append(spark.sql(p).toDF(*cols))
        for p in rec_parts:
            for s in refs(p):
                if s not in changed:
                    continue
                changed[s].to_multiset_df().createOrReplaceTempView(s)
                try:
                    seeds.append(spark.sql(p).toDF(*cols))
                finally:
                    snapshot_df(s).createOrReplaceTempView(s)
        seed = seeds[0]
        for sdf in seeds[1:]:
            seed = seed.unionByName(sdf)
        delta0 = seed.subtract(T).localCheckpoint(eager=True)
        self.recursive_warm_steps += 1
        if delta0.isEmpty():
            T.createOrReplaceTempView(view.name)
            return T
        total = T.unionByName(delta0).localCheckpoint(eager=True)
        total = _recursive_fixpoint(
            spark, view, cols, total, delta0, rec_parts, self._max_iters
        )
        total.createOrReplaceTempView(view.name)
        return total

    # Largest derivation count counting-based recursion tolerates.
    # Weighted relations are re-expanded to multisets for SQL
    # evaluation, so a count of c costs c rows — past this, counting
    # pays more in explode volume than DRed's overdeletion costs.
    _COUNT_CAP = 128

    def _counting_recursive(self, view, base_parts, rec_parts, refs, changed):
        """Counting-based incremental recursion (Gupta–Mumick–
        Subrahmanian counting generalized to linear recursion; in DBSP
        terms — Budiu et al. VLDB'23 §6, the theory the reference
        implements — the nested circuit's Z-set weights ARE support
        counts).

        State: a Z-set per view whose weight of fact f = the number of
        derivation trees of f over the current sources. Under BAG
        semantics the fixpoint equation T = base ⊎ rec(S, T) has the
        derivation-count solution whenever the derivation graph is
        acyclic (every derivation has finite depth), and support(T)
        equals the set-semantics fixpoint. Every rec term is LINEAR in
        T and multilinear in its sources (enforced by the split
        guards), so the fixpoint's delta solves

            X = C + rec(S_new, X),
            C = Δbase + Σ triangular source-delta terms over OLD counts

        — one semi-naive loop over SIGNED count deltas maintains
        inserts and retractions uniformly. A retraction walks only the
        derivations that pass through deleted facts (O(|affected|));
        there is no overdelete-rederive detour and no blast-radius
        cliff. A fact leaves the view exactly when its count reaches 0.

        Divergence safety: cyclic derivations make the count fixpoint
        non-terminating, and multi-path DAGs can grow counts
        exponentially. Either symptom — no fixpoint within max_iters,
        any |count| > _COUNT_CAP, or a negative total count — abandons
        counting for this view permanently (_rec_count_failed) and
        falls back to DRed/cold: never wrong, only slower. Counting
        initializes lazily on the first retraction step (one bag
        fixpoint over the pre-delta world) and from then on must see
        every step to stay fresh. Returns the new snapshot DataFrame,
        or None on divergence."""
        spark = self.spark
        name = view.name
        cols = [c for c in self._view_state[name].value().df.columns if c != WEIGHT]
        all_srcs = {s for p in base_parts + rec_parts for s in refs(p)}

        def state_z(s: str) -> ZSet:
            if s in self.program.tables:
                return self._state[s].value()
            return self._view_state[s].value()

        NEW = {
            s: state_z(s).to_multiset_df().localCheckpoint(eager=False)
            for s in all_srcs
        }
        OLD = {
            s: (
                state_z(s).add(changed[s].neg()).consolidate()
                if s in changed
                else state_z(s)
            )
            .to_multiset_df()
            .localCheckpoint(eager=False)
            for s in all_srcs
        }

        def bind(mapping):
            for s, df in mapping.items():
                df.createOrReplaceTempView(s)

        def eval_parts_z(parts) -> "ZSet":
            acc = None
            for p in parts:
                z = ZSet.from_df(spark.sql(p).toDF(*cols))
                acc = z if acc is None else acc.add(z)
            return acc

        def fail():
            self._rec_count_failed.add(name)
            self._rec_counts.pop(name, None)
            return None

        def max_count(z: "ZSet") -> int:
            v = z.df.agg(F.max(F.abs(F.col(WEIGHT)))).collect()[0][0]
            return int(v or 0)

        def signed_halves(z: "ZSet"):
            pos = ZSet(z.df.where(F.col(WEIGHT) > 0))
            neg = ZSet(
                z.df.where(F.col(WEIGHT) < 0).withColumn(WEIGHT, -F.col(WEIGHT))
            )
            return ((pos, 1), (neg, -1))

        # Cycle detection: in a cyclic SCC the count fixpoint never
        # terminates, but per-round frontier multiplicities can stay
        # small — iteration-cap alone would burn max_iters Spark
        # rounds before bailing. A cycle's frontier keeps revisiting
        # the SAME facts, so: no new support rows for _STALL_K
        # consecutive rounds → treat as divergent. Legitimate DAGs can
        # have a few stalled rounds (a fact reachable at several
        # depths), bounded by their path-length spread; a false
        # positive only costs falling back to DRed.
        _STALL_K = 8

        class _Stall:
            def __init__(self, support0: DataFrame) -> None:
                self.seen = support0.localCheckpoint(eager=True)
                self.stalled = 0

            def advance(self, frontier_z: "ZSet") -> bool:
                """Record a round; True when the loop should bail."""
                new = (
                    frontier_z.df.drop(WEIGHT)
                    .distinct()
                    .subtract(self.seen)
                    .localCheckpoint(eager=True)
                )
                if new.isEmpty():
                    self.stalled += 1
                    return self.stalled >= _STALL_K
                self.stalled = 0
                self.seen = self.seen.union(new).localCheckpoint(eager=True)
                return False

        try:
            counts = self._rec_counts.get(name)
            if counts is None:
                # lazy init: derivation-count bag fixpoint over the
                # OLD (pre-delta) world; frontier_i = facts with
                # multiplicity = #derivation trees of rec-depth i
                bind(OLD)
                frontier = ZSet(
                    eval_parts_z(base_parts)
                    .consolidate()
                    .df.localCheckpoint(eager=True)
                )
                counts = frontier
                stall = _Stall(frontier.df.drop(WEIGHT).distinct())
                for _ in range(self._max_iters):
                    if frontier.df.isEmpty():
                        break
                    if max_count(frontier) > self._COUNT_CAP:
                        return fail()
                    frontier.to_multiset_df().createOrReplaceTempView(name)
                    frontier = ZSet(
                        eval_parts_z(rec_parts)
                        .consolidate()
                        .df.localCheckpoint(eager=True)
                    )
                    counts = ZSet(
                        counts.add(frontier)
                        .consolidate()
                        .df.localCheckpoint(eager=True)
                    )
                    if stall.advance(frontier):
                        return fail()
                else:
                    return fail()

            # --- seed C = Δbase + triangular source-delta terms
            bind(NEW)
            base_new = eval_parts_z(base_parts)
            bind(OLD)
            base_old = eval_parts_z(base_parts)
            C = base_new.add(base_old.neg())
            counts.to_multiset_df().createOrReplaceTempView(name)  # T_old
            for p in rec_parts:
                cs = sorted(s for s in refs(p) if s in changed)
                for j, s in enumerate(cs):
                    bind({t: NEW[t] for t in cs[:j]})
                    bind({t: OLD[t] for t in cs[j + 1 :]})
                    for half, sign in signed_halves(changed[s]):
                        if half.df.isEmpty():
                            continue
                        bind({s: half.to_multiset_df()})
                        z = ZSet.from_df(spark.sql(p).toDF(*cols))
                        C = C.add(z if sign > 0 else z.neg())
                    bind({s: OLD[s]})
            C = ZSet(C.consolidate().df.localCheckpoint(eager=True))

            # --- fixpoint on signed count deltas: X = C + rec(S_new, X)
            bind(NEW)
            X = C
            frontier = C
            stall = _Stall(C.df.drop(WEIGHT).distinct())
            for _ in range(self._max_iters):
                if frontier.df.isEmpty():
                    break
                if max_count(frontier) > self._COUNT_CAP:
                    return fail()
                nxt = None
                for half, sign in signed_halves(frontier):
                    if half.df.isEmpty():
                        continue
                    half.to_multiset_df().createOrReplaceTempView(name)
                    z = eval_parts_z(rec_parts)
                    z = z if sign > 0 else z.neg()
                    nxt = z if nxt is None else nxt.add(z)
                frontier = ZSet(nxt.consolidate().df.localCheckpoint(eager=True))
                X = X.add(frontier)
                if stall.advance(frontier):
                    return fail()
            else:
                return fail()

            counts_new = ZSet(
                counts.add(X).consolidate().df.localCheckpoint(eager=True)
            )
            lo, hi = counts_new.df.agg(
                F.min(WEIGHT), F.max(WEIGHT)
            ).collect()[0]
            if lo is not None and lo < 0:
                return fail()  # inconsistent deletes — never go silent
            if hi is not None and hi > self._COUNT_CAP:
                return fail()
            self._rec_counts[name] = counts_new
            self.recursive_counting_steps += 1
            return counts_new.distinct().df.drop(WEIGHT)
        finally:
            bind(NEW)

    def _dred_recursive(self, view, base_parts, rec_parts, refs, changed, prev):
        """Delete-and-rederive (DRed, Gupta-Mumick-Subrahmanian) for a
        recursive view under retractions — the classic incremental
        algorithm the naive cold recompute replaces:

        1. OVERDELETE: seed with base facts lost (base_old − base_new)
           plus every recursive term evaluated over the OLD world with
           one changed source bound to its deleted rows; propagate
           through the recursion (view bound to the frontier, sources
           OLD) — everything whose SOME derivation used a deleted fact.
        2. REDERIVE: facts in the overdeleted set that still have a
           derivation in the NEW world (from surviving base facts or
           surviving view facts) are put back, to fixpoint within the
           overdeleted set.
        3. INSERT: the ordinary warm-start seed (new base facts +
           recursive terms over inserted source rows) finishes mixed
           insert/delete steps.

        Cost ∝ facts whose derivations are touched, not |fixpoint|.
        Any loop exhausting max_iters falls back to cold recompute
        (returns None); temp views are re-bound to the NEW snapshots
        on every exit path so the fallback sees correct state."""
        spark = self.spark
        T = prev.to_multiset_df().localCheckpoint(eager=False)
        cols = T.columns
        all_srcs = {s for p in base_parts + rec_parts for s in refs(p)}

        def state_z(s: str) -> ZSet:
            if s in self.program.tables:
                return self._state[s].value()
            return self._view_state[s].value()

        def signed_rows(s: str, sign: int) -> "DataFrame | None":
            """Deleted (sign<0) / inserted rows of s as a positive
            multiset, or None when that side is empty — built once per
            (source, side), not per recursive term."""
            dz = changed.get(s)
            if dz is None:
                return None
            part = dz.df.where(
                F.col(WEIGHT) < 0 if sign < 0 else F.col(WEIGHT) > 0
            )
            if sign < 0:
                part = part.withColumn(WEIGHT, -F.col(WEIGHT))
            df = ZSet(part).to_multiset_df().localCheckpoint(eager=True)
            return None if df.isEmpty() else df

        deleted_of = {s: signed_rows(s, -1) for s in changed}
        inserted_of = {s: signed_rows(s, 1) for s in changed}
        # snapshots feed every round of every phase — checkpoint so the
        # consolidate+explode subtrees run once, not per Spark job
        NEW = {
            s: state_z(s).to_multiset_df().localCheckpoint(eager=False)
            for s in all_srcs
        }
        OLD = {
            s: (
                state_z(s).add(changed[s].neg()).consolidate()
                if s in changed
                else state_z(s)
            )
            .to_multiset_df()
            .localCheckpoint(eager=False)
            for s in all_srcs
        }

        def bind(mapping):
            for s, df in mapping.items():
                df.createOrReplaceTempView(s)

        def union_eval(parts) -> DataFrame:
            acc = None
            for p in parts:
                pdf = spark.sql(p).toDF(*cols)
                acc = pdf if acc is None else acc.unionByName(pdf)
            return acc

        try:
            # --- phase 0: base terms in both worlds
            bind(NEW)
            base_new = union_eval(base_parts).distinct().localCheckpoint(eager=True)
            bind(OLD)
            base_old = union_eval(base_parts).distinct()

            # --- phase 1: overdelete
            d_parts = [base_old.subtract(base_new)]
            T.createOrReplaceTempView(view.name)
            for p in rec_parts:
                for s in refs(p):
                    deleted = deleted_of.get(s)
                    if deleted is None:
                        continue
                    bind({s: deleted})
                    try:
                        d_parts.append(spark.sql(p).toDF(*cols))
                    finally:
                        bind({s: OLD[s]})
            D = d_parts[0]
            for pdf in d_parts[1:]:
                D = D.unionByName(pdf)
            D = D.intersect(T).localCheckpoint(eager=True)
            # DRed pays off when deletions invalidate a small slice of
            # the fixpoint (tree-like derivations). On dense graphs a
            # few deleted edges can overdelete nearly everything —
            # rederiving it all costs more than recomputing cold — so
            # on non-trivial fixpoints bail once the overdeleted set
            # passes half (tiny fixpoints skip the check: either path
            # is cheap, and the blast-radius ratio is meaningless at
            # a handful of facts).
            t_count = T.count()
            frontier = D
            for _ in range(self._max_iters):
                if frontier.isEmpty():
                    break
                if t_count > 1000 and D.count() > 0.5 * t_count:
                    return None  # overdeletion blast radius too large
                frontier.createOrReplaceTempView(view.name)
                nxt = (
                    union_eval(rec_parts)
                    .intersect(T)
                    .subtract(D)
                    .localCheckpoint(eager=True)
                )
                if nxt.isEmpty():
                    break
                D = D.unionByName(nxt).localCheckpoint(eager=True)
                frontier = nxt
            else:
                return None  # overdeletion didn't settle: recompute cold

            # --- phase 2: rederive within D over the NEW world
            bind(NEW)
            T1 = T.subtract(D).localCheckpoint(eager=True)
            T1.createOrReplaceTempView(view.name)
            seed = base_new.intersect(D)
            seed = seed.unionByName(union_eval(rec_parts).intersect(D))
            seed = seed.distinct().localCheckpoint(eager=True)
            total = T1
            delta = seed
            for _ in range(self._max_iters):
                if delta.isEmpty():
                    break
                total = total.unionByName(delta).localCheckpoint(eager=True)
                delta.createOrReplaceTempView(view.name)
                delta = (
                    union_eval(rec_parts)
                    .intersect(D)
                    .subtract(total)
                    .localCheckpoint(eager=True)
                )
            else:
                return None

            # --- phase 3: insertions (mixed steps), ordinary warm seed
            total.createOrReplaceTempView(view.name)
            i_parts = [base_new]
            for p in rec_parts:
                for s in refs(p):
                    inserted = inserted_of.get(s)
                    if inserted is None:
                        continue
                    bind({s: inserted})
                    try:
                        i_parts.append(spark.sql(p).toDF(*cols))
                    finally:
                        bind({s: NEW[s]})
            ins = i_parts[0]
            for pdf in i_parts[1:]:
                ins = ins.unionByName(pdf)
            delta3 = ins.subtract(total).localCheckpoint(eager=True)
            if not delta3.isEmpty():
                total = total.unionByName(delta3).localCheckpoint(eager=True)
                try:
                    total = _recursive_fixpoint(
                        spark, view, cols, total, delta3, rec_parts, self._max_iters
                    )
                except RuntimeError:
                    return None  # insert fixpoint didn't settle: recompute cold
            self.recursive_dred_steps += 1
            total.createOrReplaceTempView(view.name)
            return total
        finally:
            bind(NEW)
