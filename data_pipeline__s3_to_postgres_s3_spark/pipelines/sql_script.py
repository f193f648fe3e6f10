"""SQL-script transform executor — SURVEY.md §2.1 S5 at full fidelity.

The reference ships its transform stage as ONE multi-statement Postgres
script executed verbatim through SQLAlchemy (extract_load_transform_data_
pipeline.py.py:122-134 reads /app/sql/transformation.sql and runs it). The
engine's primary transform path re-expresses those statements as DataFrame
operators (pipelines/elt.py:96-110) — but a migrating user's first artifact
is their OWN .sql script, so this module runs such scripts directly:

- statements are split with a quote/comment-aware lexer;
- a NARROW, documented Postgres dialect subset is rewritten to Spark SQL
  (each rule pinned in tests/test_sql_script.py);
- warehouse-shaped statements (CREATE TABLE [IF NOT EXISTS], TRUNCATE,
  INSERT INTO … SELECT, including Postgres's WITH … INSERT form) are
  interpreted against an in-session catalog of temp views;
- every query still goes through ``spark.sql`` — Catalyst owns the physical
  plan, so pushdown / broadcast / AQE all apply and nothing is interpreted
  row-by-row. At 100 TB the script path and the DataFrame path produce the
  same plans for the same semantics.

Dialect subset translated (anything outside it is passed through verbatim
and will fail loudly in Spark's parser, never silently):
- ``expr::TYPE``                → ``CAST(expr AS TYPE)``
- ``CURRENT_DATE``              → pinned ``DATE '<run_date>'`` when given
  (the reference pins run semantics via its cron schedule; tests pin dates)
- ``CAST(x AS DATE) - CAST(y AS DATE)`` → ``datediff(x, y)`` — Postgres
  date subtraction yields an integer, Spark 4 an INTERVAL DAY that breaks
  ``>= n`` predicates
- ``TO_DATE(x, 'YYYY-MM-DD')``  → Spark pattern letters (``yyyy-MM-dd``)
- ``CAST(x AS FLOAT)``          → ``AS DOUBLE`` (Postgres FLOAT is float8)
- ``schema.table`` for declared schemas → registered view names, with bare
  names also registered (Postgres search_path behavior: the reference's
  transformation.sql:66 joins bare ``orders`` meaning ``staging.orders``)
- ORDER BY inside a subquery/CTE with no LIMIT/OFFSET/FETCH is dropped —
  semantically void in both engines (rows feed an unordered parent), and
  Spark's analyzer rejects the reference's ``ORDER BY COUNT(*)`` variant
  (transformation.sql:110) when the block also computes a window. Window
  ``OVER (ORDER BY …)`` clauses are untouched.

INSERT coercion mirrors Postgres: the SELECT's columns are renamed
positionally to the target column list (or the CREATE TABLE order) and cast
to the declared column types — this is how the reference's text
``working_day`` lands in a BOOL column (transformation.sql:75-99).
"""

from __future__ import annotations

import datetime as dt
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import corpus_id, memo
from ..config import DEFAULT_CONFIG, EngineConfig

DEFAULT_SEARCH_SCHEMAS = ("staging", "analytics", "if_common")

# ---------------------------------------------------------------------------
# Lexing: statement split + top-level scans (quote/comment aware)
# ---------------------------------------------------------------------------


def _scan(text: str):
    """Yield (index, char, depth, in_code) — depth is paren nesting, in_code
    False inside string literals and comments."""
    i, n = 0, len(text)
    depth = 0
    while i < n:
        ch = text[i]
        if ch == "'":  # standard SQL string, '' escapes
            j = i + 1
            while j < n:
                if text[j] == "'" and j + 1 < n and text[j + 1] == "'":
                    j += 2
                elif text[j] == "'":
                    break
                else:
                    j += 1
            for k in range(i, min(j + 1, n)):
                yield k, text[k], depth, False
            i = j + 1
            continue
        if ch == '"':  # quoted identifier
            j = text.find('"', i + 1)
            j = n - 1 if j == -1 else j
            for k in range(i, j + 1):
                yield k, text[k], depth, False
            i = j + 1
            continue
        if ch == "-" and text[i : i + 2] == "--":
            j = text.find("\n", i)
            j = n if j == -1 else j
            for k in range(i, j):
                yield k, text[k], depth, False
            i = j
            continue
        if ch == "/" and text[i : i + 2] == "/*":
            j = text.find("*/", i)
            j = n - 2 if j == -1 else j
            for k in range(i, j + 2):
                yield k, text[k], depth, False
            i = j + 2
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(0, depth - 1)
        yield i, ch, depth - (1 if ch == "(" else 0), True
        i += 1


def split_statements(script: str) -> list[str]:
    """Split a multi-statement script on top-level ``;`` — quote- and
    comment-aware, so semicolons in literals/comments don't split."""
    out, start = [], 0
    for i, ch, _depth, in_code in _scan(script):
        if in_code and ch == ";":
            stmt = script[start:i].strip()
            if stmt:
                out.append(stmt)
            start = i + 1
    tail = script[start:].strip()
    if tail:
        out.append(tail)
    return out


def _strip_leading_comments(stmt: str) -> str:
    """Comments written after a ``;`` attach to the NEXT statement when
    splitting; peel them so the ^-anchored classifiers see the keyword."""
    while True:
        stmt = stmt.lstrip()
        if stmt.startswith("--"):
            nl = stmt.find("\n")
            stmt = "" if nl == -1 else stmt[nl + 1 :]
        elif stmt.startswith("/*"):
            end = stmt.find("*/")
            stmt = "" if end == -1 else stmt[end + 2 :]
        else:
            return stmt


def _find_top_level(stmt: str, pattern: re.Pattern) -> re.Match | None:
    """First match of `pattern` that starts at paren depth 0 outside
    strings/comments."""
    code_at = {}
    for i, _ch, depth, in_code in _scan(stmt):
        code_at[i] = (depth, in_code)
    for m in pattern.finditer(stmt):
        depth, in_code = code_at.get(m.start(), (0, True))
        if depth == 0 and in_code:
            return m
    return None


# ---------------------------------------------------------------------------
# Dialect translation (Postgres subset → Spark SQL)
# ---------------------------------------------------------------------------

_COLON_CAST = re.compile(r"([A-Za-z_][\w.]*|'[^']*')\s*::\s*([A-Za-z_]+)")
_DATE_DIFF = re.compile(
    r"CAST\s*\(\s*([^()]+?)\s+AS\s+DATE\s*\)\s*-\s*CAST\s*\(\s*([^()]+?)\s+AS\s+DATE\s*\)",
    re.IGNORECASE,
)
_TO_DATE_FMT = re.compile(
    r"\b(TO_DATE|TO_TIMESTAMP)\s*\(\s*([^,()]+?)\s*,\s*'([^']*)'\s*\)", re.IGNORECASE
)
_AS_FLOAT = re.compile(r"\bAS\s+FLOAT\b", re.IGNORECASE)
_CURRENT_DATE = re.compile(r"\bCURRENT_DATE\b", re.IGNORECASE)

# Postgres → Spark datetime pattern letters (longest first).
_PG_FMT = [
    ("YYYY", "yyyy"), ("YY", "yy"), ("MM", "MM"), ("DD", "dd"),
    ("HH24", "HH"), ("HH12", "hh"), ("MI", "mm"), ("SS", "ss"),
]


def _translate_format(fmt: str) -> str:
    out, i = [], 0
    while i < len(fmt):
        for pg, sp in _PG_FMT:
            if fmt[i : i + len(pg)].upper() == pg:
                out.append(sp)
                i += len(pg)
                break
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


_ORDER_BY = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)
_ORDER_TERMINATOR = re.compile(r"\bLIMIT\b|\bOFFSET\b|\bFETCH\b", re.IGNORECASE)


def _drop_void_subquery_order_by(sql: str) -> str:
    """Remove ORDER BY clauses that sort a subquery/CTE body without a
    LIMIT/OFFSET/FETCH — void in Postgres and Spark alike (the parent
    consumes an unordered bag), and Spark's analyzer rejects some forms a
    grouped+windowed block can produce. A scope counts as a subquery iff
    its opening paren is directly followed by SELECT/WITH, so window
    ``OVER (… ORDER BY …)`` parens are never touched."""
    info = list(_scan(sql))
    # For each position, innermost open-paren index; parallel stack replay.
    opens: list[int] = []  # positions of currently-open parens
    paren_at: dict[int, int | None] = {}
    for i, ch, _depth, in_code in info:
        if in_code and ch == "(":
            opens.append(i)
        paren_at[i] = opens[-1] if opens else None
        if in_code and ch == ")" and opens:
            opens.pop()

    def is_query_scope(open_pos: int) -> bool:
        m = re.match(r"\s*(SELECT|WITH)\b", sql[open_pos + 1 :], re.IGNORECASE)
        return m is not None

    out = sql
    # Process right-to-left so earlier spans stay valid after excisions.
    for m in reversed(list(_ORDER_BY.finditer(sql))):
        start = m.start()
        scope = paren_at.get(start)
        if scope is None or not is_query_scope(scope):
            continue
        depth_here = next(d for i, _c, d, _ic in info if i == start)
        # Scan forward for the scope close or an ORDER-consuming clause.
        end = None
        keep = False
        for i, ch, d, in_code in info:
            if i <= start or not in_code:
                continue
            if d < depth_here and ch == ")":
                end = i
                break
            if d == depth_here:
                t = _ORDER_TERMINATOR.match(sql, i)
                if t and t.start() == i:
                    keep = True
                    end = i
                    break
        if keep or end is None:
            continue
        out = out[:start] + out[end:]
    return out


def _guarded_sub(
    pattern: re.Pattern, repl, sql: str, allow_literal_start: bool = False
) -> str:
    """Apply `pattern` only where the match STARTS in a code region —
    string-literal and comment interiors pass through verbatim. With
    `allow_literal_start`, a match may also start at a literal's opening
    quote (the ``'…'::TYPE`` form, where the operand IS the literal).
    Flags are recomputed per pass because substitutions shift positions."""
    in_code = {}
    lit_start = set()
    prev_code = True
    for i, ch, _d, ic in _scan(sql):
        in_code[i] = ic
        if not ic and prev_code and ch == "'":
            lit_start.add(i)
        prev_code = ic

    def guard(m: re.Match) -> str:
        s = m.start()
        if in_code.get(s, True) or (allow_literal_start and s in lit_start):
            return repl(m)
        return m.group(0)

    return pattern.sub(guard, sql)


def translate(
    sql: str,
    run_date: dt.date | None = None,
    search_schemas: tuple[str, ...] = DEFAULT_SEARCH_SCHEMAS,
) -> str:
    """Rewrite the supported Postgres dialect subset to Spark SQL (see
    module docstring for the rule list). Every rule is literal/comment-safe
    via _guarded_sub — ``SELECT 'staging.orders'`` survives verbatim."""
    sql = _drop_void_subquery_order_by(sql)
    sql = _guarded_sub(
        _COLON_CAST,
        lambda m: f"CAST({m.group(1)} AS {m.group(2)})",
        sql,
        allow_literal_start=True,
    )
    if run_date is not None:
        sql = _guarded_sub(
            _CURRENT_DATE, lambda _m: f"DATE '{run_date.isoformat()}'", sql
        )
    sql = _guarded_sub(
        _DATE_DIFF,
        lambda m: f"datediff(CAST({m.group(1)} AS DATE), CAST({m.group(2)} AS DATE))",
        sql,
    )
    # Cast the input to STRING: Spark's ParseToDate wants a string when a
    # format is given, while Postgres TO_DATE tolerates date-typed input.
    sql = _guarded_sub(
        _TO_DATE_FMT,
        lambda m: (
            f"{m.group(1)}(CAST({m.group(2)} AS STRING), "
            f"'{_translate_format(m.group(3))}')"
        ),
        sql,
    )
    sql = _guarded_sub(_AS_FLOAT, lambda _m: "AS DOUBLE", sql)
    schema_alt = "|".join(search_schemas)
    schema_re = re.compile(
        rf"\b({schema_alt})\s*\.\s*([A-Za-z_]\w*)", re.IGNORECASE
    )
    return _guarded_sub(
        schema_re, lambda m: f"{m.group(1).lower()}_{m.group(2).lower()}", sql
    )


# ---------------------------------------------------------------------------
# DDL parsing
# ---------------------------------------------------------------------------

_CREATE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_TRUNCATE = re.compile(r"^\s*TRUNCATE\s+(?:TABLE\s+)?([\w.]+)\s*$", re.IGNORECASE)
_INSERT = re.compile(
    r"\bINSERT\s+INTO\s+([\w.]+)\s*(\([^)]*\))?", re.IGNORECASE
)
_TABLE_CONSTRAINT = re.compile(
    r"^\s*(PRIMARY|UNIQUE|FOREIGN|CHECK|CONSTRAINT)\b", re.IGNORECASE
)

# Postgres column type → Spark cast target. FLOAT is float8 (double) in
# Postgres; REAL is the 4-byte one.
_TYPE_MAP = {
    "INT": "int", "INTEGER": "int", "SMALLINT": "smallint", "BIGINT": "bigint",
    "SERIAL": "int", "BIGSERIAL": "bigint",
    "FLOAT": "double", "FLOAT8": "double", "DOUBLE": "double", "REAL": "float",
    "FLOAT4": "float", "TEXT": "string", "VARCHAR": "string", "CHAR": "string",
    "DATE": "date", "TIMESTAMP": "timestamp", "TIMESTAMPTZ": "timestamp",
    "BOOL": "boolean", "BOOLEAN": "boolean",
}


def _split_top_commas(body: str) -> list[str]:
    parts, start = [], 0
    for i, ch, depth, in_code in _scan(body):
        if in_code and depth == 0 and ch == ",":
            parts.append(body[start:i])
            start = i + 1
    parts.append(body[start:])
    return [p.strip() for p in parts if p.strip()]


def parse_create_columns(body: str) -> list[tuple[str, str | None]]:
    """(column, spark_cast_type|None) in declaration order; table-level
    constraints are skipped, NUMERIC/DECIMAL keep precision."""
    cols: list[tuple[str, str | None]] = []
    for piece in _split_top_commas(body):
        if _TABLE_CONSTRAINT.match(piece):
            continue
        m = re.match(r'\s*"?([A-Za-z_]\w*)"?\s+([A-Za-z_]\w*)(\s*\(\s*(\d+)\s*(,\s*\d+)?\s*\))?', piece)
        if not m:
            continue
        name, typ, _paren, p1, p2 = m.groups()
        upper = typ.upper()
        if upper in ("NUMERIC", "DECIMAL"):
            spark_t = f"decimal({p1},{(p2 or ', 0').lstrip(', ')})" if p1 else "decimal(38,18)"
        elif upper == "DOUBLE":  # DOUBLE PRECISION
            spark_t = "double"
        else:
            spark_t = _TYPE_MAP.get(upper)
        cols.append((name.lower(), spark_t))
    return cols


# ---------------------------------------------------------------------------
# Runner
# ---------------------------------------------------------------------------


@dataclass
class ScriptResult:
    tables: dict[str, DataFrame] = field(default_factory=dict)
    selects: list[DataFrame] = field(default_factory=list)


class SqlScriptRunner:
    """Execute a multi-statement warehouse transform script against temp
    views. State (tables written by INSERT) lives in the session catalog as
    temp views, so later statements — and the caller — can read it."""

    def __init__(
        self,
        spark: SparkSession,
        run_date: dt.date | None = None,
        search_schemas: tuple[str, ...] = DEFAULT_SEARCH_SCHEMAS,
    ):
        self.spark = spark
        self.run_date = run_date
        self.search_schemas = search_schemas
        self.ddl: dict[str, list[tuple[str, str | None]]] = {}
        self.tables: dict[str, DataFrame] = {}

    def _view(self, qualified: str) -> str:
        return qualified.replace(".", "_").lower()

    def register(self, qualified: str, df: DataFrame, search_path: bool = True) -> None:
        """Register an input frame under ``schema.table``. With
        ``search_path`` the bare table name is registered too — the
        reference script joins bare ``orders`` for ``staging.orders``
        (transformation.sql:66), exactly Postgres search_path behavior."""
        df.createOrReplaceTempView(self._view(qualified))
        if search_path and "." in qualified:
            df.createOrReplaceTempView(qualified.split(".", 1)[1].lower())

    def run_script(self, script: str) -> ScriptResult:
        result = ScriptResult()
        for stmt in split_statements(script):
            self._execute(stmt, result)
        result.tables = dict(self.tables)
        return result

    # -- statement dispatch -------------------------------------------------

    def _execute(self, stmt: str, result: ScriptResult) -> None:
        stmt = _strip_leading_comments(stmt)
        m = _CREATE.match(stmt)
        if m:
            name = m.group(1).lower()
            # IF NOT EXISTS semantics: an existing table keeps its DDL.
            self.ddl.setdefault(name, parse_create_columns(m.group(2)))
            return
        m = _TRUNCATE.match(stmt)
        if m:
            self.tables.pop(m.group(1).lower(), None)
            return
        ins = _find_top_level(stmt, _INSERT)
        if ins is not None:
            self._insert(stmt, ins)
            return
        # Plain query (SELECT / WITH … SELECT).
        result.selects.append(self.spark.sql(self._translate(stmt)))

    def _translate(self, sql: str) -> str:
        return translate(sql, self.run_date, self.search_schemas)

    def _insert(self, stmt: str, ins: re.Match) -> None:
        target = ins.group(1).lower()
        col_list = None
        if ins.group(2):
            col_list = [c.strip().lower() for c in ins.group(2)[1:-1].split(",")]
        # Postgres allows WITH … INSERT INTO t SELECT …: excise the INSERT
        # clause, leaving a pure query for spark.sql.
        query = (stmt[: ins.start()] + stmt[ins.end() :]).strip()
        df = self.spark.sql(self._translate(query))

        ddl = self.ddl.get(target)
        names = col_list or (
            [c for c, _t in ddl] if ddl else list(df.columns)
        )
        if len(names) != len(df.columns):
            raise ValueError(
                f"INSERT INTO {target}: query produces {len(df.columns)} "
                f"columns, target expects {len(names)}"
            )
        df = df.toDF(*names)
        if ddl:  # Postgres insert coercion: cast to declared column types
            types = dict(ddl)
            df = df.select(
                *[
                    F.col(c).cast(types[c]) if types.get(c) else F.col(c)
                    for c in df.columns
                ]
            )
            # Emit in DDL order when a partial column list was given.
            ordered = [c for c, _t in ddl if c in set(df.columns)]
            if set(ordered) == set(df.columns):
                df = df.select(*ordered)

        existing = self.tables.get(target)
        df = existing.unionByName(df) if existing is not None else df
        self.tables[target] = df
        df.createOrReplaceTempView(self._view(target))


# ---------------------------------------------------------------------------
# Driver-gated script-path queries (S5 twins of the DataFrame transforms)
# ---------------------------------------------------------------------------

SCRIPT_PATH = os.path.join(
    os.path.dirname(__file__), "..", "sql", "analytics_transform.sql"
)

def script_transform_tables(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> dict[str, DataFrame]:
    """The three driver-gated twins each need the same script run;
    analysis of the 3-statement script costs ~1s of driver time, so the
    LAZY table plans are memoized per (corpus_id of every table, cfg).
    Plans execute per query as usual — only the parse/analyze work is
    shared, and a corpus rewritten in place rebuilds them."""
    return memo(
        "sql_script_tables",
        corpus_id(sf_dir, "*.parquet"),
        (repr(cfg),),
        lambda: _script_transform_tables(spark, sf_dir, cfg),
    )


def _script_transform_tables(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> dict[str, DataFrame]:
    """Run the engine's own analytics_transform.sql over the ref-mapped
    views. Same semantics (and DuckDB oracles) as the DataFrame operators
    agg_public_holiday / agg_shipments / best_performing_product — proving
    the script path and the operator path agree is the S5 migration
    guarantee. Everything stays lazy: the runner registers views and builds
    plans; no action happens here."""
    from ..catalog import (
        dim_dates,
        dim_products,
        ref_orders,
        ref_reviews,
        ref_shipments,
    )

    frames = {
        "staging.orders": ref_orders(spark, sf_dir, cfg),
        "staging.shipment_deliveries": ref_shipments(spark, sf_dir),
        "staging.reviews": ref_reviews(spark, sf_dir, cfg),
        "if_common.dim_dates": dim_dates(spark, cfg),
        "if_common.dim_products": dim_products(spark, sf_dir),
    }
    with open(SCRIPT_PATH, encoding="utf-8") as fh:
        script = fh.read().format(
            holiday_year=cfg.holiday_year, as_of_date=cfg.as_of_date.isoformat()
        )
    runner = SqlScriptRunner(spark, run_date=cfg.run_date)
    for qualified, df in frames.items():
        runner.register(qualified, df)
    return runner.run_script(script).tables


def sql_script_public_holiday(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    return script_transform_tables(spark, sf_dir, cfg)["analytics.agg_public_holiday"]


def sql_script_shipments(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    return script_transform_tables(spark, sf_dir, cfg)["analytics.agg_shipments"]


def sql_script_best_product(
    spark: SparkSession, sf_dir: str, cfg: EngineConfig = DEFAULT_CONFIG
) -> DataFrame:
    return script_transform_tables(spark, sf_dir, cfg)[
        "analytics.best_performing_product"
    ]
