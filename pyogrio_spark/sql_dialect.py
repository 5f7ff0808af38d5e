"""OGRSQL / SQLITE dialect support for the ``sql=`` read path.

The reference executes user SQL through GDAL in the OGRSQL or
SQLite/Spatialite dialects (reference pyogrio/_io.pyx:380-423
``execute_sql``; dialect semantics raw.py:136-148). This engine's
native dialect is Spark SQL (``sql_dialect=None`` — a documented
divergence), so a user porting a pyogrio ``sql=`` call hits dialect
friction immediately. This module closes that gap for the documented
OGRSQL operator subset and the reference's canonical Spatialite
spatial-join example:

* ``OGRSQL`` — ``SELECT [DISTINCT] <list> FROM <layer> [WHERE ...]
  [ORDER BY ...] [LIMIT n [OFFSET m]]`` with ``= <> != < > <= >= IN BETWEEN
  LIKE IS [NOT] NULL AND OR NOT``, arithmetic, and the summary
  aggregates ``COUNT/MIN/MAX/SUM/AVG``. Divergences from Spark SQL
  that the translator normalizes:

  - **Identifier resolution is case-blind** (the reference's own tests
    query ``POP_EST``/``ISO_A3`` against lowercase fields —
    tests/test_geopandas_io.py:1755-1767); identifiers are rewritten
    to the layer's actual column names.
  - **LIKE is case-insensitive in OGRSQL** (GDAL swq semantics) —
    translated to Spark's ``ILIKE``.
  - **Geometry cannot be selected but is returned anyway**: a plain
    column select implicitly appends the geometry column (reference
    tests/test_geopandas_io.py:1712-1719 asserts 4 result columns for
    a 3-column select). ``DISTINCT`` and aggregate selects return no
    geometry, matching GDAL.
  - Unknown fields raise ``DataLayerError('"x" not recognised as an
    available field')``; malformed statements raise
    ``DataLayerError('SQL Expression Parsing Error: ...')`` — the
    reference's error strings (tests/test_geopandas_io.py:1772-1782).

* ``SQLITE`` / ``INDIRECT_SQLITE`` — the canonical correlated
  ST_Intersects neighbor-count query
  (reference docs/source/introduction.md:291-307) is recognized and
  rewritten to the engine's distributed intersects theta-join
  (cell-cover equi-join + exact refine + one aggregation) — the
  100 TB plan for what GDAL executes as an O(n²) nested loop.
  Statements with no spatial function run as Spark SQL against the
  layer: the FROM/JOIN table tokens naming it are pointed at an
  internal view (string literals untouched, no view registered under
  the user-visible layer name); SQLITE core SQL is close enough to
  ANSI for the documented subset. Any other Spatialite
  function raises ``DataLayerError`` naming it (documented
  divergence).

Scale note: everything here is a *driver-side string rewrite* — the
emitted plan is ordinary Catalyst SQL over the already-distributed
layer DataFrame, so pushdown/pruning/AQE apply unchanged, and the one
spatial rewrite lands on the engine's bounded-candidate join instead
of a nested loop.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyogrio_spark.errors import DataLayerError

__all__ = ["apply_sql_dialect", "translate_ogrsql"]

GEOMETRY_COL = "geometry_wkb"

_TOKEN_RE = re.compile(
    r"""('(?:[^']|'')*')              # string literal
      | (\d+\.\d*|\.\d+|\d+)          # number
      | ([A-Za-z_][A-Za-z_0-9]*)      # identifier / keyword
      | ("(?:[^"]|"")*")              # quoted identifier
      | (<>|!=|<=|>=|\|\|)
      | ([=<>(),.*+\-/%])
    """,
    re.X,
)

_KEYWORDS = {
    "SELECT", "DISTINCT", "FROM", "WHERE", "ORDER", "BY", "ASC", "DESC",
    "LIMIT", "OFFSET", "AND", "OR", "NOT", "IN", "LIKE", "IS", "NULL",
    "BETWEEN", "AS", "TRUE", "FALSE",
}
_AGGREGATES = {"COUNT", "MIN", "MAX", "SUM", "AVG"}
_OPERATORS = {"=", "<>", "!=", "<=", ">=", "<", ">", "(", ")", ",", "*",
              "+", "-", "/", "%", "||", "."}


def _tokenize(sql: str) -> list[str]:
    toks: list[str] = []
    i, s = 0, sql.strip()
    while i < len(s):
        if s[i].isspace():
            i += 1
            continue
        m = _TOKEN_RE.match(s, i)
        if m is None:
            raise DataLayerError(
                f"SQL Expression Parsing Error: unexpected character {s[i]!r}"
            )
        toks.append(m.group(0))
        i = m.end()
    return toks


def _kw_positions(toks: list[str]) -> dict[str, int]:
    """Top-level (paren-depth-0) clause keyword positions."""
    depth, pos = 0, {}
    for i, t in enumerate(toks):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0:
            u = t.upper()
            if u in ("FROM", "WHERE", "LIMIT") and u not in pos:
                pos[u] = i
            elif (
                u == "ORDER"
                and i + 1 < len(toks)
                and toks[i + 1].upper() == "BY"
                and "ORDER" not in pos
            ):
                pos["ORDER"] = i
    return pos


def _split_commas(toks: list[str]) -> list[list[str]]:
    out, cur, depth = [], [], 0
    for t in toks:
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        if t == "," and depth == 0:
            out.append(cur)
            cur = []
        else:
            cur.append(t)
    if cur:
        out.append(cur)
    return out


def _is_ident(tok: str) -> bool:
    return bool(re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", tok)) and tok.upper() not in _KEYWORDS


def _unquote(tok: str) -> str:
    if tok.startswith('"') and tok.endswith('"'):
        return tok[1:-1].replace('""', '"')
    return tok


def _resolve(tok: str, colmap: dict[str, str]) -> str:
    name = _unquote(tok)
    hit = colmap.get(name.lower())
    if hit is None:
        raise DataLayerError(f'"{name}" not recognised as an available field.')
    return hit


def _rewrite_predicate(toks: list[str], colmap: dict[str, str]) -> str:
    """Validate + case-normalize a WHERE/ORDER expression: identifiers
    resolve case-blind to real columns, LIKE becomes ILIKE (OGRSQL LIKE
    is case-insensitive), anything outside the documented operator
    subset is a parse error."""
    out: list[str] = []
    for i, t in enumerate(toks):
        u = t.upper()
        if t.startswith("'") or re.fullmatch(r"\d+\.\d*|\.\d+|\d+", t):
            out.append(t)
        elif t.startswith('"') or _is_ident(t):
            # a call-shaped identifier (ident followed by '(') is not in
            # the OGRSQL scalar subset
            if i + 1 < len(toks) and toks[i + 1] == "(":
                raise DataLayerError(
                    f"SQL Expression Parsing Error: function {t!r} not supported in OGRSQL dialect subset"
                )
            out.append(f"`{_resolve(t, colmap)}`")
        elif u == "LIKE":
            out.append("ILIKE")
        elif u in _KEYWORDS:
            out.append(u)
        elif t in _OPERATORS:
            out.append(t)
        else:
            raise DataLayerError(f"SQL Expression Parsing Error: near {t!r}")
    return " ".join(out)


def translate_ogrsql(
    sql: str,
    columns: list[str],
    layer_name: str,
    view_name: str,
    geometry_col: str = GEOMETRY_COL,
) -> tuple[str, list[str] | None]:
    """OGRSQL statement -> (Spark SQL statement over ``view_name``,
    ORDER BY terms as [(column, ascending), ...] or None). Raises
    DataLayerError on anything outside the documented subset."""
    toks = _tokenize(sql)
    if not toks or toks[0].upper() != "SELECT":
        raise DataLayerError("SQL Expression Parsing Error: expected SELECT")
    pos = _kw_positions(toks)
    if "FROM" not in pos:
        raise DataLayerError("SQL Expression Parsing Error: expected FROM")
    colmap = {c.lower(): c for c in columns}

    # --- FROM: a single table name that must match the layer
    from_end = min(
        [p for k, p in pos.items() if k != "FROM" and p > pos["FROM"]],
        default=len(toks),
    )
    from_toks = toks[pos["FROM"] + 1 : from_end]
    if len(from_toks) not in (1, 2) or not (_is_ident(from_toks[0]) or from_toks[0].startswith('"')):
        raise DataLayerError("SQL Expression Parsing Error: expected a single table after FROM")
    table = _unquote(from_toks[0])
    if table.lower() != layer_name.lower():
        raise DataLayerError(
            f'"{table}" not recognised as an available layer (expected {layer_name!r}).'
        )

    # --- select list
    sel_toks = toks[1 : pos["FROM"]]
    distinct = bool(sel_toks) and sel_toks[0].upper() == "DISTINCT"
    if distinct:
        sel_toks = sel_toks[1:]
    if not sel_toks:
        raise DataLayerError("SQL Expression Parsing Error: empty select list")
    items = _split_commas(sel_toks)
    sel_sql: list[str] = []
    has_star = has_agg = False
    for item in items:
        alias = None
        if len(item) >= 3 and item[-2].upper() == "AS" and _is_ident(item[-1]):
            alias, item = item[-1], item[:-2]
        if item == ["*"]:
            has_star = True
            sel_sql.append("*")
            continue
        if len(item) == 1 and (_is_ident(item[0]) or item[0].startswith('"')):
            col = _resolve(item[0], colmap)
            sel_sql.append(f"`{col}`" + (f" AS `{alias}`" if alias else ""))
            continue
        # aggregate: AGG ( [DISTINCT] ident | * )
        if (
            len(item) >= 4
            and item[0].upper() in _AGGREGATES
            and item[1] == "("
            and item[-1] == ")"
        ):
            has_agg = True
            inner = item[2:-1]
            agg = item[0].upper()
            agg_distinct = bool(inner) and inner[0].upper() == "DISTINCT"
            if agg_distinct:
                inner = inner[1:]
            if inner == ["*"]:
                if agg != "COUNT":
                    raise DataLayerError("SQL Expression Parsing Error: only COUNT(*) takes *")
                arg, default_alias = "*", "COUNT_*"
            elif len(inner) == 1:
                col = _resolve(inner[0], colmap)
                arg, default_alias = f"`{col}`", f"{agg}_{col}"
            else:
                raise DataLayerError("SQL Expression Parsing Error: unsupported aggregate argument")
            body = f"{agg}({'DISTINCT ' if agg_distinct else ''}{arg})"
            sel_sql.append(f"{body} AS `{alias or default_alias}`")
            continue
        # field arithmetic (OGRSQL supports +,-,*,/,%,|| over fields and
        # literals in the select list); same token validation as WHERE
        expr = _rewrite_predicate(item, colmap)
        sel_sql.append(f"({expr}) AS `{alias or 'FIELD_' + str(len(sel_sql) + 1)}`")

    # OGRSQL cannot select geometry but returns it for plain column
    # selects; DISTINCT / aggregate / * selects don't append it.
    if (
        not has_star
        and not has_agg
        and not distinct
        and geometry_col in columns
        and not any(f"`{geometry_col}`" in s for s in sel_sql)
    ):
        sel_sql.append(f"`{geometry_col}`")

    # --- WHERE
    where_sql = ""
    if "WHERE" in pos:
        where_end = min(
            [p for k, p in pos.items() if k in ("ORDER", "LIMIT") and p > pos["WHERE"]],
            default=len(toks),
        )
        where_sql = " WHERE " + _rewrite_predicate(toks[pos["WHERE"] + 1 : where_end], colmap)

    # --- ORDER BY
    order_sql, order_cols = "", None
    if "ORDER" in pos:
        order_end = pos.get("LIMIT", len(toks))
        parts = _split_commas(toks[pos["ORDER"] + 2 : order_end])
        terms, order_cols = [], []
        for p in parts:
            if not p or not (_is_ident(p[0]) or p[0].startswith('"')):
                raise DataLayerError("SQL Expression Parsing Error: ORDER BY expects column names")
            col = _resolve(p[0], colmap)
            direction = ""
            if len(p) == 2 and p[1].upper() in ("ASC", "DESC"):
                direction = " " + p[1].upper()
            elif len(p) > 1:
                raise DataLayerError("SQL Expression Parsing Error: bad ORDER BY term")
            terms.append(f"`{col}`{direction}")
            order_cols.append((col, direction != " DESC"))
        order_sql = " ORDER BY " + ", ".join(terms)

    # --- LIMIT
    limit_sql = ""
    if "LIMIT" in pos:
        lim = re.fullmatch(r"(\d+)(?: OFFSET (\d+))?", " ".join(toks[pos["LIMIT"] + 1 :]), re.I)
        if not lim:
            raise DataLayerError("SQL Expression Parsing Error: expected LIMIT n [OFFSET m] at the end")
        limit_sql = f" LIMIT {int(lim[1])}" + (f" OFFSET {int(lim[2])}" if lim[2] else "")

    stmt = (
        f"SELECT {'DISTINCT ' if distinct else ''}{', '.join(sel_sql)} "
        f"FROM {view_name}{where_sql}{order_sql}{limit_sql}"
    )
    return stmt, order_cols


# --- SQLITE dialect: the canonical correlated ST_Intersects rewrite

_NEIGHBOR_RE = re.compile(
    r"""\(\s*SELECT\s+count\(\s*\*\s*\)\s+
        FROM\s+(?P<subtable>\w+)\s+(?P<subalias>\w+)\s+
        WHERE\s+ST_Intersects\(\s*(?P<a1>\w+)\.(?P<g1>\w+)\s*,\s*
                                 (?P<a2>\w+)\.(?P<g2>\w+)\s*\)\s*\)\s+
        AS\s+(?P<alias>\w+)""",
    re.I | re.X,
)

_ST_FUNC_RE = re.compile(r"\b(ST_\w+)\s*\(", re.I)


def _neighbor_counts(df: DataFrame, key: str, geometry_col: str, alias: str) -> DataFrame:
    """Distributed replacement for GDAL's correlated nested loop: per
    row, how many layer rows intersect it (self included). Cell-cover
    equi-join bounds candidates; the intersects refine is exact.

    The cover resolution is coarse (res 4, ~22 degree cells): admin
    layers carry planet-spanning envelopes (Russia, Antarctica, France
    with overseas territories), and a fine grid makes the per-polygon
    cover itself the bottleneck — the exact refine makes resolution a
    pure candidate-volume knob, and for boundary-heavy layers coarse
    cells win."""
    from pyogrio_spark.functions.geo import bounds_columns
    from pyogrio_spark.operators.intersects_join import intersects_join
    from pyogrio_spark.operators.spatial_join import zones_cell_cover_distributed

    res = 4
    left = bounds_columns(df.select(key, geometry_col), geom_col=geometry_col)
    cover = zones_cell_cover_distributed(
        df.select(F.col(key).alias("_nb_key"), geometry_col),
        res=res,
        zone_key="_nb_key",
        geom_col=geometry_col,
    )
    pairs = intersects_join(
        left, cover, res=res, zone_key="_nb_key", left_key=key, geom_col=geometry_col,
        keep_left_cols=[key],
    )
    counts = pairs.groupBy(key).agg(F.count("*").alias(alias))
    return df.join(counts, key, "left").fillna({alias: 0})


def _substitute_table(sql: str, layer_name: str, view: str) -> str:
    """Point the FROM/JOIN tokens naming the layer (bare or quoted) at
    ``view``; string literals are skipped whole."""
    name = re.escape(layer_name)
    pat = rf"""('(?:[^'\\]|\\.|'')*')|\b(FROM|JOIN)(\s+)(?:"{name}"|`{name}`|{name}(?!\w))"""
    return re.sub(pat, lambda m: m[1] or m[2] + m[3] + view, sql, flags=re.I)


def _apply_sqlite(
    spark: SparkSession,
    df: DataFrame,
    sql: str,
    layer_name: str,
    geometry_col: str,
    fid_column: str,
) -> DataFrame:
    work, out_sql = df, sql
    m = _NEIGHBOR_RE.search(sql)
    if m:
        key = fid_column if fid_column in df.columns else None
        if key is None:
            raise DataLayerError(
                "SQLITE ST_Intersects rewrite needs a fid column on the layer"
            )
        work = _neighbor_counts(df, key, geometry_col, m.group("alias"))
        out_sql = sql[: m.start()] + m.group("alias") + sql[m.end() :]
    m2 = _ST_FUNC_RE.search(out_sql)
    if m2:
        raise DataLayerError(
            f"Spatialite function {m2.group(1)!r} is not supported by the "
            "engine's SQLITE dialect subset (documented divergence; supported: "
            "the correlated ST_Intersects count rewrite)"
        )
    # SQLITE dialect exposes the geometry column as 'geometry'
    renamed = geometry_col in work.columns and "geometry" not in work.columns
    if renamed:
        work = work.withColumnRenamed(geometry_col, "geometry")
    view = f"pyogrio_sqlite_{abs(hash(layer_name)) % 10**8}"
    work.createOrReplaceTempView(view)
    out = spark.sql(_substitute_table(out_sql, layer_name, view))
    if renamed and "geometry" in out.columns:
        out = out.withColumnRenamed("geometry", geometry_col)
    return out


def apply_sql_dialect(
    spark: SparkSession,
    df: DataFrame,
    sql: str,
    sql_dialect: str | None,
    layer_name: str = "layer",
    geometry_col: str = GEOMETRY_COL,
    fid_column: str = "fid",
) -> tuple[DataFrame, list[str] | None]:
    """Execute ``sql`` against ``df`` under the requested dialect.
    Returns (result, ORDER BY columns or None) — the order columns let
    the caller keep post-``sql`` skip/max ranges aligned with the SQL
    result order (reference semantics: skip_features applies to the
    statement's output order, tests/test_geopandas_io.py:1826-1860).
    """
    dialect = (sql_dialect or "").upper()
    if dialect == "OGRSQL":
        view = f"pyogrio_ogrsql_{abs(hash(layer_name)) % 10**8}"
        df.createOrReplaceTempView(view)
        stmt, order_cols = translate_ogrsql(
            sql, df.columns, layer_name, view, geometry_col=geometry_col
        )
        return spark.sql(stmt), order_cols
    if dialect in ("SQLITE", "INDIRECT_SQLITE"):
        return _apply_sqlite(spark, df, sql, layer_name, geometry_col, fid_column), None
    if dialect:
        raise ValueError(f"unsupported sql_dialect {sql_dialect!r}")
    # native dialect: Spark SQL, layer registered as both 'layer' and
    # its own name so reference-style FROM <layer_name> statements work
    df.createOrReplaceTempView("layer")
    if re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", layer_name) and layer_name != "layer":
        df.createOrReplaceTempView(layer_name)
    return spark.sql(sql), None
