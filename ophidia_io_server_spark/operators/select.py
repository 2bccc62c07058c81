"""SELECT pipeline: FROM (aligned join) → WHERE → LIMIT window → GROUP BY →
projection (scalar + aggregate primitives) → ORDER.

Faithful to the reference's clause semantics (SURVEY.md §2.1-§2.6, dispatch
``/root/reference/src/server/oph_io_server_query.c:107-134``, engine
``oph_io_server_query_engine.c:258-385``), expressed as one declarative
DataFrame composition so Catalyst applies pushdown/pruning/codegen.

Reference quirks preserved intentionally:
- LIMIT applies to the *filtered input* before grouping/projection
  (engine.c:311-320), not to the final result;
- ORDER BY is applied after projection, single numeric column, ASC only
  (blocks.c:747-817; non-ASC ignored with a warning upstream).  The select
  returns the unordered frame with its order column (``ResultSet``): a wire
  fetch sorts the collected rows on the driver, in-process callers ask Spark
  through ``ResultSet.ordered()``;
- with GROUP BY, non-aggregate projected expressions take the first row of
  each group (blocks.c:2438-2458);
- multi-table FROM is the aligned equi-join on id_dim and WHERE is mandatory
  (blocks.c:845-910, 2093-2108).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

from ophidia_io_server_spark.catalog import Catalog
from ophidia_io_server_spark.dialect.expression import (
    ExprContext,
    compile_expression,
    expression_uses_aggregate,
)
from ophidia_io_server_spark.dialect.parser import parse_limit
from ophidia_io_server_spark.protocol import ResultSet

ID_COL = "id_dim"


class QueryExecError(ValueError):
    pass


def _as_list(v) -> list[str]:
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


@dataclass
class SelectClauses:
    frm: list[str]
    aliases: list[str]
    fields: list[str]
    field_aliases: list[str]
    where: str | None
    group: str | None
    order: str | None
    limit: tuple[int, int] | None  # (offset, n)

    @classmethod
    def from_query(cls, q: dict) -> "SelectClauses":
        frm = _as_list(q.get("from"))
        if not frm:
            raise QueryExecError("select: missing 'from'")
        aliases = _as_list(q.get("from_alias"))
        fields = _as_list(q.get("field"))
        if not fields:
            raise QueryExecError("select: missing 'field'")
        fa = _as_list(q.get("select_alias"))
        limit = parse_limit(q["limit"]) if q.get("limit") else None
        return cls(
            frm=frm,
            aliases=aliases,
            fields=fields,
            field_aliases=fa,
            where=q.get("where"),
            group=q.get("group"),
            order=q.get("order"),
            limit=limit,
        )


_SANITIZE_RE = re.compile(r"[^A-Za-z0-9_]+")


def default_alias(src: str, i: int) -> str:
    s = _SANITIZE_RE.sub("_", src.strip()).strip("_").lower()
    return s[:40] if s else f"col{i + 1}"


def build_from(catalog: Catalog, clauses: SelectClauses, validate_dense: bool = False
               ) -> tuple[DataFrame, bool]:
    """Resolve FROM entries; multi-table = inner equi-join on id_dim.

    Scale: the join key is a dense long, so with cubes range-partitioned by
    id_dim Catalyst plans a co-partitioned sort-merge join; small fragments
    broadcast automatically under the configured threshold.
    Returns (df, is_multi).
    """
    dfs: list[DataFrame] = []
    for i, name in enumerate(clauses.frm):
        if name.startswith("@"):
            df = _pseudo_table(catalog, name)
        else:
            df = catalog.get(name).df
        alias = clauses.aliases[i] if i < len(clauses.aliases) else name.lstrip("@").split(".")[-1]
        dfs.append(df.alias(alias))
    if len(dfs) == 1:
        return dfs[0], False
    for name, df in zip(clauses.frm, dfs):
        if ID_COL not in df.columns:
            raise QueryExecError(f"multi-table FROM requires {ID_COL} in {name!r} "
                                 f"(reference blocks.c:931-946)")
    if validate_dense:
        for name, df in zip(clauses.frm, dfs):
            assert_dense_ids(df, name)
    out = dfs[0]
    for df in dfs[1:]:
        out = out.join(df, on=ID_COL, how="inner")
    return out, True


def _pseudo_table(catalog: Catalog, name: str) -> DataFrame:
    """``@info_system`` / ``@info_system_table`` pseudo-tables.

    The reference DECLARES these keywords but never implements them
    (oph_query_engine_language.h:110-114, no C references) — here they are a
    working superset: server/catalog introspection through the same select
    pipeline."""
    key = name.strip().lower()
    spark = catalog.spark
    if key == "@info_system":
        import pyspark

        return spark.createDataFrame(
            [(pyspark.__version__, spark.sparkContext.defaultParallelism,
              len(catalog.dbs))],
            "spark_version string, parallelism int, n_databases int")
    if key == "@info_system_table":
        rows = [
            (db, frag, e.device, bool(e.temp), bool(e.cached))
            for db, frags in catalog.dbs.items() for frag, e in frags.items()
        ]
        return spark.createDataFrame(
            rows or [("", "", "", False, False)],
            "db string, frag string, device string, temp boolean, cached boolean",
        ).where("db <> ''" if not rows else F.lit(True))
    raise QueryExecError(f"unknown pseudo-table {name!r}")


def assert_dense_ids(df: DataFrame, name: str) -> None:
    """Reference asserts sorted/unique/step-1 ids for multi-table queries
    (blocks.c:859-876).  Implemented as an O(1)-result aggregate: ids are
    dense iff count == max-min+1 and distinct == count."""
    row = df.agg(
        F.count(ID_COL).alias("c"),
        F.countDistinct(ID_COL).alias("d"),
        F.min(ID_COL).alias("lo"),
        F.max(ID_COL).alias("hi"),
    ).collect()[0]
    if row["c"] == 0:
        return
    if row["c"] != row["d"] or row["hi"] - row["lo"] + 1 != row["c"]:
        raise QueryExecError(f"fragment {name!r}: id_dim not dense/unique")


def apply_limit_window(df: DataFrame, limit: tuple[int, int]) -> DataFrame:
    """Reference LIMIT: rows [offset, offset+n) of the filtered input in id
    order, *before* grouping/projection (engine.c:311-320).

    Implemented as orderBy(id).limit(offset+n) — a distributed TakeOrdered —
    then an offset drop via row_number over the (already ≤ offset+n row)
    result, so no global shuffle of the full input ever happens.
    """
    offset, n = limit
    if n == 0:
        return df.limit(0)
    if ID_COL not in df.columns:
        return df.offset(offset).limit(n) if offset else df.limit(n)
    top = df.orderBy(F.col(ID_COL).asc()).limit(offset + n)
    if offset:
        top = top.orderBy(F.col(ID_COL).asc()).offset(offset)
    return top


_EXPAND_RE = re.compile(r"^\s*oph_expand\s*\(", re.IGNORECASE)


def _apply_expand(out: DataFrame, arr_alias: str) -> DataFrame:
    """oph_expand: move the in-row (implicit) dimension to rows — 1 row with
    an L-array becomes L rows with scalar measures; if id_dim is projected it
    is re-linearized as (id-1)*L + pos + 1 (the datacube id algebra)."""
    others = [c for c in out.columns if c != arr_alias]
    exploded = out.select(
        *others, F.size(F.col(arr_alias)).alias("__sz"),
        F.posexplode(F.col(arr_alias)).alias("__pos", arr_alias),
    )
    if ID_COL in exploded.columns:
        exploded = exploded.withColumn(
            ID_COL,
            ((F.col(ID_COL) - 1) * F.col("__sz") + F.col("__pos") + 1).cast("long"),
        )
    return exploded.drop("__sz", "__pos")


def make_resolver(df: DataFrame):
    def resolver(name: str) -> Column:
        return df[name] if "." not in name else F.col(name)

    return resolver


def execute_select(catalog: Catalog, q: dict, params: dict | None = None,
                   validate_dense: bool = False) -> ResultSet:
    """The select's result frame, unordered, with its ORDER column: a wire
    fetch sorts the collected rows on the driver (``protocol``), in-process
    callers take ``.ordered()``."""
    clauses = SelectClauses.from_query(q)
    df, multi = build_from(catalog, clauses, validate_dense=validate_dense)
    ctx = ExprContext(resolver=make_resolver(df), params=params or {}, id_col=ID_COL)

    if multi and not clauses.where:
        raise QueryExecError("WHERE is mandatory for multi-table queries "
                             "(reference oph_io_server_query_manager.h:93)")
    if clauses.where:
        df = df.filter(compile_expression(clauses.where, ctx).truthy())
        ctx = ExprContext(resolver=make_resolver(df), params=params or {}, id_col=ID_COL)

    if clauses.limit:
        df = apply_limit_window(df, clauses.limit)
        ctx = ExprContext(resolver=make_resolver(df), params=params or {}, id_col=ID_COL)

    aliases = [
        clauses.field_aliases[i] if i < len(clauses.field_aliases) and clauses.field_aliases[i]
        else default_alias(src, i)
        for i, src in enumerate(clauses.fields)
    ]

    has_agg = any(expression_uses_aggregate(s) for s in clauses.fields)

    def project_col(src: str, agg_context: bool) -> Column:
        ev = compile_expression(src, ctx)
        col = ev.numeric() if ev.boolean else ev.col
        if agg_context and not expression_uses_aggregate(src):
            # reference: bare columns under GROUP BY take the group's first row
            # in id order (blocks.c:2438-2458); F.first is partition-order
            # dependent, min_by(id) is the deterministic equivalent
            if ID_COL in df.columns:
                col = F.min_by(col, F.col(ID_COL))
            else:
                col = F.first(col)
        return col

    if clauses.group:
        key = compile_expression(clauses.group, ctx)
        kc = key.numeric() if key.boolean else key.col
        gdf = df.groupBy(kc.alias("__group_key"))
        aggs = [project_col(s, True).alias(a) for s, a in zip(clauses.fields, aliases)]
        out = gdf.agg(*aggs).select(*aliases)
    elif has_agg:
        aggs = [project_col(s, True).alias(a) for s, a in zip(clauses.fields, aliases)]
        out = df.agg(*aggs)
    else:
        out = df.select(*[
            project_col(s, False).alias(a) for s, a in zip(clauses.fields, aliases)
        ])

    expand_aliases = [
        a for s, a in zip(clauses.fields, aliases) if _EXPAND_RE.match(s)
    ]
    if expand_aliases and not clauses.group and not has_agg:
        out = _apply_expand(out, expand_aliases[0])

    if clauses.order:
        direction = str(q.get("order_dir", "asc")).strip().lower()
        if direction not in ("asc", ""):
            # reference ignores non-ASC order_dir with a warning
            # (oph_query_parser.c:280-284)
            import warnings

            warnings.warn(f"order_dir {direction!r} ignored: ASC-only (reference parity)",
                          stacklevel=2)
        order_col = clauses.order.strip()
        if order_col not in out.columns:
            # reference orders by one projected column name; tolerate expressions
            order_col = default_alias(order_col, 0)
        if order_col not in out.columns:
            raise QueryExecError(f"order column {clauses.order!r} not in projection")
        if isinstance(out.schema[order_col].dataType, (ArrayType, MapType, StructType)):
            raise QueryExecError(f"order column {order_col!r} is not a scalar "
                                 "(reference orders by one numeric column)")
        return ResultSet(out, order_col)
    return ResultSet(out)
