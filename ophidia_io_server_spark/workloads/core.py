"""Reference-dialect coverage: §2.1 select / §2.3 predicates + id builtins / §2.9 reductions, §2.4 join + §2.5 aggregates, §2.2 sources + §2.7 procedures.

Carved verbatim out of the original workload.py (r8 VERDICT #3);
provenance citations in the per-workload docstrings are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ophidia_io_server_spark.operators.engine import IOServer  # noqa: F401
from ophidia_io_server_spark.session import session_key  # noqa: F401
from ophidia_io_server_spark.sources.random_import import (  # noqa: F401
    random_fragment_oracle_sql,
)
from ophidia_io_server_spark.sources.tables import (  # noqa: F401
    exact_cents_sum,
    fragment_cte,
    lineitem_fragment,
    lineitem_fragment_cached,
    load_table,
)

from ophidia_io_server_spark.workloads.base import (  # noqa: F401
    WORKLOADS,
    Workload,
    _FRAG_BOTH_CTE,
    _FRAG_QTY_CTE,
    _corpus_tag,
    _ensure_session_defaults,
    _exploded_oracle,
    _explode_arrays,
    _server,
    workload,
)


# ---------------------------------------------------------------------------
# §2.1 select + §2.3 predicates/id-builtins + §2.9 reductions
# ---------------------------------------------------------------------------


@workload(
    "select_reduce",
    oracle=f"""
    {_FRAG_QTY_CTE}
    SELECT id_dim,
           list_aggregate(measure, 'sum') AS sum_m,
           CAST(len(measure) AS BIGINT) AS n_m
    FROM (
        SELECT * FROM frag_qty
        WHERE ((id_dim - 1) % 2 = 0) AND id_dim >= 1 AND id_dim <= 4000
        ORDER BY id_dim LIMIT 50 OFFSET 10
    )
    ORDER BY id_dim
    """,
)
def select_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship dialect query: WHERE id-subset built-in, array reduction,
    inverted LIMIT window, ORDER (SURVEY §7.1)."""
    srv = _server(spark, sf_dir)
    return srv.execute(
        "operation=select;from=frag_qty;"
        "field=id_dim|oph_reduce(measure,'sum')|oph_size_array(measure);"
        "select_alias=id_dim|sum_m|n_m;"
        "where=oph_is_in_subset(id_dim,1,2,4000);"
        "order=id_dim;limit=10|50"
    )


@workload(
    "scalar_predicate",
    oracle=f"""
    {_FRAG_QTY_CTE}
    SELECT id_dim,
           list_transform(measure, x -> x + 2.5) AS m_sum,
           list_transform(measure, x -> CASE WHEN x - 30 > 0 THEN x ELSE 0.0 END) AS m_pred
    FROM frag_qty WHERE id_dim <= 500 ORDER BY id_dim
    """,
    explode=["m_sum", "m_pred"],
)
def scalar_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """oph_sum_scalar + oph_predicate element-wise primitives in one select
    (merged r2 so every §2 family fits the driver's 50-query window)."""
    srv = _server(spark, sf_dir)
    return srv.execute(
        "operation=select;from=frag_qty;"
        "field=id_dim|oph_sum_scalar(measure,2.5)|oph_predicate(measure,'x-30','>0','x','0');"
        "select_alias=id_dim|m_sum|m_pred;where=id_dim<=500;order=id_dim"
    )


@workload(
    "subarray_reduce",
    oracle=f"""
    {_FRAG_QTY_CTE}
    SELECT id_dim,
           list_slice(measure, 1, 2) AS first2,
           list_reverse(measure) AS rev,
           list_filter(measure, x -> x > 25) AS big,
           list_transform(
             list_filter(range(1, len(measure) + 1), i -> (i - 1) % 2 = 0),
             i -> measure[CAST(i AS BIGINT)]
           ) AS strided,
           list_transform(
             range(0, CAST(ceil(len(measure) / 2.0) AS BIGINT)),
             i -> list_aggregate(list_slice(measure, i * 2 + 1, i * 2 + 2), 'sum')
           ) AS blocks,
           list_aggregate(measure, 'max') AS mx,
           list_aggregate(measure, 'min') AS mn,
           list_aggregate(measure, 'sum') AS tot
    FROM frag_qty WHERE id_dim <= 500 ORDER BY id_dim
    """,
    explode=["first2", "rev", "big", "strided", "blocks"],
)
def subarray_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subarray family (get_subarray/2, reverse, filter) + block reductions
    (reduce2, reduce max/min) in one select (merged r2; r4 adds
    oph_operator, the whole-array named aggregation)."""
    srv = _server(spark, sf_dir)
    return srv.execute(
        "operation=select;from=frag_qty;"
        "field=id_dim|oph_get_subarray(measure,1,2)|oph_reverse(measure)"
        "|oph_filter(measure,'x>25')|oph_get_subarray2(measure,'1:2:end')"
        "|oph_reduce2(measure,'sum',2)|oph_reduce(measure,'max')"
        "|oph_reduce(measure,'min')|oph_operator(measure,'oph_sum');"
        "select_alias=id_dim|first2|rev|big|strided|blocks|mx|mn|tot;"
        "where=id_dim<=500;order=id_dim"
    )


@workload(
    "moving_avg_accumulate",
    oracle=f"""
    {_FRAG_QTY_CTE}
    SELECT id_dim,
           list_transform(
             range(1, len(measure) + 1),
             i -> CASE WHEN i = 1 THEN measure[1]
                       ELSE (measure[CAST(i - 1 AS BIGINT)] + measure[CAST(i AS BIGINT)]) / 2.0 END
           ) AS mavg,
           list_transform(
             range(1, len(measure) + 1),
             i -> CASE WHEN i = 1 THEN measure[1]
                       ELSE measure[CAST(i AS BIGINT)] - measure[CAST(i - 1 AS BIGINT)] END
           ) AS deacc,
           list_transform(
             range(1, len(measure) + 1),
             i -> list_aggregate(list_slice(measure, 1, CAST(i AS BIGINT)), 'sum')
           ) AS acc
    FROM frag_qty WHERE id_dim <= 300 ORDER BY id_dim
    """,
    explode=["mavg", "deacc", "acc"],
)
def moving_avg_accumulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """oph_moving_avg + oph_deaccumulate + oph_accumulate running-window
    primitives in one select (merged r2)."""
    srv = _server(spark, sf_dir)
    return srv.execute(
        "operation=select;from=frag_qty;"
        "field=id_dim|oph_moving_avg(measure,2)|oph_deaccumulate(measure)"
        "|oph_accumulate(measure);"
        "select_alias=id_dim|mavg|deacc|acc;where=id_dim<=300;order=id_dim"
    )


# ---------------------------------------------------------------------------
# §2.4 join + §2.5 aggregates
# ---------------------------------------------------------------------------


@workload(
    "join_mul_array",
    oracle=f"""
    {_FRAG_BOTH_CTE}
    SELECT a.id_dim AS id_dim,
           list_transform(
             range(1, len(a.measure) + 1),
             i -> a.measure[CAST(i AS BIGINT)] * b.measure[CAST(i AS BIGINT)]
           ) AS prod
    FROM frag_qty a JOIN frag_price b ON a.id_dim = b.id_dim
    WHERE a.id_dim <= 500
    ORDER BY id_dim
    """,
    explode=["prod"],
)
def join_mul_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aligned multi-fragment join on id_dim (the reference's only join,
    blocks.c:845-910) with an element-wise product across fragments."""
    srv = _server(spark, sf_dir, {"frag_qty": "l_quantity", "frag_price": "l_extendedprice"})
    return srv.execute(
        "operation=select;from=frag_qty|frag_price;from_alias=a|b;"
        "field=id_dim|oph_mul_array(a.measure,b.measure);"
        "select_alias=id_dim|prod;where=id_dim<=500;order=id_dim"
    )


@workload(
    "join_three_way",
    oracle=f"""
    WITH frag_qty AS ({fragment_cte('l_quantity')}),
         frag_price AS ({fragment_cte('l_extendedprice')}),
         frag_disc AS ({fragment_cte('l_discount')})
    SELECT a.id_dim AS id_dim,
           list_transform(
             range(1, len(a.measure) + 1),
             i -> a.measure[i] * b.measure[i] * (1 - c.measure[i])
           ) AS net,
           list_aggregate(c.measure, 'max') AS max_disc
    FROM frag_qty a
    JOIN frag_price b ON a.id_dim = b.id_dim
    JOIN frag_disc  c ON a.id_dim = c.id_dim
    WHERE a.id_dim <= 600
    ORDER BY id_dim
    """,
    explode=["net"],
)
def join_three_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-way aligned fragment join (the reference zips any number of FROM
    fragments on id_dim, blocks.c:845-910): qty*price*(1-disc) element-wise
    across three fragments.  Catalyst plans one shuffle per side keyed on
    id_dim; with range-partitioned cubes this is the co-located SMJ."""
    srv = _server(spark, sf_dir, {
        "frag_qty": "l_quantity", "frag_price": "l_extendedprice",
        "frag_disc": "l_discount",
    })
    return srv.execute(
        "operation=select;from=frag_qty|frag_price|frag_disc;from_alias=a|b|c;"
        "field=id_dim|oph_mul_array(oph_mul_array(a.measure,b.measure),"
        "oph_sum_scalar2(c.measure,-1,1))"
        "|oph_reduce(c.measure,'max');"
        "select_alias=id_dim|net|max_disc;where=id_dim<=600;order=id_dim"
    )


@workload(
    "group_aggregates",
    oracle=f"""
    {_FRAG_QTY_CTE}
    SELECT 1 + CAST(TRUNC((id_dim - 1.0) / 100) AS BIGINT) AS grp,
           list_aggregate(flatten(list(list_slice(measure, 1, 1) ORDER BY id_dim)), 'max') AS mx,
           list_aggregate(flatten(list(list_slice(measure, 1, 1) ORDER BY id_dim)), 'sum') AS sm,
           flatten(list(list_slice(measure, 1, 3) ORDER BY id_dim)) AS rolled,
           [ AVG(measure[1]),
             (SUM(measure[1] * measure[1]) - COUNT(*) * AVG(measure[1]) * AVG(measure[1]))
               / (COUNT(*) - 1),
             MIN(measure[1]), MAX(measure[1]) ] AS stats,
           [ AVG(measure[1]), MIN(measure[1]), MAX(measure[1]) ] AS stats2
    FROM frag_qty
    WHERE id_dim <= 1000
    GROUP BY grp
    ORDER BY grp
    """,
    explode=["rolled", "stats", "stats2"],
)
def group_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY an id-derived key; element-wise cross-row aggregate (max/sum
    over each group's first element) + roll_up concatenation ordered by id +
    oph_aggregate_stats (mean|var|min|max mask) over length-1 arrays so the
    cross-row stats reduce to scalar SQL aggregates (merged r3:
    aggregate_stats_group).

    The Spark aggregate folds arrays of length 1, so 'mx'/'sm' equal the
    scalar max/sum of first elements — expressed in SQL over the flattened
    group list (l_quantity is integral ⇒ sum is order-exact).

    stats2 (r4) exercises the reference's anticipated two-phase aggregation
    contract (oph_query_plugin_executor.c:480-680):
    oph_aggregate_stats_partial per (grp, id parity) sub-group, then
    oph_aggregate_stats_final mask '10011' (mean|min|max) merges the
    partials — Spark's native partial+final agg shape, verified against the
    direct per-group stats."""
    from ophidia_io_server_spark.dialect.expression import ExprContext, compile_expression

    srv = _server(spark, sf_dir)
    df = srv.execute(
        "operation=select;from=frag_qty;"
        "field=oph_id(id_dim,100)"
        "|oph_reduce(oph_aggregate_operator(oph_get_subarray(measure,1,1),'oph_max'),'max')"
        "|oph_reduce(oph_aggregate_operator(oph_get_subarray(measure,1,1),'oph_sum'),'sum')"
        "|oph_roll_up(oph_get_subarray(measure,1,3))"
        "|oph_aggregate_stats(oph_get_subarray(measure,1,1),'11011');"
        "select_alias=grp|mx|sm|rolled|stats;"
        "where=id_dim<=1000;group=oph_id(id_dim,100);order=grp"
    )
    frag = lineitem_fragment_cached(spark, sf_dir).where(F.col("id_dim") <= 1000)
    fctx = ExprContext(resolver=lambda n: frag[n])
    grp_col = compile_expression("oph_id(id_dim,100)", fctx).col
    sub = frag.select(
        grp_col.alias("grp"),
        F.pmod(F.col("id_dim"), F.lit(2)).alias("sg"),
        "measure",
    )
    ctx = ExprContext(resolver=lambda n: sub[n])
    part = compile_expression(
        "oph_aggregate_stats_partial(oph_get_subarray(measure,1,1))", ctx)
    partials = sub.groupBy("grp", "sg").agg(part.col.alias("p"))
    ctx2 = ExprContext(resolver=lambda n: partials[n])
    fin = compile_expression("oph_aggregate_stats_final(p,'10011')", ctx2)
    stats2 = partials.groupBy("grp").agg(fin.col.alias("stats2"))
    # 10 tiny rows — broadcast so the probe join adds no shuffle to df's plan
    return df.join(F.broadcast(stats2), "grp")


@workload(
    "ctas_rollup",
    oracle=f"""
    {_FRAG_QTY_CTE}
    SELECT 1 + CAST(TRUNC((id_dim - 1.0) / 50) AS BIGINT) AS id_dim,
           flatten(list(list_slice(measure, 1, 2) ORDER BY id_dim, measure)) AS measure
    FROM frag_qty WHERE id_dim <= 1000
    GROUP BY 1 ORDER BY id_dim
    """,
    explode=["measure"],
)
def ctas_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """create_frag_select (CTAS, exactly-2-columns rule) storing a grouped
    roll_up fragment, then oph_export reads it back — the reference's
    cube-re-gridding flow (engine.c:35-237)."""
    srv = _server(spark, sf_dir)
    srv.execute(
        "operation=create_frag_select;frag_name=regrid;from=frag_qty;"
        "field=oph_id(id_dim,50)|oph_roll_up(oph_get_subarray(measure,1,2));"
        "select_alias=id_dim|measure;"
        "where=id_dim<=1000;group=oph_id(id_dim,50)"
    )
    return srv.execute("operation=function;function=oph_export;arg='regrid'")


@workload(
    "fragment_set_ops",
    oracle=f"""
    {_FRAG_QTY_CTE},
    a AS (SELECT id_dim FROM frag_qty WHERE id_dim <= 600),
    b AS (SELECT id_dim FROM frag_qty WHERE id_dim >= 400 AND id_dim <= 900)
    SELECT 'union' AS op, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT id_dim FROM a UNION SELECT id_dim FROM b)
    UNION ALL
    SELECT 'intersect', CAST(COUNT(*) AS BIGINT)
      FROM (SELECT id_dim FROM a INTERSECT SELECT id_dim FROM b)
    UNION ALL
    SELECT 'except', CAST(COUNT(*) AS BIGINT)
      FROM (SELECT id_dim FROM a EXCEPT SELECT id_dim FROM b)
    ORDER BY op
    """,
)
def fragment_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations over fragment id spaces (absent in the reference —
    SURVEY §2.6; Spark-native superset): union / intersect / except."""
    frag = lineitem_fragment_cached(spark, sf_dir)
    a = frag.where(F.col("id_dim") <= 600).select("id_dim")
    b = frag.where((F.col("id_dim") >= 400) & (F.col("id_dim") <= 900)).select("id_dim")
    rows = [
        ("union", a.union(b).distinct()),
        ("intersect", a.intersect(b)),
        ("except", a.exceptAll(b.distinct()).distinct()),
    ]
    out = None
    for op, df in rows:
        one = df.agg(F.count(F.lit(1)).cast("bigint").alias("n")) \
                .select(F.lit(op).alias("op"), "n")
        out = one if out is None else out.unionAll(one)
    return out


@workload(
    "global_aggregate",
    oracle=f"""
    {_FRAG_QTY_CTE}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(list_aggregate(measure, 'sum')), 4) AS total,
           ROUND(MAX(list_aggregate(measure, 'max')), 4) AS biggest
    FROM frag_qty
    """,
)
def global_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table aggregate (reference: no GROUP BY ⇒ table is one group,
    blocks.c:2583-2662).  Uses DataFrame agg directly (the dialect's
    aggregate primitives are array-valued; the relational rollup is the
    Spark-native superset)."""
    frag = lineitem_fragment(spark, sf_dir)
    from ophidia_io_server_spark.functions.reduce import reduce_array

    return frag.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum(reduce_array(F.col("measure"), "sum")), 4).alias("total"),
        F.round(F.max(reduce_array(F.col("measure"), "max")), 4).alias("biggest"),
    )


# ---------------------------------------------------------------------------
# §2.2 sources / §2.7 procedures
# ---------------------------------------------------------------------------


@workload(
    "random_import",
    oracle=f"""
    SELECT 'temperatures' AS algo, id_dim, measure
    FROM ({random_fragment_oracle_sql(1000, 12, "temperatures")})
    UNION ALL
    SELECT 'mixed' AS algo, id_dim, measure
    FROM ({random_fragment_oracle_sql(800, 10, "mixed")})
    """,
    explode=["measure"],
)
def random_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """random_import source, 'temperatures' + 'mixed' algorithms (merged r2)
    — the LCG Column math is reproduced exactly by the SQL oracle
    (sources/random_import.py)."""
    srv = IOServer(spark)
    srv.execute(
        "operation=random_import;frag_name=rnd;nrows=1000;array_len=12;algorithm=temperatures"
    )
    srv.execute("operation=random_import;frag_name=rndm;nrows=800;array_len=10;"
                "algorithm=mixed")
    temps = srv.execute("operation=select;from=rnd;field=id_dim|measure;"
                        "select_alias=id_dim|measure;order=id_dim")
    mixed = srv.execute("operation=select;from=rndm;field=id_dim|measure;"
                        "select_alias=id_dim|measure;order=id_dim")
    return temps.select(F.lit("temperatures").alias("algo"), "id_dim", "measure") \
        .unionAll(mixed.select(F.lit("mixed").alias("algo"), "id_dim", "measure"))


_NC_PATH = "synthetic://cube?dims=time:16,lat:12,lon:10"
_NC_ARGS = dict(
    dim_names=["time", "lat", "lon"], dim_types=["0", "1", "1"],
    dim_indexes=["0", "0", "1"], dim_starts=["3", "2", "1"],
    dim_ends=["14", "11", "10"],
)


def _nc_oracle(sub_operation=None) -> str:
    from ophidia_io_server_spark.sources.netcdf_import import synthetic_oracle_sql

    return synthetic_oracle_sql(_NC_PATH, **_NC_ARGS, sub_operation=sub_operation)


@workload(
    "import_nc_esdm",
    oracle=f"""
    SELECT 'nc' AS src, id_dim, measure FROM ({_nc_oracle()})
    UNION ALL
    SELECT 'esdm' AS src, id_dim, measure FROM ({_nc_oracle("avg")})
    UNION ALL
    SELECT 'ctas_file' AS src, id_dim,
           list_transform(measure, x -> x * 2.0) AS measure
    FROM ({_nc_oracle()})
    UNION ALL
    SELECT 'ctas_esdm' AS src, id_dim,
           list_transform(measure, x -> -x) AS measure
    FROM ({_nc_oracle("avg")})
    """,
    explode=["measure"],
)
def import_nc_esdm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NetCDF-import dimension algebra end to end (file order (time,lat,lon),
    explicit rows (lat,lon), implicit array (time), per-dim subsets — the
    per-partition slab read + transpose path) PLUS the ESDM-surface import
    with the push-down stream kernel (sub_operation=avg fused into the
    partition read, ≙ oph_io_server_esdm.c:611-630).  Merged r2.

    r5 folds in the @file/@esdm CTAS variants (create_frag_select_file /
    create_frag_select_esdm, reference dispatch oph_io_server_query.c:72-105):
    the import result is registered as a temporary fragment, a 2-column
    select (with a primitive applied) materializes the new fragment, and the
    temp import is dropped — the oracle recomputes the same select over the
    synthetic source closed form."""
    srv = IOServer(spark)
    srv.execute(
        f"operation=file_import;frag_name=cube;src_path={_NC_PATH};measure=m;"
        "dim=time|lat|lon;dim_type=0|1|1;dim_index=0|0|1;"
        "dim_start=3|2|1;dim_end=14|11|10"
    )
    srv.execute(
        f"operation=esdm_import;frag_name=cube2;src_path=esdm://cube?dims=time:16,lat:12,lon:10;"
        "measure=m;dim=time|lat|lon;dim_type=0|1|1;dim_index=0|0|1;"
        "dim_start=3|2|1;dim_end=14|11|10;sub_operation=avg"
    )
    srv.execute(
        f"operation=create_frag_select_file;frag_name=cube3;from=@file;"
        "field=id_dim|oph_mul_scalar(measure,2.0);select_alias=id_dim|measure;"
        f"src_path={_NC_PATH};measure=m;"
        "dim=time|lat|lon;dim_type=0|1|1;dim_index=0|0|1;"
        "dim_start=3|2|1;dim_end=14|11|10"
    )
    srv.execute(
        "operation=create_frag_select_esdm;frag_name=cube4;from=@esdm;"
        "field=id_dim|oph_mul_scalar(measure,-1.0);select_alias=id_dim|measure;"
        "src_path=esdm://cube?dims=time:16,lat:12,lon:10;measure=m;"
        "dim=time|lat|lon;dim_type=0|1|1;dim_index=0|0|1;"
        "dim_start=3|2|1;dim_end=14|11|10;sub_operation=avg"
    )
    def arm(frag, tag):
        df = srv.execute(f"operation=function;function=oph_export;arg='{frag}'")
        return df.select(F.lit(tag).alias("src"), "id_dim", "measure")

    return (
        arm("cube", "nc").unionAll(arm("cube2", "esdm"))
        .unionAll(arm("cube3", "ctas_file")).unionAll(arm("cube4", "ctas_esdm"))
    )


@workload(
    "subset_procedure",
    oracle=f"""
    {_FRAG_QTY_CTE}
    SELECT CAST(row_number() OVER (ORDER BY id_dim) + 99 AS BIGINT) AS id_dim,
           list_transform(measure, x -> x * 2.0) AS measure
    FROM frag_qty
    WHERE ((id_dim - 1) % 3 = 0) AND id_dim >= 1 AND id_dim <= 2000
    ORDER BY id_dim
    """,
    explode=["measure"],
)
def subset_procedure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """oph_subset stored procedure: WHERE + expression + sequential id
    renumbering from id_start=100 (procedures.c:188-196)."""
    srv = _server(spark, sf_dir)
    srv.execute(
        "operation=function;function=oph_subset;"
        "arg='frag_qty'|'100'|'oph_mul_scalar(measure,2.0)'|'frag_out'"
        "|'oph_is_in_subset(id_dim,1,3,2000)'"
    )
    return srv.execute("operation=function;function=oph_export;arg='frag_out'")


@workload(
    "size_procedure",
    oracle=f"""
    {_FRAG_QTY_CTE}
    SELECT 'frag_qty' AS frag,
           CAST(SUM(8 + 8 * len(measure)) AS BIGINT) AS size_bytes
    FROM frag_qty
    """,
)
def size_procedure(spark: SparkSession, sf_dir: str) -> DataFrame:
    srv = _server(spark, sf_dir)
    return srv.execute("operation=function;function=oph_size;arg='frag_qty'")


@workload(
    "insert_multi",
    oracle="""
    SELECT CAST(id_dim AS BIGINT) AS id_dim,
           CAST(measure AS DOUBLE[]) AS measure,
           TRUE AS rs_roundtrip_ok
    FROM (VALUES
      (1, [1.0, 2.0, 3.0]),
      (2, [4.0, 5.0, 6.0]),
      (3, [7.0, 8.0, 9.0]),
      (4, [10.0, 11.0, 12.0])
    ) AS t(id_dim, measure)
    ORDER BY id_dim
    """,
    explode=["measure"],
)
def insert_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """create_frag + insert + multi_insert DDL/DML path with ?N binds
    (reference oph_io_server_query.c:135-339), run inside a created-then-
    dropped database namespace so create_database / drop_frag /
    drop_database (dispatch oph_io_server_query.c:448-483) are also
    driver-verified: any DDL failure raises and turns the row red."""
    srv = IOServer(spark)
    srv.execute("operation=create_database;db_name=wdb")
    srv.catalog.use("wdb")
    srv.execute("operation=create_frag;frag_name=ins")
    srv.execute("operation=insert;frag_name=ins;value=?,?;tot_run=2;curr_run=1",
                params={1: 1, 2: [1.0, 2.0, 3.0]})
    srv.execute("operation=insert;frag_name=ins;value=?,?;tot_run=2;curr_run=2",
                params={1: 2, 2: [4.0, 5.0, 6.0]})
    buf_rows = srv.catalog.df("ins")
    srv.execute("operation=drop_frag;frag_name=ins")
    srv.execute("operation=create_frag;frag_name=ins2")
    srv.execute("operation=multi_insert;frag_name=ins2;value=(?,?),(?,?);final_statement=yes",
                params={1: 3, 2: [7.0, 8.0, 9.0], 3: 4, 4: [10.0, 11.0, 12.0]})
    out = buf_rows.unionAll(srv.catalog.df("ins2"))
    # r5: RS-sink round-trip gate — frame the result through the wire
    # protocol (tiny max_packet_len forces the multi-packet path, covering
    # L/D/B cell tags and the zero-row terminator), decode it client-side
    # and compare against the DataFrame rows.  rs_roundtrip_ok feeds the
    # hash gate (oracle emits literal TRUE); any framing drift reddens the
    # row.  Driver cost: one Arrow collect of 4 rows (one Spark job).
    from ophidia_io_server_spark.protocol import deserialize_packets, serialize_result_set

    nfields, wire_rows = deserialize_packets(serialize_result_set(out, max_packet_len=64))
    local = [[r.id_dim, list(r.measure)] for r in out.collect()]
    rs_ok = nfields == 2 and sorted(wire_rows) == sorted(local)
    out = out.withColumn("rs_roundtrip_ok", F.lit(bool(rs_ok)))
    # reference contract: drop refuses on a non-empty database
    srv.execute("operation=drop_frag;frag_name=ins2")
    srv.execute("operation=drop_database;db_name=wdb")
    return out


