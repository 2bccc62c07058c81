"""Top-level statement dispatcher (≙ ``oph_io_server_dispatcher``,
``/root/reference/src/server/oph_io_server_query.c:37-536``).

``IOServer.execute(query_string)`` parses the ``key=value;`` dialect and
routes to the operator implementations: select, create_frag_select,
create_frag, insert, multi_insert, random_import, drop_frag,
create_database, drop_database, and the stored procedures
(oph_subset / oph_export / oph_size,
``oph_io_server_query_procedures.c:37-488``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from ophidia_io_server_spark.catalog import Catalog
from ophidia_io_server_spark.dialect.parser import parse_query
from ophidia_io_server_spark.operators.select import (
    ID_COL,
    QueryExecError,
    execute_select,
)
from ophidia_io_server_spark.protocol import ResultSet
from ophidia_io_server_spark.sources.random_import import random_fragment

FRAG_SCHEMA = StructType(
    [StructField(ID_COL, LongType(), False), StructField("measure", ArrayType(DoubleType()), True)]
)


@dataclass
class _InsertBuffer:
    """Multi-run insert accumulation (reference oph_io_server_query.c:190-231):
    rows pile up across protocol runs and the fragment is stored at the final
    run.  The streaming path (streaming/ingest.py) is the scale variant."""

    frag: str
    rows: list = field(default_factory=list)


@dataclass
class IOServer:
    spark: SparkSession
    catalog: Catalog = None  # type: ignore[assignment]
    validate_dense: bool = False

    def __post_init__(self):
        if self.catalog is None:
            self.catalog = Catalog(self.spark)
        self._insert_buffers: dict[str, _InsertBuffer] = {}
        self._flushed: set[str] = set()  # fragments whose insert run completed

    # ------------------------------------------------------------------

    def execute(self, query: str, params: dict | None = None, *, result_set: bool = False
                ) -> DataFrame | ResultSet | None:
        """Run one dialect statement; returns a DataFrame for statements that
        produce a result set (select / procedures), else None.  The frame is
        Spark-ordered by the statement's ORDER; with ``result_set=True`` it
        comes back unordered as a ``ResultSet`` carrying the order column,
        for ``protocol.serialize_result_set`` to sort on the driver."""
        q = parse_query(query)
        op = q["operation"]
        handler = getattr(self, f"_op_{op}", None)
        if handler is None:
            raise QueryExecError(f"unknown operation {op!r}")
        out = handler(q, params or {})
        if out is None:
            return None
        if isinstance(out, DataFrame):
            out = ResultSet(out)
        return out if result_set else out.ordered()

    # -- queries --------------------------------------------------------

    def _op_select(self, q, params) -> ResultSet:
        return execute_select(self.catalog, q, params, validate_dense=self.validate_dense)

    def _op_create_frag_select(self, q, params) -> None:
        frag_name = self._frag_name(q)
        fields = q.get("field") or []
        if len(fields) != 2:
            # reference: "Only tables with 2 columns can be created"
            # (oph_io_server_query_manager.h:80, engine.c:110-118)
            raise QueryExecError("create_frag_select requires exactly 2 output columns")
        df = execute_select(self.catalog, q, params, validate_dense=self.validate_dense).ordered()
        seq = q.get("sequential_id")
        if seq is not None:
            df = sequential_ids(df, int(seq))
        self.catalog.put(frag_name, df, temp=False, cache=True)
        return None

    # -- DDL ------------------------------------------------------------

    def _frag_name(self, q) -> str:
        name = q.get("frag_name")
        if not name:
            raise QueryExecError("missing frag_name")
        return name if isinstance(name, str) else name[0]

    def _op_create_frag(self, q, params) -> None:
        frag_name = self._frag_name(q)
        if self.catalog.exists(frag_name):
            raise QueryExecError(f"fragment {frag_name!r} exists")
        empty = self.spark.createDataFrame([], FRAG_SCHEMA)
        self.catalog.put(frag_name, empty, cache=False)
        self._insert_buffers[frag_name] = _InsertBuffer(frag=frag_name)
        self._flushed.discard(frag_name)
        return None

    def _op_drop_frag(self, q, params) -> None:
        frag_name = self._frag_name(q)
        self.catalog.drop(frag_name)
        self._flushed.discard(frag_name)
        self._insert_buffers.pop(frag_name, None)
        return None

    def _op_create_database(self, q, params) -> None:
        self.catalog.create_database(q.get("db_name", q.get("frag_name", "")))
        return None

    def _op_drop_database(self, q, params) -> None:
        self.catalog.drop_database(q.get("db_name", q.get("frag_name", "")))
        return None

    # -- inserts --------------------------------------------------------

    def _buffer_for(self, frag_name: str) -> _InsertBuffer:
        if frag_name not in self._insert_buffers:
            if frag_name in self._flushed:
                # a completed insert run already stored this fragment: the
                # reference rejects further inserts rather than replacing the
                # committed rows (oph_io_server_query.c insert path requires
                # the create_frag-time empty fragment); silently overwriting
                # would drop data
                raise QueryExecError(
                    f"fragment {frag_name!r} already stored; drop/recreate it "
                    "before inserting again"
                )
            self._insert_buffers[frag_name] = _InsertBuffer(frag=frag_name)
        return self._insert_buffers[frag_name]

    def _store_buffer(self, frag_name: str) -> None:
        buf = self._insert_buffers.pop(frag_name, None)
        if buf is None:
            return
        df = self.spark.createDataFrame(
            [Row(id_dim=int(r[0]), measure=[float(v) for v in r[1]]) for r in buf.rows],
            FRAG_SCHEMA,
        )
        self.catalog.put(frag_name, df, cache=True, overwrite=True)
        self._flushed.add(frag_name)

    def _op_insert(self, q, params) -> None:
        """insert: one row per statement; tot_run/curr_run control batching."""
        frag_name = self._frag_name(q)
        buf = self._buffer_for(frag_name)
        buf.rows.append(self._row_from_query(q, params))
        tot = int(q.get("tot_run", 1))
        cur = int(q.get("curr_run", tot))
        if cur >= tot:
            self._store_buffer(frag_name)
        return None

    def _op_multi_insert(self, q, params) -> None:
        frag_name = self._frag_name(q)
        buf = self._buffer_for(frag_name)
        buf.rows.extend(self._rows_from_multi(q, params))
        tot = int(q.get("tot_run", 1))
        cur = int(q.get("curr_run", tot))
        final = str(q.get("final_statement", "yes" if cur >= tot else "no")).lower() == "yes"
        if final:
            self._store_buffer(frag_name)
        return None

    @staticmethod
    def _parse_value_tuple(vals: str, params: dict) -> tuple:
        def bind(tok: str):
            # `?N` → params[N]; typed errors, never a bare KeyError/ValueError
            try:
                n = int(tok[1:])
            except ValueError:
                raise QueryExecError(f"insert: malformed bind marker {tok!r}") from None
            if n not in params:
                raise QueryExecError(f"insert: unbound parameter ?{n}")
            return params[n]

        parts = [p.strip() for p in vals.split(",", 1)]
        idv = parts[0]
        mv = parts[1] if len(parts) > 1 else "?"
        try:
            id_val = bind(idv) if idv.startswith("?") else int(idv)
            m_val = bind(mv) if mv.startswith("?") else [float(x) for x in mv.strip("[]").split()]
        except QueryExecError:
            raise
        except ValueError as e:
            raise QueryExecError(f"insert: bad value literal in {vals!r}: {e}") from None
        return (id_val, m_val)

    def _row_from_query(self, q, params) -> tuple:
        vals = q.get("value")
        if not vals:
            raise QueryExecError("insert: missing value clause")
        return self._parse_value_tuple(vals, params)

    def _rows_from_multi(self, q, params) -> list[tuple]:
        vals = q.get("value")
        if not vals:
            raise QueryExecError("multi_insert: missing value clause")
        return [self._parse_value_tuple(v.strip().strip("()"), params)
                for v in vals.split("),(")]

    # -- sources --------------------------------------------------------

    _MEASURE_TYPES = {
        # reference element types (oph-lib-binary-io.h:61-68); bit → boolean
        "oph_byte": "tinyint", "oph_short": "smallint", "oph_int": "int",
        "oph_long": "bigint", "oph_float": "float", "oph_double": "double",
        "oph_bit": "boolean",
    }

    def _op_random_import(self, q, params) -> None:
        frag_name = self._frag_name(q)
        nrows = int(q.get("nrows", 100))
        array_len = int(q.get("array_len", q.get("array_length", 10)))
        algorithm = q.get("algorithm", "default")
        seed = int(q.get("seed", 42))
        df = random_fragment(self.spark, nrows, array_len, algorithm=algorithm, seed=seed)
        mtype = str(q.get("measure_type", "oph_double")).lower()
        if mtype not in self._MEASURE_TYPES:
            raise QueryExecError(f"random_import: unknown measure_type {mtype!r}")
        t = self._MEASURE_TYPES[mtype]
        if t == "boolean":
            df = df.withColumn("measure", F.transform("measure", lambda x: x >= 0.5))
        elif t != "double":
            df = df.withColumn("measure", F.col("measure").cast(f"array<{t}>"))
        self.catalog.put(frag_name, df, cache=True)
        return None

    def _import_df(self, q) -> DataFrame:
        from ophidia_io_server_spark.sources.netcdf_import import (
            import_variable,
            import_variable_multifile,
        )

        src = q.get("src_path")
        measure = q.get("measure")
        if not src or not measure:
            raise QueryExecError("import: src_path and measure are required")
        dims = q.get("dim") or []
        if isinstance(dims, str):
            dims = [dims]
        if "|" in src:  # multi-file concat along the record dimension
            return import_variable_multifile(
                self.spark, [p.strip() for p in src.split("|")], measure,
                dim_names=dims,
                dim_types=q.get("dim_type") or [],
                dim_indexes=q.get("dim_index"),
                sub_operation=q.get("sub_operation"),
            )
        return import_variable(
            self.spark, src, measure,
            dim_names=dims,
            dim_types=q.get("dim_type") or [],
            dim_indexes=q.get("dim_index"),
            dim_starts=q.get("dim_start"),
            dim_ends=q.get("dim_end"),
            sub_operation=q.get("sub_operation"),
            row_start=int(q["row_start"]) if q.get("row_start") else None,
            nrows_limit=int(q["nrows"]) if q.get("nrows") else None,
        )

    def _op_file_import(self, q, params) -> None:
        """Standalone NetCDF import (reference oph_io_server_query.c:341-356
        → oph_io_server_nc.c dispatch)."""
        self.catalog.put(self._frag_name(q), self._import_df(q), cache=True)
        return None

    _op_esdm_import = _op_file_import  # same surface, esdm:// scheme + kernels

    def _op_create_frag_select_file(self, q, params) -> None:
        """CTAS where one FROM entry is the @file pseudo-table (reference
        oph_io_server_query.c:72-87, blocks.c:1985-2007): the import result is
        registered as a temporary fragment visible to the select."""
        pseudo = "@file" if "@file" in (q.get("from") or []) else "@esdm"
        tmp_name = f"__import_{self._frag_name(q)}"
        self.catalog.put(tmp_name, self._import_df(q), temp=True, cache=False)
        try:
            q = dict(q)
            q["from"] = [tmp_name if f == pseudo else f for f in (q.get("from") or [])]
            return self._op_create_frag_select(q, params)
        finally:
            self.catalog.drop(tmp_name)

    _op_create_frag_select_esdm = _op_create_frag_select_file

    # -- stored procedures ---------------------------------------------

    def _op_function(self, q, params) -> DataFrame | ResultSet | None:
        fname = (q.get("function") or "").lower()
        args = q.get("arg") or []
        if isinstance(args, str):
            args = [args]
        args = [a.strip().strip("'") for a in args]
        if fname == "oph_subset":
            return self._proc_subset(args, params)
        if fname == "oph_export":
            return ResultSet(self.catalog.df(args[0]), ID_COL)
        if fname == "oph_export_nc":
            # oph_export_nc(frag, path[, sharded]) — write the fragment to a
            # classic NetCDF file (or one file per partition when sharded),
            # the write half of the file surface (sources/netcdf_classic.py)
            from ophidia_io_server_spark.sources.netcdf_classic import (
                export_fragment_nc,
                export_fragment_nc_sharded,
            )

            if len(args) < 2:
                raise QueryExecError("oph_export_nc needs (frag, path[, sharded])")
            frag_df = self.catalog.df(args[0])
            sharded = len(args) > 2 and str(args[2]).lower() in ("1", "yes", "true")
            n = (export_fragment_nc_sharded(frag_df, args[1]) if sharded
                 else export_fragment_nc(frag_df, args[1]))
            return self.spark.createDataFrame([Row(frag=args[0], written=n)])
        if fname == "oph_size":
            entry = self.catalog.get(args[0])
            return self.spark.createDataFrame(
                [Row(frag=entry.name, size_bytes=entry.size_bytes())]
            )
        raise QueryExecError(f"unknown procedure {fname!r}")

    def _proc_subset(self, args, params) -> None:
        """oph_subset(in_frag, id_start, measure_expr, out_frag[, where]) —
        reference rewrites into create_frag_select with sequential_id
        (oph_io_server_query_procedures.c:188-196)."""
        if len(args) < 4:
            raise QueryExecError("oph_subset needs (in_frag, id_start, expr, out_frag[, where])")
        in_frag, id_start, expr, out_frag = args[0], int(args[1]), args[2], args[3]
        where = args[4] if len(args) > 4 else None
        sub = {
            "operation": "create_frag_select",
            "frag_name": out_frag,
            "from": [in_frag],
            "field": [ID_COL, expr],
            "select_alias": [ID_COL, "measure"],
            "sequential_id": str(id_start),
        }
        if where:
            sub["where"] = where
        return self._op_create_frag_select(sub, params)


def sequential_ids(df: DataFrame, id_start: int) -> DataFrame:
    """Renumber id_dim sequentially from id_start in id order (reference
    sequential_id mechanics, blocks.c:2173-2186,2459-2477).

    Scale-safe two-pass dense numbering (no single-partition global window):
    (1) range-partition by id_dim so partitions hold contiguous id ranges,
    (2) count rows per partition, prefix-sum the counts on the driver
    (one tiny array), (3) number each partition independently as
    offset + local_rank.  Every pass is fully parallel.

    The count pass and the renumber pass MUST see the same rows in the same
    partitions: repartitionByRange samples range boundaries per job, so two
    independent actions on the unpersisted plan could place rows differently
    and silently break the dense-id invariant the join contract depends on.
    So: persist the partitioned frame, materialize it through the count pass,
    renumber from the pinned cache, materialize the (cached) result, then
    release the intermediate.
    """
    import pandas as pd  # noqa: PLC0415 — driver-side tiny frame only

    other = [c for c in df.columns if c != ID_COL]
    # explicit partition count: user-specified repartitions are exempt from
    # AQE coalescing, so BOTH passes below see identical partition ids
    nparts = df.sparkSession.sparkContext.defaultParallelism
    parts = df.repartitionByRange(nparts, F.col(ID_COL).asc()) \
        .sortWithinPartitions(ID_COL).persist()
    counts_schema = "pid int, cnt long"

    def count_rows(it):
        n = 0
        pid = -1
        for pdf in it:
            n += len(pdf)
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        yield pd.DataFrame({"pid": [pid], "cnt": [n]})

    counts = {r.pid: r.cnt for r in parts.mapInPandas(count_rows, counts_schema).collect()}
    offsets = {}
    acc = id_start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = ", ".join(
        [f"{ID_COL} long"] + [f"{c} {t}" for c, t in df.dtypes if c != ID_COL]
    )

    def renumber(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = offsets.get(pid, id_start)
        seen = 0
        for pdf in it:
            pdf = pdf.copy()
            pdf[ID_COL] = range(base + seen, base + seen + len(pdf))
            seen += len(pdf)
            yield pdf[[ID_COL] + other]

    out = parts.mapInPandas(renumber, out_schema).cache()
    out.count()  # pin the renumbered rows before freeing the intermediate
    parts.unpersist()
    return out
