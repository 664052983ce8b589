"""Lazy column-on-demand DataFrame facade (SURVEY §3.3).

API-compatible rebuild of ``LazyParquetDF`` / ``LazyParquetDataFrame``
(``/root/reference/parq_tools/lazy_parquet.py:18-570,593-1038``). The
reference hand-implements laziness (per-column reads, a pandas cache,
mutation overlay by row position). A Spark ``DataFrame`` *is* lazy —
Catalyst prunes to exactly the touched columns — so this class is a
thin facade that keeps the reference's ergonomics:

- ``columns`` / ``shape`` / ``dtypes`` — footer-cheap metadata;
- ``lazy["col"]`` — a :class:`LazyColumn` (lazy Catalyst expression;
  iterating / ``to_pandas`` materializes one column);
- ``lazy["a"] + lazy["b"]`` — arithmetic/comparison/boolean dunders
  compose Column expressions WITHOUT materializing (the reference's
  dunders, ``lazy_parquet.py:899-1038``, round-trip through pandas);
- ``lazy["new"] = scalar | expr | LazyColumn | array-like`` —
  mutation overlay;
- ``lazy.loc[mask]`` / ``lazy.loc[mask, cols]`` — the reference's
  ``LazyLocIndexer`` (``lazy_parquet.py:573-590``), kept lazy for
  boolean-expression masks; ``lazy.loc[mask, col] = value`` becomes a
  ``CASE WHEN`` projection, not a pandas round-trip;
- ``head`` / ``query`` / ``filter`` / ``describe`` — plan operations;
- ``iter_row_chunks`` — ordered pandas chunks, O(chunk) driver memory;
- ``to_pandas`` / ``to_parquet`` / ``save`` — materialization sinks.

Row identity (the reference leans on implicit file order, SURVEY §7.4
#1) is made explicit, and paid for only where position matters. The
constructor tags rows with ``monotonically_increasing_id()`` as
``_row_id``: ``partition_id << 33 + seq``, monotone in file scan order
but sparse, and a projection rather than a job — so opening a frame,
``shape``, aggregates, mask filters and ``assign`` run only the jobs
their answer needs. Ordered reads (``head``, ``to_pandas``,
``LazyColumn.to_pandas``) sort by the sparse id, which orders rows
exactly as a dense ordinal would. Positional operations (chunk
iteration, array-like assignment, boolean-array masks) need dense
ranks; they re-rank ``_row_id`` into [0, n) on demand — distributed,
by a window over id buckets whose offsets come from a per-bucket count
(no single-partition window), computed from the id values alone so the
ranks do not depend on how a shuffle happened to split the rows.
"""

from __future__ import annotations

from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from parq_tools_spark.plans.query_parser import build_filter_expression

_ROW_ID = "_row_id"
#: ``_row_id`` low bits spanned by one re-ranking bucket (2**20 ids).
_BUCKET_BITS = 20

#: Hard cap on driver-resident values accepted by array-like
#: ``__setitem__`` / boolean-array ``.loc`` masks. Larger assignments
#: must go through a parquet-backed join (write the values with a key
#: column and ``concat_with_dataframe`` / ``join`` them in). The
#: reference holds the whole column in driver memory too
#: (``lazy_parquet.py:222-245``) — the cap makes the scale boundary
#: explicit instead of OOM-ing an executor broadcast.
MAX_DRIVER_ASSIGN_ROWS = 10_000_000

__all__ = [
    "LazySparkDF",
    "LazyColumn",
    "LazyGroupBy",
    "LazyLocIndexer",
    "with_row_ordinal",
]


def with_row_ordinal(df: DataFrame, name: str = _ROW_ID) -> DataFrame:
    """Attach a dense 0-based ordinal in scan order — distributed.

    The rows are tagged with ``monotonically_increasing_id`` and the
    tags re-ranked by :func:`_rerank_dense` (never a single-partition
    ``row_number() OVER ()`` window).
    """
    return _rerank_dense(df.withColumn(name, F.monotonically_increasing_id()), name)


def _rerank_dense(df: DataFrame, name: str) -> DataFrame:
    """Replace the unique ids in column ``name`` with their 0-based rank.

    Ids are bucketed by their high bits (``id >> _BUCKET_BITS``); a small
    per-bucket count, collected on the driver, gives each bucket's
    offset, and a window partitioned by bucket ranks rows inside it. A
    scan-order id (``partition << 33 + seq``) never shares a bucket with
    another partition's, and a bucket holds at most 2**20 ids, so no
    window task sees more than ~1M rows. Every step is a function of the
    id values alone — not of how rows happen to be partitioned — so the
    offsets collected in one job stay valid for the job that uses them.
    """
    bucket = F.shiftright(F.col(name), _BUCKET_BITS)
    counts = df.groupBy(bucket.alias("_bucket")).count().collect()
    rows, offset = [], 0
    for r in sorted(counts, key=lambda r: r["_bucket"]):
        rows.append((r["_bucket"], offset))
        offset += r["count"]
    offsets = df.sparkSession.createDataFrame(rows, "_bucket long, _offset long")
    rank = F.row_number().over(Window.partitionBy("_bucket").orderBy(name))
    return (
        df.withColumn("_bucket", bucket)
        .join(F.broadcast(offsets), on="_bucket", how="inner")
        .withColumn(name, F.col("_offset") + rank - 1)
        .drop("_bucket", "_offset")
    )


def _tag_scan_order(df: DataFrame) -> DataFrame:
    """Tag rows with a sparse ``_row_id`` that is monotone in scan order.

    ``monotonically_increasing_id`` is evaluated in the projection right
    above the scan, so tagging launches no job; filters stay above it
    (Catalyst never pushes a predicate through a nondeterministic
    projection), so surviving rows keep their scan-time ids.
    :func:`_rerank_dense` turns them dense when a positional operation
    needs it.
    """
    return df.withColumn(_ROW_ID, F.monotonically_increasing_id())


def _index_cols_from_pandas_metadata(
    path: str, available: Sequence[str]
) -> list[str]:
    """Named index columns recorded in the footer's pandas blob."""
    try:
        from parq_tools_spark.operators.schema_tools import read_pandas_metadata

        blob = read_pandas_metadata(path)
    except Exception:
        return []
    if not blob:
        return []
    return [
        c
        for c in blob.get("index_columns", [])
        if isinstance(c, str) and c in set(available)  # skip RangeIndex dicts
    ]


class LazyColumn:
    """A lazily-evaluated column expression bound to a :class:`LazySparkDF`.

    The reference's arithmetic/comparison dunders
    (``lazy_parquet.py:899-1038``) materialize the whole frame to
    pandas on every operation. Here each operation composes a Catalyst
    ``Column`` expression instead; nothing touches the data until the
    result is iterated, assigned back (``lazy["c"] = col``), used as a
    ``.loc`` mask, or converted with :meth:`to_pandas`. At 100 TB that
    is the difference between a projection pushed into the scan and an
    impossible driver collect.
    """

    def __init__(self, parent: "LazySparkDF", expr: Column, name: str = "_col"):
        self._parent = parent
        self._expr = expr
        self._name = name

    # --------------------------------------------------------- composition
    @staticmethod
    def _unwrap(other) -> Column:
        if isinstance(other, LazyColumn):
            return other._expr
        if isinstance(other, Column):
            return other
        return F.lit(other)

    def _make(self, expr: Column) -> "LazyColumn":
        return LazyColumn(self._parent, expr, self._name)

    # arithmetic
    def __add__(self, other):
        return self._make(self._expr + self._unwrap(other))

    def __radd__(self, other):
        return self._make(self._unwrap(other) + self._expr)

    def __sub__(self, other):
        return self._make(self._expr - self._unwrap(other))

    def __rsub__(self, other):
        return self._make(self._unwrap(other) - self._expr)

    def __mul__(self, other):
        return self._make(self._expr * self._unwrap(other))

    def __rmul__(self, other):
        return self._make(self._unwrap(other) * self._expr)

    def __truediv__(self, other):
        return self._make(self._expr / self._unwrap(other))

    def __rtruediv__(self, other):
        return self._make(self._unwrap(other) / self._expr)

    def __floordiv__(self, other):
        return self._make(F.floor(self._expr / self._unwrap(other)))

    def __rfloordiv__(self, other):
        return self._make(F.floor(self._unwrap(other) / self._expr))

    def __mod__(self, other):
        return self._make(self._expr % self._unwrap(other))

    def __rmod__(self, other):
        return self._make(self._unwrap(other) % self._expr)

    def __pow__(self, other):
        return self._make(self._expr ** self._unwrap(other))

    def __rpow__(self, other):
        return self._make(self._unwrap(other) ** self._expr)

    def __neg__(self):
        return self._make(-self._expr)

    def __abs__(self):
        return self._make(F.abs(self._expr))

    def __round__(self, n: int = 0):
        return self._make(F.round(self._expr, n))

    # boolean
    def __and__(self, other):
        return self._make(self._expr & self._unwrap(other))

    def __rand__(self, other):
        return self._make(self._unwrap(other) & self._expr)

    def __or__(self, other):
        return self._make(self._expr | self._unwrap(other))

    def __ror__(self, other):
        return self._make(self._unwrap(other) | self._expr)

    def __xor__(self, other):
        a, b = self._expr, self._unwrap(other)
        return self._make((a | b) & ~(a & b))

    def __invert__(self):
        return self._make(~self._expr)

    # comparison — returns LazyColumn, so the object is unhashable on
    # purpose (same tradeoff pandas Series makes)
    def __eq__(self, other):  # type: ignore[override]
        return self._make(self._expr == self._unwrap(other))

    def __ne__(self, other):  # type: ignore[override]
        return self._make(self._expr != self._unwrap(other))

    def __lt__(self, other):
        return self._make(self._expr < self._unwrap(other))

    def __le__(self, other):
        return self._make(self._expr <= self._unwrap(other))

    def __gt__(self, other):
        return self._make(self._expr > self._unwrap(other))

    def __ge__(self, other):
        return self._make(self._expr >= self._unwrap(other))

    __hash__ = None  # type: ignore[assignment]

    # pandas-flavored helpers
    def isin(self, values) -> "LazyColumn":
        return self._make(self._expr.isin(list(values)))

    def isna(self) -> "LazyColumn":
        return self._make(self._expr.isNull())

    def notna(self) -> "LazyColumn":
        return self._make(self._expr.isNotNull())

    def fillna(self, value) -> "LazyColumn":
        return self._make(F.coalesce(self._expr, F.lit(value)))

    def astype(self, dtype: str) -> "LazyColumn":
        return self._make(self._expr.cast(dtype))

    def rename(self, name: str) -> "LazyColumn":
        return LazyColumn(self._parent, self._expr, name)

    @property
    def str(self) -> "_StrAccessor":
        return _StrAccessor(self)

    @property
    def dt(self) -> "_DtAccessor":
        return _DtAccessor(self)

    @property
    def name(self) -> str:
        return self._name

    @property
    def expr(self) -> Column:
        """Escape hatch: the underlying Spark ``Column``."""
        return self._expr

    # ------------------------------------------------------ materialization
    def to_pandas(self) -> pd.Series:
        pdf = (
            self._parent._ordered()
            .select(self._expr.alias(self._name))
            .toPandas()
        )
        return pdf[self._name]

    # aggregates evaluate eagerly — they return a scalar like pandas
    def _agg(self, fn) -> object:
        row = self._parent._df.select(fn(self._expr).alias("v")).collect()[0]
        return row["v"]

    def sum(self):
        return self._agg(F.sum)

    def mean(self):
        return self._agg(F.mean)

    def min(self):
        return self._agg(F.min)

    def max(self):
        return self._agg(F.max)

    def count(self):
        return self._agg(F.count)

    def nunique(self):
        return self._agg(F.countDistinct)

    def __iter__(self):
        return iter(self.to_pandas())

    def __len__(self) -> int:
        return len(self._parent)

    @property
    def values(self):
        return self.to_pandas().values

    def tolist(self) -> list:
        return self.to_pandas().tolist()

    def __repr__(self) -> str:
        return f"LazyColumn({self._name!r})"


class _StrAccessor:
    """pandas ``Series.str``-shaped string namespace, fully lazy.

    Every method composes a Catalyst expression on the parent column —
    ``lazy["name"].str.lower().str.contains("smith")`` never touches
    the data. ``contains``/``replace`` follow pandas defaults
    (regex=True).
    """

    def __init__(self, col: "LazyColumn"):
        self._c = col

    def _m(self, expr: Column) -> "LazyColumn":
        return self._c._make(expr)

    def lower(self):
        return self._m(F.lower(self._c._expr))

    def upper(self):
        return self._m(F.upper(self._c._expr))

    def strip(self):
        return self._m(F.trim(self._c._expr))

    def lstrip(self):
        return self._m(F.ltrim(self._c._expr))

    def rstrip(self):
        return self._m(F.rtrim(self._c._expr))

    def len(self):
        return self._m(F.length(self._c._expr))

    def contains(self, pat: str, regex: bool = True):
        e = self._c._expr
        return self._m(e.rlike(pat) if regex else e.contains(pat))

    def startswith(self, prefix: str):
        return self._m(self._c._expr.startswith(prefix))

    def endswith(self, suffix: str):
        return self._m(self._c._expr.endswith(suffix))

    def replace(self, pat: str, repl: str, regex: bool = True):
        e = self._c._expr
        if regex:
            return self._m(F.regexp_replace(e, pat, repl))
        return self._m(F.replace(e, F.lit(pat), F.lit(repl)))

    def slice(self, start: int = 0, stop: Optional[int] = None):
        length = (stop - start) if stop is not None else (1 << 30)
        return self._m(F.substring(self._c._expr, start + 1, length))

    def split(self, pat: str = r"\s+"):
        return self._m(F.split(self._c._expr, pat))

    def zfill(self, width: int):
        e = self._c._expr
        # pandas zfill never truncates values longer than width
        return self._m(
            F.when(F.length(e) >= width, e).otherwise(F.lpad(e, width, "0"))
        )


class _DtAccessor:
    """pandas ``Series.dt``-shaped datetime namespace, fully lazy."""

    def __init__(self, col: "LazyColumn"):
        self._c = col

    def _m(self, expr: Column) -> "LazyColumn":
        return self._c._make(expr)

    @property
    def year(self):
        return self._m(F.year(self._c._expr))

    @property
    def month(self):
        return self._m(F.month(self._c._expr))

    @property
    def day(self):
        return self._m(F.dayofmonth(self._c._expr))

    @property
    def hour(self):
        return self._m(F.hour(self._c._expr))

    @property
    def minute(self):
        return self._m(F.minute(self._c._expr))

    @property
    def second(self):
        return self._m(F.second(self._c._expr))

    @property
    def dayofweek(self):
        # pandas: Monday=0 ... Sunday=6; Spark dayofweek: Sunday=1..Saturday=7
        return self._m((F.dayofweek(self._c._expr) + 5) % 7)

    @property
    def date(self):
        return self._m(F.to_date(self._c._expr))

    def floor(self, freq: str):
        unit = {"D": "day", "H": "hour", "T": "minute", "min": "minute"}.get(
            freq, freq
        )
        return self._m(F.date_trunc(unit, self._c._expr))

    def strftime(self, fmt: str):
        # translate the common strftime directives to Spark's pattern
        spark_fmt = (
            fmt.replace("%Y", "yyyy")
            .replace("%m", "MM")
            .replace("%d", "dd")
            .replace("%H", "HH")
            .replace("%M", "mm")
            .replace("%S", "ss")
        )
        return self._m(F.date_format(self._c._expr, spark_fmt))


class LazyLocIndexer:
    """``.loc`` accessor (reference ``LazyLocIndexer``,
    ``lazy_parquet.py:573-590``).

    The reference routes every ``.loc`` through ``to_pandas()``. Here a
    boolean :class:`LazyColumn` / DSL-string mask stays a Catalyst
    filter, and ``loc[mask, col] = value`` compiles to
    ``CASE WHEN mask THEN value ELSE col END`` — both fully lazy and
    distributed. Driver-resident boolean arrays are accepted for
    pandas parity, positionally aligned via the dense ordinal, and
    size-capped by :data:`MAX_DRIVER_ASSIGN_ROWS`.
    """

    def __init__(self, parent: "LazySparkDF"):
        self._parent = parent

    def _masked(self, mask) -> "LazySparkDF":
        p = self._parent
        if isinstance(mask, slice):
            if mask.start is None and mask.stop is None and mask.step is None:
                return p
            raise TypeError("Only the full slice `:` is supported for rows")
        if isinstance(mask, (LazyColumn, Column)):
            out = p._wrap(p._df.filter(LazyColumn._unwrap(mask)))
            out._dense = False
            return out
        if isinstance(mask, str):
            return p.filter(mask)
        is_seq = hasattr(mask, "__len__") and not isinstance(mask, str)
        if is_seq and len(mask) == 0:
            # pandas: df.loc[[]] selects nothing (works for both empty
            # label lists and empty masks)
            out = p._wrap(p._df.filter(F.lit(False)))
            out._dense = False
            return out
        if is_seq and all(isinstance(v, (bool, np.bool_)) for v in mask):
            # boolean array-like, positional (pandas rule: a mask is a
            # mask only when every element is an actual bool)
            flags = [bool(v) for v in mask]
            if len(flags) != len(p):
                raise ValueError(
                    f"Boolean mask length {len(flags)} does not match "
                    f"{len(p)} rows"
                )
            if len(flags) > MAX_DRIVER_ASSIGN_ROWS:
                raise ValueError(
                    f"Boolean mask of {len(flags):,} elements exceeds "
                    f"MAX_DRIVER_ASSIGN_ROWS ({MAX_DRIVER_ASSIGN_ROWS:,}); "
                    "use a LazyColumn/DSL expression mask instead"
                )
            keep = [i for i, f in enumerate(flags) if f]
            dense = p._densified()
            lookup = p._spark.createDataFrame(
                [(i,) for i in keep], f"{_ROW_ID} long"
            )
            out = p._wrap(dense.join(F.broadcast(lookup), on=_ROW_ID, how="inner"))
            out._dense = False
            return out
        # label-based access on the index column(s), like pandas
        # .loc[value] / .loc[[v1, v2]] / .loc[(a, b)] / .loc[[(a, b)]]
        # — a lazy filter, never a collect
        if p._index_columns:
            idxs = p._index_columns
            if len(idxs) == 1:
                values = list(mask) if is_seq else [mask]
                out = p._wrap(p._df.filter(F.col(idxs[0]).isin(values)))
                out._dense = False
                return out
            # multi-level index: a tuple is one label, a list of tuples
            # several (pandas MultiIndex parity)
            if isinstance(mask, tuple) and len(mask) == len(idxs):
                labels = [mask]
            else:
                labels = list(mask) if is_seq else [mask]
            bad = [
                l
                for l in labels
                if not (isinstance(l, tuple) and len(l) == len(idxs))
            ]
            if bad:
                raise TypeError(
                    f".loc labels on a {len(idxs)}-level index must be "
                    f"{len(idxs)}-tuples (index columns {idxs}); got "
                    f"{bad[0]!r}"
                )
            cond = F.lit(False)
            for lab in labels:
                one = F.lit(True)
                for c, v in zip(idxs, lab):
                    one = one & (F.col(c) == F.lit(v))
                cond = cond | one
            out = p._wrap(p._df.filter(cond))
            out._dense = False
            return out
        raise TypeError(f"Unsupported .loc row key: {type(mask)!r}")

    def __getitem__(self, key):
        if isinstance(key, tuple) and len(key) == 2:
            p = self._parent
            # pandas MultiIndex parity: on a multi-level index a tuple
            # whose width matches the index and whose elements are all
            # scalars is a row LABEL, not a (mask, columns) pair — use
            # .loc[mask][cols] for masked column selection there
            if (
                len(p._index_columns) == 2
                and all(
                    not isinstance(k, (LazyColumn, Column, slice, list))
                    for k in key
                )
            ):
                return self._masked(key)
            mask, cols = key
            sub = self._masked(mask)
            if isinstance(cols, str):
                return sub[cols]
            return sub.select(list(cols))
        return self._masked(key)

    def __setitem__(self, key, value) -> None:
        if not (isinstance(key, tuple) and len(key) == 2):
            raise TypeError(".loc assignment requires (mask, column) keys")
        mask, col = key
        if not isinstance(col, str):
            raise TypeError(".loc assignment supports a single column name")
        p = self._parent
        if isinstance(mask, str):
            cond = build_filter_expression(mask, p._user_columns)
        elif isinstance(mask, (LazyColumn, Column)):
            cond = LazyColumn._unwrap(mask)
        else:
            raise TypeError(
                ".loc assignment masks must be LazyColumn/Column/DSL string"
            )
        if hasattr(value, "__len__") and not isinstance(value, (str, bytes)):
            raise TypeError(
                ".loc assignment values must be scalars or "
                "LazyColumn/Column expressions; got an array-like "
                "(positional array assignment is only supported via "
                "frame[col] = values on an unmasked frame)"
            )
        val = LazyColumn._unwrap(value)
        if col in p._df.columns:
            new = F.when(cond, val).otherwise(F.col(col))
        else:
            new = F.when(cond, val)  # NULL elsewhere, like pandas NaN
        p._df = p._df.withColumn(col, new)
        if col not in p._user_columns:
            p._user_columns.append(col)


class LazySparkDF:
    """Column-on-demand facade over a Parquet-backed Spark DataFrame."""

    def __init__(
        self,
        spark: SparkSession,
        path: Optional[str] = None,
        df: Optional[DataFrame] = None,
        index_columns: Optional[Sequence[str]] = None,
    ):
        if (path is None) == (df is None):
            raise ValueError("Provide exactly one of path or df")
        from parq_tools_spark.sources.parquet_io import read_parquet

        base = read_parquet(spark, path) if path else df
        self._spark = spark
        self._source_path = path
        if index_columns is None and path is not None:
            # reference parity (``lazy_parquet.py:78-93``): index columns
            # come from the file's pandas schema metadata when present
            index_columns = _index_cols_from_pandas_metadata(path, base.columns)
        self._index_columns = list(index_columns or [])
        self._df = _tag_scan_order(base)
        self._user_columns = [c for c in base.columns]
        # scan-order ids are sparse until a positional op densifies them
        self._dense = False

    # ------------------------------------------------------------ metadata
    @property
    def columns(self) -> list[str]:
        return list(self._user_columns)

    #: Spark simpleString dtype -> (nullable pandas extension dtype,
    #: non-null numpy dtype), mirroring the reference's pyarrow mapping
    #: (``lazy_parquet.py:805-832``): nullable ints/floats report
    #: pandas extension dtypes so null-capable columns don't silently
    #: read as int64-that-will-coerce-to-float64.
    _PANDAS_DTYPES = {
        "tinyint": ("Int8", "int8"),
        "smallint": ("Int16", "int16"),
        "int": ("Int32", "int32"),
        "bigint": ("Int64", "int64"),
        "float": ("Float32", "float32"),
        "double": ("Float64", "float64"),
    }

    @property
    def dtypes(self) -> dict[str, str]:
        """pandas-parity dtype names (reference ``lazy_parquet.py:805-832``):
        nullable integer/float columns map to pandas extension dtypes
        (``Int64``/``Float32``/...), non-nullable ones to plain numpy
        names; booleans are ``bool``, strings/decimals/dates and nested
        types ``object``, timestamps ``datetime64[us]`` (what
        ``toPandas`` materializes). Spark-native type strings remain
        available as :attr:`spark_dtypes`."""
        nullable = {f.name: f.nullable for f in self._df.schema.fields}
        spark_types = dict(self._df.dtypes)
        out: dict[str, str] = {}
        for c in self._user_columns:
            dt = spark_types[c]
            if dt in self._PANDAS_DTYPES:
                ext, plain = self._PANDAS_DTYPES[dt]
                out[c] = ext if nullable.get(c, True) else plain
            elif dt == "boolean":
                out[c] = "bool"
            elif dt.startswith("timestamp"):
                out[c] = "datetime64[us]"
            else:
                out[c] = "object"
        return out

    @property
    def spark_dtypes(self) -> dict[str, str]:
        d = dict(self._df.dtypes)
        return {c: d[c] for c in self._user_columns}

    @property
    def shape(self) -> tuple[int, int]:
        return (self._df.count(), len(self._user_columns))

    def __len__(self) -> int:
        return self.shape[0]

    def __contains__(self, col: str) -> bool:
        return col in self._user_columns

    # ------------------------------------------------------------ access
    def __getitem__(self, key):
        if isinstance(key, str):
            if key not in self._user_columns:
                raise KeyError(key)
            return LazyColumn(self, F.col(key), key)
        if isinstance(key, (list, tuple)):
            missing = [c for c in key if c not in self._user_columns]
            if missing:
                raise KeyError(missing)
            return self._ordered().select(*key).toPandas()
        if isinstance(key, (LazyColumn, Column)):
            # boolean-mask spelling: lazy[lazy["x"] > 3]
            out = self._wrap(self._df.filter(LazyColumn._unwrap(key)))
            out._dense = False
            return out
        raise TypeError(f"Unsupported key type: {type(key)!r}")

    def __setitem__(self, name: str, value) -> None:
        if isinstance(value, LazyColumn):
            self._df = self._df.withColumn(name, value._expr)
        elif isinstance(value, Column):
            self._df = self._df.withColumn(name, value)
        elif isinstance(value, str):
            self._df = self._df.withColumn(name, F.expr(value))
        elif hasattr(value, "__len__") and not isinstance(value, (bytes,)):
            values = list(value)
            if len(values) != len(self):
                raise ValueError(
                    f"Length mismatch: {len(values)} values for {len(self)} rows"
                )
            if len(values) > MAX_DRIVER_ASSIGN_ROWS:
                raise ValueError(
                    f"Array-like assignment of {len(values):,} values exceeds "
                    f"MAX_DRIVER_ASSIGN_ROWS ({MAX_DRIVER_ASSIGN_ROWS:,}). "
                    "Driver-resident values are broadcast to every executor; "
                    "at this size write them to parquet with a key column and "
                    "join instead (e.g. operators.concat.concat_with_dataframe)."
                )
            # positional alignment: join on the DENSE ordinal, so values
            # line up with visible row positions even after a filter
            dense = self._densified()
            lookup = self._spark.createDataFrame(
                pd.DataFrame({_ROW_ID: range(len(values)), name: values})
            )
            existing = dense.drop(name) if name in dense.columns else dense
            self._df = existing.join(F.broadcast(lookup), on=_ROW_ID, how="left")
            self._dense = True
        else:
            self._df = self._df.withColumn(name, F.lit(value))
        if name not in self._user_columns:
            self._user_columns.append(name)

    @property
    def loc(self) -> LazyLocIndexer:
        return LazyLocIndexer(self)

    # ------------------------------------------------- pandas-shaped verbs
    # (reference LazyParquetDataFrame.assign/insert/drop/rename,
    # ``lazy_parquet.py:835-875`` — there they materialize to pandas and
    # rebuild; here each is a pure plan transformation)
    def assign(self, **kwargs) -> "LazySparkDF":
        """Return a new frame with extra/replaced columns (lazy)."""
        out = self._wrap(self._df)
        for name, value in kwargs.items():
            out[name] = value
        return out

    def insert(self, loc: int, column: str, value) -> None:
        """Add a column at position ``loc`` (in-place, like pandas)."""
        if column in self._user_columns:
            raise ValueError(f"Column {column!r} already exists.")
        self[column] = value
        self._user_columns.remove(column)
        self._user_columns.insert(loc, column)

    def drop(self, columns: str | Sequence[str]) -> "LazySparkDF":
        """Return a new frame without the given columns (lazy)."""
        dropped = [columns] if isinstance(columns, str) else list(columns)
        missing = [c for c in dropped if c not in self._user_columns]
        if missing:
            raise KeyError(missing)
        out = self._wrap(self._df.drop(*dropped))
        out._user_columns = [c for c in self._user_columns if c not in dropped]
        return out

    def rename(self, columns: dict[str, str]) -> "LazySparkDF":
        """Return a new frame with columns renamed (lazy)."""
        out = self._wrap(self._df.withColumnsRenamed(columns))
        out._user_columns = [columns.get(c, c) for c in self._user_columns]
        return out

    def __iter__(self):
        # pandas semantics: iterating a frame yields column names
        return iter(self._user_columns)

    def __repr__(self) -> str:
        n_cols = len(self._user_columns)
        return f"LazySparkDF({n_cols} columns: {self._user_columns[:8]}...)"

    # ------------------------------------------------------------ plan ops
    def _ordered(self) -> DataFrame:
        return self._df.orderBy(_ROW_ID)

    def _densified(self) -> DataFrame:
        """Return ``_df`` with ``_row_id`` re-ranked to a dense [0, n).

        Scan-order ids are sparse from construction, and a ``filter``
        leaves gaps in any ordinal; positional operations need dense
        ranks, so they (and only they) pay for this: one small
        per-bucket count job plus one windowed shuffle
        (:func:`_rerank_dense`), never a single-partition window.
        Dense frames skip all of it.
        """
        if self._dense:
            return self._df
        return _rerank_dense(self._df, _ROW_ID)

    def head(self, n: int = 5) -> pd.DataFrame:
        return self._ordered().select(*self._user_columns).limit(n).toPandas()

    def groupby(self, by, dropna: bool = True) -> "LazyGroupBy":
        """pandas-style grouped aggregation namespace:
        ``lazy.groupby("lang").mean()``, ``.sum()``, ``.count()``,
        ``.size()``, or ``.agg({"col": ["sum", "max"]})``. The grouping
        stays a Spark plan (one agg exchange); only the per-group
        result — rows = group count — comes back as pandas.
        ``dropna=True`` (the pandas default) excludes null-keyed rows;
        Spark would otherwise keep a null group pandas never shows."""
        keys = [by] if isinstance(by, str) else list(by)
        if not keys:
            raise ValueError("groupby requires at least one key column")
        missing = [k for k in keys if k not in self._user_columns]
        if missing:
            raise KeyError(missing)
        return LazyGroupBy(self, keys, dropna=dropna)

    def filter(self, expression: str) -> "LazySparkDF":
        """Filter with the pandas-like DSL; returns a new lazy frame."""
        flt = build_filter_expression(expression, self._user_columns)
        out = self._wrap(self._df.filter(flt))
        out._dense = False
        return out

    # pandas spelling
    query = filter

    def select(self, columns: Sequence[str]) -> "LazySparkDF":
        out = self._wrap(self._df.select(_ROW_ID, *columns))
        out._user_columns = list(columns)
        return out

    @property
    def index_columns(self) -> list[str]:
        return list(self._index_columns)

    def info(self) -> str:
        """Plan-level summary string (reference ``info()`` shape:
        columns, dtypes, row count) — one count job that reads no
        column data; the row ordinal costs nothing until a positional
        operation asks for it."""
        n = len(self)
        dtypes = self.dtypes
        lines = [
            f"LazySparkDF: {n} rows x {len(self._user_columns)} columns",
            f"index columns: {self._index_columns or '(none)'}",
        ]
        lines += [f"  {c}: {dtypes[c]}" for c in self._user_columns]
        return "\n".join(lines)

    def describe(self) -> pd.DataFrame:
        """`df.summary()` — approx percentiles, matches pandas describe shape."""
        return (
            self._df.select(*self._user_columns)
            .summary("count", "mean", "stddev", "min", "25%", "50%", "75%", "max")
            .toPandas()
            .set_index("summary")
        )

    def _wrap(self, df: DataFrame) -> "LazySparkDF":
        clone = object.__new__(LazySparkDF)
        clone._spark = self._spark
        clone._df = df
        clone._source_path = self._source_path
        clone._index_columns = list(self._index_columns)
        clone._user_columns = list(self._user_columns)
        clone._dense = self._dense
        return clone

    @property
    def spark_df(self) -> DataFrame:
        """Escape hatch: the underlying DataFrame (without the ordinal)."""
        return self._df.select(*self._user_columns)

    # ------------------------------------------------------- materialization
    def to_pandas(self) -> pd.DataFrame:
        return self._ordered().select(*self._user_columns).toPandas()

    def iter_row_chunks(
        self, chunk_size: int = 100_000, progress=None
    ) -> Iterator[pd.DataFrame]:
        """Ordered pandas chunks (``lazy_parquet.py:433-471`` equivalent).

        Honors the reference's O(chunk) driver-memory contract: each
        chunk is fetched as a dense-ordinal range filter and collected
        independently, so only one chunk is ever resident. The
        (densified, if filtered) plan is cached once so per-chunk
        fetches re-filter the cached frame instead of re-scanning.

        ``progress`` mirrors the reference's tqdm batch reporting
        (``progress.py:5-26``): either a tqdm-like object (``.update``
        is called once per chunk) or a plain callable invoked as
        ``progress(done_chunks, total_chunks)``. Cluster-side jobs are
        already visible in the Spark UI; this covers the driver loop.
        """
        if chunk_size <= 0:
            raise ValueError(f"chunk_size must be positive, got {chunk_size}")
        cached = self._densified().cache()
        try:
            total = cached.count()
            n_chunks = max(-(-total // chunk_size), 1)
            done = 0
            for offset in range(0, total, chunk_size):
                chunk = (
                    cached.filter(
                        (F.col(_ROW_ID) >= offset)
                        & (F.col(_ROW_ID) < offset + chunk_size)
                    )
                    .orderBy(_ROW_ID)
                    .select(*self._user_columns)
                    .toPandas()
                )
                done += 1
                if progress is not None:
                    if hasattr(progress, "update"):
                        progress.update(1)
                    else:
                        progress(done, n_chunks)
                yield chunk.reset_index(drop=True)
        finally:
            cached.unpersist()

    def to_parquet(self, path: Optional[str] = None, single_file: bool = False) -> None:
        """Write the frame; ``path=None`` saves over the source file.

        Spark evaluates lazily, so overwriting the files a plan is
        still reading from would clobber its own input (the reference
        streams chunk-by-chunk to the same effect,
        ``lazy_parquet.py:765-776``). Saving onto the source therefore
        writes to a sibling temp location first, swaps it in with a
        rename, and re-points this frame at the new files.
        """
        import os
        import shutil

        from parq_tools_spark.sources.parquet_io import write_parquet

        if path is None:
            if self._source_path is None:
                raise ValueError(
                    "No path given and this frame was not created from one"
                )
            path = self._source_path
        out = self._ordered().select(*self._user_columns)
        same_as_source = self._source_path is not None and os.path.abspath(
            str(path)
        ) == os.path.abspath(str(self._source_path))
        if not same_as_source:
            write_parquet(out, path, single_file=single_file)
            return
        def _rm(p: str) -> None:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            elif os.path.exists(p):
                os.remove(p)

        tmp = f"{path}.__swap__"
        backup = f"{path}.__old__"
        write_parquet(out, tmp, single_file=single_file)
        _rm(backup)
        shutil.move(path, backup)
        shutil.move(tmp, path)
        _rm(backup)
        # the old plan points at deleted files — re-read from the swap
        from parq_tools_spark.sources.parquet_io import read_parquet

        base = read_parquet(self._spark, path)
        self._df = _tag_scan_order(base)
        self._user_columns = [c for c in base.columns]
        self._dense = False

    save = to_parquet


class LazyGroupBy:
    """pandas ``DataFrameGroupBy`` analogue over the lazy facade.

    Aggregations compile to ONE Spark groupBy (partial map-side combine
    + a single exchange); only the per-group result materializes as a
    pandas frame indexed by the group keys, sorted for determinism.
    Numeric-only reducers (sum/mean) skip string columns the way pandas
    ``numeric_only=True`` does; min/max/count cover every column.
    """

    _NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")

    def __init__(
        self, parent: "LazySparkDF", keys: list[str], dropna: bool = True
    ):
        self._parent = parent
        self._keys = keys
        self._dropna = dropna

    def _grouped_source(self):
        df = self._parent._df
        if self._dropna:  # pandas groupby drops null-keyed rows
            for k in self._keys:
                df = df.filter(F.col(k).isNotNull())
        return df

    def _value_cols(self, numeric_only: bool) -> list[str]:
        dtypes = self._parent.spark_dtypes
        cols = [c for c in self._parent.columns if c not in self._keys]
        if numeric_only:
            cols = [
                c
                for c in cols
                if dtypes[c] in self._NUMERIC or dtypes[c].startswith("decimal")
            ]
        return cols

    def _run(self, fn, numeric_only: bool) -> pd.DataFrame:
        cols = self._value_cols(numeric_only)
        if not cols:
            raise ValueError("no aggregatable columns for this reducer")
        grouped = (
            self._grouped_source().groupBy(*self._keys)
            .agg(*[fn(c).alias(c) for c in cols])
            .orderBy(*self._keys)
        )
        return grouped.toPandas().set_index(self._keys)

    def sum(self) -> pd.DataFrame:
        return self._run(F.sum, numeric_only=True)

    def mean(self) -> pd.DataFrame:
        return self._run(F.avg, numeric_only=True)

    def min(self) -> pd.DataFrame:
        return self._run(F.min, numeric_only=False)

    def max(self) -> pd.DataFrame:
        return self._run(F.max, numeric_only=False)

    def count(self) -> pd.DataFrame:
        # pandas semantics: non-null count per column
        return self._run(F.count, numeric_only=False)

    def size(self) -> pd.Series:
        pdf = (
            self._grouped_source().groupBy(*self._keys)
            .agg(F.count(F.lit(1)).alias("size"))
            .orderBy(*self._keys)
            .toPandas()
            .set_index(self._keys)
        )
        return pdf["size"]

    def agg(self, spec: dict) -> pd.DataFrame:
        """``{"col": "sum"}`` or ``{"col": ["sum", "max"]}`` — output
        columns are named ``col_fn`` (flattened pandas convention)."""
        fns = {
            "sum": F.sum,
            "mean": F.avg,
            "avg": F.avg,
            "min": F.min,
            "max": F.max,
            "count": F.count,
        }
        aggs = []
        for col, how in spec.items():
            if col not in self._parent.columns:
                raise KeyError(col)
            for h in [how] if isinstance(how, str) else list(how):
                if h not in fns:
                    raise ValueError(f"unsupported aggregation {h!r}")
                aggs.append(fns[h](col).alias(f"{col}_{h}"))
        grouped = (
            self._grouped_source().groupBy(*self._keys).agg(*aggs).orderBy(*self._keys)
        )
        return grouped.toPandas().set_index(self._keys)
