"""Lazy facade + calculated-column tests (reference parity:
test/lazy_parquet/, test/calculated_columns/)."""

import os

import pandas as pd
import pytest

from parq_tools_spark.functions.calculated_columns import (
    CalculatedColumn,
    load_calculated_columns,
    with_calculated_columns,
)
from parq_tools_spark.lazy import LazySparkDF
from parq_tools_spark.sources.demo_data import create_demo_blockmodel


def test_lazy_metadata(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    assert lazy.columns == ["x", "y", "z", "a"]
    assert lazy.shape == (10, 4)
    assert len(lazy) == 10
    assert "a" in lazy and "nope" not in lazy


def test_lazy_column_access_preserves_order(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    series = lazy["a"]
    assert list(series) == [f"val{i}" for i in range(1, 11)]
    pdf = lazy[["x", "a"]]
    assert list(pdf.columns) == ["x", "a"]
    assert list(pdf.x) == list(range(1, 11))


def test_lazy_missing_column_raises(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    with pytest.raises(KeyError):
        lazy["nope"]


def test_lazy_setitem_scalar_expr_and_array(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    lazy["flag"] = 1
    lazy["x2"] = "x * 2"
    lazy["tag"] = [f"t{i}" for i in range(10)]
    pdf = lazy.to_pandas()
    assert (pdf.flag == 1).all()
    assert list(pdf.x2) == [2 * i for i in range(1, 11)]
    assert list(pdf.tag) == [f"t{i}" for i in range(10)]


def test_lazy_setitem_length_mismatch(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    with pytest.raises(ValueError, match="Length mismatch"):
        lazy["bad"] = [1, 2, 3]


def test_lazy_filter_and_query(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    out = lazy.query("x > 8").to_pandas()
    assert list(out.x) == [9, 10]


def test_lazy_head_and_describe(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    assert len(lazy.head(3)) == 3
    desc = lazy.describe()
    assert float(desc.loc["mean", "x"]) == 5.5


def test_lazy_iter_row_chunks(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    chunks = list(lazy.iter_row_chunks(chunk_size=4))
    assert [len(c) for c in chunks] == [4, 4, 2]
    rebuilt = pd.concat(chunks, ignore_index=True)
    assert list(rebuilt.x) == list(range(1, 11))


def test_lazy_roundtrip_save(spark, wide_tables, tmp_path):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    lazy["x2"] = "x * 2"
    out = str(tmp_path / "saved")
    lazy.save(out, single_file=True)
    back = spark.read.parquet(out)
    assert set(back.columns) == {"x", "y", "z", "a", "x2"}
    assert back.count() == 10


# ----------------------------------------------------------- calculated cols
def test_calculated_column_expr(spark, wide_tables):
    df = spark.read.parquet(wide_tables["wide_1"])
    cc = CalculatedColumn("x_plus_y", expr_sql="x + y")
    out = cc.apply(df)
    assert out.filter("x_plus_y <> x + y").count() == 0


def test_calculated_column_pandas_udf(spark, wide_tables):
    df = spark.read.parquet(wide_tables["wide_1"])

    def ratio(x, y):
        return x / y

    cc = CalculatedColumn("ratio", func=ratio, return_type="double")
    assert cc.dependencies == ("x", "y")
    row = cc.apply(df).filter("x = 1").collect()[0]
    assert abs(row.ratio - 1 / 11) < 1e-12


def test_calculated_column_missing_dependency(spark, wide_tables):
    df = spark.read.parquet(wide_tables["wide_1"])

    def f(nope):
        return nope

    with pytest.raises(ValueError, match="missing"):
        CalculatedColumn("bad", func=f).apply(df)


def test_calculated_chain_and_persistence(spark, wide_tables, tmp_path):
    df = spark.read.parquet(wide_tables["wide_1"])
    out = with_calculated_columns(
        df,
        [
            CalculatedColumn("x2", expr_sql="x * 2"),
            CalculatedColumn("x4", expr_sql="x2 * 2"),  # depends on previous
        ],
    )
    assert out.filter("x4 <> x * 4").count() == 0
    path = str(tmp_path / "calc")
    out.write.parquet(path)
    reloaded = spark.read.parquet(path)
    recovered = load_calculated_columns(reloaded)
    assert {c.name: c.expr_sql for c in recovered} == {"x2": "x * 2", "x4": "x2 * 2"}


def test_exactly_one_of_func_or_expr():
    with pytest.raises(ValueError):
        CalculatedColumn("x")
    with pytest.raises(ValueError):
        CalculatedColumn("x", func=lambda a: a, expr_sql="a")


# ----------------------------------------------------------- demo blockmodel
def test_demo_blockmodel(spark):
    bm = create_demo_blockmodel(spark, shape=(2, 2, 2), block_size=(1, 1, 1))
    pdf = bm.toPandas().sort_values("c_order_xyz").reset_index(drop=True)
    assert len(pdf) == 8
    # first block centroid at corner + half block
    assert (pdf.loc[0, ["x", "y", "z"]] == [0.5, 0.5, 0.5]).all()
    # z varies fastest in C-order
    assert list(pdf.z[:2]) == [0.5, 1.5]
    assert sorted(pdf.f_order_zyx) == list(range(8))
    # depth from model top (z extent = 2.0)
    assert pdf.loc[0, "depth"] == 1.5


def test_demo_blockmodel_is_distributed(spark):
    bm = create_demo_blockmodel(spark, shape=(10, 10, 10))
    assert bm.rdd.getNumPartitions() > 1
    assert bm.count() == 1000


# ------------------------------------------------- LazyColumn + .loc (UD4)
def test_lazy_column_arithmetic_stays_lazy(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    combo = lazy["x"] + lazy["y"] * 2 - 1
    # no materialization yet — it's an expression object
    from parq_tools_spark.lazy import LazyColumn

    assert isinstance(combo, LazyColumn)
    assert combo.tolist() == [x + (x + 10) * 2 - 1 for x in range(1, 11)]


def test_lazy_column_more_dunders(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    assert (lazy["y"] / lazy["x"]).to_pandas().iloc[0] == 11.0
    assert (lazy["y"] // lazy["x"]).tolist()[0] == 11
    assert (lazy["x"] % 3).tolist() == [i % 3 for i in range(1, 11)]
    assert (lazy["x"] ** 2).tolist() == [float(i * i) for i in range(1, 11)]
    assert (-lazy["x"]).tolist() == [-i for i in range(1, 11)]
    assert abs(lazy["x"] - 5).tolist() == [abs(i - 5) for i in range(1, 11)]
    assert (10 - lazy["x"]).tolist() == [10 - i for i in range(1, 11)]
    assert round(lazy["x"] / 3, 1).tolist() == [round(i / 3, 1) for i in range(1, 11)]


def test_lazy_column_comparisons_and_boolean(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    mask = (lazy["x"] > 3) & (lazy["x"] <= 7)
    assert mask.tolist() == [3 < i <= 7 for i in range(1, 11)]
    assert (~mask).tolist() == [not (3 < i <= 7) for i in range(1, 11)]
    xor = (lazy["x"] > 3) ^ (lazy["x"] > 7)
    assert xor.tolist() == [(i > 3) != (i > 7) for i in range(1, 11)]
    assert (lazy["x"] == 5).tolist() == [i == 5 for i in range(1, 11)]
    assert lazy["x"].isin([2, 4]).tolist() == [i in (2, 4) for i in range(1, 11)]


def test_lazy_column_aggregates(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    assert lazy["x"].sum() == 55
    assert lazy["x"].mean() == 5.5
    assert lazy["x"].min() == 1 and lazy["x"].max() == 10
    assert lazy["x"].count() == 10 and lazy["x"].nunique() == 10


def test_lazy_column_assignment(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    lazy["sum_xy"] = lazy["x"] + lazy["y"]
    pdf = lazy.to_pandas()
    assert list(pdf.sum_xy) == [2 * i + 10 for i in range(1, 11)]


def test_lazy_loc_mask(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    sub = lazy.loc[lazy["x"] > 8]
    assert sub.to_pandas().x.tolist() == [9, 10]
    # (mask, column) -> LazyColumn; (mask, [cols]) -> LazySparkDF
    assert lazy.loc[lazy["x"] > 8, "a"].tolist() == ["val9", "val10"]
    two = lazy.loc[lazy["x"] > 8, ["x", "a"]]
    assert two.columns == ["x", "a"]
    assert lazy.loc[:, ["x"]].columns == ["x"]


def test_lazy_loc_boolean_array_mask(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    mask = [i % 2 == 0 for i in range(10)]  # keeps x = 1,3,5,7,9
    sub = lazy.loc[mask]
    assert sub.to_pandas().x.tolist() == [1, 3, 5, 7, 9]
    with pytest.raises(ValueError, match="mask length"):
        lazy.loc[[True, False]]


def test_lazy_loc_assignment(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    lazy.loc[lazy["x"] > 8, "a"] = "big"
    assert lazy["a"].tolist() == [f"val{i}" for i in range(1, 9)] + ["big", "big"]
    # new column: NULL where mask is false (pandas NaN analogue)
    lazy.loc[lazy["x"] <= 2, "flag"] = 1
    flags = lazy["flag"].to_pandas()
    assert flags.iloc[0] == 1 and flags.iloc[1] == 1 and pd.isna(flags.iloc[2])


# ---------------------------------------- filtered-frame positional fixes
def test_filtered_iter_row_chunks_yields_all_rows(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"]).filter("x > 4")
    chunks = list(lazy.iter_row_chunks(chunk_size=2))
    assert [len(c) for c in chunks] == [2, 2, 2]
    rebuilt = pd.concat(chunks, ignore_index=True)
    assert rebuilt.x.tolist() == [5, 6, 7, 8, 9, 10]


def test_filtered_array_setitem_aligns_positionally(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"]).filter("x > 6")
    lazy["tag"] = ["t0", "t1", "t2", "t3"]
    pdf = lazy.to_pandas()
    assert pdf.x.tolist() == [7, 8, 9, 10]
    assert pdf.tag.tolist() == ["t0", "t1", "t2", "t3"]


def test_setitem_size_cap(spark, wide_tables, monkeypatch):
    import parq_tools_spark.lazy as lazy_mod

    monkeypatch.setattr(lazy_mod, "MAX_DRIVER_ASSIGN_ROWS", 5)
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    with pytest.raises(ValueError, match="MAX_DRIVER_ASSIGN_ROWS"):
        lazy["big"] = list(range(10))


def test_iter_row_chunks_progress_callback(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    seen = []
    list(lazy.iter_row_chunks(chunk_size=4, progress=lambda d, t: seen.append((d, t))))
    assert seen == [(1, 3), (2, 3), (3, 3)]

    class FakeTqdm:
        n = 0

        def update(self, k):
            self.n += k

    bar = FakeTqdm()
    list(lazy.iter_row_chunks(chunk_size=4, progress=bar))
    assert bar.n == 3


def test_lazy_assign_drop_rename_insert(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    out = lazy.assign(s=lazy["x"] + lazy["y"], flag=1)
    assert out.columns == ["x", "y", "z", "a", "s", "flag"]
    assert out["s"].tolist() == [2 * i + 10 for i in range(1, 11)]
    assert lazy.columns == ["x", "y", "z", "a"]  # original untouched

    dropped = out.drop(["z", "flag"])
    assert dropped.columns == ["x", "y", "a", "s"]
    with pytest.raises(KeyError):
        out.drop("nope")

    renamed = dropped.rename({"a": "label"})
    assert renamed.columns == ["x", "y", "label", "s"]
    assert renamed["label"].tolist()[0] == "val1"

    lazy.insert(1, "x2", lazy["x"] * 2)
    assert lazy.columns == ["x", "x2", "y", "z", "a"]
    assert lazy.to_pandas().columns.tolist() == ["x", "x2", "y", "z", "a"]
    with pytest.raises(ValueError, match="already exists"):
        lazy.insert(0, "x2", 1)

    assert list(iter(renamed)) == ["x", "y", "label", "s"]
    assert "LazySparkDF" in repr(renamed)


def test_lazy_save_over_source(spark, wide_tables):
    """Reference parity (lazy_parquet save-in-place): saving onto the
    source path must not clobber the plan's own input; the frame stays
    usable and re-reads the new files."""
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    lazy["x2"] = "x * 2"
    lazy.save()  # no path -> the source
    assert lazy.columns == ["x", "y", "z", "a", "x2"]
    pdf = lazy.to_pandas()
    assert pdf.x2.tolist() == [2 * i for i in range(1, 11)]
    # a fresh read sees the persisted column
    again = LazySparkDF(spark, wide_tables["wide_1"])
    assert "x2" in again.columns and len(again) == 10


def test_lazy_save_requires_path_for_df_backed(spark, wide_tables):
    df = spark.read.parquet(wide_tables["wide_1"])
    lazy = LazySparkDF(spark, df=df)
    with pytest.raises(ValueError, match="No path"):
        lazy.save()


def test_iter_row_chunks_invalid_chunk_size(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    with pytest.raises(ValueError, match="chunk_size"):
        list(lazy.iter_row_chunks(chunk_size=0))


def test_lazy_index_from_pandas_metadata(spark, tmp_path):
    """Index columns recorded by pandas in the footer are auto-detected
    (reference lazy_parquet.py:78-93 parity)."""
    pdf = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]}).set_index("k")
    p = str(tmp_path / "indexed.parquet")
    pdf.to_parquet(p)  # pandas records index_columns=["k"]
    lazy = LazySparkDF(spark, p)
    assert lazy.index_columns == ["k"]
    # explicit argument still wins
    lazy2 = LazySparkDF(spark, p, index_columns=["v"])
    assert lazy2.index_columns == ["v"]
    info = lazy.info()
    assert "3 rows" in info and "k" in info


def test_lazy_loc_label_access(spark, tmp_path):
    pdf = pd.DataFrame(
        {"k": [10, 20, 30, 40], "v": list("abcd")}
    ).set_index("k")
    p = str(tmp_path / "lbl.parquet")
    pdf.to_parquet(p)
    lazy = LazySparkDF(spark, p)
    assert lazy.index_columns == ["k"]
    one = lazy.loc[20].to_pandas()
    assert one.v.tolist() == ["b"]
    some = lazy.loc[[10, 40], "v"].tolist()
    assert some == ["a", "d"]
    # boolean masks still treated positionally, not as labels
    assert lazy.loc[[True, False, True, False]].to_pandas().v.tolist() == ["a", "c"]
    # no index columns and a scalar key -> clear error
    plain = LazySparkDF(spark, df=spark.range(3))
    with pytest.raises(TypeError, match="Unsupported"):
        plain.loc[1]


def test_lazy_loc_multiindex_labels(spark, tmp_path):
    """Multi-level index labels, pandas MultiIndex parity (reference
    LazyLocIndexer routes through pandas .loc, lazy_parquet.py:573-590):
    a tuple is one label, a list of tuples several."""
    pdf = pd.DataFrame(
        {
            "a": [1, 1, 2, 2],
            "b": ["x", "y", "x", "y"],
            "v": [10.0, 20.0, 30.0, 40.0],
        }
    ).set_index(["a", "b"])
    p = str(tmp_path / "mi.parquet")
    pdf.to_parquet(p)
    lazy = LazySparkDF(spark, p)
    assert lazy.index_columns == ["a", "b"]

    # single tuple label == pandas pdf.loc[(1, "y")]
    one = lazy.loc[(1, "y")].to_pandas()
    assert one.v.tolist() == [20.0]
    # list of tuples == pandas pdf.loc[[(1, "x"), (2, "y")]]
    both = lazy.loc[[(1, "x"), (2, "y")]].to_pandas().sort_values("v")
    assert both.v.tolist() == [10.0, 40.0]
    assert pdf.loc[[(1, "x"), (2, "y")]].v.tolist() == [10.0, 40.0]
    # wrong-width labels rejected with a clear error
    with pytest.raises(TypeError, match="2-tuples"):
        lazy.loc[[(1,)]]


def test_lazy_dtypes_nullable_mapping(spark, tmp_path):
    """Nullable numeric columns report pandas extension dtypes
    (reference lazy_parquet.py:805-832); non-numeric types map to
    their pandas names; Spark-native strings stay on spark_dtypes."""
    pdf = pd.DataFrame(
        {
            "i": pd.array([1, None, 3], dtype="Int64"),
            "f": [1.5, 2.5, None],
            "s": ["a", "b", None],
            "flag": [True, False, True],
        }
    )
    p = str(tmp_path / "dt.parquet")
    pdf.to_parquet(p)
    lazy = LazySparkDF(spark, p)
    dt = lazy.dtypes
    assert dt["i"] == "Int64"
    assert dt["f"] == "Float64"
    assert dt["s"] == "object"
    assert dt["flag"] == "bool"
    assert lazy.spark_dtypes["i"] == "bigint"
    # numeric-only groupby aggregation still selects via spark type
    # names (it must not look for "bigint" in the pandas-style names)
    g = LazySparkDF(spark, p).groupby("s").sum()
    assert "i" in g.columns and "f" in g.columns


def test_lazy_str_accessor(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    assert lazy["a"].str.upper().tolist() == [f"VAL{i}" for i in range(1, 11)]
    assert lazy["a"].str.len().tolist() == [4] * 9 + [5]
    assert lazy["a"].str.contains(r"val1$").tolist() == [True] + [False] * 9
    assert lazy["a"].str.contains("val1", regex=False).tolist() == (
        [True] + [False] * 8 + [True]
    )
    assert lazy["a"].str.startswith("val").tolist() == [True] * 10
    assert lazy["a"].str.replace(r"^val", "item").tolist()[0] == "item1"
    assert lazy["a"].str.slice(0, 3).tolist()[0] == "val"
    assert list(lazy["a"].str.split("a").tolist()[0]) == ["v", "l1"]
    lazy["num"] = lazy["x"].astype("string").str.zfill(3)
    assert lazy["num"].tolist()[0] == "001"
    # chained with masks
    assert lazy.loc[lazy["a"].str.endswith("0"), "x"].tolist() == [10]


def test_lazy_dt_accessor(spark, tmp_path):
    pdf = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-03-05 10:30:45", "2025-12-31 23:59:59"])}
    )
    p = str(tmp_path / "ts.parquet")
    pdf.to_parquet(p, index=False, coerce_timestamps="us")
    lazy = LazySparkDF(spark, p)
    ts = lazy["ts"]
    assert ts.dt.year.tolist() == [2024, 2025]
    assert ts.dt.month.tolist() == [3, 12]
    assert ts.dt.day.tolist() == [5, 31]
    assert ts.dt.hour.tolist() == [10, 23]
    # pandas weekday: 2024-03-05 is Tuesday=1; 2025-12-31 is Wednesday=2
    assert ts.dt.dayofweek.tolist() == [1, 2]
    assert ts.dt.strftime("%Y-%m-%d %H:%M").tolist() == [
        "2024-03-05 10:30",
        "2025-12-31 23:59",
    ]
    assert str(ts.dt.floor("D").tolist()[0]) == "2024-03-05 00:00:00"


def test_zfill_never_truncates(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    lazy["long_id"] = lazy["x"].astype("string").str.replace("^", "1234")
    assert lazy["long_id"].str.zfill(3).tolist()[0] == "12341"  # unchanged


def test_loc_rejects_array_assignment(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    with pytest.raises(TypeError, match="array-like"):
        lazy.loc[lazy["x"] > 5, "a"] = [1, 2, 3]


def test_loc_empty_sequence_selects_nothing(spark, wide_tables):
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    assert len(lazy.loc[[]]) == 0


def test_loc_boolean_mask_cap(spark, wide_tables, monkeypatch):
    import parq_tools_spark.lazy as lazy_mod

    monkeypatch.setattr(lazy_mod, "MAX_DRIVER_ASSIGN_ROWS", 5)
    lazy = LazySparkDF(spark, wide_tables["wide_1"])
    with pytest.raises(ValueError, match="MAX_DRIVER_ASSIGN_ROWS"):
        lazy.loc[[True] * 10]


def test_lazy_groupby_matches_pandas(spark, tmp_path):
    import pandas as pd

    from parq_tools_spark.lazy import LazySparkDF

    pdf = pd.DataFrame(
        {
            "g": ["a", "b", "a", "b", "c", "a"],
            "x": [1, 2, 3, 4, 5, 6],
            "y": [1.5, 2.5, 3.5, 4.5, 5.5, 6.5],
            "s": ["p", "q", "r", "s", "t", "u"],
        }
    )
    path = str(tmp_path / "gb.parquet")
    pdf.to_parquet(path, index=False)
    lazy = LazySparkDF(spark, path)

    got_sum = lazy.groupby("g").sum()
    want_sum = pdf.groupby("g")[["x", "y"]].sum()
    pd.testing.assert_frame_equal(
        got_sum.astype("float64"), want_sum.astype("float64")
    )

    got_mean = lazy.groupby("g").mean()
    want_mean = pdf.groupby("g")[["x", "y"]].mean()
    pd.testing.assert_frame_equal(
        got_mean.astype("float64"), want_mean.astype("float64")
    )

    # min/max include strings, like pandas
    got_max = lazy.groupby("g").max()
    assert list(got_max.loc["a", ["x", "s"]]) == [6, "u"]

    got_size = lazy.groupby("g").size()
    assert got_size.to_dict() == {"a": 3, "b": 2, "c": 1}

    got_agg = lazy.groupby("g").agg({"x": ["sum", "max"], "y": "mean"})
    assert list(got_agg.columns) == ["x_sum", "x_max", "y_mean"]
    assert got_agg.loc["a", "x_sum"] == 10
    assert got_agg.loc["b", "y_mean"] == 3.5

    import pytest as _pytest

    with _pytest.raises(KeyError):
        lazy.groupby("nope")
    with _pytest.raises(ValueError):
        lazy.groupby("g").agg({"x": "median"})


def test_lazy_groupby_dropna_matches_pandas(spark, tmp_path):
    import pandas as pd

    from parq_tools_spark.lazy import LazySparkDF

    pdf = pd.DataFrame(
        {"g": ["a", None, "a", None], "x": [1, 2, 3, 4]}
    )
    path = str(tmp_path / "gbn.parquet")
    pdf.to_parquet(path, index=False)
    lazy = LazySparkDF(spark, path)
    # pandas default drops the null-key group; so do we
    got = lazy.groupby("g").sum()
    assert list(got.index) == ["a"]
    assert got.loc["a", "x"] == 4
    # opt out: the null group comes back (Spark semantics)
    kept = lazy.groupby("g", dropna=False).size()
    assert int(kept.sum()) == 4 and len(kept) == 2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one key"):
        lazy.groupby([])


# ------------------------------------ positional ops, multi-partition scan
@pytest.fixture()
def multi_partition_source(spark, tmp_path):
    """One file of 8 row groups read with a 4 KB split size, so the scan
    spans several partitions — the case a scan-order ordinal can get
    wrong and a single-partition fixture cannot catch. Yields the path
    and the frame pandas reads back from it."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    n = 2000
    pdf = pd.DataFrame(
        {
            "k": np.arange(n),
            "v": rng.random(n),
            "s": [f"row{i}" for i in rng.permutation(n)],
        }
    )
    p = str(tmp_path / "multi.parquet")
    pdf.to_parquet(p, index=False, row_group_size=250)
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        parts = spark.read.parquet(p).select(F.spark_partition_id()).distinct()
        assert parts.count() > 1
        yield p, pd.read_parquet(p)
    finally:
        spark.conf.set(key, before)


def test_multi_partition_ordered_reads_follow_file_order(
    spark, multi_partition_source
):
    p, pdf = multi_partition_source
    lazy = LazySparkDF(spark, p)
    pd.testing.assert_frame_equal(lazy.head(700), pdf.head(700))
    pd.testing.assert_frame_equal(lazy.to_pandas(), pdf)
    assert lazy["s"].tolist() == pdf.s.tolist()
    chunks = list(lazy.iter_row_chunks(chunk_size=300))
    pd.testing.assert_frame_equal(pd.concat(chunks, ignore_index=True), pdf)


def test_multi_partition_array_setitem_aligns_positionally(
    spark, multi_partition_source
):
    p, pdf = multi_partition_source
    lazy = LazySparkDF(spark, p)
    lazy["pos"] = list(range(len(pdf)))
    out = lazy.to_pandas()
    assert out.k.tolist() == pdf.k.tolist()
    assert out.pos.tolist() == list(range(len(pdf)))

    sub = pdf[pdf.v > 0.3]
    flt = LazySparkDF(spark, p).filter("v > 0.3")
    flt["pos"] = list(range(len(sub)))
    out = flt.to_pandas()
    assert out.k.tolist() == sub.k.tolist()
    assert out.pos.tolist() == list(range(len(sub)))


def test_multi_partition_boolean_loc_aligns_positionally(
    spark, multi_partition_source
):
    import numpy as np

    p, pdf = multi_partition_source
    rng = np.random.default_rng(11)
    mask = (rng.random(len(pdf)) < 0.4).tolist()
    got = LazySparkDF(spark, p).loc[mask].to_pandas()
    assert got.k.tolist() == pdf.k[mask].tolist()

    sub = pdf[pdf.v > 0.3]
    mask = (rng.random(len(sub)) < 0.4).tolist()
    got = LazySparkDF(spark, p).filter("v > 0.3").loc[mask].to_pandas()
    assert got.k.tolist() == sub.k[mask].tolist()
