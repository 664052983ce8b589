"""Compare tests (reference parity: test/compare/)."""

from parq_tools_spark.operators.compare import compare_dataframes, compare_parquet_files


def test_identical_files_match(spark, wide_tables):
    report = compare_parquet_files(spark, wide_tables["wide_1"], wide_tables["wide_1"])
    assert report["row_count_match"]
    assert report["schema_match"]
    assert report["content_match"]
    assert all(report["column_match"].values())


def test_schema_diff_reported(spark, wide_tables):
    report = compare_parquet_files(spark, wide_tables["wide_1"], wide_tables["wide_2"])
    assert report["columns_only_in_first"] == ["a"]
    assert report["columns_only_in_second"] == ["b"]
    assert not report["schema_match"]


def test_value_change_localized_to_column(spark):
    df1 = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "k int, s string, v double")
    df2 = spark.createDataFrame([(1, "a", 1.0), (2, "b", 99.0)], "k int, s string, v double")
    report = compare_dataframes(df1, df2)
    assert report["column_match"] == {"k": True, "s": True, "v": False}
    assert report["content_match"] is False


def test_row_order_is_ignored(spark):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")
    df2 = spark.createDataFrame([(2, "b"), (1, "a")], "k int, s string")
    report = compare_dataframes(df1, df2)
    assert report["content_match"] is True


def test_row_count_mismatch(spark):
    df1 = spark.createDataFrame([(1,)], "k int")
    df2 = spark.createDataFrame([(1,), (1,)], "k int")
    report = compare_dataframes(df1, df2)
    assert report["row_counts"] == (1, 2)
    assert report["content_match"] is False


def test_dtype_mismatch_reported(spark):
    df1 = spark.createDataFrame([(1,)], "k int")
    df2 = spark.createDataFrame([(1.0,)], "k double")
    report = compare_dataframes(df1, df2)
    assert report["dtype_mismatches"] == {"k": ("int", "double")}
    assert not report["schema_match"]


def test_compare_identical_frames_with_nulls(spark):
    """Multiset equality must treat NULL keys as equal (exceptAll
    semantics): a frame with NULL cells equals itself."""
    from parq_tools_spark.operators.compare import compare_dataframes

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, None)], "k int, v string"
    )
    r = compare_dataframes(df, spark.createDataFrame(df.collect(), df.schema))
    assert r["content_match"] is True
    # and a genuine NULL-pattern difference is still caught
    df2 = spark.createDataFrame(
        [(1, "a"), (2, "x"), (None, None)], "k int, v string"
    )
    assert compare_dataframes(df, df2)["content_match"] is False


def _shuffled(spark, df):
    rows = df.collect()
    return spark.createDataFrame(rows[1::2] + rows[::2], df.schema)


def test_cross_row_swap_caught_by_multiset_check(spark):
    """Swapping a value between rows keeps every column's multiset (and
    so every fingerprint): only the row-level check can see it."""
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, s string")
    df2 = spark.createDataFrame([(1, "b"), (2, "a")], "k int, s string")
    r = compare_dataframes(df1, df2)
    assert r["row_count_match"] and all(r["column_match"].values())
    assert r["content_match"] is False
    assert compare_dataframes(df1, _shuffled(spark, df1))["content_match"] is True


def test_duplicate_multiplicity_difference_caught(spark):
    """Same row count, same distinct rows, same per-column multisets —
    the two sides differ only in how often each row repeats."""
    r1, r2, r3, r4 = (1, "a"), (2, "b"), (1, "b"), (2, "a")
    df1 = spark.createDataFrame([r1, r1, r2, r2, r3, r4], "k int, s string")
    df2 = spark.createDataFrame([r1, r2, r3, r3, r4, r4], "k int, s string")
    assert set(df1.collect()) == set(df2.collect())
    r = compare_dataframes(df1, df2)
    assert r["row_count_match"] and all(r["column_match"].values())
    assert r["content_match"] is False
    assert compare_dataframes(df1, _shuffled(spark, df1))["content_match"] is True


def test_nan_negative_zero_and_null_cells(spark):
    nan = float("nan")
    schema = "k int, v double, s string"
    df1 = spark.createDataFrame(
        [(1, nan, "a"), (2, -0.0, None), (3, None, "c"), (None, 1.5, None)],
        schema,
    )
    assert compare_dataframes(df1, _shuffled(spark, df1))["content_match"] is True
    # NaN and -0.0 swapped between rows: fingerprints agree, rows differ
    df2 = spark.createDataFrame(
        [(1, -0.0, "a"), (2, nan, None), (3, None, "c"), (None, 1.5, None)],
        schema,
    )
    r = compare_dataframes(df1, df2)
    assert all(r["column_match"].values())
    assert r["content_match"] is False


def test_group_overlap_report_exact_and_approximate(spark):
    from pyspark.sql import functions as F

    from parq_tools_spark.operators.compare import group_overlap_report

    # small sets: theta sketches are in exact mode
    rows = (
        [("a", k) for k in range(100)]
        + [("b", k) for k in range(50, 150)]
        + [("c", k) for k in range(200, 210)]
    )
    df = spark.createDataFrame(rows, "g string, k long")
    got = {
        (r.group_a, r.group_b): (r.n_common_est, r.n_union_est, r.jaccard_est)
        for r in group_overlap_report(df, "g", "k").collect()
    }
    assert got[("a", "b")] == (50, 150, 50 / 150)
    assert got[("a", "c")] == (0, 110, 0.0)
    assert got[("b", "c")] == (0, 110, 0.0)
    # beyond the 4096-hash retention: estimates, within ~5%
    big = spark.range(40000).select(
        F.when(F.col("id") < 30000, F.lit("x")).otherwise(F.lit("y")).alias("g"),
        (F.col("id") % 25000).alias("k"),  # y: k 5000..14999, all inside x
    )
    est = {
        (r.group_a, r.group_b): r
        for r in group_overlap_report(big, "g", "k").collect()
    }[("x", "y")]
    assert abs(est.n_common_est - 10000) / 10000 < 0.05
    assert abs(est.n_union_est - 25000) / 25000 < 0.05


def test_group_overlap_null_group_excluded_and_no_nan(spark):
    from parq_tools_spark.operators.compare import group_overlap_report

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), (None, 3), ("b", None), ("c", None)],
        "g string, k long",
    )
    rows = {
        (r.group_a, r.group_b): r
        for r in group_overlap_report(df, "g", "k").collect()
    }
    # NULL group never appears in any pair
    assert all(None not in k for k in rows)
    # b and c hold only NULL keys: empty sketches -> jaccard 0, not NaN
    bc = rows[("b", "c")]
    assert (bc.n_common_est, bc.n_union_est, bc.jaccard_est) == (0, 0, 0.0)
