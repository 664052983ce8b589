"""Strict comparison of two datasets (SURVEY §2.6 U2, §2.4 A6).

Spark-native rebuild of ``compare_parquet_files``
(``/root/reference/parq_tools/parq_compare.py:14-92``). The reference
compares raw Arrow buffer sha256 hashes per column batch — a byte-level
definition that is unreproducible in any other engine (SURVEY §7.4 #5).
Here equality is **logical**:

- schema: column sets + Spark SQL types;
- row counts, plus per-column commutative ``xxhash64`` fingerprints
  that localize *which* columns differ — both sides' counts and
  fingerprints come from ONE action (a tagged union of two single-row
  aggregates);
- content: order-insensitive multiset equality, checked only when the
  counts and every fingerprint agree, in one more action: the two
  projections are unioned with a ``+1`` / ``-1`` weight per side and
  grouped on every compared column; any group whose weights do not
  cancel is a row the two sides hold a different number of times.

The result dict keeps the reference's report shape (match booleans +
detail lists, ``parq_compare.py:30-38``) so callers can switch over.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from parq_tools_spark.sources.parquet_io import read_parquet

__all__ = [
    "compare_dataframes",
    "compare_parquet_files",
    "column_fingerprints",
    "group_overlap_report",
]


def _fingerprint(column: str) -> Column:
    """Commutative fingerprint aggregate of one column (see
    :func:`column_fingerprints`)."""
    return F.sum(F.xxhash64(F.col(column).cast("string")).cast("decimal(38,0)"))


def column_fingerprints(df: DataFrame, columns: Sequence[str]) -> dict[str, int]:
    """Order-insensitive per-column fingerprint in ONE pass.

    ``sum(xxhash64(col))`` is commutative, so it is stable under any
    row order/partitioning — a distributed analogue of the reference's
    per-column hash stream, minus the order sensitivity. All columns
    are fingerprinted in a single ``agg`` (one job, one scan). The sum
    is taken in decimal(38,0) so it cannot overflow under ANSI mode.
    """
    row = df.agg(*[_fingerprint(c).alias(c) for c in columns]).collect()[0]
    return {c: row[c] for c in columns}


def _counts_and_fingerprints(
    df1: DataFrame, df2: DataFrame, columns: Sequence[str]
) -> tuple[list, list]:
    """Row count followed by each column's fingerprint, for both sides,
    collected in one action. Aggregates are aliased by position, so no
    user column name can collide with the side tag."""
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        _fingerprint(c).alias(f"_fp{i}") for i, c in enumerate(columns)
    ]
    sides = df1.agg(*aggs).select(F.lit(1).alias("_side"), "*").unionByName(
        df2.agg(*aggs).select(F.lit(2).alias("_side"), "*")
    )
    rows = {r["_side"]: list(r)[1:] for r in sides.collect()}
    return rows[1], rows[2]


def compare_dataframes(
    df1: DataFrame,
    df2: DataFrame,
    check_content: bool = True,
    columns: Optional[Sequence[str]] = None,
) -> dict:
    """Compare two DataFrames; returns the reference-shaped report dict."""
    cols1, cols2 = set(df1.columns), set(df2.columns)
    common = [c for c in df1.columns if c in cols2]
    if columns is not None:
        common = [c for c in common if c in set(columns)]
    dtypes1, dtypes2 = dict(df1.dtypes), dict(df2.dtypes)
    dtype_mismatches = {
        c: (dtypes1[c], dtypes2[c]) for c in common if dtypes1[c] != dtypes2[c]
    }
    comparable = [c for c in common if c not in dtype_mismatches]
    fingerprinted = comparable if check_content else []
    (n1, *fp1), (n2, *fp2) = _counts_and_fingerprints(df1, df2, fingerprinted)

    report = {
        "row_counts": (n1, n2),
        "row_count_match": n1 == n2,
        "columns_only_in_first": sorted(cols1 - cols2),
        "columns_only_in_second": sorted(cols2 - cols1),
        "dtype_mismatches": dtype_mismatches,
        "schema_match": cols1 == cols2 and not dtype_mismatches,
        "column_match": {},
        "content_match": None,
    }
    if not check_content or not common:
        return report

    if not comparable:
        report["content_match"] = False
        return report
    report["column_match"] = {c: a == b for c, a, b in zip(comparable, fp1, fp2)}

    if report["row_count_match"] and all(report["column_match"].values()):
        # fingerprints can collide across columns jointly (a value
        # swapped between rows keeps every column's multiset), so
        # confirm with multiset equality: union both sides weighted +1
        # / -1 and sum per distinct row — one shuffle, one action.
        # groupBy treats NULLs as one key and normalizes NaN / -0.0, so
        # no null-safe join condition is needed.
        weight = "_w"
        while weight in comparable:
            weight = f"_{weight}"
        signed = df1.select(*comparable, F.lit(1).alias(weight)).unionByName(
            df2.select(*comparable, F.lit(-1).alias(weight))
        )
        diff = (
            signed.groupBy(*comparable)
            .agg(F.sum(weight).alias(weight))
            .filter(F.col(weight) != 0)
        )
        report["content_match"] = diff.limit(1).count() == 0
    else:
        report["content_match"] = False
    return report


def compare_parquet_files(
    spark: SparkSession,
    path1: str,
    path2: str,
    check_content: bool = True,
    columns: Optional[Sequence[str]] = None,
) -> dict:
    """File-level facade (``parq_compare.py:28-92``)."""
    return compare_dataframes(
        read_parquet(spark, path1),
        read_parquet(spark, path2),
        check_content=check_content,
        columns=columns,
    )


def group_overlap_report(
    df: DataFrame,
    group_col: str,
    key_col: str,
) -> DataFrame:
    """Pairwise distinct-set overlap between groups via theta sketches
    (beyond-reference): ``(group_a, group_b, n_common_est,
    n_union_est, jaccard_est)`` for every unordered group pair —
    which sources share documents/URLs/users, without ever
    materializing the distinct sets.

    One shuffle builds a theta sketch per group (map-side partial);
    the pairwise intersections/unions then run over G sketch rows (a
    broadcast self-join — sketches are KB), so a 100 TB corpus costs
    one aggregation regardless of how many pairs are reported.
    Estimates are EXACT while a group's distinct keys fit the sketch
    (default k = 4096 retained hashes) and ~2% beyond it.

    Rows whose ``group_col`` is NULL are excluded (an unnamed group
    has no meaningful pair ordering). The pair count is G*(G-1)/2 —
    by construction this is a per-GROUP report, so G is the
    cardinality of a grouping column (sources, languages, shards),
    not of a key; for G beyond a few thousand, pre-aggregate groups.
    """
    sk = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.theta_sketch_agg(key_col).alias("__sk"))
    )
    a = sk.select(
        F.col(group_col).alias("group_a"), F.col("__sk").alias("__ska")
    )
    b = sk.select(
        F.col(group_col).alias("group_b"), F.col("__sk").alias("__skb")
    )
    common = F.theta_sketch_estimate(
        F.theta_intersection(F.col("__ska"), F.col("__skb"))
    )
    union = F.theta_sketch_estimate(
        F.theta_union(F.col("__ska"), F.col("__skb"))
    )
    return (
        a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
        .select(
            "group_a",
            "group_b",
            F.round(common).cast("long").alias("n_common_est"),
            F.round(union).cast("long").alias("n_union_est"),
            # two all-NULL-key groups union to 0: jaccard 0, not NaN
            F.when(F.round(union) > 0, F.round(common) / F.round(union))
            .otherwise(F.lit(0.0))
            .alias("jaccard_est"),
        )
    )
