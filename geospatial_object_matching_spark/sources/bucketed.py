"""Bucketed-table materialization for shuffle-free repeated joins.

The 100-TB usage pattern this serves: the 25-property table is computed
ONCE (the expensive Arrow-batched featurize) and then joined against by
many downstream experiments — pair features over different blocking runs,
per-object lookups, matched-pair builds.  An ordinary parquet table pays a
hash-Exchange of the big side on every such join; a table written with
``bucketBy(n, key).sortBy(key)`` records its hash-partitioning in the
catalog, so Catalyst plans a SortMergeJoin whose big-side Exchange (and
with sorted buckets, the Sort) simply disappears — the join is co-located
by construction.  ``tests/test_bucketed.py`` asserts the plan property:
two bucketed tables joined on their bucket key produce NO Exchange.

This is the table-layout analog of what ``knn_join_range``/``pip_join`` do
inside a query (pre-partitioning by slice or cell); here it persists across
jobs.
Bucket counts should match downstream ``shuffle_partitions`` (or divide
it) so AQE does not re-plan the bucketed side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 32,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize ``df`` as a parquet table bucketed+sorted by ``key``.

    Catalog-registered (bucket metadata lives in the table definition —
    plain ``.parquet(path)`` files cannot carry it), optionally at an
    explicit ``path`` (external table)."""
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, key).sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def co_located_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    key: str,
    how: str = "inner",
) -> DataFrame:
    """Join two tables bucketed on ``key``: with equal bucket counts the
    plan is a SortMergeJoin with no Exchange on either side (and no Sort,
    since the buckets are sorted).  Use ``df.hint("merge")`` semantics by
    reading through the catalog — bucketing info only flows from table
    scans."""
    left = spark.table(left_table)
    right = spark.table(right_table)
    return left.join(right, key, how)
