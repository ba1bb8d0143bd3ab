"""Small shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def widen_for_explode(df: DataFrame) -> DataFrame:
    """Parallelism guard for explode-amplifying scans.

    Spark sizes scan partitions by INPUT bytes
    (spark.sql.files.maxPartitionBytes), but shingling/tokenizing does
    work proportional to the post-explode volume — a 100x row
    amplification behind a small or single-file input serializes the
    whole explode+hash stage on a handful of cores.  The fix costs one
    exchange of the (tiny) pre-explode rows.  No-op when the input
    already has at least one split per core — the normal case at scale,
    where this never fires.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


# A query core's result: a pyarrow.Table when the evaluation ran in this
# process (topk._local_result), or the lazy DataFrame of the Spark side.
# These two helpers are the only places that tell them apart.


def as_rows(result) -> list[dict]:
    """A query core's result as a list of row dicts: ``to_pylist`` of an
    in-process table (no JVM call), ``collect`` of a Spark-side plan."""
    if isinstance(result, DataFrame):
        return [r.asDict() for r in result.collect()]
    return result.to_pylist()


def as_dataframe(spark, result) -> DataFrame:
    """A query core's result at the public DataFrame API: an in-process
    table becomes a local relation, a Spark-side plan passes through."""
    if isinstance(result, DataFrame):
        return result
    return spark.createDataFrame(result)
