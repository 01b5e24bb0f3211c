"""Driver-planned scans: plan the splits in the caller's process, read
each one in its own Spark task.

Spark plans a Python ``DataSource`` in separate planner processes: each
SparkContext starts one ``python -m pyspark.daemon <module>`` per
planner module it uses (``create_data_source`` for the schema at
``load()``, ``plan_data_source_read`` at optimize; the JVM also starts
``lookup_data_sources`` when a source is registered).
None of them is the executors' worker daemon, and on a 4-vCPU VM each
start costs 1.5-2.9 s. The caller's process already has the reader
imported, so the scans plan their splits there and :func:`scan_splits`
reads them through one ``mapInArrow``: one task per split, run by the
executors' worker daemon (in a local session the package's own,
``polars_fastx_spark._daemon``, which forks workers with the package
loaded and ACKs each task's small writes at once). Rows become Arrow
through the converter PySpark's own data-source read uses, batched by
``spark.sql.execution.arrow.maxRecordsPerBatch``, so column types,
nulls and batch sizes are those of ``spark.read.format(...)``.

The splits are the rows of an RDD-backed relation with one split per
partition, as on the data-source path:

- a task receives only its own split, so a scan of many files costs
  each task O(1), not O(splits);
- the relation reports no size, so the optimizer sizes the scan like a
  data-source scan (``spark.sql.defaultSizeInBytes``) and never plans a
  broadcast of it. A ``Range`` leaf would report 8 bytes a split, and a
  corpus-sized join side would be collected to the driver.

Splits are planned when the scan is built, not at each action: a scan
reused after its files change keeps the split layout planned from
their old sizes.
"""

from __future__ import annotations

import pickle
import sys
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import BinaryType, StructField, StructType

_SPLIT_SCHEMA = StructType([StructField("split", BinaryType(), False)])


def check_split_bytes(split_bytes: int) -> None:
    """Reject a non-positive split target, which would plan no byte
    ranges at all: an empty scan with no error."""
    if split_bytes <= 0:
        raise ValueError(f"split_bytes must be > 0, got {split_bytes}")


def byte_ranges(size: int, split_bytes: int) -> list[tuple[int, int]]:
    """``[start, end)`` ranges of ``split_bytes`` covering ``size`` bytes."""
    return [
        (off, min(off + split_bytes, size))
        for off in range(0, size, split_bytes)
    ]


def scan_splits(
    spark: SparkSession,
    splits: Sequence[InputPartition],
    reader: DataSourceReader,
    schema: StructType,
    source: type[DataSource],
) -> DataFrame:
    """One task per split, each yielding ``reader.read(split)`` as rows
    of ``schema``; ``source`` names the data source in row-shape errors,
    as on the data-source path. ``reader`` is pickled into every task,
    so it should hold no per-file state."""
    sc = spark.sparkContext
    n = len(splits)
    pickled = sc.parallelize([(pickle.dumps(s),) for s in splits], n)
    # the rows are unpickled on the JVM, as createDataFrame does after
    # its Python-side conversion: no Python worker runs for them
    jvm = sc._jvm
    rows = jvm.SerDeUtil.toJavaArray(jvm.SerDeUtil.pythonToJava(pickled._jrdd, True))
    jdf = spark._jsparkSession.applySchemaToPythonRDD(rows.rdd(), _SPLIT_SCHEMA.json())
    batch_rows = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    if batch_rows <= 0:  # the conf's "no limit"; a 0-row batch would end the read
        batch_rows = sys.maxsize

    def read(batches):
        from pyspark.sql.worker.plan_data_source_read import (
            records_to_arrow_batches,
        )

        for batch in batches:
            for split in batch.column(0).to_pylist():
                yield from records_to_arrow_batches(
                    reader.read(pickle.loads(split)), batch_rows, schema, source
                )

    return DataFrame(jdf, spark).mapInArrow(read, schema)
