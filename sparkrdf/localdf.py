"""Driver fast paths: one gate to pick them, one upload to leave them.

The iterative operators (connected components, SCC, PageRank family, k-core
and k-truss peels, BFS centralities, node2vec, CBD, transitive closures)
run a small input as a driver loop over a collected list and a large one as
a distributed Spark loop. :func:`collect_if_small` is the one place that
makes that choice; :func:`local_rows_df` uploads the driver result.

``SPARKRDF_LOCAL_MAX`` is the only setting. It is read at call time, defaults
to 2,000,000 rows, and ``0`` forces every distributed loop. The two
transitive-closure sites (``query.path_closure`` and the owl closure in
``reason.owl_materialize``) gate at ``local_max() // 100`` (20,000 rows by
default) and cap their result at ``max(50 * that, 1,000,000)`` pairs:
closure output grows quadratically in its input, so a relation far below
the general row budget can still close to more pairs than a driver holds.

The upload: a plain ``spark.createDataFrame(list, schema)`` serializes the
rows one by one through py4j/pickle — measurably slow from a few tens of
thousands of rows. Routing the list through a pandas DataFrame instead
engages Spark's Arrow converter (``spark.sql.execution.arrow.pyspark.
enabled``, on in :func:`sparkrdf.session.get_spark`), which ships the
batch as one Arrow payload; when Arrow is off Spark falls back to the row
path by itself, so this is never less correct — only faster. Only for flat
schemas (strings/ints/doubles, no NULLs in non-string columns — pandas
would coerce int-with-NaN to float).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructField, StructType


def local_max() -> int:
    """Row budget of the driver fast paths (``SPARKRDF_LOCAL_MAX``)."""
    return int(os.environ.get("SPARKRDF_LOCAL_MAX", "2000000"))


def collect_if_small(
    df: DataFrame, max_rows: int | None = None, *, count: int | None = None
) -> list[Row] | None:
    """``df.collect()`` when ``df`` has at most ``max_rows`` rows (default
    :func:`local_max`), else None: the caller then runs its distributed
    loop. ``max_rows <= 0`` returns None without running a job. A caller
    that needs the row count for its distributed loop anyway passes it as
    ``count``, so the gate adds no job on either branch."""
    if max_rows is None:
        max_rows = local_max()
    if max_rows <= 0:
        return None
    n = df.count() if count is None else count
    return df.collect() if n <= max_rows else None


def local_rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``createDataFrame`` for a driver-local list of flat tuples.

    ``schema`` is a StructType or a list of ``(name, DataType)`` pairs;
    anything else — or an empty list — falls through to the plain path.
    """
    if isinstance(schema, list):
        schema = StructType([StructField(n, t) for n, t in schema])
    if not isinstance(schema, StructType) or not rows:
        return spark.createDataFrame(rows, schema)
    import pandas as pd

    names = [f.name for f in schema.fields]
    pdf = pd.DataFrame.from_records(list(rows), columns=names)
    return spark.createDataFrame(pdf, schema)
