"""Arrow-backed local DataFrames (guide §4: eliminate the Python boundary).

``spark.createDataFrame(list_of_rows, schema)`` parallelizes the rows into a
Python-RDD-backed plan: every downstream task that computes the relation
forks a Python worker just to unpickle a handful of rows. Measured on the
bench box (round 6): a single-task parquet write of a 3-row local relation
costs ~5s wall, every time — the Stage-A lineage-marker write and the
pipeline metrics write were each paying it, and the driver-side
connected-components result (vocabulary-scale) re-paid it on every
consuming job until cached.

Routing the same rows through a pandas DataFrame takes Spark's Arrow
conversion path instead (``spark.sql.execution.arrow.pyspark.enabled``,
on in session.py): the rows are converted driver-side into a pure-JVM
local relation — identical rows and schema, no Python workers at task
time. The same tiny write drops to ~0.2s.

Zero rows are the exception: the Arrow path ships no batch, and the JVM
side then builds an RDD-backed plan (``isLocal()`` is False), so an empty
edge or alias table would fork Python workers when consumed. Empty row
lists therefore build an empty ``LocalRelation`` directly in the JVM.
"""

from __future__ import annotations

from typing import Iterable, Sequence, Union

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_df(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: Union[str, T.StructType],
) -> DataFrame:
    """Drop-in for ``spark.createDataFrame(rows, schema)`` for small local
    row lists (markers, metrics, dimension tables): same rows, same schema,
    but JVM-local (Arrow-converted) instead of Python-RDD-backed.

    ``rows`` are positional tuples/lists matching ``schema`` field order —
    the only form the pipeline's call sites use.
    """
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    rows = list(rows)
    if not rows:
        jspark = spark._jsparkSession
        jdf = jspark.createDataFrame(
            spark._jvm.java.util.ArrayList(), jspark.parseDataType(schema.json())
        )
        return DataFrame(jdf, spark)
    pdf = pd.DataFrame(rows, columns=[f.name for f in schema.fields], dtype=object)
    # object-dtype columns: the Arrow converter casts per the target schema
    # field (ints stay exact, None maps to null, tz-aware datetimes convert
    # under the session timezone) — no pandas numeric inference in between
    return spark.createDataFrame(pdf, schema)
