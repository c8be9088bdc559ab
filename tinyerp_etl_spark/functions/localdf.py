"""Fast driver-local DataFrames for control-plane rows.

``spark.createDataFrame(list_of_tuples, schema)`` routes tiny local
data through ``sparkContext.parallelize`` with numSlices =
defaultParallelism: on a 32-core session a ONE-ROW stats table becomes
a 32-partition Python RDD, and the first action that materializes it
(every TableStore commit, every collect) pays ~31 empty Python worker
round-trips — measured ~5 s per 1-row commit on local[32], swamping
the actual work of every index-maintenance fold. The pandas/Arrow
ingest path builds the same rows JVM-side from one Arrow batch — no
Python workers at execution, ~0.03 s — with bit-identical values
(nulls, decimals, arrays, timestamps all verified by
tests/test_localdf.py against the classic path).

Use ``local_df`` for every small driver-side row set that feeds a
commit or a returned result. It is NOT for bulk data — anything of
data-plane size belongs in a distributed read, never a driver list.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_df(
    spark: SparkSession, rows: Iterable[Sequence], schema: StructType | str
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` minus the 32-slice
    Python-RDD tax: k-row control-plane data lands as one Arrow batch.

    Accepts tuples/lists (schema field order) or Row objects (matched
    by field NAME, so a collect() from a differently-ordered projection
    still lands correctly). Cells must be Arrow-representable scalars,
    decimals, datetimes, or flat lists — the control-plane shapes; rows
    of nested structs should keep the classic path.
    """
    import pandas as pd

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = list(rows)
    if not rows:
        # createDataFrame([], schema) scans an empty RDD (a job per
        # action); the JVM builds an empty local relation directly
        jss = spark._jsparkSession
        return DataFrame(
            jss.createDataFrame(
                spark._jvm.java.util.ArrayList(), jss.parseDataType(schema.json())
            ),
            spark,
        )
    names = [f.name for f in schema.fields]
    first = rows[0]
    if hasattr(first, "__fields__"):  # pyspark Row: align by name
        data = [[r[n] for n in names] for r in rows]
    else:
        data = [list(r) for r in rows]
    # dtype=object keeps None as None (a numeric column with a null
    # must not become float NaN before Arrow sees the real type)
    pdf = pd.DataFrame(data, columns=names, dtype=object)
    return spark.createDataFrame(pdf, schema)
