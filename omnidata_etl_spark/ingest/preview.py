"""The `preview` verb: first-n rows + headers (reference R5).

Reference: 10-row preview with limit pushed into every source (Excel
`sheetRows:10` backend/index.js:96, text stop-after-11-lines :102-103,
Access `SELECT TOP 10` :72,:92). Here the row fetch is Spark's CollectLimit
over the scan, so the rows stop after the first n. The schema is resolved
by `read_any` on a file's first read in the session: for CSV that is a
one-row header job, but JSON and XML inference scan the whole file. A later
`read_any` of the same unchanged file (the load that follows a preview)
reuses that resolved frame.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from omnidata_etl_spark.ingest.readers import read_any


def preview(
    spark: SparkSession, path: str, n: int = 10, fmt: str | None = None
) -> dict:
    """Return {headers, preview} like the reference's /upload response
    (backend/index.js:120-130), with rows as header-keyed dicts."""
    df = read_any(spark, path, fmt=fmt)
    rows = df.limit(n).collect()
    return {
        "headers": df.columns,
        "preview": [row.asDict() for row in rows],
    }
