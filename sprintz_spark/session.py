"""SparkSession factory with engine defaults.

Scale notes (1000-executor / 100 TB target): these configs are the
local-mode stand-ins; on a real cluster the same settings apply with
shuffle.partitions sized ~2-3x total cores and AQE coalescing/skew-join
left on. Everything else (salting, bucketed encode groups, manifest
resume) is handled explicitly by the engine, not session conf.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip the sprintz_spark package for --py-files-style shipping.

    Executors run their own Python workers that do NOT inherit the
    driver's sys.path; the package must travel via addPyFile/--py-files
    (north_star: 'ships as a spark-submit --py-files package').
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), "sprintz_spark_pkg.zip")
    with zipfile.ZipFile(out, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "sprintz_spark", os.path.relpath(full, pkg_dir)
                    )
                    z.write(full, rel)
    return out


def local_values_df(spark: SparkSession, rows, schema):
    """Tiny driver-local DataFrame as a pure-JVM VALUES relation.

    ``spark.createDataFrame(list)`` plans a Python-RDD scan; writing one
    to parquet stalls ~3-9 s in driver-side planning (EnsureRequirements
    repeatedly scanning jars for classes — measured r10, thread dumps in
    OPTIMIZATION_r10.md). An inline VALUES relation plans as a JVM
    LocalRelation and writes in ~0.3-1 s. Supports int/float/str/
    datetime/bool/None cells; every column is cast to the declared type
    so the result schema is exactly ``schema`` (a DDL string or
    StructType). Intended for metadata-scale rows (manifests, logs,
    sentinels) — never row-scale data."""
    import datetime as _dt
    import math as _math

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    if isinstance(schema, StructType):
        names = [f.name for f in schema.fields]
        types = [f.dataType.simpleString() for f in schema.fields]
    else:
        parts = [c.strip() for c in schema.split(",")]
        names = [p.split()[0] for p in parts]
        types = [p.split(maxsplit=1)[1] for p in parts]

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, _dt.datetime):
            return f"TIMESTAMP'{v.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
        if isinstance(v, float):
            if _math.isnan(v):
                return "CAST('NaN' AS DOUBLE)"
            if _math.isinf(v):
                return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
            return f"CAST({v!r} AS DOUBLE)"
        return str(v)

    vals = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    if not rows:
        # empty VALUES is invalid SQL: build one all-NULL row and drop it
        vals = "(" + ", ".join("NULL" for _ in names) + ")"
        df = spark.sql(f"SELECT * FROM VALUES {vals} AS t({', '.join(names)})")
        df = df.limit(0)
    else:
        df = spark.sql(f"SELECT * FROM VALUES {vals} AS t({', '.join(names)})")
    return df.select(
        *[F.col(n).cast(t).alias(n) for n, t in zip(names, types)]
    )


def get_spark(
    app: str = "sprintz_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    master = master or f"local[{cpus}]"
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        # Arrow transfer for pandas UDFs — the codec hot path
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # AQE: runtime coalescing + skew-join splitting
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus * 2),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.addPyFile(package_zip())
    return spark
