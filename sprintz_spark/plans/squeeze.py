"""The reference's encode→measure→decode→verify harness, Spark-first.

Parity with dfsqueeze.encode_measure_decode (reference:
python/dfsqueeze.py:133-231): encode every value column of a series table,
measure per-column compressed sizes, decode, and verify exact equality
with the input — except that "files per column" becomes blob columns of
the encoded DataFrame and the equality check is a distributed multiset
compare (exceptAll both ways) instead of a single-process DataFrame
compare. A retention store is checked without its input by
plans.retention.verify_snapshot (every blob re-encodes to itself and the
row counts match the manifest); this harness is the exactness oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sprintz_spark.operators.encode import decode_series, encode_series


def encode_measure_decode(
    df: DataFrame,
    key_cols: list[str] = ("url",),
    ts_col: str = "bucket",
    value_cols: list[str] = ("crawl_count",),
    value_types: dict | None = None,
    codecs: dict | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (report, encoded, decoded).

    ``report`` has one row per encoded column:
    (column, n_points, raw_bytes, comp_bytes, ratio, n_mismatch) —
    n_mismatch == 0 for every column proves decode(encode(x)) == x
    through the full Spark round trip (the reference's
    dfs_orig.equals(dfs_hat) gate, python/dfsqueeze.py:209).
    """
    key_cols, value_cols = list(key_cols), list(value_cols)
    spark = df.sparkSession
    all_cols = key_cols + [ts_col] + value_cols
    src = df.select(*all_cols)
    enc = encode_series(
        src, key_cols=key_cols, ts_col=ts_col, value_cols=value_cols, codecs=codecs
    )
    enc.persist()
    dec = decode_series(
        enc,
        key_cols=key_cols,
        ts_col=ts_col,
        value_cols=value_cols,
        value_types=value_types,
    ).select(*all_cols)
    # multiset equality in ONE shuffle: tag sides +1/-1, group on the full
    # row, sum tags — sum(|delta|) equals exceptAll(src,dec).count() +
    # exceptAll(dec,src).count() (each of those is itself a full shuffle
    # of both sides, so this halves the verify cost)
    tagged = src.withColumn("_side", F.lit(1)).unionByName(
        dec.withColumn("_side", F.lit(-1))
    )
    mism = int(
        tagged.groupBy(*all_cols)
        .agg(F.sum("_side").alias("_d"))
        .agg(F.coalesce(F.sum(F.abs(F.col("_d"))), F.lit(0)))
        .first()[0]
    )
    itemsizes = {
        c: 8 for c in value_cols  # engine value columns are 64-bit (long/double)
    }
    sizes = enc.agg(
        F.sum("n").alias("n"),
        F.sum(F.length("ts_blob")).alias("comp_ts"),
        *[F.sum(F.length(f"blob_{c}")).alias(f"comp_{c}") for c in value_cols],
    ).first()
    n = sizes["n"] or 0
    rows = [(ts_col, n, n * 8, sizes["comp_ts"] or 0, mism)]
    rows += [
        (c, n, n * itemsizes[c], sizes[f"comp_{c}"] or 0, mism) for c in value_cols
    ]
    from sprintz_spark.session import local_values_df

    report = local_values_df(
        spark,
        [
            (c, int(np_), int(raw), int(comp), float(raw / comp) if comp else 0.0, int(mm))
            for c, np_, raw, comp, mm in rows
        ],
        "column string, n_points long, raw_bytes long, comp_bytes long, "
        "ratio double, n_mismatch long",
    )
    return report, enc, dec
