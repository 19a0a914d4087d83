"""Output checks: an order-insensitive hash that forces every column, and
a value comparison of a Spark result against its DuckDB twin.

The hash is computed inside Spark so a timed action reads every output
column: ``count()`` alone lets Catalyst prune columns and skip the work
that produces them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


class CheckFailed(Exception):
    """An operation's output did not match its reference."""


def hash_frame(df):
    """(rows, sum of low 32 bits, sum of high 32 bits) of xxhash64 over
    all columns. Sums make the result independent of row order; two
    32-bit halves keep the sums far from bigint overflow."""
    from pyspark.sql import functions as F

    cols = [F.to_json(F.col(f"`{f.name}`")) if "map<" in f.dataType.simpleString()
            else F.col(f"`{f.name}`") for f in df.schema.fields]
    h = F.xxhash64(*cols)
    return df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        F.sum(F.shiftrightunsigned("h", 32)).alias("hi"))


def md5_pair_sum(df, key: str, value: str):
    """Sum of the first 32 bits of md5("<key>|<value>") over rows,
    matching ``gen.row_hash`` exactly."""
    from pyspark.sql import functions as F

    digest = F.md5(F.concat_ws("|", F.col(key).cast("string"), F.col(value)))
    return df.select(F.conv(F.substring(digest, 1, 8), 16, 10)
                     .cast("bigint").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            ts = pd.to_datetime(s)
            if getattr(ts.dtype, "tz", None) is not None:
                ts = ts.dt.tz_localize(None)
            df[c] = ts.astype("datetime64[ns]")
        elif s.dtype == object:
            df[c] = s.map(lambda x: x.tolist() if isinstance(x, np.ndarray)
                          else x).astype(str)
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype(bool)
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare_frames(spark_pdf: pd.DataFrame, ref_pdf: pd.DataFrame) -> list[str]:
    """Problems found comparing a Spark result with its reference; empty
    when they agree. Rows are compared as multisets; floats to a
    relative 1e-9, everything else exactly."""
    if sorted(spark_pdf.columns) != sorted(ref_pdf.columns):
        return [f"columns {sorted(spark_pdf.columns)} != "
                f"{sorted(ref_pdf.columns)}"]
    if len(spark_pdf) != len(ref_pdf):
        return [f"rows {len(spark_pdf)} != {len(ref_pdf)}"]
    s, d = _normalize(spark_pdf), _normalize(ref_pdf)
    problems = []
    for c in s.columns:
        a, b = s[c], d[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            if not np.allclose(a.astype(float), b.astype(float), rtol=1e-9,
                               atol=1e-12, equal_nan=True):
                problems.append(f"column {c}: float values differ")
        elif not a.astype(str).equals(b.astype(str)):
            problems.append(f"column {c}: {int((a != b).sum())} values differ")
    return problems
