"""Correctness checks run after every timed pass (never inside a timer).

The reference state is an independent fold of the generated change log in
DuckDB — the latest ``(lsn, op_ordinal)`` per ``(conv_id, turn_idx)`` with
deletes dropped — written without the engine's dedup primitives. Tables are
compared by an order-independent checksum over canonicalised columns.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import numpy as np
import pandas as pd

ROW_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
KEY_COLS = ["conv_id", "turn_idx"]


def fold(paths: list[str]) -> pd.DataFrame:
    """Expected bronze rows for the union of the change logs in ``paths``."""
    src = ", ".join(f"'{p}/**/*.parquet'" for p in paths)
    sql = f"""
        SELECT conv_id, turn_idx, role, text, tool, ts FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY conv_id, turn_idx ORDER BY lsn DESC, op_ordinal DESC) AS rn
          FROM read_parquet([{src}], union_by_name = true, hive_partitioning = false)
        ) WHERE rn = 1 AND op <> 'D'
    """
    with duckdb.connect() as con:
        con.execute("SET TimeZone = 'UTC'")
        return canon(con.execute(sql).df())


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Engine-independent dtypes: timestamps as UTC microseconds, integers
    as int64, strings with nulls as a sentinel."""
    out = pd.DataFrame(index=range(len(df)))
    for c in df.columns:
        s = df[c].reset_index(drop=True)
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            s = s.astype("datetime64[us]").astype("int64")
            out[c] = s
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        else:
            out[c] = s.astype(object).where(s.notna(), "\0")
    return out


def checksum(df: pd.DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row count, order-independent 64-bit sum of row hashes)."""
    if df.empty:
        return 0, 0
    h = pd.util.hash_pandas_object(df[cols], index=False).to_numpy(dtype=np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


def check_lake(pipe, expected: pd.DataFrame) -> dict[str, bool]:
    """Bronze equals the fold; silver keys equal bronze keys; the gold
    summary equals ``gold.conversation_summary`` over the final silver."""
    from maritime_activity_reports_cdc_spark.plans import bronze, gold

    got = canon(bronze.read_transcripts(pipe.bronze).select(*ROW_COLS).toPandas())
    silver_keys = canon(pipe.read_silver().select(*KEY_COLS).toPandas())
    recomputed = gold.conversation_summary(pipe.read_silver()).toPandas()
    # the table also carries its bucket and version columns
    summary = pipe.read_summary().select(*recomputed.columns).toPandas()
    return {
        "bronze_equals_fold": checksum(got, ROW_COLS) == checksum(expected, ROW_COLS),
        "silver_keys_equal_bronze": checksum(silver_keys, KEY_COLS) == checksum(got, KEY_COLS),
        "gold_summary_equals_recompute": frames_close(summary, recomputed, "conv_id"),
    }


def frames_close(a: pd.DataFrame, b: pd.DataFrame, key: str) -> bool:
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)[list(a.columns)]
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x):
            if not np.allclose(x.to_numpy(float), y.to_numpy(float), rtol=1e-9, atol=1e-9,
                               equal_nan=True):
                return False
        elif not x.astype(str).equals(y.astype(str)):
            return False
    return True


def lookup_matches(rows: list, expected: pd.DataFrame) -> bool:
    """One conversation's collected silver turns against its fold rows."""
    got = canon(pd.DataFrame([r.asDict() for r in rows], columns=ROW_COLS)) if rows else None
    if got is None:
        return expected.empty
    return checksum(got, ROW_COLS) == checksum(expected, ROW_COLS)


# -- catalog oracle (canonical md5 of sorted rows, both engines) --------------

def _cell(x) -> str:
    if x is None or x is pd.NaT:
        return ""
    if isinstance(x, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(v) for v in x) + "]"
    if isinstance(x, (np.floating, float)):
        x = float(x)
        return "" if math.isnan(x) else repr(round(x, 9))
    if isinstance(x, np.integer):
        return str(int(x))
    if isinstance(x, pd.Timestamp):
        return x.isoformat(sep=" ")
    return str(x)


def row_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = sorted("\x1f".join(_cell(v) for v in row) for row in df.itertuples(index=False))
    return hashlib.md5("\n".join(rows).encode("utf-8")).hexdigest()


def oracle_matches(spark_pdf: pd.DataFrame, sql: str, sf_dir: str, tables) -> bool:
    with duckdb.connect() as con:
        for name in tables:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
        oracle = con.execute(sql).df()
    if sorted(spark_pdf.columns) != sorted(oracle.columns) or len(spark_pdf) != len(oracle):
        return False
    return row_hash(spark_pdf) == row_hash(oracle)
