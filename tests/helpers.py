"""Engine-independent oracles for CDC replay tests (FIXTURES.md §6)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


def naive_replay(changes: DataFrame) -> pd.DataFrame:
    """Single-threaded fold: order by (lsn, op_ordinal), last write wins,
    D removes. Deliberately NOT written with the engine's primitives."""
    pdf = changes.toPandas()
    pdf = pdf.sort_values(["lsn", "op_ordinal"], kind="mergesort")
    state: dict[tuple, dict] = {}
    for row in pdf.to_dict("records"):
        key = (row["conv_id"], row["turn_idx"])
        if row["op"] == "D":
            state.pop(key, None)
        else:
            state[key] = row
    out = pd.DataFrame(list(state.values()))
    if out.empty:
        return out
    return out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def table_state(df: DataFrame, cols=("conv_id", "turn_idx", "role", "text", "tool", "ts")) -> pd.DataFrame:
    pdf = df.select(*cols).toPandas()
    return pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def assert_states_equal(actual: pd.DataFrame, expected: pd.DataFrame):
    """Per-turn equality under stable (conv_id, turn_idx) ordering — the
    input_hint invariant."""
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    assert len(actual) == len(expected), f"row count {len(actual)} != {len(expected)}"
    a = actual[cols].reset_index(drop=True)
    e = expected[cols].reset_index(drop=True)
    pd.testing.assert_frame_equal(a, e, check_dtype=False)


# How a bronze table came to be: "mor" is a fresh table; "cow" is a table
# stamped as lakes were when bronze still had a copy-on-write mode (a
# legacy ``apply_mode='cow'`` property, which nothing may act on).
BRONZE_ORIGINS = ("cow", "mor")


def create_bronze(spark, path: str, n_buckets: int, origin: str = "mor"):
    from maritime_activity_reports_cdc_spark.plans import bronze

    table = bronze.create_transcripts_table(spark, path, n_buckets=n_buckets)
    if origin == "cow":
        table.set_properties({"apply_mode": "cow"})
    return table


def shuffle_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in ``df``'s executed plan (broadcast exchanges
    and reused exchanges are not counted)."""
    import re

    plan = df._jdf.queryExecution().executedPlan().treeString()
    return len(re.findall(r"(?<![A-Za-z])Exchange\b", plan))
