"""Refresh-generation columns of the DERIVED tables (silver/gold) and the
delta-load probe behind compaction triggers.

Every derived-table write stamps its rows with the refresh epoch that
produced them:

- ``_gen`` (long, = refresh epoch) — the resolution order of turn-level
  key-MoR silver (``layer_mode`` 'turn'/'auto'): a re-enriched row keeps
  its bronze ``(lsn, op_ordinal)`` envelope, so readers, compaction and
  the change feed arbitrate by ``_gen`` instead;
- ``_rank`` (int, always 1) — kept in the on-disk schema of existing
  lakes; it carries no meaning for current writers.

Both are provenance, not business data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from maritime_activity_reports_cdc_spark.sources.lake import LakeTable

GEN_COL = "_gen"
RANK_COL = "_rank"

GEN_FIELDS = [
    T.StructField(GEN_COL, T.LongType(), True),
    T.StructField(RANK_COL, T.IntegerType(), True),
]


def stamp_generation(df: DataFrame, epoch: int) -> DataFrame:
    return df.withColumn(GEN_COL, F.lit(int(epoch)).cast("long")).withColumn(
        RANK_COL, F.lit(1).cast("int")
    )


def delta_load(table: LakeTable) -> tuple[int, int, int]:
    """(total delta files, max files per partition, row estimate) for
    compaction triggers. Max-per-partition is the read-tax proxy: a
    reader of one partition resolves that many delta files."""
    snap = table.snapshot()
    n_files = sum(len(v) for v in snap.delta_files.values())
    depth = max((len(v) for v in snap.delta_files.values()), default=0)
    n_rows = 0
    for files in snap.delta_files.values():
        for f in files:
            st = snap.file_stats.get(f) or {}
            n_rows += int(st.get("__rows", 0))
    return n_files, depth, n_rows
