"""End-to-end CDC consume cycle (SURVEY.md §3.3) as ONE declarative plan.

The reference's changes pipeline is three row-at-a-time stages — ingest
(extractor_loaders/pure_api_changes.py:78-110), per-family fetch/act
(extractor_loaders/pure_api_persons.py:103-189), parse/load
(transformer_loaders/*) — stitched by buffer tables and a daemon loop.

Here one cycle is one scan of ``events`` and one ``groupBy`` on the
entity key.  Every stage of the operator chain

    watermark split → P5/P3 gates → C2 version guard → C3/C4 compaction
    → action split (DELETE ⇒ cascade, else upsert) → M4 freshness merge

only ever compares rows of the same entity, so per entity the chain
reduces to two heads: the latest history row (``ts <= cutoff``, the
C3 compacted target) and the latest gated incoming row (the C4 head of
the changes).  The incoming head is fresh when its version exceeds the
stored one (C2; a fresh head always wins the M4 merge, whose guard is
the same strict ``>``).  A fresh DELETE drops the entity (M6), another
fresh change replaces it, and otherwise the stored row stays.  So the
plan scans ``events`` once and shuffles it once, on ``user_id``; a
chain of the per-stage ``operators`` would re-scan and re-shuffle it
per stage.

The synthetic cast: ``user_id`` plays the entity uuid, ``event_id`` the
monotone version, ``event_type`` the changeType ('error' plays DELETE,
'view' plays the non-whitelisted family), the pre-cutoff slice of
``events`` plays the already-consumed history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# perfbench's traced run wraps cdc_pipeline.split_actions by name
from experts_etl_spark.operators import split_actions  # noqa: F401
from experts_etl_spark.sources import read_table

CUTOFF = "2024-01-14"
FAMILY_BLOCKLIST = ("view",)
COLS = ["user_id", "event_id", "ts", "event_type", "value"]


def _head(ev_filter, row, version):
    """The row with the highest version among those passing ``ev_filter``
    (NULL when none does: max_by skips NULL orderings)."""
    return F.max_by(F.when(ev_filter, row), F.when(ev_filter, version))


def consume_cycle(
    spark: SparkSession, sf_dir: str, cutoff: str = CUTOFF
) -> DataFrame:
    """One CDC cycle: returns the post-cycle entity-state table."""
    ev = read_table(spark, sf_dir, "events").select(*COLS)
    cut = F.lit(cutoff).cast("timestamp")
    row, version = F.struct(*COLS), F.col("event_id")
    # P5 required fields are non-null by schema here; P3 family whitelist
    gated = (F.col("ts") > cut) & ~F.col("event_type").isin(*FAMILY_BLOCKLIST)
    heads = ev.groupBy("user_id").agg(
        _head(F.col("ts") <= cut, row, version).alias("_stored"),
        _head(gated, row, version).alias("_change"),
    )
    stored, change = F.col("_stored"), F.col("_change")
    fresh = change.isNotNull() & (
        stored.isNull() | (change["event_id"] > stored["event_id"])
    )
    return (
        heads.filter(~(fresh & (change["event_type"] == "error")))
        .select(F.when(fresh, change).otherwise(stored).alias("_row"))
        .filter(F.col("_row").isNotNull())
        .select("_row.*")
    )
