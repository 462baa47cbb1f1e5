"""Driver-facing queries exercising the reference operator surface
(SURVEY.md §2) on the synthetic tables, each with a DuckDB oracle twin.

Cross-engine determinism rules used throughout:

- Money aggregates sum in DECIMAL (exact) and cast the result to DOUBLE
  — identical bits in Spark and DuckDB regardless of summation order.
- Every window ordering includes a unique tie-break column.
- Aggregate/computed columns are aliased identically in both engines.
- DuckDB ``sum(int)`` returns HUGEINT — oracles cast to BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from experts_etl_spark import functions as X
from experts_etl_spark.operators import (
    compact_changes,
    dedupe_keep_best,
    delete_cascade,
    delete_merged_uuids,
    dim_lookup,
    elect_primary,
    existence_gate,
    latest_per_key,
    merge_upsert,
    nested_set_labels,
    override_join,
    overwrite_children,
    prune_unreachable,
    reconcile_sets,
    reference_entry,
    run_groups,
    sessionize,
    snapshot_diff_keys,
    snapshot_diff_rows,
    split_stints,
    tree_closure,
    upsert_error_counts,
    with_error_id,
    with_lead_end,
)
from experts_etl_spark.sources import read_table

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _dec(col, prec="decimal(12,2)"):
    return (F.col(col) if isinstance(col, str) else col).cast(prec)


# ---------------------------------------------------------------------------
# Scan + aggregate (S1, A5/A6, P2-P4) — flagship pricing summary
# ---------------------------------------------------------------------------

@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                    * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped scan→filter→agg; the filter and the 7-column
    projection push down to the parquet scan."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(4,2)")
    disc_price = _dec("l_extendedprice") * (one - _dec("l_discount", "decimal(4,2)"))
    charge = disc_price * (one + _dec("l_tax", "decimal(4,2)"))
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        (F.sum(_dec("l_quantity")).cast("double") / n).alias("avg_qty"),
        (F.sum(_dec("l_extendedprice")).cast("double") / n).alias("avg_price"),
        (F.sum(_dec("l_discount", "decimal(4,2)")).cast("double") / n).alias("avg_disc"),
        n.alias("count_order"),
    )


@query(
    "customers_per_nation",
    """
    SELECT n.n_name AS nation, count(*) AS n_customers,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: COUNT per group over a broadcast dim join (reference
    count_pure_eligible_persons_in_dept, umn_data_error.py:125-126)."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Window / sequence operators (W1-W9, A4/J5)
# ---------------------------------------------------------------------------

@query(
    "latest_event_per_user",
    """
    SELECT user_id, event_id, ts, event_type, value FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/J5: latest record per key (latest-demog-per-person,
    demographics.py:4-14; latest-per-uuid,
    transformer_loaders/pure_api_internal_person.py:19-27)."""
    ev = read_table(spark, sf_dir, "events")
    return latest_per_key(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    ).select("user_id", "event_id", "ts", "event_type", "value")


@query(
    "event_run_groups",
    """
    WITH ordered AS (
      SELECT user_id, event_id, ts, event_type, value,
             CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      FROM events
    ), grp AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS group_id
      FROM ordered
    )
    SELECT user_id, CAST(group_id AS BIGINT) AS group_id,
           min(event_type) AS event_type,
           min(ts) AS start_ts, max(ts) AS end_ts,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM grp GROUP BY user_id, group_id
    """,
)
def event_run_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: run-length grouping (gaps-and-islands) — consecutive events of
    the same type per user form one group (reference group_entries,
    oit_to_edw/employee_job.py:205-231)."""
    ev = read_table(spark, sf_dir, "events")
    grouped = run_groups(
        ev, ["user_id"], [F.col("ts"), F.col("event_id")], ["event_type"]
    )
    return grouped.groupBy("user_id", F.col("group_id").cast("bigint").alias("group_id")).agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(_dec("value")).cast("double").alias("total_value"),
    )


@query(
    "primary_event_election",
    """
    SELECT user_id, event_id AS primary_event_id, event_type, ts FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id
        ORDER BY CASE event_type WHEN 'purchase' THEN 1 WHEN 'signup' THEN 2
                                 WHEN 'view' THEN 3 WHEN 'click' THEN 4 ELSE 5 END,
                 ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def primary_event_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: primary election — the reference's 6-level cascading fallback
    (transform_primary_job, oit_to_edw/person.py:319-459) expressed as a
    single priority-class window ordering; exactly one winner per user."""
    ev = read_table(spark, sf_dir, "events")
    priority = (
        F.when(F.col("event_type") == "purchase", 1)
        .when(F.col("event_type") == "signup", 2)
        .when(F.col("event_type") == "view", 3)
        .when(F.col("event_type") == "click", 4)
        .otherwise(5)
    )
    return (
        elect_primary(ev, ["user_id"], priority, [F.col("ts"), F.col("event_id")])
        .filter(F.col("primary"))
        .select(
            "user_id",
            F.col("event_id").alias("primary_event_id"),
            "event_type",
            "ts",
        )
    )


@query(
    "user_sessions",
    """
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           min(ts) AS start_ts, max(ts) AS end_ts, count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3-shaped sessionization: a 30-minute silence closes the session
    (the scale generalization of the reference's stint splitting,
    oit_to_edw/affiliate_job.py:111-147)."""
    ev = read_table(spark, sf_dir, "events")
    s = sessionize(ev, ["user_id"], "ts", 1800)
    return s.groupBy(
        "user_id", F.col("session_id").cast("bigint").alias("session_id")
    ).agg(
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "dedupe_keep_best",
    """
    WITH flagged AS (
      SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice, o_orderdate,
             o_orderstatus = 'O' AS is_open,
             bool_or(o_orderstatus = 'O') OVER (PARTITION BY o_custkey, o_orderpriority) AS any_open,
             row_number() OVER (PARTITION BY o_custkey, o_orderpriority
                                ORDER BY (o_orderstatus = 'O') DESC, o_orderdate DESC, o_orderkey DESC) AS rn,
             o_orderpriority
      FROM orders
    )
    SELECT o_custkey, o_orderpriority, o_orderkey, o_totalprice, any_open
    FROM flagged WHERE rn = 1
    """,
)
def q_dedupe_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9: collapse rows sharing a composite business key, preferring the
    "still-open" row and OR-ing a flag across the group
    (transform_staff_org_assoc_id, oit_to_edw/person.py:272-317)."""
    o = read_table(spark, sf_dir, "orders").withColumn(
        "any_open", F.col("o_orderstatus") == "O"
    )
    best = dedupe_keep_best(
        o,
        ["o_custkey", "o_orderpriority"],
        [
            (F.col("o_orderstatus") == "O").desc(),
            F.col("o_orderdate").desc(),
            F.col("o_orderkey").desc(),
        ],
        or_cols=["any_open"],
    )
    return best.select(
        "o_custkey", "o_orderpriority", "o_orderkey", "o_totalprice", "any_open"
    )


@query(
    "stint_splitting",
    """
    WITH rn AS (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ), cl AS (
      SELECT *, min(CASE WHEN event_type = 'error' THEN rn END)
                  OVER (PARTITION BY user_id) AS closed_rn
      FROM rn
    ), kept AS (
      SELECT * FROM cl WHERE closed_rn IS NULL OR rn <= closed_rn
    ), flg AS (
      SELECT *, CASE WHEN event_type IN ('view','click','signup')
                      AND coalesce(lag(CAST(event_type IN ('view','click','signup') AS INT))
                                   OVER (PARTITION BY user_id ORDER BY rn), 0) = 0
                THEN 1 ELSE 0 END AS starts
      FROM kept
    )
    SELECT user_id, event_id, event_type,
           CAST(sum(starts) OVER (PARTITION BY user_id ORDER BY rn
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS stint_id
    FROM flg
    """,
)
def stint_splitting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: stint splitting with stop-after-closed semantics
    (split_entries_into_stints, oit_to_edw/affiliate_job.py:111-147).
    view/click/signup are active, purchase terminates a stint, the
    first error row closes the key — later rows are ignored."""
    ev = read_table(spark, sf_dir, "events")
    out = split_stints(
        ev,
        ["user_id"],
        [F.col("ts"), F.col("event_id")],
        "event_type",
        active_statuses=["view", "click", "signup"],
        closed_status="error",
    )
    return out.select(
        "user_id", "event_id", "event_type", F.col("stint_id").cast("bigint").alias("stint_id")
    )


@query(
    "reference_entry_selection",
    """
    WITH base AS (
      SELECT *, CAST(event_type = 'purchase' AS INT) AS is_pref FROM events
    ), r AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id ORDER BY is_pref DESC, ts, event_id) AS rn_pref,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_last,
             max(is_pref) OVER (PARTITION BY user_id) AS has_pref
      FROM base
    )
    SELECT user_id, event_id, event_type, ts FROM r
    WHERE CASE WHEN has_pref = 1 THEN rn_pref ELSE rn_last END = 1
    """,
)
def reference_entry_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: reference-entry selection — first 'purchase' row per user if
    any, else the last row (oit_to_edw/employee_job.py:97-106)."""
    ev = read_table(spark, sf_dir, "events")
    out = reference_entry(
        ev, ["user_id"], [F.col("ts"), F.col("event_id")], "event_type",
        preferred_status="purchase",
    )
    return out.select("user_id", "event_id", "event_type", "ts")


@query(
    "job_end_dates",
    """
    WITH ordered AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      FROM events
    ), grp AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS group_id
      FROM ordered
    ), jobs AS (
      SELECT user_id, CAST(group_id AS BIGINT) AS group_id,
             min(ts) AS start_ts, max(ts) AS end_ts
      FROM grp GROUP BY user_id, group_id
    )
    SELECT user_id, group_id, start_ts,
           coalesce(lead(start_ts) OVER (PARTITION BY user_id ORDER BY start_ts, group_id),
                    end_ts) AS end_capped
    FROM jobs
    """,
)
def job_end_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/W6: end-date derivation — the next group's start caps the
    current group's end; open tail keeps its own last date
    (oit_to_edw/employee_job.py:66-73,91-95,108-116)."""
    ev = read_table(spark, sf_dir, "events")
    grouped = run_groups(
        ev, ["user_id"], [F.col("ts"), F.col("event_id")], ["event_type"]
    )
    jobs = grouped.groupBy(
        "user_id", F.col("group_id").cast("bigint").alias("group_id")
    ).agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    capped = with_lead_end(
        jobs, ["user_id"], [F.col("start_ts"), F.col("group_id")], "start_ts"
    )
    return capped.select(
        "user_id",
        "group_id",
        "start_ts",
        F.coalesce("next_start", "end_ts").alias("end_capped"),
    )


@query(
    "visibility_rollup",
    """
    SELECT user_id,
           CASE WHEN bool_or(event_type = 'purchase') THEN 'Public' ELSE 'Private' END AS visibility,
           CAST(bool_or(event_type = 'signup') AS BOOLEAN) AS has_signup,
           count(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def visibility_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: ANY/BOOL_OR rollups — person visibility is Public if any job
    is Public; jobs_include_primary OR (oit_to_edw/person.py:257-313)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.when(F.max((F.col("event_type") == "purchase").cast("int")) == 1, "Public")
        .otherwise("Private")
        .alias("visibility"),
        (F.max((F.col("event_type") == "signup").cast("int")) == 1).alias("has_signup"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Snapshot diffs (X1/X2) and set ops (A8/X4)
# ---------------------------------------------------------------------------

@query(
    "snapshot_new_keys",
    """
    SELECT DISTINCT o_custkey FROM orders
    EXCEPT
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
    """,
)
def snapshot_new_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: key-level snapshot diff — customers first seen after the
    cutoff (pure_eligible_person MINUS history, oit_to_edw/person.py:129-140)."""
    o = read_table(spark, sf_dir, "orders")
    current = o.select("o_custkey").distinct()
    history = o.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    return snapshot_diff_keys(current, history, ["o_custkey"])


@query(
    "snapshot_changed_rows",
    """
    WITH latest AS (
      SELECT user_id, event_type, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
    ), hist_latest AS (
      SELECT user_id, event_type, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '2024-01-15') WHERE rn = 1
    )
    SELECT user_id, event_type, value FROM latest
    WHERE user_id IN (
      SELECT user_id FROM (SELECT * FROM latest EXCEPT ALL SELECT * FROM hist_latest)
    )
    """,
)
def snapshot_changed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: full-row snapshot diff against latest history per key
    (11-column demog MINUS, oit_to_edw/person.py:142-186)."""
    ev = read_table(spark, sf_dir, "events")
    current = latest_per_key(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    ).select("user_id", "event_type", "value")
    history = ev.filter(F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
    changed = snapshot_diff_rows(
        current,
        history,
        ["user_id"],
        [F.col("ts").desc(), F.col("event_id").desc()],
        ["event_type", "value"],
    )
    return changed.select("user_id", "event_type", "value")


@query(
    "multiset_except",
    """
    SELECT event_type FROM events WHERE user_id % 2 = 0
    EXCEPT ALL
    SELECT event_type FROM events WHERE user_id % 2 = 1
    """,
)
def multiset_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/X4: multiset difference (Counter(uuids) − Counter(in_pure),
    pure_to_edw/collection.py:96-103) — ``exceptAll``."""
    ev = read_table(spark, sf_dir, "events")
    a = ev.filter(F.col("user_id") % 2 == 0).select("event_type")
    b = ev.filter(F.col("user_id") % 2 == 1).select("event_type")
    return a.exceptAll(b)


@query(
    "snapshot_delta",
    """
    WITH latest AS (
      SELECT user_id, event_type, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
    ), hist AS (
      SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-15'
    ), hist_latest AS (
      SELECT user_id, event_type, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM hist) WHERE rn = 1
    ), delta AS (
      SELECT user_id, event_type, value FROM latest
      WHERE user_id IN (
        SELECT user_id FROM (SELECT * FROM latest EXCEPT ALL SELECT * FROM hist_latest)
      )
    )
    SELECT d.user_id, d.event_type, d.value,
           CASE WHEN h.user_id IS NULL THEN 'new' ELSE 'changed' END AS change_type
    FROM delta d LEFT JOIN (SELECT DISTINCT user_id FROM hist) h USING (user_id)
    """,
)
def snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1+X2 in one gated row: snapshot diff split into 'new' (key-level
    MINUS, oit_to_edw/person.py:129-140) and 'changed' (full-row MINUS
    vs latest history, oit_to_edw/person.py:142-186) — the same split
    the reference performs before history append (M3).  Exercises BOTH
    snapshot operators on one cutoff."""
    ev = read_table(spark, sf_dir, "events")
    current = latest_per_key(
        ev, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    ).select("user_id", "event_type", "value")
    history = ev.filter(F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
    delta = snapshot_diff_rows(
        current,
        history,
        ["user_id"],
        [F.col("ts").desc(), F.col("event_id").desc()],
        ["event_type", "value"],
    ).select("user_id", "event_type", "value")
    new_part = snapshot_diff_keys(delta, history, ["user_id"]).withColumn(
        "change_type", F.lit("new")
    )
    changed_part = delta.join(
        history.select("user_id").distinct(), ["user_id"], "left_semi"
    ).withColumn("change_type", F.lit("changed"))
    return new_part.unionByName(changed_part)


# ---------------------------------------------------------------------------
# CDC (C1-C5, W7) over the events feed
# ---------------------------------------------------------------------------

@query(
    "cdc_watermark",
    "SELECT max(ts) AS wm FROM events",
)
def cdc_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1/A1: scalar MAX watermark
    (extractor_loaders/pure_api_changes.py:28-41)."""
    from experts_etl_spark.operators.cdc import watermark

    ev = read_table(spark, sf_dir, "events")
    return watermark(ev, None, "ts").select(F.col("wm"))


@query(
    "cdc_compaction",
    """
    SELECT user_id, event_id AS version,
           CASE WHEN event_type = 'error' THEN 'DELETE' ELSE 'UPSERT' END AS action
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM (SELECT DISTINCT user_id, event_id, event_type FROM events)
    ) WHERE rn = 1
    """,
)
def cdc_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3/C4/W7: per-key latest-version-wins compaction; the winning
    event's type decides delete vs upsert
    (changes_buffer_managers.py:4-21,
    extractor_loaders/pure_api_persons.py:124-189).  ``event_id`` plays
    the version role; 'error' events play DELETE."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type"
    )
    compacted = compact_changes(ev, "user_id", "event_id")
    return compacted.select(
        "user_id",
        F.col("event_id").alias("version"),
        F.when(F.col("event_type") == "error", "DELETE")
        .otherwise("UPSERT")
        .alias("action"),
    )


@query(
    "cdc_new_versions",
    """
    WITH stored AS (
      SELECT user_id, max(event_id) AS maxv FROM events
      WHERE ts < TIMESTAMP '2024-01-15' GROUP BY user_id
    )
    SELECT e.user_id, e.event_id, e.event_type
    FROM events e LEFT JOIN stored s ON e.user_id = s.user_id
    WHERE e.ts >= TIMESTAMP '2024-01-15' AND (s.maxv IS NULL OR e.event_id > s.maxv)
    """,
)
def cdc_new_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: idempotent ingest — drop events whose (key, version) is
    already stored (extractor_loaders/pure_api_changes.py:49-64)."""
    from experts_etl_spark.operators.cdc import filter_new_versions

    ev = read_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    stored = ev.filter(F.col("ts") < cutoff)
    incoming = ev.filter(F.col("ts") >= cutoff)
    return filter_new_versions(incoming, stored, "user_id", "event_id").select(
        "user_id", "event_id", "event_type"
    )


@query(
    "merge_upsert_freshness",
    """
    WITH tgt AS (
      SELECT user_id, event_type, value, ts FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '2024-01-15') WHERE rn = 1
    ), src AS (
      SELECT user_id, event_type, value, ts FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
        FROM events WHERE ts >= TIMESTAMP '2024-01-15') WHERE rn = 1
    ), winners AS (
      SELECT s.* FROM src s LEFT JOIN tgt t USING (user_id)
      WHERE t.user_id IS NULL OR s.ts > t.ts
    )
    SELECT * FROM winners
    UNION ALL
    SELECT t.* FROM tgt t WHERE t.user_id NOT IN (SELECT user_id FROM winners)
    """,
)
def merge_upsert_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4/C5: freshness-guarded MERGE — source row skipped when the
    stored row is same-or-newer
    (transformer_loaders/pure_api_internal_person.py:131-152)."""
    ev = read_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    target = latest_per_key(
        ev.filter(F.col("ts") < cutoff),
        ["user_id"],
        [F.col("ts").desc(), F.col("event_id").desc()],
    ).select("user_id", "event_type", "value", "ts")
    source = latest_per_key(
        ev.filter(F.col("ts") >= cutoff),
        ["user_id"],
        [F.col("ts").asc(), F.col("event_id").asc()],
    ).select("user_id", "event_type", "value", "ts")
    return merge_upsert(target, source, ["user_id"], freshness_col="ts")


# ---------------------------------------------------------------------------
# Joins / gates / quarantine (J1-J3, J6/J9) and errors (A7/F9)
# ---------------------------------------------------------------------------

@query(
    "gate_passed",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    """,
)
def gate_passed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/J9 (pass side): left-semi existence gate
    (transformer_loaders/pure_api_pub.py:207-225)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    passed, _ = existence_gate(
        o, c.select(F.col("c_custkey").alias("o_custkey")), ["o_custkey"]
    )
    return passed.select("o_orderkey", "o_custkey", "o_totalprice")


@query(
    "gate_deferred",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
    """,
)
def gate_deferred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/J9/C6 (defer side): left-anti → deferred set retried next cycle
    (transformer_loaders/pure_api_internal_person.py:161-186)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    _, deferred = existence_gate(
        o, c.select(F.col("c_custkey").alias("o_custkey")), ["o_custkey"]
    )
    return deferred.select("o_orderkey", "o_custkey", "o_totalprice")


@query(
    "existence_gates",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           CASE WHEN o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
                THEN 'passed' ELSE 'deferred' END AS gate_status
    FROM orders
    """,
)
def existence_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/J9/C6 in one gated row: both sides of the existence gate —
    rows whose dim key exists proceed, the rest join the deferred set
    retried next cycle (transformer_loaders/pure_api_pub.py:207-225;
    pure_api_internal_person.py:161-186).  Exercises the pass AND defer
    outputs of ``existence_gate`` with a status column."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    passed, deferred = existence_gate(
        o, c.select(F.col("c_custkey").alias("o_custkey")), ["o_custkey"]
    )
    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    return (
        passed.select(*cols).withColumn("gate_status", F.lit("passed"))
        .unionByName(
            deferred.select(*cols).withColumn("gate_status", F.lit("deferred"))
        )
    )


@query(
    "dim_lookup_quarantine",
    """
    SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey
    FROM lineitem l LEFT JOIN (SELECT * FROM supplier WHERE s_acctbal > 0) s
      ON l.l_suppkey = s.s_suppkey
    WHERE s.s_suppkey IS NULL
    """,
)
def dim_lookup_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 (miss side): dimension-lookup misses routed to quarantine
    (record_unknown_dept_errors, oit_to_edw/employee_job.py:118-138)."""
    li = read_table(spark, sf_dir, "lineitem")
    dim = read_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 0)
    _, missing = dim_lookup(
        li, dim.withColumnRenamed("s_suppkey", "l_suppkey"), ["l_suppkey"], "s_name"
    )
    return missing.select("l_orderkey", "l_linenumber", "l_suppkey")


@query(
    "override_coalesce",
    """
    WITH defaults AS (
      SELECT p_brand,
             CAST(sum(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS std_price
      FROM part GROUP BY p_brand
    ), overrides AS (
      SELECT p_brand, p_size, CAST(min(p_retailprice) AS DOUBLE) AS std_price
      FROM part WHERE p_size >= 30 GROUP BY p_brand, p_size
    )
    SELECT p.p_partkey,
           coalesce(o.std_price, d.std_price) AS std_price
    FROM part p
    LEFT JOIN defaults d ON p.p_brand = d.p_brand
    LEFT JOIN overrides o ON p.p_brand = o.p_brand AND p.p_size = o.p_size
    """,
)
def override_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: two-level default/override lookup with coalesce
    (oit_to_edw/employee_job.py:169-199).  avg over DOUBLE is safe here:
    both engines sum a handful of identical doubles in deterministic
    order only for small groups — so the oracle uses avg() too and the
    Spark side matches it exactly by computing sum/count in decimal."""
    p = read_table(spark, sf_dir, "part")
    defaults = p.groupBy("p_brand").agg(
        (F.sum(_dec("p_retailprice")).cast("double") / F.count(F.lit(1))).alias(
            "std_price"
        )
    )
    overrides = (
        p.filter(F.col("p_size") >= 30)
        .groupBy("p_brand", "p_size")
        .agg(F.min("p_retailprice").cast("double").alias("std_price"))
    )
    return override_join(
        p, defaults, overrides, ["p_brand"], ["p_brand", "p_size"], ["std_price"]
    ).select("p_partkey", "std_price")


@query(
    "error_counters",
    """
    SELECT sha256(concat_ws(chr(31), 'no_purchase', CAST(user_id AS VARCHAR))) AS error_id,
           min(ts) AS first_seen, max(ts) AS last_seen, count(*) AS count
    FROM events WHERE event_type = 'error'
    GROUP BY user_id
    """,
)
def error_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/F9: quarantine counters keyed by a deterministic sha-256 error
    id (umn_data_error.py:209-233, exceptions.py:38-43)."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    errs = ev.withColumn(
        "error_id",
        F.sha2(
            F.concat_ws("\x1f", F.lit("no_purchase"), F.col("user_id").cast("string")),
            256,
        ),
    )
    return upsert_error_counts(None, errs, id_col="error_id", ts_col="ts")


@query(
    "association_resolution_veto",
    """
    WITH assoc AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END AS missing
      FROM lineitem l
      LEFT JOIN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 0) s
        ON l.l_suppkey = s.s_suppkey
    ), veto AS (
      SELECT l_orderkey, max(missing) AS any_missing, count(*) AS n_assocs
      FROM assoc GROUP BY l_orderkey
    )
    SELECT o.o_orderkey, v.n_assocs
    FROM orders o JOIN veto v ON o.o_orderkey = v.l_orderkey
    WHERE v.any_missing = 0
    """,
)
def association_resolution_veto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: author-association resolution — every association element must
    resolve against the person dim or the WHOLE document is skipped
    (transformer_loaders/pure_api_pub.py:293-335).  Lineitems play the
    association array; one missing supplier vetoes the order.  The veto
    is bool_or over the association join — no per-document loop."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    dim = (
        read_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 0)
        .select("s_suppkey")
    )
    assoc = li.join(
        F.broadcast(dim), li.l_suppkey == dim.s_suppkey, "left"
    ).select(
        "l_orderkey",
        F.when(F.col("s_suppkey").isNull(), 1).otherwise(0).alias("missing"),
    )
    veto = assoc.groupBy("l_orderkey").agg(
        F.max("missing").alias("any_missing"), F.count(F.lit(1)).alias("n_assocs")
    )
    return (
        o.join(veto, o.o_orderkey == veto.l_orderkey)
        .filter(F.col("any_missing") == 0)
        .select("o_orderkey", "n_assocs")
    )


@query(
    "enrichment_left_join",
    """
    SELECT c.c_custkey, c.c_name, n.n_name AS nation_name
    FROM customer c LEFT JOIN (SELECT * FROM nation WHERE n_regionkey < 3) n
      ON c.c_nationkey = n.n_nationkey
    """,
)
def enrichment_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: optional enrichment left join — missing dim rows yield NULL,
    not a dropped fact (scival_id enrichment, oit_to_edw/person.py:219-228)."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation").filter(F.col("n_regionkey") < 3)
    return c.join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey, "left"
    ).select("c_custkey", "c_name", F.col("n_name").alias("nation_name"))


@query(
    "json_document_parse",
    """
    SELECT event_id, CAST(props->>'k' AS INTEGER) AS k,
           CASE WHEN CAST(props->>'k' AS INTEGER) >= 50 THEN 'high' ELSE 'low' END AS k_band
    FROM events
    """,
)
def json_document_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: schema-on-read JSON document parse — ``from_json`` with an
    explicit permissive schema (response.transform,
    transformer_loaders/pure_api_internal_person.py:109-113)."""
    ev = read_table(spark, sf_dir, "events")
    parsed = ev.withColumn("doc", F.from_json("props", "k int"))
    return parsed.select(
        "event_id",
        F.col("doc.k").alias("k"),
        F.when(F.col("doc.k") >= 50, "high").otherwise("low").alias("k_band"),
    )


@query(
    "state_fanout_pivot",
    """
    SELECT user_id,
           max(ts) FILTER (WHERE event_type = 'signup')   AS signup_ts,
           max(ts) FILTER (WHERE event_type = 'purchase') AS purchase_ts,
           max(ts) FILTER (WHERE event_type = 'error')    AS error_ts,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchases
    FROM events GROUP BY user_id
    """,
)
def state_fanout_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: state → column-name fan-out — each known state materializes
    its own column pair, others null (pub workflow states,
    transformer_loaders/pure_api_pub.py:20-62).  max(when(state=k, v))
    per state: a pivot without the pivot shuffle."""
    ev = read_table(spark, sf_dir, "events")
    def state_ts(s):
        return F.max(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"{s}_ts")

    return ev.groupBy("user_id").agg(
        state_ts("signup"),
        state_ts("purchase"),
        state_ts("error"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("n_purchases"),
    )


# ---------------------------------------------------------------------------
# Scalar-function pack (F1/F4-F8/F11)
# ---------------------------------------------------------------------------

@query(
    "multi_format_dates",
    """
    WITH strs AS (
      SELECT o_orderkey,
             CASE CAST(o_orderkey % 3 AS INTEGER)
               WHEN 0 THEN strftime(o_orderdate, '%Y')
               WHEN 1 THEN strftime(o_orderdate, '%Y-%m')
               ELSE strftime(o_orderdate, '%Y-%m-%d') END AS s
      FROM orders
    )
    SELECT o_orderkey, s,
           CASE WHEN regexp_matches(s, '^\\d{4}$') THEN strptime(s, '%Y')
                WHEN regexp_matches(s, '^\\d{4}-\\d{2}$') THEN strptime(s, '%Y-%m')
                WHEN regexp_matches(s, '^\\d{4}-\\d{2}-\\d{2}$') THEN strptime(s, '%Y-%m-%d')
                ELSE NULL END AS parsed_ts,
           CASE WHEN regexp_matches(s, '^\\d{4}$') THEN 366
                WHEN regexp_matches(s, '^\\d{4}-\\d{2}$') THEN 31
                WHEN regexp_matches(s, '^\\d{4}-\\d{2}-\\d{2}$') THEN 1
                ELSE NULL END AS ts_precision
    FROM strs
    """,
)
def multi_format_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F11: multi-format date parse + partial-date precision
    (transformers.py:8-29, transformer_loaders/pure_api_pub.py:48-62).
    Date strings of three precisions are synthesized from o_orderdate,
    then parsed back with the regex-gated coalesce."""
    o = read_table(spark, sf_dir, "orders")
    s = (
        F.when(F.col("o_orderkey") % 3 == 0, F.date_format("o_orderdate", "yyyy"))
        .when(F.col("o_orderkey") % 3 == 1, F.date_format("o_orderdate", "yyyy-MM"))
        .otherwise(F.date_format("o_orderdate", "yyyy-MM-dd"))
    )
    df = o.select("o_orderkey", s.alias("s"))
    return df.select(
        "o_orderkey",
        "s",
        X.multi_format_ts(F.col("s")).alias("parsed_ts"),
        X.date_precision(F.col("s")).alias("ts_precision"),
    )


@query(
    "uri_tails",
    """
    WITH uris AS (
      SELECT p_partkey,
             concat('catalog/', p_brand, '/', replace(p_type, ' ', '_'), '/', CAST(p_partkey AS VARCHAR)) AS uri
      FROM part
    )
    SELECT p_partkey, uri,
           list_reverse(string_split(uri, '/'))[1] AS tail_1,
           list_reverse(string_split(uri, '/'))[2] AS tail_2,
           list_reverse(string_split(uri, '/'))[3] AS tail_3
    FROM uris
    """,
)
def uri_tails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: uri tail parsing — split on '/', reverse, take leading
    segments (transformer_loaders/pure_api_pub.py:185-187)."""
    p = read_table(spark, sf_dir, "part")
    uri = F.concat_ws(
        "/",
        F.lit("catalog"),
        F.col("p_brand"),
        F.regexp_replace("p_type", " ", "_"),
        F.col("p_partkey").cast("string"),
    )
    df = p.select("p_partkey", uri.alias("uri"))
    tail = X.uri_tail(F.col("uri"))
    return df.select(
        "p_partkey",
        "uri",
        tail[0].alias("tail_1"),
        tail[1].alias("tail_2"),
        tail[2].alias("tail_3"),
    )


@query(
    "locale_pick",
    """
    SELECT source,
           arg_min(text, doc_id) FILTER (WHERE lang = 'en') AS en_text
    FROM documents GROUP BY source
    """,
)
def locale_pick_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: first localized value matching a locale from an
    array<struct> — built with a higher-order filter, no explode
    (transformer_loaders/pure_api_internal_person.py:196-203)."""
    d = read_table(spark, sf_dir, "documents")
    agg = d.groupBy("source").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "lang", "text"))).alias("texts")
    )
    return agg.select(
        "source",
        X.locale_pick(F.col("texts"), locale="en", locale_field="lang", value_field="text").alias(
            "en_text"
        ),
    )


@query(
    "identity_assembly",
    """
    WITH m AS (
      SELECT c_custkey, c_name, c_nationkey,
             CASE WHEN c_custkey % 3 = 1 THEN ' '
                  WHEN c_custkey % 3 = 2 THEN substr(c_mktsegment, 1, 1) END AS middle
      FROM customer
    )
    SELECT c_custkey,
           CASE WHEN middle IS NOT NULL AND regexp_matches(middle, '\\S')
                THEN concat(c_name, ' ', middle)
                ELSE c_name END AS full_name,
           concat('cust', CAST(c_custkey AS VARCHAR), '@umn.edu') AS email,
           concat('autoid:', CAST(c_custkey AS VARCHAR), '-', CAST(c_nationkey AS VARCHAR)) AS assoc_id
    FROM m
    """,
)
def identity_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F5/F6: name concat with blank-middle-initial guard, synthetic
    assoc id, email derivation (oit_to_edw/person.py:116,278-284,486-491)."""
    c = read_table(spark, sf_dir, "customer")
    middle = (
        F.when(F.col("c_custkey") % 3 == 0, F.lit(None).cast("string"))
        .when(F.col("c_custkey") % 3 == 1, F.lit(" "))
        .otherwise(F.substring("c_mktsegment", 1, 1))
    )
    return c.select(
        "c_custkey",
        X.full_name(F.col("c_name"), middle).alias("full_name"),
        X.derive_email(
            F.concat(F.lit("cust"), F.col("c_custkey").cast("string"))
        ).alias("email"),
        X.synthetic_assoc_id(
            F.col("c_custkey").cast("string"), F.col("c_nationkey").cast("string")
        ).alias("assoc_id"),
    )


# ---------------------------------------------------------------------------
# Merge / cascade pack (M5-M9, X3, P7)
# ---------------------------------------------------------------------------

@query(
    "cascade_delete_children",
    """
    SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM customer c
      WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0
    )
    """,
)
def cascade_delete_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: multi-table delete cascade — parents deleted upstream drop
    their child rows via one anti-join per child table
    (extractor_loaders/pure_api_persons.py:53-76).  Customers with
    negative balance play the deleted set; orders are the child table.
    The deleted-key side is small → broadcast anti-join, no shuffle of
    the fact table."""
    o = read_table(spark, sf_dir, "orders")
    deleted = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return delete_cascade(o, F.broadcast(deleted), ["o_custkey"]).select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )


@query(
    "merged_uuid_cleanup",
    """
    WITH merged AS (
      SELECT DISTINCT CAST(user_id * 3 AS BIGINT) AS c_custkey
      FROM events WHERE event_type = 'signup'
      UNION
      SELECT DISTINCT CAST(user_id * 3 + 1 AS BIGINT)
      FROM events WHERE event_type = 'signup'
    )
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE c.c_custkey NOT IN (SELECT c_custkey FROM merged)
    """,
)
def merged_uuid_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: merged-record cleanup — incoming documents carry a
    ``previousUuids`` array; any local record whose key appears in one is
    deleted (extractor_loaders/pure_api_persons.py:78-82).  Signup events
    synthesize the array; explode → distinct → broadcast anti-join."""
    c = read_table(spark, sf_dir, "customer")
    docs = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "signup")
        .select(
            F.array(
                (F.col("user_id") * 3).cast("bigint"),
                (F.col("user_id") * 3 + 1).cast("bigint"),
            ).alias("previous_uuids")
        )
    )
    return delete_merged_uuids(
        c, docs, previous_uuids_col="previous_uuids", key="c_custkey"
    ).select("c_custkey", "c_name")


@query(
    "owner_reassignment",
    """
    SELECT o.o_orderkey,
           CASE WHEN c.c_acctbal < 0 THEN (SELECT min(c_custkey) FROM customer)
                ELSE o.o_custkey END AS owner_key
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def owner_reassignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8: owner reassignment on parent delete — children owned by a
    deleted org fall back to the root placeholder
    (extractor_loaders/pure_api_organisational_units.py:56-65).
    The root key is a scalar broadcast, not a driver collect-loop."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    root = c.agg(F.min("c_custkey").alias("root_key"))
    return (
        o.join(F.broadcast(c.select("c_custkey", "c_acctbal")),
               o.o_custkey == F.col("c_custkey"))
        .crossJoin(F.broadcast(root))
        .select(
            "o_orderkey",
            F.when(F.col("c_acctbal") < 0, F.col("root_key"))
            .otherwise(F.col("o_custkey"))
            .alias("owner_key"),
        )
    )


@query(
    "buffer_archival",
    """
    SELECT event_id, 'hst' AS tbl FROM events WHERE ts <= TIMESTAMP '2024-01-14'
    UNION ALL
    SELECT event_id, 'buf' AS tbl FROM events WHERE ts > TIMESTAMP '2024-01-14'
    """,
)
def buffer_archival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9: buffer → history archival — processed buffer rows are copied
    to the ``_hst`` table then anti-joined out of the buffer
    (changes_buffer_managers.py:23-44).  One pass computes both sides;
    the union here is only to expose both outputs to the checker."""
    ev = read_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-14").cast("timestamp")
    processed = ev.filter(F.col("ts") <= cutoff)
    hst = processed.select("event_id", F.lit("hst").alias("tbl"))
    buf = delete_cascade(ev, processed.select("event_id"), ["event_id"]).select(
        "event_id", F.lit("buf").alias("tbl")
    )
    return hst.unionByName(buf)


@query(
    "set_reconciliation",
    """
    WITH cur AS (
      SELECT DISTINCT user_id, event_type FROM events
      WHERE ts <= TIMESTAMP '2024-01-14'
    ), des AS (
      SELECT DISTINCT user_id, event_type FROM events
      WHERE ts > TIMESTAMP '2024-01-14'
    )
    SELECT user_id, event_type, 'add' AS action
    FROM (SELECT * FROM des EXCEPT SELECT * FROM cur)
    UNION ALL
    SELECT user_id, event_type, 'delete' AS action
    FROM (SELECT * FROM cur EXCEPT SELECT * FROM des)
    """,
)
def set_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: id-set reconciliation — desired minus current → adds, current
    minus desired → deletes; two anti-joins replace the per-entity Python
    set math (transformer_loaders/pure_api_internal_person.py:163-173)."""
    ev = read_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-14").cast("timestamp")
    cur = ev.filter(F.col("ts") <= cutoff).select("user_id", "event_type").distinct()
    des = ev.filter(F.col("ts") > cutoff).select("user_id", "event_type").distinct()
    to_add, to_delete = reconcile_sets(cur, des, ["user_id", "event_type"])
    return to_add.withColumn("action", F.lit("add")).unionByName(
        to_delete.withColumn("action", F.lit("delete"))
    )


@query(
    "overwrite_child_sets",
    """
    WITH new_children AS (
      SELECT l.l_orderkey, l.l_linenumber, CAST(l.l_quantity * 2 AS DOUBLE) AS qty
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderpriority = '1-URGENT'
    ), kept AS (
      SELECT l_orderkey, l_linenumber, CAST(l_quantity AS DOUBLE) AS qty
      FROM lineitem
      WHERE l_orderkey NOT IN (SELECT DISTINCT l_orderkey FROM new_children)
    )
    SELECT l_orderkey,
           CAST(count(*) AS BIGINT) AS n_children,
           CAST(sum(CAST(qty AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM (SELECT * FROM kept UNION ALL SELECT * FROM new_children)
    GROUP BY l_orderkey
    """,
)
def overwrite_child_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: delete-and-recreate child sets for touched parents
    (transformer_loaders/pure_api_internal_person.py:282-302).  Urgent
    orders get regenerated lineitems (qty doubled); untouched parents
    keep theirs.  On a lake this is a partition overwrite of only the
    touched parents."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_quantity").cast("double").alias("qty")
    )
    urgent = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    new_children = li.join(
        F.broadcast(urgent), li.l_orderkey == urgent.o_orderkey
    ).select("l_orderkey", "l_linenumber", (F.col("qty") * 2).alias("qty"))
    merged = overwrite_children(li, new_children, ["l_orderkey"])
    return merged.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_children"),
        F.sum(F.col("qty").cast("decimal(18,2)")).cast("double").alias("total_qty"),
    )


@query(
    "type_whitelist",
    """
    SELECT o.o_orderkey, o.o_orderstatus, o.o_orderpriority
    FROM orders o
    JOIN (VALUES ('O', '1-URGENT'), ('O', '2-HIGH'), ('F', '5-LOW'))
         AS w(status, priority)
      ON o.o_orderstatus = w.status AND o.o_orderpriority = w.priority
    """,
)
def type_whitelist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: (type, subtype) whitelist — keep records whose pair appears in
    a literal supported-types map
    (extractor_loaders/pure_api_research_outputs.py:23-37).  The map is a
    broadcast literal dim, so the scan filters without a shuffle."""
    o = read_table(spark, sf_dir, "orders")
    wl = spark.createDataFrame(
        [("O", "1-URGENT"), ("O", "2-HIGH"), ("F", "5-LOW")],
        ["status", "priority"],
    )
    return o.join(
        F.broadcast(wl),
        (o.o_orderstatus == wl.status) & (o.o_orderpriority == wl.priority),
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority")


# ---------------------------------------------------------------------------
# Hierarchy pack (G1/G2) — customer keys form a synthetic org tree:
# parent(k) = k DIV 10, root = 0.  Depth ~ log10(N): 4 at sf0.01.
# ---------------------------------------------------------------------------

@query(
    "tree_depths",
    """
    WITH RECURSIVE t AS (
      SELECT c_custkey AS node_id, 0 AS depth, c_custkey AS root_id
      FROM customer WHERE c_custkey = 0
      UNION ALL
      SELECT c.c_custkey, t.depth + 1, t.root_id
      FROM customer c JOIN t ON (c.c_custkey // 10) = t.node_id
      WHERE c.c_custkey <> 0
    )
    SELECT node_id, depth, root_id FROM t
    """,
)
def tree_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: DFS/BFS over adjacency → (node, depth, root)
    (transformer_loaders/pure_api_internal_org.py:117-134).  Iterative
    frontier join: one broadcast join per tree level, not per node."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") == 0, F.lit(None))
        .otherwise(F.expr("c_custkey DIV 10"))
        .alias("parent_key"),
    )
    return tree_closure(
        c, "c_custkey", "parent_key", is_root=F.col("c_custkey") == 0
    )


@query(
    "tree_orphan_prune",
    """
    WITH RECURSIVE alive AS (
      SELECT c_custkey, c_acctbal FROM customer
      WHERE c_acctbal >= 0 OR c_custkey = 0
    ), t AS (
      SELECT c_custkey AS node_id, 0 AS depth
      FROM alive WHERE c_custkey = 0
      UNION ALL
      SELECT a.c_custkey, t.depth + 1
      FROM alive a JOIN t ON (a.c_custkey // 10) = t.node_id
      WHERE a.c_custkey <> 0
    )
    SELECT node_id FROM t
    """,
)
def tree_orphan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 (delete side): drop whole subtrees that became unreachable
    when interior nodes vanished
    (transformer_loaders/pure_api_internal_org.py:190-199).  Stronger
    than parent-exists: surviving grandchildren of a deleted node are
    pruned too."""
    c = read_table(spark, sf_dir, "customer")
    alive = c.filter((F.col("c_acctbal") >= 0) | (F.col("c_custkey") == 0)).select(
        "c_custkey",
        F.when(F.col("c_custkey") == 0, F.lit(None))
        .otherwise(F.expr("c_custkey DIV 10"))
        .alias("parent_key"),
    )
    return prune_unreachable(
        alive, "c_custkey", "parent_key", is_root=F.col("c_custkey") == 0
    ).select(F.col("c_custkey").alias("node_id"))


@query(
    "tree_nested_set",
    """
    WITH RECURSIVE t AS (
      SELECT c_custkey AS node_id, 0 AS depth, printf('%012d', c_custkey) AS path
      FROM customer WHERE c_custkey = 0
      UNION ALL
      SELECT c.c_custkey, t.depth + 1, t.path || '/' || printf('%012d', c.c_custkey)
      FROM customer c JOIN t ON (c.c_custkey // 10) = t.node_id
      WHERE c.c_custkey <> 0
    ), pre AS (
      SELECT node_id, depth, path,
             row_number() OVER (ORDER BY path) AS preorder
      FROM t
    ), sz AS (
      SELECT anc, count(*) AS subtree_size
      FROM (SELECT unnest(string_split(path, '/')) AS anc FROM t)
      GROUP BY anc
    )
    SELECT p.node_id, p.depth,
           CAST(2 * p.preorder - p.depth - 1 AS BIGINT) AS lft,
           CAST(2 * p.preorder - p.depth - 2 + 2 * s.subtree_size AS BIGINT) AS rgt
    FROM pre p JOIN sz s ON printf('%012d', p.node_id) = s.anc
    """,
)
def tree_nested_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 (label side): recompute MPTT (lft, rgt) nested-set labels from
    adjacency (transformer_loaders/pure_api_internal_org.py:136-188).
    Preorder from lexicographic path order; subtree sizes from exploding
    each node's root path (its ancestor chain) — linear, no quadratic
    prefix join."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") == 0, F.lit(None))
        .otherwise(F.expr("c_custkey DIV 10"))
        .alias("parent_key"),
    )
    out = nested_set_labels(
        c, "c_custkey", "parent_key", is_root=F.col("c_custkey") == 0
    )
    return out.select(
        "node_id", "depth", F.col("lft").cast("bigint").alias("lft"),
        F.col("rgt").cast("bigint").alias("rgt")
    )


# ---------------------------------------------------------------------------
# Serialization pack (S7/F3/F13/F14) — see sources/serialization.py for
# the single-file sink and the Jinja2 fidelity path.
# ---------------------------------------------------------------------------

@query(
    "xml_render",
    """
    WITH named AS (
      SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice,
             c.c_name || CASE CAST(o.o_orderkey % 3 AS INTEGER)
                           WHEN 0 THEN ' & co' WHEN 1 THEN ' <ltd>' ELSE '' END AS disp_name
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT o_orderkey,
           '<order id="' || CAST(o_orderkey AS VARCHAR) || '" date="'
             || strftime(o_orderdate, '%d-%m-%Y') || '"><customer>'
             || replace(replace(replace(disp_name, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
             || '</customer><total>' || CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR)
             || '</total></order>' AS xml
    FROM named
    """,
)
def xml_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14/F3 (native-column path): one XML element per row with
    escaping and dd-MM-yyyy date formatting
    (templates/person.xml.j2:36-38, edw_to_pure/person.py:45).  All
    string expressions stay in whole-stage codegen; the Jinja2 UDF twin
    in sources/serialization.py is for byte-parity needs only."""
    from experts_etl_spark.sources.serialization import xml_escape

    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    disp = F.concat(
        F.col("c_name"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(" & co"))
        .when(F.col("o_orderkey") % 3 == 1, F.lit(" <ltd>"))
        .otherwise(F.lit("")),
    )
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_orderdate", "o_totalprice", disp.alias("disp_name")
    )
    xml = F.concat(
        F.lit('<order id="'),
        F.col("o_orderkey").cast("string"),
        F.lit('" date="'),
        F.date_format("o_orderdate", "dd-MM-yyyy"),
        F.lit('"><customer>'),
        xml_escape(F.col("disp_name")),
        F.lit("</customer><total>"),
        F.col("o_totalprice").cast("decimal(12,2)").cast("string"),
        F.lit("</total></order>"),
    )
    return joined.select("o_orderkey", xml.alias("xml"))


@query(
    "json_roundtrip",
    """
    SELECT event_id,
           '{"k":' || CAST(CAST(props->>'k' AS INTEGER) AS VARCHAR) || '}' AS normalized
    FROM events
    """,
)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: parse→serialize round-trip normalizes raw JSON for the audit
    log (loggers.py:20-26) — ``to_json(from_json(...))``."""
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_json(F.from_json("props", "k int")).alias("normalized"),
    )


@query(
    "json_parse_roundtrip",
    """
    SELECT event_id, CAST(props->>'k' AS INTEGER) AS k,
           CASE WHEN CAST(props->>'k' AS INTEGER) >= 50 THEN 'high' ELSE 'low' END AS k_band,
           '{"k":' || CAST(CAST(props->>'k' AS INTEGER) AS VARCHAR) || '}' AS normalized
    FROM events
    """,
)
def json_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6+F13 in one gated row: schema-on-read JSON parse (response.
    transform, transformer_loaders/pure_api_internal_person.py:109-113)
    plus the parse→serialize normalization used by the audit log
    (loggers.py:20-26) — one ``from_json`` feeds both outputs."""
    ev = read_table(spark, sf_dir, "events")
    parsed = ev.withColumn("doc", F.from_json("props", "k int"))
    return parsed.select(
        "event_id",
        F.col("doc.k").alias("k"),
        F.when(F.col("doc.k") >= 50, "high").otherwise("low").alias("k_band"),
        F.to_json("doc").alias("normalized"),
    )


@query(
    "person_sync_xml",
    """
    SELECT c.c_custkey AS person_id,
           '<person id="' || CAST(c.c_custkey AS VARCHAR) || '"><name>'
           || replace(replace(replace(c.c_name, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')
           || '</name><jobs>'
           || coalesce(string_agg('<job id="' || CAST(o.o_orderkey AS VARCHAR)
                                  || '" start="' || strftime(o.o_orderdate, '%d-%m-%Y') || '"/>',
                                  '' ORDER BY o.o_orderdate, o.o_orderkey), '')
           || '</jobs></person>' AS xml
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def person_sync_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/F14 pipeline head: persons ⟕ collect_list(jobs) → one nested
    XML element per person (edw_to_pure/person.py:37-45 replaced the
    per-person Python filter with one grouped join; SURVEY.md §3.4)."""
    from experts_etl_spark.plans.xml_sync import person_sync_frame

    return person_sync_frame(spark, sf_dir)


_EMP_JOBS_SQL = """
    WITH entries AS (
      SELECT CAST(o_custkey AS VARCHAR) AS emplid,
             CAST(o_orderkey % 3 AS VARCHAR) AS empl_rcdno,
             o_orderdate AS effdt,
             o_orderkey AS ord,
             CAST(o_custkey % 4 AS VARCHAR) AS position_nbr,
             substr(o_orderpriority, 1, 1) AS jobcode,
             o_orderpriority AS jobcode_descr,
             CASE o_orderstatus WHEN 'O' THEN 'A' WHEN 'P' THEN 'L' ELSE 'T' END AS empl_status,
             CAST(o_custkey % 3 AS VARCHAR) AS deptid,
             CASE WHEN o_custkey % 2 = 0 THEN 'TXXX' ELSE 'ZZZZ' END AS um_campus,
             CASE WHEN o_orderkey % 11 = 0 THEN 'C' ELSE 'H' END AS status_flg,
             CASE WHEN o_orderstatus = 'F' AND o_orderkey % 5 = 0
                  THEN o_orderdate + INTERVAL 30 DAY END AS last_date_worked,
             CAST(date_trunc('year', o_orderdate) AS TIMESTAMP) AS job_entry_dt
      FROM orders
    ),
    g1 AS (
      SELECT *, CASE WHEN lag(jobcode) OVER w IS NULL
                      OR lag(jobcode) OVER w <> jobcode
                      OR lag(deptid) OVER w <> deptid
                      OR lag(job_entry_dt) OVER w <> job_entry_dt
                 THEN 1 ELSE 0 END AS chg
      FROM entries
      WINDOW w AS (PARTITION BY emplid, position_nbr ORDER BY effdt, ord)
    ),
    g2 AS (
      SELECT *, sum(chg) OVER (PARTITION BY emplid, position_nbr
                               ORDER BY effdt, ord ROWS UNBOUNDED PRECEDING) AS group_id
      FROM g1
    ),
    g3 AS (
      SELECT *, row_number() OVER (PARTITION BY emplid, position_nbr, group_id
                                   ORDER BY effdt, ord) AS rn
      FROM g2
    ),
    g4 AS (
      SELECT *,
             min(CASE WHEN status_flg = 'C' THEN rn END) OVER gp AS first_c,
             max(rn) OVER gp AS n_rows,
             max(CASE WHEN last_date_worked IS NOT NULL
                       AND empl_status NOT IN ('A','L','P','W')
                  THEN last_date_worked END) OVER gp AS max_ldw
      FROM g3
      WINDOW gp AS (PARTITION BY emplid, position_nbr, group_id)
    ),
    g5 AS (
      SELECT *,
             max(CASE WHEN rn = first_c AND empl_status IN ('A','L','P','W')
                  THEN 1 ELSE 0 END) OVER gp = 1 AS is_active
      FROM g4
      WINDOW gp AS (PARTITION BY emplid, position_nbr, group_id)
    ),
    ref AS (SELECT * FROM g5 WHERE rn = coalesce(first_c, n_rows)),
    led AS (
      SELECT *, lead(job_entry_dt) OVER (PARTITION BY emplid, position_nbr
                                         ORDER BY group_id) AS next_start
      FROM ref
    ),
    ended AS (
      SELECT *,
             coalesce(
               CASE WHEN first_c IS NULL AND next_start IS NOT NULL
                     AND max_ldw IS NULL THEN next_start END,
               CASE WHEN NOT is_active THEN coalesce(max_ldw, effdt) END
             ) AS end_date
      FROM led
    ),
    dept_org(deptid, org_id) AS (VALUES ('0','ORG0'),('1','ORG1'),('2','ORG2')),
    defaults(jobcode, descr, employed_as, staff_type_d, visibility_d, profiled_d) AS (
      VALUES ('1','DESC1','ET1','academic','Public',true),
             ('2','DESC2','ET2','academic','Restricted',false),
             ('3','DESC3','ET3','nonacademic','Public',true),
             ('4','DESC4','ET4','nonacademic','Restricted',false),
             ('5','DESC5','ET5','nonacademic','Public',false)
    )
    SELECT e.emplid, e.jobcode AS affiliation_id, e.deptid, e.um_campus, o.org_id,
           e.empl_rcdno, e.jobcode_descr AS job_title,
           d.descr AS job_description, d.employed_as AS employment_type,
           CASE WHEN e.end_date IS NULL THEN d.staff_type_d
                ELSE 'nonacademic' END AS staff_type,
           e.job_entry_dt AS start_date, e.end_date,
           CASE WHEN e.end_date IS NULL AND e.um_campus IN ('TXXX','DXXX')
                THEN d.visibility_d ELSE 'Restricted' END AS visibility,
           CASE WHEN e.end_date IS NULL THEN d.profiled_d ELSE false END AS profiled
    FROM ended e JOIN dept_org o USING (deptid) JOIN defaults d USING (jobcode)
    """


_POI_JOBS_SQL = _EMP_JOBS_SQL.replace(
    """CASE WHEN o_orderstatus = 'F' AND o_orderkey %% 5 = 0
                  THEN o_orderdate + INTERVAL 30 DAY END AS last_date_worked""".replace("%%", "%"),
    "CAST(NULL AS TIMESTAMP) AS last_date_worked",
)
assert "INTERVAL 30 DAY" not in _POI_JOBS_SQL


def _job_dims(
    spark: SparkSession, prefix: str, academic: str
) -> tuple[DataFrame, DataFrame]:
    """The jobs transforms' synthetic dims: dept→org for depts 0-2, and
    one jobcode-defaults row per jobcode 1-5 (description and
    employed-as tagged ``prefix``; staff type academic for the jobcodes
    in ``academic``; odd jobcodes Public; jobcodes 1 and 3 profiled).

    Built as SQL ``VALUES``, i.e. JVM local relations: a broadcast's
    collect job reads rows the JVM already holds and starts no Python
    worker.  ``createDataFrame`` from a Python list ships the rows
    through a Python RDD instead, so every broadcast of it runs Python
    tasks (a warm broadcast job measured ~340 ms against ~60 ms, two
    task threads)."""
    dept_org = spark.sql(
        "SELECT * FROM VALUES ('0', 'ORG0'), ('1', 'ORG1'), ('2', 'ORG2')"
        " AS dept_org(deptid, org_id)"
    )
    rows = ", ".join(
        f"('{jc}', '{prefix}DESC{jc}', '{prefix}ET{jc}',"
        f" '{'academic' if jc in academic else 'nonacademic'}',"
        f" '{'Public' if int(jc) % 2 == 1 else 'Restricted'}', {jc in '13'})"
        for jc in "12345"
    )
    defaults = spark.sql(
        f"SELECT * FROM VALUES {rows} AS defaults(jobcode, pure_job_description,"
        " default_employed_as, default_staff_type, default_visibility,"
        " default_profiled)"
    )
    return dept_org, defaults


@query(
    "employee_jobs_transform",
    _EMP_JOBS_SQL,
)
def employee_jobs_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's hardest composition (transform_entry_groups,
    oit_to_edw/employee_job.py:74-203) end-to-end over a jobs-shaped
    projection of ``orders``: run-grouping → reference-entry pick →
    active/ldw end-dating → next-group cap → broadcast dim joins →
    default cascades.  Golden parity against the reference's own
    fixtures is in tests/test_reference_fixture_parity.py; this entry
    puts the same pipeline under the driver's hash gate at scale."""
    from experts_etl_spark.plans.jobs_pipeline import employee_jobs

    o = read_table(spark, sf_dir, "orders")
    entries = o.select(
        F.col("o_custkey").cast("string").alias("emplid"),
        (F.col("o_orderkey") % 3).cast("string").alias("empl_rcdno"),
        F.col("o_orderdate").alias("effdt"),
        F.col("o_orderkey").alias("_ord"),
        (F.col("o_custkey") % 4).cast("string").alias("position_nbr"),
        F.substring("o_orderpriority", 1, 1).alias("jobcode"),
        F.col("o_orderpriority").alias("jobcode_descr"),
        F.when(F.col("o_orderstatus") == "O", F.lit("A"))
        .when(F.col("o_orderstatus") == "P", F.lit("L"))
        .otherwise(F.lit("T"))
        .alias("empl_status"),
        (F.col("o_custkey") % 3).cast("string").alias("deptid"),
        F.when(F.col("o_custkey") % 2 == 0, F.lit("TXXX"))
        .otherwise(F.lit("ZZZZ"))
        .alias("um_campus"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("C"))
        .otherwise(F.lit("H"))
        .alias("status_flg"),
        F.when(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 5 == 0),
            F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
        ).alias("last_date_worked"),
        F.date_trunc("year", "o_orderdate").alias("job_entry_dt"),
    )
    dept_org, defaults = _job_dims(spark, "", academic="12")
    jobs, _quarantine = employee_jobs(
        entries, dept_org, defaults, order_by=["effdt", "_ord"]
    )
    return jobs


@query("poi_jobs_transform", _POI_JOBS_SQL)
def poi_jobs_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POI job transform (oit_to_edw/poi_job.py:75-164): the employee
    cast with NO last_date_worked column — with ldw ≡ NULL the employee
    and poi end-dating semantics provably coincide (the ldw guards all
    pass vacuously), so the oracle is _EMP_JOBS_SQL with the ldw
    expression nulled while the Spark side runs the genuine
    ``poi_jobs`` pipeline (use_last_date_worked=False)."""
    from experts_etl_spark.plans.jobs_pipeline import poi_jobs

    o = read_table(spark, sf_dir, "orders")
    entries = o.select(
        F.col("o_custkey").cast("string").alias("emplid"),
        (F.col("o_orderkey") % 3).cast("string").alias("empl_rcdno"),
        F.col("o_orderdate").alias("effdt"),
        F.col("o_orderkey").alias("_ord"),
        (F.col("o_custkey") % 4).cast("string").alias("position_nbr"),
        F.substring("o_orderpriority", 1, 1).alias("jobcode"),
        F.col("o_orderpriority").alias("jobcode_descr"),
        F.when(F.col("o_orderstatus") == "O", F.lit("A"))
        .when(F.col("o_orderstatus") == "P", F.lit("L"))
        .otherwise(F.lit("T"))
        .alias("empl_status"),
        (F.col("o_custkey") % 3).cast("string").alias("deptid"),
        F.when(F.col("o_custkey") % 2 == 0, F.lit("TXXX"))
        .otherwise(F.lit("ZZZZ"))
        .alias("um_campus"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("C"))
        .otherwise(F.lit("H"))
        .alias("status_flg"),
        F.date_trunc("year", "o_orderdate").alias("job_entry_dt"),
    )
    dept_org, defaults = _job_dims(spark, "", academic="12")
    jobs, _quarantine = poi_jobs(
        entries, dept_org, defaults, order_by=["effdt", "_ord"]
    )
    return jobs


@query(
    "affiliate_jobs_transform",
    """
    WITH entries AS (
      SELECT CAST(o_custkey AS VARCHAR) AS emplid,
             CAST(o_custkey % 3 AS VARCHAR) AS deptid,
             CASE WHEN o_custkey % 2 = 0 THEN 'TXXX' ELSE 'ZZZZ' END AS um_campus,
             o_orderpriority AS title,
             CAST(o_custkey % 2 AS VARCHAR) AS um_affiliate_id,
             substr(o_orderpriority, 1, 1) AS um_affil_relation,
             o_orderdate AS effdt,
             o_orderkey AS ord,
             CASE o_orderstatus WHEN 'O' THEN 'A' WHEN 'P' THEN 'I' ELSE 'T' END AS status,
             CASE WHEN o_orderkey % 13 = 0 THEN 'C' ELSE 'H' END AS status_flg
      FROM orders
    ),
    e1 AS (
      SELECT *, row_number() OVER (PARTITION BY emplid, deptid, um_affiliate_id, um_affil_relation
                                   ORDER BY effdt, ord) AS rn
      FROM entries
    ),
    e2 AS (
      SELECT *, min(CASE WHEN status_flg = 'C' THEN rn END)
                  OVER (PARTITION BY emplid, deptid, um_affiliate_id, um_affil_relation) AS c_rn
      FROM e1
    ),
    e3 AS (SELECT * FROM e2 WHERE c_rn IS NULL OR rn <= c_rn),
    e4 AS (
      SELECT *, lag(status = 'A') OVER (PARTITION BY emplid, deptid, um_affiliate_id, um_affil_relation
                                        ORDER BY rn) AS prev_active
      FROM e3
    ),
    e5 AS (
      SELECT *, sum(CASE WHEN status = 'A' AND (prev_active IS NULL OR NOT prev_active)
                     THEN 1 ELSE 0 END)
                  OVER (PARTITION BY emplid, deptid, um_affiliate_id, um_affil_relation
                        ORDER BY rn ROWS UNBOUNDED PRECEDING) AS stint_id
      FROM e4
    ),
    e6 AS (
      SELECT *, row_number() OVER sw AS rn2, first_value(effdt) OVER sw AS start_date
      FROM e5
      WINDOW sw AS (PARTITION BY emplid, deptid, um_affiliate_id, um_affil_relation, stint_id
                    ORDER BY rn)
    ),
    e7 AS (
      SELECT *, max(rn2) OVER (PARTITION BY emplid, deptid, um_affiliate_id,
                               um_affil_relation, stint_id) AS n2
      FROM e6
    ),
    last AS (SELECT * FROM e7 WHERE rn2 = n2),
    dept_org(deptid, org_id) AS (VALUES ('0','ORG0'),('1','ORG1'),('2','ORG2')),
    defaults(jc, descr, employed_as, staff_type_d, visibility_d, profiled_d) AS (
      VALUES ('1','ADESC1','AET1','academic','Public',true),
             ('2','ADESC2','AET2','nonacademic','Restricted',false),
             ('3','ADESC3','AET3','nonacademic','Public',true),
             ('4','ADESC4','AET4','academic','Restricted',false),
             ('5','ADESC5','AET5','nonacademic','Public',false)
    )
    SELECT l.emplid, l.um_affil_relation AS affiliation_id, l.deptid, l.um_campus,
           o.org_id, l.title AS job_title, d.descr AS job_description,
           d.employed_as AS employment_type, d.staff_type_d AS staff_type,
           l.start_date,
           CASE WHEN l.status <> 'A' OR l.status_flg = 'H' THEN l.effdt END AS end_date,
           d.visibility_d AS visibility, d.profiled_d AS profiled
    FROM last l JOIN dept_org o USING (deptid)
    JOIN defaults d ON l.um_affil_relation = d.jc
    """,
)
def affiliate_jobs_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Affiliate stint transform end-to-end (oit_to_edw/affiliate_job.py:
    53-105 over split_entries_into_stints:111-147): W3 stop-after-closed
    stint splitting → last-entry job derivation → broadcast dims.
    Golden parity vs the reference's fake* fixtures is in
    tests/test_reference_fixture_parity.py."""
    from experts_etl_spark.plans.jobs_pipeline import affiliate_jobs

    o = read_table(spark, sf_dir, "orders")
    entries = o.select(
        F.col("o_custkey").cast("string").alias("emplid"),
        (F.col("o_custkey") % 3).cast("string").alias("deptid"),
        F.when(F.col("o_custkey") % 2 == 0, F.lit("TXXX"))
        .otherwise(F.lit("ZZZZ"))
        .alias("um_campus"),
        F.col("o_orderpriority").alias("title"),
        (F.col("o_custkey") % 2).cast("string").alias("um_affiliate_id"),
        F.substring("o_orderpriority", 1, 1).alias("um_affil_relation"),
        F.col("o_orderdate").alias("effdt"),
        F.col("o_orderkey").alias("_ord"),
        F.when(F.col("o_orderstatus") == "O", F.lit("A"))
        .when(F.col("o_orderstatus") == "P", F.lit("I"))
        .otherwise(F.lit("T"))
        .alias("status"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("C"))
        .otherwise(F.lit("H"))
        .alias("status_flg"),
    )
    dept_org, defaults = _job_dims(spark, "A", academic="14")
    jobs, _quarantine = affiliate_jobs(
        entries, dept_org, defaults, order_by=["effdt", "_ord"]
    )
    return jobs


_PAC_SQL = f"""
    WITH ejobs AS ({_EMP_JOBS_SQL}),
    el AS (
      SELECT *, row_number() OVER (PARTITION BY emplid ORDER BY
          CASE WHEN end_date IS NULL AND empl_rcdno = '0' THEN 1
               WHEN end_date IS NULL THEN 2
               WHEN empl_rcdno = '0' THEN 3 ELSE 4 END,
          start_date, empl_rcdno, affiliation_id, deptid, job_title,
          org_id, um_campus,
          coalesce(end_date, TIMESTAMP '9999-12-31 00:00:00')) AS prn
      FROM ejobs
    ),
    roll AS (
      SELECT *, (prn = 1) AS is_primary,
             max(CASE WHEN prn = 1 THEN staff_type END)
               OVER (PARTITION BY emplid) AS prim_staff,
             max(CASE WHEN prn = 1 AND end_date IS NULL AND profiled
                  THEN 1 ELSE 0 END) OVER (PARTITION BY emplid) = 1 AS person_profiled
      FROM el
    ),
    assoc AS (
      SELECT *,
             CASE WHEN prim_staff = 'academic' THEN staff_type
                  ELSE 'nonacademic' END AS staff_type2,
             'autoid:' || emplid || '-' || org_id || '-' || job_title || '-'
               || employment_type || '-' || strftime(start_date, '%Y-%m-%d')
               AS staff_org_assoc_id
      FROM roll
    ),
    dd AS (
      SELECT *, row_number() OVER (PARTITION BY emplid, staff_org_assoc_id
               ORDER BY CASE WHEN end_date IS NULL THEN 0 ELSE 1 END,
                        coalesce(end_date, TIMESTAMP '9999-12-31 00:00:00'),
                        affiliation_id, deptid, job_title) AS drn,
             max(CASE WHEN is_primary THEN 1 ELSE 0 END)
               OVER (PARTITION BY emplid, staff_org_assoc_id) = 1 AS any_primary
      FROM assoc
    ),
    kept AS (SELECT * FROM dd WHERE drn = 1),
    vis AS (
      SELECT *, max(CASE WHEN visibility = 'Public' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY emplid) = 1 AS person_public
      FROM kept
    )
    SELECT emplid, staff_org_assoc_id, affiliation_id, deptid, org_id,
           job_title, job_description, employment_type,
           staff_type2 AS staff_type, start_date, end_date, visibility,
           any_primary AS is_primary, person_profiled AS profiled,
           CASE WHEN person_public THEN 'Public' ELSE 'Restricted' END
             AS person_visibility
    FROM vis
    """


@query("person_assembly_cycle", _PAC_SQL)
def person_assembly_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE §3.2 person assembly (oit_to_edw/person.py:231-317):
    jobs transform → primary election cascade (transform_primary_job)
    → staff-type cascade (:461-469) → person profiled (:471-476) →
    assoc-id + keep-best dedup (transform_staff_org_assoc_id:272-317)
    → person visibility rollup (:257-261) — one DAG, one shuffle: the
    jobs transform's emplid partitioning carries every person-level
    window."""
    from experts_etl_spark.operators.windows import dedupe_keep_best, elect_primary

    jobs = employee_jobs_transform(spark, sf_dir)
    end = F.col("end_date")
    sentinel = F.lit("9999-12-31 00:00:00").cast("timestamp")
    prio = (
        F.when(end.isNull() & (F.col("empl_rcdno") == "0"), 1)
        .when(end.isNull(), 2)
        .when(F.col("empl_rcdno") == "0", 3)
        .otherwise(4)
    )
    ties = [
        F.col("start_date"),
        F.col("empl_rcdno"),
        F.col("affiliation_id"),
        F.col("deptid"),
        F.col("job_title"),
        F.col("org_id"),
        F.col("um_campus"),
        F.coalesce(end, sentinel),
    ]
    el = elect_primary(jobs, ["emplid"], prio, ties, flag_col="is_primary")
    pw = Window.partitionBy("emplid")
    el = (
        el.withColumn(
            "prim_staff",
            F.max(F.when(F.col("is_primary"), F.col("staff_type"))).over(pw),
        )
        .withColumn(
            "profiled_person",
            F.max(
                F.when(
                    F.col("is_primary") & F.col("profiled") & end.isNull(), 1
                ).otherwise(0)
            ).over(pw)
            == 1,
        )
        .withColumn(
            "staff_type2",
            F.when(F.col("prim_staff") == "academic", F.col("staff_type")).otherwise(
                F.lit("nonacademic")
            ),
        )
        .withColumn(
            "staff_org_assoc_id",
            X.synthetic_assoc_id(
                F.col("emplid"),
                F.col("org_id"),
                F.col("job_title"),
                F.col("employment_type"),
                F.date_format("start_date", "yyyy-MM-dd"),
            ),
        )
    )
    kept = dedupe_keep_best(
        el,
        keys=["emplid", "staff_org_assoc_id"],
        order_by=[
            end.isNotNull().cast("int"),
            F.coalesce(end, sentinel),
            F.col("affiliation_id"),
            F.col("deptid"),
            F.col("job_title"),
        ],
        or_cols=["is_primary"],
    )
    out = kept.withColumn(
        "person_visibility",
        F.when(
            F.max(F.when(F.col("visibility") == "Public", 1).otherwise(0)).over(pw)
            == 1,
            F.lit("Public"),
        ).otherwise(F.lit("Restricted")),
    )
    return out.select(
        "emplid",
        "staff_org_assoc_id",
        "affiliation_id",
        "deptid",
        "org_id",
        "job_title",
        "job_description",
        "employment_type",
        F.col("staff_type2").alias("staff_type"),
        "start_date",
        "end_date",
        "visibility",
        "is_primary",
        F.col("profiled_person").alias("profiled"),
        "person_visibility",
    )


# The template render as DuckDB string concatenation (the technique
# proven by pure_user_sync_xml's oracle).  The synthetic job fields are
# XML-safe by construction (ids/enums/dates only), so Jinja2 escaping is
# the identity here — byte-level escape behavior is separately proven
# against the reference template in tests/test_reference_fixture_parity.py.
# ORDER BY mirrors Spark's array_sort over the job struct: field order
# = struct field order, NULLS FIRST on the nullable end_date (Spark's
# ascending null ordering); email_address is constant per person.
_PERSON_CYCLE_XML_SQL = f"""
    WITH pac AS ({_PAC_SQL}),
    jx AS (
      SELECT emplid, profiled, person_visibility,
             string_agg(
               e'\\n    <staffOrganisationAssociation id="' || staff_org_assoc_id
               || e'" managedInPure="false">\\n      <affiliationId>' || affiliation_id || '</affiliationId>'
               || e'\\n      <emails>\\n        <v3:classifiedEmail id="personStaffAssocEmail1">'
               || e'\\n          <v3:classification>email</v3:classification>'
               || e'\\n          <v3:value>u' || emplid || e'@umn.edu</v3:value>'
               || e'\\n        </v3:classifiedEmail>\\n      </emails>'
               || e'\\n      <employmentType>' || employment_type || '</employmentType>'
               || e'\\n      <primaryAssociation>' || CASE WHEN is_primary THEN 'true' ELSE 'false' END || '</primaryAssociation>'
               || e'\\n      <organisation>\\n        <v3:source_id>' || org_id || e'</v3:source_id>\\n      </organisation>'
               || e'\\n      <period>\\n        <v3:startDate>' || strftime(start_date, '%d-%m-%Y') || '</v3:startDate>'
               || coalesce(e'\\n        <v3:endDate>' || strftime(end_date, '%d-%m-%Y') || '</v3:endDate>', '')
               || e'\\n      </period>\\n      <staffType>' || staff_type || '</staffType>'
               || e'\\n      <jobDescription><v3:text lang="en">' || job_description || '</v3:text></jobDescription>'
               || e'\\n    </staffOrganisationAssociation>',
               '' ORDER BY staff_org_assoc_id, affiliation_id, employment_type,
                          is_primary, org_id, start_date, end_date NULLS FIRST,
                          staff_type, job_description
             ) AS jobs_xml
      FROM pac GROUP BY emplid, profiled, person_visibility
    )
    SELECT emplid AS person_id,
           e'\\n<person id="' || emplid || e'">\\n  <name>\\n    <v3:firstname>First' || emplid
           || e'</v3:firstname>\\n    <v3:lastname>Last' || emplid || e'</v3:lastname>\\n  </name>'
           || e'\\n  <gender>unknown</gender>\\n  <organisationAssociations>' || jobs_xml
           || e'\\n  </organisationAssociations>'
           || e'\\n  <user id="' || emplid || e'">\\n    <userName>u' || emplid
           || e'@umn.edu</userName>\\n    <email>u' || emplid || e'@umn.edu</email>\\n  </user>'
           || e'\\n  <personIds>\\n    <v3:id type="employee" id="autoid:' || emplid || '-employee-' || emplid || '">' || emplid || '</v3:id>'
           || e'\\n    <v3:id type="umn" id="autoid:' || emplid || '-umn-u' || emplid || '">u' || emplid || '</v3:id>'
           || e'\\n  </personIds>\\n  <visibility>' || person_visibility || '</visibility>'
           || e'\\n  <profiled>' || CASE WHEN profiled THEN 'true' ELSE 'false' END || e'</profiled>\\n</person>\\n' AS xml
    FROM jx
    """


@query("person_cycle_xml", _PERSON_CYCLE_XML_SQL)
def person_cycle_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 + §3.4 end-to-end: jobs transform → person assembly →
    nested-jobs grouping → byte-parity person.xml.j2 render — the
    reference's whole oit_to_edw.person + edw_to_pure.person path as one
    DAG (person.py:21-78 then edw_to_pure/person.py:23-47)."""
    from experts_etl_spark.plans.xml_sync import pure_person_xml

    jobs = person_assembly_cycle(spark, sf_dir)
    jstruct = F.struct(
        F.col("staff_org_assoc_id").alias("staff_org_association_id"),
        F.col("affiliation_id"),
        # the reference fans the person email into every job
        # (oit_to_edw/person.py:259)
        F.concat(F.lit("u"), F.col("emplid"), F.lit("@umn.edu")).alias(
            "email_address"
        ),
        F.col("employment_type"),
        F.col("is_primary").alias("primary_association"),
        F.col("org_id"),
        F.col("start_date").alias("period_start_date"),
        F.col("end_date").alias("period_end_date"),
        F.col("staff_type"),
        F.col("job_description"),
    )
    per = jobs.groupBy("emplid", "profiled", "person_visibility").agg(
        F.array_sort(F.collect_list(jstruct)).alias("jobs")
    )
    internet = F.concat(F.lit("u"), F.col("emplid"))
    return per.select(
        F.col("emplid").alias("person_id"),
        pure_person_xml(
            F.col("emplid"),
            F.concat(F.lit("First"), F.col("emplid")),
            F.concat(F.lit("Last"), F.col("emplid")),
            F.lit(None).cast("string"),
            F.col("emplid"),
            internet,
            F.col("person_visibility"),
            F.col("profiled"),
            F.col("jobs"),
        ).alias("xml"),
    )


@query(
    "pure_user_sync_xml",
    """
    WITH esc AS (
      SELECT c_custkey,
             replace(replace(replace(replace(replace(c_name,
               '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&#34;'),
               '''', '&#39;') AS name_e
      FROM customer
    )
    SELECT CAST(c_custkey AS VARCHAR) AS person_id,
           chr(10) || '<user id="' || CAST(c_custkey AS VARCHAR) || '">'
           || chr(10) || '  <userName>u' || CAST(c_custkey AS VARCHAR)
           || '@umn.edu</userName>'
           || chr(10) || '  <email>u' || CAST(c_custkey AS VARCHAR) || '@umn.edu</email>'
           || chr(10) || '  <name>'
           || chr(10) || '    <v3:firstname>' || name_e || '</v3:firstname>'
           || chr(10) || '    <v3:lastname>' || name_e || '</v3:lastname>'
           || chr(10) || '  </name>'
           || chr(10) || '</user>' || chr(10) AS xml
    FROM esc
    """,
)
def pure_user_sync_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """templates/user.xml.j2 rendered natively (edw_to_pure/user.py:32-40);
    byte-parity against the template proven in
    tests/test_reference_fixture_parity.py, value-hash parity against the
    SQL formulation here."""
    from experts_etl_spark.plans.xml_sync import pure_user_xml

    c = read_table(spark, sf_dir, "customer")
    uname = F.concat(F.lit("u"), F.col("c_custkey").cast("string"))
    return c.select(
        F.col("c_custkey").cast("string").alias("person_id"),
        pure_user_xml(
            F.col("c_custkey").cast("string"),
            uname,
            F.concat(uname, F.lit("@umn.edu")),
            F.col("c_name"),
            F.col("c_name"),
        ).alias("xml"),
    )


# The full person.xml.j2 render as DuckDB string concatenation — every
# conditional branch (titles / user / umn id / email / end-date) and the
# array_sort job ordering mirrored field-by-field.  NULLS FIRST on the
# two nullable struct fields matches Spark's ascending null ordering in
# struct comparison; the markupsafe replace-chain matches _esc
# (plans/xml_sync.py:81).
_PURE_PERSON_SYNC_SQL = """
    WITH esc AS (
      SELECT c_custkey,
             CAST(c_custkey AS VARCHAR) AS pid,
             replace(replace(replace(replace(replace(split_part(c_name, '#', 1),
               '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&#34;'),
               '''', '&#39;') AS first_e,
             replace(replace(replace(replace(replace(c_name,
               '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&#34;'),
               '''', '&#39;') AS last_e
      FROM customer
    ),
    jobs AS (
      SELECT CAST(o_custkey AS VARCHAR) AS pid,
             string_agg(
               e'\\n    <staffOrganisationAssociation id="autoid:' || CAST(o_orderkey AS VARCHAR)
               || e'" managedInPure="false">\\n      <affiliationId>' || o_orderpriority || '</affiliationId>'
               || coalesce(
                    e'\\n      <emails>\\n        <v3:classifiedEmail id="personStaffAssocEmail1">'
                    || e'\\n          <v3:classification>email</v3:classification>'
                    || e'\\n          <v3:value>'
                    || CASE WHEN o_orderkey % 2 = 0
                            THEN 'clerk' || CAST(o_orderkey % 100 AS VARCHAR) || '@umn.edu' END
                    || e'</v3:value>\\n        </v3:classifiedEmail>\\n      </emails>', '')
               || e'\\n      <employmentType>' || o_orderstatus || '</employmentType>'
               || e'\\n      <primaryAssociation>'
               || CASE WHEN o_orderkey % 7 = 0 THEN 'true' ELSE 'false' END || '</primaryAssociation>'
               || e'\\n      <organisation>\\n        <v3:source_id>ORG' || CAST(o_custkey % 7 AS VARCHAR)
               || e'</v3:source_id>\\n      </organisation>'
               || e'\\n      <period>\\n        <v3:startDate>' || strftime(o_orderdate, '%d-%m-%Y') || '</v3:startDate>'
               || coalesce(e'\\n        <v3:endDate>'
                    || CASE WHEN o_orderstatus = 'F'
                            THEN strftime(CAST(o_orderdate AS DATE) + 365, '%d-%m-%Y') END
                    || '</v3:endDate>', '')
               || e'\\n      </period>\\n      <staffType>academic</staffType>'
               || e'\\n      <jobDescription><v3:text lang="en">' || o_orderpriority
               || e'</v3:text></jobDescription>\\n    </staffOrganisationAssociation>',
               '' ORDER BY
                 'autoid:' || CAST(o_orderkey AS VARCHAR),
                 o_orderpriority,
                 CASE WHEN o_orderkey % 2 = 0
                      THEN 'clerk' || CAST(o_orderkey % 100 AS VARCHAR) || '@umn.edu' END NULLS FIRST,
                 o_orderstatus,
                 o_orderkey % 7 = 0,
                 'ORG' || CAST(o_custkey % 7 AS VARCHAR),
                 o_orderdate,
                 CASE WHEN o_orderstatus = 'F' THEN CAST(o_orderdate AS DATE) + 365 END NULLS FIRST
             ) AS jobs_xml
      FROM orders GROUP BY o_custkey
    )
    SELECT esc.pid AS person_id,
           e'\\n<person id="' || esc.pid || e'">\\n  <name>\\n    <v3:firstname>' || first_e
           || e'</v3:firstname>\\n    <v3:lastname>' || last_e || e'</v3:lastname>\\n  </name>'
           || CASE WHEN c_custkey % 5 = 0 THEN
                e'\\n  <titles>\\n    <title id="' || esc.pid
                || e'">\\n      <typeClassification>postnominal</typeClassification>'
                || e'\\n      <value>\\n        <v3:text lang="en" country="US">Ph.D.</v3:text>'
                || e'\\n      </value>\\n    </title>\\n  </titles>\\n  '
              ELSE '' END
           || e'\\n  <gender>unknown</gender>\\n  <organisationAssociations>' || coalesce(jobs_xml, '')
           || e'\\n  </organisationAssociations>'
           || CASE WHEN c_custkey % 3 <> 0 THEN
                e'\\n  <user id="' || esc.pid || e'">\\n    <userName>u' || esc.pid
                || e'@umn.edu</userName>\\n    <email>u' || esc.pid || e'@umn.edu</email>\\n  </user>'
              ELSE '' END
           || e'\\n  <personIds>\\n    <v3:id type="employee" id="autoid:' || esc.pid
           || '-employee-' || esc.pid || '">' || esc.pid || '</v3:id>'
           || CASE WHEN c_custkey % 3 <> 0 THEN
                e'\\n    <v3:id type="umn" id="autoid:' || esc.pid || '-umn-u' || esc.pid
                || '">u' || esc.pid || '</v3:id>'
              ELSE '' END
           || e'\\n  </personIds>\\n  <visibility>'
           || CASE WHEN c_custkey % 2 = 0 THEN 'Public' ELSE 'Restricted' END || '</visibility>'
           || e'\\n  <profiled>' || CASE WHEN c_custkey % 2 = 0 THEN 'true' ELSE 'false' END
           || e'</profiled>\\n</person>\\n' AS xml
    FROM esc LEFT JOIN jobs ON esc.pid = jobs.pid
    """


@query("pure_person_sync_xml", _PURE_PERSON_SYNC_SQL)
def pure_person_sync_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL Pure person.xml.j2 render (edw_to_pure/person.py:33-47)
    as native column expressions over the synthetic cast — every
    conditional branch exercised deterministically (postnominal every
    5th person, no internet_id every 3rd, open-ended jobs for open
    orders)."""
    from experts_etl_spark.plans.xml_sync import pure_person_xml

    persons = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("person_id"),
        F.split(F.col("c_name"), "#").getItem(0).alias("first_name"),
        F.col("c_name").alias("last_name"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("Ph.D.")).alias("postnominal"),
        F.col("c_custkey").cast("string").alias("emplid"),
        F.when(
            F.col("c_custkey") % 3 != 0,
            F.concat(F.lit("u"), F.col("c_custkey").cast("string")),
        ).alias("internet_id"),
        F.when(F.col("c_custkey") % 2 == 0, F.lit("Public"))
        .otherwise(F.lit("Restricted"))
        .alias("visibility"),
        (F.col("c_custkey") % 2 == 0).alias("profiled"),
    )
    jobs = (
        read_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").cast("string").alias("person_id"),
            F.struct(
                F.concat(
                    F.lit("autoid:"), F.col("o_orderkey").cast("string")
                ).alias("staff_org_association_id"),
                F.col("o_orderpriority").alias("affiliation_id"),
                F.when(
                    F.col("o_orderkey") % 2 == 0,
                    F.concat(
                        F.lit("clerk"),
                        (F.col("o_orderkey") % 100).cast("string"),
                        F.lit("@umn.edu"),
                    ),
                ).alias("email_address"),
                F.col("o_orderstatus").alias("employment_type"),
                (F.col("o_orderkey") % 7 == 0).alias("primary_association"),
                F.concat(
                    F.lit("ORG"), (F.col("o_custkey") % 7).cast("string")
                ).alias("org_id"),
                F.col("o_orderdate").alias("period_start_date"),
                F.when(
                    F.col("o_orderstatus") == "F",
                    F.date_add(F.col("o_orderdate"), 365),
                ).alias("period_end_date"),
                F.lit("academic").alias("staff_type"),
                F.col("o_orderpriority").alias("job_description"),
            ).alias("job"),
        )
        .groupBy("person_id")
        .agg(F.array_sort(F.collect_list("job")).alias("jobs"))
    )
    joined = persons.join(jobs, "person_id", "left")
    return joined.select(
        "person_id",
        pure_person_xml(
            F.col("person_id"),
            F.col("first_name"),
            F.col("last_name"),
            F.col("postnominal"),
            F.col("emplid"),
            F.col("internet_id"),
            F.col("visibility"),
            F.col("profiled"),
            F.col("jobs"),
        ).alias("xml"),
    )


# The organisation.xml.j2 render as DuckDB string concatenation.  The
# synthetic cast gives every optional section a deterministic 0-or-1
# item population (modular arithmetic on s_suppkey) so each section is
# a CASE block in SQL while every template branch — endDate, parent,
# nameVariants, CDATA profileInfos, photos, phones, emails,
# webAddresses, addresses with null-skipped fields, ids — is exercised.
_PURE_ORG_SYNC_SQL = """
    SELECT CAST(s_suppkey AS VARCHAR) AS org_id,
           e'<organisation managedInPure="false">\\n    <organisationId>' || CAST(s_suppkey AS VARCHAR)
           || e'</organisationId>\\n    <type>' || CASE WHEN s_suppkey % 2 = 0 THEN 'department' ELSE 'college' END
           || e'</type>\\n    <name>\\n        <v3:text lang="en" country="US">'
           || replace(replace(replace(replace(replace(s_name,
                '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '"', '&#34;'),
                '''', '&#39;')
           || e'</v3:text>\\n    </name>\\n    <startDate>'
           || strftime(DATE '1990-01-01' + CAST(s_suppkey % 1000 AS INTEGER), '%Y-%m-%d') || '</startDate>'
           || CASE WHEN s_suppkey % 9 = 0 THEN
                e'\\n    <endDate>' || strftime(DATE '1990-01-01' + CAST(s_suppkey % 1000 AS INTEGER) + 3650, '%Y-%m-%d') || '</endDate>'
              ELSE '' END
           || e'\\n    <visibility>' || CASE WHEN s_suppkey % 2 = 0 THEN 'Public' ELSE 'Restricted' END || '</visibility>'
           || CASE WHEN s_suppkey % 11 <> 0 THEN
                e'\\n    <parentOrganisationId>' || CAST(s_nationkey AS VARCHAR) || '</parentOrganisationId>'
              ELSE '' END
           || CASE WHEN s_suppkey % 3 = 0 THEN
                e'\\n    <nameVariants>\\n        <nameVariant>\\n            <type>acronym</type>'
                || e'\\n            <name>\\n                <v3:text lang="en" country="US">ORG'
                || CAST(s_suppkey AS VARCHAR)
                || e'</v3:text>\\n            </name>\\n        </nameVariant>\\n    </nameVariants>'
              ELSE '' END
           || CASE WHEN s_suppkey % 10 = 0 THEN
                e'\\n    <profileInfos>\\n        <profileInfo>\\n            <type>profile</type>'
                || e'\\n            <profileInfo>\\n                <v3:text lang="en" country="US">'
                || e'\\n                  <![CDATA[<b>About unit ' || CAST(s_suppkey AS VARCHAR)
                || e'</b>]]>\\n                </v3:text>\\n            </profileInfo>\\n        </profileInfo>\\n    </profileInfos>'
              ELSE '' END
           || CASE WHEN s_suppkey % 8 = 0 THEN
                e'\\n    <photos>\\n        <photo>\\n            <type>logo</type>'
                || e'\\n            <photoValue>https://img.example/org/' || CAST(s_suppkey AS VARCHAR)
                || e'.png</photoValue>\\n            <photoProtocol>http</photoProtocol>\\n        </photo>\\n    </photos>'
              ELSE '' END
           || CASE WHEN s_suppkey % 5 = 0 THEN
                e'\\n    <phoneNumbers>\\n        <phoneNumber>\\n            <type>office</type>'
                || e'\\n            <phoneNumber>612-' || CAST(s_suppkey AS VARCHAR)
                || e'</phoneNumber>\\n        </phoneNumber>\\n    </phoneNumbers>'
              ELSE '' END
           || CASE WHEN s_suppkey % 4 = 0 THEN
                e'\\n    <emails>\\n        <email>\\n            <type>email</type>'
                || e'\\n            <email>org' || CAST(s_suppkey AS VARCHAR)
                || e'@umn.edu</email>\\n        </email>\\n    </emails>'
              ELSE '' END
           || CASE WHEN s_suppkey % 6 = 0 THEN
                e'\\n    <webAddresses>\\n        <webAddress>\\n            <type>homepage</type>'
                || e'\\n            <webAddress>\\n                <v3:text lang="en" country="US">https://www.example/unit/'
                || CAST(s_suppkey AS VARCHAR)
                || e'</v3:text>\\n            </webAddress>\\n        </webAddress>\\n    </webAddresses>'
              ELSE '' END
           || CASE WHEN s_suppkey % 7 = 0 THEN
                e'\\n    <addresses>\\n        <address>\\n            <type>postal</type>'
                || e'\\n            <city>Minneapolis</city>'
                || e'\\n            <postalCode>554' || CAST(s_suppkey % 100 AS VARCHAR) || '</postalCode>'
                || e'\\n            <country>US</country>\\n        </address>\\n    </addresses>'
              ELSE '' END
           || e'\\n    <ids>\\n        <id>\\n            <idSource>dept_id</idSource>'
           || e'\\n            <id>D' || CAST(s_suppkey AS VARCHAR) || e'</id>\\n        </id>\\n    </ids>'
           || e'\\n</organisation>' AS xml
    FROM supplier
    """


@query("pure_organisation_sync_xml", _PURE_ORG_SYNC_SQL)
def pure_organisation_sync_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL Pure organisation.xml.j2 render (byte-parity vs the
    template proven in tests/test_reference_fixture_parity.py:591) over
    a deterministic synthetic cast of ``supplier`` — completes the
    template trio (person/user/organisation) as hash-verified queries.
    Every optional section populated 0-or-1 by modular arithmetic so
    all branches execute."""
    from experts_etl_spark.plans.xml_sync import pure_organisation_xml

    s = read_table(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    ks = k.cast("string")

    def tv(t: str, v):
        return F.struct(F.lit(t).alias("type"), v.alias("value"))

    def maybe(cond, item):
        return F.when(cond, F.array(item))

    start = F.date_add(F.lit("1990-01-01").cast("date"), (k % 1000).cast("int"))
    addr = F.struct(
        F.lit("postal").alias("type"),
        F.lit("Minneapolis").alias("city"),
        F.concat(F.lit("554"), (k % 100).cast("string")).alias("postalcode"),
        F.lit(None).cast("string").alias("street"),
        F.lit(None).cast("string").alias("building"),
        F.lit("US").alias("country"),
        F.lit(None).cast("string").alias("subdivision"),
        F.lit(None).cast("string").alias("geospatial_point"),
    )
    return s.select(
        ks.alias("org_id"),
        pure_organisation_xml(
            ks,
            F.when(k % 2 == 0, F.lit("department")).otherwise(F.lit("college")),
            F.col("s_name"),
            start,
            F.when(k % 9 == 0, F.date_add(start, 3650)),
            F.when(k % 2 == 0, F.lit("Public")).otherwise(F.lit("Restricted")),
            F.when(k % 11 != 0, F.col("s_nationkey").cast("string")),
            maybe(k % 3 == 0, tv("acronym", F.concat(F.lit("ORG"), ks))),
            maybe(
                k % 10 == 0,
                tv("profile", F.concat(F.lit("<b>About unit "), ks, F.lit("</b>"))),
            ),
            maybe(
                k % 8 == 0,
                tv("logo", F.concat(F.lit("https://img.example/org/"), ks, F.lit(".png"))),
            ),
            maybe(k % 5 == 0, tv("office", F.concat(F.lit("612-"), ks))),
            maybe(k % 4 == 0, tv("email", F.concat(F.lit("org"), ks, F.lit("@umn.edu")))),
            maybe(
                k % 6 == 0,
                tv("homepage", F.concat(F.lit("https://www.example/unit/"), ks)),
            ),
            maybe(k % 7 == 0, addr),
            F.array(tv("dept_id", F.concat(F.lit("D"), ks))),
        ).alias("xml"),
    )


# ---------------------------------------------------------------------------
# Skew pack — same answers as the naive plans, skew-proof physical shape
# ---------------------------------------------------------------------------

@query(
    "skew_tolerant_counts",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
           max(ts) AS last_ts
    FROM events GROUP BY event_type
    """,
)
def skew_tolerant_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over a low-cardinality (⇒ maximally
    skewed) key: partial agg on (key, salt) spreads each hot key over 16
    reducers, final agg recombines.  Values are identical to the naive
    groupBy — only the physical shuffle shape changes."""
    from experts_etl_spark.operators import two_stage_agg

    ev = read_table(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(12,2)")
    )
    out = two_stage_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n_events": ("event_id", "count"),
            "total_value": ("value_dec", "sum"),
            "last_ts": ("ts", "max"),
        },
        unique_col="event_id",
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("total_value").cast("double").alias("total_value"),
        "last_ts",
    )


@query(
    "salted_dim_join",
    """
    SELECT o.o_orderkey, n.n_name AS nation_name
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def salted_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted replicated join: customers keyed by 25 nations (hot keys by
    construction) join the nation dim with the dim exploded across 16
    salt buckets.  For a true dim this size broadcast wins — the query
    exists to pin the salting rewrite's correctness against the plain
    plan."""
    from experts_etl_spark.operators import salted_join

    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    oc = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", F.col("c_nationkey").alias("n_nationkey")
    )
    out = salted_join(
        oc, n, on=["n_nationkey"], fact_unique_col="o_orderkey", how="inner"
    )
    return out.select("o_orderkey", F.col("n_name").alias("nation_name"))


@query(
    "required_fields_gate",
    """
    WITH ev AS (
      SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS user_id,
             CASE WHEN event_id % 11 = 0 THEN NULL ELSE event_type END AS event_type,
             CASE WHEN event_id % 13 = 0 THEN NULL ELSE ts END AS ts
      FROM events
    )
    SELECT event_id, user_id, event_type, ts FROM ev
    WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
    """,
)
def required_fields_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: reject change events missing any required field — a
    conjunction of isNotNull predicates, pushed into the scan
    (extractor_loaders/pure_api_changes.py:43-47).  Nulls are synthesized
    since the clean feed has none."""
    ev = read_table(spark, sf_dir, "events")
    nulled = ev.select(
        "event_id",
        F.when(F.col("event_id") % 7 != 0, F.col("user_id")).alias("user_id"),
        F.when(F.col("event_id") % 11 != 0, F.col("event_type")).alias("event_type"),
        F.when(F.col("event_id") % 13 != 0, F.col("ts")).alias("ts"),
    )
    return nulled.filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )


@query(
    "slug_normalize",
    """
    SELECT p_partkey,
           lower(regexp_replace(p_type, '[^a-zA-Z]+', '', 'g')) AS type_slug
    FROM part
    """,
)
def slug_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: lowercase + strip non-alpha ('non-academic' → 'nonacademic',
    transformer_loaders/pure_api_internal_person.py:256-263)."""
    p = read_table(spark, sf_dir, "part")
    return p.select("p_partkey", X.slug(F.col("p_type")).alias("type_slug"))


@query(
    "scalar_pack",
    """
    WITH uris AS (
      SELECT p_partkey, p_type,
             concat('catalog/', p_brand, '/', replace(p_type, ' ', '_'), '/', CAST(p_partkey AS VARCHAR)) AS uri
      FROM part
    )
    SELECT p_partkey, uri,
           list_reverse(string_split(uri, '/'))[1] AS tail_1,
           list_reverse(string_split(uri, '/'))[2] AS tail_2,
           lower(regexp_replace(p_type, '[^a-zA-Z]+', '', 'g')) AS type_slug,
           sha256(concat_ws(chr(31), CAST(p_partkey AS VARCHAR), p_type)) AS stable_id
    FROM uris
    """,
)
def scalar_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7+F8+F10 in one gated row: uri tail split
    (transformer_loaders/pure_api_pub.py:185-187), slug normalization
    (pure_api_internal_person.py:256-263), and the deterministic
    surrogate key replacing uuid4 (pure_api_pub.py:132-136) — all
    native expressions on one scan of ``part``."""
    p = read_table(spark, sf_dir, "part")
    uri = F.concat_ws(
        "/",
        F.lit("catalog"),
        F.col("p_brand"),
        F.regexp_replace("p_type", " ", "_"),
        F.col("p_partkey").cast("string"),
    )
    df = p.select("p_partkey", "p_type", uri.alias("uri"))
    tail = X.uri_tail(F.col("uri"))
    return df.select(
        "p_partkey",
        "uri",
        tail[0].alias("tail_1"),
        tail[1].alias("tail_2"),
        X.slug(F.col("p_type")).alias("type_slug"),
        X.stable_id(F.col("p_partkey").cast("string"), F.col("p_type")).alias(
            "stable_id"
        ),
    )


# ---------------------------------------------------------------------------
# CDC end-to-end cycle (SURVEY.md §3.3) — plans/cdc_pipeline.py
# ---------------------------------------------------------------------------

@query(
    "cdc_end_to_end",
    """
    WITH hist AS (
      SELECT user_id, event_id, ts, event_type, value
      FROM events WHERE ts <= TIMESTAMP '2024-01-14'
    ), target AS (
      SELECT user_id, event_id, ts, event_type, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM hist) WHERE rn = 1
    ), incoming AS (
      SELECT user_id, event_id, ts, event_type, value
      FROM events WHERE ts > TIMESTAMP '2024-01-14' AND event_type <> 'view'
    ), guarded AS (
      SELECT i.* FROM incoming i
      LEFT JOIN (SELECT user_id, max(event_id) AS mv FROM hist GROUP BY user_id) h
        USING (user_id)
      WHERE h.mv IS NULL OR i.event_id > h.mv
    ), compacted AS (
      SELECT user_id, event_id, ts, event_type, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM guarded) WHERE rn = 1
    ), kept AS (
      SELECT t.* FROM target t
      WHERE t.user_id NOT IN (SELECT user_id FROM compacted WHERE event_type = 'error')
    ), merged AS (
      SELECT user_id, event_id, ts, event_type, value FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY event_id DESC, is_target DESC) AS rn
        FROM (SELECT *, 1 AS is_target FROM kept
              UNION ALL
              SELECT *, 0 AS is_target FROM compacted WHERE event_type <> 'error')
      ) WHERE rn = 1
    )
    SELECT * FROM merged
    """,
)
def cdc_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 one-cycle composition: gates → version guard → compaction →
    DELETE cascade / freshness merge, as a single Catalyst plan (see
    plans/cdc_pipeline.py for the operator chain)."""
    from experts_etl_spark.plans.cdc_pipeline import consume_cycle

    return consume_cycle(spark, sf_dir)


@query(
    "person_360",
    """
    WITH ordered AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      FROM events
    ), grp AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS group_id
      FROM ordered
    ), jobs AS (
      SELECT user_id, group_id, min(event_type) AS job_type, min(ts) AS start_ts
      FROM grp GROUP BY user_id, group_id
    ), elected AS (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY
          CASE job_type WHEN 'purchase' THEN 1 WHEN 'signup' THEN 2
                        WHEN 'view' THEN 3 WHEN 'click' THEN 4 ELSE 5 END,
          start_ts, group_id) AS rn
      FROM jobs
    ), person AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_jobs,
             max(CASE WHEN rn = 1 THEN job_type END) AS primary_type,
             max(CASE WHEN rn = 1 THEN start_ts END) AS primary_start,
             CASE WHEN max(CASE WHEN job_type = 'purchase' THEN 1 ELSE 0 END) = 1
                  THEN 'Public' ELSE 'Internal' END AS visibility
      FROM elected GROUP BY user_id
    )
    SELECT p.user_id, p.n_jobs, p.primary_type, p.primary_start, p.visibility,
           c.c_name AS full_name,
           CASE WHEN c.c_custkey IS NOT NULL
                THEN concat('user', CAST(p.user_id AS VARCHAR), '@umn.edu') END AS email,
           CASE WHEN c.c_custkey IS NULL
                THEN sha256(concat_ws(chr(31), 'missing_person_dim',
                                      CAST(p.user_id AS VARCHAR))) END AS error_id
    FROM person p
    LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 7 <> 0) c
      ON p.user_id = c.c_custkey
    """,
)
def person_360(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 end-to-end: run-length job grouping (W2) → primary election
    (W8) → visibility rollup (A10) → dim enrichment (J4) with
    quarantine ids for dim misses (J1/F9) and email derivation (F6) —
    the reference's whole per-person transform
    (oit_to_edw/person.py:21-265) as one plan, one shuffle key."""
    ev = read_table(spark, sf_dir, "events")
    grouped = run_groups(
        ev, ["user_id"], [F.col("ts"), F.col("event_id")], ["event_type"]
    )
    jobs = grouped.groupBy("user_id", "group_id").agg(
        F.min("event_type").alias("job_type"), F.min("ts").alias("start_ts")
    )
    priority = (
        F.when(F.col("job_type") == "purchase", 1)
        .when(F.col("job_type") == "signup", 2)
        .when(F.col("job_type") == "view", 3)
        .when(F.col("job_type") == "click", 4)
        .otherwise(5)
    )
    elected = elect_primary(
        jobs, ["user_id"], priority, [F.col("start_ts"), F.col("group_id")]
    )
    person = elected.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_jobs"),
        F.max(F.when(F.col("primary"), F.col("job_type"))).alias("primary_type"),
        F.max(F.when(F.col("primary"), F.col("start_ts"))).alias("primary_start"),
        F.when(
            F.max(F.when(F.col("job_type") == "purchase", 1).otherwise(0)) == 1,
            "Public",
        )
        .otherwise("Internal")
        .alias("visibility"),
    )
    dim = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 != 0)
        .select("c_custkey", "c_name")
    )
    joined = person.join(
        F.broadcast(dim), person.user_id == dim.c_custkey, "left"
    )
    return joined.select(
        "user_id",
        "n_jobs",
        "primary_type",
        "primary_start",
        "visibility",
        F.col("c_name").alias("full_name"),
        F.when(
            F.col("c_custkey").isNotNull(),
            X.derive_email(F.concat(F.lit("user"), F.col("user_id").cast("string"))),
        ).alias("email"),
        F.when(
            F.col("c_custkey").isNull(),
            F.sha2(
                F.concat_ws(
                    "\x1f", F.lit("missing_person_dim"), F.col("user_id").cast("string")
                ),
                256,
            ),
        ).alias("error_id"),
    )


@query(
    "pub_cycle",
    """
    WITH orgdim AS (SELECT n_nationkey AS org_id FROM nation WHERE n_nationkey % 5 <> 0),
    pubs AS (
      SELECT o_orderkey AS pub_id, o_custkey % 25 AS owner_org,
             lower(o_orderstatus) AS pure_type, substr(o_orderpriority, 1, 1) AS pure_subtype
      FROM orders
      WHERE lower(o_orderstatus) IN ('o', 'f')
    ),
    gated AS (SELECT p.* FROM pubs p WHERE owner_org IN (SELECT org_id FROM orgdim)),
    st AS (
      SELECT l_orderkey AS pub_id,
             CASE l_returnflag WHEN 'R' THEN 'issued' WHEN 'A' THEN 'eissued'
                  ELSE 'inpress' END AS state,
             l_shipdate AS ts, (l_linestatus = 'O') AS cur,
             CASE CAST(l_linenumber % 3 AS INTEGER) WHEN 0 THEN 366 WHEN 1 THEN 31
                  ELSE 1 END AS prec
      FROM lineitem
    ),
    fan AS (
      SELECT pub_id,
             max(CASE WHEN state = 'issued' THEN ts END) AS issued_ts,
             max(CASE WHEN state = 'issued' AND cur THEN 1 ELSE 0 END) = 1 AS issued_current,
             CAST(max(CASE WHEN state = 'issued' THEN prec END) AS INT) AS issued_precision,
             max(CASE WHEN state = 'eissued' THEN ts END) AS eissued_ts,
             max(CASE WHEN state = 'eissued' AND cur THEN 1 ELSE 0 END) = 1 AS eissued_current,
             max(CASE WHEN state = 'inpress' THEN ts END) AS inpress_ts
      FROM st GROUP BY pub_id
    ),
    persondim AS (
      SELECT s_suppkey AS person_id, s_nationkey AS person_org,
             concat('E', CAST(s_suppkey AS VARCHAR)) AS emplid
      FROM supplier WHERE s_acctbal > 0
    ),
    auth AS (
      SELECT l_orderkey AS pub_id, l_suppkey AS person_id,
             l_linenumber AS ordinal, lower(l_returnflag) AS role
      FROM lineitem
    ),
    aj AS (
      SELECT a.*, p.emplid,
             CASE WHEN p.person_id IS NULL THEN 1
                  WHEN o.org_id IS NULL THEN 1 ELSE 0 END AS miss
      FROM auth a
      LEFT JOIN persondim p USING (person_id)
      LEFT JOIN orgdim o ON p.person_org = o.org_id
    ),
    valid AS (
      SELECT * FROM aj WHERE pub_id NOT IN (SELECT pub_id FROM aj WHERE miss = 1)
    ),
    newch AS (
      SELECT pub_id, person_id, ordinal, role, emplid FROM (
        -- role in the ORDER BY makes the tie-break total: the synthetic
        -- lineitem contains duplicate (order, supp, linenumber) rows
        -- that differ only in returnflag
        SELECT *, row_number() OVER (PARTITION BY pub_id, person_id
                                     ORDER BY ordinal, role) AS rn
        FROM valid) WHERE rn = 1
    ),
    pubmeta AS (
      SELECT g.*, f.issued_ts, f.issued_current, f.issued_precision,
             f.eissued_ts, f.eissued_current, f.inpress_ts
      FROM gated g LEFT JOIN fan f USING (pub_id)
    ),
    newfull AS (
      SELECT n.pub_id, n.person_id, CAST(n.ordinal AS INT) AS person_ordinal,
             n.role AS person_role, n.emplid, 'new' AS src,
             m.pure_type, m.pure_subtype, m.owner_org,
             m.issued_ts, m.issued_current, m.issued_precision,
             m.eissued_ts, m.eissued_current, m.inpress_ts
      FROM newch n JOIN pubmeta m USING (pub_id)
    ),
    prior AS (
      SELECT l_orderkey AS pub_id, l_suppkey AS person_id,
             CAST(l_linenumber AS INT) AS person_ordinal,
             'prior' AS person_role, CAST(NULL AS VARCHAR) AS emplid, 'prior' AS src,
             CAST(NULL AS VARCHAR) AS pure_type, CAST(NULL AS VARCHAR) AS pure_subtype,
             CAST(NULL AS BIGINT) AS owner_org, CAST(NULL AS TIMESTAMP) AS issued_ts,
             CAST(NULL AS BOOLEAN) AS issued_current, CAST(NULL AS INT) AS issued_precision,
             CAST(NULL AS TIMESTAMP) AS eissued_ts, CAST(NULL AS BOOLEAN) AS eissued_current,
             CAST(NULL AS TIMESTAMP) AS inpress_ts
      FROM lineitem WHERE l_linenumber <= 2
    )
    SELECT * FROM prior WHERE pub_id NOT IN (SELECT DISTINCT pub_id FROM newfull)
    UNION ALL
    SELECT * FROM newfull
    """,
)
def pub_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's research-output transformer end-to-end
    (transformer_loaders/pure_api_pub.py:20-405) as ONE DAG — the
    document-side analog of person_cycle_xml:

    - type-uri tail split + type whitelist (P7/F7, :185-187)
    - publication-state fan-out with partial-date precision (F12/F11,
      :20-62; bool_or stands in for the reference's last-row-wins
      current flag — deterministic under any row order)
    - owner-org existence gate: pub skipped when the managing org is
      absent from EDW (J6, :207-225)
    - author-association veto: ANY missing person or missing org skips
      the WHOLE pub (J7, :293-335, :363-381)
    - membership dedup: first ordinal per (pub, person) (J8, :312-335)
    - delete-and-recreate child sets for surviving pubs; vetoed and
      gated-out pubs keep their prior associations untouched (M5,
      :387-405)

    Synthetic cast: orders=api_pub feed, lineitem=states+associations+
    prior children, supplier=person dim, nation=org dim.  ONE physical
    pass over each fact input: the six needed lineitem columns are
    projected once and ``persist``-ed (MEMORY_AND_DISK) — the three
    logical projections (states, associations, prior children) and the
    twice-referenced veto subtree read the one InMemoryRelation, which
    the cache manager builds exactly once per action.  (Round 3 used a
    lazy ``localCheckpoint`` here; its mandatory disk materialization
    cost 7.7× at sf0.1 the scans it saved.  A ``repartition`` +
    ReuseExchange variant doesn't work: Catalyst prunes columns through
    the exchange, the consumer subtrees stop being canonically identical
    and each re-scans.  persist is the diamond-plan answer — memory-
    backed, spills to disk only when the projection outgrows executor
    memory, keeps lineage fault-tolerance.)  The gated pub set is shared
    the same way so orders is scanned once.  Dims broadcast, all
    shuffles keyed on pub_id (see tests/test_plans.py plan budget).

    Cache lifecycle caveat: the persisted entries are keyed on the
    canonical plan and live until ``spark.catalog.clearCache()`` (or
    unpersist) — a same-session rewrite of the source parquet followed
    by re-running this query would serve the cached (stale) projection.
    One-shot cycle runs (the driver, the runner, bench.py — which
    clears between queries) are unaffected; a long-lived session
    re-running cycles after source mutations must clear the cache
    between cycles, exactly as it would re-read any cached table."""
    from pyspark import StorageLevel

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    sup = read_table(spark, sf_dir, "supplier")
    nat = read_table(spark, sf_dir, "nation")

    base = li.select(
        F.col("l_orderkey").alias("pub_id"),
        F.col("l_suppkey").alias("person_id"),
        F.col("l_linenumber").alias("linenumber"),
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
        F.col("l_shipdate").alias("shipdate"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    orgdim = nat.filter(F.col("n_nationkey") % 5 != 0).select(
        F.col("n_nationkey").alias("org_id")
    )
    # P7 whitelist over the F7 uri-tail split of the synthesized type uri
    uri = F.concat_ws(
        "/",
        F.lit("research"),
        F.lit("outputs"),
        F.lower(F.col("o_orderstatus")),
        F.substring("o_orderpriority", 1, 1),
    )
    tails = X.uri_tail(uri, 2)
    pubs = o.select(
        F.col("o_orderkey").alias("pub_id"),
        (F.col("o_custkey") % 25).alias("owner_org"),
        tails[1].alias("pure_type"),
        tails[0].alias("pure_subtype"),
    ).filter(F.col("pure_type").isin("o", "f"))
    # J6: owner-org existence gate (persisted: referenced by both the
    # touched-set semi-join and the pubmeta join)
    gated, _ = existence_gate(
        pubs, orgdim.select(F.col("org_id").alias("owner_org")), ["owner_org"]
    )
    gated = gated.persist(StorageLevel.MEMORY_AND_DISK)
    # F12/F11: state fan-out with precision
    st = base.select(
        "pub_id",
        F.when(F.col("returnflag") == "R", "issued")
        .when(F.col("returnflag") == "A", "eissued")
        .otherwise("inpress")
        .alias("state"),
        F.col("shipdate").alias("ts"),
        (F.col("linestatus") == "O").alias("cur"),
        F.when((F.col("linenumber") % 3).cast("int") == 0, 366)
        .when((F.col("linenumber") % 3).cast("int") == 1, 31)
        .otherwise(1)
        .alias("prec"),
    )

    def state_cols(s):
        ts = F.max(F.when(F.col("state") == s, F.col("ts"))).alias(f"{s}_ts")
        cur = (
            F.max(F.when((F.col("state") == s) & F.col("cur"), 1).otherwise(0)) == 1
        ).alias(f"{s}_current")
        prec = (
            F.max(F.when(F.col("state") == s, F.col("prec")))
            .cast("int")
            .alias(f"{s}_precision")
        )
        return ts, cur, prec

    i_ts, i_cur, i_prec = state_cols("issued")
    e_ts, e_cur, _ = state_cols("eissued")
    p_ts, _, _ = state_cols("inpress")
    fan = st.groupBy("pub_id").agg(i_ts, i_cur, i_prec, e_ts, e_cur, p_ts)

    # J7: author-association veto over the membership joins
    persondim = sup.filter(F.col("s_acctbal") > 0).select(
        F.col("s_suppkey").alias("person_id"),
        F.col("s_nationkey").alias("person_org"),
        F.concat(F.lit("E"), F.col("s_suppkey").cast("string")).alias("emplid"),
    )
    auth = base.select(
        "pub_id",
        "person_id",
        F.col("linenumber").alias("ordinal"),
        F.lower(F.col("returnflag")).alias("role"),
    )
    aj = (
        auth.join(F.broadcast(persondim), "person_id", "left")
        .join(
            F.broadcast(orgdim), F.col("person_org") == F.col("org_id"), "left"
        )
        .withColumn(
            "_miss",
            F.when(F.col("emplid").isNull() | F.col("org_id").isNull(), 1).otherwise(0),
        )
    )
    pw = Window.partitionBy("pub_id")
    valid = aj.withColumn("_veto", F.max("_miss").over(pw) == 1).filter(
        ~F.col("_veto")
    )
    # Touched-parent set for M5 via a plain aggregate (no window sort, no
    # fan/pubmeta recompute) — same key set as distinct(newfull.pub_id)
    ok = (
        aj.groupBy("pub_id")
        .agg(F.max("_miss").alias("_m"))
        .filter(F.col("_m") == 0)
        .select("pub_id")
    )
    touched = ok.join(gated.select("pub_id"), "pub_id", "left_semi")
    # J8: first ordinal per (pub, person) — reuses the pub_id exchange.
    # role joins the ORDER BY because the synthetic lineitem holds
    # duplicate (order, supp, linenumber) rows differing only in
    # returnflag — without it the tie-break is not total (surfaced by
    # the sf0.1 cross-engine check; sf0.01 happened to have no ties).
    dw = Window.partitionBy("pub_id", "person_id").orderBy("ordinal", "role")
    newch = (
        valid.withColumn("_rn", F.row_number().over(dw))
        .filter(F.col("_rn") == 1)
        .select("pub_id", "person_id", "ordinal", "role", "emplid")
    )
    pubmeta = gated.join(fan, "pub_id", "left")
    meta_cols = [
        "pure_type", "pure_subtype", "owner_org",
        "issued_ts", "issued_current", "issued_precision",
        "eissued_ts", "eissued_current", "inpress_ts",
    ]
    newfull = newch.join(pubmeta, "pub_id").select(
        "pub_id",
        "person_id",
        F.col("ordinal").cast("int").alias("person_ordinal"),
        F.col("role").alias("person_role"),
        "emplid",
        F.lit("new").alias("src"),
        *meta_cols,
    )
    prior = base.filter(F.col("linenumber") <= 2).select(
        "pub_id",
        "person_id",
        F.col("linenumber").cast("int").alias("person_ordinal"),
        F.lit("prior").alias("person_role"),
        F.lit(None).cast("string").alias("emplid"),
        F.lit("prior").alias("src"),
        F.lit(None).cast("string").alias("pure_type"),
        F.lit(None).cast("string").alias("pure_subtype"),
        F.lit(None).cast("bigint").alias("owner_org"),
        F.lit(None).cast("timestamp").alias("issued_ts"),
        F.lit(None).cast("boolean").alias("issued_current"),
        F.lit(None).cast("int").alias("issued_precision"),
        F.lit(None).cast("timestamp").alias("eissued_ts"),
        F.lit(None).cast("boolean").alias("eissued_current"),
        F.lit(None).cast("timestamp").alias("inpress_ts"),
    )
    # M5: delete-and-recreate children of touched (surviving) pubs
    return overwrite_children(prior, newfull, ["pub_id"], touched=touched)


@query(
    "session_window_agg",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                          >= 1800 * 1000000
                  THEN 1 ELSE 0 END AS chg
      FROM events
    ), grp AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM grp GROUP BY user_id, session_id
    """,
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` aggregation — Spark's built-in gap-based
    session op (the one a streaming query would use), value-matched
    against the lag/cumsum formulation in the oracle.  Boundary note:
    session_window extends a session only while the gap is STRICTLY less
    than 30min, hence ``>=`` in the oracle's new-session flag."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", F.col("win.start").alias("session_start"), "n_events"
        )
    )


@query(
    "tumbling_window_counts",
    """
    SELECT time_bucket(INTERVAL 1 DAY, ts) AS win_start, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows — the batch twin of the streaming
    aggregation (streaming/incremental.py:windowed_counts_frame); with
    ``withWatermark`` + ``writeStream`` the same expression runs
    unbounded."""
    from experts_etl_spark.streaming.incremental import windowed_counts_frame

    ev = read_table(spark, sf_dir, "events")
    # reuse the exact streaming aggregation body (watermark is a no-op
    # on a batch frame, so build the same shape directly here)
    return (
        ev.groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events", "total_value")
    )
