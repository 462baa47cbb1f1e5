"""Job-history transform pipelines (SURVEY.md §3.2 inner stages).

Set-at-a-time reimplementation of the reference's per-person loops:

- employee: oit_to_edw/employee_job.py:74-203 (transform_entry_groups)
- poi:      oit_to_edw/poi_job.py:75-164 (same minus last_date_worked
  and the profiled-override chain)
- affiliate: oit_to_edw/affiliate_job.py:53-105 (stint groups)

Physical shape: ONE shuffle, on the entity key ``emplid``, carries the
run-grouping, every per-group window aggregate, the reference-entry
pick, and the next-group lead.  A hash partitioning on ``emplid``
already clusters every (emplid, position_nbr, …) window key, and it is
also the key of the person-level stages downstream (primary election,
staff-type and visibility rollups, the per-person XML grouping), so
jobs → person assembly pays one exchange, not a second one keyed on
emplid alone.  The dept→org and jobcode-defaults dims are broadcast
left/inner joins.  Unknown-dept rows split into a quarantine frame
instead of being dropped silently (J1 null branch).

tests/test_reference_fixture_parity.py proves these reproduce the
reference's own golden ``jobs`` constants for every fixture person.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from experts_etl_spark.operators.windows import run_groups, split_stints

# empl_status values considered active (employee_job.py:42)
ACTIVE_STATES = ["A", "L", "P", "W"]

GROUP_CHANGE_COLS = ["position_nbr", "job_entry_dt", "jobcode", "deptid"]


def _emp_poi_jobs(
    entries: DataFrame,
    dept_org: DataFrame,
    jobcode_defaults: DataFrame,
    use_last_date_worked: bool,
    order_by: Sequence[str],
) -> tuple[DataFrame, DataFrame]:
    """Shared employee/poi core.  Returns (jobs, dept_quarantine)."""
    order = [F.col(c) for c in order_by]
    # the one exchange: see the module docstring
    entries = entries.repartition("emplid")
    g = run_groups(
        entries,
        keys=["emplid", "position_nbr"],
        order_by=order,
        change_cols=GROUP_CHANGE_COLS,
    )
    gw = Window.partitionBy("emplid", "position_nbr", "group_id")
    ow = gw.orderBy(*order)
    active = F.col("empl_status").isin(ACTIVE_STATES)
    g = g.withColumn("_rn", F.row_number().over(ow))
    g = g.withColumn(
        "_first_c",
        F.min(F.when(F.col("status_flg") == "C", F.col("_rn"))).over(gw),
    ).withColumn("_n", F.max("_rn").over(gw))
    # job_is_active: the FIRST C row's empl_status is active
    # (employee_job.py:97-101)
    g = g.withColumn(
        "_is_active",
        F.max(
            F.when((F.col("_rn") == F.col("_first_c")) & active, 1).otherwise(0)
        ).over(gw)
        == 1,
    )
    if use_last_date_worked:
        # last_date_worked only counts when paired with an INACTIVE
        # status — a W (short work break) date must not end the job
        # (employee_job.py:89-95)
        g = g.withColumn(
            "_max_ldw",
            F.max(
                F.when(
                    F.col("last_date_worked").isNotNull() & ~active,
                    F.col("last_date_worked"),
                )
            ).over(gw),
        )
    else:
        g = g.withColumn("_max_ldw", F.lit(None).cast("timestamp"))

    # reference entry: first C row if any, else last (employee_job.py:97-106)
    ref = g.filter(F.col("_rn") == F.coalesce(F.col("_first_c"), F.col("_n")))

    # W4: next group in the SAME position caps the end date — only in the
    # no-C branch, and (employee only) only when no last_date_worked
    # exists in the group (employee_job.py:108-116)
    pw = Window.partitionBy("emplid", "position_nbr").orderBy("group_id")
    ref = ref.withColumn("_next_start", F.lead("job_entry_dt").over(pw))
    no_c = F.col("_first_c").isNull()
    next_cap = no_c & F.col("_next_start").isNotNull()
    if use_last_date_worked:
        next_cap = next_cap & F.col("_max_ldw").isNull()
    end_from_next = F.when(next_cap, F.col("_next_start"))
    # W6: inactive job with no end yet → max inactive last_date_worked,
    # else the reference entry's effdt (employee_job.py:143-147;
    # poi_job.py:136-137 has no last_date_worked)
    end_fallback = F.when(
        ~F.col("_is_active") & end_from_next.isNull(),
        F.coalesce(F.col("_max_ldw"), F.col("effdt"))
        if use_last_date_worked
        else F.col("effdt"),
    )
    ref = ref.withColumn("end_date", F.coalesce(end_from_next, end_fallback))

    # J1: dept → org broadcast lookup; miss → quarantine branch
    joined = ref.join(F.broadcast(dept_org), "deptid", "left")
    quarantine = joined.filter(F.col("org_id").isNull()).select(
        "emplid", "jobcode", "jobcode_descr", "deptid", "um_campus"
    )
    jobs = joined.filter(F.col("org_id").isNotNull())

    # J2: jobcode defaults (reference .one(): inner join)
    jobs = jobs.join(F.broadcast(jobcode_defaults), "jobcode")

    open_job = F.col("end_date").isNull()
    passthrough = (
        [F.col("default_profiled_overrideable")]
        if "default_profiled_overrideable" in jobcode_defaults.columns
        else []
    )
    return (
        jobs.select(
            *passthrough,
            "emplid",
            F.col("jobcode").alias("affiliation_id"),
            "deptid",
            "um_campus",
            "org_id",
            "empl_rcdno",
            F.col("jobcode_descr").alias("job_title"),
            F.col("pure_job_description").alias("job_description"),
            F.col("default_employed_as").alias("employment_type"),
            F.when(open_job, F.col("default_staff_type"))
            .otherwise(F.lit("nonacademic"))
            .alias("staff_type"),
            F.col("job_entry_dt").alias("start_date"),
            "end_date",
            F.when(
                open_job & F.col("um_campus").isin("TXXX", "DXXX"),
                F.col("default_visibility"),
            )
            .otherwise(F.lit("Restricted"))
            .alias("visibility"),
            F.when(open_job, F.col("default_profiled"))
            .otherwise(F.lit(False))
            .alias("profiled"),
        ),
        quarantine,
    )


def employee_jobs(
    entries: DataFrame,
    dept_org: DataFrame,
    jobcode_defaults: DataFrame,
    order_by: Sequence[str] = ("effdt", "effseq"),
    known_override_pairs: DataFrame | None = None,
    profiled_overrides: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """transform_entry_groups for employee jobs
    (oit_to_edw/employee_job.py:74-203): last_date_worked end-dating
    enabled.  ``dept_org`` needs (deptid, org_id); ``jobcode_defaults``
    needs (jobcode, pure_job_description, default_employed_as,
    default_staff_type, default_visibility, default_profiled) and may
    carry ``default_profiled_overrideable`` when the J3 override chain
    is in play.

    J3 override chain (employee_job.py:160-199): when an OPEN job's
    jobcode is overrideable, a (jobcode, deptid) row in
    ``profiled_overrides`` replaces the default ``profiled``;
    ``known_override_pairs`` whitelists pairs that are ALLOWED to have
    no override — an overrideable jobcode at an unknown pair keeps the
    default but records an unknown-jobcode-deptid error (the reference
    quarantines it without dropping the job).  Pass both to enable;
    both are broadcast dims."""
    jobs, quarantine = _emp_poi_jobs(
        entries, dept_org, jobcode_defaults, True, order_by
    )
    if known_override_pairs is None:
        return jobs, quarantine
    known = known_override_pairs.select(
        F.col("jobcode").alias("affiliation_id"), "deptid", F.lit(True).alias("_known")
    )
    ovr = (profiled_overrides or known_override_pairs.limit(0)).select(
        F.col("jobcode").alias("affiliation_id"),
        "deptid",
        F.col("profiled").alias("_ovr_profiled"),
    )
    overrideable = (
        F.col("default_profiled_overrideable")
        if "default_profiled_overrideable" in jobs.columns
        else F.lit(False)
    )
    joined = jobs.join(F.broadcast(known), ["affiliation_id", "deptid"], "left").join(
        F.broadcast(ovr), ["affiliation_id", "deptid"], "left"
    )
    open_job = F.col("end_date").isNull()
    out = joined.withColumn(
        "profiled",
        F.when(
            open_job
            & overrideable
            & F.col("_known").isNotNull()
            & F.col("_ovr_profiled").isNotNull(),
            F.col("_ovr_profiled"),
        ).otherwise(F.col("profiled")),
    )
    unknown_pairs = out.filter(
        open_job & overrideable & F.col("_known").isNull()
    ).select(
        "emplid",
        F.col("affiliation_id").alias("jobcode"),
        "deptid",
        "um_campus",
    )
    return (
        out.drop("_known", "_ovr_profiled", "default_profiled_overrideable"),
        quarantine.unionByName(unknown_pairs, allowMissingColumns=True),
    )


def poi_jobs(
    entries: DataFrame,
    dept_org: DataFrame,
    jobcode_defaults: DataFrame,
    order_by: Sequence[str] = ("effdt", "effseq"),
) -> tuple[DataFrame, DataFrame]:
    """transform_entry_groups for POI jobs (oit_to_edw/poi_job.py:75-164):
    no last_date_worked column in the source view."""
    return _emp_poi_jobs(entries, dept_org, jobcode_defaults, False, order_by)


def affiliate_jobs(
    entries: DataFrame,
    dept_org: DataFrame,
    jobcode_defaults: DataFrame,
    order_by: Sequence[str] = ("effdt",),
) -> tuple[DataFrame, DataFrame]:
    """Affiliate stint transform (oit_to_edw/affiliate_job.py:53-105):
    W3 stints per (deptid, um_affiliate_id, um_affil_relation), job per
    stint from its LAST entry; end_date = last.effdt unless the last
    entry is active-and-current; defaults applied unconditionally.

    The reference runs per person (entries extracted per emplid), so the
    set-at-a-time grouping key must ALSO include emplid — without it,
    different people's entries sharing a (deptid, affiliate_id,
    relation) triple would merge into one stint stream."""
    keys = ["emplid", "deptid", "um_affiliate_id", "um_affil_relation"]
    order = [F.col(c) for c in order_by]
    st = split_stints(
        entries,
        keys=keys,
        order_by=order,
        status_col="status",
        active_statuses=["A"],
        closed_status="C",
        closed_col="status_flg",
    )
    gw = Window.partitionBy(*keys, "stint_id")
    ow = gw.orderBy(*order)
    st = st.withColumn("_rn", F.row_number().over(ow))
    st = st.withColumn("_n", F.max("_rn").over(gw))
    st = st.withColumn(
        "_start",
        F.first("effdt").over(
            ow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    last = st.filter(F.col("_rn") == F.col("_n"))
    # end: the stint ended unless its last entry is an active current row
    # (affiliate_job.py:93-96)
    last = last.withColumn(
        "end_date",
        F.when(
            ~F.col("status").isin(["A"]) | (F.col("status_flg") == "H"),
            F.col("effdt"),
        ),
    )
    joined = last.join(F.broadcast(dept_org), "deptid", "left")
    quarantine = joined.filter(F.col("org_id").isNull()).select(
        "emplid", F.col("um_affil_relation").alias("jobcode"), "deptid", "um_campus"
    )
    jobs = joined.filter(F.col("org_id").isNotNull()).join(
        F.broadcast(jobcode_defaults),
        F.col("um_affil_relation") == F.col("jobcode"),
    )
    return (
        jobs.select(
            "emplid",
            F.col("um_affil_relation").alias("affiliation_id"),
            "deptid",
            "um_campus",
            "org_id",
            F.col("title").alias("job_title"),
            F.col("pure_job_description").alias("job_description"),
            F.col("default_employed_as").alias("employment_type"),
            F.col("default_staff_type").alias("staff_type"),
            F.col("_start").alias("start_date"),
            "end_date",
            F.col("default_visibility").alias("visibility"),
            F.col("default_profiled").alias("profiled"),
        ),
        quarantine,
    )
