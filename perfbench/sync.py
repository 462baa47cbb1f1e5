"""``sync_cycle``: back-to-back OIT → EDW → Pure synchronization cycles.

One cycle composes the public plan functions with
``plans.runner.run_modules`` over the cycle's snapshot:

- person snapshot diff against the previous cycle (``operators.snapshots``);
- CDC consume cycle at the cycle's cutoff (``plans.cdc_pipeline``);
- Pure person XML render (``person_cycle_xml``: the employee jobs
  transform ``plans.jobs_pipeline.employee_jobs``, person assembly
  ``person_assembly_cycle``, and the ``plans.xml_sync`` renderer);

then writes every output: the diff and entity state through
``sources.sinks.overwrite_partitions`` (one ``cycle=N`` partition per
cycle) and the persons through ``sources.serialization.write_single_xml``.
The jobs table is not written on its own: the render path computes it,
and a separate jobs module would run the transform twice per cycle.

Checks, after the timed loop: the diff against the generator's delta;
entity state (``cdc_end_to_end``, cutoff substituted) and the XML file
(byte-equal to the rows of ``person_cycle_xml``, whose SQL contains the
jobs transform) against the DuckDB twins from
``__spark_entry__.oracle_sql()`` on the same input files.
"""

from __future__ import annotations

import os
import traceback

from gen import SyncSource

HEADER = (
    '<persons xmlns="v1.unified-person-sync.pure.atira.dk"'
    ' xmlns:v3="v3.commons.pure.atira.dk">'
)
FOOTER = "</persons>"
CUSTOMER_COLS = ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]


class _Rows:
    """A written table in the shape ``compare_spark_duckdb`` reads."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def _count_rows(out, args, kwargs):
    return {"sources.read_rows": out.count()}


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class SyncCycle:
    item = "persons"
    aliases = {"first_op_s": "cold_cycle_s", "op_p50_s": "cycle_p50_s",
               "quality": "oracle_match_ratio"}

    def __init__(self, work: str, seed: int):
        self.inputs = os.path.join(work, "in")
        self.sinks = os.path.join(work, "sinks")
        self.source = SyncSource(seed)
        self.deltas: list[dict] = []
        self.spark = None

    def _dir(self, cycle: int) -> str:
        return os.path.join(self.inputs, f"cycle_{cycle:04d}")

    def _xml(self, cycle: int) -> str:
        return os.path.join(self.sinks, f"persons_{cycle:04d}.xml")

    def generate(self, op: int) -> None:
        """Inputs of operation ``op`` (cycle op+1 and, first, the base)."""
        while len(self.deltas) < op + 2:
            self.deltas.append(self.source.write_cycle(self._dir(len(self.deltas))))

    def start(self, spark) -> None:
        self.spark = spark

    def run(self, op: int) -> int:
        """Sync cycle ``op + 1``; returns the persons written."""
        from pyspark.sql import functions as F

        from experts_etl_spark import sources
        from experts_etl_spark.operators import snapshots
        from experts_etl_spark.plans import cdc_pipeline, runner
        from experts_etl_spark.plans import reference_queries as rq
        from experts_etl_spark.sources import serialization, sinks

        spark, cycle = self.spark, op + 1
        cur, cutoff = self._dir(cycle), self.deltas[cycle]["cutoff"]

        def diff(s, ds):
            changed = snapshots.snapshot_diff_rows(
                ds["customer"], ds["customer_prev"], ["c_custkey"],
                [F.col("c_custkey")], CUSTOMER_COLS,
            ).select("c_custkey", F.lit("upsert").alias("change"))
            gone = snapshots.snapshot_diff_keys(
                ds["customer_prev"], ds["customer"], ["c_custkey"]
            ).select("c_custkey", F.lit("delete").alias("change"))
            return {"person_changes": changed.unionByName(gone)}

        modules = [
            runner.Module("snapshot_diff", ["customer", "customer_prev"],
                          ["person_changes"], diff),
            runner.Module("cdc", [], ["entity_state"],
                          lambda s, ds: {"entity_state": cdc_pipeline.consume_cycle(s, cur, cutoff)}),
            runner.Module("pure_xml", [], ["person_xml"],
                          lambda s, ds: {"person_xml": rq.person_cycle_xml(s, cur)}),
        ]
        out = runner.run_modules(spark, modules, {
            "customer": sources.read_table(spark, cur, "customer"),
            "customer_prev": sources.read_table(spark, self._dir(cycle - 1), "customer"),
        })
        for name in ("person_changes", "entity_state"):
            sinks.overwrite_partitions(
                out[name].withColumn("cycle", F.lit(cycle)),
                os.path.join(self.sinks, name), ["cycle"],
            )
        n = serialization.write_single_xml(
            out["person_xml"], self._xml(cycle), "xml", ["person_id", "xml"],
            HEADER, FOOTER,
        )
        return n

    def finish(self) -> None:
        """Nothing to do after the loop: every cycle wrote its outputs."""

    # -- checks (untimed) -------------------------------------------
    def verify(self, ops: list[int]) -> tuple[list[int], float]:
        """Check the given operations; returns (failed ops, share of
        checked outputs that matched)."""
        from __spark_entry__ import oracle_sql
        from tests.oracle_utils import compare_spark_duckdb

        oracles = oracle_sql()
        failed, checks, passed = [], 0, 0
        for op in ops:
            try:
                results = self._check_cycle(op + 1, oracles, compare_spark_duckdb)
            except Exception:  # noqa: BLE001 - an unreadable output fails its cycle
                traceback.print_exc()
                results = [False]
            checks += len(results)
            passed += sum(results)
            if not all(results):
                failed.append(op)
        return failed, passed / max(checks, 1)

    def _check_cycle(self, cycle: int, oracles: dict, compare) -> list[bool]:
        import duckdb

        with duckdb.connect() as con:
            con.execute("SET TimeZone='UTC'")
            for t in ("customer", "orders", "events"):
                path = os.path.join(self._dir(cycle), f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            cutoff = self.deltas[cycle]["cutoff"]
            return [
                self._check_diff(con, cycle),
                self._check_table(con, compare, "entity_state", cycle,
                                  oracles["cdc_end_to_end"].replace("2024-01-14", cutoff)),
                self._check_xml(con, cycle, oracles["person_cycle_xml"]),
            ]

    def _written(self, con, name: str, cycle: int) -> _Rows:
        path = os.path.join(self.sinks, name, f"cycle={cycle}", "*.parquet")
        res = con.execute(f"SELECT * FROM read_parquet('{path}', hive_partitioning = false)")
        return _Rows([d[0] for d in res.description], res.fetchall())

    def _check_diff(self, con, cycle: int) -> bool:
        got = self._written(con, "person_changes", cycle).collect()
        delta = self.deltas[cycle]
        want = {(p, "upsert") for p in delta["new"] + delta["changed"]}
        want |= {(p, "delete") for p in delta["deleted"]}
        ok = len(got) == len(want) and set(got) == want
        if not ok:
            print(f"check failed: person_changes cycle {cycle}: {sorted(set(got) ^ want)[:5]}")
        return ok

    def _check_table(self, con, compare, name: str, cycle: int, sql: str) -> bool:
        try:
            compare(self._written(con, name, cycle), con, sql)
        except AssertionError as exc:
            print(f"check failed: {name} cycle {cycle}: {str(exc)[:200]}")
            return False
        return True

    def _check_xml(self, con, cycle: int, sql: str) -> bool:
        rows = sorted(con.execute(f"SELECT person_id, xml FROM ({sql})").fetchall())
        want = HEADER + "\n" + "".join(f"{x}\n" for _, x in rows) + FOOTER + "\n"
        with open(self._xml(cycle), encoding="utf-8") as fh:
            ok = fh.read() == want
        if not ok:
            print(f"check failed: person xml cycle {cycle}")
        return ok

    # -- traced run --------------------------------------------------
    def trace_points(self) -> list[tuple]:
        """(module, attribute, span, materialize, counters) to wrap."""

        def jobs_counts(out, args, kwargs):
            jobs, quarantine = out
            return {"plans.jobs_pipeline.rows_out": jobs.count(),
                    "plans.jobs_pipeline.quarantine_rows": quarantine.count()}

        def action_counts(out, args, kwargs):
            upserts, deletes = out
            return {"plans.cdc_pipeline.upserts": upserts.count(),
                    "plans.cdc_pipeline.deletes": deletes.count()}

        def xml_bytes(out, args, kwargs):
            return {"sources.serialization.bytes": os.path.getsize(args[1])}

        def sink_bytes(out, args, kwargs):
            return {"sources.sinks.bytes": _dir_bytes(args[1])}

        plans = "experts_etl_spark.plans"
        return [
            ("experts_etl_spark.sources", "read_table", "sources.read_table", True, _count_rows),
            (f"{plans}.cdc_pipeline", "read_table", "sources.read_table", True, _count_rows),
            (f"{plans}.reference_queries", "read_table", "sources.read_table", True, _count_rows),
            ("experts_etl_spark.operators.snapshots", "snapshot_diff_rows", "operators.snapshots", True, None),
            ("experts_etl_spark.operators.snapshots", "snapshot_diff_keys", "operators.snapshots", True, None),
            (f"{plans}.jobs_pipeline", "employee_jobs", "plans.jobs_pipeline", True, jobs_counts),
            (f"{plans}.reference_queries", "person_assembly_cycle", "plans.person_assembly", True, None),
            (f"{plans}.cdc_pipeline", "consume_cycle", "plans.cdc_pipeline", True, None),
            (f"{plans}.cdc_pipeline", "split_actions", None, True, action_counts),
            (f"{plans}.reference_queries", "person_cycle_xml", "plans.xml_sync", True, None),
            ("experts_etl_spark.sources.serialization", "write_single_xml",
             "sources.serialization.write", False, xml_bytes),
            ("experts_etl_spark.sources.sinks", "overwrite_partitions",
             "sources.sinks.write", False, sink_bytes),
        ]
