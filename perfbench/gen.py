"""Seeded input generator for the benchmark workloads.

Every input the program reads is a file written here from ``--seed``;
the same seed gives byte-identical files.  Two families:

- ``sync``: OIT/EDW-shaped snapshots in the ``customer`` / ``orders`` /
  ``events`` schemas of the repository's test data (persons, job
  entries, change feed).  Cycle 0 is the base snapshot; every later
  cycle extends the previous one with a seeded delta of new, changed
  and deleted persons and jobs, plus the change events of the four hours
  past the cycle's cutoff (its incoming window; everything earlier is
  history).  ``delta.json`` beside each cycle records the
  person ids the snapshot diff must report.
- ``ann``: clustered embeddings in the shape of
  ``tools/gen_scaledata.py``'s ``clustered_scaled`` mode (√n clusters,
  64 dims; the same corpus for every seed, see ``ANN_CORPUS_SEED``), a
  fixed set of recall probes, and one parquet file of seeded probe
  vectors per search batch.

Files for later cycles or batches are written as the run reaches them,
outside every timed region.

Run ``python3 perfbench/gen.py --seed 1 --out /tmp/x --family sync``
to inspect the files a run would use.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
EVENT_TYPES = ["click", "signup", "view", "purchase", "error"]
EVENT_P = [0.35, 0.15, 0.25, 0.2, 0.05]

# Traffic shape.  No source gives the reference's per-cycle volumes, so
# every size below is an assumption, chosen so that a run fits its time
# budget: 120 base persons, and per 4-hour cycle ~5 % new, ~7 % changed
# and ~2.5 % deleted persons plus 60 change events.  A cycle at this
# size is nearly all fixed per-job cost, so larger real shares would
# add rows (diff, CDC, XML and sink bytes) to the same jobs and raise
# the cycle time somewhat; smaller shares would barely lower it.
BASE_PERSONS = 120
NEW_PER_CYCLE = 6
CHANGED_PER_CYCLE = 8
DELETED_PER_CYCLE = 3
EVENTS_PER_CYCLE = 60
CYCLE_STEP = dt.timedelta(hours=4)  # the reference's sync cadence
EPOCH = dt.datetime(2024, 1, 1)
FIRST_CUTOFF = dt.datetime(2024, 1, 14)

# Also assumptions, sized for the run's time: the corpus size and the
# probe batch size (``ann.BATCH``).  Search cost here is mostly fixed
# per-batch cost, so bigger batches would raise the batch time less
# than in proportion; a bigger corpus raises the index build most.
ANN_ROWS = 2000
ANN_DIM = 64
ANN_NOISE = 0.03
# The corpus and the recall probes come from this fixed stream, not
# from the seed: recall is a property of the corpus (it moved by up to
# 0.07 between seeded corpora), and a fixed corpus lets it gate a change
# exactly.  The seed draws the probe stream of the timed loop.
ANN_CORPUS_SEED = 0

_CUSTOMER = pa.schema(
    [
        ("c_custkey", pa.int64()),
        ("c_name", pa.string()),
        ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ]
)
_ORDERS = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)
_EVENTS = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def cutoff(cycle: int) -> dt.datetime:
    """The CDC cutoff of ``cycle``: events at or before it are history."""
    return FIRST_CUTOFF + cycle * CYCLE_STEP


class SyncSource:
    """The OIT-side state the sync cycles read, advanced one cycle at a
    time.  ``write_cycle`` emits snapshot ``cycle`` and must be called
    for 0, 1, 2, ... in order; the sequence depends on the seed only."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 1])
        self.persons: dict[int, tuple] = {}
        self.orders: dict[int, tuple] = {}
        self.events: list[tuple] = []
        self.next_person = 0
        self.next_order = 0
        self.cycle = 0

    def _money(self, lo: float, hi: float) -> float:
        return round(float(self.rng.uniform(lo, hi)), 2)

    def _person_row(self, pid: int) -> tuple:
        return (
            pid,
            f"Customer#{pid:09d}",
            int(self.rng.integers(0, 25)),
            self._money(-999.0, 9999.0),
            SEGMENTS[int(self.rng.integers(0, len(SEGMENTS)))],
        )

    def _add_order(self, pid: int) -> None:
        day = int(self.rng.integers(0, 2400))
        self.orders[self.next_order] = (
            self.next_order,
            pid,
            STATUSES[int(self.rng.integers(0, 3))],
            self._money(900.0, 400000.0),
            dt.datetime(1995, 1, 1) + dt.timedelta(days=day),
            PRIORITIES[int(self.rng.integers(0, 5))],
        )
        self.next_order += 1

    def _add_person(self) -> int:
        pid = self.next_person
        self.next_person += 1
        self.persons[pid] = self._person_row(pid)
        for _ in range(1 + int(self.rng.poisson(5))):
            self._add_order(pid)
        return pid

    def _add_events(self, lo: dt.datetime, hi: dt.datetime, n: int, forced_deletes=()):
        live = np.array(sorted(self.persons), dtype=np.int64)
        span = (hi - lo).total_seconds()
        offs = np.sort(self.rng.uniform(0.0, span - 1e-3, n))
        users = [int(u) for u in self.rng.choice(live, n)]
        kinds = [EVENT_TYPES[int(k)] for k in self.rng.choice(5, n, p=EVENT_P)]
        # a deleted person's last event is the CDC delete ('error')
        for i, pid in enumerate(forced_deletes):
            users[n - 1 - i] = pid
            kinds[n - 1 - i] = "error"
        for off, user, kind in zip(offs, users, kinds):
            ts = lo + dt.timedelta(microseconds=int(off * 1e6) + 1)
            self.events.append(
                (
                    len(self.events),
                    ts,
                    user,
                    kind,
                    self._money(0.0, 500.0),
                    json.dumps({"k": int(self.rng.integers(0, 100))}),
                )
            )

    def _advance(self) -> dict:
        """Apply one cycle's delta; returns the ids the diff must see."""
        live = sorted(self.persons)
        picks = self.rng.choice(
            len(live), CHANGED_PER_CYCLE + DELETED_PER_CYCLE, replace=False
        )
        changed = [live[i] for i in picks[:CHANGED_PER_CYCLE]]
        deleted = [live[i] for i in picks[CHANGED_PER_CYCLE:]]
        for j, pid in enumerate(changed):
            old = self.persons[pid]
            self.persons[pid] = old[:3] + (self._money(-999.0, 9999.0), old[4])
            if j % 2 == 0:
                self._add_order(pid)  # a new job entry
            else:
                mine = [k for k, o in self.orders.items() if o[1] == pid]
                key = mine[int(self.rng.integers(0, len(mine)))]
                o = self.orders[key]
                self.orders[key] = (  # a changed job entry
                    o[0], o[1], STATUSES[int(self.rng.integers(0, 3))], o[3], o[4],
                    PRIORITIES[int(self.rng.integers(0, 5))],
                )
        new = [self._add_person() for _ in range(NEW_PER_CYCLE)]
        # the cycle's incoming window ends with the deletes' CDC events
        self._add_events(
            cutoff(self.cycle), cutoff(self.cycle + 1), EVENTS_PER_CYCLE, deleted
        )
        for pid in deleted:
            del self.persons[pid]
            for key in [k for k, o in self.orders.items() if o[1] == pid]:
                del self.orders[key]
        return {"new": new, "changed": changed, "deleted": deleted}

    def write_cycle(self, out_dir: str) -> dict:
        """Write the next snapshot into ``out_dir``; returns its delta."""
        if self.cycle == 0:
            for _ in range(BASE_PERSONS):
                self._add_person()
            self._add_events(EPOCH, cutoff(0), 12 * BASE_PERSONS)
            self._add_events(cutoff(0), cutoff(1), EVENTS_PER_CYCLE)
            delta = {"new": sorted(self.persons), "changed": [], "deleted": []}
        else:
            delta = self._advance()
        os.makedirs(out_dir, exist_ok=True)
        for name, schema, rows in (
            ("customer", _CUSTOMER, [self.persons[k] for k in sorted(self.persons)]),
            ("orders", _ORDERS, [self.orders[k] for k in sorted(self.orders)]),
            ("events", _EVENTS, self.events),
        ):
            cols = list(zip(*rows))
            table = pa.table(
                [pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema
            )
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        delta["cutoff"] = cutoff(self.cycle).isoformat(sep=" ")
        with open(os.path.join(out_dir, "delta.json"), "w") as fh:
            json.dump(delta, fh)
        self.cycle += 1
        return delta


class AnnSource:
    """Clustered float32 corpus — √n centers on [-0.5, 0.5]^dim plus
    Gaussian noise (``gen_scaledata.py --mode clustered_scaled``) — the
    same for every seed, a fixed set of recall probes, and a seeded
    stream of probe batches drawn from the corpus (distinct ids per
    batch).  Batches must be written in order 1, 2, 3, ..."""

    def __init__(self, seed: int, n: int = ANN_ROWS, dim: int = ANN_DIM):
        rng = np.random.default_rng([ANN_CORPUS_SEED, 2])
        k = max(16, int(np.sqrt(n)))
        centers = rng.uniform(-0.5, 0.5, size=(k, dim))
        labels = rng.integers(0, k, size=n)
        self.vectors = (
            centers[labels] + rng.normal(0.0, ANN_NOISE, size=(n, dim))
        ).astype(np.float32)
        self.fixed = np.random.default_rng([ANN_CORPUS_SEED, 4])
        self.rng = np.random.default_rng([seed, 3])

    def write_corpus(self, path: str) -> None:
        _write_vectors(path, np.arange(len(self.vectors)), self.vectors)

    def write_recall_probes(self, path: str, size: int) -> np.ndarray:
        ids = np.sort(self.fixed.choice(len(self.vectors), size, replace=False))
        _write_vectors(path, ids, self.vectors[ids])
        return ids

    def write_probes(self, path: str, size: int) -> np.ndarray:
        ids = np.sort(self.rng.choice(len(self.vectors), size, replace=False))
        _write_vectors(path, ids, self.vectors[ids])
        return ids


def _write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            }
        ),
        path,
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--family", choices=["sync", "ann"], required=True)
    ap.add_argument("--count", type=int, default=4, help="cycles or probe batches")
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    if args.family == "sync":
        src = SyncSource(args.seed)
        for c in range(args.count):
            src.write_cycle(os.path.join(args.out, f"cycle_{c:04d}"))
    else:
        ann = AnnSource(args.seed)
        ann.write_corpus(os.path.join(args.out, "emb.parquet"))
        ann.write_recall_probes(os.path.join(args.out, "recall.parquet"), 96)
        for b in range(1, args.count + 1):
            ann.write_probes(os.path.join(args.out, f"probes_{b:04d}.parquet"), 32)


if __name__ == "__main__":
    main()
