"""``ann_search``: IVF-PQ index build, then a closed loop of probe batches.

The first operation builds the index over the clustered corpus with
``llm.pq.ivfpq_index`` and materializes it the way a deployment does:
cells and codebooks as parquet, the code rows as ``batch_id=0`` of a
store (the layout the curation tick appends PQ codes to), then loads
the standing index back — the code rows through
``streaming.stores.read_store`` — and caches it, as a search service
does at start.  Every later operation answers one landed batch of
probes with ``llm.pq.ivfpq_search`` (top 10, self excluded) against
that index, collecting the result to the client.

After the timed loop, one more search answers a fixed set of recall
probes (untimed).  Checks: every probe has 10 distinct neighbours and
never itself; ``recall_at_10`` of the recall probes against exact cosine
top-10 in numpy.  Corpus and recall probes are the same for every seed
(see ``gen.ANN_CORPUS_SEED``), so recall repeats exactly.
"""

from __future__ import annotations

import os

import numpy as np

from gen import AnnSource

K = 10
BATCH = 32
RECALL_PROBES = 96
RECALL = "recall"


class AnnSearch:
    item = "probes"
    aliases = {"first_op_s": "index_build_s", "op_p50_s": "search_p50_s",
               "quality": "recall_at_10"}

    def __init__(self, work: str, seed: int):
        self.dir = work
        self.source = AnnSource(seed)
        self.probe_ids: dict[int, np.ndarray] = {}
        self.results: dict[int, list] = {}
        self.spark = None
        self.index: tuple = ()
        self.n_rows = self.nlist = None

    def _path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def generate(self, op: int) -> None:
        """Op 0 builds the index over the corpus; op b ≥ 1 searches
        probe batch b."""
        if op == 0:
            os.makedirs(self.dir, exist_ok=True)
            self.source.write_corpus(self._path("emb.parquet"))
            self.probe_ids[RECALL] = self.source.write_recall_probes(
                self._path(f"probes_{RECALL}.parquet"), RECALL_PROBES
            )
        else:
            self.probe_ids[op] = self.source.write_probes(
                self._path(f"probes_{op:04d}.parquet"), BATCH
            )

    def start(self, spark) -> None:
        self.spark = spark

    def run(self, op: int) -> int:
        return self._build() if op == 0 else self._search(op)

    def _build(self) -> int:
        from experts_etl_spark.llm import pq
        from experts_etl_spark.streaming import stores

        read = self.spark.read.parquet
        stats: dict = {}
        cells, books, index = pq.ivfpq_index(
            read(self._path("emb.parquet")), "vec_id", "embedding", stats=stats
        )
        cells, books = cells.cache(), books.cache()
        cells.write.parquet(self._path("cells"))
        books.write.parquet(self._path("books"))
        index.write.parquet(self._path("index/batch_id=0"))
        cells.unpersist()
        books.unpersist()
        self.n_rows, self.nlist = stats["n_rows"], stats["n_cells"]
        self.index = tuple(
            df.cache()
            for df in (
                read(self._path("cells")),
                read(self._path("books")),
                stores.read_store(self.spark, self._path("index"), drop_batch_id=True),
                read(self._path("emb.parquet")),
            )
        )
        for df in self.index:
            df.count()
        return self.n_rows

    def finish(self) -> None:
        """The recall search, after the timed loop."""
        self._search(RECALL)

    def _search(self, op) -> int:
        from experts_etl_spark.llm import pq

        name = op if op == RECALL else f"{op:04d}"
        rows = pq.ivfpq_search(
            *self.index,
            self.spark.read.parquet(self._path(f"probes_{name}.parquet")),
            "vec_id", "embedding", K,
            n_rows=self.n_rows, nlist=self.nlist,
        ).collect()
        self.results[op] = rows
        return len(self.probe_ids[op])

    # -- checks (untimed) -------------------------------------------
    def verify(self, ops: list[int]) -> tuple[list[int], float]:
        """Returns (failed ops, recall@10 of the recall probes).  A bad
        recall search fails op 0, the index build it searched."""
        vecs = self.source.vectors.astype(np.float64)
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        failed, recall = [], 0.0
        for op in [o for o in ops if o != 0] + [RECALL]:
            ids = self.probe_ids[op]
            got: dict[int, set] = {int(p): set() for p in ids}
            ok = True
            for r in self.results.get(op, []):
                cands = got.get(int(r["probe_id"]))
                if cands is None or r["cand_id"] == r["probe_id"] or r["cand_id"] in cands:
                    ok = False
                    continue
                cands.add(int(r["cand_id"]))
            ok &= all(len(c) == K for c in got.values())
            if op == RECALL:
                cos = unit[ids] @ unit.T
                cos[np.arange(len(ids)), ids] = -np.inf  # self excluded
                hits = sum(
                    len(set(np.lexsort((np.arange(len(row)), -row))[:K].tolist()) & got[int(p)])
                    for row, p in zip(cos, ids)
                )
                recall = hits / (K * len(ids))
                if not ok and 0 in ops:
                    failed.append(0)
            elif not ok:
                failed.append(op)
        return failed, recall

    # -- traced run --------------------------------------------------
    def trace_points(self) -> list[tuple]:
        def knobs(out, args, kwargs):
            from experts_etl_spark.llm import pq

            return {"llm.pq.nlist": kwargs["nlist"],
                    "llm.pq.nprobe": pq.auto_nprobe(kwargs["nlist"]),
                    "llm.pq.refine_mult": pq.auto_refine_mult(kwargs["n_rows"], args[7])}

        llm = "experts_etl_spark.llm.pq"
        return [
            (llm, "ivfpq_index", "llm.pq.index", True, None),
            (llm, "ivf_residuals", "llm.pq.ivf_residuals", True, None),
            (llm, "ivfpq_search", "llm.pq.search", True, knobs),
            ("experts_etl_spark.streaming.stores", "read_store", "streaming.stores.read", True, None),
        ]
