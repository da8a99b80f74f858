"""Seeded inputs.  The base corpus and every daily batch are seeded slices
of the sf0.1 ``documents`` (5,000 rows) and ``embeddings`` (2,000 rows)
test tables, copied unchanged into ``perfbench/inputs/`` so a run reads
nothing outside its checkout.  The same seed gives the same slices; the
program under test receives only what these produce.
"""

from __future__ import annotations

import os
from typing import List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INPUTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "inputs")
PQ_M = 8  # PQ subspaces; divides the 64-wide vectors
PQ_K = 16


class Corpus:
    """Seeded permutations of both tables: the first rows are the base
    corpus, each following slice one day's batch, tagged with a ``day``
    partition value."""

    def __init__(self, seed: int, base_docs: int, base_vecs: int,
                 day_docs: int, day_vecs: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.docs = pq.read_table(os.path.join(INPUTS, "documents.parquet"))
        self.emb = pq.read_table(os.path.join(INPUTS, "embeddings.parquet"))
        self.doc_order = self.rng.permutation(self.docs.num_rows)
        self.vec_order = self.rng.permutation(self.emb.num_rows)
        self.sizes = dict(base_docs=base_docs, base_vecs=base_vecs,
                          day_docs=day_docs, day_vecs=day_vecs)

    def _slice(self, day: int) -> Tuple[pa.Table, pa.Table]:
        s = self.sizes
        tables = []
        for table, order, base, per_day in (
            (self.docs, self.doc_order, s["base_docs"], s["day_docs"]),
            (self.emb, self.vec_order, s["base_vecs"], s["day_vecs"]),
        ):
            lo, hi = (0, base) if day == 0 else (base + (day - 1) * per_day,
                                                 base + day * per_day)
            if hi > len(order):
                raise ValueError(f"day {day} needs rows {lo}..{hi} of a "
                                 f"{len(order)}-row table")
            rows = table.take(pa.array(order[lo:hi]))
            tables.append(rows.append_column(
                "day", pa.array([f"d{day:04d}"] * rows.num_rows)))
        return tables[0], tables[1]

    def base(self) -> Tuple[pa.Table, pa.Table]:
        return self._slice(0)

    def day(self, day: int) -> Tuple[pa.Table, pa.Table]:
        return self._slice(day)

    def ann_artifacts(self, base_emb: pa.Table) -> Tuple[list, list]:
        """Injected IVF centroids (the mean base vector of each ``label``)
        and PQ codebooks (seeded samples of base sub-vectors), so the
        index build encodes and publishes without a k-means fit."""
        vecs = np.asarray(base_emb.column("embedding").to_pylist(), dtype=np.float64)
        labels = np.asarray(base_emb.column("label").to_pylist())
        centroids = [(int(c), [float(x) for x in vecs[labels == c].mean(axis=0)])
                     for c in np.unique(labels)]
        sub = vecs.shape[1] // PQ_M
        pick = self.rng.choice(len(vecs), size=PQ_K, replace=False)
        codebooks = [
            [[float(x) for x in vecs[r, j * sub:(j + 1) * sub]] for r in pick]
            for j in range(PQ_M)
        ]
        return centroids, codebooks


def ids(table: pa.Table, col: str) -> List[int]:
    return table.column(col).to_pylist()

