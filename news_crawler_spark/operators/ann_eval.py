"""ANN evaluation fixtures + measurements (round-3 VERDICT task 8:
"recall + candidate-pruning factor ... measured, not just derived").

The synthetic embeddings are near-uniform on the sphere (top-5
neighbors share a label 9% of the time), which is the degenerate case
for ANY ANN index: there are simply no pairs above cos 0.6 at sf0.1.
So the high-threshold regimes are evidenced on a *planted* truth set —
``plant_twins`` appends a jittered near-duplicate for every Nth vector
(cos(orig, twin) ≈ 0.944 at eps=0.33), and the bench measures how many
planted pairs each index family recovers and how many candidate
comparisons it spent doing so.

Determinism at scale: the jitter is seeded PER ROW from a hash of the
vector id (not from one global RNG), so the planted set is identical
under any partitioning/ordering — the generation runs as mapInPandas
(Arrow batches), the same shape it would run at 100 TB.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame


def plant_twins(
    vectors: DataFrame,
    every: int = 10,
    eps: float = 0.33,
    seed: int = 1234,
    id_offset: int = 100_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Append a near-duplicate twin (id = id_offset + vec_id) for every
    vector with ``vec_id % every == 0``: twin = v + eps·|v|·ĝ with ĝ a
    unit Gaussian direction seeded from md5(seed, vec_id). eps=0.33 ⇒
    cos(v, twin) ≈ 1/√(1+eps²) ≈ 0.95. Returns orig ∪ twins with the
    original schema projected to (id, vec)."""
    base = vectors.select(id_col, vec_col)
    schema = base.schema

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = pdf[pdf[id_col] % every == 0]
            if not len(keep):
                continue
            out_ids, out_vecs = [], []
            for vid, vec in zip(keep[id_col], keep[vec_col]):
                v = np.asarray(vec, dtype=np.float64)
                h = hashlib.md5(f"{seed}:{int(vid)}".encode()).digest()
                rng = np.random.RandomState(int.from_bytes(h[:4], "big"))
                g = rng.randn(v.shape[0])
                g /= np.linalg.norm(g) or 1.0
                tw = v + eps * np.linalg.norm(v) * g
                out_ids.append(id_offset + int(vid))
                out_vecs.append(tw.astype(np.float32).tolist())
            yield pd.DataFrame({id_col: out_ids, vec_col: out_vecs})

    return base.unionByName(base.mapInPandas(gen, schema))
