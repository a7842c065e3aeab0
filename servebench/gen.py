"""Seeded input generator for the vector-serving benchmark.

Writes, from one process via pyarrow:

- ``store/part-00000.parquet``: the base corpus, planted-cluster float32
  vectors at 384 dimensions (the all-MiniLM embedding shape), unit norm;
- ``queries.parquet``: query vectors drawn from the same cluster mixture
  (not stored vectors);
- ``batches/batch-NNN.parquet``: ingest micro-batches with ids after the
  corpus; a fixed share of every batch comes from a cluster that is
  absent from the corpus.

The same seed gives byte-identical inputs. The engine receives only
these files; the benchmark keeps the arrays for its NumPy oracle.

Run alone::

    python3 servebench/gen.py --seed 1 --out /tmp/servebench-inputs
"""

from __future__ import annotations

import argparse
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 384
BASE_ROWS = 4_096
# Planted clusters with structure inside each one: a unit-norm centre,
# a LATENT_DIM-dimensional random subspace along which points spread, and
# a little isotropic noise. Each cluster is wider than one IVF cell, so
# its points span several cells and a query's true neighbours sit in the
# cells nearest to it: a small probe budget misses some of them and
# recall@10 is informative (~0.93-0.95 probing 3 of 64 cells) rather
# than pinned at 1 as with isotropic clusters.
CLUSTERS = 24
LATENT_DIM = 16
LATENT_SCALE = 0.4
NOISE = 0.02
QUERY_ROWS = 2_000
BATCH_ROWS = 2_000
BATCHES = 4
NOVEL_SHARE = 0.25

# Seeds: DEFAULT_SEED is used while developing; a performance claim must
# also hold on HELD_OUT_SEED, which is not used while a change is written.
DEFAULT_SEED = 1
HELD_OUT_SEED = 7919


@dataclass
class Inputs:
    corpus: np.ndarray  # (BASE_ROWS, DIM) float32
    queries: np.ndarray  # (QUERY_ROWS, DIM) float32
    batches: list[np.ndarray]  # BATCHES x (BATCH_ROWS, DIM) float32
    batch_ids: list[np.ndarray]  # matching int64 ids
    batch_novel: list[np.ndarray]  # True for rows of the cluster unseen at build
    paths: dict[str, str]


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def _draw(rng, centres, bases, labels):
    z = LATENT_SCALE * rng.standard_normal((len(labels), LATENT_DIM))
    pts = (
        centres[labels]
        + np.einsum("ndl,nl->nd", bases[labels], z)
        + NOISE * rng.standard_normal((len(labels), DIM))
    )
    return _unit(pts).astype(np.float32)


def _table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, DIM).cast(pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(ids, type=pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, type=pa.int32()),
        }
    )


def generate(seed: int, out: str) -> Inputs:
    """Write every input file under ``out`` and return the arrays."""
    rng = np.random.default_rng(seed)
    centres = _unit(rng.standard_normal((CLUSTERS + 1, DIM)))
    bases = np.linalg.qr(rng.standard_normal((CLUSTERS + 1, DIM, LATENT_DIM)))[0]
    novel = CLUSTERS  # the last cluster never appears in the corpus
    weights = rng.uniform(0.5, 1.5, CLUSTERS)
    weights /= weights.sum()

    def mixture(n):
        return rng.choice(CLUSTERS, size=n, p=weights).astype(np.int32)

    labels = mixture(BASE_ROWS)
    corpus = _draw(rng, centres, bases, labels)
    queries = _draw(rng, centres, bases, mixture(QUERY_ROWS))

    paths = {
        "store": os.path.join(out, "store"),
        "queries": os.path.join(out, "queries.parquet"),
        "batches": os.path.join(out, "batches"),
    }
    os.makedirs(paths["store"], exist_ok=True)
    os.makedirs(paths["batches"], exist_ok=True)
    pq.write_table(
        _table(np.arange(BASE_ROWS), corpus, labels),
        os.path.join(paths["store"], "part-00000.parquet"),
    )
    pq.write_table(
        _table(np.arange(QUERY_ROWS), queries, np.zeros(QUERY_ROWS, np.int32)),
        paths["queries"],
    )

    batches, batch_ids, batch_novel = [], [], []
    n_novel = int(BATCH_ROWS * NOVEL_SHARE)
    for b in range(BATCHES):
        labs = np.concatenate(
            [mixture(BATCH_ROWS - n_novel), np.full(n_novel, novel, np.int32)]
        )
        labs = labs[rng.permutation(BATCH_ROWS)]
        vecs = _draw(rng, centres, bases, labs)
        ids = BASE_ROWS + b * BATCH_ROWS + np.arange(BATCH_ROWS, dtype=np.int64)
        pq.write_table(
            _table(ids, vecs, labs),
            os.path.join(paths["batches"], f"batch-{b:03d}.parquet"),
        )
        batches.append(vecs)
        batch_ids.append(ids)
        batch_novel.append(labs == novel)
    return Inputs(corpus, queries, batches, batch_ids, batch_novel, paths)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    inp = generate(args.seed, args.out)
    print(
        f"seed={args.seed} corpus={inp.corpus.shape} queries={inp.queries.shape} "
        f"batches={len(inp.batches)}x{BATCH_ROWS} -> {args.out}"
    )


if __name__ == "__main__":
    main()
