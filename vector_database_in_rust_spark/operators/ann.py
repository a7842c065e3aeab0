"""Approximate nearest neighbor: IVF coarse quantization + LSH.

Replaces the reference's HNSW graph (``src/lib.rs:100-302``). HNSW is a
sequential, order-dependent, RNG-dependent pointer-chasing structure —
the single part of the reference that fundamentally does not parallelize
(every ``insert`` mutates the graph built by all previous inserts,
``src/lib.rs:228-302``). The idiomatic cluster-parallel ANN design is IVF
(inverted file / coarse quantization, cf. Faiss IVF, Johnson et al. 2017,
"Billion-scale similarity search with GPUs"):

- **build** (== ``build_index``, src/lib.rs:336-341): KMeans over (a
  sample of) the corpus -> ``num_cells`` centroids; assign every vector to
  its nearest centroid; persist as Parquet *partitioned by cell_id*.
  Embarrassingly parallel, deterministic under a fixed seed — unlike the
  reference's RNG level draws (src/lib.rs:144-150), so the index is
  reproducible AND persistable (the reference never persists its graph).
- **search** (== ``HnswIndex::search``, src/lib.rs:152-169): rank
  centroids by distance to the query (a tiny ``num_cells x dim``
  computation), probe the ``nprobe`` nearest cells only — partition
  pruning on the cell-partitioned Parquet skips everything else — then
  exact re-rank with ``orderBy(dist).limit(k)``. ``nprobe`` is the
  recall/latency knob, playing the role of HNSW's ``ef``
  (src/lib.rs:164).

Parameter mapping: reference knobs (M, ef_construction) bound graph
degree; IVF's analogues are ``num_cells ~ sqrt(N)`` and ``nprobe``.

Scale notes (100 TB, ~1e11 vectors):
- centroid table stays tiny (sqrt(1e11) ~ 3e5 cells x dim floats — MBs),
  always broadcastable;
- the probe reads nprobe/num_cells of the data: with 32 probes over 3e5
  cells that is ~0.01% of 100 TB per query — same contract as HNSW's
  "examine << N candidates" (readme.md:17);
- batch search shuffles only scored (query_id, vec_id, dist) triples.
"""

from __future__ import annotations

import copy

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_database_in_rust_spark.functions.vectors import l2_squared
from vector_database_in_rust_spark.operators.knn import (
    bounded_query_collect,
    knn_exact,
    top_k_per_query,
)

DEFAULT_SEED = 42


def _lloyd(x: np.ndarray, k: int, seed: int, iters: int = 15) -> np.ndarray:
    """Seeded numpy Lloyd (same discipline as HierarchicalIVF's level-2
    fits — no sklearn in the container). Module-level so executor-side
    closures (PQ codebook fits, hot-cell splits) can reference it."""
    rng = np.random.RandomState(seed)
    k = min(k, len(x))
    cent = x[rng.choice(len(x), size=k, replace=False)].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)
        for j in range(k):
            msk = lab == j
            if msk.any():
                cent[j] = x[msk].mean(axis=0)
    return cent


def _num_cells_default(n: int) -> int:
    return int(max(1, min(4096, round(np.sqrt(max(n, 1))))))


# Name of the reduced-space geometry column a coarse_dim index carries in
# its assignments (original vectors stay in vec_col for exact re-rank).
GEOM_COL = "_rvec"


def _pca_projection(
    sample: DataFrame, *, vec_col: str, coarse_dim: int
) -> np.ndarray:
    """Top-``coarse_dim`` PCA projection (d, coarse_dim) fitted from a
    bounded sample's covariance — plain PCA, NOT whitening (1/sqrt(eig)
    rescaling would amplify noise directions, the opposite of what a
    coarse quantizer wants). The corpus-sized work is the one
    map-side-combinable d^2 moment aggregation ``linalg._moment_stats``
    already provides; eigh is d x d driver numpy."""
    from vector_database_in_rust_spark.operators.linalg import _moment_stats

    xtx, s, n = _moment_stats(sample, vec_col=vec_col)
    mean = s / n
    cov = xtx / n - np.outer(mean, mean)
    eigvals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals, kind="stable")[::-1]
    d = cov.shape[0]
    if coarse_dim >= d:
        raise ValueError(f"coarse_dim={coarse_dim} must be < dim={d}")
    return np.ascontiguousarray(vecs[:, order[:coarse_dim]])


def _project_udf(proj: np.ndarray):
    """Vectorized Arrow-batch projection ``x @ proj`` as a pandas UDF —
    composes onto any frame without re-stating its schema. float32
    output: the reduced column is geometry only (KMeans fit, probe
    argmin), never the exact re-rank surface."""
    from pyspark.sql.functions import pandas_udf

    p32 = np.ascontiguousarray(proj, dtype=np.float32)

    @pandas_udf("array<float>")
    def project(s: pd.Series) -> pd.Series:
        x = np.vstack(s.apply(np.asarray, args=(np.float32,)))
        return pd.Series(list(x @ p32))

    return project


def _stack(s: pd.Series) -> np.ndarray:
    """An Arrow batch's array column as one float64 matrix."""
    return np.vstack(s.apply(np.asarray, args=(np.float64,)))


def _blas_topk(
    qids, qmat: np.ndarray, x: np.ndarray, ids: np.ndarray, k: int,
    round_digits: int | None,
) -> tuple[list, list, list]:
    """Score one (query block x cell) pair with one BLAS call and keep
    each query's top-k — the per-cell step shared by both BLAS serving
    paths (``_pruned_blas_topk``, ``_cogroup_blas_topk``).

    ||q-x||^2 = ||q||^2 + ||x||^2 - 2 q.x, clamped at 0 (a true squared
    distance is >= 0, and an un-clamped -0.0 would hash-differ from
    0.0) and rounded HALF_UP — ``F.round``'s rule on a non-negative
    value (np.round is half-even and can differ on exact boundaries).
    Rows are ordered by (rounded dist, vec_id), the global ranking
    window's exact key, so the map-side cut provably contains the
    global top-k. Results are row-identical to the expression form
    except when a distance lands within one BLAS-expansion ulp of a
    rounding boundary (the expanded form and the elementwise sum can
    differ in the last float place there). Returns the (query_id,
    vec_id, dist) columns as lists; ``_topk_frame`` frames them."""
    d = (
        (qmat * qmat).sum(axis=1)[:, None]
        + (x * x).sum(axis=1)[None, :]
        - 2.0 * (qmat @ x.T)
    )
    d = np.maximum(d, 0.0)
    if round_digits is not None:
        s = 10.0 ** round_digits
        d = np.floor(d * s + 0.5) / s
    kk = min(k, d.shape[1])
    out_q, out_v, out_d = [], [], []
    for qi in range(d.shape[0]):
        order = np.lexsort((ids, d[qi]))[:kk]
        out_q.extend([qids[qi]] * kk)
        out_v.extend(ids[order])
        out_d.extend(d[qi][order])
    return out_q, out_v, out_d


def _topk_frame(out_q: list, out_v: list, out_d: list) -> pd.DataFrame:
    """(query_id, vec_id, dist) rows as a pandas UDF result. Id columns
    are object dtype: Arrow coerces them to the declared schema types,
    so int/string/etc ids pass through unchanged (an int64-forced
    Series crashed string ids)."""
    return pd.DataFrame(
        {
            "query_id": pd.Series(out_q, dtype=object),
            "vec_id": pd.Series(out_v, dtype=object),
            "dist": pd.Series(out_d, dtype="float64"),
        }
    )


def _pruned_blas_topk(
    assignments: DataFrame,
    data: list,
    k: int,
    *,
    id_col: str,
    vec_col: str,
    round_digits: int | None,
    query_id_type: str = "bigint",
) -> DataFrame:
    """Score a partition-pruned candidate scan against its probe set
    with per-cell BLAS batches — the serving-side analogue of
    ``knn_batch``'s blocked matmul (round 12).

    ``data`` is the driver-side probe list [(query_id, vec, cell_id)].
    The first 5M x 384-d serve measurement showed the expression form
    (broadcast join + zip_with/aggregate L2) spending 24-48 s on
    ~1.2M candidate-pair x 384-element interpreted array ops while the
    pruned scan itself was seconds; the identical work is one
    ``Q @ X.T`` per (Arrow batch, cell) here (``_blas_topk``). Per
    (cell, query) only the top-k rows are emitted, so the ranking
    window sees ``cells x queries x k`` rows instead of every
    candidate pair.

    Id columns pass through with their source types: ``vec_id`` takes
    ``assignments[id_col]``'s type, ``query_id`` the caller-declared
    ``query_id_type`` — hardcoded BIGINT here broke custom string ids
    under the engine facade (round 13; same class of bug as the hier
    build's hardcoded schema, fixed round 11).
    """
    spark = assignments.sparkSession
    probe_map: dict[int, tuple[list, list]] = {}
    for qid, vec, cell in data:
        probe_map.setdefault(int(cell), ([], []))
        probe_map[int(cell)][0].append(qid)
        probe_map[int(cell)][1].append(vec)
    packed = {
        c: (list(qids), np.asarray(vecs, dtype=np.float64))
        for c, (qids, vecs) in probe_map.items()
    }
    bc = spark.sparkContext.broadcast(packed)
    all_cells = sorted(packed)
    id_type = assignments.schema[id_col].dataType.simpleString()

    def block(batches):
        probes = bc.value
        for pdf in batches:
            out = ([], [], [])
            for cell, sub in pdf.groupby("cell_id"):
                pq = probes.get(int(cell))
                if pq is None:
                    continue
                rows = _blas_topk(
                    *pq, _stack(sub[vec_col]), sub[id_col].to_numpy(), k,
                    round_digits,
                )
                for acc, part in zip(out, rows):
                    acc.extend(part)
            yield _topk_frame(*out)

    cand = assignments.filter(F.col("cell_id").isin(all_cells)).select(
        "cell_id", F.col(id_col), F.col(vec_col)
    )
    scored = cand.mapInPandas(
        block, f"query_id {query_id_type}, vec_id {id_type}, dist DOUBLE"
    )
    return top_k_per_query(scored, k)


def _fit_hot_subcentroids(
    hot_rows: DataFrame,
    *,
    geom_col: str,
    seed: int,
    max_cell_fit_rows: int,
) -> dict:
    """Per-hot-cell seeded local 2-means for ``split_hot_cells``, one
    ``applyInPandas`` group per cell (the HierarchicalIVF level-2
    discipline). Returns {(cell_id, sub): centroid}."""
    import pandas as pd

    def fit2(pdf: pd.DataFrame) -> pd.DataFrame:
        c = int(pdf["cell_id"].iloc[0])
        x = _stack(pdf[geom_col])
        if len(x) > max_cell_fit_rows:
            rng = np.random.RandomState(seed * 131 + c)
            x = x[rng.choice(len(x), size=max_cell_fit_rows, replace=False)]
        cent = _lloyd(x, 2, seed * 31 + c)
        if len(cent) < 2:  # degenerate single-point cell
            cent = np.vstack([cent[0], cent[0]])
        return pd.DataFrame(
            {
                "cell_id": [c, c],
                "sub": [0, 1],
                "centroid": [list(map(float, cent[0])), list(map(float, cent[1]))],
            }
        )

    return {
        (r["cell_id"], r["sub"]): np.asarray(r["centroid"])
        for r in hot_rows.groupBy("cell_id")
        .applyInPandas(fit2, "cell_id INT, sub INT, centroid ARRAY<DOUBLE>")
        .collect()
    }


def _reassign_hot_rows(
    hot_rows: DataFrame,
    subs: dict,
    new_id: dict,
    *,
    geom_col: str,
    carry: list[str],
) -> DataFrame:
    """Re-score each hot cell's rows against its two sub-centroids:
    the closer-to-sub0 half keeps the cell id, the rest moves to the
    cell's fresh id (ties keep the old id)."""
    spark = hot_rows.sparkSession
    remap = spark.createDataFrame(
        [
            (
                int(c),
                [float(x) for x in subs[(c, 0)]],
                [float(x) for x in subs[(c, 1)]],
                int(nid),
            )
            for c, nid in new_id.items()
        ],
        "cell_id INT, c0 ARRAY<DOUBLE>, c1 ARRAY<DOUBLE>, new_id INT",
    )
    d0 = l2_squared(F.col(geom_col), F.col("c0"))
    d1 = l2_squared(F.col(geom_col), F.col("c1"))
    return hot_rows.join(F.broadcast(remap), on="cell_id").select(
        *carry,
        F.when(d0 <= d1, F.col("cell_id"))
        .otherwise(F.col("new_id"))
        .cast("int")
        .alias("cell_id"),
    )


def _cogroup_blas_topk(
    probed: DataFrame,
    assignments: DataFrame,
    k: int,
    *,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    round_digits: int | None,
    query_id_type: str,
) -> DataFrame:
    """BLAS candidate scoring for DISTRIBUTED query batches (round 13
    — the remaining expression-form hot path after r12's
    ``_pruned_blas_topk`` fixed the broadcast-small serve): cogroup the
    probed (query, cell) pairs with the assignments ON cell_id and run
    one ``Q_c @ X_c.T`` per cell (``_blas_topk``, the same map-side
    top-k cut, rounding and clamp as the pruned path), so the
    downstream window sees cells x queries x k rows instead of every
    candidate pair. Cost shape: one shuffle of the probed pairs + one
    of the candidates, both keyed by cell_id — queries never collect
    to the driver, so this is the path for query batches too large to
    broadcast. Group size per cell is (queries probing the cell) x
    (cell occupancy); the occupancy maintenance discipline
    (split/rebalance/rebuild_due) bounds the candidate side exactly as
    it bounds every other per-cell operation."""
    id_type = assignments.schema[id_col].dataType.simpleString()

    def block(key, probes, cands):
        if probes.empty or cands.empty:
            return pd.DataFrame({"query_id": [], "vec_id": [], "dist": []})
        return _topk_frame(
            *_blas_topk(
                probes[query_id_col].to_numpy(),
                _stack(probes[query_vec_col]),
                _stack(cands[vec_col]),
                cands[id_col].to_numpy(),
                k,
                round_digits,
            )
        )

    # Probe selectivity must reach the candidate side BEFORE the
    # cogroup exchange: without this semi-join, every unprobed cell's
    # rows shuffle into groups whose probe side is empty — a full
    # corpus shuffle for an nprobe-selective serve. The distinct probed
    # cell set is <= num_cells rows (index-bounded), so the filter is a
    # broadcast semi-join: map-side drop, no extra shuffle.
    cand = assignments.select("cell_id", id_col, vec_col).join(
        F.broadcast(probed.select("cell_id").distinct()),
        "cell_id",
        "left_semi",
    )
    scored = (
        probed.groupBy("cell_id")
        .cogroup(cand.groupBy("cell_id"))
        .applyInPandas(
            block, f"query_id {query_id_type}, vec_id {id_type}, dist DOUBLE"
        )
    )
    return top_k_per_query(scored, k)


def _cogroup_adc_topk(
    probed: DataFrame,
    codes: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    keep: int,
    *,
    query_id_col: str,
    query_geom_col: str,
    query_id_type: str,
) -> DataFrame:
    """ADC scoring for DISTRIBUTED query batches over PQ CODES (round
    14, r13 verdict item 4): the cogroup shape of ``_cogroup_blas_topk``
    with the candidate side carrying m-byte codes instead of full
    vectors — at 384-d float32 that is ~32x fewer candidate bytes
    through the exchange (1,536 -> 48 at m=48, 16 at m=16), which is
    the reference's out-of-core ambition (readme.md:15) applied to the
    serving tier. Per cell group: one (m x ksub) lookup table per query
    from its residual against the cell centroid (tables are
    query-local, so they are built inside the group, never shuffled),
    then a gather-sum per code column — no multiply at all in the
    scoring loop. Emits each (query, cell)'s top-``keep`` under
    (adc, vec_id); the global per-query top-keep is contained in the
    union of per-cell top-keeps (same containment argument as the BLAS
    form). ADC distances are approximate by construction — callers
    re-rank the survivors against true vectors (``refine``), so no
    rounding is applied here."""
    m, ksub, dsub = codebooks.shape
    bc = codes.sparkSession.sparkContext.broadcast((centroids, codebooks))

    def block(key, probes, cands):
        if probes.empty or cands.empty:
            return pd.DataFrame({"query_id": [], "vec_id": [], "adc": []})
        cents, books = bc.value
        cell = int(key[0])
        q = _stack(probes[query_geom_col])
        qids = probes[query_id_col].to_numpy()
        r = q - cents[cell][None, :]
        # (nq, m, ksub) residual tables, built batch-vectorized
        tables = np.stack(
            [
                (
                    (books[j][None, :, :] - r[:, None, j * dsub : (j + 1) * dsub])
                    ** 2
                ).sum(axis=2)
                for j in range(m)
            ],
            axis=1,
        )
        cm = np.vstack(
            cands["codes"].apply(
                lambda b: np.frombuffer(bytes(b), dtype=np.uint8)
            )
        )
        ids = cands["vec_id"].to_numpy()
        adc = np.zeros((len(q), len(ids)))
        for j in range(m):
            adc += tables[:, j, :][:, cm[:, j]]
        kk = min(keep, adc.shape[1])
        out_q, out_v, out_d = [], [], []
        for qi in range(adc.shape[0]):
            order = np.lexsort((ids, adc[qi]))[:kk]
            out_q.extend([qids[qi]] * kk)
            out_v.extend(ids[order])
            out_d.extend(adc[qi][order])
        return pd.DataFrame(
            {
                "query_id": pd.Series(out_q, dtype=object),
                "vec_id": pd.Series(out_v, dtype="int64"),
                "adc": pd.Series(out_d, dtype="float64"),
            }
        )

    # probe selectivity reaches the code scan before the exchange —
    # same broadcast semi-join as the BLAS form
    cand = codes.select("cell_id", "vec_id", "codes").join(
        F.broadcast(probed.select("cell_id").distinct()),
        "cell_id",
        "left_semi",
    )
    return (
        probed.groupBy("cell_id")
        .cogroup(cand.groupBy("cell_id"))
        .applyInPandas(
            block, f"query_id {query_id_type}, vec_id BIGINT, adc DOUBLE"
        )
    )


def _l2_rowwise_udf(vec_col_a: str, vec_col_b: str):
    """Row-wise squared L2 between two array columns as an
    Arrow-vectorized pandas UDF — the refine-stage scorer: the
    candidate set is |queries| x refine*k rows (never corpus-shaped),
    but at high dim the interpreted zip_with/aggregate form still pays
    per-element; one vstack + sum per Arrow batch does not."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def dist(a: pd.Series, b: pd.Series) -> pd.Series:
        xa = _stack(a)
        xb = _stack(b)
        return pd.Series(((xa - xb) ** 2).sum(axis=1))

    return dist(F.col(vec_col_a), F.col(vec_col_b))


def _hier_assign_fn(bc, id_col: str, vec_col: str):
    """The two-level assignment pass as a mapInPandas closure factory —
    ``HierarchicalIVF._assign`` runs it for both the build's
    full-corpus assignment and ``assign_new``'s incremental ingest, so
    the ingest rule is BY CONSTRUCTION the build's rule: argmin against the l1
    blocks, then against the winning super-cell's l2 block
    (2·sqrt(K) distance rows per vector). ``bc`` broadcasts
    (l1_centroids, l2_centroids, k2_stride, proj, overflow_by_parent);
    overflow cells (post-build splits) compete with the winning
    super-cell's own sub-cells, composite winning distance ties
    (same keep-the-old rule as ``_reassign_hot_rows``)."""

    def assign(it):
        l1c, l2c, k2_, pj, ovf = bc.value
        for pdf in it:
            xfull = _stack(pdf[vec_col])
            x = xfull @ pj if pj is not None else xfull
            d1 = ((x[:, None, :] - l1c[None, :, :]) ** 2).sum(axis=2)
            a1 = d1.argmin(axis=1)
            cell = np.zeros(len(x), dtype=np.int64)
            for l1 in np.unique(a1):
                m = a1 == l1
                cc = l2c[int(l1)]
                d2 = ((x[m][:, None, :] - cc[None, :, :]) ** 2).sum(axis=2)
                a2 = d2.argmin(axis=1)
                best = int(l1) * k2_ + a2
                ov = ovf.get(int(l1)) if ovf else None
                if ov is not None:
                    ids, cents = ov
                    dov = ((x[m][:, None, :] - cents[None, :, :]) ** 2).sum(
                        axis=2
                    )
                    ov_arg = dov.argmin(axis=1)
                    ov_min = dov[np.arange(len(ov_arg)), ov_arg]
                    d2_min = d2[np.arange(len(a2)), a2]
                    best = np.where(ov_min < d2_min, ids[ov_arg], best)
                cell[m] = best
            out = {
                id_col: pdf[id_col],
                vec_col: pdf[vec_col],
                "cell_id": cell.astype("int32"),
            }
            if pj is not None:
                out[GEOM_COL] = list(x.astype(np.float32))
            yield pd.DataFrame(out)

    return assign


def _resolve_nprobe(
    nprobe: int | None,
    target_frac: float | None,
    num_cells: int,
    *,
    default: int,
) -> int:
    """Resolve a serving probe budget from either an absolute cell
    count (``nprobe``) or a cell FRACTION (``target_frac``) — the
    rebuild-safe way to express it (round 13, closing the r12 drift
    study's sharpest finding): a ``rebuild_due``-triggered full rebuild
    changed the cell count 707 -> 1000, so the SAME nprobe=8 probed
    half the fraction and recall fell 0.994 -> 0.856 at matched
    settings (SCALE.md r12). A fraction-expressed budget re-derives
    nprobe from the CURRENT cell count, so serving cost and recall
    survive rebuilds, splits, and merges without hand re-tuning.

    ``target_frac`` is a CELL fraction. On a balanced index (what a
    fresh build or a post-``rebalance`` index is) the probed ROWS
    fraction — the true serve cost — tracks it closely; on a
    drift-skewed index the hot cells probe MORE rows than the cell
    fraction suggests (measured r13: the drifted 707-cell index read
    4.2x its cell fraction in rows). When carrying a budget across a
    rebuild, match the ROWS fraction the old serve actually paid
    (SCALE.md r13 rebuild-fraction study: rows-matched serve holds
    recall through the rebuild; cell-matched under-spends against a
    drift-inflated baseline)."""
    if target_frac is not None:
        if nprobe is not None:
            raise ValueError(
                "pass nprobe OR target_frac, not both — they are two "
                "expressions of the same probe budget"
            )
        if not (0.0 < target_frac <= 1.0):
            raise ValueError(
                f"target_frac must be in (0, 1], got {target_frac}"
            )
        return max(1, int(np.ceil(target_frac * num_cells)))
    return default if nprobe is None else nprobe


def _nprobe_for_rows_frac(cell_stats_df: DataFrame, target_rows_frac: float) -> int:
    """Worst-case ROWS-budget resolver (round 13, from the
    rebuild-fraction study): the largest nprobe such that ANY probe set
    of that size reads at most ``target_rows_frac`` of the corpus —
    i.e. the cumulative share of the nprobe FATTEST cells stays within
    budget (always >= 1: a top-k serve must probe something). Exists
    because a cell fraction under-states the rows cost on a skewed
    index (measured: the drifted 707-cell index read 4.2x its cell
    fraction in rows); this is the knob for a hard serve-cost SLO.
    One cell-bounded aggregation pass (num_cells driver rows)."""
    if not (0.0 < target_rows_frac <= 1.0):
        raise ValueError(
            f"target_rows_frac must be in (0, 1], got {target_rows_frac}"
        )
    occ = [int(r["n_vectors"]) for r in cell_stats_df.collect()]
    total = sum(occ)
    if not total:
        return 1
    cum, k = 0.0, 0
    for share in sorted((n / total for n in occ), reverse=True):
        if cum + share > target_rows_frac:
            break
        cum += share
        k += 1
    return max(1, k)


# Router thresholds for batch candidate scoring (round 14, closing the
# r13 verdict's one open scale-killer: the expr arm in the distributed-
# batch regime was unguarded — measured >=5x DNF at 10k queries x 5M x
# 384-d, killed at 45+ min vs 532 s blas).
#
# AUTO_BLAS_MADDS: estimated candidate multiply-adds
# (n_queries x nprobe x avg_cell_rows x dim) above which the cogroup
# matmul beats the interpreted zip_with/aggregate expression form.
# Measured (scripts/r14_blas_crossover.py, SCALE.md r14): blas reaches
# parity by ~5e7 madds on BOTH geometries (200k x 64-d: 1.8 vs 1.4 s at
# 4.7e7; 100k x 384-d: 2.6 vs 2.1 s at 9.8e7) and the gap opens fast
# above — 2.8x at 7.4e8, 5.4x at 1.6e9, 4.7x at 1.2e10; the r13
# top-decade run measured >=5x (expr killed unfinished) at ~2.7e11.
# 1e8 sits at the top of the parity band: the sub-second small-batch
# bench lanes (~1e5-1e6 madds, where the cogroup's ~1.5 s floor would
# dominate) keep the expression form, and everything measured above
# the threshold routes to the measured winner.
AUTO_BLAS_MADDS = 1e8
# The expr arm BROADCASTS the probed (query, cell) pairs carrying the
# full query vector: n_queries x nprobe rows x ~(8*dim + 24) bytes.
# 256 MiB is the documented ceiling — well under executor broadcast
# comfort, and the r13 10k x nprobe=32 x 384-d case (~1 GB) lands 4x
# over it.
MAX_PROBED_BROADCAST_BYTES = 256 * 1024 * 1024


def _route_batch_impl(
    impl: str,
    queries: DataFrame,
    *,
    nprobe: int,
    n_rows: int,
    num_cells: int,
    dim: int,
    n_queries: int | None = None,
) -> str:
    """Resolve ``impl='auto'`` for batch ANN candidate scoring, and
    guard the explicit expression form — the same measured-threshold
    routing discipline as ``embedding_cosine_pairs(impl='auto')`` and
    ``bounded_query_collect``.

    The decision needs |queries|, which is only countable by running a
    job — so compute the CUTOFF first (the largest query count whose
    estimated volume stays under every threshold) and count through
    ``limit(cutoff + 1)``: the job is bounded by the cutoff, never by
    the batch (a 10M-query batch answers "over the cutoff" after
    cutoff+1 rows).

    ``n_queries`` (round 15, the advisor's per-call-job finding): a
    caller that already knows its batch size passes it and the router
    spends ZERO jobs — the bounded counting job above otherwise
    re-executes the queries DataFrame's lineage on EVERY call, a fixed
    per-call tax on interactive small-batch serving (and an expensive
    one when the queries are a derived, unpersisted computation). The
    routing decision is identical either way; the count is only an
    input to the threshold compare.

    * ``impl='blas'``: honored as-is (always scale-safe).
    * ``impl='expr'``: honored below the probed-pairs broadcast
      ceiling; above it this RAISES naming ``impl='blas'`` — the r13
      measurement showed the unguarded default burning >=5x before
      dying, which is strictly worse than a loud error.
    * ``impl='auto'``: routes expr below both thresholds (whole-stage
      codegen wins the small-batch low-dim regime), blas at or above
      either.
    """
    if impl not in ("expr", "blas", "auto"):
        raise ValueError(
            f"impl must be 'expr', 'blas' or 'auto', got {impl!r}"
        )
    if impl == "blas":
        return "blas"
    per_query_bcast = nprobe * (8 * dim + 24)
    cut_bcast = int(MAX_PROBED_BROADCAST_BYTES // max(1, per_query_bcast))
    if impl == "expr":
        n_q = (
            n_queries
            if n_queries is not None
            else queries.limit(cut_bcast + 1).count()
        )
        if n_q > cut_bcast:
            raise ValueError(
                f"impl='expr' would broadcast > {cut_bcast} probed "
                f"query rows (~{MAX_PROBED_BROADCAST_BYTES >> 20} MiB "
                f"at nprobe={nprobe}, dim={dim}) and score them with "
                "interpreted array arithmetic — measured >=5x slower "
                "than the cogroup matmul in this regime (SCALE.md "
                "r13/r14). Use impl='blas' (or 'auto')."
            )
        return "expr"
    avg_cell_rows = max(1.0, n_rows / max(1, num_cells))
    cut_madds = int(AUTO_BLAS_MADDS // max(1.0, nprobe * avg_cell_rows * dim))
    cutoff = min(cut_bcast, cut_madds)
    if cutoff <= 0:
        return "blas"
    n_q = (
        n_queries
        if n_queries is not None
        else queries.limit(cutoff + 1).count()
    )
    return "blas" if n_q > cutoff else "expr"


def rebuild_due(
    occ: dict,
    *,
    max_share_factor: float = 8.0,
    baseline: dict | None = None,
    growth_factor: float = 3.0,
) -> bool:
    """The measured ingest-maintenance trigger (round 12, verdict item
    6): True when the hottest cell holds more than ``max_share_factor``
    times the mean cell occupancy — time to ``split_hot_cells()`` /
    ``rebalance()`` or schedule a full rebuild.

    Rationale, from the r12 drift study (scripts/r12_ivf_drift.py,
    SCALE.md r12): ``assign_new`` ingests drifted batches into the
    FIXED centroid set, so out-of-distribution mass piles into the few
    cells nearest the new mode. The measured failure is COST, not
    recall — probe ranking still finds the hot cells, but each probe
    reads a growing fraction of the corpus (probed-rows fraction
    scales with max_share x nprobe), eroding the entire point of the
    index. Occupancy is the right production trigger because it is
    observable without ground truth (one aggregation pass,
    ``occupancy_stats``) and it moves BEFORE recall does.

    The 8x default fits corpora whose intrinsic mode count is at or
    above num_cells (uniform/well-spread builds measure max_share
    within ~2-4x mean, SCALE.md r9-r11; the r12 drift curve crosses 8x
    at +25% drifted ingest while recall is still flat and probed cost
    has already doubled). Heavily CLUSTERED corpora are the measured
    caveat: the 5M x 384-d planted-1000-cluster build holds max_share
    ~24x mean while perfectly healthy (1000 modes cannot spread over
    2201 cells) — an absolute rule would cry wolf on day one. For
    those, pass the BUILD-time ``occupancy_stats()`` as ``baseline``:
    the trigger then fires on GROWTH — max_share exceeding
    ``growth_factor`` x its build-time value (drift is what moves
    max_share after a build; the r12 study measured 16x growth at
    +100% drifted ingest against a 1.4x-mean base). Trigger early and
    the repair is cheap (``split_hot_cells`` touches hot cells only).
    The reference cannot ingest at all (build-once graph,
    src/lib.rs:336-341); this rule is what makes the engine's ingest
    path an OPERATED advantage rather than a decaying one.
    """
    cells = int(occ.get("cells") or 0)
    if cells <= 0:
        return True  # empty/unhealthy index: rebuild by definition
    share = float(occ.get("max_share") or 0.0)
    if baseline is not None:
        base_share = float(baseline.get("max_share") or 0.0)
        if base_share > 0:
            return share > min(0.5, growth_factor * base_share)
    # The relative bound degenerates past certainty at small k
    # (factor/cells >= 1 whenever cells <= factor, so it could NEVER
    # fire on a small index); a cell holding half the corpus is
    # unhealthy at any k — probing it alone is half a scan — so the
    # absolute 0.5 cap keeps the trigger meaningful everywhere.
    return share > min(0.5, max_share_factor / cells)


def _matrix_rows(mat: np.ndarray) -> list[tuple[int, list[float]]]:
    """``(row index, row)`` pairs — the driver-side shape every small
    centroid/projection table takes on its way into a DataFrame."""
    return [(int(i), [float(x) for x in row]) for i, row in enumerate(mat)]


def _write_table(spark: SparkSession, rows: list, schema: str, path: str) -> None:
    """Overwrite ``path`` with one small single-file parquet table."""
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def _read_matrix(spark: SparkSession, path: str, key: str, col: str) -> np.ndarray:
    """The inverse of ``_write_table(_matrix_rows(...))``: rows ordered
    by ``key``, stacked into one matrix."""
    rows = spark.read.parquet(path).orderBy(key).collect()
    return np.vstack([np.asarray(r[col]) for r in rows])


def _fit_frame(
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    coarse_dim: int | None,
    max_fit_rows: int,
    seed: int,
):
    """The build-time geometry shared by both IVF builds: the corpus
    count, the (id, vector[, projected geometry], ``_features``) frame,
    its bounded fit sample, the optional PCA projection and the name
    of the geometry column. KMeans quality needs representative data,
    not all of it — fitting on at most ``max_fit_rows`` keeps the
    iterative fit O(sample) at 100 TB, while assignment still touches
    every row exactly once."""
    from pyspark.ml.functions import array_to_vector

    n = corpus.count()
    base = corpus.select(F.col(id_col), F.col(vec_col))
    frac = max_fit_rows / n if n > max_fit_rows else None
    proj = None
    if coarse_dim is not None:
        sample = base if frac is None else base.sample(fraction=frac, seed=seed)
        proj = _pca_projection(sample, vec_col=vec_col, coarse_dim=coarse_dim)
        base = base.withColumn(GEOM_COL, _project_udf(proj)(F.col(vec_col)))
    geom = GEOM_COL if proj is not None else vec_col
    feat = base.withColumn(
        "_features", array_to_vector(F.col(geom).cast("array<double>"))
    )
    fit_df = feat if frac is None else feat.sample(fraction=frac, seed=seed)
    return n, feat, fit_df, proj, geom


class IVFIndex:
    """IVF coarse-quantization index over an embedding DataFrame.

    The "index" is plain data: a centroid matrix (driver-side numpy, tiny)
    plus a cell-assignment DataFrame — both persistable as Parquet, which
    the reference cannot do at all (its graph dies with the process).

    This class owns the inverted lists: search, filtered and batch
    search, ingest, merge, occupancy maintenance and the assignments
    half of persistence. What decides cells — the coarse quantizer —
    is a small set of hooks (``_probe_cells``, ``_probed_frame``,
    ``_assign``, ``_split``, ``_default_nprobe``, ``_save_quantizer`` /
    ``_load_quantizer``) that :class:`HierarchicalIVF` overrides, the
    Faiss ``IndexIVF`` split between inverted lists and a pluggable
    quantizer. Keyword options a quantizer's ranking takes (the
    two-level index's ``nprobe_l1``) pass through every search method
    as ``**probe``; the flat quantizer takes none.
    """

    def __init__(
        self,
        centroids: np.ndarray,
        assignments: DataFrame,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        proj: np.ndarray | None = None,
    ):
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.assignments = assignments
        self.id_col = id_col
        self.vec_col = vec_col
        # Reduced-space coarse geometry (round 9): when set, centroids
        # live in the PCA-projected coarse_dim space, assignments carry
        # the projected vector in GEOM_COL, and every cell-geometry
        # operation (probe, assign, split, PQ residuals) uses that
        # column — exact re-rank always reads the ORIGINAL vec_col.
        self.proj = None if proj is None else np.asarray(proj, dtype=np.float64)

    @property
    def geom_col(self) -> str:
        """Column carrying the vectors the CELL GEOMETRY is defined
        over: the PCA-reduced column for a ``coarse_dim`` index, the
        original vector column otherwise."""
        return GEOM_COL if self.proj is not None else self.vec_col

    @property
    def num_cells(self) -> int:
        return int(self.centroids.shape[0])

    def _default_nprobe(self) -> int:
        """Probe budget when neither ``nprobe`` nor ``target_frac`` is
        given."""
        return 8

    def _nprobe(self, nprobe: int | None, target_frac: float | None) -> int:
        return _resolve_nprobe(
            nprobe, target_frac, self.num_cells, default=self._default_nprobe()
        )

    def nprobe_for_frac(self, target_frac: float) -> int:
        """nprobe probing ~``target_frac`` of this index's cells —
        ``ceil(target_frac x num_cells)``. Express standing serving
        budgets this way (or pass ``target_frac=`` to the search
        methods directly): an absolute nprobe silently changes meaning
        whenever maintenance changes the cell count (see
        ``_resolve_nprobe`` for the measured rebuild footgun)."""
        return _resolve_nprobe(None, target_frac, self.num_cells, default=8)

    def nprobe_for_rows_frac(self, target_rows_frac: float) -> int:
        """Worst-case ROWS-budget nprobe: any probe set of this size
        reads <= ``target_rows_frac`` of the corpus, whatever its
        occupancy skew (see ``_nprobe_for_rows_frac`` — a cell
        fraction under-states rows cost on a drift-skewed index)."""
        return _nprobe_for_rows_frac(self.cell_stats(), target_rows_frac)

    def _geom_query(self, query) -> np.ndarray:
        q = np.asarray(query, dtype=np.float64)
        return q @ self.proj if self.proj is not None else q

    def _full_dim(self) -> int:
        """The ORIGINAL vector dimension (the exact re-rank's cost
        axis) — proj rows for a reduced-geometry index, the centroid
        width otherwise. Driver-side state only; no job."""
        if self.proj is not None:
            return int(self.proj.shape[0])
        return int(self.centroids.shape[1])

    def _corpus_rows(self) -> int:
        """Corpus row count for routing estimates, cached per
        assignments object (metadata-fast on a persisted index; one
        count on a lineage-backed one — invalidated whenever the
        assignments DataFrame is replaced)."""
        cached = getattr(self, "_rows_cache", None)
        if cached is not None and cached[0] is self.assignments:
            return cached[1]
        n = self.assignments.count()
        self._rows_cache = (self.assignments, n)
        return n

    def _carry(self) -> list[str]:
        """The assignment columns besides ``cell_id``."""
        return [self.id_col, self.vec_col] + (
            [GEOM_COL] if self.proj is not None else []
        )

    # -- build (replaces build_index, src/lib.rs:336-341) -----------------

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        *,
        num_cells: int | None = None,
        seed: int = DEFAULT_SEED,
        max_fit_rows: int = 200_000,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        coarse_dim: int | None = None,
    ) -> "IVFIndex":
        """``coarse_dim`` (round 9, found by the 384-d scaling study):
        fit the cell geometry in a PCA-reduced space instead of the raw
        dimension. At high d, Lloyd's on (near-)isotropic data
        degenerates — a centroid that averages m points shrinks toward
        the mean, whose distance to EVERY point (~sqrt(d)·sigma) beats
        any data-like centroid (~sqrt(2d)·sigma), so one runaway cell
        swallows the corpus: measured at 500k x 384-d, 253,841 of
        500,000 vectors in one cell (p50 occupancy: 1), nprobe=8
        reading 99.8% of the corpus — "partition pruning" that prunes
        nothing. The standard practice (OPQ / Faiss's recommended
        pre-transform) is coarse quantization in a reduced space:
        KMeans at 64-d measured occupancy max/mean 1.2 at the same
        corpus. Exact re-rank ALWAYS uses the original vectors — only
        cell boundaries (recall/cost routing, never correctness of the
        returned distances) come from the reduced space."""
        from pyspark.ml.clustering import KMeans

        n, feat, fit_df, proj, _ = _fit_frame(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            coarse_dim=coarse_dim,
            max_fit_rows=max_fit_rows,
            seed=seed,
        )
        model = KMeans(
            k=num_cells or _num_cells_default(n),
            seed=seed,
            featuresCol="_features",
            predictionCol="cell_id",
        ).fit(fit_df)
        keep = [id_col, vec_col] + ([GEOM_COL] if proj is not None else [])
        assignments = model.transform(feat).select(
            *keep, F.col("cell_id").cast("int")
        )
        centroids = np.vstack([np.asarray(c) for c in model.clusterCenters()])
        return cls(
            centroids, assignments, id_col=id_col, vec_col=vec_col, proj=proj
        )

    # -- persistence (absent in the reference; free here) -----------------

    def save(self, spark: SparkSession, path: str) -> None:
        """Plain parquet: assignments partitioned by cell, the optional
        projection, then the quantizer's centroid tables — written
        LAST, so their final ``_SUCCESS`` marker implies the whole
        index committed. ``load`` keys the geometry on GEOM_COL's
        presence in the assignments."""
        # repartition("cell_id") before the partitioned write: without
        # it every shuffle partition holding rows of a cell writes its
        # own file into that cell's directory — shuffle_partitions x
        # num_cells files (measured: 64 x 2201 ~ 141k files at 5M x
        # 384-d, and the pruned serve paid 15-66 s in per-file open/
        # footer overhead for a 0.4-1.5% probed fraction). One narrow
        # build-time exchange makes each cell exactly one file; probes
        # then open nprobe files per query, not nprobe x shuffle_n.
        self.assignments.repartition("cell_id").write.mode(
            "overwrite"
        ).partitionBy("cell_id").parquet(f"{path}/assignments")
        if self.proj is not None:
            _write_table(
                spark, _matrix_rows(self.proj),
                "row_idx INT, coeffs ARRAY<DOUBLE>", f"{path}/proj",
            )
        self._save_quantizer(spark, path)

    def _save_quantizer(self, spark: SparkSession, path: str) -> None:
        _write_table(
            spark, _matrix_rows(self.centroids),
            "cell_id INT, centroid ARRAY<DOUBLE>", f"{path}/centroids",
        )

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IVFIndex":
        quantizer = cls._load_quantizer(spark, path)
        assignments = spark.read.parquet(f"{path}/assignments")
        proj = None
        if GEOM_COL in assignments.columns:
            proj = _read_matrix(spark, f"{path}/proj", "row_idx", "coeffs")
        return cls(
            assignments=assignments,
            id_col=id_col,
            vec_col=vec_col,
            proj=proj,
            **quantizer,
        )

    @classmethod
    def _load_quantizer(cls, spark: SparkSession, path: str) -> dict:
        """The centroid state ``save`` wrote, as constructor keywords."""
        return {
            "centroids": _read_matrix(
                spark, f"{path}/centroids", "cell_id", "centroid"
            )
        }

    # -- search (replaces HnswIndex::search, src/lib.rs:152-169) ----------

    def _probe_cells(self, query, nprobe: int) -> list[int]:
        d = ((self.centroids - self._geom_query(query)) ** 2).sum(axis=1)
        order = np.argsort(d, kind="stable")[: max(1, nprobe)]
        return [int(c) for c in order]

    def search(
        self,
        query,
        k: int,
        *,
        nprobe: int | None = None,
        target_frac: float | None = None,
        **probe,
    ) -> DataFrame:
        """Single-query ANN: probe nprobe cells, exact re-rank to top-k.

        The cell filter is a pushed-down ``cell_id IN (...)`` predicate —
        on cell-partitioned Parquet that is partition pruning, the IVF
        analogue of HNSW skipping unvisited graph regions. The probe
        budget is ``nprobe`` cells (default 8 on the flat index) or,
        rebuild-safe, the cell fraction ``target_frac`` (see
        ``nprobe_for_frac``).
        """
        cells = self._probe_cells(query, self._nprobe(nprobe, target_frac), **probe)
        cand = self.assignments.filter(F.col("cell_id").isin(cells))
        return knn_exact(cand, list(map(float, query)), k,
                         id_col=self.id_col, vec_col=self.vec_col)

    def search_filtered(
        self,
        query,
        k: int,
        *,
        metadata: DataFrame,
        predicate,
        nprobe: int | None = None,
        target_frac: float | None = None,
        meta_id_col: str | None = None,
        **probe,
    ) -> DataFrame:
        """Filtered ANN with PRE-filter semantics: the metadata predicate
        restricts the candidate set BEFORE the distance ranking, so the
        result is the true top-k over the QUALIFYING subset. (The naive
        post-filter — search then drop non-matching — silently returns
        fewer than k whenever matches are sparse among the unfiltered
        neighbors; pre-filtering is the standard fix, cf. Qdrant/Vespa
        filtered-search docs and the filtered-ANN track of big-ANN
        benchmarks.)

        ``metadata`` maps ids to filterable attributes; ``predicate`` is
        a Column over it. Scale: the predicate filters metadata FIRST
        (pushes to its parquet scan), then a semi-join restricts the
        probed candidates — the join shuffles (id) pairs only, never
        vectors; with metadata bucketed by id it is co-located. At very
        low selectivity flip strategy: scan the qualifying ids' vectors
        directly (exact brute force over the match set) — cheaper than
        probing when |matches| << |probed cells|; the caller sees
        identical results either way, so the flip is a pure cost choice.
        """
        cells = self._probe_cells(
            np.asarray(query, dtype=np.float64),
            self._nprobe(nprobe, target_frac),
            **probe,
        )
        cand = self.assignments.filter(F.col("cell_id").isin(cells))
        keep = metadata.filter(predicate).select(
            F.col(meta_id_col or self.id_col).alias(self.id_col)
        )
        cand = cand.join(keep, self.id_col, "left_semi")
        return knn_exact(
            cand, list(map(float, query)), k, id_col=self.id_col, vec_col=self.vec_col
        )

    def _geom_queries(
        self, queries: DataFrame, query_vec_col: str
    ) -> tuple[DataFrame, str]:
        """Queries plus the column cell ranking compares: the PROJECTED
        query on a reduced-geometry index (exact re-rank stays on the
        original query vector), the query vector itself otherwise."""
        if self.proj is None:
            return queries, query_vec_col
        return (
            queries.withColumn(
                "_q_rvec", _project_udf(self.proj)(F.col(query_vec_col))
            ),
            "_q_rvec",
        )

    def _probed_frame(
        self,
        queries: DataFrame,
        nprobe: int,
        query_id_col: str,
        query_vec_col: str,
    ) -> DataFrame:
        """Declarative probe ranking: queries x centroids (broadcast;
        |queries| * num_cells scored rows) -> each query's top-nprobe
        ``(query_id_col, query_vec_col, cell_id)`` rows."""
        cent_df = queries.sparkSession.createDataFrame(
            _matrix_rows(self.centroids), "cell_id INT, centroid ARRAY<DOUBLE>"
        )
        queries, q_geom_col = self._geom_queries(queries, query_vec_col)
        qc = queries.join(F.broadcast(cent_df), how="cross").select(
            query_id_col,
            query_vec_col,
            "cell_id",
            l2_squared(F.col(q_geom_col), F.col("centroid")).alias("_cd"),
        )
        return top_k_per_query(
            qc, nprobe, order=("_cd", "cell_id"), by=query_id_col, sort=False
        ).select(query_id_col, query_vec_col, "cell_id")

    def search_batch(
        self,
        queries: DataFrame,
        k: int,
        *,
        nprobe: int | None = None,
        target_frac: float | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_embedding",
        round_digits: int | None = 4,
        impl: str = "auto",
        known_queries: int | None = None,
        **probe,
    ) -> DataFrame:
        """Batch ANN, fully declarative (no driver-side per-query loop):

        1. probe ranking (``_probed_frame``) -> top-nprobe cells/query;
        2. candidates = assignments joined on the probed cells;
        3. per-query exact re-rank via ranking window.

        Probe budget: ``nprobe`` cells (default 8 on the flat index) or
        the rebuild-safe cell fraction ``target_frac`` (see
        ``nprobe_for_frac``).

        ``impl``: candidate scoring strategy, same rows either way —
        ``"auto"`` (default, round 14) routes on the measured
        candidate-volume thresholds (``_route_batch_impl``): ``"expr"``
        scores with the Catalyst zip_with/aggregate L2 (whole-stage
        codegen, right at low dim and small batches; guarded — an
        explicit ``"expr"`` above the probed-pairs broadcast ceiling
        raises rather than riding into the measured >=5x wall);
        ``"blas"`` cogroups probed pairs with candidates per cell and
        scores one matmul per cell (``_cogroup_blas_topk`` — the
        high-dim answer for query batches too large to broadcast; the
        r12 384-d serve measured the expression form 7-18x slower than
        BLAS on this exact work, and the r13 top-decade run killed the
        expr form unfinished at >=5x).

        ``known_queries`` (round 15): the batch size, when the caller
        already knows it — skips the router's bounded counting job
        (``_route_batch_impl``), which otherwise re-executes the
        queries lineage once per call. Routing is identical either
        way; pass it on interactive serving paths.
        """
        nprobe = self._nprobe(nprobe, target_frac)
        probed = self._probed_frame(
            queries, nprobe, query_id_col, query_vec_col, **probe
        )
        impl = _route_batch_impl(
            impl,
            queries,
            nprobe=nprobe,
            n_rows=self._corpus_rows() if impl == "auto" else 0,
            num_cells=self.num_cells,
            dim=self._full_dim(),
            n_queries=known_queries,
        )
        if impl == "blas":
            return _cogroup_blas_topk(
                probed,
                self.assignments,
                k,
                id_col=self.id_col,
                vec_col=self.vec_col,
                query_id_col=query_id_col,
                query_vec_col=query_vec_col,
                round_digits=round_digits,
                query_id_type=queries.schema[
                    query_id_col
                ].dataType.simpleString(),
            )
        cand = self.assignments.join(
            F.broadcast(probed), on="cell_id", how="inner"
        )
        dist = l2_squared(F.col(self.vec_col), F.col(query_vec_col))
        if round_digits is not None:
            dist = F.round(dist, round_digits)
        scored = cand.select(
            F.col(query_id_col).alias("query_id"),
            F.col(self.id_col).alias("vec_id"),
            dist.alias("dist"),
        )
        return top_k_per_query(scored, k)

    def search_batch_pruned(
        self,
        queries: DataFrame,
        k: int,
        *,
        nprobe: int | None = None,
        target_frac: float | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_embedding",
        round_digits: int | None = 4,
        **probe,
    ) -> DataFrame:
        """Batch ANN over a PERSISTED cell-partitioned index — the
        production serving shape. Probe budget: ``nprobe`` cells
        (default 8 on the flat index) or the rebuild-safe cell fraction
        ``target_frac`` (see ``nprobe_for_frac`` — the r12 drift study
        measured recall 0.994 -> 0.856 from serving a rebuilt index at
        a stale absolute nprobe).

        Probe cells are computed driver-side against the centroids
        (tiny by construction: num_cells x dim), so the candidate scan
        carries a STATIC ``cell_id IN (...)`` predicate. On the
        cell-partitioned Parquet written by :meth:`save` that is
        partition pruning (visible as ``PartitionFilters`` in the plan):
        only the probed cells' files are read — the IVF analogue of HNSW
        skipping unvisited graph regions, without relying on dynamic
        partition pruning kicking in for the join. Queries are
        broadcast-small by contract (same as ``knn_batch``), enforced by
        the same bounded collect. Candidate scoring runs per-cell BLAS
        batches with a map-side top-k cut (``_pruned_blas_topk`` —
        round 12: the expression-form L2 over long arrays dominated the
        measured 384-d serve); results match :meth:`search_batch` at
        the same probe budget, modulo distances landing within one
        BLAS-expansion ulp of a rounding boundary (see ``_blas_topk``).
        """
        nprobe = self._nprobe(nprobe, target_frac)
        q_rows = bounded_query_collect(
            queries,
            query_id_col,
            query_vec_col,
            caller=f"{type(self).__name__}.search_batch_pruned",
            reroute=(
                "index.search_batch(queries, k, <same probe budget>, "
                f"query_id_col={query_id_col!r}, "
                f"query_vec_col={query_vec_col!r}) — the distributed "
                "assign-then-join path with no driver collect"
            ),
        )
        data = []
        for r in q_rows:
            vec = [float(x) for x in r[query_vec_col]]
            for c in self._probe_cells(vec, nprobe, **probe):
                data.append((r[query_id_col], vec, c))
        return _pruned_blas_topk(
            self.assignments,
            data,
            k,
            id_col=self.id_col,
            vec_col=self.vec_col,
            round_digits=round_digits,
            query_id_type=queries.schema[query_id_col].dataType.simpleString(),
        )

    # -- ingest and maintenance -------------------------------------------

    def _assign(self, new_vectors: DataFrame) -> DataFrame:
        """Cell assignment for new rows against the frozen centroids:
        one broadcast-centroid argmin pass, emitting the assignment
        columns (``_carry()`` + ``cell_id``)."""
        cent_df = new_vectors.sparkSession.createDataFrame(
            _matrix_rows(self.centroids), "cell_id INT, centroid ARRAY<DOUBLE>"
        )
        incoming = new_vectors.select(self.id_col, self.vec_col)
        if self.proj is not None:
            # re-project with THIS index's transform (an incoming shard's
            # own projection, if any, is irrelevant to this geometry)
            incoming = incoming.withColumn(
                GEOM_COL, _project_udf(self.proj)(F.col(self.vec_col))
            )
        keep = self._carry()
        scored = incoming.join(F.broadcast(cent_df), how="cross").select(
            *keep,
            "cell_id",
            l2_squared(F.col(self.geom_col), F.col("centroid")).alias("_d"),
        )
        return top_k_per_query(
            scored, 1, order=("_d", "cell_id"), by=self.id_col, sort=False
        ).select(*keep, "cell_id")

    def assign_new(self, new_vectors: DataFrame) -> "IVFIndex":
        """Incrementally index NEW vectors against the EXISTING centroids
        (no refit): one assignment pass over the new rows only
        (``_assign`` — a broadcast-centroid argmin on the flat index,
        the build's own two-stage argmin on the hierarchical one),
        unioned into the assignments. This is the streaming-ingest
        companion (see streaming/ingest.py) — the reference cannot do
        this at all (its graph is build-once per process). Periodic full
        rebuilds remain advisable once drift accumulates, as in any IVF
        system.

        Returns a NEW index of the same class (same centroids, extended
        assignments); the receiver is untouched — same purity contract
        as ``split_hot_cells``/``rebalance``, so a caller keeping the
        pre-ingest index for per-shard serving is safe."""
        # a shallow copy: quantizer state is never mutated in place
        grown = copy.copy(self)
        grown.assignments = self.assignments.unionByName(
            self._assign(new_vectors)
        )
        return grown

    def merge(self, other: "IVFIndex") -> "IVFIndex":
        """Merge another IVF index into this one's cell structure — the
        sharded-build pattern (Faiss ``IndexIVF.merge_from``): build an
        index per shard/day IN PARALLEL, merge for serving. Semantics:
        THIS index's centroids win; the other index's vectors are
        re-assigned to this index's nearest cells in one pass
        (``assign_new``) over the other side only — this index's
        assignment table is untouched, no KMeans refit, nothing
        corpus-sized shuffles. ``other`` may be either index class —
        only its (id, vector) rows are read. Ids are assumed
        disjoint (shards partition the corpus by construction);
        ``merge_verdict``/``cell_stats`` pin exactly-one-cell-per-id
        after the fact. When shard distributions differ enough to
        leave hot cells, chain ``.rebalance()`` — same contract as
        drift ingest. Returns a NEW merged index; NEITHER input is
        modified (both shards stay valid for per-shard serving).

        k-SHARD chaining (the 100 TB pattern is k shards, not 2):
        ``s0.merge(s1).merge(s2)...`` keeps s0's centroid set
        throughout — ``assign_new`` never adds centroids — so every
        incoming vector argmins against the SAME centroids regardless
        of merge order: with a fixed receiver the chained merge is
        ORDER-INVARIANT by construction (pinned by
        tests/test_ann.py::test_ivf_merge_k_shard_chain). The bias
        that does exist is RECEIVER choice: a different first shard
        fits different centroids, and all merged assignments drift
        with it relative to a joint build over the union — occupancy
        skew, not correctness (distances are always exact; full probe
        equals exact search under any receiver). Pick the largest /
        most representative shard as receiver and chain
        ``.rebalance()`` when shard distributions differ."""
        return self.assign_new(
            other.assignments.select(
                F.col(other.id_col).alias(self.id_col),
                F.col(other.vec_col).alias(self.vec_col),
            )
        )

    def cell_stats(self) -> DataFrame:
        """Index structure summary — the IVF analogue of the reference's
        graph-structure checks (node count, degree bounds,
        src/lib.rs:394-406, 455-460): every vector in exactly one cell."""
        return (
            self.assignments.groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n_vectors"))
            .orderBy("cell_id")
        )

    def occupancy_stats(self) -> dict:
        """Cell-occupancy health check — ONE aggregation pass over the
        assignments (index-sized driver result: five numbers). The
        degeneracy this exists to catch was MEASURED, not hypothetical:
        a stock 384-d build put half the corpus in one cell (max_share
        0.51, p50 occupancy 1), silently turning every probe into a
        corpus scan. Deliberately a method, not an automatic build
        step: build() returns lazy assignments, and forcing an extra
        eager pass on every build would double the assignment cost for
        callers that persist immediately. Call it after build (the
        scaling study does), or on load when inheriting an index of
        unknown provenance. Rule of thumb: max_share should be O(1/k);
        max_share * nprobe bounds the fraction of the corpus a probe
        reads. Remedies: ``coarse_dim`` at build (high-d geometry),
        ``rebalance()`` (drift/skew)."""
        row = (
            self.assignments.groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.count(F.lit(1)).alias("cells"),
                F.sum("n").alias("rows"),
                F.max("n").alias("max"),
                F.expr("percentile_approx(n, 0.5)").alias("p50"),
                F.expr("percentile_approx(n, 0.99)").alias("p99"),
            )
            .collect()[0]
        )
        if int(row["cells"] or 0) == 0:
            # Empty assignments: every aggregate above is NULL — report
            # the (obviously unhealthy) empty index instead of letting
            # the health check itself raise TypeError (r10 advisor).
            return {
                "cells": 0, "rows": 0, "max": 0, "p50": 0, "p99": 0,
                "max_share": 0.0,
            }
        total = int(row["rows"] or 0)
        return {
            "cells": int(row["cells"]),
            "rows": total,
            "max": int(row["max"]),
            "p50": int(row["p50"]),
            "p99": int(row["p99"]),
            "max_share": (int(row["max"]) / total) if total else 0.0,
        }

    def _occupancy(self) -> dict:
        """cell_id -> row count (num_cells driver rows)."""
        return {r["cell_id"]: r["n_vectors"] for r in self.cell_stats().collect()}

    def split_hot_cells(
        self,
        *,
        factor: float = 2.0,
        seed: int = DEFAULT_SEED,
        max_cell_fit_rows: int = 100_000,
    ) -> "IVFIndex":
        """Index maintenance under drift: ``assign_new`` funnels new
        vectors into EXISTING cells, so a shifting distribution piles
        rows into a few cells and probe cost degrades toward a scan of
        the hot cell. This repairs occupancy WITHOUT the full refit:
        every cell with occupancy > ``factor`` x mean is split in two
        by a seeded local 2-means over (a bounded sample of) its own
        vectors; one half keeps the cell id, the other gets a fresh id
        after every existing one (``_split`` records it) — ids of cold
        cells (and the saved parquet partitions holding them) never
        change.

        Cost shape: the per-cell fits run in PARALLEL (one
        ``applyInPandas`` group per hot cell — the HierarchicalIVF
        level-2 discipline); only HOT-cell rows are re-scored, against
        exactly 2 centroids each; cold rows are untouched. Driver-side
        state is the occupancy table (num_cells rows) and 2 x |hot|
        sub-centroids. Returns a NEW index (assignments lazily
        re-derived; the caller persists/saves as usual)."""
        return self._split_hot(
            self._occupancy(),
            factor=factor,
            seed=seed,
            max_cell_fit_rows=max_cell_fit_rows,
        )

    def _split_hot(
        self,
        occ: dict,
        *,
        factor: float,
        seed: int,
        max_cell_fit_rows: int = 100_000,
    ) -> "IVFIndex":
        if not occ:
            return self
        mean_occ = sum(occ.values()) / len(occ)
        hot = sorted(c for c, n in occ.items() if n > factor * mean_occ and n >= 2)
        if not hot:
            return self
        hot_rows = self.assignments.filter(F.col("cell_id").isin(hot))
        subs = _fit_hot_subcentroids(
            hot_rows,
            geom_col=self.geom_col,
            seed=seed,
            max_cell_fit_rows=max_cell_fit_rows,
        )
        # fresh ids follow every existing slot, in hot-cell order
        new_id = {c: self.centroids.shape[0] + i for i, c in enumerate(hot)}
        carry = self._carry()
        reassigned = _reassign_hot_rows(
            hot_rows, subs, new_id, geom_col=self.geom_col, carry=carry
        )
        cold = self.assignments.filter(~F.col("cell_id").isin(hot)).select(
            *carry, "cell_id"
        )
        return self._split(subs, new_id, cold.unionByName(reassigned))

    def _split(self, subs: dict, new_id: dict, assignments: DataFrame) -> "IVFIndex":
        """The index after splitting each hot cell ``c`` of ``new_id``:
        sub-centroid 0 replaces ``c``'s centroid, sub-centroid 1 is
        appended as ``new_id[c]``."""
        centroids = self.centroids.copy()
        for c in new_id:
            centroids[c] = subs[(c, 0)]
        centroids = np.vstack([centroids] + [subs[(c, 1)] for c in new_id])
        return IVFIndex(
            centroids,
            assignments,
            id_col=self.id_col,
            vec_col=self.vec_col,
            proj=self.proj,
        )

    def rebalance(
        self,
        *,
        factor: float = 2.0,
        seed: int = DEFAULT_SEED,
    ) -> "IVFIndex":
        """Iterate ``split_hot_cells`` until no cell exceeds ``factor``
        x mean occupancy. One round is NOT enough when a hot cell holds
        a tight drift cluster plus background: 2-means first separates
        cluster from background (the right split — but the cluster side
        stays hot), and only subsequent rounds halve the cluster itself.
        The loop stops early only when a round fails to shrink the
        hottest cell — a degenerate split (e.g. a cell of duplicate
        vectors) that further rounds cannot fix; otherwise the hottest
        cell shrinks every round, so the loop terminates. Each round
        re-seeds deterministically (``seed + round``) and cuts lineage
        with ``localCheckpoint`` so round N+1's fits don't re-execute
        round N's reassignment."""
        idx, occ, r = self, self._occupancy(), 0
        while True:
            nxt = idx._split_hot(occ, factor=factor, seed=seed + r)
            if nxt is idx:
                return idx
            nxt.assignments = nxt.assignments.localCheckpoint(eager=False)
            nxt_occ = nxt._occupancy()
            if max(nxt_occ.values()) >= max(occ.values()):
                return nxt
            idx, occ, r = nxt, nxt_occ, r + 1


AUTO_COARSE_DIM = 64  # the r9/r12-measured healthy coarse geometry


def build_auto(
    corpus: DataFrame,
    *,
    num_cells: int | None = None,
    seed: int = DEFAULT_SEED,
    max_fit_rows: int = 200_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_dim: int | None | str = "auto",
    flat_cell_limit: int = 2048,
):
    """Index-class router encoding the measured flat-vs-hier bracket
    (round 13, from the r12 5M x 384-d class x dimension matrix,
    SCALE.md r12): at single-box cell counts the FLAT index wins
    everything — build 167.7 s vs 296.4 s, serve 1.39-2.17 s vs
    2.08-3.73 s, recall 1.000 vs 0.988-1.000 at ~2.2k cells — because
    one stock KMeans fit is cheaper than the two-level fit plus its
    extra assignment stage. The hierarchy's case is the cell count
    OUTGROWING one KMeans fit (~1e11 vectors -> ~3e5 cells, the 100 TB
    regime): its per-super-cell level-2 fits are embarrassingly
    parallel and its assignment pass costs 2*sqrt(K) distance rows per
    vector instead of K.

    Routes on the TARGET CELL COUNT (``num_cells`` or the sqrt(N)
    default): ``<= flat_cell_limit`` builds :class:`IVFIndex` with
    exactly the flat build's parameters (same seed -> identical index);
    above it builds :class:`HierarchicalIVF` with
    ``k1 = k2 = ceil(sqrt(cells))`` (the balanced split, total
    sub-cells >= the requested count). The 2048 default sits just
    inside the measured bracket's flat-wins region (~2.2k cells); on a
    real cluster raise it toward the largest k one KMeans|| fit
    handles comfortably.

    ``coarse_dim="auto"`` (default) also closes the high-dimension
    footgun the measured r9 collapse documented (IVFIndex.build's
    docstring: a stock 384-d fit put half the corpus in ONE cell, so
    nprobe=8 read 99.8% of it): when the corpus dimension exceeds
    2 x AUTO_COARSE_DIM the cell geometry is fitted in the
    64-d PCA projection (the r12 5M x 384-d campaign's healthy
    setting — exact re-rank always reads the original vectors), else
    raw geometry. Pass an int to pick the projection yourself, or
    ``None`` to force raw geometry at any dimension."""
    n = corpus.count()
    cells = num_cells or _num_cells_default(n)
    if coarse_dim == "auto":
        dim = len(corpus.select(vec_col).first()[0])
        coarse_dim = AUTO_COARSE_DIM if dim > 2 * AUTO_COARSE_DIM else None
    if cells <= flat_cell_limit:
        return IVFIndex.build(
            corpus,
            num_cells=cells,
            seed=seed,
            max_fit_rows=max_fit_rows,
            id_col=id_col,
            vec_col=vec_col,
            coarse_dim=coarse_dim,
        )
    side = int(np.ceil(np.sqrt(cells)))
    return HierarchicalIVF.build(
        corpus,
        k1=side,
        k2=side,
        seed=seed,
        max_fit_rows=max_fit_rows,
        id_col=id_col,
        vec_col=vec_col,
        coarse_dim=coarse_dim,
    )


class LSHIndex:
    """Euclidean LSH alternative (stock pyspark.ml
    BucketedRandomProjectionLSH) behind the same search interface —
    SURVEY.md §7 M5 keeps both, picked by measured recall/latency."""

    def __init__(self, corpus: DataFrame, *, bucket_length: float = 4.0,
                 num_hash_tables: int = 4, seed: int = DEFAULT_SEED,
                 id_col: str = "vec_id", vec_col: str = "embedding"):
        from pyspark.ml.feature import BucketedRandomProjectionLSH
        from pyspark.ml.functions import array_to_vector

        self.id_col = id_col
        self.vec_col = vec_col
        self._feat = corpus.select(
            F.col(id_col),
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("_features"),
        )
        self._lsh = BucketedRandomProjectionLSH(
            inputCol="_features",
            outputCol="_hashes",
            bucketLength=bucket_length,
            numHashTables=num_hash_tables,
            seed=seed,
        ).fit(self._feat)
        self._hashed = self._lsh.transform(self._feat)

    def search(self, query, k: int) -> DataFrame:
        from pyspark.ml.linalg import Vectors

        res = self._lsh.approxNearestNeighbors(
            self._hashed, Vectors.dense([float(x) for x in query]), k,
            distCol="_eucl"
        )
        return res.select(
            F.col(self.id_col).alias("vec_id"),
            F.round(F.col("_eucl") * F.col("_eucl"), 4).alias("dist"),
        ).orderBy("dist", "vec_id")


class HierarchicalIVF(IVFIndex):
    """Two-level IVF coarse quantizer — the standard escape when the
    cell count outgrows a single KMeans fit (SCALE.md: ~3e5 cells at
    1e11 vectors makes one flat KMeans|| fit the build bottleneck).

    Build (all cluster-parallel):
    1. level-1: stock pyspark.ml KMeans over a bounded sample ->
       ``k1`` super-cells (small fit);
    2. level-2: the sample is assigned to super-cells, and EVERY
       super-cell's ``k2``-means fit runs IN PARALLEL as one
       ``applyInPandas`` group (seeded numpy Lloyd — a few thousand
       sample rows per group, no sklearn dependency). The expensive
       part of a huge-k build becomes an embarrassingly parallel stage
       instead of one giant fit;
    3. assignment: one Arrow pass over the corpus computes ``argmin``
       against the broadcast (k1 x dim) matrix, then against that
       super-cell's (k2 x dim) block — 2·sqrt(K) distance rows per
       vector instead of K for the flat index.

    Cells are COMPOSITE ids ``l1 * k2 + l2``; cells created by
    ``split_hot_cells`` after build are OVERFLOW cells with fresh ids
    past that range, each ranked and assigned as one more sub-cell of
    its parent super-cell. ``centroids`` is the dense composite-id
    matrix (unused slots of under-filled blocks hold a far-away
    phantom centroid, so they never rank), which is all the inverted
    lists and ``IVFPQIndex.build`` need; ``num_cells`` counts real
    cells only.

    Everything after "which cells" is the flat :class:`IVFIndex`'s:
    search, filtered/batch/pruned search, ingest union, merge,
    occupancy, splitting and rebalance, and the assignments half of
    persistence. This class overrides only the quantizer:

    - probe ranking — ``_probe_cells`` ranks only the sub-cells of the
      ``nprobe_l1`` nearest super-cells (default: all; every search
      method accepts ``nprobe_l1=`` and forwards it), and
      ``_probed_frame`` is the two-window declarative form
      ``search_batch`` uses;
    - assignment of new rows — the build's two-stage argmin
      (``_hier_assign_fn``);
    - the default probe budget — half of all cells (flat: 8), the
      recall-equivalent operating point: on sf0.01 hier (8, 32) scored
      0.931 recall@10 vs flat nprobe=8 0.913;
    - split bookkeeping — a split cell's second half becomes an
      overflow cell of the same parent;
    - the centroid tables ``save``/``load`` write and read (l1, l2,
      overflow, stride).

    L1 pruning (``nprobe_l1 < k1``) only pays when sqrt(K) centroids no
    longer fit a broadcast / single argsort — K ≳ 1e6 cells (SCALE.md);
    below that the hierarchy's win is the parallel BUILD and the
    2·sqrt(K) assignment pass, not search-time pruning.
    """

    _PHANTOM_CENTROID = 1e15  # unused composite slots: never probed

    def __init__(
        self,
        l1_centroids: np.ndarray,
        l2_centroids: dict[int, np.ndarray],
        assignments: DataFrame,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k2_stride: int | None = None,
        proj: np.ndarray | None = None,
        overflow: dict | None = None,
    ):
        self.l1_centroids = np.asarray(l1_centroids, dtype=np.float64)
        self.l2_centroids = {int(k): np.asarray(v, dtype=np.float64) for k, v in l2_centroids.items()}
        # overflow: cell_id -> (parent_l1, centroid), ids >= k1 * stride
        # so saved partitions and the stride decode never change
        self.overflow = {
            int(c): (int(p), np.asarray(v, dtype=np.float64))
            for c, (p, v) in (overflow or {}).items()
        }
        # The stride is FIXED AT BUILD TIME (the requested k2), not
        # inferred from the realized sub-block sizes: if every
        # super-cell under-fills (tiny fit sample), max(len(block)) <
        # the build stride and every probe would decode cell ids on the
        # wrong stride. ``save``/``load`` round-trip it explicitly.
        self.k2 = (
            int(k2_stride)
            if k2_stride is not None
            else max(len(v) for v in self.l2_centroids.values())
        )
        n_slots = self.k2 * len(self.l1_centroids)
        if self.overflow:
            n_slots = max(n_slots, max(self.overflow) + 1)
        dense = np.full(
            (n_slots, self.l1_centroids.shape[1]), self._PHANTOM_CENTROID
        )
        # parent super-cell per slot; -1 marks a phantom slot
        self._parent = np.full(n_slots, -1, dtype=np.int64)
        for l1, block in self.l2_centroids.items():
            dense[l1 * self.k2 : l1 * self.k2 + len(block)] = block
            self._parent[l1 * self.k2 : l1 * self.k2 + len(block)] = l1
        for cid, (parent, cent) in self.overflow.items():
            dense[cid] = cent
            self._parent[cid] = parent
        super().__init__(
            dense, assignments, id_col=id_col, vec_col=vec_col, proj=proj
        )

    @property
    def num_cells(self) -> int:
        """Real cells (sub-cells plus overflow), never phantom slots."""
        return int((self._parent >= 0).sum())

    def _default_nprobe(self) -> int:
        return max(1, self.num_cells // 2)

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        *,
        k1: int = 8,
        k2: int = 8,
        seed: int = DEFAULT_SEED,
        max_fit_rows: int = 200_000,
        lloyd_iters: int = 10,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        coarse_dim: int | None = None,
    ) -> "HierarchicalIVF":
        """``coarse_dim`` (round 10): fit BOTH quantizer levels in a
        PCA-reduced space — the flat index's round-9 fix
        (``IVFIndex.build``'s docstring has the measured 384-d
        collapse; the hierarchical level-1 fit degenerates by the
        same geometry, and a collapsed level 1 starves every level-2
        fit of its own cell's data). Exact re-rank always reads the
        original vectors, so full probe == exact at any projection."""
        from pyspark.ml.clustering import KMeans

        _, _, fit_df, proj, geom = _fit_frame(
            corpus,
            id_col=id_col,
            vec_col=vec_col,
            coarse_dim=coarse_dim,
            max_fit_rows=max_fit_rows,
            seed=seed,
        )
        l1_model = KMeans(
            k=k1, seed=seed, featuresCol="_features", predictionCol="l1"
        ).fit(fit_df)
        l1_cent = np.vstack([np.asarray(c) for c in l1_model.clusterCenters()])

        # Parallel level-2 fits: one seeded Lloyd run per super-cell
        # group over the GEOMETRY column. Deterministic: the seed
        # derives from (seed, l1).
        def fit_group(pdf: pd.DataFrame) -> pd.DataFrame:
            l1 = int(pdf["l1"].iloc[0])
            cent = _lloyd(_stack(pdf[geom]), k2, seed * 100003 + l1, lloyd_iters)
            return pd.DataFrame(
                {
                    "l1": [l1] * len(cent),
                    "l2": list(range(len(cent))),
                    "centroid": [c.tolist() for c in cent],
                }
            )

        cent_rows = (
            l1_model.transform(fit_df)
            .select("l1", geom)
            .groupBy("l1")
            .applyInPandas(fit_group, schema="l1 INT, l2 INT, centroid ARRAY<DOUBLE>")
            .collect()
        )
        l2_cent: dict[int, list] = {}
        for r in sorted(cent_rows, key=lambda r: (r["l1"], r["l2"])):
            l2_cent.setdefault(r["l1"], []).append(r["centroid"])
        l2_cent_np = {k_: np.asarray(v) for k_, v in l2_cent.items()}
        # A KMeans cluster can end up empty on the sample; give such a
        # super-cell its own centroid as the single sub-centroid so
        # corpus vectors landing there still get a valid cell.
        for l1 in range(k1):
            if l1 not in l2_cent_np:
                l2_cent_np[l1] = l1_cent[l1 : l1 + 1]
        idx = cls(
            l1_cent,
            l2_cent_np,
            None,
            id_col=id_col,
            vec_col=vec_col,
            k2_stride=k2,
            proj=proj,
        )
        idx.assignments = idx._assign(corpus)
        return idx

    def _overflow_by_parent(self) -> dict[int, tuple[np.ndarray, np.ndarray]]:
        """Overflow cells grouped per super-cell: l1 -> (cell ids,
        centroid matrix) — the shape the assignment pass consumes."""
        by_parent: dict[int, tuple[list, list]] = {}
        for cid, (parent, cent) in sorted(self.overflow.items()):
            by_parent.setdefault(parent, ([], []))
            by_parent[parent][0].append(cid)
            by_parent[parent][1].append(cent)
        return {
            p: (np.asarray(ids, dtype=np.int64), np.vstack(cents))
            for p, (ids, cents) in by_parent.items()
        }

    def _probe_cells(
        self, query, nprobe: int, *, nprobe_l1: int | None = None
    ) -> list[int]:
        """The ``nprobe`` nearest cells among the sub-cells (overflow
        included) of the ``nprobe_l1`` nearest super-cells (default:
        all), ties broken by cell id."""
        q = self._geom_query(query)
        if nprobe_l1 is None:
            nprobe_l1 = len(self.l1_centroids)
        d1 = ((self.l1_centroids - q) ** 2).sum(axis=1)
        l1s = np.argsort(d1, kind="stable")[: max(1, nprobe_l1)]
        eligible = np.isin(self._parent, l1s)
        d = ((self.centroids - q) ** 2).sum(axis=1)
        d[~eligible] = np.inf
        order = np.argsort(d, kind="stable")
        return [int(c) for c in order[: min(max(1, nprobe), int(eligible.sum()))]]

    def _probed_frame(
        self,
        queries: DataFrame,
        nprobe: int,
        query_id_col: str,
        query_vec_col: str,
        *,
        nprobe_l1: int | None = None,
    ) -> DataFrame:
        """Two-window declarative probe ranking: queries x L1 centroids
        (broadcast; |queries| * k1 rows) -> top-``nprobe_l1``
        super-cells per query; join those to the (l1, cell) table
        (overflow cells ride as extra sub-cells of their parent — the
        centroid set ``_probe_cells`` scores) and rank the exposed
        cells -> top-``nprobe`` per query."""
        if nprobe_l1 is None:
            nprobe_l1 = len(self.l1_centroids)
        spark = queries.sparkSession
        l1_df = spark.createDataFrame(
            _matrix_rows(self.l1_centroids), "l1 INT, centroid ARRAY<DOUBLE>"
        )
        l2_df = spark.createDataFrame(
            [
                (int(parent), cid, row)
                for (cid, row), parent in zip(
                    _matrix_rows(self.centroids), self._parent
                )
                if parent >= 0
            ],
            "l1 INT, cell_id INT, centroid ARRAY<DOUBLE>",
        )
        queries, q_geom_col = self._geom_queries(queries, query_vec_col)
        qcols = list(dict.fromkeys([query_id_col, query_vec_col, q_geom_col]))
        q1 = queries.join(F.broadcast(l1_df), how="cross").select(
            *qcols,
            "l1",
            l2_squared(F.col(q_geom_col), F.col("centroid")).alias("_d1"),
        )
        probed_l1 = top_k_per_query(
            q1, nprobe_l1, order=("_d1", "l1"), by=query_id_col, sort=False
        ).select(*qcols, "l1")
        q2 = probed_l1.join(F.broadcast(l2_df), on="l1").select(
            query_id_col,
            query_vec_col,
            "cell_id",
            l2_squared(F.col(q_geom_col), F.col("centroid")).alias("_d2"),
        )
        return top_k_per_query(
            q2, nprobe, order=("_d2", "cell_id"), by=query_id_col, sort=False
        ).select(query_id_col, query_vec_col, "cell_id")

    def _assign(self, new_vectors: DataFrame) -> DataFrame:
        """The build's own two-stage argmin (``_hier_assign_fn``), so
        ingest placement equals build placement by construction."""
        bc = new_vectors.sparkSession.sparkContext.broadcast(
            (
                self.l1_centroids,
                self.l2_centroids,
                self.k2,
                self.proj,
                self._overflow_by_parent(),
            )
        )
        # Honor the caller's id column name AND type (hardcoding
        # `vec_id BIGINT` broke custom — e.g. string — ids under the
        # engine facade's hierarchical build).
        id_type = new_vectors.schema[self.id_col].dataType.simpleString()
        geom_field = (
            f", {GEOM_COL} ARRAY<FLOAT>" if self.proj is not None else ""
        )
        return new_vectors.select(self.id_col, self.vec_col).mapInPandas(
            _hier_assign_fn(bc, self.id_col, self.vec_col),
            schema=(
                f"{self.id_col} {id_type}, {self.vec_col} ARRAY<FLOAT>, "
                f"cell_id INT{geom_field}"
            ),
        )

    def _split(
        self, subs: dict, new_id: dict, assignments: DataFrame
    ) -> "HierarchicalIVF":
        """A split cell's sub-centroid 0 updates it in place (its l2
        block row, or its overflow entry); sub-centroid 1 becomes
        overflow cell ``new_id[c]`` of the same parent, so the composite
        encoding, the stride decode and every saved cold partition stay
        untouched."""
        new_l2 = {k: v.copy() for k, v in self.l2_centroids.items()}
        new_overflow = dict(self.overflow)
        for c, nid in new_id.items():
            parent = int(self._parent[c])
            if c in self.overflow:
                new_overflow[c] = (parent, subs[(c, 0)])
            else:
                new_l2[parent][c % self.k2] = subs[(c, 0)]
            new_overflow[nid] = (parent, subs[(c, 1)])
        return HierarchicalIVF(
            self.l1_centroids,
            new_l2,
            assignments,
            id_col=self.id_col,
            vec_col=self.vec_col,
            k2_stride=self.k2,
            proj=self.proj,
            overflow=new_overflow,
        )

    def _save_quantizer(self, spark: SparkSession, path: str) -> None:
        _write_table(
            spark, _matrix_rows(self.l1_centroids),
            "l1 INT, centroid ARRAY<DOUBLE>", f"{path}/l1_centroids",
        )
        _write_table(
            spark,
            [
                (int(l1_), int(l2_), [float(x) for x in row])
                for l1_, block in sorted(self.l2_centroids.items())
                for l2_, row in enumerate(block)
            ],
            "l1 INT, l2 INT, centroid ARRAY<DOUBLE>",
            f"{path}/l2_centroids",
        )
        # ALWAYS written (empty is fine): load() probes overflow/ by
        # reading, so an in-place re-save of an overflow-free index
        # (e.g. a fresh rebuild) over a path that previously held a
        # split index must overwrite the stale table — otherwise
        # phantom centroids re-enter probe ranking and assign_new, and
        # num_cells inflates so target_frac budgets mis-resolve.
        _write_table(
            spark,
            [
                (int(c), int(p), [float(x) for x in cent])
                for c, (p, cent) in sorted(self.overflow.items())
            ],
            "cell_id INT, parent_l1 INT, centroid ARRAY<DOUBLE>",
            f"{path}/overflow",
        )
        # The cell-id stride is build-time state, not derivable from the
        # centroid blocks (an under-filled build has max block < stride).
        # Written LAST: its _SUCCESS marker implies the whole index
        # committed.
        _write_table(spark, [(int(self.k2),)], "k2_stride INT", f"{path}/meta")

    @classmethod
    def _load_quantizer(cls, spark: SparkSession, path: str) -> dict:
        l1 = _read_matrix(spark, f"{path}/l1_centroids", "l1", "centroid")
        l2: dict[int, list] = {}
        for r in sorted(
            spark.read.parquet(f"{path}/l2_centroids").collect(),
            key=lambda r: (r["l1"], r["l2"]),
        ):
            l2.setdefault(int(r["l1"]), []).append(r["centroid"])
        try:
            stride = int(
                spark.read.parquet(f"{path}/meta").first()["k2_stride"]
            )
        except Exception:
            # pre-round-7 saves carry no meta; fall back to the old
            # inference (correct whenever some super-cell filled up)
            stride = None
        try:
            # absent on every pre-r13 save — a local-FS existence check
            # would break non-local paths, so probe by reading like the
            # stride above.
            overflow = {
                int(r["cell_id"]): (int(r["parent_l1"]), r["centroid"])
                for r in spark.read.parquet(f"{path}/overflow").collect()
            }
        except Exception:
            overflow = {}
        return {
            "l1_centroids": l1,
            "l2_centroids": {k: np.asarray(v) for k, v in l2.items()},
            "k2_stride": stride,
            "overflow": overflow,
        }


class IVFPQIndex:
    """IVF-PQ: product-quantized RESIDUAL codes over the IVF coarse
    quantizer — the memory-bound serving layout (Jégou, Douze & Schmid
    2011, "Product Quantization for Nearest Neighbor Search", the ADC
    scheme; the same structure Faiss calls IndexIVFPQ). The reference
    holds every full vector in RAM forever (src/lib.rs: Vec<Vec<f32>>);
    PQ collapses per-vector memory from dim*4 bytes to ``m`` code bytes
    (64-dim float32 -> 16 bytes at m=16, a 16x reduction; codes are
    byte-packed into one BINARY value per vector — ksub <= 256 by
    construction — so the stored row is literally m bytes plus ids),
    which is what makes a 1e11-vector serving tier fit on a real
    cluster. Honest characterization: on the
    driver's structure-free iid-random synthetic vectors residuals are
    pure noise, so distortion is near worst-case — measured at dim=64,
    full probe: m=16/ksub=16 gives ADC-only recall@10 ~ 0.4, 0.81 with
    refine=4, 1.0 at refine=16; widening codebooks to ksub=64 (or
    m=32) reaches 1.0 already at refine=8, and holds 1.0 at 10x the
    corpus (sf0.01, 5000 vectors). Real embedding corpora have low
    intrinsic dimension and quantize far better (tests/test_ann.py
    pins the measured bars; on the structured planted-cluster corpus
    the same m=8/ksub=16 setting jumps 0.713 -> 0.981 at refine=4).
    Sizing rule measured in the round-6 recall tables: ``refine``
    buys recall as a FRACTION of the corpus, not an absolute count —
    at fixed refine=4 on random data, recall@10 drops 0.713 (n=500)
    -> 0.531 (n=2000); scale ``refine`` with n (or switch to the
    fraction that hits your recall bar on a held-out sample).

    Layout and scale shape:

    - **fit** (driver-side, bounded): subquantizer codebooks are trained
      on a SAMPLE of residuals (vector minus its cell centroid) with
      seeded numpy Lloyd iterations — the codebook is tiny
      (m x ksub x dim/m doubles) and broadcastable, like the centroid
      matrix;
    - **encode** (distributed): one Arrow ``mapInPandas`` pass over the
      assignments; the corpus-sized output is only
      ``(vec_id, cell_id, codes)`` — the float vectors stay in the
      store and never ride along with the index;
    - **search** (ADC — asymmetric distance computation): probe cells
      driver-side exactly like ``IVFIndex.search_batch_pruned``; build
      one (m x ksub) lookup table per probed cell from the QUERY
      residual (query stays un-quantized — that is the "asymmetric"
      part); score candidates with pure table gathers (no float vectors
      read); optionally re-rank the top ``refine * k`` ADC candidates
      exactly against the store — the standard recall repair, paying
      full-vector reads for only a handful of rows.
    """

    def __init__(
        self,
        centroids: np.ndarray,
        codebooks: np.ndarray,
        codes: DataFrame,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        proj: np.ndarray | None = None,
        code_centroids: np.ndarray | None = None,
    ):
        self.centroids = np.asarray(centroids, dtype=np.float64)
        self.codebooks = np.asarray(codebooks, dtype=np.float64)  # (m, ksub, dsub)
        self.codes = codes  # vec_id, cell_id, codes BINARY (m bytes)
        self.id_col = id_col
        self.vec_col = vec_col
        # Inherited from a coarse_dim IVF: by default codes quantize
        # REDUCED-space residuals (OPQ-shaped IVFADC — project, then PQ
        # the projected residual); ADC then approximates reduced-space
        # distances and ``refine`` re-ranks against the TRUE vectors.
        # MEASURED limit of that default (SCALE.md r14): at 5M x 384-d
        # with 64-d coarse geometry, reduced-space ADC ordering holds
        # only ~0.23 top-10 overlap with the full-space truth at
        # refine=8 — the 320 discarded dimensions carry most of the
        # distance signal on isotropic-noise corpora. ``code_centroids``
        # (build(code_space="full")) switches the CODES to FULL-space
        # residuals against per-cell full-dimension means while probe
        # ranking stays in the cheap reduced geometry — ADC then
        # approximates the true distance and refine behaves like the
        # measured full-space bars.
        self.proj = None if proj is None else np.asarray(proj, dtype=np.float64)
        self.code_centroids = (
            None
            if code_centroids is None
            else np.asarray(code_centroids, dtype=np.float64)
        )

    _lloyd = staticmethod(_lloyd)

    @classmethod
    def build(
        cls,
        ivf: "IVFIndex",
        *,
        m: int = 8,
        ksub: int = 16,
        seed: int = DEFAULT_SEED,
        max_fit_rows: int = 50_000,
        lloyd_iters: int = 15,
        code_space: str | None = None,
        fit_distributed: bool | None = None,
    ) -> "IVFPQIndex":
        """``code_space`` (round 14): ``"geom"`` quantizes residuals in
        the index's cell GEOMETRY space — the original vectors on a raw
        index, the PCA-reduced column on a ``coarse_dim`` index
        (OPQ-shaped). ``"full"`` quantizes FULL-dimension residuals
        against per-cell full-space means even on a reduced-geometry
        index (probe ranking stays reduced) — the measured requirement
        for top-decade serving: reduced-space ADC ordering held only
        ~0.23 top-10 overlap with the truth at 5M x 384-d (SCALE.md
        r14) because the discarded dimensions carry most of the
        distance signal, while full-space codes put ADC back on the
        true distance's scent at m bytes/vector.

        Default (round 15, closing the r14 verdict's one weak):
        ``None`` resolves to ``"full"`` — the measured-default
        discipline of ``_route_batch_impl``. ``build_auto`` routes
        high-dimension corpora to reduced geometry, so the old
        ``"geom"`` default put a SILENT 0.23-overlap serving index on
        exactly the recommended path; geom codes on a reduced index are
        now an explicit opt-in. On a raw (``proj is None``) index geom
        and full are the same space, so this resolution is
        behavior-identical there."""
        if code_space is None:
            code_space = "full"
        if code_space not in ("geom", "full"):
            raise ValueError(
                f"code_space must be 'geom' or 'full', got {code_space!r}"
            )
        asg = ivf.assignments
        id_col, vec_col = ivf.id_col, ivf.vec_col
        geom_col = ivf.geom_col
        # Either index class: a HierarchicalIVF's centroids are its dense
        # composite-cell matrix (phantom slots pushed far away).
        centroids = ivf.centroids
        full_codes = code_space == "full" and ivf.proj is not None
        if full_codes:
            # Per-cell FULL-space means: one applyInPandas over the
            # cells, num_cells x dim doubles to the driver
            # (index-sized, same class as the centroid matrix).
            def cell_mean(pdf: pd.DataFrame) -> pd.DataFrame:
                xm = _stack(pdf[vec_col])
                return pd.DataFrame(
                    {
                        "cell_id": [int(pdf["cell_id"].iloc[0])],
                        "centroid": [xm.mean(axis=0).tolist()],
                    }
                )

            mean_rows = (
                asg.select("cell_id", vec_col)
                .groupBy("cell_id")
                .applyInPandas(cell_mean, "cell_id INT, centroid ARRAY<DOUBLE>")
                .collect()
            )
            # NaN-fill so an unpopulated cell's row can never be
            # silently misused as a valid mean (round 15, advisor: the
            # old zero fill was indistinguishable from a real mean in
            # the saved code_centroids table). Benign in every current
            # path — empty cells have no codes, so no ADC table or
            # residual is ever evaluated against these rows; a future
            # re-encode that DID gather a NaN row now fails loudly
            # inside encode() (round 16, advisor: argmin over an
            # all-NaN distance row would otherwise silently emit code
            # 0 and the corruption would only surface later as NaN ADC
            # scores at search time).
            code_cent = np.full(
                (centroids.shape[0], int(ivf.proj.shape[0])),
                np.nan,
                dtype=np.float64,
            )
            for r in mean_rows:
                code_cent[int(r["cell_id"])] = np.asarray(r["centroid"])
            code_col = vec_col
        else:
            code_cent = centroids
            code_col = geom_col
        dim = code_cent.shape[1]
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        if ksub > 256:
            raise ValueError(f"ksub={ksub} exceeds one byte per code")
        dsub = dim // m

        # Bounded driver-side sample of residuals for the codebook fit.
        n = asg.count()
        fit_df = asg
        if n > max_fit_rows:
            fit_df = asg.sample(fraction=max_fit_rows / n, seed=seed)
        rows = fit_df.select(code_col, "cell_id").collect()
        x = np.vstack([np.asarray(r[code_col], dtype=np.float64) for r in rows])
        cells = np.asarray([r["cell_id"] for r in rows])
        resid = x - code_cent[cells]
        spark = asg.sparkSession
        # The m subquantizer fits are independent — at serving-tier
        # settings they dominate the build wall when run sequentially
        # on the driver (measured r14: the 5M x 384-d m=48/ksub=256
        # build spent most of its 1,745 s here). Distribute them one
        # task per subquantizer against the broadcast residual sample;
        # same seeds -> bit-identical codebooks (pinned by test).
        # Tiny fits stay on the driver: task overhead would dominate.
        if fit_distributed is None:
            est_flops = len(resid) * ksub * dsub * m * lloyd_iters
            fit_distributed = est_flops >= 2e9
        if fit_distributed and m > 1:
            bc_resid = spark.sparkContext.broadcast(
                np.ascontiguousarray(resid)
            )

            def fit_block(j: int):
                r = bc_resid.value
                return j, _lloyd(
                    r[:, j * dsub : (j + 1) * dsub],
                    ksub,
                    seed * 99991 + j,
                    iters=lloyd_iters,
                )

            fitted = dict(
                spark.sparkContext.parallelize(range(m), m)
                .map(fit_block)
                .collect()
            )
            codebooks = np.stack([fitted[j] for j in range(m)])
        else:
            codebooks = np.stack(
                [
                    cls._lloyd(
                        resid[:, j * dsub : (j + 1) * dsub],
                        ksub,
                        seed * 99991 + j,
                        iters=lloyd_iters,
                    )
                    for j in range(m)
                ]
            )
        bc = spark.sparkContext.broadcast((code_cent, codebooks))

        def encode(it):
            import pandas as pd

            cent, books = bc.value
            m_, _, dsub_ = books.shape
            # matmul-form nearest-codeword: argmin of |b|^2 - 2 sub@b.T
            # (the |sub|^2 term is constant per row) — one BLAS call
            # per subquantizer instead of a (rows x ksub x dsub)
            # broadcast temp; at m=48/ksub=256 the broadcast form was
            # the 5M encode's wall (r14).
            bnorms = [(books[j] ** 2).sum(axis=1) for j in range(m_)]
            for pdf in it:
                xb = _stack(pdf[code_col])
                gathered = cent[pdf["cell_id"].to_numpy()]
                # A NaN row here is the sentinel for an unpopulated
                # cell (see the NaN-fill above): encoding against it
                # would silently emit code 0. Fail loudly instead.
                if not np.isfinite(gathered).all():
                    bad = sorted(
                        set(
                            pdf["cell_id"].to_numpy()[
                                ~np.isfinite(gathered).all(axis=1)
                            ].tolist()
                        )
                    )
                    raise ValueError(
                        f"encode() gathered NaN code-centroid rows for "
                        f"cells {bad[:8]} — these cells were empty at "
                        "build time and have no valid mean; rebuild the "
                        "index (or re-assign) before encoding into them."
                    )
                rb = xb - gathered
                codes = np.empty((len(rb), m_), dtype=np.uint8)
                for j in range(m_):
                    sub = rb[:, j * dsub_ : (j + 1) * dsub_]
                    d = bnorms[j][None, :] - 2.0 * (sub @ books[j].T)
                    codes[:, j] = d.argmin(axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf[id_col].astype("int64"),
                        "cell_id": pdf["cell_id"].astype("int32"),
                        "codes": [row.tobytes() for row in codes],
                    }
                )

        codes = asg.select(id_col, code_col, "cell_id").mapInPandas(
            encode, schema="vec_id BIGINT, cell_id INT, codes BINARY"
        )
        return cls(
            centroids, codebooks, codes,
            id_col=id_col, vec_col=vec_col, proj=ivf.proj,
            code_centroids=code_cent if full_codes else None,
        )

    def _adc_scored(self, query, nprobe: int) -> DataFrame:
        """ADC scores for all candidates in the probed cells: a static
        ``cell_id IN (...)`` scan over the codes (partition-prunable
        when saved partitioned by cell_id) + per-batch table gathers."""
        q_full = np.asarray(query, dtype=np.float64)
        q = q_full @ self.proj if self.proj is not None else q_full
        d = ((self.centroids - q) ** 2).sum(axis=1)
        cells = [int(c) for c in np.argsort(d, kind="stable")[: max(1, nprobe)]]
        m, ksub, dsub = self.codebooks.shape
        # One (m x ksub) table per probed cell, from the query residual
        # in the CODE space: reduced geometry by default, full-space
        # means for code_space="full" (probe ranking stays reduced).
        tab_cent = (
            self.code_centroids
            if self.code_centroids is not None
            else self.centroids
        )
        tab_q = q_full if self.code_centroids is not None else q
        tables = {}
        for c in cells:
            r = tab_q - tab_cent[c]
            tables[c] = np.stack(
                [
                    ((self.codebooks[j] - r[j * dsub : (j + 1) * dsub]) ** 2).sum(
                        axis=1
                    )
                    for j in range(m)
                ]
            )
        spark = self.codes.sparkSession
        bc = spark.sparkContext.broadcast(tables)

        def score(it):
            import pandas as pd

            tb = bc.value
            for pdf in it:
                if not len(pdf):
                    continue
                codes = np.vstack(
                    pdf["codes"].apply(
                        lambda b: np.frombuffer(bytes(b), dtype=np.uint8)
                    )
                )
                adc = np.empty(len(pdf), dtype=np.float64)
                cell_arr = pdf["cell_id"].to_numpy()
                for c in np.unique(cell_arr):
                    msk = cell_arr == c
                    t = tb[int(c)]  # (m, ksub)
                    adc[msk] = t[np.arange(t.shape[0]), codes[msk]].sum(axis=1)
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"].astype("int64"), "adc": adc}
                )

        return self.codes.filter(F.col("cell_id").isin(cells)).mapInPandas(
            score, schema="vec_id BIGINT, adc DOUBLE"
        )

    def search(
        self,
        query,
        k: int,
        *,
        nprobe: int = 8,
        refine: int = 4,
        store: DataFrame | None = None,
    ) -> DataFrame:
        """Top-k by ADC, optionally exact-refined: the top ``refine*k``
        ADC candidates re-rank against their TRUE vectors from ``store``
        (required when ``refine > 0`` — the index holds only codes, so
        full vectors must come from the caller's store) — full-vector
        reads for refine*k rows only. ``refine=0`` returns raw ADC
        ranks with the approximate distance."""
        scored = self._adc_scored(query, nprobe)
        if refine <= 0:
            return (
                scored.select("vec_id", F.round("adc", 4).alias("dist"))
                .orderBy("dist", "vec_id")
                .limit(k)
            )
        if store is None:
            raise ValueError("refine > 0 requires the vector store (store=)")
        cand = scored.orderBy("adc", "vec_id").limit(max(refine, 1) * k)
        keep = cand.select(F.col("vec_id").alias("_cand_id"))
        joined = store.join(
            F.broadcast(keep), on=store[self.id_col] == F.col("_cand_id"), how="inner"
        )
        return knn_exact(
            joined.select(F.col(self.id_col).alias("vec_id"),
                          F.col(self.vec_col).alias(self.vec_col)),
            list(map(float, query)),
            k,
            id_col="vec_id",
            vec_col=self.vec_col,
        )

    def search_batch(
        self,
        queries: DataFrame,
        k: int,
        *,
        nprobe: int = 8,
        refine: int = 4,
        store: DataFrame | None = None,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_embedding",
        round_digits: int | None = 4,
    ) -> DataFrame:
        """DISTRIBUTED batch serving over PQ codes (round 14, r13
        verdict item 4): the r13 cogroup-BLAS wall at 10k x 5M x 384-d
        moved ~7e8 candidate pairs x 1,536 float-vector bytes through
        the exchange; here the candidate side is the m-byte CODES table
        (~32x fewer bytes at 384-d), scored by per-query ADC lookup
        tables built inside each cell group, and only the top
        ``refine*k`` survivors per query read their true vectors.

        Fully declarative — queries never collect to the driver (the
        distributed regime ``search`` cannot serve):

        1. queries x centroids (broadcast) -> top-``nprobe`` cells per
           query (reduced-geometry queries are projected first);
        2. ``_cogroup_adc_topk``: per-cell gather-sum ADC with a
           map-side top-``refine*k`` cut under (adc, vec_id);
        3. global per-query top-``refine*k`` window over the ADC
           scores;
        4. ``refine > 0``: join the survivors to ``store`` on id and to
           the query batch on query id (both shuffle-keyed, both
           candidate-sized — |queries| x refine*k rows, never
           corpus-sized), score exactly (Arrow row-wise L2), window
           top-k. ``refine=0`` returns raw ADC ranks (approximate
           distances, same contract as ``search(refine=0)``).

        Same-k equality with the full-vector paths holds exactly when
        the ADC top-``refine*k`` contains the true top-k (the measured
        full-probe+refine bars in tests/test_ann.py, now pinned for
        this distributed path too)."""
        if refine > 0 and store is None:
            raise ValueError("refine > 0 requires the vector store (store=)")
        cent_df = queries.sparkSession.createDataFrame(
            _matrix_rows(self.centroids), "cell_id INT, centroid ARRAY<DOUBLE>"
        )
        q_geom_col = query_vec_col
        if self.proj is not None:
            q_geom_col = "_q_rvec"
            queries = queries.withColumn(
                q_geom_col, _project_udf(self.proj)(F.col(query_vec_col))
            )
        # probe ranking always runs in the cheap reduced geometry; the
        # ADC tables run in the CODE space (full-space residuals for
        # code_space="full" indexes — the measured top-decade quality
        # requirement, see build())
        tab_col = (
            query_vec_col if self.code_centroids is not None else q_geom_col
        )
        qc = queries.join(F.broadcast(cent_df), how="cross").select(
            query_id_col,
            *dict.fromkeys((q_geom_col, tab_col)),
            "cell_id",
            l2_squared(F.col(q_geom_col), F.col("centroid")).alias("_cd"),
        )
        probed = top_k_per_query(
            qc, max(1, nprobe), order=("_cd", "cell_id"), by=query_id_col,
            sort=False,
        ).select(query_id_col, tab_col, "cell_id")
        keep = max(refine, 1) * k
        scored = _cogroup_adc_topk(
            probed,
            self.codes,
            self.code_centroids
            if self.code_centroids is not None
            else self.centroids,
            self.codebooks,
            keep,
            query_id_col=query_id_col,
            query_geom_col=tab_col,
            query_id_type=queries.schema[query_id_col].dataType.simpleString(),
        )
        survivors = top_k_per_query(
            scored, keep, order=("adc", "vec_id"), sort=False
        )
        if refine <= 0:
            return (
                top_k_per_query(survivors, k, order=("adc", "vec_id"), sort=False)
                .select("query_id", "vec_id", F.round("adc", 4).alias("dist"))
                .orderBy("query_id", "dist", "vec_id")
            )
        true_vec = store.select(
            F.col(self.id_col).alias("vec_id"),
            F.col(self.vec_col).alias("_true_vec"),
        )
        qvec = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("_q_vec"),
        )
        exact = (
            survivors.select("query_id", "vec_id")
            .join(true_vec, on="vec_id")
            .join(qvec, on="query_id")
            .withColumn("dist", _l2_rowwise_udf("_q_vec", "_true_vec"))
        )
        if round_digits is not None:
            exact = exact.withColumn("dist", F.round("dist", round_digits))
        return top_k_per_query(exact.select("query_id", "vec_id", "dist"), k)

    def save(self, spark: SparkSession, path: str) -> None:
        """Codes partitioned by cell_id (partition-prunable ADC scans),
        plus centroid and codebook tables — all plain parquet. An
        explicit ``meta`` table (``has_proj``) is written LAST: its
        _SUCCESS marker implies the whole index — including the
        optional projection, written BEFORE it — committed, and it is
        the load-time authority on whether codes quantize reduced-space
        residuals, so overwriting a path that previously held a
        reduced index with a full-space one can never resurrect the
        stale ``proj/`` directory (r10 advisor — the old
        directory-existence probe did exactly that)."""
        # one-file-per-cell discipline (see IVFIndex.save)
        self.codes.repartition("cell_id").write.mode(
            "overwrite"
        ).partitionBy("cell_id").parquet(f"{path}/codes")
        if self.proj is not None:
            _write_table(
                spark, _matrix_rows(self.proj),
                "row_idx INT, coeffs ARRAY<DOUBLE>", f"{path}/proj",
            )
        _write_table(
            spark, _matrix_rows(self.centroids),
            "cell_id INT, centroid ARRAY<DOUBLE>", f"{path}/centroids",
        )
        m, ksub, _ = self.codebooks.shape
        book = [
            (j, c, [float(x) for x in self.codebooks[j, c]])
            for j in range(m)
            for c in range(ksub)
        ]
        _write_table(
            spark, book, "m INT, code INT, centroid ARRAY<DOUBLE>",
            f"{path}/codebooks",
        )
        if self.code_centroids is not None:
            _write_table(
                spark, _matrix_rows(self.code_centroids),
                "cell_id INT, centroid ARRAY<DOUBLE>", f"{path}/code_centroids",
            )
        _write_table(
            spark,
            [(bool(self.proj is not None),
              bool(self.code_centroids is not None))],
            "has_proj BOOLEAN, full_space BOOLEAN",
            f"{path}/meta",
        )

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IVFPQIndex":
        centroids = _read_matrix(spark, f"{path}/centroids", "cell_id", "centroid")
        book_rows = sorted(
            spark.read.parquet(f"{path}/codebooks").collect(),
            key=lambda r: (r["m"], r["code"]),
        )
        m = 1 + max(r["m"] for r in book_rows)
        ksub = 1 + max(r["code"] for r in book_rows)
        dsub = len(book_rows[0]["centroid"])
        codebooks = np.zeros((m, ksub, dsub))
        for r in book_rows:
            codebooks[r["m"], r["code"]] = np.asarray(r["centroid"])
        codes = spark.read.parquet(f"{path}/codes")
        # The meta table is the explicit full-vs-reduced marker (r10):
        # a stale proj/ left by a previous reduced index at the same
        # path is IGNORED when meta says full-space, and a genuine
        # proj read error (corruption, permissions) PROPAGATES instead
        # of being silently classified as "full-space". Legacy saves
        # (pre-meta) fall back to directory existence, narrowed to the
        # missing-path AnalysisException.
        from pyspark.errors import AnalysisException

        def _read_proj() -> np.ndarray:
            return _read_matrix(spark, f"{path}/proj", "row_idx", "coeffs")

        full_space = False
        try:
            meta = spark.read.parquet(f"{path}/meta").first()
            has_proj = bool(meta["has_proj"])
            # pre-r14 saves carry no full_space column
            full_space = bool(
                meta["full_space"]
            ) if "full_space" in meta.asDict() else False
        except AnalysisException:
            try:
                proj = _read_proj()
            except AnalysisException:
                proj = None
        else:
            proj = _read_proj() if has_proj else None
        code_cent = None
        if full_space:
            code_cent = _read_matrix(
                spark, f"{path}/code_centroids", "cell_id", "centroid"
            )
        return cls(
            centroids, codebooks, codes,
            id_col=id_col, vec_col=vec_col, proj=proj,
            code_centroids=code_cent,
        )


class MultiProbeLSH:
    """Random-projection LSH with MULTI-PROBE querying (Lv et al. 2007,
    "Multi-Probe LSH: Efficient Indexing for High-Dimensional
    Similarity Search"): instead of adding hash tables to buy recall
    (each table is another full copy of the id space), a query probes
    its own bucket AND the neighboring buckets (hash +/- 1, the
    highest-success-probability perturbations for E2LSH's floor-hash),
    trading a slightly longer candidate list for L-times-less index
    storage — the knob that matters when the index itself must fit
    beside 100 TB of data.

    Layout mirrors the stock ``LSHIndex``'s contract but the index IS
    plain data, same as IVF: ``(vec_id, table, bucket)`` rows built in
    one Arrow ``mapInPandas`` matmul pass (projections broadcast),
    persistable partitioned by table. Search filters a static
    ``(table, bucket) IN (...)`` candidate-bucket list — pushdown /
    partition pruning, never a scan — dedups candidate ids, and
    exact-re-ranks only them against the store. Approximate by recall
    only: emitted distances are exact (same contract as every other
    ANN path here)."""

    def __init__(
        self,
        projections: np.ndarray,  # (L, dim)
        offsets: np.ndarray,  # (L,)
        width: float,
        buckets: DataFrame,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.projections = np.asarray(projections, dtype=np.float64)
        self.offsets = np.asarray(offsets, dtype=np.float64)
        self.width = float(width)
        self.buckets = buckets  # vec_id, table, bucket
        self.id_col = id_col
        self.vec_col = vec_col

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        *,
        n_tables: int = 8,
        width: float = 4.0,
        dim: int | None = None,
        seed: int = DEFAULT_SEED,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "MultiProbeLSH":
        if dim is None:
            dim = len(corpus.select(vec_col).first()[0])
        rng = np.random.RandomState(seed)
        proj = rng.randn(n_tables, dim)
        offs = rng.rand(n_tables) * width
        spark = corpus.sparkSession
        bc = spark.sparkContext.broadcast((proj, offs, width))

        def hash_rows(it):
            import pandas as pd

            p, b, w = bc.value
            for pdf in it:
                if not len(pdf):
                    continue
                x = _stack(pdf[vec_col])
                h = np.floor((x @ p.T + b) / w).astype(np.int64)  # (n, L)
                n, L = h.shape
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(pdf[id_col].to_numpy(), L),
                        "table": np.tile(np.arange(L, dtype=np.int32), n),
                        "bucket": h.reshape(-1),
                    }
                )

        buckets = corpus.select(id_col, vec_col).mapInPandas(
            hash_rows, schema="vec_id BIGINT, table INT, bucket BIGINT"
        )
        return cls(proj, offs, width, buckets, id_col=id_col, vec_col=vec_col)

    def _candidate_buckets(self, query, probe_radius: int) -> list[tuple[int, int]]:
        q = np.asarray(query, dtype=np.float64)
        h = np.floor((self.projections @ q + self.offsets) / self.width).astype(
            np.int64
        )
        return [
            (int(t), int(h[t] + d))
            for t in range(len(h))
            for d in range(-probe_radius, probe_radius + 1)
        ]

    def search(
        self,
        query,
        k: int,
        store: DataFrame,
        *,
        probe_radius: int = 1,
    ) -> DataFrame:
        """Top-k among multi-probe candidates, exact distances. The
        bucket list is a static literal -> pushdown (partition pruning
        on a table-partitioned save); candidates dedup to one id row
        before the store join, so the store is touched only for
        candidate rows."""
        cand_buckets = self._candidate_buckets(query, probe_radius)
        cond = F.concat_ws("_", F.col("table"), F.col("bucket")).isin(
            [f"{t}_{b}" for t, b in cand_buckets]
        )
        cand_ids = (
            self.buckets.filter(cond).select(self.id_col).distinct()
        )
        cand = store.join(cand_ids, on=self.id_col)
        return knn_exact(
            cand, list(map(float, query)), k, id_col=self.id_col, vec_col=self.vec_col
        )

    def save(self, spark: SparkSession, path: str) -> None:
        # one-file-per-partition-dir discipline (see IVFIndex.save)
        self.buckets.repartition("table").write.mode(
            "overwrite"
        ).partitionBy("table").parquet(f"{path}/buckets")
        meta = [
            (int(t), [float(x) for x in self.projections[t]], float(self.offsets[t]))
            for t in range(self.projections.shape[0])
        ]
        _write_table(
            spark, meta, "table INT, projection ARRAY<DOUBLE>, offset DOUBLE",
            f"{path}/meta",
        )
        _write_table(spark, [(self.width,)], "width DOUBLE", f"{path}/width")

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "MultiProbeLSH":
        meta = sorted(
            spark.read.parquet(f"{path}/meta").collect(), key=lambda r: r["table"]
        )
        proj = np.vstack([np.asarray(r["projection"]) for r in meta])
        offs = np.asarray([r["offset"] for r in meta])
        width = spark.read.parquet(f"{path}/width").first()["width"]
        buckets = spark.read.parquet(f"{path}/buckets")
        return cls(proj, offs, width, buckets, id_col=id_col, vec_col=vec_col)


def topk_recall_verdict(
    exact: DataFrame,
    pruned: DataFrame,
    full: DataFrame,
    *,
    k: int,
    min_recall: float,
) -> DataFrame:
    """Single-row verdict making the (deterministic, seeded, but not
    SQL-portable) ANN probe driver-hash-verifiable — the same trick as
    the sketch and LSH-dedup verdict lanes: emit only what the oracle
    can predict. Inputs are (query_id, vec_id, ...) top-k results.
    Columns: n_queries; k; ``full_probe_exact`` (probing every cell
    must reproduce the exact top-k row set — approximation comes only
    from pruning, the IVF design invariant); ``pruned_recall_ok``
    (recall at the pruned nprobe clears ``min_recall``). All 1-row
    aggregates joined in ONE plan; no driver actions beyond the index
    build itself."""
    nq = (
        exact.select("query_id")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_queries"))
    )
    total = exact.agg(F.count(F.lit(1)).alias("_n_exact_rows"))
    hits_p = pruned.join(exact, on=["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).alias("_hits_pruned")
    )
    hits_f = full.join(exact, on=["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).alias("_hits_full")
    )
    row = (
        nq.join(F.broadcast(total))
        .join(F.broadcast(hits_p))
        .join(F.broadcast(hits_f))
    )
    return row.select(
        "n_queries",
        F.lit(k).cast("long").alias("k"),
        (F.col("_hits_full") == F.col("_n_exact_rows")).alias(
            "full_probe_exact"
        ),
        (
            F.col("_hits_pruned")
            >= F.lit(float(min_recall)) * F.col("_n_exact_rows")
        ).alias("pruned_recall_ok"),
    )


def mplsh_verdict(
    exact: DataFrame,
    r0: DataFrame,
    r1: DataFrame,
    *,
    k: int,
    query_id: int,
    min_recall: float,
) -> DataFrame:
    """Single-row verdict making the multi-probe LSH lane
    driver-hash-verifiable (round 7 — the last approximate lane
    without one, with ``rebalance_verdict``): emit only what the
    oracle can predict. Inputs are single-query (vec_id, dist) top-k
    results at probe_radius 0 and 1 plus the exact scan. Columns:
    ``k``; ``self_hit`` (the query IS corpus vector ``query_id``, so
    its home bucket must contain it even at radius 0 — corpus hashing
    and query hashing agreeing end-to-end); ``r0_recall_ok`` (home
    buckets alone clear ``min_recall`` — measured 1.0 at both driver
    scales, bar set far below); ``monotone_ok`` (radius-1 hits >=
    radius-0 hits — a THEOREM for correct probe semantics: the
    radius-1 candidate set is a superset, and every exact-top-k
    member of a candidate set survives its top-k). A broken
    perturbation list, bucket filter, or re-rank flips a boolean and
    the driver hash."""
    h0 = r0.join(exact.select("vec_id"), "vec_id").agg(
        F.count(F.lit(1)).alias("_h0")
    )
    h1 = r1.join(exact.select("vec_id"), "vec_id").agg(
        F.count(F.lit(1)).alias("_h1")
    )
    # coalesce: sum() over an EMPTY r0 is NULL, and NULL > 0 is NULL —
    # an empty radius-0 result must report self_hit=false (a failed
    # boolean the driver hash flags cleanly), not a null-schema oddity.
    sh = r0.agg(
        F.coalesce(
            F.sum(F.when(F.col("vec_id") == query_id, 1).otherwise(0)) > 0,
            F.lit(False),
        ).alias("_self")
    )
    row = h0.join(F.broadcast(h1)).join(F.broadcast(sh))
    return row.select(
        F.lit(k).cast("long").alias("k"),
        F.col("_self").alias("self_hit"),
        (F.col("_h0") >= F.lit(float(min_recall)) * k).alias("r0_recall_ok"),
        (F.col("_h1") >= F.col("_h0")).alias("monotone_ok"),
    )


def rebalance_verdict(
    idx: "IVFIndex",
    exact: DataFrame,
    full_probe: DataFrame,
    *,
    factor: float,
) -> DataFrame:
    """Single-row verdict making the drift-rebalance lane
    driver-hash-verifiable: the post-rebalance index must (a) hold
    every row it was given — ``n_total`` is predictable SQL
    (count(embeddings) + the deterministic drift batch) and
    ``ids_unique`` pins exactly-one-cell-per-vector; (b) satisfy the
    occupancy contract ``max <= factor * mean`` the rebalance loop
    promises; (c) stay EXACT at full probe (``full_probe_exact`` —
    splitting cells must never lose a vector from the searchable set;
    the query sits inside the drift cluster so the split cells are the
    ones exercised). All 1-row aggregates joined in one plan."""
    occ = idx.cell_stats().agg(
        F.sum("n_vectors").cast("long").alias("n_total"),
        (F.max("n_vectors") <= F.lit(float(factor)) * F.avg("n_vectors")).alias(
            "occupancy_ok"
        ),
    )
    uniq = idx.assignments.agg(
        (F.count(F.lit(1)) == F.count_distinct(F.col(idx.id_col))).alias(
            "ids_unique"
        )
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("_n_exact"))
    hits = full_probe.join(exact.select("vec_id"), "vec_id").agg(
        F.count(F.lit(1)).alias("_hits")
    )
    row = (
        occ.join(F.broadcast(uniq))
        .join(F.broadcast(n_exact))
        .join(F.broadcast(hits))
    )
    return row.select(
        "n_total",
        "ids_unique",
        "occupancy_ok",
        (F.col("_hits") == F.col("_n_exact")).alias("full_probe_exact"),
    )


def merge_verdict(
    idx: "IVFIndex",
    exact: DataFrame,
    full_probe: DataFrame,
) -> DataFrame:
    """Single-row verdict making the sharded-build merge lane
    driver-hash-verifiable (round 8, same mold as
    ``rebalance_verdict``): the merged index must (a) hold the UNION
    of both shards — ``n_total`` is predictable SQL
    (count(embeddings)) and ``ids_unique`` pins
    exactly-one-cell-per-vector (a merge that re-adds an id either
    side already held flips it); (b) stay EXACT at full probe over
    the merged corpus (``full_probe_exact`` — re-assignment must not
    lose any vector from the searchable set). All 1-row aggregates
    joined in one plan."""
    tot = idx.cell_stats().agg(F.sum("n_vectors").cast("long").alias("n_total"))
    uniq = idx.assignments.agg(
        (F.count(F.lit(1)) == F.count_distinct(F.col(idx.id_col))).alias(
            "ids_unique"
        )
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("_n_exact"))
    hits = full_probe.join(exact.select("vec_id"), "vec_id").agg(
        F.count(F.lit(1)).alias("_hits")
    )
    row = (
        tot.join(F.broadcast(uniq))
        .join(F.broadcast(n_exact))
        .join(F.broadcast(hits))
    )
    return row.select(
        "n_total",
        "ids_unique",
        (F.col("_hits") == F.col("_n_exact")).alias("full_probe_exact"),
    )


def reduced_verdict(
    idx: "IVFIndex",
    exact: DataFrame,
    full_probe: DataFrame,
    *,
    coarse_dim: int,
    occupancy_factor: float = 4.0,
) -> DataFrame:
    """Single-row verdict making the reduced-geometry build lane
    driver-hash-verifiable (round 9, same mold as ``merge_verdict``):
    a ``coarse_dim`` index must (a) hold every corpus row exactly once
    (``n_total`` oracle-predictable, ``ids_unique``); (b) carry a
    consistent reduced geometry — projection matrix present, centroids
    AND the stored geometry column at exactly ``coarse_dim`` — pinned
    as ``geom_dim_ok`` (a build that silently fell back to full-space
    or mixed dimensions flips it); (c) keep the coarse partition
    HEALTHY: ``occupancy_ok`` is max cell <= ``occupancy_factor`` x
    mean — the measured 384-d degeneracy (max_share 0.51, i.e. ~k/2 x
    mean at k=707) fails this bound by orders of magnitude; (d) stay
    EXACT at full probe (approximation must come from cell pruning
    only, never from the projection — re-rank reads original vectors).
    """
    has_proj = idx.proj is not None and idx.proj.shape[1] == coarse_dim
    cent_ok = idx.centroids.shape[1] == coarse_dim
    geom = idx.assignments.agg(
        (F.max(F.size(GEOM_COL)) == F.lit(coarse_dim)).alias("_gmax"),
        (F.min(F.size(GEOM_COL)) == F.lit(coarse_dim)).alias("_gmin"),
    ) if GEOM_COL in idx.assignments.columns else None
    occ = idx.assignments.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("_n")
    ).agg(
        F.sum("_n").cast("long").alias("n_total"),
        (F.max("_n") <= F.lit(occupancy_factor) * F.avg("_n")).alias(
            "occupancy_ok"
        ),
    )
    uniq = idx.assignments.agg(
        (F.count(F.lit(1)) == F.count_distinct(F.col(idx.id_col))).alias(
            "ids_unique"
        )
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("_n_exact"))
    hits = full_probe.join(exact.select("vec_id"), "vec_id").agg(
        F.count(F.lit(1)).alias("_hits")
    )
    row = occ.join(F.broadcast(uniq)).join(F.broadcast(n_exact)).join(
        F.broadcast(hits)
    )
    geom_expr = F.lit(False)
    if has_proj and cent_ok and geom is not None:
        row = row.join(F.broadcast(geom))
        geom_expr = F.col("_gmax") & F.col("_gmin")
    return row.select(
        "n_total",
        "ids_unique",
        geom_expr.alias("geom_dim_ok"),
        "occupancy_ok",
        (F.col("_hits") == F.col("_n_exact")).alias("full_probe_exact"),
    )
