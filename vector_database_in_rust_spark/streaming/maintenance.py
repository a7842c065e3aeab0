"""Streaming ingest composed with index maintenance (round 13, closing
the r12 verdict's composition gap): the validated idempotent append
(``streaming/ingest.py``), incremental assignment (``assign_new``,
round 12), occupancy monitoring (``occupancy_stats``), and the measured
drift trigger (``rebuild_due``) — each tested alone since r12 — run as
ONE continuous pipeline. This is the production shape of the engine's
anti-reference claim: the reference cannot ingest at all (its graph is
build-once per process, src/lib.rs:336-341); here a live stream grows a
SERVING index under a measured maintenance policy.

Per micro-batch (driver-side ``foreachBatch``, the standard Structured
Streaming pattern for multi-sink + stateful-driver composition):

1. validate dimensions (the reference's per-insert check,
   src/lib.rs:62-72); rejects are COUNTED unconditionally and
   quarantined when a ``quarantine_path`` is given — a drop without a
   quarantine path is surfaced as a warning and in the history row,
   never silent;
2. append valid rows to the Parquet store, idempotent per batch: a
   ``_ingest_commits/batch-N-<count>-<content hash>`` ledger marker
   (underscore-prefixed, so store readers never see it) is written
   after each append, and a replayed batch whose marker exists skips
   the re-append — the content key means only a batch with the SAME
   ROWS matches, so a reset checkpoint whose restarted batch ids carry
   different rows appends rather than silently losing them (round 15).
   Strictly the sink is at-least-once — a crash in the window between
   the parquet append and the marker write replays the append — but
   the common retry path (failure after the store write, before the
   checkpoint commit) no longer duplicates rows;
3. ``assign_new`` the batch against the FROZEN centroid structure
   (one broadcast-argmin Arrow pass over the new rows only — nothing
   corpus-sized moves, on either index class);
4. refresh occupancy and evaluate ``rebuild_due`` — the batch's
   history row carries the trigger verdict, so an operator (or an
   alerting hook) sees the repair moment the drift study measured
   (cost decays before recall; the trigger fires while repair is
   cheap — SCALE.md r12).

The pipeline NEVER repairs automatically: the r12/r13 studies showed
the right repair is situational (split vs rebuild, and a rebuild must
re-derive the probe budget — see ``nprobe_for_frac``), so the trigger
surfaces and the caller chooses. Scale: per-batch driver state is the
index handle plus a bounded history list; per-batch cluster work is
one assignment pass over the batch and one occupancy aggregation over
the assignments (lineage cut each batch, so batch N+1 never re-runs
batch N's assignment).

Reconciliation contract (pinned by tests + the driver verdict lane):
because ``assign_new`` is deterministic against frozen centroids, the
stream-ingested index equals a one-shot batch ``assign_new`` over the
same rows, regardless of micro-batch boundaries.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from vector_database_in_rust_spark.operators.ann import rebuild_due
from vector_database_in_rust_spark.streaming import (
    append_validated_batch,
    await_or_raise,
)


@dataclass
class IngestMaintenanceReport:
    """Outcome of a drained ``stream_ingest_into_index`` run: the grown
    index (same class as the input) and one history row per micro-batch
    — ``(batch_id, rows_in, rows_quarantined, occupancy, rebuild_due)``."""

    index: object
    history: list[dict] = field(default_factory=list)

    @property
    def triggered(self) -> bool:
        """True if any micro-batch tripped the maintenance trigger."""
        return any(h["rebuild_due"] for h in self.history)


def stream_ingest_into_index(
    stream: DataFrame,
    index,
    store_path: str,
    *,
    dimensions: int,
    quarantine_path: str | None = None,
    checkpoint_path: str | None = None,
    timeout_sec: int = 120,
    max_share_factor: float = 8.0,
    baseline: dict | None = None,
    growth_factor: float = 3.0,
) -> IngestMaintenanceReport:
    """Drain a (finite, ``availableNow``) vector stream into both the
    Parquet store AND the given IVF/hierarchical index, monitoring
    occupancy and evaluating ``rebuild_due`` per micro-batch.

    ``baseline`` switches the trigger to its growth-relative mode
    (pass the index's build-time ``occupancy_stats()`` — the right
    mode for intrinsically concentrated corpora, see ``rebuild_due``).
    Returns an :class:`IngestMaintenanceReport`; the input ``index``
    object is never mutated (the maintenance purity contract — the
    grown index is ``report.index``)."""
    state = {"index": index, "history": [], "seen": set()}

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        if batch_id in state["seen"]:
            # same-run replay: this batch was already appended AND
            # assigned into state["index"] — re-running would duplicate
            # assignments.
            return
        # Counted UNCONDITIONALLY: the module contract is "never
        # silently drop", and the history row must report rejects even
        # when no quarantine sink exists. A cross-run replay (a prior
        # run crashed after the store write, before the checkpoint
        # commit) skips the appends but still needs assignment into
        # THIS run's index, which started from the caller's.
        valid, n_ok, n_bad = append_validated_batch(
            batch,
            batch_id,
            store_path,
            dimensions=dimensions,
            quarantine_path=quarantine_path,
        )
        if n_bad and quarantine_path is None:
            warnings.warn(
                f"stream_ingest_into_index batch {batch_id}: {n_bad} "
                "dimension-invalid rows dropped (no quarantine_path "
                "given); the history row records them",
                stacklevel=2,
            )
        grown = state["index"].assign_new(
            valid.select(state["index"].id_col, state["index"].vec_col)
        )
        # Cut lineage eagerly: without this, batch N's occupancy pass
        # (and every later batch) re-executes all prior assignment
        # passes — the growing-recompute cost the r12 drift study
        # measured as ~20 s/step script overhead.
        grown.assignments = grown.assignments.localCheckpoint(eager=True)
        occ = grown.occupancy_stats()
        state["index"] = grown
        state["history"].append(
            {
                "batch_id": int(batch_id),
                "rows_in": n_ok,
                "rows_quarantined": int(n_bad),
                "occupancy": occ,
                "rebuild_due": rebuild_due(
                    occ,
                    max_share_factor=max_share_factor,
                    baseline=baseline,
                    growth_factor=growth_factor,
                ),
            }
        )
        state["seen"].add(batch_id)

    writer = stream.writeStream.foreachBatch(write_batch).trigger(
        availableNow=True
    )
    if checkpoint_path is not None:
        writer = writer.option("checkpointLocation", checkpoint_path)
    q = writer.start()
    await_or_raise(q, timeout_sec)
    return IngestMaintenanceReport(
        index=state["index"], history=state["history"]
    )
