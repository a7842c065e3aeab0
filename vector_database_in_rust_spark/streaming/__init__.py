"""Structured Streaming lane: file-source ingest, watermarked rollups,
sessionization, stream dedup/curation, stream-stream joins.

Every ``run_*_to_memory`` helper drains an ``availableNow`` query and
must fail LOUDLY on timeout: ``awaitTermination(timeout)`` returns False
without raising, and a partially populated memory table would surface
downstream as a confusing hash mismatch instead of a clear error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from vector_database_in_rust_spark.operators.validate import dim_ok


def await_or_raise(q: StreamingQuery, timeout_sec: float) -> None:
    """Block until ``q`` terminates; on timeout stop the query and raise
    instead of silently returning a partial result."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not drain within "
            f"{timeout_sec}s (availableNow batch still running)"
        )


def batch_content_stats(
    batch: DataFrame, ok_predicate=None
) -> tuple[int, int, str]:
    """One aggregation pass over a micro-batch returning
    ``(n_total, n_ok, content_key)``: the row counts the ingest sinks
    need anyway plus an order-insensitive content fingerprint (sum of
    per-row xxhash64 over every column) rendered as a hex token.

    The fingerprint keys the commit-ledger marker (round 15, the
    advisor's silent-data-loss finding): batch ids alone are only
    unique WITHIN one checkpoint lineage, so a fresh/reset checkpoint
    (or a second pipeline writing to the same store) restarts ids at 0
    and a bare ``batch-N`` marker would silently SKIP appends whose
    rows were never written. Keying the marker by (batch_id, count,
    content hash) keeps the r13 contract — a byte-identical replay of
    an already-committed batch is skipped — while a same-id batch with
    DIFFERENT rows (new source files, different maxFilesPerTrigger
    packing) misses the marker and appends. Failure degrades toward
    at-least-once (duplicates), never silent loss.
    """
    n_ok_expr = (
        F.sum(ok_predicate.cast("int"))
        if ok_predicate is not None
        else F.count(F.lit(1))
    )
    # Per-row hashes are folded into 32 bits before the sum: a sum of
    # raw 64-bit xxhash values overflows BIGINT within a few rows, and
    # Spark 4's default ANSI mode turns that into a runtime error
    # (SQLSTATE 22003). With max term < 2^32, the BIGINT sum is exact
    # up to ~2^31 (~2.1e9) rows per micro-batch (round 16, advisor —
    # the earlier ~4e9 claim ignored the signed max); order-insensitive
    # either way. A plain sum is a weak multiset hash — two DIFFERENT
    # same-id same-count batches colliding on the 64-bit sum would
    # skip an append — but a random collision is ~2^-42..2^-64 per
    # retry pair and the marker only ever arbitrates retries of the
    # same pipeline; strengthening the key would change the marker
    # path format and open ANOTHER one-time upgrade-duplication
    # window (see batch_already_appended), a worse trade.
    row = batch.agg(
        F.count(F.lit(1)).alias("n"),
        n_ok_expr.alias("n_ok"),
        F.coalesce(
            F.sum(F.pmod(F.xxhash64(*batch.columns), F.lit(1 << 32))),
            F.lit(0),
        ).alias("h"),
    ).first()
    n = int(row["n"] or 0)
    n_ok = int(row["n_ok"] or 0)
    key = f"{n}-{int(row['h']) & 0xFFFFFFFFFFFFFFFF:016x}"
    return n, n_ok, key


def _batch_marker_path(
    store_path: str, batch_id: int, content_key: str | None = None
) -> str:
    # Underscore-prefixed dir: Hadoop's hidden-file filter keeps it out
    # of every `spark.read.parquet(store_path)` listing (verified: flat
    # readers see only the root part-files), so the ledger never leaks
    # into the store's read schema. With a content_key (see
    # batch_content_stats) the marker identifies the batch's ROWS, not
    # just its lineage-local id; content_key=None keeps the legacy
    # id-only marker for callers that manage lineage themselves.
    suffix = f"-{content_key}" if content_key else ""
    return f"{store_path}/_ingest_commits/batch-{int(batch_id)}{suffix}"


def _marker_fs(spark, store_path: str, batch_id: int, content_key=None):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(
        _batch_marker_path(store_path, batch_id, content_key)
    )
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p


def batch_already_appended(
    spark, store_path: str, batch_id: int, content_key: str | None = None
) -> bool:
    """True iff a prior (possibly crashed-and-replayed) run committed
    micro-batch ``batch_id``'s append to ``store_path``. A Hadoop-FS
    existence probe — scheme-agnostic (local/HDFS/object stores via
    their Hadoop connectors) and jobless: per-micro-batch overhead must
    stay in the milliseconds (a read-probe Spark job here measurably
    blew a 32-micro-batch drain past its drain timeout). Pass the
    ``content_key`` from :func:`batch_content_stats` so the probe
    matches the batch's rows rather than a lineage-local id (a reset
    checkpoint restarts ids; see that function's rationale).

    Upgrade note (round 16, advisor): markers written BEFORE the
    round-15 content-keyed format are ``batch-N`` with no key, so an
    in-flight replay straddling that upgrade re-appends its batch once
    (at-least-once duplicates, the documented failure direction). The
    probe deliberately does NOT fall back to the legacy id-only path:
    matching a bare ``batch-N`` from a previous lineage is exactly the
    silent-skip bug the content key exists to close, and trading a
    one-time duplication window for a reopened silent-loss window is
    the wrong direction."""
    fs, p = _marker_fs(spark, store_path, batch_id, content_key)
    return bool(fs.exists(p))


def mark_batch_appended(
    spark, store_path: str, batch_id: int, content_key: str | None = None
) -> None:
    """Touch the per-batch commit marker (idempotent: overwrite).
    Written AFTER the store append, so the sink is strictly
    at-least-once — a crash between append and marker replays the
    append — but the common retry (failure after the store write,
    before the streaming checkpoint commit) skips the duplicate.
    ``content_key`` must match the probe's (see
    :func:`batch_already_appended`)."""
    fs, p = _marker_fs(spark, store_path, batch_id, content_key)
    fs.mkdirs(p.getParent())
    fs.create(p, True).close()


def append_validated_batch(
    batch: DataFrame,
    batch_id: int,
    store_path: str,
    *,
    dimensions: int,
    quarantine_path: str | None = None,
) -> tuple[DataFrame, int, int]:
    """The validated, idempotent micro-batch append shared by both
    streaming ingest sinks (``ingest.ingest_vectors`` and
    ``maintenance.stream_ingest_into_index``).

    Splits ``batch`` on the dimension contract (the reference's
    per-insert check, src/lib.rs:62-72) and counts both sides plus the
    ledger content key in ONE aggregation job
    (:func:`batch_content_stats`). Unless the ledger shows this exact
    batch already committed, the valid rows append to ``store_path``,
    rejects append to ``quarantine_path`` (when given), and the marker
    is written LAST. A cross-run replay writes nothing — the store and
    quarantine appends both committed before the marker, so neither
    duplicates. Returns ``(valid, n_ok, n_bad)`` either way, so a
    caller can still assign or report the batch."""
    spark = batch.sparkSession
    ok = dim_ok("embedding", dimensions)
    valid = batch.filter(ok)
    n_total, n_ok, key = batch_content_stats(batch, ok)
    if not batch_already_appended(spark, store_path, batch_id, key):
        valid.write.mode("append").parquet(store_path)
        if quarantine_path is not None and n_total > n_ok:
            batch.filter(~ok).write.mode("append").parquet(quarantine_path)
        mark_batch_appended(spark, store_path, batch_id, key)
    return valid, n_ok, n_total - n_ok
