"""Structured Streaming superset (SURVEY.md §2.10).

The reference engine is batch-only — no watermarks, windows, or state
anywhere in MapReduce (closest artifact: JobControl re-run DAGs). This
module re-exposes the batch window queries (queries/windows.py) as
*streams*: readStream → watermark → windowed agg → sink. Each streaming
job has a batch-equivalent formulation the DuckDB oracle checks, so the
streaming path is demonstration + plumbing, the batch path is the
correctness contract.

Scale notes: watermark bounds state; tumbling/sliding windows shuffle on
(window, key); `availableNow` triggers give batch-like backfill runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_common_spark.functions.exact import dsum
from hadoop_common_spark.tables import footer_schema, normalize_ts


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one-file-per-trigger
    emulation of an arriving stream). The schema comes from the events
    file's footer and events.ts is normalized to an instant timestamp,
    both exactly as in the batch loader (``tables._read_table``)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = footer_schema(spark, f"{sf_dir}/events.parquet")
    # Scope the stream to events.parquet only — streaming the bare directory
    # would sweep in every other table's file under the events schema.
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_ts(stream, batch_schema)


def tumbling_hourly_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of queries/windows.py::window_tumbling_hourly."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup within the watermark horizon
    (dropDuplicatesWithinWatermark — the streaming twin of dedup_exact)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def materialize_incremental(
    stream_df: DataFrame, out_path: str, checkpoint: str
) -> None:
    """foreachBatch materialization — the MultipleOutputs/side-effect
    sink of the streaming world: each micro-batch appends to a parquet
    target; the checkpoint makes re-runs resume instead of reprocess
    (exactly-once per batch id). The continuous-rollup pattern: point
    this at a windowed aggregate and the target is an incrementally
    maintained materialized view."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_path)

    (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_to_memory(stream_df: DataFrame, name: str) -> DataFrame:
    """Drain a stream with an availableNow trigger into a memory sink and
    return the materialized result (test/demo harness)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if stream_df.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = stream_df.sparkSession
    return spark.table(name)


def view_click_attribution_stream(
    events: DataFrame, watermark: str = "1 hour", horizon_minutes: int = 10
) -> DataFrame:
    """Stream-stream interval join (attribution): each click joins the
    same user's views from the preceding ``horizon_minutes``. Both sides
    are watermarked and the join condition time-bounds the match, so
    Spark can expire buffered state — the unbounded-state trap of naive
    stream joins. Batch twin: queries/windows.py::view_click_attribution
    (the oracle-checked formulation)."""
    views = (
        events.filter(F.col("event_type") == "view")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    return clicks.join(
        views,
        F.expr(
            f"c_user = v_user AND view_ts >= click_ts - INTERVAL {horizon_minutes} "
            "MINUTES AND view_ts <= click_ts"
        ),
    ).select("c_user", "click_id", "view_id", "click_ts", "view_ts")


def multires_partial(events: DataFrame) -> DataFrame:
    """Per-(resolution, bucket) partial aggregate of one events slice —
    the increment unit of the continuous multi-resolution rollup
    (batch twin: queries/windows.py::events_multires_rollup). Measures
    are mergeable (count/min/max), so partials from any batching fold
    to the exact full-history rollup."""
    cell = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(tag).alias("resolution"),
                    F.date_trunc(unit, F.col("ts")).alias("bucket"),
                )
                for tag, unit in (("1m", "minute"), ("1h", "hour"), ("1d", "day"))
            ]
        )
    )
    return (
        events.select(cell.alias("rb"), "value")
        .select("rb.resolution", "rb.bucket", "value")
        .groupBy("resolution", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


def multires_rollup_incremental(
    stream_events: DataFrame, out_path: str, checkpoint: str
) -> None:
    """Incrementally maintained multi-resolution rollup: each micro-batch
    writes its partial tier rows under a batch-id-keyed directory;
    readers fold partials with read_multires_rollup. This is the
    production continuous-aggregate shape — the full-history table is
    never rescanned and each increment costs one pass over the new
    events. foreachBatch is at-least-once, so the sink must be
    IDEMPOTENT: overwriting the batch's own directory makes a replayed
    batch rewrite (not duplicate) its rows — blind append would
    double-count after a failure between write and checkpoint commit."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        multires_partial(batch_df).write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )

    (
        stream_events.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def read_multires_rollup(spark: SparkSession, out_path: str) -> DataFrame:
    """Fold the appended partials to the exact rollup (count sums, min of
    mins, max of maxes — associative, so ANY batching of history yields
    identical results)."""
    return (
        spark.read.parquet(out_path)
        .groupBy("resolution", "bucket")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


def enrich_stream_static(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static enrichment join — the remaining cell of the join
    matrix (stream-stream lives in view_click_attribution_stream). The
    static side re-reads per micro-batch (so a dimension refresh is
    picked up between batches) and Spark plans it as a broadcast hash
    join under the size threshold — the streaming form of the
    DistributedCache map-side join. No watermark needed: a static side
    can never be late."""
    return events.join(F.broadcast(dim), on, "left")


def neardup_candidates_stream(
    docs: DataFrame,
    corpus_band_index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Streaming near-duplicate candidate flagging: arriving documents
    are MinHash-signed MAP-SIDE (minhash_signature_mapside — stateless,
    no shuffle, identical band keys to the batch pipeline), exploded
    into band keys, and stream-static joined against a precomputed
    corpus band index (``lsh_band_keys`` over the historical corpus).
    The streaming face of the dedup tier: "is this incoming document a
    near-dup of anything we already hold?" answered per micro-batch
    without stateful aggregation — the only state is the static index,
    refreshed between batches like any stream-static dim.

    Output: one row PER MATCHING BAND (stream_id, band, band_key,
    corpus_id) — multiplicity = how many bands agree (a useful
    confidence signal); consumers wanting one row per (stream, corpus)
    pair distinct per micro-batch in their sink, where the volume is
    bounded by the batch, not the stream history. Exact-cosine/Jaccard
    verification stays a batch concern downstream."""
    from hadoop_common_spark.operators.dedup import (
        lsh_band_keys,
        minhash_signature_mapside,
    )

    rows = num_hashes // bands
    sig = minhash_signature_mapside(docs, id_col, text_col, num_hashes)
    bk = lsh_band_keys(sig, id_col, bands, rows).withColumnRenamed(
        id_col, "stream_id"
    )
    idx = corpus_band_index.withColumnRenamed(id_col, "corpus_id")
    return bk.join(idx, ["band", "band_key"]).filter(
        F.col("stream_id") != F.col("corpus_id")
    )


# Filesystem schemes whose rename is a non-atomic copy+delete: the swap
# protocol's crash-safety contract does NOT hold on them (a crash
# mid-"rename" can leave a partial, marker-less out_path). The protocol
# is designed for atomic-rename filesystems (local, HDFS, viewfs).
_NON_ATOMIC_RENAME_SCHEMES = frozenset(
    {"s3a", "s3n", "s3", "gs", "wasb", "wasbs", "abfs", "abfss", "oss",
     "cos", "swift"}
)
_warned_schemes: set[str] = set()


def _state_fs(spark, path: str):
    """Hadoop FileSystem + Path for a state directory. The swap protocol
    built on this requires ATOMIC rename — local FS, HDFS, viewfs. On
    object stores (S3A, GCS, ABFS, ...) rename is copy+delete and a
    crash mid-swap can leave partial state; we warn loudly once per
    scheme rather than refuse (some deployments mount consistent
    rename-capable layers under these schemes)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    scheme = fs.getUri().getScheme()
    if scheme in _NON_ATOMIC_RENAME_SCHEMES and scheme not in _warned_schemes:
        import warnings

        _warned_schemes.add(scheme)
        warnings.warn(
            f"state maintainer at {path}: scheme {scheme}:// renames are "
            "non-atomic (copy+delete); the staging-swap protocol's "
            "crash-safety holds only on atomic-rename filesystems "
            "(local/HDFS). A crash mid-swap here can leave partial state.",
            RuntimeWarning,
            stacklevel=2,
        )
    return fs, jvm


def _rename_or_raise(fs, src, dst) -> None:
    # Hadoop FileSystem.rename reports failure by returning false, not
    # by raising — a swallowed failure here would corrupt the swap.
    if not fs.rename(src, dst):
        raise RuntimeError(f"state swap rename failed: {src} -> {dst}")


# The protocol's OWN commit marker, written by _fold_state_batch itself
# right after the staging parquet write. The committer's _SUCCESS marker
# is also accepted (legacy state written before this marker existed),
# but is NOT relied on: _SUCCESS only appears when
# mapreduce.fileoutputcommitter.marksuccessfuljobs=true, a conf many
# production deployments disable — without an own marker the first fold
# would succeed and every later read would misdiagnose the state as a
# crashed partial write.
_COMMIT_MARKER = "_HCS_COMMITTED"


def _committed(fs, jvm, path: str) -> bool:
    """A state dir counts as committed only if a commit marker is
    present (our own _HCS_COMMITTED, or the committer's _SUCCESS for
    pre-marker legacy state) — a directory that exists without either is
    a write that crashed partway and must never be read as state."""
    P = jvm.org.apache.hadoop.fs.Path
    return bool(fs.exists(P(path))) and (
        bool(fs.exists(P(path + "/" + _COMMIT_MARKER)))
        or bool(fs.exists(P(path + "/_SUCCESS")))
    )


def _read_state_committed(spark, out_path):
    """Read maintainer state with crash recovery. The writer protocol
    (see ``_fold_state_batch``) only ever materializes ``out_path`` by
    renaming a fully-committed staging dir, so on read we either see a
    committed dir, or one of the two swap-crash windows, both of which
    are repaired here:

    - ``out_path`` missing, staging committed -> the crash happened
      between ``out -> old`` and ``staging -> out``: finish the swap
      (staging holds the NEWER state).
    - ``out_path`` missing, staging absent/uncommitted, old committed ->
      the staging write itself crashed after ``out`` was already moved
      aside: restore the previous state.
    - ``out_path`` present but uncommitted -> unrecoverable partial
      write (legacy in-place overwrite that crashed); raise loudly
      rather than fold onto truncated state.
    """
    fs, jvm = _state_fs(spark, out_path)
    staging, old = out_path + "__staging", out_path + "__old"
    P = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(P(out_path)):
        if _committed(fs, jvm, staging):
            _rename_or_raise(fs, P(staging), P(out_path))
        elif _committed(fs, jvm, old):
            _rename_or_raise(fs, P(old), P(out_path))
        else:
            return None  # genuinely first batch
    if not _committed(fs, jvm, out_path):
        raise RuntimeError(
            f"maintainer state at {out_path} exists without a commit "
            f"marker ({_COMMIT_MARKER} or _SUCCESS) — a previous "
            "in-place overwrite crashed mid-write; the state is partial "
            "and cannot be folded onto. Rebuild it from the source "
            "stream (delete the dir and replay)."
        )
    return spark.read.parquet(out_path)


def _swap_state(spark, out_path) -> None:
    """Atomically (per Hadoop FS rename) promote ``out_path__staging``
    to ``out_path``, keeping the previous state at ``out_path__old``
    until the promotion has succeeded so every crash window is
    recoverable by ``_read_state_committed``."""
    fs, jvm = _state_fs(spark, out_path)
    staging, old = out_path + "__staging", out_path + "__old"
    P = jvm.org.apache.hadoop.fs.Path
    fs.delete(P(old), True)
    if fs.exists(P(out_path)):
        _rename_or_raise(fs, P(out_path), P(old))
    _rename_or_raise(fs, P(staging), P(out_path))
    fs.delete(P(old), True)


def _fold_state_batch(spark, state, out_path, merge_states, batch_id=None):
    """One micro-batch fold of the state-maintainer protocol shared by
    every incremental job in this module: read the stored state via the
    committed-snapshot reader (``_read_state_committed`` — only a
    missing dir means "first batch"; a partial dir raises), merge via
    the caller's monoid, write the merged state to a STAGING dir, then
    rename-swap it into place. The staged write means the fold never
    deletes the files it is reading (no localCheckpoint materialization
    needed) and a crash at any point leaves either the old or the new
    committed state readable — never a partial one.

    ``batch_id`` (when not None) arms the REPLAY GUARD for folds whose
    monoid is not idempotent (e.g. a count summed in OHLC state):
    foreachBatch is at-least-once, so a crash after the state write but
    before the checkpoint commit redelivers the same batch — the stored
    ``_bid`` high-water mark detects that and skips the duplicate fold.
    Idempotent folds (max / latest-by-seq / dedupe-top-k) don't need it.
    State written before the guard existed (no ``_bid`` column) is
    treated as pre-guard: the fold proceeds and stamps ``_bid`` from
    here on (one redelivered batch could double-fold across that
    migration boundary — explicit and bounded, vs. failing forever).

    SINGLE-WRITER contract: one maintainer per ``out_path``. Two
    concurrent folds would interleave the staging writes and renames
    and can promote each other's half-written staging dirs — so the
    fold takes an exclusive LEASE (atomic ``createNewFile`` on
    ``out_path__lease``) for its whole write+swap window and raises
    loudly if the lease is already held. A fold killed hard (no chance
    to clean up) leaves a stale lease behind; that is deliberate — the
    error says exactly what to delete once the operator has confirmed
    no other maintainer is running, which is the safe failure mode (vs.
    a TTL silently letting a slow-but-alive writer be overlapped).
    """
    fs, jvm = _state_fs(spark, out_path)
    P = jvm.org.apache.hadoop.fs.Path
    lease = P(out_path + "__lease")
    if not fs.createNewFile(lease):
        raise RuntimeError(
            f"maintainer state at {out_path}: lease file {out_path}__lease "
            "already exists — another maintainer is folding into this "
            "path (the protocol is single-writer per out_path), or a "
            "previous fold was killed mid-write. If you are certain no "
            "other maintainer is running, delete the lease file and "
            "re-run; state itself is intact (the crash windows are "
            "repaired on the next read)."
        )
    try:
        prev = _read_state_committed(spark, out_path)
        if batch_id is not None and prev is not None and "_bid" in prev.columns:
            last = prev.agg(F.max("_bid")).collect()[0][0]
            if last is not None and batch_id <= last:
                return  # redelivered batch: its rows are already in state
            prev = prev.drop("_bid")
        merged = merge_states(
            state if prev is None else prev.unionByName(state)
        )
        if batch_id is not None:
            merged = merged.withColumn("_bid", F.lit(batch_id))
        staging = out_path + "__staging"
        merged.write.mode("overwrite").parquet(staging)
        # our OWN commit marker: _SUCCESS appears only under
        # marksuccessfuljobs=true, which deployments disable — the
        # protocol must not depend on committer conf (see _COMMIT_MARKER)
        fs.createNewFile(P(staging + "/" + _COMMIT_MARKER))
        _swap_state(spark, out_path)
    finally:
        fs.delete(lease, False)


def _run_state_maintainer(
    stream_df, out_path, checkpoint, batch_to_state, merge_states,
    guard_batch_ids=False,
):
    """foreachBatch driver for the fold protocol (availableNow drain)."""
    spark = stream_df.sparkSession

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _fold_state_batch(
            spark,
            batch_to_state(batch_df),
            out_path,
            merge_states,
            batch_id if guard_batch_ids else None,
        )

    (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def weighted_sample_incremental(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    k: int,
    weight_col: str,
    id_col: str,
) -> None:
    """Incrementally maintained weighted sample WITHOUT replacement over
    a stream (the "keep a fair 1M-doc sample of everything we have ever
    ingested" job). Because the A-ES key
    (operators/sort.weighted_sample_keys) is a deterministic function of
    the row id, maintaining the running top-k BY KEY over micro-batches
    is EXACTLY the batch sample of the union — not an approximation
    (pinned by test): top-k is a mergeable monoid and the keys don't
    change between batches.

    Per batch: key the arrivals, union the stored k survivors, keep the
    new top-k, localCheckpoint it (materializes before the overwrite so
    the sink never reads the files it is deleting), overwrite the
    target. dropDuplicates on the id makes redelivered batches
    idempotent (foreachBatch is at-least-once): a replayed row has the
    identical key and collapses. State is k rows however long the
    stream has run; nothing here grows with stream history."""
    from hadoop_common_spark.operators.sort import weighted_sample_keys

    _run_state_maintainer(
        stream_df,
        out_path,
        checkpoint,
        batch_to_state=lambda b: b.select(
            F.col(id_col).alias("_id"),
            F.col(weight_col).cast("bigint").alias("_w"),
            weighted_sample_keys(F.col(weight_col), F.col(id_col)).alias("_k"),
        ),
        # dedupe on the id (redelivered rows carry identical keys and
        # collapse — idempotent), keep the running top-k
        merge_states=lambda m: m.dropDuplicates(["_id"])
        .orderBy(F.col("_k").desc(), F.col("_id").asc())
        .limit(k),
    )


def cdc_snapshot_incremental(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    key: str,
    seq_cols: tuple[str, ...],
    op_col: str = "op",
    payload_cols: tuple[str, ...] = (),
) -> None:
    """Incrementally maintained CDC snapshot over a stream of keyed
    insert/update/delete ops — the streaming twin of
    operators/cdc.materialize_log.

    Stored state is latest_ops' output INCLUDING delete tombstones:
    latest-op-per-key is a mergeable monoid (max by (seq...) per key),
    so per batch ``state = latest_ops(state ∪ latest_ops(batch))`` and
    drain == batch fold of the WHOLE log EXACTLY — under ANY batch
    partitioning, even when micro-batch boundaries interleave seq
    ranges (pinned by test with seq-shuffled multi-file batches; this
    is why tombstones are retained — dropping them would let a stale
    replayed update resurrect a deleted key). Redelivered batches merge
    to the identical state (idempotent, at-least-once safe). State is
    one row per ever-seen key — bounded by key cardinality, never by
    stream history; a production compactor ages tombstones out once
    they pass the source's maximum replay horizon. Read the live
    snapshot with ``spark.read.parquet(out).filter(op != 'D')``."""
    from hadoop_common_spark.operators.cdc import latest_ops

    args = (key, seq_cols, op_col, payload_cols)
    _run_state_maintainer(
        stream_df,
        out_path,
        checkpoint,
        batch_to_state=lambda b: latest_ops(b, *args),
        merge_states=lambda m: latest_ops(m, *args),
    )


def hll_incremental(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    group_col: str,
    id_col: str,
) -> None:
    """Incrementally maintained HyperLogLog registers over a stream —
    the "distinct users ever seen, per key, forever" job at O(m) state
    per key. Registers are a MAX-MONOID (operators/sketches.py), so
    folding each micro-batch's partial registers into the stored set by
    max yields EXACTLY the batch HLL of everything ingested (pinned by
    test — not an approximation of the sketch, the identical sketch),
    under any batch partitioning, and redelivered batches are idempotent
    (max twice == max once). State is at most m rows per group however
    long the stream runs; estimates read off the stored registers with
    sketches.hll_estimate at any time without touching history."""
    from hadoop_common_spark.operators.sketches import hll_merge, hll_registers

    _run_state_maintainer(
        stream_df,
        out_path,
        checkpoint,
        batch_to_state=lambda b: hll_registers(b, [group_col], id_col),
        merge_states=lambda m: hll_merge(m, [group_col]),
    )


def ohlc_incremental(
    stream_df: DataFrame,
    out_path: str,
    checkpoint: str,
    group_cols: list[str],
    sec_col: str,
    id_col: str,
    value_col: str,
) -> None:
    """Incrementally maintained OHLC bars over a stream — the live
    candlestick/telemetry dashboard job. Every component of the bar
    state is a monoid (open/close ride struct-min/struct-max over the
    tie-free (sec, id, value) tuple; high/low/n are max/min/sum —
    operators/aggregate.ohlc_aggregate), so folding each micro-batch
    into the stored state with ohlc_merge yields EXACTLY the batch
    bars of everything ingested, under any batch partitioning (pinned);
    redelivery of min/max is idempotent, and the count (a sum — NOT
    idempotent) is protected by the _bid replay guard: a batch whose id
    is already folded into the stored state is skipped. State is one row per
    (group, bucket) — bounded by bucket cardinality, never stream
    history; read bars off the state with ohlc_finalize any time."""
    from hadoop_common_spark.operators.aggregate import ohlc_aggregate, ohlc_merge

    _run_state_maintainer(
        stream_df,
        out_path,
        checkpoint,
        batch_to_state=lambda b: ohlc_aggregate(
            b, group_cols, sec_col, id_col, value_col
        ),
        merge_states=lambda m: ohlc_merge(m, group_cols),
        # n_events is a SUM — the one non-idempotent component among the
        # maintainers, so redelivered batches must be detected, not
        # re-folded (min/max alone would tolerate replay)
        guard_batch_ids=True,
    )
