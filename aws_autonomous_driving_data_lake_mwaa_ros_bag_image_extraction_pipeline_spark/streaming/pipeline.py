"""Incremental pipeline (operator O4) + processing-state ledger.

Reference semantics being re-expressed:

- the 30-minute cron + S3 sensor loop (rosbag_processing.py:16-24,
  s3_metadata_sensor.py:49-90) is ``process_pending`` (``runner.run_once``)
  called on a schedule: each tick lists the bags, drops the ones the ledger
  marks done or running, processes the rest and records the outcome. The
  bookkeeping runs on the driver, as the reference's sensor does on the
  Airflow worker: ``list_bag_keys`` lists the bags with pyarrow,
  ``manifest_statuses`` folds the ledger, and the pending paths reach Spark
  as an arrow-backed local relation, so a tick with nothing pending runs
  no Spark job at all. ``streaming_bag_ingest`` is the Structured
  Streaming form of the same ingest (the ``rosbag`` stream source with
  checkpointed path-set offsets, no ledger);
- the ``processing.status`` object-tag ledger (processing.py:4-27) becomes an
  **append-only manifest log**: one (key, status, updated_at) row per
  transition, current state = last writer per key. Appends are cheap and
  atomic-enough on any filesystem (no read-modify-overwrite of the table
  we're reading); on Delta/Iceberg the same API maps to ``MERGE INTO``;
- the replay-by-clearing-tag capability (reference README.md:90-100) is
  ``clear_status`` + ``process_pending``: a cleared key is pending again on
  the next tick. A bag left ``in progress`` by a killed process is re-run
  the same way — clear its status — just as a reference bag whose tag went
  stale is re-run by clearing the tag.

Scale notes: the manifest log grows one tiny row per transition. Every
reader goes through one driver-side last-writer-wins fold (``_fold_log``,
one pyarrow pass over the log): ``manifest_statuses`` returns it as a
dict, ``current_manifest`` / ``manifest_at`` as an arrow-backed local
relation (collecting it runs no Spark job), and ``compact_manifest``
writes it back as a one-row-per-key snapshot when the log gets long.
Failure isolation is per bag (one bag = one unit of work, matching the
reference).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TERMINAL_OR_ACTIVE
from ..sources.listing import list_bag_keys

MANIFEST_LOG_SCHEMA = "key string, status string, updated_at timestamp"

# ---------------------------------------------------------------------------
# Manifest ledger (K8 / S2 state store) — versioned commit log
#
# Delta-semantics-without-the-package. Layout under manifest_dir:
#
#   _log/00000000.json, 00000001.json, …   one entry per COMMIT
#   data/c-<uuid>/                          parquet rows for that commit
#                                           (entry["data"] is the pointer;
#                                           legacy data/vNNNNNNNN dirs from
#                                           pre-multi-writer logs resolve
#                                           by version number)
#
# Commit protocol — MULTI-WRITER-safe optimistic concurrency (the
# putIfAbsent commit of Delta/Iceberg on a POSIX filesystem):
#
#   1. stage the commit's parquet rows in a UNIQUE data dir (uuid-named —
#      concurrent writers can never collide on the data);
#   2. write the full log entry to a unique temp file (fsync'd);
#   3. CLAIM the next version with os.link(temp, NNNNNNNN.json) — link is
#      atomic and fails with EEXIST iff another writer claimed that number
#      first, in which case retry at the next number. The link IS the
#      commit point: a commit is visible iff its numbered entry exists,
#      and the entry appears with complete content (the temp was written
#      fully before the link).
#
# A crash before the link leaves an invisible uniquely-named orphan dir
# (it can never be confused with committed data because nothing
# references it; ``vacuum_manifest`` reclaims orphans past a TTL). The
# head version is the max-numbered log entry — no mutable HEAD file to
# corrupt.
#
# An "append" commit adds rows. A "snapshot" commit (compaction) holds
# the full last-writer-wins state through its ``base`` version — the head
# the compactor actually read — NOT through its own commit number: an
# append that wins the race for a number between base and the snapshot's
# number is still included by readers, so a racing compactor can never
# silently swallow a concurrent append. Reading version V = the data of
# the snapshot ≤ V with the highest base, plus every append commit in
# (base, V]. Compaction never touches files a concurrent reader may hold;
# old versions stay readable (time travel) until ``vacuum_manifest``
# reclaims commits at-or-below the retained snapshot's base.
# ---------------------------------------------------------------------------


def _log_dir(manifest_dir: str) -> str:
    return os.path.join(manifest_dir, "_log")


def _versions(manifest_dir: str) -> list[int]:
    d = _log_dir(manifest_dir)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(d)
        if f.endswith(".json") and f[:-5].isdigit()
    )


def _data_path(manifest_dir: str, version: int) -> str:
    return os.path.join(manifest_dir, "data", f"v{version:08d}")


def _read_entry(manifest_dir: str, version: int) -> dict:
    import json

    with open(os.path.join(_log_dir(manifest_dir), f"{version:08d}.json")) as f:
        return json.load(f)


def _entry_data_path(manifest_dir: str, version: int, entry: dict) -> str:
    """Resolve a commit's data dir through its log entry (legacy entries
    without a pointer resolve to the old data/vNNNNNNNN convention)."""
    return os.path.join(
        manifest_dir, entry.get("data", f"data/v{version:08d}")
    )


def _claim_commit(
    manifest_dir: str, action: str, data_rel: str, base: int | None = None
) -> int:
    """Atomically claim the next free version for an already-staged data
    dir: write the complete entry to a unique temp file, then
    ``os.link`` it to ``NNNNNNNN.json``. link(2) is atomic and fails with
    EEXIST iff another writer claimed that number first — the loser
    re-stamps the entry at the next number and retries. THIS is the
    commit point (multi-process-safe optimistic concurrency; the
    putIfAbsent commit of Delta/Iceberg)."""
    import json
    import uuid

    log = _log_dir(manifest_dir)
    os.makedirs(log, exist_ok=True)
    versions = _versions(manifest_dir)
    v = versions[-1] + 1 if versions else 0
    tmp = os.path.join(log, f".tmp-{uuid.uuid4().hex}.json")
    try:
        while True:
            entry = {
                "version": v,
                "action": action,
                "data": data_rel,
                "committed_at": dt.datetime.now(
                    dt.timezone.utc
                ).isoformat(),
            }
            if base is not None:
                entry["base"] = base
            with open(tmp, "w") as f:
                json.dump(entry, f)
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, os.path.join(log, f"{v:08d}.json"))
                return v
            except FileExistsError:
                v += 1
    finally:
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass


def _arrow_log_schema():
    """``MANIFEST_LOG_SCHEMA`` in arrow: ``updated_at`` is a UTC instant."""
    import pyarrow as pa

    return pa.schema(
        [
            ("key", pa.string()),
            ("status", pa.string()),
            ("updated_at", pa.timestamp("us", tz="UTC")),
        ]
    )


def _stage_rows(manifest_dir: str, rows) -> str:
    """Write commit rows — (key, status, updated_at) tuples, a naive
    ``updated_at`` read as UTC — to a unique staging dir with pyarrow;
    returns the relative pointer for the log entry. The manifest is tiny
    metadata (a handful of rows per transition), so writers need no JVM
    and no Spark job, exactly as Delta's log writes aren't Spark jobs."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    rel = f"data/c-{uuid.uuid4().hex}"
    path = os.path.join(manifest_dir, rel)
    os.makedirs(path, exist_ok=True)
    schema = _arrow_log_schema()
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema
    )
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
    return rel


def append_status(
    spark: SparkSession | None,
    manifest_dir: str,
    keys: list[str],
    status: str | None,
) -> None:
    """Record a status transition for each key (append-only; K8). One
    call = one commit = one new readable version. Safe under CONCURRENT
    writers (see the commit-protocol note above). The rows are always
    staged driver-side via pyarrow (no Spark job); ``spark`` is accepted
    for call-site compatibility and may be None."""
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    rows = [(k, status, now) for k in keys]
    if not rows:
        return
    rel = _stage_rows(manifest_dir, rows)
    _claim_commit(manifest_dir, "append", rel)


def clear_status(
    spark: SparkSession | None, manifest_dir: str, keys: list[str]
) -> None:
    """Replay hook: clearing the status re-enqueues the key on the next
    ``process_pending`` tick (reference README.md:90-100)."""
    append_status(spark, manifest_dir, keys, None)


def _latest_snapshot(
    entries: dict[int, dict], bound: int
) -> tuple[int, int] | None:
    """(base, version) of the snapshot commit at or below ``bound`` with
    the highest base (then the highest version), or None. Its rows cover
    every commit ≤ base; older snapshots are strict subsets."""
    return max(
        (
            (e.get("base", v - 1), v)
            for v, e in entries.items()
            if v <= bound and e["action"] == "snapshot"
        ),
        default=None,
    )


def _log_paths(
    manifest_dir: str, version: int
) -> list[tuple[int, str]]:
    """(rank, data dir) pairs a reader at ``version`` must union — rank
    is the commit version (a snapshot ranks at its BASE), ascending, and
    is the LWW tie-break order. Content: the snapshot ≤ version with the
    HIGHEST base (``_latest_snapshot``), plus every append commit in
    (base, version]. Keying on the snapshot's ``base`` — the head its
    compactor actually read — rather than its commit number is what makes
    a racing compactor harmless: an append that claimed a number after
    base but before the snapshot's own number is outside the snapshot's
    coverage, stays in the reader's union and outranks the snapshot's
    rows on a timestamp tie."""
    entries = {
        v: _read_entry(manifest_dir, v)
        for v in _versions(manifest_dir)
        if v <= version
    }
    snap = _latest_snapshot(entries, version)
    base = snap[0] if snap else -1
    ranked = [snap] if snap else []
    ranked += [
        (v, v)
        for v, e in entries.items()
        if v > base and e["action"] == "append"
    ]
    return [
        (rank, _entry_data_path(manifest_dir, v, entries[v]))
        for rank, v in sorted(ranked)
    ]


def _read_log_arrow(sources: list[tuple[int, str]]):
    """Union the parquet part-files of ``_log_paths``' (rank, data dir)
    pairs into one arrow table of ``MANIFEST_LOG_SCHEMA`` plus ``__v``,
    the commit rank each row carries into the fold.

    ``updated_at`` is normalised to timestamp[us, tz=UTC] per file before
    the concat: pyarrow-staged commits already hold that, while commits
    that older versions wrote with Spark read back as naive timestamp[ns]
    holding the UTC wall time — the same instant, but arrow refuses to
    merge tz-aware with naive columns."""
    import glob as _glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = _arrow_log_schema()
    tables = []
    for rank, d in sources:
        for f in sorted(_glob.glob(os.path.join(d, "*.parquet"))):
            t = pq.read_table(f, columns=schema.names).cast(schema)
            rank_col = pa.array([rank] * t.num_rows, pa.int64())
            tables.append(t.append_column("__v", rank_col))
    if not tables:
        return schema.append(pa.field("__v", pa.int64())).empty_table()
    return pa.concat_tables(tables)


def _fold_log(
    manifest_dir: str, version: int, as_of: dt.datetime | None = None
):
    """The ledger's one last-writer-wins fold: over the log visible at
    ``version`` (rows with ``updated_at <= as_of`` when given), one
    (key, status, updated_at) row per key — the latest ``updated_at``
    wins (event-time LWW, the documented semantic; writers with skewed
    clocks should use one clock source), the commit rank breaks ties (two
    appends in the same microsecond, e.g. ``_process_batch``'s
    back-to-back status calls or two racing writers). Runs driver-side
    over pyarrow: the ledger is tiny driver-written metadata. ``as_of`` is
    a UTC instant; a naive value counts as UTC, as ``append_status``
    stamps it. Returns an arrow table of ``MANIFEST_LOG_SCHEMA`` ordered by
    (updated_at, rank)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    log = _read_log_arrow(_log_paths(manifest_dir, version))
    if as_of is not None:
        cut = pa.scalar(as_of, log.schema.field("updated_at").type)
        log = log.filter(pc.less_equal(log["updated_at"], cut))
    log = log.sort_by([("updated_at", "ascending"), ("__v", "ascending")])
    last = {k: i for i, k in enumerate(log["key"].to_pylist())}
    keep = pa.array(sorted(last.values()), pa.int64())
    return log.take(keep).drop_columns("__v")


def manifest_at(
    spark: SparkSession,
    manifest_dir: str,
    version: int | None = None,
    as_of: dt.datetime | None = None,
) -> DataFrame:
    """Time travel: the last-writer-wins view as of a past commit
    ``version`` (every append and every compaction is one version —
    Delta's ``VERSION AS OF``; default the head) or an ``as_of`` instant
    (``TIMESTAMP AS OF``: replay the log up to that instant; naive = UTC).
    The ``_fold_log`` result as an arrow-backed local relation: collecting
    it runs no Spark job."""
    versions = _versions(manifest_dir)
    if version is None:
        version = versions[-1] if versions else -1
    elif version not in versions:
        raise ValueError(
            f"version {version} not on disk (have {versions}; vacuumed?)"
        )
    return spark.createDataFrame(
        _fold_log(manifest_dir, version, as_of), MANIFEST_LOG_SCHEMA
    )


def current_manifest(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """Last-writer-wins view of the log at the head version:
    (key, status, updated_at), an arrow-backed local relation."""
    return manifest_at(spark, manifest_dir)


def compact_manifest(
    spark: SparkSession | None, manifest_dir: str
) -> None:
    """Write the one-row-per-key snapshot as the next commit (run when
    the log gets long): ``_fold_log`` at the head, staged with pyarrow.
    Readers at older versions are untouched — their data dirs remain until
    ``vacuum_manifest``. Race-safe against concurrent appenders: the entry
    records ``base`` = the head version this compactor actually read, so
    an append that claims a number between base and the snapshot's own
    number stays visible (see ``_log_paths``). ``spark`` is accepted for
    call-site compatibility and may be None."""
    versions = _versions(manifest_dir)
    if not versions:
        return
    head = versions[-1]
    fold = _fold_log(manifest_dir, head).to_pydict()
    rel = _stage_rows(manifest_dir, zip(*fold.values()))
    _claim_commit(manifest_dir, "snapshot", rel, base=head)


def manifest_statuses(manifest_dir: str) -> dict[str, str | None]:
    """{key: status} at the head version (a cleared key maps to None):
    ``_fold_log`` as a dict, the form ``process_pending`` reads. No
    Spark job."""
    versions = _versions(manifest_dir)
    if not versions:
        return {}
    fold = _fold_log(manifest_dir, versions[-1])
    return dict(zip(fold["key"].to_pylist(), fold["status"].to_pylist()))


def vacuum_manifest(
    manifest_dir: str, keep: int = 2, orphan_ttl_s: float = 24 * 3600
) -> None:
    """Reclaim commits no reader inside the retention window can need:
    keep the newest ``keep`` versions readable; everything at-or-below
    the retained snapshot's BASE goes (data dir + log entry) — by
    ``_log_paths`` no reader at a retained version can resolve to those
    commits. Run when no reader predates the retained window — the same
    contract as Delta VACUUM.

    Also garbage-collects ORPHANS: uuid-named staging dirs (and log temp
    files) left by a writer that crashed between staging and claiming.
    Nothing references them, so they'd otherwise accumulate forever in a
    long-running multi-writer deployment. Only orphans older than
    ``orphan_ttl_s`` are removed — an in-flight writer stages then claims
    within seconds, so the TTL (Delta's deleted-file retention analogue)
    makes reclaiming safe against concurrent commits."""
    versions = _versions(manifest_dir)
    if not versions:
        return
    cutoff = versions[-1] - max(1, keep) + 1  # oldest version kept readable
    entries = {v: _read_entry(manifest_dir, v) for v in versions}
    snap = _latest_snapshot(entries, cutoff)
    if snap:
        base = snap[0]
        for v in versions:
            if v <= base:
                shutil.rmtree(
                    _entry_data_path(manifest_dir, v, entries[v]),
                    ignore_errors=True,
                )
                try:
                    os.remove(
                        os.path.join(_log_dir(manifest_dir), f"{v:08d}.json")
                    )
                except FileNotFoundError:
                    pass


    # Orphan GC (runs even when no snapshot is old enough to advance the
    # base): anything under data/ not referenced by a surviving log entry,
    # plus .tmp-*.json claim temps, older than the TTL.
    import time as _time

    now = _time.time()
    referenced = {
        os.path.normpath(_entry_data_path(manifest_dir, v, e))
        for v, e in entries.items()
    }
    data_root = os.path.join(manifest_dir, "data")
    if os.path.isdir(data_root):
        for name in os.listdir(data_root):
            p = os.path.join(data_root, name)
            if os.path.normpath(p) in referenced:
                continue
            try:
                if now - os.path.getmtime(p) >= orphan_ttl_s:
                    shutil.rmtree(p, ignore_errors=True)
            except FileNotFoundError:
                pass
    log = _log_dir(manifest_dir)
    if os.path.isdir(log):
        for name in os.listdir(log):
            if not name.startswith(".tmp-"):
                continue
            p = os.path.join(log, name)
            try:
                if now - os.path.getmtime(p) >= orphan_ttl_s:
                    os.remove(p)
            except FileNotFoundError:
                pass


# ---------------------------------------------------------------------------
# Incremental processing
# ---------------------------------------------------------------------------


def _process_batch(
    batch: DataFrame,
    keys: list[str],
    manifest_dir: str,
    process_fn: Callable[[DataFrame], list[str] | None],
) -> dict[str, str]:
    """Run ``process_fn`` over ``batch`` (whose ``path`` column holds
    exactly ``keys``, distinct) with per-bag failure isolation + status
    ledger.

    One bag = one unit of *accounting* (the reference's granularity), one
    batch = one set of Spark jobs: ``process_fn`` handles the whole batch
    and reports the keys that failed (the quarantine pattern — decoders
    emit per-bag error rows instead of failing the task, see
    runner.process_bags). A corrupt bag marks `failure` without poisoning
    the batch (O2 semantics — unlike the reference, which treats any
    container STOP as success, processing.py:154-173). A tick discovering
    10k bags therefore runs a constant number of jobs, not 10k.

    The status commits are staged driver-side (``append_status``): the
    ledger lives on a local filesystem anyway (``_claim_commit`` links),
    so a transition costs no Spark job, and the failure mark still lands
    when the Spark session itself broke.

    Returns {key: "complete" | "failure"} for the batch.
    """
    append_status(None, manifest_dir, keys, "in progress")
    try:
        failed = set(process_fn(batch) or [])
    except Exception:
        # infrastructure failure (not a per-bag decode error): the whole
        # batch is unaccounted-for → mark everything failed and surface it
        append_status(None, manifest_dir, keys, "failure")
        raise
    statuses = {k: "failure" if k in failed else "complete" for k in keys}
    append_status(
        None, manifest_dir, [k for k in keys if k not in failed], "complete"
    )
    append_status(None, manifest_dir, sorted(failed), "failure")
    return statuses


def _await_tick(q, timeout_s: int) -> None:
    """awaitTermination with the timeout treated as a FAILURE: returning
    silently would leave the query running and the tick half-done (the
    next tick against the same checkpoint then hits a concurrent-query
    error, or the process exits mid-write). Stop the query and raise."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming tick did not finish within {timeout_s}s "
            "(query stopped; checkpoint will resume it next tick)"
        )


def zonemap_maintaining_sink(
    spark: SparkSession,
    lake_path: str,
    zonemap_dir: str,
    cols: list[str],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body that keeps the lake's skip index CURRENT: append
    the micro-batch to ``lake_path``, then incrementally fold the new
    files' per-file min/max into the persisted zone map
    (operators/layout.zonemap_refresh — stats only the files this tick
    added, never re-opens the lake).

    This closes the gap between the batch-built ``zonemap_stats`` and a
    continuously-ingesting lake: without commit-time maintenance the skip
    index silently stales and pruned reads lose rows. Replay-safe the
    same way the rollup/CMS folds are: the data append may duplicate rows
    under foreachBatch's at-least-once contract only if the batch write
    itself is replayed after success (same exposure as any parquet-append
    sink); the zone-map fold is fully idempotent (per-file stats are
    deterministic, presence-checked, deduped on read).
    """
    from ..operators.layout import zonemap_refresh

    def _fb(batch: DataFrame, _epoch: int) -> None:
        batch.write.mode("append").parquet(lake_path)
        zonemap_refresh(spark, lake_path, zonemap_dir, cols)

    return _fb


def run_zonemap_stream(
    spark: SparkSession,
    source: DataFrame,
    lake_path: str,
    zonemap_dir: str,
    cols: list[str],
    checkpoint_dir: str,
    timeout_s: int = 300,
) -> None:
    """One availableNow tick of a zone-map-maintaining ingestion: every
    unseen input row lands in ``lake_path`` AND its file's min/max lands
    in the persisted zone map, so ``layout.zonemap_pruned_read`` over
    ``layout.load_zonemap`` stays correct between ticks without a batch
    rebuild."""
    q = (
        source.writeStream.foreachBatch(
            zonemap_maintaining_sink(spark, lake_path, zonemap_dir, cols)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    _await_tick(q, timeout_s)


def chunk_store_sink(
    spark: SparkSession,
    store_path: str,
    avg_tokens: int = 8,
    min_tokens: int = 1,
    max_tokens: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body for a CONTENT-ADDRESSED CDC chunk store — the
    streaming realization of the ``cdc_delta_sync`` bill: each micro-batch
    of documents is CDC-chunked (operators/curation.cdc_chunks, optionally
    FastCDC-bounded), deduped on chunk md5 within the batch, anti-joined
    against the persisted store, and ONLY unseen chunks are appended
    (hash, chunk text, token count, plus one provenance (doc, chunk_id)).
    A re-ingested corpus snapshot therefore uploads exactly its delta —
    the versioned-snapshot storage contract, maintained continuously.

    Replay-safe BEYOND the parquet-append sinks: the anti-join makes the
    append idempotent at the chunk level (a replayed batch finds all its
    chunks already stored and appends nothing), so foreachBatch's
    at-least-once contract cannot duplicate store rows. The anti-join's
    build side is the store's ``h`` column only — at lake scale that read
    stays column-pruned, and the store can be bucketed by ``h`` to make
    the probe a co-located join.

    The "does the store exist yet" probe is a try-read of ``store_path``
    through Spark's own reader, NOT a driver-local ``os.listdir`` — so an
    ``s3a://``/``hdfs://``/``abfs://`` store is probed through the same
    Hadoop filesystem that wrote it, and an already-populated
    object-store path can never be mistaken for absent (which would
    silently skip the anti-join and re-append the whole corpus). The
    catch is narrowed to the conditions that MEAN absent — no such path,
    or path exists with zero data files yet (``_errors.is_absent``, the
    same classifier the persisted-PQ geometry probe uses) — every other
    analysis failure (e.g. a corrupt footer, a permissions error
    surfacing at analysis time) re-raises: treating those as "absent"
    would ALSO skip the anti-join and re-append the corpus, the exact
    failure the try-read exists to prevent.
    """
    from pyspark.errors import AnalysisException

    from ..operators._errors import is_absent
    from ..operators.curation import cdc_chunks

    def _fb(batch: DataFrame, _epoch: int) -> None:
        ch = (
            cdc_chunks(
                batch,
                avg_tokens=avg_tokens,
                id_col=id_col,
                text_col=text_col,
                min_tokens=min_tokens,
                max_tokens=max_tokens,
            )
            .select(
                F.md5("chunk").alias("h"),
                "chunk",
                "n_tokens",
                F.col(id_col).alias("first_doc"),
                F.col("chunk_id").alias("first_chunk"),
            )
            .dropDuplicates(["h"])
        )
        try:
            seen = spark.read.parquet(store_path).select("h")
        except AnalysisException as e:
            if not is_absent(e):
                raise  # corrupt store / auth failure ≠ "first tick"
            seen = None  # first tick: store absent (or empty, schema-less)
        if seen is not None:
            ch = ch.join(seen, "h", "left_anti")
        ch.write.mode("append").parquet(store_path)

    return _fb


def run_chunk_store_stream(
    spark: SparkSession,
    source: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    timeout_s: int = 300,
    **chunk_opts,
) -> None:
    """One availableNow tick of content-addressed chunk-store ingestion:
    every unseen document is chunked and only chunks the store has never
    seen are appended (``chunk_store_sink``)."""
    q = (
        source.writeStream.foreachBatch(
            chunk_store_sink(spark, store_path, **chunk_opts)
        )
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    _await_tick(q, timeout_s)


def windowed_event_counts(
    events: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming tumbling-window counts with late-data handling: events
    older than the watermark are dropped and closed windows emit exactly
    once (append mode). The batch twin is sessionize.tumbling_window_agg —
    same grouping expression, so batch backfill and the live stream produce
    the same table."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), group_col)
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), group_col, "n_events")
    )


def attribution_join_streams(
    purchases: DataFrame,
    clicks: DataFrame,
    key: str = "user_id",
    purchase_ts: str = "purchase_ts",
    click_ts: str = "click_ts",
    horizon: str = "10 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same key's
    clicks in the preceding ``horizon`` (ad-attribution shape; the streaming
    twin of asof/range_join on batch data).

    Both sides carry watermarks and the join condition bounds event time on
    BOTH sides, so Spark derives a state-retention horizon per side and
    evicts matched/expired rows — state stays O(horizon × rate), never
    O(stream). Inner join → append mode; results for a purchase emit once
    its click-side watermark passes the interval's end.

    ``how="leftOuter"`` is the audit form: every purchase emits exactly
    once — attributed rows as they match, UNATTRIBUTED purchases with a
    NULL click_ts once the watermark guarantees no qualifying click can
    still arrive. The null-flush happens at a later micro-batch than the
    match (it needs the watermark to PASS the horizon), which is why the
    test drives two ticks through one checkpoint.
    """
    if how not in ("inner", "leftOuter", "left_outer", "left"):
        raise ValueError(
            f"attribution join supports inner/leftOuter, got {how!r}: "
            "right/full outer would emit per-click rows, not per-purchase"
        )
    p = purchases.withWatermark(purchase_ts, watermark).alias("p")
    c = clicks.withWatermark(click_ts, watermark).alias("c")
    return p.join(
        c,
        F.expr(
            f"p.{key} = c.{key} AND "
            f"c.{click_ts} >= p.{purchase_ts} - INTERVAL {horizon} AND "
            f"c.{click_ts} <= p.{purchase_ts}"
        ),
        how,
    ).select(
        F.col(f"p.{key}").alias(key),
        F.col(f"p.{purchase_ts}").alias(purchase_ts),
        F.col(f"c.{click_ts}").alias(click_ts),
    )


def session_window_stats(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Native session windows (F.session_window): state merges adjacent
    events within ``gap`` per key; the watermark bounds state retention.
    Works in batch too — the batch gap-and-island formulation
    (sessionize.session_stats) is the window-function twin."""
    df = events
    if events.isStreaming:
        df = events.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.col(key_col), F.session_window(F.col(ts_col), gap).alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def process_pending(
    spark: SparkSession,
    source_dir: str,
    manifest_dir: str,
    process_fn: Callable[[DataFrame], list[str] | None],
) -> dict[str, str]:
    """One incremental tick: discover the bags whose manifest status is not
    terminal/active (S1+S2: the ``discover_new`` rule, applied on the
    driver), process them, record transitions. Run it on a schedule for
    the reference's cron + sensor cadence.

    A cleared status makes the key pending again (replay). Returns
    {key: "complete" | "failure"} for this tick's keys ({} = no work) so
    callers get a programmatic failure signal without scanning the
    manifest.

    Discovery runs no Spark job: ``list_bag_keys`` lists ``source_dir``
    with pyarrow (the keys a ``binaryFile`` listing gives, so older
    ledgers stay valid; two bags sharing a stem raise before any ledger
    commit) and ``manifest_statuses`` folds the ledger with pyarrow, so a
    tick with nothing pending returns before any Spark call. The batch
    handed to ``process_fn`` is a ``path``-only arrow-backed local
    relation, sorted by key, with ``min(n, defaultParallelism)``
    partitions."""
    import pyarrow as pa

    statuses = manifest_statuses(manifest_dir)
    keys = [
        k for k in list_bag_keys(source_dir)
        if statuses.get(k) not in TERMINAL_OR_ACTIVE
    ]
    if not keys:
        return {}
    batch = spark.createDataFrame(pa.table({"path": keys}), "path string")
    return _process_batch(batch, keys, manifest_dir, process_fn)


def dedup_within_watermark(
    stream, id_col: str = "event_id", ts_col: str = "ts", delay: str = "10 minutes"
):
    """Streaming exact-once-per-id within a bounded horizon: Spark's
    ``dropDuplicatesWithinWatermark`` keeps per-id state only until the
    watermark passes id's first-seen event time + delay, so state is bounded
    by the duplicate-arrival window instead of growing with the full id
    history (the built-in complement to stateful.streaming_dedup, which
    remembers forever). Use when duplicates are caused by at-least-once
    upstream delivery — retries land within minutes, not days."""
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        [id_col]
    )


def streaming_rollup(
    stream,
    rollup_path: str,
    checkpoint: str,
    ts_col: str = "ts",
    group_col: str = "event_type",
    window: str = "1 hour",
):
    """Continuous aggregate as a stream: every micro-batch folds into the
    incremental rollup table via ``rollup.update_rollup`` (partition-pruned
    read of only the touched windows, dynamic overwrite of only the touched
    partitions) — a materialized view that stays fresh without recomputing
    history. foreachBatch is the right hook because the sink is a keyed
    MERGE-shaped write, not an append.

    Delivery: foreachBatch is at-least-once and the fold is additive, so a
    replayed epoch would double-count — an epoch marker written after each
    fold makes Spark's batch retries (same epoch id re-delivered) no-ops.
    A crash in the instant between fold and marker can still double-fold;
    closing that window needs a transactional table format (Delta/Iceberg
    MERGE keyed on the epoch), same as any non-transactional sink."""
    import os

    from ..operators.rollup import update_rollup

    marker_dir = rollup_path.rstrip("/") + "__epochs"

    def _fold(batch, epoch_id: int) -> None:
        marker = os.path.join(marker_dir, str(epoch_id))
        if os.path.exists(marker):
            return  # retried epoch: already folded
        update_rollup(
            batch.sparkSession, batch, rollup_path,
            ts_col=ts_col, group_col=group_col, window=window,
        )
        os.makedirs(marker_dir, exist_ok=True)
        with open(marker, "w"):
            pass

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def streaming_cms(
    stream,
    sketch_path: str,
    checkpoint: str,
    value_col: str = "event_type",
    depth: int = 4,
    width: int = 256,
):
    """Continuously-maintained count-min sketch: each micro-batch's sketch
    folds into the persisted one by per-(d, bucket) addition — the
    mergeability that makes CMS the right frequency structure for streams
    (state is depth×width rows forever, independent of stream length).
    Idempotence is transactional with the fold itself: the set of folded
    epoch ids rides INSIDE the swapped directory (an underscore-prefixed
    ``_epochs`` parquet subdir, which Spark's parquet scan of the sketch
    dir ignores as metadata), so the fold and its marker commit in the
    same atomic rename. A replayed micro-batch (foreachBatch is
    at-least-once) finds its epoch id already recorded and no-ops — and a
    crash BETWEEN fold and marker is impossible because there is no
    between. Query the live sketch any time with
    ``sketches.cms_estimate(spark.read.parquet(sketch_path), ...)``.
    """
    def _fold(batch, epoch_id: int) -> None:
        cms_fold_batch(batch, epoch_id, sketch_path, value_col, depth, width)

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def _epoch_frame(spark: SparkSession, epoch_id: int) -> DataFrame:
    """The one-row epoch marker of a fold, as an arrow-backed local
    relation (no Python-worker job to build it)."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table({"epoch_id": [int(epoch_id)]}), "epoch_id bigint"
    )


def _epoch_fold(
    new: DataFrame,
    epoch_id: int,
    path: str,
    keys: tuple[str, ...],
    value: str,
) -> bool:
    """One idempotent fold of a mergeable state table: ``new`` is a
    micro-batch's contribution (cells keyed by ``keys``, additive
    ``value``) and is summed into the table at ``path``. Returns True if
    the batch was folded, False if its epoch was already committed.

    The folded-epoch set is written INSIDE the staged directory
    (``_epochs`` subdir) so the fold and its idempotence marker commit in
    the same directory rename; an interrupted swap (table absent, staging
    complete) is rolled forward on the next call."""
    spark = new.sparkSession
    staging = path.rstrip("/") + "__staging"
    if not os.path.exists(path) and os.path.exists(
        os.path.join(staging, "_epochs")
    ):
        # Crash landed between the two swap renames: staging is a
        # complete committed fold (renames only start after both
        # writes finish), so roll it forward instead of refolding.
        os.rename(staging, path)
    epochs_path = os.path.join(path, "_epochs")
    if os.path.exists(epochs_path):
        prev_epochs = spark.read.parquet(epochs_path)
        if prev_epochs.filter(F.col("epoch_id") == epoch_id).count() > 0:
            return False  # retried epoch: fold already committed with swap
    else:
        prev_epochs = None
    if os.path.exists(path):
        merged = (
            spark.read.parquet(path)
            .unionByName(new)
            .groupBy(*keys)
            .agg(F.sum(value).alias(value))
        )
    else:
        merged = new
    this_epoch = _epoch_frame(spark, epoch_id)
    all_epochs = (
        prev_epochs.unionByName(this_epoch)
        if prev_epochs is not None
        else this_epoch
    )
    merged.write.mode("overwrite").parquet(staging)
    all_epochs.write.mode("overwrite").parquet(
        os.path.join(staging, "_epochs")
    )
    old = path.rstrip("/") + "__old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)
    return True


def cms_fold_batch(
    batch,
    epoch_id: int,
    sketch_path: str,
    value_col: str = "event_type",
    depth: int = 4,
    width: int = 256,
) -> bool:
    """One idempotent CMS fold (the foreachBatch body of ``streaming_cms``,
    exposed for direct testing of replay/crash behavior; the protocol is
    ``_epoch_fold``'s). Returns True if the batch was folded, False if its
    epoch was already committed."""
    from ..operators.sketches import cms_build

    return _epoch_fold(
        cms_build(batch, value_col, depth, width),
        epoch_id, sketch_path, ("d", "bucket"), "c",
    )


def streaming_bag_ingest(
    spark: SparkSession,
    bags_dir: str,
    dest_dir: str,
    checkpoint: str,
    topics: list[str],
    timeout_s: int = 300,
) -> None:
    """The full reference E1/E2 lifecycle as ONE streaming job over genuine
    ROS bag bytes: rosbag stream source (real binary codec, topic pushdown,
    one bag = one input partition) → ``widen_topic`` per requested topic →
    per-topic parquet tables partitioned by bag_id under
    ``dest_dir/<topic>/`` — the reference's per-topic output layout
    (bag_to_csv.py:114-132) with its 30-minute cron + sensor + replay
    machinery collapsed into a checkpointed AvailableNow tick.

    Exactly-once end-to-end: the source's path-set offsets hand each bag
    to exactly one micro-batch (a bag never spans batches), and the sink
    is idempotent under foreachBatch's at-least-once replay — each topic
    write is a DYNAMIC partition overwrite keyed on bag_id, so a replayed
    batch rewrites its own bags' partitions instead of double-appending.
    Run a long-lived ``processingTime`` trigger for the always-on form.
    """
    from ..operators.flatten import widen_topic
    from ..sources.bag_datasource import BagDataSource

    spark.dataSource.register(BagDataSource)
    stream = (
        spark.readStream.format("rosbag")
        .option("path", bags_dir)
        .option("topics", ",".join(topics))
        .load()
    )

    def _fb(batch: DataFrame, _epoch: int) -> None:
        for topic in topics:
            name = topic.strip("/").replace("/", "_")
            widen_topic(batch, topic).write.partitionBy("bag_id").mode(
                "overwrite"
            ).option("partitionOverwriteMode", "dynamic").option(
                "compression", "snappy"
            ).parquet(os.path.join(dest_dir, name))

    q = (
        stream.writeStream.foreachBatch(_fb)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    _await_tick(q, timeout_s)


def gram_fold_batch(
    batch,
    epoch_id: int,
    gram_path: str,
    vec_col: str = "embedding",
    dim: int = 64,
) -> bool:
    """One idempotent Gram-matrix fold — the linear-algebra member of the
    mergeable-state family (the same ``_epoch_fold`` as
    ``cms_fold_batch``): each micro-batch contributes its d×d partial
    XᵀX and cells ADD, so the persisted table is always the exact Gram of
    everything folded so far; a PCA/eigensolve can run against the live
    table at any time (operators/linalg.pca_top_component consumes the
    same cell layout). Cells are stored as DECIMAL so folds are exact and
    order-independent across ticks."""
    from ..operators.linalg import gram_matrix

    return _epoch_fold(
        gram_matrix(batch, vec_col, dim, as_decimal=True),
        epoch_id, gram_path, ("i", "j"), "v",
    )
