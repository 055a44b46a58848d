"""Incremental / streaming pipeline (operator O4) + processing-state ledger.

Reference semantics being re-expressed:

- the 30-minute cron + S3 sensor loop (rosbag_processing.py:16-24,
  s3_metadata_sensor.py:49-90) becomes a Structured Streaming **file source**
  with ``Trigger.AvailableNow`` — the checkpoint gives exactly-once file
  discovery with no tag races;
- the ``processing.status`` object-tag ledger (processing.py:4-27) becomes an
  **append-only manifest log**: one (key, status, updated_at) row per
  transition, current state = last writer per key. Appends are cheap and
  atomic-enough on any filesystem (no read-modify-overwrite of the table
  we're reading); on Delta/Iceberg the same API maps to ``MERGE INTO``;
- the replay-by-clearing-tag capability (reference README.md:90-100) is
  ``clear_status`` + ``process_pending``: the *batch* incremental tick
  discovers anything the manifest doesn't mark as done — including keys the
  streaming checkpoint has already seen — so explicit replay works even
  though the stream source never re-emits a file.

Scale notes: the manifest log grows one tiny row per transition —
``current_manifest`` is one window pass, and ``compact_manifest`` rewrites
it to one row per key when the log gets long. Failure isolation is per bag
(one bag = one unit of work, matching the reference), each bag a filtered
slice of the batch.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.discovery import discover_new
from ..schemas import TERMINAL_OR_ACTIVE

BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)
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


def commit_data_path(manifest_dir: str, version: int) -> str:
    """Public resolution of a committed version's data dir."""
    return _entry_data_path(
        manifest_dir, version, _read_entry(manifest_dir, version)
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


def _stage_rows(
    spark: SparkSession | None, manifest_dir: str, rows_or_df
) -> str:
    """Write commit rows to a unique staging dir; returns the relative
    pointer for the log entry. A DataFrame (the Spark compactor's snapshot)
    is written by Spark; row tuples are written driver-side via pyarrow —
    the manifest is tiny metadata (a handful of rows per transition), so
    status writers don't need a JVM or a Spark job, exactly as Delta's log
    writes aren't Spark jobs."""
    import uuid

    rel = f"data/c-{uuid.uuid4().hex}"
    path = os.path.join(manifest_dir, rel)
    if isinstance(rows_or_df, DataFrame):
        rows_or_df.write.mode("overwrite").parquet(path)
    else:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = rows_or_df
        os.makedirs(path, exist_ok=True)
        table = pa.table(
            {
                "key": pa.array([r[0] for r in rows], pa.string()),
                "status": pa.array([r[1] for r in rows], pa.string()),
                "updated_at": pa.array(
                    [r[2] for r in rows], pa.timestamp("us", tz="UTC")
                ),
            }
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
    rel = _stage_rows(spark, manifest_dir, rows)
    _claim_commit(manifest_dir, "append", rel)


def clear_status(
    spark: SparkSession | None, manifest_dir: str, keys: list[str]
) -> None:
    """Replay hook: clearing the status re-enqueues the key on the next
    ``process_pending`` tick (reference README.md:90-100)."""
    append_status(spark, manifest_dir, keys, None)


def _log_paths(
    manifest_dir: str, version: int
) -> list[tuple[int, str]]:
    """(rank, data dir) pairs a reader at ``version`` must union — rank
    is the commit version (a snapshot ranks at its BASE), ascending, and
    is the LWW tie-break order. Content: the snapshot ≤
    version with the HIGHEST base (its rows cover every commit ≤ base),
    plus every append commit in (base, version]. Keying on the
    snapshot's ``base`` — the head its compactor actually read — rather
    than its commit number is what makes a racing compactor harmless: an
    append that claimed a number after base but before the snapshot's
    own number is outside the snapshot's coverage and stays in the
    reader's union. Older snapshots in range are strict subsets of this
    set and are skipped."""
    versions = [v for v in _versions(manifest_dir) if v <= version]
    if not versions:
        return []
    entries = {v: _read_entry(manifest_dir, v) for v in versions}
    snaps = [
        (e.get("base", v - 1), v)
        for v, e in entries.items()
        if e["action"] == "snapshot"
    ]
    if snaps:
        base, sv = max(snaps)
        keep = [sv] + [
            v
            for v, e in entries.items()
            if v > base and e["action"] == "append"
        ]
    else:
        keep = versions
    # rank snapshots by their BASE for ordering purposes: a snapshot's
    # rows fold commits <= base, so any append with version > base must
    # outrank them in the LWW tie-break
    rank = {
        v: (entries[v].get("base", v - 1) if entries[v]["action"] == "snapshot" else v)
        for v in keep
    }
    return [
        (rank[v], _entry_data_path(manifest_dir, v, entries[v]))
        for v in sorted(set(keep))
    ]


def _log_frame(
    spark: SparkSession, manifest_dir: str, version: int
) -> DataFrame:
    """The raw transition log visible at ``version`` (see ``_log_paths``
    for the snapshot/append resolution — that's what makes compaction
    O(live keys) to read while leaving history untouched). Each row
    carries ``__v`` (its commit's version; a snapshot's rows carry its
    base) so last-writer-wins can break equal-timestamp ties by COMMIT
    ORDER — two appends in the same microsecond (e.g. _process_batch's
    back-to-back status calls, or two racing writers) would otherwise
    resolve nondeterministically."""
    sources = _log_paths(manifest_dir, version)
    if not sources:
        return spark.createDataFrame([], MANIFEST_LOG_SCHEMA + ", __v long")
    frames = [
        spark.read.schema(MANIFEST_LOG_SCHEMA)
        .parquet(path)
        .withColumn("__v", F.lit(int(v)))
        for v, path in sources
    ]
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


def _last_writer_wins(log: DataFrame) -> DataFrame:
    """One row per key: latest ``updated_at`` wins (event-time LWW — the
    documented semantic; writers with skewed clocks should use one clock
    source), with the commit version as the deterministic tie-break."""
    order = [F.desc("updated_at")]
    if "__v" in log.columns:
        order.append(F.desc("__v"))
    w = Window.partitionBy("key").orderBy(*order)
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", *(["__v"] if "__v" in log.columns else []))
    )


def current_manifest(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """Last-writer-wins view of the log at the head version:
    (key, status, updated_at)."""
    versions = _versions(manifest_dir)
    if not versions:
        return spark.createDataFrame([], MANIFEST_LOG_SCHEMA)
    return _last_writer_wins(_log_frame(spark, manifest_dir, versions[-1]))


def manifest_at(
    spark: SparkSession,
    manifest_dir: str,
    version: int | None = None,
    as_of: "dt.datetime | None" = None,
) -> DataFrame:
    """Time travel: the last-writer-wins view as of a past commit
    ``version`` (every append and every compaction is one version —
    Delta's ``VERSION AS OF``) or an ``as_of`` timestamp (``TIMESTAMP AS
    OF``: replay the head log up to that instant)."""
    versions = _versions(manifest_dir)
    if not versions:
        return spark.createDataFrame([], MANIFEST_LOG_SCHEMA)
    if version is not None:
        if version not in versions:
            raise ValueError(
                f"version {version} not on disk (have {versions}; vacuumed?)"
            )
        log = _log_frame(spark, manifest_dir, version)
    else:
        log = _log_frame(spark, manifest_dir, versions[-1])
    if as_of is not None:
        log = log.filter(F.col("updated_at") <= F.lit(as_of))
    return _last_writer_wins(log)


def compact_manifest(
    spark: SparkSession | None, manifest_dir: str
) -> None:
    """Write the one-row-per-key snapshot as the next commit (run when
    the log gets long). Readers at older versions are untouched — their
    data dirs remain until ``vacuum_manifest``. Race-safe against
    concurrent appenders: the entry records ``base`` = the head version
    this compactor actually read, so an append that claims a number
    between base and the snapshot's own number stays visible (see
    ``_log_paths``). With ``spark=None`` the last-writer-wins fold runs
    driver-side over pyarrow — the snapshot is one row per live key."""
    versions = _versions(manifest_dir)
    if not versions:
        return
    head = versions[-1]
    if spark is not None:
        rel = _stage_rows(
            spark, manifest_dir, current_manifest(spark, manifest_dir)
        )
    else:
        pdf = _read_log_arrow(_log_paths(manifest_dir, head)).to_pandas()
        pdf = (
            pdf.sort_values("updated_at", kind="mergesort")
            .drop_duplicates("key", keep="last")
        )
        rows = [
            (r.key, None if _isna(r.status) else r.status,
             r.updated_at.to_pydatetime().replace(tzinfo=None))
            for r in pdf.itertuples()
        ]
        rel = _stage_rows(None, manifest_dir, rows)
    _claim_commit(manifest_dir, "snapshot", rel, base=head)


def _isna(x) -> bool:
    import pandas as pd

    return x is None or (isinstance(x, float) and pd.isna(x))


def _read_log_arrow(data_dirs: list[str]):
    """Union the parquet part-files under commit data dirs into one arrow
    table (driver-side twin of the Spark multi-path read — works on both
    pyarrow-staged and Spark-written commits).

    Timestamp columns are normalized to naive microseconds before the
    concat: Spark-written commits read back as timestamp[ns] naive (UTC
    wall time under the pinned UTC session), pyarrow-staged commits as
    timestamp[us, tz=UTC] — the same instant, but arrow refuses to merge
    tz-aware with naive, so a log mixing Spark and non-Spark writers
    would crash the driver-side compactor without this cast."""
    import glob as _glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    files: list[str] = []
    for d in data_dirs:
        if isinstance(d, tuple):  # (rank, path) from _log_paths — the
            d = d[1]  # ascending rank order IS the concat order, so the
            # stable mergesort in the arrow compactor resolves equal
            # timestamps to the later commit, same as the Spark LWW
        files.extend(sorted(_glob.glob(os.path.join(d, "*.parquet"))))
    tables = []
    for f in files:
        t = pq.read_table(f)
        schema = t.schema
        for i, field in enumerate(schema):
            if pa.types.is_timestamp(field.type):
                t = t.set_column(
                    i,
                    field.name,
                    t.column(i).cast(pa.timestamp("us")),
                )
        tables.append(t)
    return pa.concat_tables(tables, promote_options="permissive")


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
    snaps = []
    for v, e in entries.items():
        if v > cutoff:
            continue
        if e["action"] == "snapshot":
            snaps.append((e.get("base", v - 1), v))
    if snaps:
        base, _sv = max(snaps)
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
    manifest_dir: str,
    process_fn: Callable[[DataFrame], list[str] | None],
    per_bag: bool,
) -> dict[str, str]:
    """Run ``process_fn`` with per-bag failure isolation + status ledger.

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
    keys = [r.path for r in batch.select("path").distinct().collect()]
    if not keys:
        return {}
    append_status(None, manifest_dir, keys, "in progress")
    try:
        failed = set(process_fn(batch) or [])
    except Exception:
        # infrastructure failure (not a per-bag decode error): the whole
        # batch is unaccounted-for → mark everything failed and surface it
        append_status(None, manifest_dir, keys, "failure")
        raise
    if failed and not per_bag:
        failed = set(keys)  # all-or-nothing accounting
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


def run_available_now(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    manifest_dir: str,
    process_fn: Callable[[DataFrame], None],
    glob: str = "*.bag*",
    per_bag: bool = True,
    timeout_s: int = 300,
) -> None:
    """One streaming tick: process every file not yet seen by the checkpoint
    (exactly-once), recording manifest transitions. Swap
    ``trigger(availableNow=True)`` for ``processingTime='30 minutes'`` to get
    the reference's cron cadence as a long-running query.

    Known limit: a ``binaryFile`` stream rejects any schema without
    ``content``, so each micro-batch reads its bags' bytes through the JVM
    and a bag over ``spark.sql.sources.binaryFile.maxLength`` (at most
    2 GiB) fails the tick. ``process_pending``'s batch listing reads no
    content; use it for such bags."""
    stream = (
        spark.readStream.format("binaryFile")
        .schema(BINARY_FILE_SCHEMA)
        .option("pathGlobFilter", glob)
        .load(source_dir)
    )

    def _fb(batch: DataFrame, _epoch: int) -> None:
        _process_batch(batch, manifest_dir, process_fn, per_bag)

    q = (
        stream.writeStream.foreachBatch(_fb)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    _await_tick(q, timeout_s)


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
    glob: str = "*.bag*",
    per_bag: bool = True,
) -> dict[str, str]:
    """Batch incremental tick: discover files whose manifest status is not
    terminal/active (S1+S2 anti-join), process them, record transitions.

    This is the replay-capable path — a cleared status makes the key
    discoverable again regardless of the streaming checkpoint. Returns
    {key: "complete" | "failure"} for this tick's keys ({} = no work) so
    callers get a programmatic failure signal without scanning the
    manifest. The batch is the ``binaryFile`` listing: its ``content``
    column is read only if ``process_fn`` selects it."""
    listing = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(source_dir)
        .withColumnRenamed("path", "key")
    )
    manifest = current_manifest(spark, manifest_dir)
    new = discover_new(listing, manifest, key_col="key").withColumnRenamed(
        "key", "path"
    )
    return _process_batch(new, manifest_dir, process_fn, per_bag)


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


def cms_fold_batch(
    batch,
    epoch_id: int,
    sketch_path: str,
    value_col: str = "event_type",
    depth: int = 4,
    width: int = 256,
) -> bool:
    """One idempotent CMS fold (the foreachBatch body of ``streaming_cms``,
    exposed for direct testing of replay/crash behavior). Returns True if
    the batch was folded, False if its epoch was already committed.

    The folded-epoch set is written INSIDE the staged sketch directory
    (``_epochs`` subdir) so the fold and its idempotence marker commit in
    the same directory rename; an interrupted swap (sketch absent, staging
    complete) is rolled forward on the next call."""
    import os
    import shutil

    from ..operators.sketches import cms_build

    spark = batch.sparkSession
    staging = sketch_path.rstrip("/") + "__staging"
    if not os.path.exists(sketch_path) and os.path.exists(
        os.path.join(staging, "_epochs")
    ):
        # Crash landed between the two swap renames: staging is a
        # complete committed fold (renames only start after both
        # writes finish), so roll it forward instead of refolding.
        os.rename(staging, sketch_path)
    epochs_path = os.path.join(sketch_path, "_epochs")
    if os.path.exists(epochs_path):
        prev_epochs = spark.read.parquet(epochs_path)
        if prev_epochs.filter(F.col("epoch_id") == epoch_id).count() > 0:
            return False  # retried epoch: fold already committed with swap
    else:
        prev_epochs = None
    new = cms_build(batch, value_col, depth, width)
    if os.path.exists(sketch_path):
        merged = (
            spark.read.parquet(sketch_path)
            .unionByName(new)
            .groupBy("d", "bucket")
            .agg(F.sum("c").alias("c"))
        )
    else:
        merged = new
    this_epoch = spark.createDataFrame([(int(epoch_id),)], "epoch_id bigint")
    all_epochs = (
        prev_epochs.unionByName(this_epoch)
        if prev_epochs is not None
        else this_epoch
    )
    merged.write.mode("overwrite").parquet(staging)
    all_epochs.write.mode("overwrite").parquet(
        os.path.join(staging, "_epochs")
    )
    old = sketch_path.rstrip("/") + "__old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(sketch_path):
        os.rename(sketch_path, old)
    os.rename(staging, sketch_path)
    shutil.rmtree(old, ignore_errors=True)
    return True


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
        s = batch.sparkSession
        prev = s.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            for topic in topics:
                name = topic.strip("/").replace("/", "_")
                widen_topic(batch, topic).write.partitionBy(
                    "bag_id"
                ).mode("overwrite").option("compression", "snappy").parquet(
                    os.path.join(dest_dir, name)
                )
        finally:
            s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

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
    mergeable-state family (same staged-swap + in-directory epoch ledger
    as ``cms_fold_batch``): each micro-batch contributes its d×d partial
    XᵀX and cells ADD, so the persisted table is always the exact Gram of
    everything folded so far; a PCA/eigensolve can run against the live
    table at any time (operators/linalg.pca_top_component consumes the
    same cell layout). Cells are stored as DECIMAL so folds are exact and
    order-independent across ticks."""
    import os
    import shutil

    from ..operators.linalg import gram_matrix

    spark = batch.sparkSession
    staging = gram_path.rstrip("/") + "__staging"
    if not os.path.exists(gram_path) and os.path.exists(
        os.path.join(staging, "_epochs")
    ):
        os.rename(staging, gram_path)
    epochs_path = os.path.join(gram_path, "_epochs")
    if os.path.exists(epochs_path):
        prev_epochs = spark.read.parquet(epochs_path)
        if prev_epochs.filter(F.col("epoch_id") == epoch_id).count() > 0:
            return False
    else:
        prev_epochs = None
    new = gram_matrix(batch, vec_col, dim, as_decimal=True)
    if os.path.exists(gram_path):
        merged = (
            spark.read.parquet(gram_path)
            .unionByName(new)
            .groupBy("i", "j")
            .agg(F.sum("v").alias("v"))
        )
    else:
        merged = new
    this_epoch = spark.createDataFrame([(int(epoch_id),)], "epoch_id bigint")
    all_epochs = (
        prev_epochs.unionByName(this_epoch)
        if prev_epochs is not None
        else this_epoch
    )
    merged.write.mode("overwrite").parquet(staging)
    all_epochs.write.mode("overwrite").parquet(os.path.join(staging, "_epochs"))
    old = gram_path.rstrip("/") + "__old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(gram_path):
        os.rename(gram_path, old)
    os.rename(staging, gram_path)
    shutil.rmtree(old, ignore_errors=True)
    return True


def streaming_gram(
    stream,
    gram_path: str,
    checkpoint: str,
    vec_col: str = "embedding",
    dim: int = 64,
):
    """Continuously-maintained Gram matrix over a vector stream — the
    incremental input to PCA/whitening (state is d(d+1)/2 cells forever,
    independent of stream length). Same exactly-once contract as
    ``streaming_cms``."""
    def _fold(batch, epoch_id: int) -> None:
        gram_fold_batch(batch, epoch_id, gram_path, vec_col, dim)

    return (
        stream.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
