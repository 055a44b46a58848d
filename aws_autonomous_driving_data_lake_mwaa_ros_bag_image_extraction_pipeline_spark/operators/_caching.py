"""Per-call sharing for multi-consumer intermediates.

Several detectors feed one intermediate to 2-4 consumers inside one
returned plan (minhash candidate pairs, banded Hamming signatures, TF-IDF
weights, winnow fingerprints, the connected-components rounds). The
returned DataFrame is LAZY, so the operator cannot unpersist before
returning, and ``persist()`` is the wrong tool: Spark's CacheManager keys
an entry on the canonicalized plan, so it silently serves REPEAT
invocations over the same input from cache (a warm benchmark stops
measuring the detector) and keeps one entry per distinct input until
session end.

``share`` is the one idiom instead: a lazy checkpoint (local, or reliable
once the session has a checkpoint dir), a fresh RDD per call whose blocks
the ContextCleaner frees when the frame is garbage-collected. A caller
that wants an operator's result materialized calls
``localCheckpoint(eager=True)`` on it directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def share(df: DataFrame) -> DataFrame:
    """Per-call shared intermediate for multi-consumer plans — the
    checkpoint idiom every detector uses instead of ``persist()`` (see
    module docstring for why the CacheManager is the wrong tool).

    Durability follows the session's checkpoint configuration: when
    ``spark.sparkContext.setCheckpointDir`` has been called, the
    intermediate goes through a RELIABLE ``checkpoint(eager=False)`` —
    written to the fault-tolerant checkpoint store, so an executor loss on
    a preemptible/churning cluster re-reads it instead of killing the job.
    Without a checkpoint dir (the local/bench default) it stays
    ``localCheckpoint(eager=False)``: executor-local blocks, freed by the
    ContextCleaner on GC, no extra I/O. Both are LAZY — the first
    consumer's job materializes the blocks, so sharing costs no standalone
    job either way."""
    sc = df.sparkSession.sparkContext
    try:
        has_dir = sc.getCheckpointDir() is not None
    except Exception:
        has_dir = False
    if has_dir:
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)
