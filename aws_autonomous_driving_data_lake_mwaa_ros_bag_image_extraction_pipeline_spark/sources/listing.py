"""Object/file listing (operator S7) — metadata only.

Reference: a boto3 ``list_objects_v2`` paginator (PageSize 100) feeds the
sensor and the labeling stage (processing.py:287-301). Spark's binaryFile
source lists implicitly but also READS content; discovery at 100 TB needs
the listing alone — millions of keys, zero bytes of payload.

``list_bag_keys`` is the one bag listing: E1's discovery and both forms of
the ``rosbag`` data source list through it. One directory level, listed on
the driver through pyarrow, the way the reference's sensor lists on the
Airflow worker (s3_metadata_sensor.py:49-90). ``list_files`` enumerates via
the Hadoop FileSystem API (works for file://, s3a://, any configured scheme
— pagination is the FS client's concern, mirroring the paginator) and
returns the key metadata as a DataFrame. Both listings are driver-side like
every Spark file index; for key counts beyond driver memory, point them at
narrower prefixes — same sharding the reference applies via bag prefixes.
"""

from __future__ import annotations

import fnmatch
import os
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession

from ..operators.discovery import BAG_SUFFIXES
from .rosbag_format import bag_id_from_path, filesystem_of

LISTING_SCHEMA = "key string, size long, mtime timestamp"


def list_bag_keys(root: str) -> list[str]:
    """Sorted keys of the bag files directly under ``root``: the names
    ending in a ``BAG_SUFFIXES`` suffix.

    No Spark job: the directory is listed through pyarrow
    (``rosbag_format.filesystem_of``, the resolver ``open_bag`` uses). The
    keys are the ones a ``binaryFile`` listing of ``root`` gives, so ledgers
    written by that listing stay valid: ``file:`` + the absolute path, not
    percent-encoded, for a local ``root``; names Spark treats as hidden
    (``_…``, ``.…``) are skipped and subdirectories are not entered. A
    missing ``root`` raises ``FileNotFoundError``.

    The file stem is the bag's identity (``bag_id`` keys every output
    partition), so two bags sharing a stem (``x.bag`` and
    ``x.bag.tar.gz``) would overwrite each other's outputs: the listing
    raises ``ValueError`` instead. It checks the whole listing, not just
    the keys a caller still has to process, because the earlier bag's
    outputs are already on disk."""
    from pyarrow import fs

    scheme = urlsplit(root).scheme
    filesystem, inner = filesystem_of(root if scheme else os.path.abspath(root))
    if isinstance(filesystem, fs.LocalFileSystem):
        prefix, inner = "file:", os.path.normpath(inner)
    else:
        prefix = f"{scheme}://"
    keys = sorted(
        prefix + info.path
        for info in filesystem.get_file_info(fs.FileSelector(inner))
        if info.type == fs.FileType.File
        and not info.base_name.startswith(("_", "."))  # Spark's hidden files
        and info.base_name.endswith(BAG_SUFFIXES)
    )
    seen: dict[str, str] = {}
    for key in keys:
        stem = bag_id_from_path(key)
        if stem in seen:
            raise ValueError(
                f"duplicate bag stem {stem!r}: {seen[stem]} vs {key} — "
                "bag_id is the filename stem, so stems must be unique"
            )
        seen[stem] = key
    return keys


def list_files(
    spark: SparkSession, root: str, glob: str | None = None, recursive: bool = True
) -> DataFrame:
    """(key, size, mtime) for every file under ``root`` — no content I/O.

    ``glob`` filters by filename (fnmatch semantics, like the sensor's
    ``*.bag``); the result feeds discovery.discover_new directly. The
    frame is an arrow-backed local relation: building it runs no job.
    """
    import datetime as dt

    import pyarrow as pa

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(conf)
    cols: dict[str, list] = {"key": [], "size": [], "mtime": []}
    it = fs.listFiles(path, recursive)
    while it.hasNext():
        st = it.next()
        key = st.getPath().toString()
        if glob is not None and not fnmatch.fnmatch(key.rsplit("/", 1)[-1], glob):
            continue
        cols["key"].append(key)
        cols["size"].append(st.getLen())
        cols["mtime"].append(
            dt.datetime.fromtimestamp(
                st.getModificationTime() / 1000, dt.timezone.utc
            )
        )
    return spark.createDataFrame(pa.table(cols), LISTING_SCHEMA)


def read_evolved(spark, paths: list[str], strict_types: bool = True):
    """Read parquet generations whose schemas EVOLVED (columns added or
    dropped between writes) as one DataFrame: per-path reads unioned by
    NAME with missing columns NULL-filled — the append-only lake's answer
    to "the producer added a field last month".

    ``mergeSchema`` alone handles pure additions within one load, but
    silently unions by position-compatible types; the by-name union here
    also covers column REMOVALS and keeps each generation's pruned scan
    (each path is its own FileScan with its own ReadSchema). With
    ``strict_types`` (default) a column whose TYPE changed between
    generations raises instead of silently casting — type changes should
    go through an explicit migration, not a read-time coercion.
    """
    from pyspark.sql import functions as F  # noqa: F401

    if not paths:  # a glob that matched nothing: clear error, not IndexError
        raise ValueError(
            "read_evolved: no generation paths given (empty listing?)"
        )
    dfs = [spark.read.parquet(p) for p in paths]
    if strict_types:
        seen: dict[str, tuple[str, str]] = {}
        for p, df in zip(paths, dfs):
            for c, t in df.dtypes:
                if c in seen and seen[c][1] != t:
                    raise TypeError(
                        f"column {c!r} changed type between generations: "
                        f"{seen[c][1]} at {seen[c][0]} vs {t} at {p} — "
                        "migrate explicitly instead of coercing at read"
                    )
                seen.setdefault(c, (p, t))
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out
