"""File-tree export of binary columns (operators K2, K7).

Reference: the filtered S3 sync uploads only ``.parquet/.png/.mp4/.info/.log``
files under the bag's prefix (engine.py:278-300 — K2); annotated PNGs land
under ``bounding_boxes/<key>`` (processing.py:330-338 — K7).

Spark-first: the durable form of every E1 output is a partitioned columnar
table that ``runner.process_bags`` writes itself — binary stays a
``binary`` column inside Arrow/parquet pages (never collected to the
driver), labels are partitioned JSON (K3), stats a plain keyed table (K4).
The file-tree export exists for interop with tools that want loose files;
it writes from executors via ``foreachPartition`` — the driver never sees
a byte of image data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SYNC_SUFFIXES = (".parquet", ".png", ".mp4", ".info", ".log")  # engine.py:282


def export_binary_files(
    df: DataFrame,
    dest_dir: str,
    path_col: str = "filename",
    content_col: str = "annotated",
    suffixes: tuple[str, ...] = SYNC_SUFFIXES,
) -> None:
    """K2/K7 file-tree form: executor-side writer producing one file per row
    (``<dest>/<filename>``), restricted to the reference's sync suffix
    whitelist. ``foreachPartition`` = no driver round-trip; each task writes
    its own partition's files, mirroring the per-prefix S3 sync."""
    import os

    rows = df.select(path_col, content_col)
    allowed = tuple(suffixes)

    root = os.path.abspath(dest_dir)

    def _write(it) -> None:
        for row in it:
            name = row[0]
            if name is None or not name.endswith(allowed):
                continue  # filtered sync (engine.py:282-300); a NULL
                # filename (NULL identity upstream) is skipped like a
                # non-whitelisted suffix, not an AttributeError task kill
            # relative paths (e.g. "<bag_id>/left0193.png") mirror the
            # reference's per-prefix layout and prevent cross-bag
            # collisions; resolve and confine to the export root — an
            # absolute or '..'-bearing name from corrupt data must not
            # write outside dest_dir (os.path.join would let it)
            target = os.path.abspath(os.path.join(root, name.lstrip("/")))
            if not target.startswith(root + os.sep):
                continue
            os.makedirs(os.path.dirname(target), exist_ok=True)
            with open(target, "wb") as f:
                f.write(row[1] or b"")

    rows.foreachPartition(_write)


def frame_filename(
    camera_col: str = "camera",
    idx_col: str = "frame_index",
    bag_col: str | None = "bag_id",
) -> Column:
    """``[<bag_id>/]<camera><%04d idx>.png`` — the reference's frame naming
    (export.launch:2-9) under the bag's prefix, for the file-tree export.
    format_string, not lpad: lpad TRUNCATES strings longer than the pad
    width, so frame 10000 would silently collide with (and overwrite)
    frame 1000's exported file; %04d never shortens."""
    name = F.concat(
        F.col(camera_col),
        F.format_string("%04d", F.col(idx_col).cast("int")),
        F.lit(".png"),
    )
    if bag_col is None:
        return name
    return F.concat(F.col(bag_col), F.lit("/"), name)
