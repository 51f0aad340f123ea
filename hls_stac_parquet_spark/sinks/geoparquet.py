"""GeoParquet sink: WKB geometry + `geo` footer metadata, hive layout.

The reference hands a list of dicts to rustac, which builds Arrow and
writes one zstd-6 GeoParquet object per collection-month
(write.py:233-245, path template constants.py:8). Spark writes plain
parquet and cannot inject custom footer key-values, so the sink here
is a two-stage Spark-first design:

1. cluster + partition with Spark (range partition on the Hilbert
   key → sortWithinPartitions — the distributed replacement for the
   reference's in-memory month sort), then
2. write each output file *on the executors* with pyarrow via
   ``mapInArrow``, stamping the GeoParquet 1.0 ``geo`` metadata into
   the footer in the same single pass (no post-hoc footer rewrite,
   which would re-copy every byte at 100 TB).

``dest`` is a store URL (``hls_stac_parquet_spark.store.get_store``
— the ``obstore.from_url`` analog, links.py:92-96): a POSIX path or
``s3://…`` via a registered factory. Either way the executor tasks
write the files.

Layout: this module alone decides how a collection-month is laid out.
A month of ``n`` rows is ``ceil(n / ROWS_PER_FILE)`` range-partitioned
files (:func:`cluster_month`), named by :data:`GEOPARQUET_PATH_TEMPLATE`;
E2 writes through it and the bbox reader finds its files by it.
``reference_layout=True`` emits the EXACT reference path contract
instead — :data:`REFERENCE_PARQUET_PATH_FORMAT` (constants.py:8, month
unpadded, one object per collection-month) — so a consumer globbing
the reference's names finds ours.

The sink returns a write-manifest DataFrame (path, rows, bbox) — the
observability the reference lacks.
"""

from __future__ import annotations

import json
import math
import posixpath
import struct
from typing import Iterator

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from hls_stac_parquet_spark.store import get_store

#: one collection's dataset root, at the reference's ``v{version}``
#: path with its default version 1; both month templates extend it
GEOPARQUET_DATASET_DIR = "v1/{collection_id}"

#: default output path: one file per range partition ``part``, so a
#: re-run or retried write task overwrites its own file
GEOPARQUET_PATH_TEMPLATE = (
    GEOPARQUET_DATASET_DIR + "/year={year}/month={month:02d}/"
    "{collection_id}-{year}-{month:02d}-{part:05d}.parquet"
)

#: the reference's exact path contract (constants.py:8): one object
#: per collection-month, month unpadded; reference_layout=True
REFERENCE_PARQUET_PATH_FORMAT = (
    GEOPARQUET_DATASET_DIR + "/year={year}/month={month}/"
    "{collection_id}-{year}-{month}.parquet"
)

#: rows per output file (and per fetch/write task in E2). The writer
#: holds a whole partition as one Arrow table: a full HLS item (18
#: assets, 5-point footprint) is ~5.6 KB there and ~210 B on disk
#: after zstd-6 (pyarrow, 20k synthetic items), so 50k rows cap a task
#: near 280 MB of worker memory and give ~10 MB files — 2-20 files for
#: a 10^5-10^6-item month. A month below it stays the reference's
#: single file.
ROWS_PER_FILE = 50_000

#: the file format, fixed as in the reference (write.py:233-245): one
#: WKB geometry column, rows clustered on the Hilbert key, zstd level 6
GEOMETRY_COL = "geometry"
SORT_COL = "hilbert_idx"
COMPRESSION = "zstd"
COMPRESSION_LEVEL = 6


def geojson_polygon_to_wkb(coordinates: list) -> bytes:
    """GeoJSON Polygon coordinates → WKB (little-endian, type=3).

    Pure-stdlib encoder — the geometry payload GeoParquet expects.
    """
    rings = coordinates or []
    out = [struct.pack("<BI", 1, 3), struct.pack("<I", len(rings))]
    for ring in rings:
        out.append(struct.pack("<I", len(ring)))
        for pt in ring:
            out.append(struct.pack("<dd", float(pt[0]), float(pt[1])))
    return b"".join(out)


def polygon_coords_to_wkb_array(coords) -> pa.Array:
    """Vectorized GeoJSON-Polygon-coordinates → WKB over an Arrow
    column (``list<list<list<double>>>``) — numpy scatter over the
    list offsets, no per-row Python. Output is byte-identical to
    :func:`geojson_polygon_to_wkb` per row (property-tested); nulls
    stay null. Ragged positions (altitude etc.) fall back to the
    per-row encoder."""
    import numpy as np
    import pyarrow.compute as pc

    if isinstance(coords, pa.ChunkedArray):
        coords = coords.combine_chunks()
    n = len(coords)
    if n == 0:
        return pa.array([], type=pa.binary())
    valid = (
        np.ones(n, dtype=bool)
        if coords.null_count == 0
        else np.asarray(coords.is_valid())
    )
    ring_counts = np.asarray(
        pc.fill_null(pc.list_value_length(coords), 0), dtype=np.int64
    )
    rings = pc.list_flatten(coords)
    pt_counts = np.asarray(
        pc.fill_null(pc.list_value_length(rings), 0), dtype=np.int64
    )
    pts = pc.list_flatten(rings)
    pos_sizes = np.asarray(
        pc.fill_null(pc.list_value_length(pts), 0), dtype=np.int64
    )
    if len(pos_sizes) and not (pos_sizes == 2).all():
        return pa.array(
            [
                None if c is None else geojson_polygon_to_wkb(c)
                for c in coords.to_pylist()
            ],
            type=pa.binary(),
        )
    flat = np.asarray(pc.list_flatten(pts), dtype=np.float64)

    total_rings = len(pt_counts)
    ring_off = np.concatenate(([0], np.cumsum(ring_counts)))
    cum_pts = np.concatenate(([0], np.cumsum(pt_counts)))
    pts_per_poly = cum_pts[ring_off[1:]] - cum_pts[ring_off[:-1]]

    sizes = np.where(valid, 9 + 4 * ring_counts + 16 * pts_per_poly, 0)
    poly_start = np.concatenate(([0], np.cumsum(sizes)))
    out = np.zeros(int(poly_start[-1]), dtype=np.uint8)

    # polygon headers: byte order 1, uint32 type 3, uint32 nrings
    starts = poly_start[:-1][valid]
    out[starts] = 1
    out[starts + 1] = 3
    rc_bytes = ring_counts[valid].astype("<u4").view(np.uint8).reshape(-1, 4)
    for k in range(4):
        out[starts + 5 + k] = rc_bytes[:, k]

    if total_rings:
        # ring headers: uint32 point count, positioned after the
        # polygon header + preceding rings' headers and point data
        poly_of_ring = np.repeat(np.arange(n), ring_counts)
        ring_idx_within = np.arange(total_rings) - ring_off[poly_of_ring]
        pts_before = cum_pts[:-1] - cum_pts[ring_off[poly_of_ring]]
        ring_pos = (
            poly_start[poly_of_ring]
            + 9
            + 4 * ring_idx_within
            + 16 * pts_before
        )
        pc_bytes = pt_counts.astype("<u4").view(np.uint8).reshape(-1, 4)
        for k in range(4):
            out[ring_pos + k] = pc_bytes[:, k]

        total_pts = int(cum_pts[-1])
        if total_pts:
            # point data: 16 bytes (x,y little-endian f8) per point,
            # contiguous per ring — one byte-level scatter
            dst_pt = np.repeat(ring_pos + 4, pt_counts) + 16 * (
                np.arange(total_pts) - np.repeat(cum_pts[:-1], pt_counts)
            )
            dst_idx = np.repeat(dst_pt, 16) + np.tile(
                np.arange(16), total_pts
            )
            out[dst_idx] = flat.astype("<f8").view(np.uint8)

    if poly_start[-1] < 2**31:
        offsets = poly_start.astype(np.int32)
        out_type = pa.binary()
    else:
        offsets = poly_start.astype(np.int64)
        out_type = pa.large_binary()
    validity = None if valid.all() else pa.array(valid).buffers()[1]
    return pa.Array.from_buffers(
        out_type,
        n,
        [validity, pa.py_buffer(offsets), pa.py_buffer(out)],
        null_count=int(n - valid.sum()),
    )


def _encode_geometry_column(table: pa.Table, geometry_col: str) -> pa.Table:
    """If the geometry column still carries raw GeoJSON coordinates
    (a list type), encode it to WKB here in the Arrow writer stage —
    keeping the Spark plan free of per-row Python. Binary columns
    (already WKB) pass through untouched."""
    if geometry_col not in table.column_names:
        return table
    idx = table.schema.get_field_index(geometry_col)
    typ = table.schema.field(idx).type
    if pa.types.is_list(typ) or pa.types.is_large_list(typ):
        wkb = polygon_coords_to_wkb_array(table.column(idx))
        return table.set_column(
            idx, pa.field(geometry_col, wkb.type), wkb
        )
    return table


def _geo_metadata(geometry_col: str, bbox: list[float] | None) -> bytes:
    meta = {
        "version": "1.0.0",
        "primary_column": geometry_col,
        "columns": {
            geometry_col: {
                "encoding": "WKB",
                "geometry_types": ["Polygon"],
                "crs": None,  # OGC:CRS84 per GeoParquet default
                **({"bbox": bbox} if bbox else {}),
            }
        },
    }
    return json.dumps(meta).encode()


def _month_path(
    collection_id: str,
    year: int,
    month: int,
    reference_layout: bool,
    part: int = 0,
) -> str:
    """Store-relative key of one month file, from the layout's template."""
    template = (
        REFERENCE_PARQUET_PATH_FORMAT
        if reference_layout
        else GEOPARQUET_PATH_TEMPLATE
    )
    return template.format(
        collection_id=collection_id, year=year, month=month, part=part
    )


def geoparquet_month_dir(
    collection_id: str,
    year: int,
    month: int,
    reference_layout: bool = False,
) -> str:
    """Store-relative hive directory for one collection-month."""
    return posixpath.dirname(
        _month_path(collection_id, year, month, reference_layout)
    )


def cluster_month(
    df: DataFrame, n_rows: int, reference_layout: bool = False
) -> DataFrame:
    """Cluster a month's ``n_rows`` rows for the write: one range
    partition per output file on ``SORT_COL`` (file k's keys all
    precede file k+1's), sorted within each — the distributed
    replacement for the reference's in-memory month sort
    (write.py:204-219). ``ceil(n_rows / ROWS_PER_FILE)`` files, or one
    for ``reference_layout``. The explicit count pins the layout:
    AQE does not coalesce a shuffle whose partition count was asked
    for."""
    n_files = (
        1 if reference_layout else max(1, math.ceil(n_rows / ROWS_PER_FILE))
    )
    return df.repartitionByRange(n_files, SORT_COL).sortWithinPartitions(
        SORT_COL
    )


def _stamp_geo_footer(
    table: pa.Table, geometry_col: str
) -> tuple[pa.Table, list[float] | None]:
    """Add the GeoParquet ``geo`` footer metadata; per-file bbox from
    the hoisted bbox columns when present."""
    bbox = None
    if {"bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax"} <= set(
        table.column_names
    ):
        import pyarrow.compute as pc

        bbox = [
            pc.min(table["bbox_xmin"]).as_py(),
            pc.min(table["bbox_ymin"]).as_py(),
            pc.max(table["bbox_xmax"]).as_py(),
            pc.max(table["bbox_ymax"]).as_py(),
        ]
    schema = table.schema.with_metadata(
        {**(table.schema.metadata or {}), b"geo": _geo_metadata(geometry_col, bbox)}
    )
    return table.cast(schema), bbox


def write_geoparquet(
    df: DataFrame,
    dest: str,
    collection_id: str,
    year: int,
    month: int,
) -> DataFrame:
    """Write a spatially clustered GeoParquet month: counts ``df``,
    clusters it (:func:`cluster_month`), then each executor partition
    writes its own footer-stamped file. zstd level 6 matches the
    reference (write.py:243).

    Returns the write manifest (one row per file).
    """
    return write_geoparquet_partitions(
        cluster_month(df, df.count()), dest, collection_id, year, month
    )


def write_geoparquet_partitions(
    df: DataFrame,
    dest: str,
    collection_id: str,
    year: int,
    month: int,
    reference_layout: bool = False,
) -> DataFrame:
    """Write each partition of ``df``, rows in their current order, as
    one footer-stamped GeoParquet file named by its partition id; an
    empty partition writes nothing. The caller has already clustered
    ``df`` (:func:`cluster_month`; :func:`write_geoparquet` does it
    for a plain frame);
    ``reference_layout=True`` names the file the reference's way and
    so expects a single partition.

    Returns the write manifest (one row per file).
    """
    store = get_store(dest)

    def write_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        batch_list = list(batches)
        if not batch_list:
            return
        table = pa.Table.from_batches(batch_list)
        if table.num_rows == 0:
            return
        table = _encode_geometry_column(table, GEOMETRY_COL)
        table, bbox = _stamp_geo_footer(table, GEOMETRY_COL)
        # one live attempt per partition (the package enables no
        # speculation), so no two tasks write this key at once
        key = _month_path(
            collection_id, year, month, reference_layout,
            part=TaskContext.get().partitionId(),
        )
        # `store` pickles into the task (config only); resolving the
        # URL here would miss driver-side scheme registrations
        with store.open_output(key) as f:
            pq.write_table(
                table, f,
                compression=COMPRESSION,
                compression_level=COMPRESSION_LEVEL,
            )
        yield pa.RecordBatch.from_pylist([{
            "path": store.full_url(key),
            "n_rows": table.num_rows,
            "xmin": bbox[0] if bbox else None,
            "ymin": bbox[1] if bbox else None,
            "xmax": bbox[2] if bbox else None,
            "ymax": bbox[3] if bbox else None,
        }])

    return df.mapInArrow(
        write_partition,
        "path string, n_rows bigint, xmin double, ymin double, "
        "xmax double, ymax double",
    )
