"""WKB encoders (sinks/geoparquet.py): the vectorized Arrow-batch
encoder must be byte-identical to the per-row pure-Python reference
encoder — including nulls, empty polygons, multi-ring polygons — and
the E2 plan must carry no per-row Python stage now that encoding
happens inside the Arrow writer."""

from __future__ import annotations

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hls_stac_parquet_spark.sinks.geoparquet import (
    _encode_geometry_column,
    geojson_polygon_to_wkb,
    polygon_coords_to_wkb_array,
)

COORDS_TYPE = pa.list_(pa.list_(pa.list_(pa.float64())))

_point = st.tuples(
    st.floats(-180, 180, allow_nan=False), st.floats(-90, 90, allow_nan=False)
).map(list)
_ring = st.lists(_point, min_size=0, max_size=6)
_polygon = st.lists(_ring, min_size=0, max_size=4)
_maybe_polygon = st.one_of(st.none(), _polygon)


def _reference(rows):
    return [
        None if r is None else geojson_polygon_to_wkb(r) for r in rows
    ]


@settings(max_examples=60, deadline=None)
@given(rows=st.lists(_maybe_polygon, min_size=0, max_size=12))
def test_vectorized_wkb_matches_per_row(rows):
    arr = pa.array(rows, type=COORDS_TYPE)
    got = polygon_coords_to_wkb_array(arr).to_pylist()
    assert got == _reference(rows)


def test_vectorized_wkb_fixed_cases():
    rows = [
        [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]],  # 1 ring
        None,  # null geometry
        [],  # empty polygon: header only (9 bytes)
        [  # outer ring + hole
            [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 0.0]],
            [[1.0, 1.0], [2.0, 1.0], [1.0, 2.0], [1.0, 1.0]],
        ],
        [[]],  # one empty ring
    ]
    arr = pa.array(rows, type=COORDS_TYPE)
    got = polygon_coords_to_wkb_array(arr).to_pylist()
    assert got == _reference(rows)
    assert got[0][:5] == b"\x01\x03\x00\x00\x00"
    assert got[1] is None
    assert len(got[2]) == 9


def test_vectorized_wkb_large_list_and_chunked():
    rows = [[[[1.5, 2.5], [3.5, 4.5], [1.5, 2.5]]], None]
    large = pa.array(
        rows, type=pa.large_list(pa.large_list(pa.large_list(pa.float64())))
    )
    assert polygon_coords_to_wkb_array(large).to_pylist() == _reference(rows)
    chunked = pa.chunked_array([pa.array(rows, type=COORDS_TYPE)] * 2)
    assert (
        polygon_coords_to_wkb_array(chunked).to_pylist()
        == _reference(rows) * 2
    )


def test_vectorized_wkb_ragged_positions_fallback():
    # altitude present → per-row fallback path, first two coords kept
    rows = [[[[0.0, 1.0, 99.0], [2.0, 3.0, 98.0], [0.0, 1.0, 97.0]]]]
    arr = pa.array(
        rows, type=pa.list_(pa.list_(pa.list_(pa.float64())))
    )
    assert polygon_coords_to_wkb_array(arr).to_pylist() == _reference(rows)


def test_encode_geometry_column_passthrough_and_encode():
    rows = [[[[0.0, 0.0], [1.0, 1.0], [0.0, 0.0]]]]
    t = pa.table({"geometry": pa.array(rows, type=COORDS_TYPE), "x": [1]})
    enc = _encode_geometry_column(t, "geometry")
    assert pa.types.is_binary(enc.schema.field("geometry").type)
    assert enc.column("geometry").to_pylist() == _reference(rows)
    # already-binary (the optimize read-back path) passes through
    again = _encode_geometry_column(enc, "geometry")
    assert again.column("geometry").to_pylist() == enc.column(
        "geometry"
    ).to_pylist()
    # absent column is a no-op
    assert _encode_geometry_column(t.drop_columns(["geometry"]), "geometry")


def test_write_geoparquet_plan_no_batch_eval_python(spark):
    """Directly: the DataFrame write_geoparquet returns (the manifest
    plan, which embeds the clustered scan + Arrow writer) contains no
    BatchEvalPython stage."""
    import pandas as pd

    from hls_stac_parquet_spark.sinks.geoparquet import write_geoparquet

    pdf = pd.DataFrame(
        {
            "id": ["a", "b"],
            "hilbert_idx": [1, 2],
            "geometry": [
                [[[0.0, 0.0], [1.0, 1.0], [0.0, 0.0]]],
                [[[2.0, 2.0], [3.0, 3.0], [2.0, 2.0]]],
            ],
            "bbox_xmin": [0.0, 2.0],
            "bbox_ymin": [0.0, 2.0],
            "bbox_xmax": [1.0, 3.0],
            "bbox_ymax": [1.0, 3.0],
        }
    )
    df = spark.createDataFrame(pdf)
    import tempfile

    with tempfile.TemporaryDirectory() as dest:
        manifest = write_geoparquet(df, dest, "HLSL30_2.0", 2025, 10)
        plan = manifest._sc._jvm.PythonSQLUtils.explainString(
            manifest._jdf.queryExecution(), "formatted"
        )
        assert "BatchEvalPython" not in plan
        assert "mapInArrow" in plan or "MapInArrow" in plan
        rows = manifest.collect()  # executes the write
        assert sum(r.n_rows for r in rows) == 2
        # read back: valid WKB + geo footer
        import pyarrow.parquet as pq

        files = [r.path for r in rows]
        t = pq.read_table(files[0])
        assert t.column("geometry")[0].as_py()[:5] == (
            b"\x01\x03\x00\x00\x00"
        )
        assert b"geo" in t.schema.metadata
