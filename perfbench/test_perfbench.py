"""Tests of the benchmark's own helpers (no Spark session).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import concurrent.futures as cf
import os
import urllib.error
import urllib.request

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench.checks import BruteForce, check_e2, check_files
from perfbench.monthgen import make_month, valid_tiles
from perfbench.origin import Origin
from perfbench.probes import Layout, OpenCounter, percentile, tree_rss_bytes
from perfbench.tracer import self_times


@pytest.mark.parametrize("n", [1, 2, 7, 100, 101])
def test_percentile_matches_numpy(n):
    xs = list(np.random.default_rng(n).exponential(size=n))
    for q in (0, 25, 50, 90, 100):
        assert percentile(xs, q) == pytest.approx(np.percentile(xs, q))


def test_self_times_are_prefix_differences():
    got = self_times([("read", 1.0), ("fetch", 3.5), ("write", 4.0)])
    assert got == {"read": 1.0, "fetch": 2.5, "write": 0.5}
    assert sum(got.values()) == 4.0


def test_origin_counts_each_request_and_404s():
    with Origin({"a.json": b'{"id": "a"}'}, delay_s=0.01) as origin:
        def get(name):
            try:
                with urllib.request.urlopen(origin.url_base + name, timeout=10) as r:
                    return r.status, r.read()
            except urllib.error.HTTPError as e:
                return e.code, b""

        # more concurrent connections than the origin has threads (one)
        with cf.ThreadPoolExecutor(max_workers=50) as pool:
            results = list(pool.map(get, ["a.json"] * 60 + ["missing.json"] * 5))
        counts, busy = origin.snapshot()
    assert results[0] == (200, b'{"id": "a"}')
    assert [s for s, _ in results].count(404) == 5
    assert counts == {"a.json": 60, "missing.json": 5}
    assert 0 < busy


def test_open_counter_counts_opens_per_file(tmp_path):
    for name in ("x", "y"):
        (tmp_path / name).write_text(name)
    with OpenCounter(str(tmp_path)) as opens:
        for name in "xyxyx":
            (tmp_path / name).read_text()
    assert not opens.overflowed
    assert opens.opens == {"x": 3, "y": 2}


def test_tree_rss_covers_this_process():
    assert tree_rss_bytes(os.getpid()) > 10 * 2**20


def test_month_is_seeded_and_spread_over_valid_tiles():
    a = make_month(3, 620, 200, broken_per_day=1)
    b = make_month(3, 620, 200, broken_per_day=1)
    assert a.items == b.items and a.broken == b.broken
    assert len(a.items) == 620 and len(a.broken) == 31 and a.n_urls == 651
    assert len(a.tiles) == 200
    assert set(a.tiles.tile) <= set(valid_tiles().tile)
    assert len(valid_tiles()) > 40000


def _month_file(path, keys, boxes):
    t = pa.table({
        "id": [f"i{k}" for k in keys],
        "hilbert_idx": pa.array(keys, pa.int64()),
        **{c: [b[j] for b in boxes] for j, c in enumerate(
            ("bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax"))},
    })
    t = t.replace_schema_metadata({b"geo": b'{"primary_column": "geometry"}'})
    pq.write_table(t, path, row_group_size=2)


def test_layout_brute_force_and_file_checks(tmp_path):
    a, b = str(tmp_path / "part-00000.parquet"), str(tmp_path / "part-00001.parquet")
    _month_file(a, [1, 2, 3, 4], [(0, 0, 1, 1)] * 2 + [(10, 10, 11, 11)] * 2)
    _month_file(b, [5, 6], [(50, 50, 51, 51)] * 2)
    layout = Layout([a, b])
    assert layout.n_row_groups == 3 and layout.rows_per_file == [4, 2]
    assert layout.touched((0.5, 0.5, 0.6, 0.6)) == (0.5, pytest.approx(1 / 3))
    assert BruteForce([a, b]).ids_in((10.5, 10.5, 60, 60)) == ["i3", "i4", "i5", "i6"]
    assert check_files([a, b]) == []
    assert check_files([b, a]) == []  # checked in range order, not given order
    c = str(tmp_path / "part-00002.parquet")
    _month_file(c, [0], [(0, 0, 1, 1)])
    assert check_files([a, b, c])


def test_e2_check_accounts_for_every_url():
    ok = {"written": 90, "failed": 10, "files": []}
    assert check_e2(ok, n_urls=100, n_broken=10) == []
    assert check_e2({**ok, "written": 89}, n_urls=100, n_broken=10)
    assert check_e2({**ok, "failed": 9, "written": 91}, n_urls=100, n_broken=10)
