"""Output checks run on every benchmark run. Each returns a list of
problems; an empty list means the output is correct."""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def check_e1(written: list[str], n_days: int) -> list[str]:
    if len(written) != n_days:
        return [f"E1 wrote {len(written)} manifests for {n_days} days"]
    return []


def check_e2(result: dict, n_urls: int, n_broken: int) -> list[str]:
    problems = []
    if result.get("skipped"):
        problems.append("E2 skipped the month")
    if result["written"] + result["failed"] != n_urls:
        problems.append(
            f"E2 written {result['written']} + failed {result['failed']}"
            f" != {n_urls} URLs in the manifests"
        )
    if result["failed"] != n_broken:
        problems.append(f"E2 failed {result['failed']}, injected {n_broken}")
    return problems


def check_files(paths: list[str]) -> list[str]:
    """Every file carries a ``geo`` footer, and ``hilbert_idx`` never
    decreases across the files taken in range (part number) order."""
    problems = []
    prev_max = None
    for p in sorted(paths):
        pf = pq.ParquetFile(p)
        meta = pf.schema_arrow.metadata or {}
        if b"geo" not in meta:
            problems.append(f"{p}: no geo footer")
        else:
            geo = json.loads(meta[b"geo"])
            if geo.get("primary_column") != "geometry":
                problems.append(f"{p}: geo footer names {geo.get('primary_column')}")
        keys = pf.read(columns=["hilbert_idx"]).column(0).to_numpy()
        if len(keys) == 0:
            continue
        if (np.diff(keys) < 0).any():
            problems.append(f"{p}: hilbert_idx decreases inside the file")
        if prev_max is not None and keys[0] < prev_max:
            problems.append(f"{p}: hilbert_idx starts below the previous file's end")
        prev_max = keys[-1]
    return problems


class BruteForce:
    """All (id, bbox) rows of a month's output files, to answer a bbox
    query by a plain scan and compare with the engine's answer."""

    def __init__(self, paths: list[str]):
        cols = ["id", "bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax"]
        t = pa.concat_tables(pq.read_table(p, columns=cols) for p in paths)
        self.ids = np.asarray(t.column("id").to_pylist(), dtype=object)
        self.box = np.column_stack([t.column(c).to_numpy() for c in cols[1:]])

    def ids_in(self, bbox: tuple[float, float, float, float]) -> list[str]:
        w, s, e, n = bbox
        b = self.box
        hit = (b[:, 0] <= e) & (b[:, 2] >= w) & (b[:, 1] <= n) & (b[:, 3] >= s)
        return sorted(self.ids[hit])


def check_query(got: pa.Table, expected_ids: list[str]) -> list[str]:
    ids = sorted(got.column("id").to_pylist())
    if ids != expected_ids:
        return [f"bbox query returned {len(ids)} rows, brute force {len(expected_ids)}"]
    return []
