"""Seeded benchmark inputs: one collection-month of CMR day files and
STAC items spread over thousands of MGRS tiles.

The unit-test fixtures (``tests/fixtures.py``) cycle six tiles, so the
Hilbert key takes six values and the range partitioner sees six split
points. A month here draws its tiles from every 100 km square that the
engine's own MGRS decoder (``functions.mgrs.mgrs_tile_center``) puts
inside its latitude band and UTM zone, so the clustering layers see a
realistic key spread. Each item's geometry and bbox are a 1-degree
square centred on its tile, so bbox queries and Hilbert order agree.

Every day carries ``broken_per_day`` granules whose stac.json link
names an item that does not exist: over ``file://`` the file is never
written, over HTTP the origin answers 404. E2 must dead-letter exactly
those.
"""

from __future__ import annotations

import calendar
import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from hls_stac_parquet_spark.functions.mgrs import mgrs_tile_center

COLLECTION_CONCEPT_ID = "C2021957657-LPCLOUD"
COLLECTION_ID = "HLSL30_2.0"

_COL_SETS = ("ABCDEFGH", "JKLMNPQR", "STUVWXYZ")
_ROW_LETTERS = "ABCDEFGHJKLMNPQRSTUV"
_BANDS = "CDEFGHJKLMNPQRSTUVWX"


def _candidate_tiles() -> list[str]:
    return [
        f"{zone:02d}{band}{col}{row}"
        for zone in range(1, 61)
        for band in _BANDS
        for col in _COL_SETS[(zone - 1) % 3]
        for row in _ROW_LETTERS
    ]


def valid_tiles() -> pd.DataFrame:
    """Every tile id whose decoded centre is finite and falls inside
    its own latitude band and UTM zone. Columns: tile, lon, lat."""
    tiles = pd.Series(_candidate_tiles())
    centers = mgrs_tile_center(tiles)
    zone = tiles.str.slice(0, 2).astype(int).to_numpy()
    band_idx = np.array([_BANDS.index(t[2]) for t in tiles])
    lo = -80.0 + 8.0 * band_idx
    hi = np.where(band_idx == len(_BANDS) - 1, 84.0, lo + 8.0)
    lat = centers["lat"].to_numpy()
    lon = centers["lon"].to_numpy()
    zone_w = zone * 6.0 - 186.0
    ok = (
        np.isfinite(lat)
        & np.isfinite(lon)
        & (lat >= lo)
        & (lat < hi)
        & (lon >= zone_w)
        & (lon < zone_w + 6.0)
    )
    return pd.DataFrame({"tile": tiles[ok].to_numpy(), "lon": lon[ok], "lat": lat[ok]})


@dataclass
class Month:
    """One generated collection-month.

    ``items`` maps an item's name (the last path segment of its URL)
    to its JSON body; ``broken`` holds the names that must fail.
    ``tiles`` is the tile table the month drew from (tile, lon, lat).
    """

    year: int
    month: int
    tiles: pd.DataFrame
    items: dict[str, bytes] = field(default_factory=dict)
    broken: list[str] = field(default_factory=list)
    granules_by_day: dict[dt.date, list[dict]] = field(default_factory=dict)

    @property
    def days(self) -> list[dt.date]:
        return sorted(self.granules_by_day)

    @property
    def n_urls(self) -> int:
        return len(self.items) + len(self.broken)


def _stac_item(title: str, tile: str, lon: float, lat: float,
               ts: str, cloud: float) -> dict:
    w, s, e, n = lon - 0.5, lat - 0.5, lon + 0.5, lat + 0.5
    return {
        "type": "Feature",
        "stac_version": "1.0.0",
        "stac_extensions": [],
        "id": title,
        "geometry": {
            "type": "Polygon",
            "coordinates": [[[w, s], [e, s], [e, n], [w, n], [w, s]]],
        },
        "bbox": [w, s, e, n],
        "properties": {
            "datetime": ts,
            "start_datetime": ts,
            "end_datetime": ts,
            "eo:cloud_cover": cloud,
        },
        "assets": {
            band: {
                "href": f"s3://lp-prod-protected/{title}/{title}.{band}.tif",
                "type": "image/tiff; application=geotiff",
                "title": band,
                "roles": ["data"],
            }
            for band in ("B01", "B02", "B03", "B04", "Fmask")
        },
        "links": [{"rel": "self", "href": f"https://cmr/{title}"}],
        "collection": COLLECTION_ID,
    }


def make_month(seed: int, n_items: int, n_tiles: int, broken_per_day: int,
               year: int = 2024, month: int = 7) -> Month:
    """Draw a month of about ``n_items`` items (rounded down to whole
    days) over ``n_tiles`` distinct tiles; the same seed gives the
    same month byte for byte."""
    rng = np.random.default_rng(seed)
    all_tiles = valid_tiles()
    pick = rng.choice(len(all_tiles), size=n_tiles, replace=False)
    tiles = all_tiles.iloc[np.sort(pick)].reset_index(drop=True)
    n_days = calendar.monthrange(year, month)[1]
    per_day = n_items // n_days
    out = Month(year=year, month=month, tiles=tiles)
    t_id, t_lon, t_lat = (tiles[c].to_numpy() for c in ("tile", "lon", "lat"))
    for d in range(1, n_days + 1):
        day = dt.date(year, month, d)
        doy = day.strftime("%Y%j")
        idx = rng.integers(0, n_tiles, size=per_day + broken_per_day)
        granules = []
        for i, t in enumerate(idx):
            tile = t_id[t]
            hh, mm, ss = (i // 3600) % 24, (i // 60) % 60, i % 60
            hms = f"{hh:02d}{mm:02d}{ss:02d}"
            title = f"HLS.L30.T{tile}.{doy}T{hms}.v2.0"
            ts = f"{day.isoformat()}T{hh:02d}:{mm:02d}:{ss:02d}Z"
            name = f"{title}_stac.json"
            if i >= per_day:
                name = f"{title}_missing_stac.json"
                out.broken.append(name)
            else:
                cloud = float(rng.integers(0, 100))
                out.items[name] = json.dumps(
                    _stac_item(title, tile, float(t_lon[t]), float(t_lat[t]), ts, cloud)
                ).encode()
            granules.append({"title": title, "ts": ts, "name": name})
        out.granules_by_day[day] = granules
    return out


def _cmr_entry(g: dict, i: int, href: str) -> dict:
    return {
        "id": f"G{3789984495 + i}-LPCLOUD",
        "producer_granule_id": g["title"][:-5],
        "title": g["title"],
        "collection_concept_id": COLLECTION_CONCEPT_ID,
        "dataset_id": "HLS Landsat Operational Land Imager",
        "data_center": "LPCLOUD",
        "time_start": g["ts"].replace("Z", ".000Z"),
        "time_end": g["ts"].replace("Z", ".999Z"),
        "updated": g["ts"].replace("Z", ".000Z"),
        "cloud_cover": "7",
        "day_night_flag": "DAY",
        "coordinate_system": "GEODETIC",
        "browse_flag": True,
        "online_access_flag": True,
        "original_format": "ECHO10",
        "polygons": [["0 0 0 1 1 1 1 0 0 0"]],
        "links": [
            {"rel": "http://esipfed.org/ns/fedsearch/1.1/data#",
             "title": "Download", "hreflang": "en-US",
             "href": f"s3://lp-prod-public/{g['title']}/{g['name']}"},
            {"rel": "http://esipfed.org/ns/fedsearch/1.1/metadata#",
             "title": "STAC JSON", "hreflang": "en-US", "href": href},
        ],
    }


def write_cmr_days(month: Month, cmr_dir: str, url_base: str) -> None:
    """One CMR search fixture per day; each granule's stac.json link
    is ``url_base`` + its item name."""
    os.makedirs(cmr_dir, exist_ok=True)
    i = 0
    for day, granules in month.granules_by_day.items():
        entries = []
        for g in granules:
            entries.append(_cmr_entry(g, i, url_base + g["name"]))
            i += 1
        with open(os.path.join(cmr_dir, f"{day.isoformat()}.json"), "w") as f:
            json.dump({"feed": {"entry": entries}}, f)


def write_items(month: Month, stac_dir: str) -> None:
    """Item files for the ``file://`` transport; broken ones are
    never written."""
    os.makedirs(stac_dir, exist_ok=True)
    for name, body in month.items.items():
        with open(os.path.join(stac_dir, name), "wb") as f:
            f.write(body)
