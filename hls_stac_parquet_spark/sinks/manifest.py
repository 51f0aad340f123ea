"""Daily STAC-link manifest sink/source (D2).

The reference writes one JSON array of URLs per (collection, day) at
``links/{collection_id}/{year}/{month:02d}/{date}.json``
(links.py:53-59, constants.py:6-7) and reads a month of them back
with a prefix listing (write.py:152-168). Same layout here — the
path keys become real columns on read, order-insensitive semantics
preserved (the reference's own round-trip test compares as sets,
tests/test_workflow.py:49-51).

``dest`` is a store URL, like the reference's ``from_url(dest)``
(links.py:92-96): a POSIX path, ``file://…``, or any scheme
registered via ``hls_stac_parquet_spark.store.register_store_scheme``
(``s3://`` through sources/s3store.py).
"""

from __future__ import annotations

import datetime as dt
import json
import posixpath
import re

from pyspark.sql import DataFrame, SparkSession

from hls_stac_parquet_spark.store import get_store

#: path template (constants.py:6-7)
MANIFEST_PATH_TEMPLATE = "links/{collection_id}/{year}/{month:02d}/{date}.json"


def manifest_key(collection_id: str, date: dt.date) -> str:
    """Store-relative manifest path for one (collection, day)."""
    return MANIFEST_PATH_TEMPLATE.format(
        collection_id=collection_id,
        year=date.year,
        month=date.month,
        date=date.isoformat(),
    )


def write_manifests(
    df: DataFrame,
    dest: str,
    skip_existing: bool = True,
) -> list[str]:
    """Write one JSON-array manifest per (collection_id, date) group.

    Input: (collection_id, date, url) rows. One shuffle groups each
    day's URLs onto a single task (``applyInPandas`` per group — the
    same shuffle a collect_list aggregate would pay); that task writes
    its one small JSON object and returns only ``(path, written)``.
    The driver never sees URL payloads — at reference fan-out
    (collections × years of days) a driver-side write loop is a
    serial bottleneck and a driver-memory cap.

    Writes are idempotent (full overwrite per path), so Spark task
    retries are safe (at-least-once write per group).
    ``skip_existing`` mirrors links.py:100-103 with an executor-side
    existence probe per day against the same store the write targets.
    E1 (plans/daily_ingest.py) drops cached days on the driver first
    and passes ``skip_existing=False``, so its write tasks run no
    probe: one ``exists`` per day in all.
    """
    import pandas as pd

    # the resolved Store pickles into the tasks (stores carry only
    # config — URL/region/credential callable); resolving by URL
    # inside the task would miss driver-side register_store_scheme
    # registrations (worker processes have a fresh registry)
    task_store = get_store(dest)

    def _write_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        collection_id = pdf["collection_id"].iloc[0]
        date = pdf["date"].iloc[0]
        key = manifest_key(collection_id, date)
        if skip_existing and task_store.exists(key):
            return pd.DataFrame(
                {"path": [task_store.full_url(key)], "written": [False]}
            )
        task_store.put_bytes(
            key, json.dumps(sorted(pdf["url"].tolist())).encode()
        )
        return pd.DataFrame(
            {"path": [task_store.full_url(key)], "written": [True]}
        )

    results = (
        df.select("collection_id", "date", "url")
        .groupBy("collection_id", "date")
        .applyInPandas(_write_group, "path string, written boolean")
        .collect()  # one tiny row per (collection, day) — paths only
    )
    return sorted(r.path for r in results if r.written)


def read_month_urls(
    dest: str, collection_id: str, year: int, month: int
) -> dict[int, list[str]]:
    """A month of manifests → {day of month: urls}, in day order, read
    on the driver as the reference does (write.py:152-168): the store's
    prefix listing, then one GET per day file (≤31 small objects). A
    file that is not a JSON array of strings raises ``ValueError``
    naming its key."""
    store = get_store(dest)
    prefix = posixpath.join("links", collection_id, str(year), f"{month:02d}")
    day_re = re.compile(r"(\d{4})-(\d{2})-(\d{2})\.json$")
    out = {}
    for key in store.list(prefix):  # sorted: day order
        m = day_re.search(key)
        if m is None:
            continue
        try:
            urls = json.loads(store.get_bytes(key))
            if not isinstance(urls, list) or {type(u) for u in urls} - {str}:
                raise ValueError("not a JSON array of strings")
        except ValueError as e:
            raise ValueError(
                f"malformed manifest {store.full_url(key)}: {e}"
            ) from e
        out[int(m.group(3))] = urls
    return out


def read_manifests(
    spark: SparkSession, dest: str, collection_id: str, year: int, month: int
) -> DataFrame:
    """A month of manifests as (collection_id, year, month, day, urls)
    rows: :func:`read_month_urls` as a DataFrame."""
    rows = [
        (collection_id, year, month, day, urls)
        for day, urls in read_month_urls(dest, collection_id, year, month).items()
    ]
    return spark.createDataFrame(
        rows,
        "collection_id string, year int, month int, day int, "
        "urls array<string>",
    )
