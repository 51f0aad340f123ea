"""Object-store layer: the ``get_store`` scheme seam, the store
contract against a plain dict model (``LocalStore``, and ``S3Store``
on the fake endpoint), and E2's reference-named output on POSIX.
E1/E2 on ``s3://`` live in tests/test_s3store.py."""

from __future__ import annotations

import datetime as dt
import uuid

import pyarrow.parquet as pq
import pytest

from hls_stac_parquet_spark.plans.daily_ingest import cache_daily_stac_json_links
from hls_stac_parquet_spark.plans.monthly_compact import write_monthly_stac_geoparquet
from hls_stac_parquet_spark.sources.s3store import S3Store
from hls_stac_parquet_spark.store import (
    LocalStore,
    get_store,
    register_store_scheme,
)
from tests.fixtures import make_fixtures

COLL_CID = "C2021957657-LPCLOUD"
COLL_ID = "HLSL30_2.0"
DAYS = [dt.date(2025, 10, d) for d in (1, 2, 3)]


# --- store unit surface ------------------------------------------------------


def test_local_store_roundtrip(tmp_path):
    store = get_store(str(tmp_path / "root"))
    assert isinstance(store, LocalStore)
    assert not store.exists("a/b.json")
    store.put_bytes("a/b.json", b"[1]")
    assert store.exists("a/b.json")
    assert store.get_bytes("a/b.json") == b"[1]"
    store.put_bytes("a/c.json", b"[2]")
    assert store.list("a") == ["a/b.json", "a/c.json"]
    with store.open_output("deep/nested/f.bin") as f:
        f.write(b"xyz")
    assert store.get_bytes("deep/nested/f.bin") == b"xyz"
    # file:// scheme binds to the same POSIX root
    via_url = get_store(f"file://{tmp_path}/root")
    assert via_url.get_bytes("a/b.json") == b"[1]"


def test_unregistered_scheme_raises_with_hook_hint(tmp_path):
    with pytest.raises(ValueError, match="register_store_scheme"):
        get_store("s3://some-bucket/prefix")
    # the deployment hook: one line makes the scheme resolvable
    backing = str(tmp_path / "fakes3-backing")
    register_store_scheme("fakes3", lambda url: LocalStore(backing))
    try:
        store = get_store("fakes3://bucket/x")
        store.put_bytes("k", b"v")
        assert get_store(backing).get_bytes("k") == b"v"
    finally:
        from hls_stac_parquet_spark.store import _SCHEME_FACTORIES

        _SCHEME_FACTORIES.pop("fakes3", None)


# --- E2 reference layout on POSIX ---------------------------------------------


@pytest.fixture(scope="module")
def fx(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("store-e2e")
    cmr_dir, stac_dir = make_fixtures(
        str(base), days=DAYS, granules_per_day=6, broken_stac_urls=1
    )
    return {"base": str(base), "cmr": cmr_dir, "stac": stac_dir}


def test_reference_layout_on_posix(spark, fx, tmp_path):
    """reference_layout emits the exact reference name on a local
    store too — the compatibility mode of verdict item 7."""
    links_dest = str(tmp_path / "links")
    out_dest = str(tmp_path / "gpq")
    cache_daily_stac_json_links(
        spark, COLL_CID, COLL_ID, DAYS[0], links_dest,
        end_date=DAYS[-1], protocol="file", fixture_dir=fx["cmr"],
    )
    result = write_monthly_stac_geoparquet(
        spark, COLL_ID, 2025, 10, links_dest, out_dest,
        require_complete_links=False, reference_layout=True,
    )
    assert result["files"] == [
        f"{out_dest}/v1/HLSL30_2.0/year=2025/month=10/"
        "HLSL30_2.0-2025-10.parquet"
    ]
    t = pq.read_table(result["files"][0])
    assert t.num_rows == 15
    vals = t["hilbert_idx"].to_pylist()
    assert vals == sorted(vals)


# --- property tests: the store contract under arbitrary keys/bytes ----------

from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

_key_segment = st.text(
    alphabet=st.characters(
        whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x7F
    ),
    min_size=1,
    max_size=12,
)
_keys = st.lists(_key_segment, min_size=1, max_size=4).map("/".join)


def assert_store_matches_model(store, entries: dict[str, bytes]) -> None:
    """put/get/exists/list/delete on an empty ``store`` agree with a
    plain dict holding ``entries``: ``list(p)`` is the key equal to
    ``p`` plus every key under ``p/``, and ``list("")`` every key."""
    for k, v in entries.items():
        assert not store.exists(k)
        store.put_bytes(k, v)
    for k, v in entries.items():
        assert store.exists(k)
        assert store.get_bytes(k) == v
    for seg in sorted({k.split("/")[0] for k in entries}):
        expected = sorted(
            k for k in entries if k == seg or k.startswith(seg + "/")
        )
        assert store.list(seg) == expected, seg
    assert store.list("") == sorted(entries)
    for k in entries:
        store.delete(k)
        assert not store.exists(k)
    assert store.list("") == []


@settings(max_examples=15, deadline=None)
@given(
    entries=st.dictionaries(_keys, st.binary(max_size=64), max_size=6),
)
def test_local_store_contract_matches_model(entries, tmp_path_factory):
    """LocalStore obeys the store contract — over key sets where no key
    is a path-prefix of another. A real object store lets keys "a"
    and "a/b" coexist (flat namespace); a filesystem cannot (a path
    is a file XOR a directory), so that corner is a DECLARED contract
    restriction of the local dev backend, not a bug: production
    manifests go to s3://-style stores, and the manifest sink only
    ever writes leaf-file-shaped keys."""
    ks = sorted(entries)
    assume(
        not any(
            b.startswith(a + "/") for a in ks for b in ks if a != b
        )
    )
    root = tmp_path_factory.mktemp("store-prop")
    assert_store_matches_model(LocalStore(str(root / uuid.uuid4().hex)), entries)


@settings(
    max_examples=30, deadline=None,
    # one fake endpoint serves every example; each gets its own prefix
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    entries=st.dictionaries(_keys, st.binary(max_size=64), max_size=8),
)
def test_s3_store_contract_matches_model(entries, fake_s3):
    """S3Store on the fake endpoint obeys the same contract, with no
    key-set restriction: "a" and "a/b" coexist in a flat namespace."""
    endpoint, _, _, _ = fake_s3
    store = S3Store(
        f"s3://prop/{uuid.uuid4().hex}",
        credentials=lambda: {"accessKeyId": "AK", "secretAccessKey": "SK"},
        endpoint=endpoint,
    )
    assert_store_matches_model(store, entries)
