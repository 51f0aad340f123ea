"""S3-compatible object store over stdlib HTTP + SigV4.

Completes the ``s3://`` half of the store layer
(hls_stac_parquet_spark/store.py): the reference reaches object
storage through obstore's Rust S3 client (links.py:92-96,
write.py:240-245); here the same four calls the sinks need —
HEAD / PUT / GET / ListObjectsV2 — are issued with ``urllib`` and
signed with the stdlib SigV4 implementation
(sources/earthdata.py::sigv4_headers). Zero extra dependencies, so
the executor-side writers can talk to S3 (or any S3-compatible
endpoint: MinIO, Ceph RGW, the test fake) from any worker.

Wire-up:

    from hls_stac_parquet_spark.sources.s3store import register_s3_scheme
    register_s3_scheme(credentials=provider.s3_credentials,
                       region="us-west-2")
    write_manifests(df, "s3://my-bucket/links-dest")

where ``credentials`` is any zero-arg callable returning
``{accessKeyId, secretAccessKey, sessionToken?}`` — e.g.
``EarthdataCredentialProvider(token=...).s3_credentials`` for NASA
Earthdata buckets — or None for anonymous/public buckets.

Spark's own DataFrame reads of the same data go through Hadoop s3a
(``Store.spark_url`` maps the URL); this class only serves the
custom footer-stamping/manifest writers that bypass Hadoop.
"""

from __future__ import annotations

import urllib.error
import urllib.request
import xml.etree.ElementTree as ET
from typing import BinaryIO, Callable
from urllib.parse import quote, urlparse

from hls_stac_parquet_spark.sources.earthdata import sigv4_headers
from hls_stac_parquet_spark.sources.retry import request_with_retries
from hls_stac_parquet_spark.store import Store, register_store_scheme


class S3Store(Store):
    """Store bound to ``s3://bucket[/prefix]``.

    ``credentials``: zero-arg callable → credential dict (fetched per
    request batch so short-lived STS credentials stay fresh), or
    None for unsigned requests. ``endpoint``: override for
    S3-compatible services / tests (default: per-bucket virtual-host
    AWS URL). Picklable (callable + strings), so tasks re-bind
    cheaply like the other stores.
    """

    #: objects above this size upload via multipart (AWS caps a single
    #: PUT at 5 GiB; far below that, one-shot PUTs of month-scale
    #: objects buffer the whole body per request and cannot resume).
    MULTIPART_THRESHOLD = 64 * 1024 * 1024
    #: per-part size (AWS minimum is 5 MiB for all but the last part).
    PART_SIZE = 64 * 1024 * 1024
    #: attempts per request (sources/retry.py backoff between them)
    RETRY_ATTEMPTS = 3
    #: per-request socket timeout, seconds
    TIMEOUT = 60.0

    def __init__(
        self,
        url: str,
        credentials: Callable[[], dict] | None = None,
        region: str = "us-west-2",
        endpoint: str | None = None,
        spark_readable: bool = True,
    ):
        parsed = urlparse(url)
        self.bucket = parsed.netloc
        self.prefix = parsed.path.strip("/")
        self.credentials = credentials
        self.region = region
        self.endpoint = (
            endpoint.rstrip("/")
            if endpoint
            else f"https://{self.bucket}.s3.{region}.amazonaws.com"
        )
        # whether the Spark runtime can read these objects directly
        # via Hadoop s3a (cluster with hadoop-aws). False → the Spark
        # readers (bbox query, OPTIMIZE) refuse the store.
        self.spark_readable = spark_readable

    def _key(self, path: str) -> str:
        return f"{self.prefix}/{path}" if self.prefix else path

    def full_url(self, path: str) -> str:
        return f"s3://{self.bucket}/" + self._key(path)

    def spark_url(self, path: str = "") -> str | None:
        if not self.spark_readable:
            return None
        # Hadoop reads the same objects via s3a
        suffix = self._key(path) if path else self.prefix
        return f"s3a://{self.bucket}/{suffix}".rstrip("/")

    def _request(
        self, method: str, key: str, data: bytes = b"", query: str = ""
    ) -> tuple[int, bytes, dict[str, str]]:
        """One signed request with transient-failure retries
        (429/5xx/network → jittered exponential backoff, Retry-After
        honored; see sources/retry.py). Each retry RE-SIGNS — the
        x-amz-date and any refreshed STS credentials must be current."""
        path = "/" + quote(key, safe="/-_.~")
        url = self.endpoint + path + (f"?{query}" if query else "")

        def send() -> tuple[int, bytes, dict[str, str]]:
            headers = self._auth_headers(method, url, data)
            req = urllib.request.Request(
                url, data=data if method in ("PUT", "POST") else None,
                headers=headers, method=method,
            )
            with urllib.request.urlopen(req, timeout=self.TIMEOUT) as resp:
                return resp.status, resp.read(), dict(resp.headers)

        return request_with_retries(send, attempts=self.RETRY_ATTEMPTS)

    def _auth_headers(
        self, method: str, url: str, data: bytes
    ) -> dict[str, str]:
        """Per-request auth — SigV4 (none without credentials)."""
        if self.credentials is None:
            return {}
        creds = self.credentials()
        headers = sigv4_headers(
            method,
            url,
            access_key=creds["accessKeyId"],
            secret_key=creds["secretAccessKey"],
            session_token=creds.get("sessionToken"),
            region=self.region,
            service="s3",
            payload=data,
        )
        headers.pop("host", None)  # urllib sets Host itself
        return headers

    def exists(self, path: str) -> bool:
        status, _, _ = self._request("HEAD", self._key(path))
        if status in (200,):
            return True
        if status == 404:
            return False
        if status == 403:
            # Anonymous access: S3 returns 403 in lieu of 404 when the
            # caller lacks s3:ListBucket, so map to "absent". With
            # credentials supplied, 403 means expired/denied auth —
            # treating that as "absent" would silently turn
            # skip_existing into re-writes, so fail loudly instead.
            if not self._is_authed():
                return False
            raise IOError(
                f"HEAD {path}: HTTP 403 with credentials supplied "
                "(expired/denied auth, not a missing object)"
            )
        raise IOError(f"HEAD {path}: HTTP {status}")

    def _is_authed(self) -> bool:
        return self.credentials is not None

    def put_bytes(self, path: str, data: bytes) -> None:
        if len(data) > self.MULTIPART_THRESHOLD:
            self._put_multipart(path, data)
            return
        status, body, _ = self._request("PUT", self._key(path), data=data)
        if status not in (200, 201):
            raise IOError(f"PUT {path}: HTTP {status} {body[:200]!r}")

    def _put_multipart(self, path: str, data: bytes) -> None:
        """CreateMultipartUpload / UploadPart / CompleteMultipartUpload
        (the reference gets this transparently from obstore's Rust
        client, reference write.py:240-245). Any failure aborts the
        upload server-side so parts don't accrue storage; the caller's
        retry is a fresh upload-id, so a replay converges."""
        key = self._key(path)
        status, body, _ = self._request("POST", key, query="uploads")
        if status != 200:
            raise IOError(
                f"CreateMultipartUpload {path}: HTTP {status} {body[:200]!r}"
            )
        ns = "{http://s3.amazonaws.com/doc/2006-03-01/}"
        upload_id = ET.fromstring(body).findtext(f"{ns}UploadId") or (
            ET.fromstring(body).findtext("UploadId")
        )
        if not upload_id:
            raise IOError(f"CreateMultipartUpload {path}: no UploadId")
        uid = quote(upload_id, safe="")
        try:
            etags: list[str] = []
            for n, off in enumerate(
                range(0, len(data), self.PART_SIZE), start=1
            ):
                part = data[off : off + self.PART_SIZE]
                status, body, headers = self._request(
                    "PUT", key, data=part,
                    query=f"partNumber={n}&uploadId={uid}",
                )
                if status != 200:
                    raise IOError(
                        f"UploadPart {path} #{n}: HTTP {status} "
                        f"{body[:200]!r}"
                    )
                etag = next(
                    (v for k, v in headers.items() if k.lower() == "etag"),
                    "",
                )
                etags.append(etag)
            finish = "".join(
                f"<Part><PartNumber>{n}</PartNumber><ETag>{e}</ETag></Part>"
                for n, e in enumerate(etags, start=1)
            )
            payload = (
                "<CompleteMultipartUpload>" + finish
                + "</CompleteMultipartUpload>"
            ).encode()
            status, body, _ = self._request(
                "POST", key, data=payload, query=f"uploadId={uid}"
            )
            # S3 can also signal failure inside a 200 body (<Error>)
            if status != 200 or b"<Error" in body:
                raise IOError(
                    f"CompleteMultipartUpload {path}: HTTP {status} "
                    f"{body[:200]!r}"
                )
        except BaseException:
            # best-effort server-side abort; the original error wins
            try:
                self._request("DELETE", key, query=f"uploadId={uid}")
            except Exception:
                pass
            raise

    def get_bytes(self, path: str) -> bytes:
        status, body, _ = self._request("GET", self._key(path))
        if status != 200:
            raise IOError(f"GET {path}: HTTP {status}")
        return body

    def delete(self, path: str) -> None:
        status, body, _ = self._request("DELETE", self._key(path))
        if status not in (200, 204):
            raise IOError(f"DELETE {path}: HTTP {status} {body[:200]!r}")

    def list(self, prefix: str) -> list[str]:
        """ListObjectsV2 with continuation (paged, 1000 keys/page).

        Same contract as the local store: the key equal to ``prefix``
        and every key under ``prefix/``, but not a sibling that only
        shares leading characters (``a`` lists ``a/b``, not ``ab``).
        ``list("")`` lists the whole root."""
        key_prefix = self._key(prefix).rstrip("/")
        under = key_prefix + "/" if key_prefix else ""
        strip = len(self.prefix) + 1 if self.prefix else 0
        keys: list[str] = []
        token: str | None = None
        while True:
            query = "list-type=2&prefix=" + quote(key_prefix, safe="")
            if token:
                query += "&continuation-token=" + quote(token, safe="")
            status, body, _ = self._request("GET", "", query=query)
            if status != 200:
                raise IOError(f"LIST {prefix}: HTTP {status}")
            ns = "{http://s3.amazonaws.com/doc/2006-03-01/}"
            root = ET.fromstring(body)
            for c in root.findall(f"{ns}Contents/{ns}Key"):
                if c.text.startswith(under) or (prefix and c.text == key_prefix):
                    keys.append(c.text[strip:])
            token = (
                root.findtext(f"{ns}NextContinuationToken")
                if root.findtext(f"{ns}IsTruncated") == "true"
                else None
            )
            if not token:
                return sorted(keys)

    def open_output(self, path: str) -> BinaryIO:
        import io

        store, key = self, path

        class _Buf(io.BytesIO):
            def close(buf) -> None:  # noqa: N805 — commit on close
                store.put_bytes(key, buf.getvalue())
                io.BytesIO.close(buf)

        return _Buf()


def register_s3_scheme(
    credentials: Callable[[], dict] | None = None,
    region: str = "us-west-2",
    endpoint: str | None = None,
) -> None:
    """One-line deployment hook: make ``get_store("s3://…")`` work."""
    register_store_scheme(
        "s3",
        lambda url: S3Store(
            url, credentials=credentials, region=region, endpoint=endpoint
        ),
    )
