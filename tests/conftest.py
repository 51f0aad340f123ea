from __future__ import annotations

import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer
from types import SimpleNamespace
from urllib.parse import parse_qs, unquote, urlparse

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hls_stac_parquet_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "hls-spark-tests", extra_conf={"spark.sql.shuffle.partitions": "8"}
    )
    yield s
    # explicit stop at session finish, then shut the Py4J gateway down
    # and give its callback/daemon threads a beat to exit, so no JVM
    # thread outlives the interpreter.
    try:
        sc = s.sparkContext
        s.stop()
        gw = getattr(sc, "_gateway", None)
        if gw is not None:
            gw.shutdown()
        import time

        time.sleep(1.0)
    except Exception:
        pass


#: tiny ListObjectsV2 page size to exercise continuation
PAGE = 2


@pytest.fixture()
def fake_s3():
    """Dict-backed S3-compatible endpoint: PUT/GET/HEAD + paged
    ListObjectsV2; records Authorization headers, and every request
    as (method, key, x-amz-security-token, Authorization)."""
    objects: dict[str, bytes] = {}
    auth_seen: list[str | None] = []
    requests: list[tuple[str, str, str | None, str | None]] = []
    # multipart state + event log (create/part/complete/abort) and a
    # fault hook tests can set to fail specific part uploads
    uploads: dict[str, dict] = {}
    upload_seq = [0]
    mpu_events: list[tuple] = []
    part_fault: dict = {"fail": None}  # (part_number, times_left)

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def _key(self):
            return unquote(urlparse(self.path).path.lstrip("/"))

        def _log(self):
            auth = self.headers.get("Authorization")
            auth_seen.append(auth)
            requests.append((
                self.command, self._key(),
                self.headers.get("x-amz-security-token"), auth,
            ))

        def _respond(self, code, body=b"", etag=None):
            self.send_response(code)
            if etag:
                self.send_header("ETag", etag)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            if body:
                self.wfile.write(body)

        def do_POST(self):
            self._log()
            qs = parse_qs(urlparse(self.path).query, keep_blank_values=True)
            key = self._key()
            if "uploads" in qs:
                upload_seq[0] += 1
                uid = f"up-{upload_seq[0]}"
                uploads[uid] = {"key": key, "parts": {}}
                mpu_events.append(("create", uid, key))
                body = (
                    "<InitiateMultipartUploadResult>"
                    f"<UploadId>{uid}</UploadId>"
                    "</InitiateMultipartUploadResult>"
                ).encode()
                self._respond(200, body)
            elif "uploadId" in qs:
                uid = qs["uploadId"][0]
                n = int(self.headers.get("Content-Length", 0))
                self.rfile.read(n)  # completion XML (part list)
                up = uploads.pop(uid, None)
                if up is None or up["key"] != key:
                    self._respond(404, b"<Error>NoSuchUpload</Error>")
                    return
                objects[key] = b"".join(
                    up["parts"][i] for i in sorted(up["parts"])
                )
                mpu_events.append(
                    ("complete", uid, key, sorted(up["parts"]))
                )
                self._respond(
                    200, b"<CompleteMultipartUploadResult/>"
                )
            else:
                self._respond(400, b"<Error>BadRequest</Error>")

        def do_PUT(self):
            self._log()
            n = int(self.headers.get("Content-Length", 0))
            data = self.rfile.read(n)
            qs = parse_qs(urlparse(self.path).query)
            if "partNumber" in qs and "uploadId" in qs:
                uid, pn = qs["uploadId"][0], int(qs["partNumber"][0])
                fault = part_fault["fail"]
                if fault and fault[0] == pn and fault[1] > 0:
                    part_fault["fail"] = (pn, fault[1] - 1)
                    mpu_events.append(("part-fault", uid, pn))
                    self._respond(503, b"<Error>SlowDown</Error>")
                    return
                if uid not in uploads:
                    self._respond(404, b"<Error>NoSuchUpload</Error>")
                    return
                uploads[uid]["parts"][pn] = data
                mpu_events.append(("part", uid, pn, len(data)))
                self._respond(200, etag=f'"etag-{uid}-{pn}"')
                return
            objects[self._key()] = data
            self._respond(200)

        def do_HEAD(self):
            self._log()
            if self._key() in objects:
                self.send_response(200)
                self.send_header(
                    "Content-Length", str(len(objects[self._key()]))
                )
                self.end_headers()
            else:
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()

        def do_GET(self):
            self._log()
            parsed = urlparse(self.path)
            qs = parse_qs(parsed.query)
            if qs.get("list-type") == ["2"]:
                prefix = qs.get("prefix", [""])[0]
                start = qs.get("continuation-token", [""])[0]
                keys = sorted(k for k in objects if k.startswith(prefix))
                if start:
                    keys = [k for k in keys if k > start]
                page, rest = keys[:PAGE], keys[PAGE:]
                ns = "http://s3.amazonaws.com/doc/2006-03-01/"
                parts = [f'<ListBucketResult xmlns="{ns}">']
                parts.append(
                    f"<IsTruncated>{'true' if rest else 'false'}"
                    "</IsTruncated>"
                )
                if rest:
                    parts.append(
                        f"<NextContinuationToken>{page[-1]}"
                        "</NextContinuationToken>"
                    )
                for k in page:
                    parts.append(f"<Contents><Key>{k}</Key></Contents>")
                parts.append("</ListBucketResult>")
                body = "".join(parts).encode()
                self.send_response(200)
            elif self._key() in objects:
                body = objects[self._key()]
                self.send_response(200)
            else:
                body = b"<Error><Code>NoSuchKey</Code></Error>"
                self.send_response(404)
            self.send_header("Content-Type", "application/xml")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_DELETE(self):
            self._log()
            qs = parse_qs(urlparse(self.path).query)
            if "uploadId" in qs:
                uid = qs["uploadId"][0]
                uploads.pop(uid, None)
                mpu_events.append(("abort", uid))
                self._respond(204)
                return
            objects.pop(self._key(), None)
            self._respond(204)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    state = SimpleNamespace(
        endpoint=f"http://127.0.0.1:{srv.server_port}",
        objects=objects,
        auth_seen=auth_seen,
        requests=requests,
        uploads=uploads,
        mpu_events=mpu_events,
        part_fault=part_fault,
    )
    try:
        yield state.endpoint, objects, auth_seen, state
    finally:
        srv.shutdown()
