"""Stand-in HTTP origin for STAC items.

One asyncio event loop on one thread serves every connection as a
coroutine, so the 50 connections a fetch task opens cost no threads.
Each request waits a fixed delay before its answer (the round trip to
a real data provider), then gets the item body or a 404. The origin
counts requests per path and its own busy time, the CPU time of its
thread, so a run can show that the origin was not the bottleneck.
"""

from __future__ import annotations

import asyncio
import threading
import time
from collections import Counter


class Origin:
    """``with Origin(items, delay_s) as o:`` serves ``items`` (name →
    body bytes) at ``o.url_base + name``; unknown names answer 404."""

    def __init__(self, items: dict[str, bytes], delay_s: float):
        self._items = items
        self._delay = delay_s
        self._requests: Counter[str] = Counter()
        self._loop = asyncio.new_event_loop()
        self._thread = threading.Thread(target=self._loop.run_forever,
                                        name="origin", daemon=True)
        self._server: asyncio.base_events.Server | None = None
        self.url_base = ""

    def __enter__(self) -> "Origin":
        self._thread.start()
        self._server = asyncio.run_coroutine_threadsafe(
            asyncio.start_server(self._handle, "127.0.0.1", 0, backlog=1024),
            self._loop,
        ).result(timeout=10)
        port = self._server.sockets[0].getsockname()[1]
        self.url_base = f"http://127.0.0.1:{port}/"
        return self

    def __exit__(self, *exc) -> None:
        async def _close():
            self._server.close()
            await self._server.wait_closed()

        asyncio.run_coroutine_threadsafe(_close(), self._loop).result(timeout=10)
        self._loop.call_soon_threadsafe(self._loop.stop)
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("origin thread did not stop")
        self._loop.close()

    async def _handle(self, reader: asyncio.StreamReader,
                      writer: asyncio.StreamWriter) -> None:
        try:
            while True:
                try:
                    head = await reader.readuntil(b"\r\n\r\n")
                except (asyncio.IncompleteReadError, ConnectionError):
                    return
                line = head.split(b"\r\n", 1)[0].decode("latin-1")
                parts = line.split(" ")
                path = parts[1].lstrip("/") if len(parts) > 1 else ""
                self._requests[path] += 1
                await asyncio.sleep(self._delay)
                body = self._items.get(path)
                status = b"200 OK" if body is not None else b"404 Not Found"
                body = body if body is not None else b"not found"
                keep = b"connection: close" not in head.lower()
                writer.write(
                    b"HTTP/1.1 " + status + b"\r\nContent-Type: application/json"
                    b"\r\nContent-Length: " + str(len(body)).encode()
                    + (b"" if keep else b"\r\nConnection: close")
                    + b"\r\n\r\n" + body
                )
                await writer.drain()
                if not keep:
                    return
        except ConnectionError:
            return
        finally:
            writer.close()

    def snapshot(self) -> tuple[Counter[str], float]:
        """(requests per path, busy seconds) so far, read on the
        origin's own thread so the counter is not read mid-update."""

        async def _snap():
            return Counter(self._requests), time.thread_time()

        return asyncio.run_coroutine_threadsafe(_snap(), self._loop).result(timeout=10)
