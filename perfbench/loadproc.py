"""The load process: HTTP collector and, for ``ingest_live``, the file dropper.

Runs apart from the Spark driver, on one asyncio event loop in one
thread, so it never competes with Spark for more than one core:

* every request to a path outside ``/control/`` is a sink delivery; its
  receipt time, path and (still gzip-compressed) body are kept in memory;
* ``POST /control/drops`` starts the open-loop dropper: file ``k`` is
  due at ``t0 + k * interval``; it is written under a staging directory
  and renamed atomically into the watched directory, and every event in
  it is stamped with that *scheduled* time, so a stall of the dropper or
  of the machine shows up as latency instead of being hidden;
* ``POST /control/finish`` stops the dropper, writes everything recorded
  to the dump file and exits.

It also exits when its stdin closes, so it never outlives the runner.

Usage (the runner starts it)::

    python3 perfbench/loadproc.py --dump PATH

It prints ``PORT <n>`` once it listens on 127.0.0.1.
"""

from __future__ import annotations

import argparse
import asyncio
import gzip
import json
import os
import sys
import time

import datagen


class LoadProcess:
    def __init__(self, dump_path: str) -> None:
        self.dump_path = dump_path
        self.requests: list[tuple[float, str, bytes, bool]] = []
        self.drops: list[tuple[int, int, float]] = []  # (k, scheduled_us, renamed_at)
        self.dropper: asyncio.Task | None = None
        self.done = asyncio.Event()

    async def handle(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        try:
            while True:
                head = await reader.readuntil(b"\r\n\r\n")
                lines = head.decode("latin-1").split("\r\n")
                path = lines[0].split(" ")[1]
                headers = {}
                for h in lines[1:]:
                    if ":" in h:
                        k, v = h.split(":", 1)
                        headers[k.strip().lower()] = v.strip()
                body = await reader.readexactly(int(headers.get("content-length", "0")))
                if path.startswith("/control/"):
                    reply = await self.control(path, body)
                else:
                    gz = headers.get("content-encoding") == "gzip"
                    self.requests.append((time.time(), path, body, gz))
                    reply = b""
                writer.write(
                    b"HTTP/1.1 200 OK\r\nContent-Length: %d\r\n\r\n%s" % (len(reply), reply)
                )
                await writer.drain()
        except (asyncio.IncompleteReadError, ConnectionResetError):
            pass
        finally:
            writer.close()

    async def control(self, path: str, body: bytes) -> bytes:
        if path == "/control/drops":
            self.dropper = asyncio.get_running_loop().create_task(self.drop(json.loads(body)))
            return b"{}"
        if path == "/control/finish":
            if self.dropper is not None:
                self.dropper.cancel()
                try:
                    await self.dropper
                except asyncio.CancelledError:
                    pass
            self.write_dump()
            self.done.set()
            return json.dumps({"requests": len(self.requests)}).encode()
        raise ValueError(f"unknown control path {path}")

    async def drop(self, cfg: dict) -> None:
        pool = datagen.pad_pool(cfg["seed"])
        per_file = cfg["lines_per_file"]
        os.makedirs(cfg["staging_dir"], exist_ok=True)
        for k in range(cfg["n_files"]):
            due = cfg["t0"] + k * cfg["interval"]
            delay = due - time.time()
            if delay > 0:
                await asyncio.sleep(delay)
            stamp_us = int(round(due * 1e6))
            batch = datagen.make_events(
                cfg["seed"], cfg["first_id"] + k * per_file, per_file, stamp_us, pool
            )
            tmp = os.path.join(cfg["staging_dir"], f"drop-{k:06d}.json")
            with open(tmp, "w", encoding="utf-8") as f:
                f.write("\n".join(batch.lines))
                f.write("\n")
            os.rename(tmp, os.path.join(cfg["drop_dir"], f"drop-{k:06d}.json"))
            self.drops.append((k, stamp_us, time.time()))

    def write_dump(self) -> None:
        requests = []
        for t, path, body, gz in self.requests:
            text = (gzip.decompress(body) if gz else body).decode("utf-8")
            requests.append([t, path, len(body), text])
        tmp = self.dump_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"requests": requests, "drops": self.drops}, f)
        os.rename(tmp, self.dump_path)


async def main(dump_path: str) -> None:
    proc = LoadProcess(dump_path)
    server = await asyncio.start_server(proc.handle, "127.0.0.1", 0, limit=1 << 20)
    port = server.sockets[0].getsockname()[1]
    print(f"PORT {port}", flush=True)

    loop = asyncio.get_running_loop()
    stdin_closed = asyncio.Event()
    stdin_reader = asyncio.StreamReader()
    await loop.connect_read_pipe(
        lambda: asyncio.StreamReaderProtocol(stdin_reader), sys.stdin
    )

    async def watch_stdin() -> None:
        while await stdin_reader.read(4096):
            pass
        stdin_closed.set()

    watcher = loop.create_task(watch_stdin())
    finished = loop.create_task(proc.done.wait())
    closed = loop.create_task(stdin_closed.wait())
    await asyncio.wait({finished, closed}, return_when=asyncio.FIRST_COMPLETED)
    await asyncio.sleep(0.1)  # let the reply to /control/finish flush
    for task in (watcher, finished, closed, proc.dropper):
        if task is not None:
            task.cancel()
    server.close()


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--dump", required=True)
    asyncio.run(main(ap.parse_args().dump))
