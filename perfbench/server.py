#!/usr/bin/env python3
"""Loopback HTTP server standing in for remote document publishers.

One asyncio thread serves every connection. Each GET is answered after a
fixed delay (DELAY_S) that holds no thread, so the delay models a remote
publisher's latency rather than server load. Bodies are derived
from the request path alone:

    /doc/<key>-<size>.<ext>   ext: pdf | docx | html | png

so the same path always returns the same bytes. `GET /__stats` returns
the counters (requests, connections, body bytes, and service seconds
spent outside the delay) and is not counted.

Usage: server.py; prints the bound port on stdout.
"""
import asyncio
import json
import random
import signal
import socket
import sys
import time

TYPES = {
    "pdf": "application/pdf",
    "docx": "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    "html": "text/html; charset=utf-8",
    "png": "image/png",
}

DELAY_S = 0.020
stats = {"requests": 0, "connections": 0, "bytes": 0, "service_s": 0.0}


def body(key, size, ext):
    rnd = random.Random(key)
    if ext == "pdf":
        head, tail = b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n", b"\n%%EOF\n"
        return head + rnd.randbytes(max(0, size - len(head) - len(tail))) + tail
    if ext == "docx":
        head = b"PK\x03\x04\x14\x00\x06\x00[Content_Types].xml"
        return head + rnd.randbytes(max(0, size - len(head)))
    if ext == "png":
        return b"\x89PNG\r\n\x1a\n" + rnd.randbytes(max(0, size - 8))
    words = [b"climate", b"policy", b"law", b"energy", b"the", b"of", b"and"]
    text = b" ".join(rnd.choice(words) for _ in range(size // 5))
    return b"<html><body><p>" + text[: max(0, size - 30)] + b"</p></body></html>"


def response(status, ctype, payload):
    head = (f"HTTP/1.1 {status}\r\nContent-Type: {ctype}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n").encode()
    return head + payload


async def handle(reader, writer):
    stats["connections"] += 1
    try:
        while True:
            line = await reader.readline()
            if not line:
                return
            while (await reader.readline()) not in (b"\r\n", b"\n", b""):
                pass
            path = line.split()[1].decode() if len(line.split()) > 1 else "/"
            if path == "/__stats":
                writer.write(response("200 OK", "application/json",
                                      json.dumps(stats).encode()))
                await writer.drain()
                continue
            await asyncio.sleep(DELAY_S)
            t0 = time.perf_counter()
            try:
                name = path.rsplit("/", 1)[1]
                stem, ext = name.rsplit(".", 1)
                key, size = stem.rsplit("-", 1)
                payload = body(int(key), int(size), ext)
                out = response("200 OK", TYPES[ext], payload)
            except (ValueError, IndexError, KeyError):
                payload = b"not found"
                out = response("404 Not Found", "text/plain", payload)
            writer.write(out)
            await writer.drain()
            stats["requests"] += 1
            stats["bytes"] += len(payload)
            stats["service_s"] += time.perf_counter() - t0
    except (ConnectionError, asyncio.IncompleteReadError):
        pass
    finally:
        writer.close()


async def main():
    # bind the socket ourselves: asyncio would otherwise resolve the host
    # on a helper thread
    sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    sock.bind(("127.0.0.1", 0))
    sock.listen(256)
    server = await asyncio.start_server(handle, sock=sock)
    stop = asyncio.get_running_loop().create_future()
    for sig in (signal.SIGTERM, signal.SIGINT):
        asyncio.get_running_loop().add_signal_handler(sig, stop.set_result, None)
    print(sock.getsockname()[1], flush=True)
    async with server:
        await stop
    sys.stdout.close()


if __name__ == "__main__":
    asyncio.run(main())
