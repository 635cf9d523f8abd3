"""Seeded fleet of loopback metrics hosts, run as its own process.

Host ``i`` is ``127.0.1.<i+1>``; every host shares one listening socket and
a pool of at most ``nproc`` worker threads. Each host serves a fixed, seeded
set of 100-300 metric keys from ``GET /metrics/snapshot``. Every response
carries two bookkeeping keys: ``bench/seq`` (per-host request number) and
``bench/serve_us`` (the fleet's wall clock when it wrote the body, in
microseconds). A seeded share of requests is answered 503, and host 0
answers every request ``SLOW_S`` late.

Usage::

    python3 perfbench/fleet.py --hosts 16 --seed 7 --log served.json

The process prints its port on the first line of stdout, serves until its
stdin closes, then writes the log of every response it served to ``--log``
and exits.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

ERROR_SHARE = 0.03
SLOW_S = 0.25
PREFIXES = ("slave", "system", "containerizer", "executor", "allocator")
SUFFIXES = ("cpus_used", "mem_used", "disk_used", "tasks_running", "load_1min", "bytes_sent", "queue_depth")


def host_addr(i: int) -> str:
    return f"127.0.1.{i + 1}"


def host_keys(seed: int, i: int) -> list[str]:
    rng = random.Random(f"keys:{seed}:{i}")
    n = rng.randint(98, 298)  # plus the two bookkeeping keys: 100-300
    return [f"{rng.choice(PREFIXES)}/{rng.choice(SUFFIXES)}_{k}" for k in range(n)]


def is_error(seed: int, i: int, seq: int) -> bool:
    return random.Random(f"err:{seed}:{i}:{seq}").random() < ERROR_SHARE


def payload(seed: int, i: int, seq: int, keys: list[str]) -> dict[str, float]:
    rng = random.Random(f"val:{seed}:{i}:{seq}")
    return {k: round(rng.uniform(0.0, 1000.0), 3) for k in keys}


def digest(metrics: dict[str, float]) -> str:
    """Order-free digest of a metrics map, computed the same way on both sides."""
    body = json.dumps(sorted((k, float(v)) for k, v in metrics.items()))
    return hashlib.sha1(body.encode()).hexdigest()[:16]


class Fleet:
    def __init__(self, hosts: int, seed: int):
        self.seed = seed
        self.index = {host_addr(i): i for i in range(hosts)}
        self.keys = [host_keys(seed, i) for i in range(hosts)]
        self.seq = [0] * hosts
        self.lock = threading.Lock()
        self.served: list[dict] = []

    def respond(self, addr: str) -> tuple[int, bytes]:
        arrive_us = time.time_ns() // 1000
        i = self.index.get(addr)
        if i is None:
            return 404, b""
        with self.lock:
            seq = self.seq[i]
            self.seq[i] += 1
        if i == 0:
            time.sleep(SLOW_S)
        entry = {"host": addr, "seq": seq, "arrive_us": arrive_us}
        if is_error(self.seed, i, seq):
            status, body = 503, b"injected"
            entry["serve_us"] = time.time_ns() // 1000
        else:
            metrics = payload(self.seed, i, seq, self.keys[i])
            metrics["bench/seq"] = float(seq)
            serve_us = time.time_ns() // 1000
            metrics["bench/serve_us"] = float(serve_us)
            status, body = 200, json.dumps(metrics).encode()
            entry.update(serve_us=serve_us, digest=digest(metrics))
        entry["status"] = status
        with self.lock:
            self.served.append(entry)
        return status, body


class _Handler(BaseHTTPRequestHandler):
    fleet: Fleet

    def do_GET(self) -> None:  # noqa: N802
        addr = self.connection.getsockname()[0]
        status, body = (404, b"") if self.path != "/metrics/snapshot" else self.fleet.respond(addr)
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args) -> None:
        pass


class _PooledServer(HTTPServer):
    """One socket; requests handled on a bounded thread pool."""

    def __init__(self, workers: int):
        # 0.0.0.0 is the one bind address that accepts every 127.0.1.x host;
        # peers outside loopback are refused in verify_request
        super().__init__(("0.0.0.0", 0), _Handler)
        self.pool = ThreadPoolExecutor(max_workers=workers)

    def verify_request(self, request, client_address) -> bool:
        return client_address[0].startswith("127.")

    def process_request(self, request, client_address) -> None:
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address) -> None:
        try:
            self.finish_request(request, client_address)
        except OSError:
            pass
        finally:
            self.shutdown_request(request)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--hosts", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--log", required=True)
    args = ap.parse_args()
    _Handler.fleet = Fleet(args.hosts, args.seed)
    server = _PooledServer(workers=os.cpu_count() or 4)
    threading.Thread(target=server.serve_forever, kwargs={"poll_interval": 0.05}, daemon=True).start()
    print(server.server_address[1], flush=True)
    sys.stdin.read()  # serve until the parent closes our stdin
    server.shutdown()
    server.pool.shutdown(wait=True)
    server.server_close()
    with _Handler.fleet.lock:
        served = list(_Handler.fleet.served)
    with open(args.log, "w") as fh:
        json.dump(served, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
