"""Load generation against a RelatedServer running in its own process.

Two phases over one fixed request list: an open loop that sends at a
fixed rate and times each request from when it was due (so a stall is
charged to every request queued behind it), then a closed loop of
``clients`` callers that each wait for a reply before the next request.
"""

from __future__ import annotations

import http.client
import json
import math
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import quote


def start_server(root: str, related: str, edges: str = "", meta: str = ""):
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.serve_proc", related, edges, meta],
        cwd=root, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    line = proc.stdout.readline()
    if not line:
        proc.wait(timeout=30)
        raise RuntimeError(f"server exited with {proc.returncode}")
    return proc, json.loads(line)["port"]


def stop_server(proc) -> None:
    try:
        proc.stdin.close()
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def relate_req(url: str, top: int = 10) -> tuple[str, str]:
    return "relate", f"/relate?url={quote(url, safe='')}&top={top}"


def symbol_req(name: str, top: int = 20) -> tuple[str, str]:
    return "symbol", f"/symbol/relation?name={quote(name, safe='')}&top={top}"


def metadata_req(url: str) -> tuple[str, str]:
    return "metadata", f"/file/metadata?url={quote(url, safe='')}"


def _get(port: int, path: str):
    con = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        con.request("GET", path)
        resp = con.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        con.close()


class Phase:
    """Outcome of one load phase: per-route latencies (s), failures,
    the sampled payloads, and the phase's wall time."""

    def __init__(self):
        self.lat: dict[str, list[float]] = {}
        self.failed = 0
        self.attempted = 0
        self.payloads: dict[int, object] = {}
        self.wall = 0.0
        self.late_max = 0.0
        self._lock = threading.Lock()

    def record(self, i, route, lat, status, payload, sample_every, late=0.0):
        with self._lock:
            self.attempted += 1
            self.late_max = max(self.late_max, late)
            if status != 200:
                self.failed += 1
                return
            self.lat.setdefault(route, []).append(lat)
            if i % sample_every == 0:
                self.payloads[i] = payload


def open_loop(port: int, reqs: list, rate: float, workers: int,
              sample_every: int = 10) -> Phase:
    ph = Phase()

    def one(i, route, path, due):
        start = time.perf_counter()
        try:
            status, payload = _get(port, path)
        except (OSError, ValueError, http.client.HTTPException):
            status, payload = -1, None
        ph.record(i, route, time.perf_counter() - due, status, payload,
                  sample_every, late=start - due)

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=workers) as pool:
        for i, (route, path) in enumerate(reqs):
            due = t0 + i / rate
            pause = due - time.perf_counter()
            if pause > 0:
                time.sleep(pause)
            pool.submit(one, i, route, path, due)
    ph.wall = time.perf_counter() - t0
    return ph


def closed_loop(port: int, reqs: list, clients: int,
                sample_every: int = 10) -> Phase:
    ph = Phase()

    def client(c):
        for i in range(c, len(reqs), clients):
            route, path = reqs[i]
            t = time.perf_counter()
            try:
                status, payload = _get(port, path)
            except (OSError, ValueError, http.client.HTTPException):
                status, payload = -1, None
            ph.record(i, route, time.perf_counter() - t, status, payload,
                      sample_every)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client, args=(c,))
               for c in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    ph.wall = time.perf_counter() - t0
    return ph


def quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]
