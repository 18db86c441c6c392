"""Open-loop HTTP load generator for the nb_text serving phase.

Runs as its own process.  Reads one JSON request from stdin::

    {"port": 8080, "texts": [...], "rates": [150, 400], "window_s": 2.5,
     "threads": 4}

For each rate it schedules ``rate * window_s`` POSTs at fixed intervals
(request ``i`` is due at ``t0 + i / rate``), whether or not earlier ones
have returned.  ``threads`` senders take requests in due order; a request
whose sender was busy starts late.  Latency is measured from the due
time, so the wait a stall imposes on later requests is counted, and the
lateness of each start is reported separately.

Writes one JSON object to stdout: per rate, the list of
``[text_index, latency_s, late_s, label_or_null]``.
"""

from __future__ import annotations

import http.client
import json
import sys
import threading
import time


def _post(port: int, body: bytes) -> str:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
    try:
        conn.request(
            "POST", "/app/classify", body=body,
            headers={"Content-Type": "text/plain; charset=utf-8"},
        )
        resp = conn.getresponse()
        data = resp.read().decode("utf-8")
        if resp.status != 200:
            raise OSError(f"HTTP {resp.status}")
        return data
    finally:
        conn.close()


def run_rate(port: int, bodies: list[bytes], rate: float, window_s: float, threads: int) -> list:
    n = max(1, int(rate * window_s))
    out: list = [None] * n
    lock = threading.Lock()
    nxt = [0]
    t0 = time.perf_counter() + 0.05

    def sender() -> None:
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= n:
                return
            due = t0 + i / rate
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            start = time.perf_counter()
            k = i % len(bodies)
            try:
                label = _post(port, bodies[k])
            except OSError:
                label = None
            end = time.perf_counter()
            out[i] = [k, end - due, start - due, label]

    workers = [threading.Thread(target=sender) for _ in range(threads)]
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    return out


def main() -> int:
    req = json.loads(sys.stdin.read())
    bodies = [t.encode("utf-8") for t in req["texts"]]
    result = {
        str(rate): run_rate(req["port"], bodies, rate, req["window_s"], req["threads"])
        for rate in req["rates"]
    }
    json.dump(result, sys.stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
