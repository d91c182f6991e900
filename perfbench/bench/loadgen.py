"""Load generation for the serving workload.

The open loop sends requests on a fixed schedule, whatever the server
does; each is timed from when it was due, so a stall also counts against
the requests queued behind it. How late the generator itself sent each
request is recorded as its lateness, a check on the generator. The closed
loop keeps every generator thread busy to find the saturated goodput.
"""
import bisect
import http.client
import json
import threading
import time
from dataclasses import dataclass


@dataclass
class Request:
    due: float          # seconds after the schedule's start
    path: str           # URL path with query string
    check: object       # callable(body) -> (failure reason or "", generation)


@dataclass
class Result:
    request: Request
    sent: float = 0.0   # seconds after the schedule's start
    done: float = 0.0
    status: int = 0
    failure: str = ""
    generation: object = None   # data generation the response carries

    @property
    def latency(self):
        return self.done - self.request.due

    @property
    def lateness(self):
        return self.sent - self.request.due


def zipf_sampler(rng, n, exponent):
    """Draws ranks 0..n-1 with P(rank k) proportional to 1/(k+1)^exponent.

    The draws are stratified rather than independent: the uniform variates
    follow the golden-ratio sequence from a seeded start, so every stretch
    of draws matches the distribution closely. A response cache then sees
    the same hit ratio in every run, instead of one that swings with
    sampling noise over a few hundred requests."""
    cdf, total = [], 0.0
    for k in range(n):
        total += 1.0 / (k + 1) ** exponent
        cdf.append(total)
    u = [rng.random()]

    def draw():
        u[0] = (u[0] + _GOLDEN) % 1.0
        return min(n - 1, bisect.bisect_left(cdf, u[0] * total))
    return draw


_GOLDEN = (5 ** 0.5 - 1) / 2


def fixed_rate(rng, rate, start, duration):
    """Due times at ``rate`` per second over [start, start + duration):
    evenly spaced, with a seeded phase."""
    gap = 1.0 / rate
    phase = rng.random()
    return [start + (i + phase) * gap for i in range(int(round(rate * duration)))]


class Client:
    """One keep-alive HTTP connection per generator thread."""

    def __init__(self, port):
        self.port = port
        self.conn = None

    def get(self, path):
        for attempt in (0, 1):
            try:
                if self.conn is None:
                    self.conn = http.client.HTTPConnection(
                        "127.0.0.1", self.port, timeout=30)
                self.conn.request("GET", path)
                resp = self.conn.getresponse()
                return resp.status, resp.read()
            except (http.client.HTTPException, ConnectionError):
                # a server-closed keep-alive connection: reconnect once
                self.close()
                if attempt:
                    raise

    def close(self):
        if self.conn is not None:
            self.conn.close()
            self.conn = None


def _exchange(res, send, idx, t0):
    try:
        res.status, body = send(idx, res.request.path)
        if res.status != 200:
            res.failure = f"HTTP {res.status}"
        else:
            res.failure, res.generation = res.request.check(body)
    except Exception as e:  # counted as a failed request
        res.failure = f"{type(e).__name__}: {e}"
    res.done = time.monotonic() - t0


def _in_threads(worker, threads):
    pool = [threading.Thread(target=worker, args=(i,), daemon=True)
            for i in range(threads)]
    for t in pool:
        t.start()
    for t in pool:
        t.join()


def run(requests, send, threads, t0):
    """Open loop: send ``requests`` (sorted by due time) from ``threads``
    threads. ``send(thread_index, path) -> (status, body)``; ``t0`` is the
    ``time.monotonic()`` the due times count from."""
    results = [Result(r) for r in requests]
    lock = threading.Lock()
    cursor = [0]

    def worker(idx):
        while True:
            with lock:
                i = cursor[0]
                if i >= len(results):
                    return
                cursor[0] += 1
            res = results[i]
            wait = res.request.due - (time.monotonic() - t0)
            if wait > 0:
                time.sleep(wait)
            res.sent = time.monotonic() - t0
            _exchange(res, send, idx, t0)

    _in_threads(worker, threads)
    return results


def saturate(make_request, send, threads, t0, start, duration):
    """Closed loop: each thread sends its next request as soon as the
    previous one is answered, from ``start`` for ``duration`` seconds
    (after ``t0``). ``make_request(due)`` builds each request; a request
    is due when it is sent."""
    lock = threading.Lock()
    results = []

    def worker(idx):
        while True:
            now = time.monotonic() - t0
            if now >= start + duration:
                return
            with lock:
                res = Result(make_request(now), sent=now)
            _exchange(res, send, idx, t0)
            with lock:
                results.append(res)

    wait = start - (time.monotonic() - t0)
    if wait > 0:
        time.sleep(wait)
    _in_threads(worker, threads)
    return sorted(results, key=lambda r: r.sent)


def goodput(results, start):
    """Correct answers per second, over the time from ``start`` to the
    last answer."""
    good = sum(1 for r in results if not r.failure)
    return good / (max(r.done for r in results) - start)


def stale_reads(results, promotes):
    """Results that read an older generation than one promoted before the
    request was sent. ``promotes`` is [(acked_at, generation)] in the same
    clock as the results."""
    stale = []
    for r in results:
        if r.generation is None:
            continue
        live = max((g for t, g in promotes if t <= r.sent), default=None)
        if live is not None and r.generation < live:
            stale.append(r)
    return stale


def parse_rows(body):
    """Rows of a Published JSON response."""
    doc = json.loads(body)
    (inner,) = doc.values()
    return inner["Results"]["rows"]
