"""HTTP load generator, run in its own process.

    python3 loadgen.py < args.pickle > records.pickle

It reads ``run``'s positional arguments as one pickled tuple on stdin and
writes its result, pickled, to stdout (serve.py starts it this way).

Two phases against one server:

- open loop: requests are due at a fixed Poisson schedule regardless
  of how fast the server answers. At most ``conns`` requests are in
  flight; a request that finds every connection busy is sent late.
  Latency is timed from the DUE time, so a stall is charged to every
  request queued behind it, and the generator's own lateness (send -
  due) is returned so a run whose generator fell behind is visible.
- closed loop: ``conns`` clients each send their next request as soon
  as the previous answer arrives; completions per second inside the
  window is the server's capacity at that client count.

Every response is checked for shape (HTTP 200, JSON with a ``results``
list no longer than ``top_k``). Times are ``time.monotonic()``, a
system-wide clock, so the server process can align its own events.
"""

from __future__ import annotations

import http.client
import json
import pickle
import sys
import threading
import time


def _send(host, port, req, tag, timeout):
    """One request on a fresh connection (the service speaks HTTP/1.0).
    Returns (status, ok); status 0 is a timeout or connection error."""
    path, ctype, body, mode, top_k = req
    try:
        conn = http.client.HTTPConnection(host, port, timeout=timeout)
        try:
            conn.request(
                "POST", path, body,
                {"Content-Type": ctype, "X-Bench-Req": tag},
            )
            resp = conn.getresponse()
            data = resp.read()
            status = resp.status
        finally:
            conn.close()
    except (OSError, http.client.HTTPException):
        return 0, False
    if status != 200:
        return status, False
    try:
        doc = json.loads(data)
    except ValueError:
        return status, False
    results = doc.get("results")
    ok = (
        isinstance(results, list)
        and len(results) <= top_k
        and doc.get("mode") == mode
    )
    return status, ok


def _open_loop(host, port, reqs, sched, t0, conns, timeout):
    """sched: list of (offset_s, pool_index). Records
    (pool_index, due, send, done, status, ok)."""
    out = [None] * len(sched)
    nxt = [0]
    lock = threading.Lock()

    def worker():
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(sched):
                return
            off, k = sched[i]
            due = t0 + off
            wait = due - time.monotonic()
            if wait > 0:
                time.sleep(wait)
            send = time.monotonic()
            status, ok = _send(host, port, reqs[k], f"o{i}", timeout)
            out[i] = (k, due, send, time.monotonic(), status, ok)

    threads = [threading.Thread(target=worker) for _ in range(conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def _closed_loop(host, port, reqs, seq, t0, seconds, conns, timeout):
    """Each client sends back-to-back until ``t0 + seconds``. Records
    (pool_index, send, done, status, ok)."""
    out = []
    nxt = [0]
    lock = threading.Lock()
    end = t0 + seconds

    def client():
        mine = []
        while True:
            with lock:
                i = nxt[0]
                nxt[0] += 1
            k = seq[i % len(seq)]
            send = time.monotonic()
            if send >= end:
                break
            status, ok = _send(host, port, reqs[k], f"c{i}", timeout)
            mine.append((k, send, time.monotonic(), status, ok))
        with lock:
            out.extend(mine)

    wait = t0 - time.monotonic()
    if wait > 0:
        time.sleep(wait)
    threads = [threading.Thread(target=client) for _ in range(conns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def run(host, port, reqs, open_sched, t_open, closed_seq, closed_seconds,
        conns, timeout=30.0):
    """Entry point in the generator process. ``reqs`` is a list of
    (path, content_type, body, mode, top_k). The open phase starts at
    monotonic time ``t_open``; the closed phase starts when the open
    phase has drained."""
    open_recs = _open_loop(host, port, reqs, open_sched, t_open, conns,
                           timeout)
    t_closed = time.monotonic()
    closed_recs = _closed_loop(host, port, reqs, closed_seq, t_closed,
                               closed_seconds, conns, timeout)
    return {
        "open": open_recs,
        "closed": closed_recs,
        "t_closed": t_closed,
        "closed_seconds": closed_seconds,
    }


if __name__ == "__main__":
    result = run(*pickle.load(sys.stdin.buffer))
    sys.stdout.buffer.write(pickle.dumps(result))
