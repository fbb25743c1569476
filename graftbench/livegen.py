#!/usr/bin/env python3
"""Open-loop record service for the stream-live workload.

Serves the wire format graft's control and data planes read
(src/main/scala/graft/sources/replay/ControlPlane.scala):

  GET /topology   numShards and per-shard counts; the counts grow with the
                  wall clock at the offered rate whether or not the consumer
                  keeps up. Also t0Micros, gapMicros and phaseMicros, the
                  schedule: record `pos` of shard `s` is due at
                  t0 + phase[s] + pos * gap microseconds.
  GET /records    one page of a shard's records, `pos \\t dueMicros \\t key \\t
                  base64(json payload)`.

The schedule starts at GET /start (before it no record is due) and stops
growing at GET /freeze, so a consumer can be started, measured, and brought
to rest without cutting a micro-batch short.

A seeded share of records repeat an earlier record of the same shard (same
event id, same event time), as a retrying producer would. For the harness:

  GET /expect?ranges=s:from:to,...   n= and sum= of the event ids whose first
                                     occurrence lies in the ranges.
  GET /stats[?reset=1]               pages served, page handler time, and the
                                     handler delay (accept to reply written).

Usage: python3 livegen.py --seed N --rate R
Prints `port=<n>` once it listens; serves until terminated.
"""
import argparse
import base64
import http.server
import random
import signal
import sys
import threading
import time
from urllib.parse import parse_qs, urlparse

MASK = (1 << 64) - 1
EVENT_TYPES = ["signup", "purchase", "error", "click", "view"]
SHARDS = 4
DUP_SHARE = 0.05  # share of records that repeat an earlier event id


def mix(x):
    """splitmix64 finalizer: a seeded, stateless hash."""
    x = (x + 0x9E3779B97F4A7C15) & MASK
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & MASK
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & MASK
    return x ^ (x >> 31)


def pct(xs, q):
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Stream:
    def __init__(self, seed, rate):
        self.seed = seed
        self.shards = SHARDS
        self.gap = max(1, round(SHARDS * 1e6 / rate))
        rng = random.Random(seed)
        self.phase = [rng.randrange(self.gap) for _ in range(SHARDS)]
        self.t0 = None
        self.frozen_at = None
        self.dup_cut = int(DUP_SHARE * (1 << 32))
        self.first = [[] for _ in range(SHARDS)]  # first[s][p]: position of p's first occurrence
        self.lock = threading.Lock()

    def due(self, s, p):
        return self.t0 + self.phase[s] + p * self.gap

    def count(self, s, now_us):
        if self.t0 is None:
            return 0
        if self.frozen_at is not None:
            now_us = min(now_us, self.frozen_at)
        d = now_us - self.t0 - self.phase[s]
        return 0 if d < 0 else d // self.gap + 1

    def first_of(self, s, p):
        with self.lock:
            f = self.first[s]
            while len(f) <= p:
                q = len(f)
                h = mix((self.seed << 40) ^ (s << 32) ^ q)
                if q > 0 and (h & 0xFFFFFFFF) < self.dup_cut:
                    f.append(f[q - 1 - (h >> 32) % min(q, 20)])
                else:
                    f.append(q)
            return f[p]

    def line(self, s, p):
        f = self.first_of(s, p)
        eid = f * self.shards + s
        h = mix(self.seed ^ (eid * 0x9E3779B97F4A7C15 & MASK))
        user = (h % 400) * self.shards + s
        payload = ('{"event_id":%d,"ts_us":%d,"user_id":%d,"event_type":"%s",'
                   '"value":%.2f,"props":{"k":%d}}') % (
            eid, self.due(s, f), user, EVENT_TYPES[(h >> 16) % 5],
            ((h >> 24) % 100000) / 100.0, (h >> 48) % 100)
        return "%d\t%d\t%d\t%s\n" % (
            p, self.due(s, p), user, base64.b64encode(payload.encode()).decode())


class Server(http.server.ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self, addr, stream):
        super().__init__(addr, Handler)
        self.stream = stream
        self.accepted = {}
        self.stats_lock = threading.Lock()
        self.page_ms = []
        self.late_ms = []

    def process_request(self, request, client_address):
        self.accepted[id(request)] = time.perf_counter()
        super().process_request(request, client_address)


class Handler(http.server.BaseHTTPRequestHandler):
    def log_message(self, *args):
        pass

    def reply(self, body):
        data = body.encode()
        self.send_response(200)
        self.send_header("Content-Type", "text/plain")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def do_GET(self):
        start = time.perf_counter()
        srv, st = self.server, self.server.stream
        accepted = srv.accepted.pop(id(self.request), start)
        url = urlparse(self.path)
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        page = False
        if url.path == "/topology":
            now = int(time.time() * 1e6)
            self.reply("numShards=%d\ncounts=%s\nt0Micros=%d\ngapMicros=%d\nphaseMicros=%s\n" % (
                st.shards, ",".join(str(st.count(s, now)) for s in range(st.shards)),
                st.t0 or 0, st.gap, ",".join(map(str, st.phase))))
        elif url.path in ("/start", "/freeze"):
            now = int(time.time() * 1e6)
            if url.path == "/start":
                st.t0 = now
            else:
                st.frozen_at = now
            self.reply("ok\n")
            return
        elif url.path == "/records":
            s, lo = int(q["shard"]), int(q["from"])
            hi = min(int(q["to"]), lo + int(q["limit"]))
            self.reply("".join(st.line(s, p) for p in range(lo, hi)))
            page = True
        elif url.path == "/expect":
            n = total = 0
            for r in q["ranges"].split(","):
                s, lo, hi = map(int, r.split(":"))
                for p in range(lo, hi):
                    if st.first_of(s, p) == p:
                        n += 1
                        total += p * st.shards + s
            self.reply("n=%d\nsum=%d\n" % (n, total))
        elif url.path == "/stats":
            with srv.stats_lock:
                body = "pages=%d\npage_ms_p50=%.4f\nlate_ms_p99=%.4f\nrequests=%d\n" % (
                    len(srv.page_ms), pct(srv.page_ms, 0.5), pct(srv.late_ms, 0.99),
                    len(srv.late_ms))
                if q.get("reset") == "1":
                    srv.page_ms, srv.late_ms = [], []
            self.reply(body)
            return
        else:
            self.send_error(404)
            return
        end = time.perf_counter()
        with srv.stats_lock:
            srv.late_ms.append((end - accepted) * 1000.0)
            if page:
                srv.page_ms.append((end - start) * 1000.0)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True, help="offered records per second")
    a = ap.parse_args()
    server = Server(("127.0.0.1", 0), Stream(a.seed, a.rate))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(0))
    print("port=%d" % server.server_address[1], flush=True)
    server.serve_forever()


if __name__ == "__main__":
    main()
