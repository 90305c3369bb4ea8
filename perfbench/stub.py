"""Localhost REST stub speaking the ChargeOver paging dialect that
`graft.sources.PagedEntitySource` sends with its `endpoint` option:

    GET /{entity}?limit=L&offset=O&where=ts_us:GTE:a,ts_us:LT:b&order=ts_us:ASC...
    -> 200 {"response": [{"id":..,"ts_us":..,"value":..,"category":..}, ...]}

Records are an upsert changelog: position p of an entity carries
ts_us = BASE_US + p * STEP_US (the source's id/ts contract), and either a
new id or an update of an id already served. The seed chooses the ids, the
update pattern, the values and categories, and the fault schedule: a fixed
number of pages that answer 429 or 503 on their first attempts (never more
than `max_retries` times, so the source's retry loop always recovers).
"""
import json
import random
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

BASE_US = 1704067200000000
STEP_US = 60000000
ENTITIES = ("customer", "invoice", "payment", "subscription")
# categories with characters that JSON quoting must escape, so the
# StringCast step does real work
CATEGORIES = ("active", "past due", 'tier "gold"', "net\\30", "trial", "closed")


def changelog(seed, entity, rows):
    """The records an entity serves, one per position."""
    rnd = random.Random(f"{seed}:{entity}:records")
    update_share = rnd.uniform(0.15, 0.35)
    served, recs = [], []
    next_id = rnd.randrange(1, 1000)
    for p in range(rows):
        if served and rnd.random() < update_share:
            rid = served[rnd.randrange(len(served))]
        else:
            rid = next_id
            next_id += rnd.randrange(1, 4)
            served.append(rid)
        recs.append({"id": rid, "ts_us": BASE_US + p * STEP_US,
                     "value": round(rnd.uniform(0, 5000), 2),
                     "category": CATEGORIES[rnd.randrange(len(CATEGORIES))]})
    return recs


def page_starts(rows, page_size, window_rows):
    """Absolute start positions of the pages the source requests: windows of
    `window_rows` positions, paged by `page_size` inside each window."""
    starts = []
    for lo in range(0, rows, window_rows):
        hi = min(lo + window_rows, rows)
        starts.extend(range(lo, hi, page_size))
    return starts


def fault_schedule(seed, rows, page_size, window_rows, max_retries, faults=8):
    """{(entity, page start): (status, failing attempts)}. The number of
    faulty pages and the mix of statuses is fixed, so every seed costs the
    same retry sleep; the seed picks which pages fail."""
    rnd = random.Random(f"{seed}:faults")
    pages = [(e, s) for e in ENTITIES
             for s in page_starts(rows[e], page_size, window_rows)]
    chosen = rnd.sample(pages, min(faults, len(pages)))
    plan = {}
    for i, key in enumerate(sorted(chosen)):
        plan[key] = (429, 1) if i % 2 == 0 else (503, min(2, max_retries))
    return plan


def expected_compaction(records_by_entity):
    """What the CDC chain must produce: the latest version of every
    (entity, id), routed and keyed, with the category JSON-quoted."""
    out = []
    for entity in sorted(records_by_entity):
        latest = {}
        for r in records_by_entity[entity]:
            cur = latest.get(r["id"])
            if cur is None or r["ts_us"] > cur["ts_us"]:
                latest[r["id"]] = r
        for rid in sorted(latest):
            r = latest[rid]
            out.append({"topic": f"chargeover.{entity}", "key": str(rid),
                        "_entity_type": entity, "id": rid, "ts_us": r["ts_us"],
                        "value": r["value"],
                        "category_cast": json.dumps(r["category"], ensure_ascii=False)})
    return out


class Stub:
    """Threaded HTTP server with at most `max_inflight` requests served at
    once. Every request is logged as a span (epoch ns) for the trace."""

    def __init__(self, records, faults, max_inflight):
        self.records = records
        self.faults = faults
        self.failed = {}            # page key -> consecutive failures served
        self.log = []
        self.lock = threading.Lock()
        self.slots = threading.BoundedSemaphore(max_inflight)
        self.inflight = 0
        self.inflight_max = 0
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_GET(self):
                with stub.slots:
                    stub._serve(self)

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)

    @property
    def url(self):
        return f"http://127.0.0.1:{self.server.server_address[1]}"

    def start(self):
        self.thread.start()
        return self

    def stop(self):
        self.server.shutdown()
        self.server.server_close()
        self.thread.join()

    def _serve(self, h):
        t0 = time.time_ns()
        with self.lock:
            self.inflight += 1
            self.inflight_max = max(self.inflight_max, self.inflight)
        status, body, entity, start = 404, b"", None, -1
        try:
            u = urlparse(h.path)
            entity = u.path.strip("/")
            q = parse_qs(u.query)
            recs = self.records.get(entity)
            if recs is not None:
                lo_us = int(q["where"][0].split(",")[0].split(":")[2])
                start = (lo_us - BASE_US) // STEP_US + int(q["offset"][0])
                limit = int(q["limit"][0])
                status = self._fault(entity, start)
                if status == 200:
                    body = json.dumps({"response": recs[start:start + limit]}).encode()
        except (KeyError, ValueError, IndexError):
            status = 400
        h.send_response(status)
        h.send_header("Content-Type", "application/json")
        h.send_header("Content-Length", str(len(body)))
        h.end_headers()
        h.wfile.write(body)
        t1 = time.time_ns()
        with self.lock:
            self.inflight -= 1
            self.log.append({"start_ns": t0, "end_ns": t1, "entity": entity,
                             "page": start, "status": status, "bytes": len(body)})

    def _fault(self, entity, start):
        """Fail a scheduled page on its first attempts, then serve it; the
        count resets after a success so every drain replays the schedule."""
        f = self.faults.get((entity, start))
        if f is None:
            return 200
        with self.lock:
            n = self.failed.get((entity, start), 0)
            if n < f[1]:
                self.failed[(entity, start)] = n + 1
                return f[0]
            self.failed[(entity, start)] = 0
            return 200
