"""Open-loop ingest generator: POSTs employee events to HttpIngestSource.

Events are due every 1/rate seconds from a fixed start; each carries its due
time (`due_ms`, epoch milliseconds). A sender that is late does not slow the
schedule: the event waits in the queue and its lateness is recorded. Event
contents depend only on --seed and --phase. 80% of events insert a new id;
20% update an existing id chosen uniformly, skipping ids that had an event in
the last 10 s so that no key is reused while an earlier event for it may
still be in flight. Events go out over 4 keep-alive connections.

Writes one tab-separated line per event to --out:
  n id name salary segment due_ms send_us ack_us status refused bytes
"""
import argparse
import http.client
import json
import queue
import random
import threading
import time

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
CONNECTIONS = 4
COOLDOWN_S = 10.0


def make_events(seed, phase, n, existing, rate):
    rng = random.Random(f"{seed}:{phase}")
    next_id = existing + 1
    last_use = {}
    cooldown = int(COOLDOWN_S * rate)
    events = []
    for i in range(n):
        if rng.random() < 0.8:
            key = next_id
            next_id += 1
        else:
            while True:
                key = rng.randint(1, next_id - 1)
                if i - last_use.get(key, -cooldown - 1) > cooldown:
                    break
        last_use[key] = i
        name = "Customer#%09d-%s" % (key, "".join(rng.choice("abcdefghij") for _ in range(4)))
        events.append((key, name, rng.randint(-100000, 999999), rng.choice(SEGMENTS)))
    return events


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", required=True)
    ap.add_argument("--phase", required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--existing", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    n = int(a.seconds * a.rate)
    events = make_events(a.seed, a.phase, n, a.existing, a.rate)
    # whole milliseconds, so due_ms is exact
    t0_ms = int(time.time() * 1000) + 200
    step_ms = 1000.0 / a.rate
    rows = [None] * n
    work = queue.Queue()

    def sender():
        conn = http.client.HTTPConnection("127.0.0.1", a.port, timeout=30)
        while True:
            item = work.get()
            if item is None:
                conn.close()
                return
            i, due_ms, body = item
            send_us = time.time_ns() // 1000
            status, refused = 0, 0
            for _ in range(100):
                try:
                    conn.request("POST", "/ingest", body,
                                 {"Content-Type": "application/json"})
                    resp = conn.getresponse()
                    resp.read()
                    status = resp.status
                except (OSError, http.client.HTTPException):
                    conn.close()
                    conn = http.client.HTTPConnection("127.0.0.1", a.port, timeout=30)
                    status = -1
                if status != 503:
                    break
                refused += 1
                time.sleep(0.02)
            ack_us = time.time_ns() // 1000
            key, name, salary, segment = events[i]
            rows[i] = (i, key, name, salary, segment, due_ms, send_us, ack_us,
                       status, refused, len(body))

    threads = [threading.Thread(target=sender, daemon=True) for _ in range(CONNECTIONS)]
    for t in threads:
        t.start()
    for i, (key, name, salary, segment) in enumerate(events):
        due_ms = t0_ms + round(i * step_ms)
        body = json.dumps({"id": key, "name": name, "salary": salary,
                           "segment": segment, "due_ms": due_ms},
                          separators=(",", ":"))
        wait = due_ms / 1000.0 - time.time()
        if wait > 0:
            time.sleep(wait)
        work.put((i, due_ms, body))
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join()
    with open(a.out, "w") as f:
        for r in rows:
            f.write("\t".join(str(x) for x in r) + "\n")


if __name__ == "__main__":
    main()
