"""Remote salary transform for the enrich_batch workload.

POST /transform with {"id", "yearsofexp", "salary"} answers
{"new_salary": salary + 1000 * yearsofexp} after a fixed delay. One asyncio
loop serves every connection, so the number of calls in flight is never
capped. Each response goes out in one write on a TCP_NODELAY socket: a reply
split into header and body writes can stall on Nagle plus delayed ACK. The
delay runs from the request's arrival.

GET /stats[?reset=1][&calls=1] returns, for the calls since the last reset,
the call count, the median service time (request read -> response written),
the time-weighted mean number of calls in flight between the first call's
start and the last call's end and, with calls=1, every call's
[start_us, end_us] in epoch microseconds as "spans" (the last key).

Prints the bound port on stdout, then serves until killed.
"""
import argparse
import asyncio
import json
import selectors
import socket
import statistics
import time


class Stats:
    def __init__(self):
        self.reset()

    def reset(self):
        self.service_ms = []
        self.spans = []
        self.connections = 0
        self.inflight = 0
        self.area = 0.0
        self.first = None
        self.last = None

    def _advance(self, now):
        if self.last is not None:
            self.area += self.inflight * (now - self.last)
        self.last = now

    def begin(self):
        now = time.perf_counter()
        if self.first is None:
            self.first = now
        self._advance(now)
        self.inflight += 1
        return now

    def end(self, t0):
        now = time.perf_counter()
        self._advance(now)
        self.inflight -= 1
        self.service_ms.append((now - t0) * 1000.0)
        end_us = time.time_ns() // 1000
        self.spans.append((end_us - int((now - t0) * 1e6), end_us))

    def snapshot(self, calls):
        span = (self.last - self.first) if self.first is not None else 0.0
        out = {
            "calls": len(self.service_ms),
            "connections": self.connections,
            "service_ms_p50": statistics.median(self.service_ms) if self.service_ms else 0.0,
            "inflight_mean": self.area / span if span > 0 else 0.0,
        }
        if calls:
            out["spans"] = self.spans
        return out


def response(code, body):
    data = body.encode()
    head = (f"HTTP/1.1 {code} {'OK' if code == 200 else 'Error'}\r\n"
            f"Content-Type: application/json\r\nContent-Length: {len(data)}\r\n\r\n")
    return head.encode() + data


class Connection(asyncio.Protocol):
    """One client connection. Requests are parsed as their bytes arrive; a
    transform's reply is scheduled for its arrival time plus the delay, so
    parsing and encoding sit inside the delay instead of after it."""

    def __init__(self, stats, delay):
        self.stats = stats
        self.delay = delay
        self.buf = b""
        self.transport = None

    def connection_made(self, transport):
        transport.get_extra_info("socket").setsockopt(
            socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.transport = transport
        self.stats.connections += 1

    def data_received(self, data):
        loop = asyncio.get_running_loop()
        arrived = loop.time()
        self.buf += data
        while True:
            end = self.buf.find(b"\r\n\r\n")
            if end < 0:
                return
            lines = self.buf[:end].decode("latin-1").split("\r\n")
            length = 0
            for line in lines[1:]:
                if line.lower().startswith("content-length:"):
                    length = int(line.split(":", 1)[1])
            if len(self.buf) < end + 4 + length:
                return
            body = self.buf[end + 4:end + 4 + length]
            self.buf = self.buf[end + 4 + length:]
            method, target = lines[0].split(" ")[:2]
            if method == "POST" and target == "/transform":
                t0 = self.stats.begin()
                e = json.loads(body)
                out = response(200, json.dumps(
                    {"new_salary": e["salary"] + 1000 * e["yearsofexp"]}))
                loop.call_at(arrived + self.delay, self.reply, out, t0)
            elif target.startswith("/stats"):
                self.transport.write(response(200, json.dumps(
                    self.stats.snapshot("calls=1" in target))))
                if "reset=1" in target:
                    self.stats.reset()
            else:
                self.transport.write(response(404, "{}"))

    def reply(self, data, t0):
        if not self.transport.is_closing():
            self.transport.write(data)
        self.stats.end(t0)


async def serve(port, delay):
    stats = Stats()
    loop = asyncio.get_running_loop()
    server = await loop.create_server(lambda: Connection(stats, delay),
                                      "127.0.0.1", port, backlog=1024)
    print(server.sockets[0].getsockname()[1], flush=True)
    async with server:
        await server.serve_forever()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, default=0)
    ap.add_argument("--delay-ms", type=float, default=2.0)
    a = ap.parse_args()
    # select() takes its timeout in microseconds; epoll rounds a timer's
    # wait up to the next whole millisecond
    loop = asyncio.SelectorEventLoop(selectors.SelectSelector())
    try:
        loop.run_until_complete(serve(a.port, a.delay_ms / 1000.0))
    finally:
        loop.close()


if __name__ == "__main__":
    main()
