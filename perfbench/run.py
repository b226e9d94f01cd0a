"""Runs one workload of the pipeline benchmark and prints its result line.

  python3 perfbench/run.py --workload ingest_stream|enrich_batch|serve_mixed \
      --seed N --seconds S --trace 0|1

Builds the engine and the benchmark program from source (perfbench/build.py), starts the
transform stub for enrich_batch and checks its latency, runs the benchmark JVM
(perfbench/scala/PipelineBench.scala) and prints its last stdout line: one
JSON object with `correct`, `attempted`, `failed` and `metrics` (end-to-end
metrics with --trace 0, per-layer metrics with --trace 1). Every run also
leaves report.json (and, traced, spans.json) under
.bench_build/results/<workload>/; perfbench/report.py summarises them.
Exits non-zero, printing no result, when a build, a check or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HERE = Path(__file__).resolve().parent
WORKLOADS = ("ingest_stream", "enrich_batch", "serve_mixed")
JVM_TIMEOUT_S = 150
STUB_DELAY_MS = 2.0
# Spark on JDK 17 outside spark-submit: the same opens build.sbt passes
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_stub():
    """Starts the transform stub; fails unless one call over one connection
    takes the stub's delay plus less than 1 ms (median of 20 calls made with
    a raw socket, so that client overhead stays out of the figure)."""
    p = subprocess.Popen([sys.executable, str(HERE / "stub.py"),
                          "--delay-ms", str(STUB_DELAY_MS)],
                         stdout=subprocess.PIPE, text=True)
    port = int(p.stdout.readline())
    body = b'{"id":1,"yearsofexp":3,"salary":100}'
    req = (b"POST /transform HTTP/1.1\r\nHost: stub\r\nContent-Length: %d\r\n\r\n%s"
           % (len(body), body))
    took = []
    with socket.create_connection(("127.0.0.1", port), timeout=10) as s:
        s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        for _ in range(25):
            t0 = time.perf_counter()
            s.sendall(req)
            reply = b""
            while not reply.endswith(b"}"):
                chunk = s.recv(4096)
                if not chunk:
                    raise RuntimeError("stub closed the connection")
                reply += chunk
            took.append((time.perf_counter() - t0) * 1000)
            if not reply.endswith(b'{"new_salary": 3100}'):
                raise RuntimeError(f"stub answered {reply!r}")
        s.sendall(b"GET /stats?reset=1 HTTP/1.1\r\nHost: stub\r\n\r\n")
        s.recv(4096)
    call_ms = statistics.median(took[5:])
    log(f"stub on port {port}: one call takes {call_ms:.2f} ms")
    if call_ms >= STUB_DELAY_MS + 1.0:
        stop(p)
        raise RuntimeError(f"stub call took {call_ms:.2f} ms, more than "
                           f"{STUB_DELAY_MS} ms delay + 1 ms: the stub stalls")
    return p, f"http://127.0.0.1:{port}"


def stop(p, group=False):
    """Stops `p` (with group=True, every process of its session too) and
    waits for it."""
    def signal_all(sig):
        try:
            os.killpg(p.pid, sig) if group else p.send_signal(sig)
        except ProcessLookupError:
            pass
    if p.poll() is None:
        signal_all(signal.SIGTERM)
        try:
            p.wait(timeout=10)
        except subprocess.TimeoutExpired:
            pass
    signal_all(signal.SIGKILL)
    p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")

    results = build.BUILD / "results" / a.workload / f"s{a.seed}-t{a.trace}"
    work = build.BUILD / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(results, ignore_errors=True)
    results.mkdir(parents=True)
    work.mkdir(parents=True)
    (work / "tmp").mkdir()

    stub, stub_url = None, ""
    jvm = None
    code = 1
    try:
        if a.workload == "enrich_batch":
            stub, stub_url = start_stub()
        # a fixed heap: G1 growing it during the run moved GC time by 2x
        # between runs
        cmd = (["java", "-Xms2g", "-Xmx2g"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Djava.io.tmpdir={work / 'tmp'}",
                  f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
                  "-cp", cp, "perfbench.PipelineBench",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--work", str(work), "--out", str(results),
                  "--python", sys.executable, "--loadgen", str(HERE / "loadgen.py")]
               + (["--stub", stub_url] if stub_url else []))
        env = dict(os.environ, GRAFT_WAL_DIR=str(work / "wal"))
        jvm = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                               start_new_session=True)
        try:
            out, _ = jvm.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(jvm, group=True)
            raise RuntimeError(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
        lines = [l for l in out.splitlines() if l.strip()]
        if jvm.returncode != 0 or not lines:
            raise RuntimeError(f"benchmark JVM exited {jvm.returncode}")
        result = json.loads(lines[-1])
        if not result.get("correct"):
            raise RuntimeError("output check failed")
        print(json.dumps(result))
        code = 0
    except Exception as e:  # noqa: BLE001 - any failure fails the run loudly
        log(f"FAILED: {e}")
    finally:
        if jvm is not None:
            stop(jvm, group=True)
        if stub is not None:
            stop(stub)
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
