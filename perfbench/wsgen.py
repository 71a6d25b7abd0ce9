#!/usr/bin/env python3
"""Open-loop WebSocket frame generator with its own minimal RFC 6455 server.

Runs as its own process, one sending thread and one connection. It listens
on 127.0.0.1 (an ephemeral port, printed as ``PORT <n>`` on stdout), waits
for the connector to connect, and then sends order-book-shaped JSON text
frames on a fixed schedule:

  steady: a warm-up backlog of PRIME_N frames at connect; from PRIME_S
          seconds after connect, frames at RATE frames/s, every frame sent
          no earlier than its scheduled time; the schedule never slows down
          when the receiver does (open loop). The backlog and the first
          SETTLE_S seconds of the schedule are warm-up, the rest (``--measure-s``
          seconds of frames) are measured.
  burst:  a reconnect backlog: BURST_N frames sent as fast as the socket
          takes them, starting the moment the connector connects.

Each frame starts with its sequence number and creation stamp
(``{"seq":<n>,"t":<epoch micros>,`` ...). Scheduled frames are stamped with
their scheduled time, so any lag of the generator counts against the
system rather than hiding from it. A backlog is created at once: all its
frames carry the instant its sending starts.
The rest of the frame is picked from a seeded pool of bodies, so the seed
fixes contents and sizes, and any frame can be rebuilt from its sequence
number and stamp: that is how the sink is checked byte for byte.

Pacing sleeps until the next frame is due; it never spins. When all frames
are out, the report (JSON) is written to ``--report`` and the server keeps
answering pings until the peer closes or the process is terminated.
"""
import argparse
import base64
import hashlib
import json
import os
import random
import signal
import socket
import struct
import sys
import threading
import time

RATE = 20000  # steady: scheduled frames per second
PRIME_N = 300000  # steady: warm-up backlog sent at connect
PRIME_S = 8.0  # steady: the schedule starts this long after connect
SETTLE_S = 8.0  # steady: scheduled warm-up before the measured frames
BURST_N = 300000  # burst: frames in the backlog
POOL = 1024
POOL_MULT = 2654435761  # spreads consecutive frames over the pool
TICK_S = 0.001
BURST_CHUNK = 4096
# burst frames are built with this 16-digit stamp and re-stamped when sent
STAMP_PLACEHOLDER = 10**15
WS_GUID = b"258EAFA5-E914-47DA-95CA-C5AB0DC85B11"
SYMBOLS = ["BTCUSDT", "ETHUSDT", "SOLUSDT", "XRPUSDT", "ADAUSDT", "DOGEUSDT"]


def body_pool(seed):
    """Seeded order-book bodies of 330-700 bytes (mean about 512 B with the
    sequence/stamp prefix)."""
    rng = random.Random(seed)
    sym = rng.choice(SYMBOLS)
    mid = rng.uniform(100.0, 60000.0)
    bodies = []
    for i in range(POOL):
        levels = rng.randint(4, 12)
        bids = [[f"{mid - (k + 1) * 0.01 * mid / 100:.2f}", f"{rng.uniform(0.001, 25):.4f}"]
                for k in range(levels)]
        asks = [[f"{mid + (k + 1) * 0.01 * mid / 100:.2f}", f"{rng.uniform(0.001, 25):.4f}"]
                for k in range(levels)]
        b = json.dumps({"e": "depthUpdate", "s": sym, "u": i, "b": bids, "a": asks},
                       separators=(",", ":"))
        bodies.append(b[1:].encode())  # drop the opening brace; the prefix supplies it
    return bodies


def pool_index(seed, seq):
    return (seq * POOL_MULT + seed) % POOL


def frame_payload(bodies, seed, seq, stamp_us):
    return b'{"seq":%d,"t":%d,' % (seq, stamp_us) + bodies[pool_index(seed, seq)]


def ws_header(opcode, n):
    if n < 126:
        return struct.pack("!BB", 0x80 | opcode, n)
    if n < 65536:
        return struct.pack("!BBH", 0x80 | opcode, 126, n)
    return struct.pack("!BBQ", 0x80 | opcode, 127, n)


def text_frame(payload):
    return ws_header(0x1, len(payload)) + payload


def handshake(conn):
    data = b""
    while b"\r\n\r\n" not in data:
        chunk = conn.recv(4096)
        if not chunk:
            raise ConnectionError("peer closed during handshake")
        data += chunk
    key = None
    for line in data.split(b"\r\n"):
        if line.lower().startswith(b"sec-websocket-key:"):
            key = line.split(b":", 1)[1].strip()
    if key is None:
        raise ConnectionError("no Sec-WebSocket-Key")
    accept = base64.b64encode(hashlib.sha1(key + WS_GUID).digest())
    conn.sendall(b"HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n"
                 b"Connection: Upgrade\r\nSec-WebSocket-Accept: " + accept + b"\r\n\r\n")


class Server:
    """Accepts connections; the newest one is the send target. A reader
    thread per connection answers pings and close frames."""

    def __init__(self):
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(4)
        self.port = self.sock.getsockname()[1]
        self.lock = threading.Lock()
        self.conn = None
        self.connects = 0
        self.connected = threading.Event()
        threading.Thread(target=self._accept, daemon=True).start()

    def _accept(self):
        while True:
            try:
                conn, _ = self.sock.accept()
                conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                handshake(conn)
            except OSError:
                return
            with self.lock:
                self.conn = conn
                self.connects += 1
            self.connected.set()
            threading.Thread(target=self._read, args=(conn,), daemon=True).start()

    def _recv_exact(self, conn, n):
        buf = b""
        while len(buf) < n:
            chunk = conn.recv(n - len(buf))
            if not chunk:
                raise ConnectionError("closed")
            buf += chunk
        return buf

    def _read(self, conn):
        try:
            while True:
                b0, b1 = self._recv_exact(conn, 2)
                n = b1 & 0x7F
                if n == 126:
                    n = struct.unpack("!H", self._recv_exact(conn, 2))[0]
                elif n == 127:
                    n = struct.unpack("!Q", self._recv_exact(conn, 8))[0]
                mask = self._recv_exact(conn, 4) if b1 & 0x80 else None
                data = self._recv_exact(conn, n) if n else b""
                if mask:
                    data = bytes(c ^ mask[i % 4] for i, c in enumerate(data))
                opcode = b0 & 0x0F
                if opcode == 0x9:
                    self.send(ws_header(0xA, len(data)) + data, conn)
                elif opcode == 0x8:
                    self.send(ws_header(0x8, len(data[:2])) + data[:2], conn)
                    conn.close()
                    return
        except (OSError, ConnectionError, ValueError):
            return

    def send(self, raw, conn=None):
        with self.lock:
            target = conn or self.conn
            if target is None:
                return False
            try:
                target.sendall(raw)
                return True
            except OSError:
                return False


def run(args, server, report):
    bodies = body_pool(args.seed)
    report.update(mode=args.mode, seed=args.seed)
    if args.mode == "steady":
        steady(args, server, report, bodies)
    else:
        burst(args, server, report, bodies)
    report["connects"] = server.connects


def frame_counts(mode, measure_s):
    """(sequence number of the first measured frame, frames sent in all)."""
    if mode == "burst":
        return 0, BURST_N
    first = PRIME_N + int(RATE * SETTLE_S)
    return first, first + int(RATE * measure_s)


def backlog(bodies, seed, n):
    """Frames [0, n) in chunks, built ahead with a placeholder stamp, so
    that the socket and not Python limits how fast they go out."""
    return [b"".join(text_frame(frame_payload(bodies, seed, seq, STAMP_PLACEHOLDER))
                     for seq in range(lo, min(n, lo + BURST_CHUNK)))
            for lo in range(0, n, BURST_CHUNK)]


def send_backlog(server, chunks, stamp_us):
    """Send a backlog as fast as the socket takes it, every frame stamped
    with stamp_us, the backlog's creation time. Returns the seconds taken."""
    placeholder = b'"t":%d,' % STAMP_PLACEHOLDER
    stamp = b'"t":%d,' % stamp_us
    t0 = time.perf_counter_ns()
    for c in chunks:
        server.send(c.replace(placeholder, stamp))
    return (time.perf_counter_ns() - t0) / 1e9


def steady(args, server, report, bodies):
    """Warm-up, then open loop. At connect, a backlog of PRIME_N frames goes
    out at once: one large batch warms the per-row code much sooner than the
    schedule would. Scheduled frame i >= PRIME_N is due at
    connect + PRIME_S + (i - PRIME_N)/RATE and stamped with that time; the
    loop sleeps until the next frame is due, then sends every due frame.
    The first SETTLE_S seconds of the schedule are warm-up too."""
    first, total = frame_counts("steady", args.measure_s)
    chunks = backlog(bodies, args.seed, PRIME_N)
    server.connected.wait()
    epoch0_ns = time.time_ns()
    mono_sched = time.perf_counter_ns() + int(PRIME_S * 1e9)
    sched0_ns = epoch0_ns + int(PRIME_S * 1e9)
    send_backlog(server, chunks, epoch0_ns // 1000)
    period_ns = 1e9 / RATE
    lag_max_ns = 0
    sent = PRIME_N
    while sent < total:
        now = time.perf_counter_ns() - mono_sched
        due = min(total, PRIME_N + int(now // period_ns) + 1)
        if due <= sent:
            # wake at most once per millisecond: frames due meanwhile go out
            # together, at most TICK_S late (and stamped with their schedule)
            time.sleep(max(TICK_S, ((sent - PRIME_N) * period_ns - now) / 1e9))
            continue
        if sent >= first:
            lag_max_ns = max(lag_max_ns, now - (sent - PRIME_N) * period_ns)
        server.send(b"".join(
            text_frame(frame_payload(bodies, args.seed, seq,
                                     (sched0_ns + int((seq - PRIME_N) * period_ns)) // 1000))
            for seq in range(sent, due)))
        sent = due
    send_s = (time.perf_counter_ns() - mono_sched - (first - PRIME_N) * period_ns) / 1e9
    report.update(backlog_n=PRIME_N, backlog_us=epoch0_ns // 1000, sched0_ns=sched0_ns,
                  period_ns=period_ns, first_measured=first, total=total,
                  measure_start_us=(sched0_ns + int((first - PRIME_N) * period_ns)) // 1000,
                  lag_ms_max=lag_max_ns / 1e6, send_fps=(total - first) / send_s)


def burst(args, server, report, bodies):
    """Reconnect backlog: as soon as the connector connects, send BURST_N
    frames as fast as the socket takes them, all stamped with the instant
    sending starts."""
    chunks = backlog(bodies, args.seed, BURST_N)
    server.connected.wait()
    start_us = time.time_ns() // 1000
    send_s = send_backlog(server, chunks, start_us)
    report.update(backlog_n=BURST_N, backlog_us=start_us, sched0_ns=0, period_ns=0.0,
                  first_measured=0, total=BURST_N, measure_start_us=start_us, lag_ms_max=0.0,
                  send_fps=BURST_N / send_s)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--mode", choices=["steady", "burst"], required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--measure-s", type=float, default=10.0)
    ap.add_argument("--report", required=True)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: os._exit(0))
    server = Server()
    print(f"PORT {server.port}", flush=True)
    report = {}
    run(args, server, report)
    write_report(args.report, report)
    # keep answering pings until the connector closes or we are terminated;
    # a later reconnect still shows in the report
    while True:
        time.sleep(1.0)
        if server.connects != report["connects"]:
            report["connects"] = server.connects
            write_report(args.report, report)


def write_report(path, report):
    with open(path + ".tmp", "w") as f:
        json.dump(report, f)
    os.replace(path + ".tmp", path)


if __name__ == "__main__":
    sys.exit(main())
