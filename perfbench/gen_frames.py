"""Open-loop GPS frame generator for the ingest workload.

Frame i is a pure function of (seed, i): a GPS-like binary record (magic,
frame index, fix time, latitude, longitude, speed, heading) padded with
random bytes to a size drawn to straddle the source's 4096-byte read
chunk. About one connection in ten is empty; the program must drop it.

Frames are due on a fixed schedule (one or more `rate:seconds` phases) and
sent whether or not earlier ones finished. Each uses its own connection:
connect, send, half-close, read the ack to EOF. At most `--threads`
connections are open at once. The log records, per frame, when it was
due, when its send started and when its ack arrived.

    python3 perfbench/gen_frames.py --port P --seed S --phases 200:6,900:4 --out LOG
"""
import argparse
import json
import os
import random
import socket
import struct
import threading
import time

MAGIC = b"\x7eGPS"
HEADER = struct.Struct(">4sQqiiHH")  # magic, index, fix time, lat, lon, speed, heading
ACK = b"Data processed successfully\nBytes: %d\n"


def frame(seed, i):
    """Payload bytes of frame i (b"" for an empty connection)."""
    r = random.Random(f"{seed}:{i}")
    u = r.random()
    if u < 0.10:
        return b""
    if u < 0.45:
        size = r.randint(HEADER.size, 1024)
    elif u < 0.90:
        size = r.randint(3072, 5120)  # around the 4096-byte read chunk
    else:
        size = r.randint(8192, 16384)
    head = HEADER.pack(MAGIC, i, 1_700_000_000_000 + 1000 * i,
                       r.randint(-90_000_000, 90_000_000), r.randint(-180_000_000, 180_000_000),
                       r.randint(0, 300), r.randint(0, 359))
    return head + r.randbytes(size - HEADER.size)


def frame_index(payload):
    """The index a landed payload carries, or None if it is no frame."""
    if len(payload) < HEADER.size or payload[:4] != MAGIC:
        return None
    return HEADER.unpack_from(payload)[1]


def schedule(phases):
    """[(index, due offset s, phase)] for phases [(rate, seconds)]."""
    out, t0, i = [], 0.0, 0
    for p, (rate, secs) in enumerate(phases):
        n = int(round(rate * secs))
        out += [(i + k, t0 + k / rate, p) for k in range(n)]
        i += n
        t0 += secs
    return out


def send(port, payload, timeout=30.0):
    """One connection; returns the ack bytes."""
    with socket.create_connection(("127.0.0.1", port), timeout=timeout) as s:
        if payload:
            s.sendall(payload)
        s.shutdown(socket.SHUT_WR)
        chunks = []
        while True:
            b = s.recv(4096)
            if not b:
                break
            chunks.append(b)
        return b"".join(chunks)


def run(port, seed, phases, threads):
    plan = schedule(phases)
    frames = [frame(seed, i) for i, _, _ in plan]
    log = [None] * len(plan)
    lock = threading.Lock()
    state = {"next": 0, "inflight": 0, "inflight_max": 0}
    start = time.time() + 0.2

    def worker():
        while True:
            with lock:
                k = state["next"]
                if k >= len(plan):
                    return
                state["next"] = k + 1
            i, off, phase = plan[k]
            due = start + off
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            with lock:
                state["inflight"] += 1
                state["inflight_max"] = max(state["inflight_max"], state["inflight"])
            sent = time.time()
            err, ack = "", b""
            try:
                ack = send(port, frames[k])
            except OSError as e:
                err = type(e).__name__
            done = time.time()
            with lock:
                state["inflight"] -= 1
            log[k] = {"i": i, "phase": phase, "size": len(frames[k]), "due": due,
                      "sent": sent, "ack": done, "ack_ok": ack_ok(frames[k], ack),
                      "err": err}

    ts = [threading.Thread(target=worker) for _ in range(threads)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return {"start": start, "phases": phases, "inflight_max": state["inflight_max"],
            "frames": log}


def ack_ok(payload, ack):
    if not payload:
        return ack == b""
    return ack.startswith(ACK % len(payload)) and b"Connection ID: " in ack


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--phases", required=True, help="rate:seconds[,rate:seconds...]")
    ap.add_argument("--threads", type=int, default=os.cpu_count() or 1)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    phases = [tuple(float(x) for x in p.split(":")) for p in a.phases.split(",")]
    threads = max(1, min(a.threads, os.cpu_count() or 1))
    res = run(a.port, a.seed, phases, threads)
    with open(a.out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
