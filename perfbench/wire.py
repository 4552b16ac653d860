"""Open-loop load generator and result receiver for `wire_spread`.

One process (the benchmark's, separate from the Spark JVM) plays both
ends of the wire:

* two listening sockets serve the framed quote and order legs that the
  engine's `FramedSocketSource`s connect to. Frames are sent on a fixed
  schedule that never waits for the engine; each frame carries its due
  time as its creation stamp, so a stall is charged to every frame queued
  behind it;
* one listening socket receives `TcpSink`'s result frames and stamps each
  read with its arrival time.

Frame layouts (big-endian): input = u32 length 24, user i64, cents i64,
created ns i64; result = u32 length 33, created ns i64, user i64,
cents i64, quote cents i64, rejected u8.
"""
import selectors
import socket
import threading
import time

import numpy as np

IN_DT = np.dtype([("len", ">u4"), ("user", ">i8"), ("cents", ">i8"), ("ts", ">i8")])
OUT_DT = np.dtype([("len", ">u4"), ("ts", ">i8"), ("user", ">i8"), ("cents", ">i8"),
                   ("quote", ">i8"), ("rejected", "u1")])
# Frames due within one 100 ms window go out in one write per leg, sent
# when the window's last frame is due: no frame leaves before its due
# time, and the wait inside the window counts toward its latency. (The
# engine's socket source turns every read into one task, so a per-frame
# cadence would measure task launch rather than the pipeline.)
CHUNK_NS = 100_000_000
QUOTE_CHANGE_P = 0.05  # share of quotes that move the user's price

_EPOCH0 = time.time_ns()
_PERF0 = time.perf_counter_ns()


def now_ns():
    """Epoch nanoseconds on a monotonic clock: creation stamps and arrival
    stamps are taken from this one clock."""
    return _EPOCH0 + (time.perf_counter_ns() - _PERF0)


class Leg:
    """A listening socket that keeps the newest connection the engine
    opened (each set-up repetition reconnects)."""

    def __init__(self):
        self.srv = socket.create_server(("127.0.0.1", 0))
        self.port = self.srv.getsockname()[1]
        self.conn = None
        self.accepted = 0
        self.cv = threading.Condition()
        threading.Thread(target=self._accept, daemon=True).start()

    def _accept(self):
        while True:
            try:
                c, _ = self.srv.accept()
            except OSError:
                return
            c.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            with self.cv:
                old, self.conn = self.conn, c
                self.accepted += 1
                self.cv.notify_all()
            if old is not None:
                old.close()

    def wait_accepted(self, n, timeout):
        with self.cv:
            return self.cv.wait_for(lambda: self.accepted >= n, timeout)

    def close(self):
        self.srv.close()
        if self.conn is not None:
            self.conn.close()


class Receiver:
    """Accepts every sink connection and parses result frames as they
    arrive; arrival is stamped per read."""

    def __init__(self):
        self.srv = socket.create_server(("127.0.0.1", 0))
        self.srv.setblocking(False)
        self.port = self.srv.getsockname()[1]
        self.sel = selectors.DefaultSelector()
        self.sel.register(self.srv, selectors.EVENT_READ, None)
        self.parts = []  # (frames, arrival ns)
        self.count = 0
        self.bad = 0
        self.lock = threading.Lock()
        self.running = True
        self.thread = threading.Thread(target=self._loop, daemon=True)
        self.thread.start()

    def _loop(self):
        while self.running:
            for key, _ in self.sel.select(timeout=0.05):
                if key.data is None:
                    try:
                        c, _ = self.srv.accept()
                    except BlockingIOError:
                        continue
                    c.setblocking(False)
                    self.sel.register(c, selectors.EVENT_READ, bytearray())
                    continue
                c, buf = key.fileobj, key.data
                try:
                    data = c.recv(1 << 20)
                except BlockingIOError:
                    continue
                except OSError:
                    data = b""
                t = now_ns()
                if not data:
                    self.sel.unregister(c)
                    c.close()
                    if buf:
                        self.bad += 1  # a connection closed mid-frame
                    continue
                buf += data
                n = len(buf) // OUT_DT.itemsize
                if n:
                    frames = np.frombuffer(bytes(buf[:n * OUT_DT.itemsize]), dtype=OUT_DT)
                    del buf[:n * OUT_DT.itemsize]
                    if (frames["len"] != 33).any():
                        self.bad += 1
                    with self.lock:
                        self.parts.append((frames, t))
                        self.count += n

    def wait_count(self, n, timeout):
        end = time.monotonic() + timeout
        while self.count < n and time.monotonic() < end:
            time.sleep(0.002)
        return self.count >= n

    def results(self):
        """All results so far as arrays: ts, user, cents, quote, rejected,
        arrival ns."""
        with self.lock:
            parts = list(self.parts)
        if not parts:
            z = np.zeros(0, dtype=np.int64)
            return z, z, z, z, z.astype(bool), z
        fr = np.concatenate([p[0] for p in parts])
        arr = np.concatenate([np.full(len(p[0]), p[1], dtype=np.int64) for p in parts])
        return (fr["ts"].astype(np.int64), fr["user"].astype(np.int64),
                fr["cents"].astype(np.int64), fr["quote"].astype(np.int64),
                fr["rejected"].astype(bool), arr)

    def close(self):
        self.running = False
        self.thread.join(timeout=5)
        for key in list(self.sel.get_map().values()):
            key.fileobj.close()
        self.sel.close()


class Market:
    """Seeded quote and order streams for `users` users. Quote prices are
    a per-user random walk that moves on a small share of quotes; order
    prices scatter around the user's opening price, so about a third are
    rejected."""

    def __init__(self, rng, opening):
        self.rng = rng
        self.opening = opening.astype(np.float64)
        self.log_price = np.log(self.opening)
        self.users = len(opening)

    def quotes(self, n):
        u = self.rng.integers(0, self.users, n)
        step = np.where(self.rng.random(n) < QUOTE_CHANGE_P, self.rng.normal(0, 0.08, n), 0.0)
        order = np.argsort(u, kind="stable")
        su, ss = u[order], step[order]
        cs = np.cumsum(ss)
        first = np.r_[True, su[1:] != su[:-1]]
        start_idx = np.maximum.accumulate(np.where(first, np.arange(n), 0))
        base = cs[start_idx] - ss[start_idx]
        walk = np.empty(n)
        walk[order] = self.log_price[su] + cs - base
        last = np.flatnonzero(np.r_[su[1:] != su[:-1], True])
        self.log_price[su[last]] = walk[order][last]
        return u, np.maximum(1, np.round(np.exp(walk))).astype(np.int64)

    def orders(self, n):
        u = self.rng.integers(0, self.users, n)
        cents = np.round(self.opening[u] * np.exp(self.rng.normal(0, 0.2, n)))
        return u, np.maximum(1, cents).astype(np.int64)


def frames(user, cents, ts):
    a = np.empty(len(user), dtype=IN_DT)
    a["len"], a["user"], a["cents"], a["ts"] = 24, user, cents, ts
    return a


class Sent:
    """Everything sent, for the correctness check."""

    def __init__(self):
        self.q_user, self.q_cents, self.q_ts = [], [], []
        self.o_user, self.o_cents, self.o_ts = [], [], []

    def add(self, kind, user, cents, ts):
        lists = (self.q_user, self.q_cents, self.q_ts) if kind == 0 else (self.o_user, self.o_cents, self.o_ts)
        for l, v in zip(lists, (user, cents, ts)):
            l.append(np.asarray(v, dtype=np.int64))

    def arrays(self):
        cat = lambda l: np.concatenate(l) if l else np.zeros(0, dtype=np.int64)
        return tuple(cat(l) for l in (self.q_user, self.q_cents, self.q_ts,
                                      self.o_user, self.o_cents, self.o_ts))


def send_schedule(legs, market, sent, rate, seconds=None, total=None):
    """Send quotes and orders, half each, on separate legs.

    With `seconds`, frames are due at `rate` frames per second in both legs
    together (open loop); lateness is measured per 1 ms chunk from its due
    time. With `total`, the frames are sent as fast as the sockets take
    them (a backlog burst) and stamped when sent. Returns (frames sent,
    first send ns, per-chunk lateness in ms)."""
    per_leg = int(rate * seconds / 2) if seconds is not None else total // 2
    qu, qc = market.quotes(per_leg)
    ou, oc = market.orders(per_leg)
    gap = 2e9 / rate if seconds is not None else 0.0
    t0 = now_ns() + 5_000_000
    rel = (np.arange(per_leg) * gap).astype(np.int64)
    late = []
    q_ts = np.empty(per_leg, dtype=np.int64)
    o_ts = np.empty(per_leg, dtype=np.int64)
    chunk = max(1, int(CHUNK_NS / gap)) if gap else 4096
    qsock, osock = legs[0].conn, legs[1].conn
    i = 0
    while i < per_leg:
        j = min(per_leg, i + chunk)
        if gap:
            due = t0 + rel[j - 1]
            while True:
                t = now_ns()
                if t >= due:
                    break
                if due - t > 200_000:
                    time.sleep((due - t - 100_000) / 1e9)
            late.append((t - due) / 1e6)
            qt = t0 + rel[i:j]
        else:
            # stamped when sent, 1 ns apart so every order's stamp is unique
            qt = now_ns() + np.arange(j - i, dtype=np.int64)
        ot = qt + int(gap // 2)
        q_ts[i:j], o_ts[i:j] = qt, ot
        qsock.sendall(frames(qu[i:j], qc[i:j], qt).tobytes())
        osock.sendall(frames(ou[i:j], oc[i:j], ot).tobytes())
        i = j
    sent.add(0, qu, qc, q_ts)
    sent.add(1, ou, oc, o_ts)
    return 2 * per_leg, (int(q_ts[0]) if per_leg else t0), late


def check(sent, got, tolerance_ns):
    """Every order exactly once, with the cents that were sent, a quote
    the order could have seen, and `rejected` as MarketCheck's rule says.

    A quote and an order travel on different connections, so the engine
    may see them in either order when their stamps are within the legs'
    skew. The quote an order may legally see is therefore the user's
    latest quote stamped before (order - tolerance) or any quote stamped
    within tolerance of the order. Returns (orders checked, failures,
    messages)."""
    q_user, q_cents, q_ts, o_user, o_cents, o_ts = sent.arrays()
    ts, user, cents, quote, rejected, _ = got
    errors = []
    n = len(o_ts)
    idx = np.searchsorted(o_ts, ts)  # orders are stamped in increasing order
    found = (idx < n) & (o_ts[np.minimum(idx, n - 1)] == ts)
    bad = int((~found).sum())
    if bad:
        errors.append(f"{bad} results match no order sent")
    idx, quote, cents, user, rejected = idx[found], quote[found], cents[found], user[found], rejected[found]
    seen = np.bincount(idx, minlength=n)
    dup, missing = int((seen > 1).sum()), int((seen == 0).sum())
    if dup:
        errors.append(f"{dup} orders emitted more than once")
    if missing:
        errors.append(f"{missing} orders never emitted")
    wrong = (user != o_user[idx]) | (cents != o_cents[idx])
    rule = (quote < 0) | (cents * 10 > quote * 12) | (cents * 10 < quote * 8)
    wrong |= rejected != rule
    # the quote each order saw must be one it could legally see
    base = q_ts.min() if len(q_ts) else 0
    key = q_user * (1 << 42) + (q_ts - base)
    order = np.argsort(key, kind="stable")
    key, qv = key[order], q_cents[order]
    okey = o_user[idx] * (1 << 42)
    lo = np.searchsorted(key, okey + (o_ts[idx] - base - tolerance_ns), "left") - 1
    hi = np.searchsorted(key, okey + (o_ts[idx] - base + tolerance_ns), "right")
    first = np.searchsorted(key, okey, "left")
    has_before = lo >= first
    before = np.where(has_before, qv[np.maximum(lo, 0)], -1)
    legal = quote == before
    for j in np.flatnonzero(~legal):
        window = qv[max(lo[j], first[j]):hi[j]]
        legal[j] = quote[j] in window or (quote[j] == -1 and not has_before[j])
    wrong |= ~legal
    if wrong.any():
        errors.append(f"{int(wrong.sum())} orders with a wrong verdict or quote")
    failures = bad + dup + missing + int(wrong.sum())
    return n, failures, errors
