"""Open-loop clickstream load generator: a process of its own, separate
from the system under test.

Emits the reference producer's event schema and behaviour model (bounded
user and product pools, weighted categories, cart state machine, session
history conditioning and lifetime; see ``datagen.py`` of the package for
the per-session reference) in vectorised form: a fixed pool of live
sessions, each event drawn for a distinct session so the per-session state
updates are array operations.

Event time runs ``SPEEDUP`` times faster than wall time. A small share of
events is stamped up to ``OOO_MAX_S`` earlier than its tick, out of order
but well inside the pipeline's 10-minute watermark.

Each file is written under a hidden name (the file source skips names
starting with ``.``) and renamed into the source directory, so the stream
never lists a partial file. After the rename the file's creation time,
read from the system-wide monotonic clock, goes to the manifest (one JSON
line per file).

Commands arrive one per line on stdin, and each is answered with one line
on stdout once done:
  warm    write one warm-up file, event time before the steady phase
  steady  run the open loop: one file per tick for ``--seconds`` seconds
  burst   write one large file of ``BURST_EVENTS`` events at once
  quit    exit

Run: python3 perfbench/loadgen.py --seed 1 --src DIR --manifest FILE --tick 0.2 --seconds 20
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

RATE = 5000  # events per second, steady phase
BURST_EVENTS = 100_000
SPEEDUP = 60.0
OOO_SHARE = 0.02
OOO_MAX_S = 180.0
N_LIVE_SESSIONS = 2000
MAX_USERS = 1000
MAX_PRODUCTS = 500
CATEGORIES = (
    "electronics", "clothing", "books", "home", "sports", "toys", "beauty", "grocery",
)
CATEGORY_WEIGHTS = (0.25, 0.20, 0.15, 0.10, 0.10, 0.10, 0.05, 0.05)
USER_AGENTS = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64)",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7)",
    "Mozilla/5.0 (X11; Linux x86_64)",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X)",
    "Mozilla/5.0 (Linux; Android 14)",
)
EVENT_TYPES = np.array(["page_view", "add_to_cart", "purchase"])
# The steady phase starts late in an hour (a quarter of it falls after the
# hour's end), so the burst carries the watermark past the hour's end and
# the hourly query emits, and the benchmark checks, a closed window.
_HOUR_US = 3_600_000_000
_BASE_US = int(np.datetime64("2024-03-01T00:00:00", "us").astype(np.int64))


class ClickstreamModel:
    """Live-session state of the producer's behaviour model."""

    def __init__(self, rng: np.random.Generator, start_us: int):
        self.rng = rng
        self.next_session = 0
        n = N_LIVE_SESSIONS
        self.sid = np.zeros(n, np.int64)
        self.user = np.zeros(n, np.int64)
        self.ua = np.zeros(n, np.int64)
        self.ip = np.zeros((n, 4), np.int64)
        self.start = np.zeros(n, np.int64)
        self.views = np.zeros(n, np.int64)
        self.cart_sum = np.zeros(n, np.float64)
        self.cart_n = np.zeros(n, np.int64)
        self._renew(np.arange(n), np.full(n, start_us, np.int64))

    def _renew(self, idx: np.ndarray, now_us: np.ndarray) -> None:
        k = len(idx)
        self.sid[idx] = np.arange(self.next_session, self.next_session + k)
        self.next_session += k
        self.user[idx] = self.rng.integers(0, MAX_USERS, k)
        self.ua[idx] = self.rng.integers(0, len(USER_AGENTS), k)
        self.ip[idx] = self.rng.integers(1, 255, (k, 4))
        self.start[idx] = now_us
        self.views[idx] = 0
        self.cart_sum[idx] = 0.0
        self.cart_n[idx] = 0

    def events(self, n: int, t0_us: int, t1_us: int, tag: str) -> pa.Table:
        """``n`` events with event times in ``[t0_us, t1_us)``."""
        rng = self.rng
        ts = np.sort(rng.integers(t0_us, max(t1_us, t0_us + 1), n))
        late = rng.random(n) < OOO_SHARE
        ts = ts - late * rng.integers(0, int(OOO_MAX_S * 1e6), n)
        who = np.empty(n, np.int64)
        # one event per live session per call keeps the state updates
        # vectorised; larger calls are split into session-sized rounds
        for lo in range(0, n, N_LIVE_SESSIONS):
            hi = min(n, lo + N_LIVE_SESSIONS)
            who[lo:hi] = rng.choice(N_LIVE_SESSIONS, hi - lo, replace=False)
        etype = np.empty(n, np.int64)
        amount = np.full(n, np.nan)
        product = rng.integers(0, MAX_PRODUCTS, n)
        price = np.round(5.0 + rng.random(n) * 495.0, 2)
        category = rng.choice(len(CATEGORIES), n, p=CATEGORY_WEIGHTS)
        page_kind = rng.integers(0, 4, n)
        for lo in range(0, n, N_LIVE_SESSIONS):
            sl = slice(lo, min(n, lo + N_LIVE_SESSIONS))
            s = who[sl]
            p_cart = 0.2 + 0.1 * (self.views[s] >= 3)
            p_buy = 0.1 + 0.15 * (self.cart_n[s] > 0)
            u = rng.random(len(s))
            e = np.where(u < 1.0 - p_cart - p_buy, 0, np.where(u < 1.0 - p_buy, 1, 2))
            etype[sl] = e
            self.views[s] += e == 0
            cart = e == 1
            self.cart_sum[s[cart]] += price[sl][cart]
            self.cart_n[s[cart]] += 1
            buy = e == 2
            base = np.where(
                self.cart_n[s] > 0, self.cart_sum[s], 20.0 + rng.random(len(s)) * 480.0
            )
            amt = np.round(base * (0.95 + rng.random(len(s)) * 0.10), 2)
            amount[sl] = np.where(buy, amt, np.nan)
            self.cart_sum[s[buy]] = 0.0
            self.cart_n[s[buy]] = 0
            elapsed_min = (ts[sl] - self.start[s]) / 60e6
            p_end = np.clip((elapsed_min - 5.0) * 0.05, 0.02, 0.3)
            ended = s[rng.random(len(s)) < p_end]
            self._renew(ended, np.full(len(ended), int(ts[sl].max()), np.int64))
        return self._table(n, ts, who, etype, amount, product, category, page_kind, tag)

    def _table(self, n, ts, who, etype, amount, product, category, page_kind, tag):
        is_product = etype != 0
        view_pages = np.array(
            ["/", *(f"/category/{c}" for c in CATEGORIES), "/cart", "/checkout"]
        )[np.select([page_kind == 0, page_kind == 1, page_kind == 2], [0, 1 + category, 9], 10)]
        ip = [pa.array(self.ip[who, i]).cast(pa.string()) for i in range(4)]
        return pa.table(
            {
                "event_id": _join(f"{tag}-", np.arange(n)),
                "user_id": pa.array(_USERS[self.user[who]]),
                "event_type": pa.array(EVENT_TYPES[etype]),
                "product_id": pa.array(_PRODUCTS[product], mask=~is_product),
                "purchase_amount": pa.array(amount, mask=np.isnan(amount)),
                "timestamp": pa.array(ts, pa.timestamp("us")),
                "session_id": _join("s", self.sid[who], width=9),
                "page_url": pa.array(np.where(is_product, _PRODUCT_PAGES[product], view_pages)),
                "user_agent": pa.array(np.array(USER_AGENTS)[self.ua[who]]),
                "ip_address": pc.binary_join_element_wise(*ip, "."),
            }
        )


def _join(prefix: str, ints: np.ndarray, width: int = 0) -> pa.Array:
    digits = pa.array(ints).cast(pa.string())
    if width:
        digits = pc.utf8_lpad(digits, width, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


_USERS = np.array([f"u{i:06d}" for i in range(MAX_USERS)])
_PRODUCTS = np.array([f"p{i:05d}" for i in range(MAX_PRODUCTS)])
_PRODUCT_PAGES = np.array([f"/product/p{i:05d}" for i in range(MAX_PRODUCTS)])


class Generator:
    def __init__(self, args):
        self.args = args
        self.rng = np.random.default_rng(args.seed)
        steady_span_us = int(args.seconds * SPEEDUP * 1e6)
        # three quarters of the steady phase before the hour boundary
        self.t_us = _BASE_US + _HOUR_US - int(0.75 * steady_span_us)
        self.model = ClickstreamModel(self.rng, self.t_us - 10 * 60_000_000)
        self.file_no = 0
        self.manifest = open(args.manifest, "a")

    def _land(self, tbl: pa.Table, kind: str, due: float) -> None:
        name = f"f{self.file_no:06d}-{kind}.parquet"
        self.file_no += 1
        hidden = os.path.join(self.args.src, f".{name}")
        pq.write_table(tbl, hidden)
        os.rename(hidden, os.path.join(self.args.src, name))
        created = time.monotonic()
        amount = tbl.column("purchase_amount").to_numpy(zero_copy_only=False)
        rec = {
            "file": name,
            "kind": kind,
            "due": due,
            "created": created,
            "events": tbl.num_rows,
            "purchases": int(np.count_nonzero(~np.isnan(amount))),
            "revenue": float(np.nansum(amount)),
        }
        self.manifest.write(json.dumps(rec) + "\n")
        self.manifest.flush()

    def _span(self, wall_s: float) -> tuple[int, int]:
        t0 = self.t_us
        self.t_us += int(wall_s * SPEEDUP * 1e6)
        return t0, self.t_us

    def warm(self) -> None:
        # warm-up events fall 60 to 30 seconds of event time before the
        # steady phase
        t0, t1 = self.t_us - 60_000_000, self.t_us - 30_000_000
        tbl = self.model.events(RATE // 10, t0, t1, f"w{self.file_no}")
        self._land(tbl, "warm", time.monotonic())

    def steady(self) -> None:
        tick = self.args.tick
        per_tick = int(round(RATE * tick))
        n_ticks = int(round(self.args.seconds / tick))
        go = time.monotonic()
        for k in range(n_ticks):
            due = go + k * tick
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            t0, t1 = self._span(tick)
            self._land(self.model.events(per_tick, t0, t1, f"t{self.file_no}"), "steady", due)

    def burst(self) -> None:
        t0, t1 = self._span(BURST_EVENTS / RATE)
        tbl = self.model.events(BURST_EVENTS, t0, t1, f"b{self.file_no}")
        self._land(tbl, "burst", time.monotonic())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--src", required=True, help="source directory the stream tails")
    ap.add_argument("--manifest", required=True, help="JSON-lines manifest to append to")
    ap.add_argument("--tick", type=float, required=True, help="seconds between files")
    ap.add_argument("--seconds", type=float, required=True, help="steady-phase length")
    args = ap.parse_args(argv)
    os.makedirs(args.src, exist_ok=True)
    # an open loop must keep its schedule while the system saturates the
    # cores; raise this process's priority where permitted
    try:
        os.setpriority(os.PRIO_PROCESS, 0, -10)
    except OSError:
        pass
    gen = Generator(args)
    commands = {"warm": gen.warm, "steady": gen.steady, "burst": gen.burst}
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "quit":
            break
        commands[cmd]()
        print("done", flush=True)
    gen.manifest.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
