"""Seeded inputs for the benchmark: Debezium envelopes, key skew, read
schedules, and the pure-Python reference fold that checks CDC state.

Everything here is a function of the seed alone, so the same seed gives
byte-identical source files. The module imports nothing from the engine:
the engine only ever sees the files written here.

Run as a script it is the live workload's generator process: it moves
pre-built files from a staging directory into the stream's source
directory on a fixed schedule (one atomic rename per interval) and
prints how late it ran as one JSON line.
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import random
import sys
import time
import uuid
from dataclasses import dataclass

#: envelope timestamps start here (ms since epoch); event ``seq`` adds
#: ``seq`` ms, so ``ts_ms`` and the row times are seed-independent.
BASE_TS_MS = 1761523268027


@dataclass(frozen=True)
class Event:
    seq: int
    key: str
    op: str  # "c" | "u" | "d"
    lsn: int
    ts_ms: int
    #: create time (ms) of the row this event leaves behind; None on delete
    create_ms: "int | None"
    message: "str | None"
    username: "str | None"


def make_keys(rng: random.Random, n: int) -> list[str]:
    return [str(uuid.UUID(int=rng.getrandbits(128), version=4)) for _ in range(n)]


def _iso(ms: int) -> str:
    s, rem = divmod(ms, 1000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(s)) + f".{rem:03d}000Z"


def key_picker(rng: random.Random, keys: list[str], hot_share: float, hot_keys: int, zipf_s: float):
    """Key chooser: ``hot_share`` of picks are Zipf(``zipf_s``)-ranked
    over the first ``hot_keys`` keys, the rest uniform over all keys."""
    cum, acc = [], 0.0
    for r in range(1, max(hot_keys, 1) + 1):
        acc += 1.0 / r**zipf_s
        cum.append(acc)

    def pick() -> str:
        if hot_share > 0 and rng.random() < hot_share:
            return keys[bisect.bisect_left(cum, rng.random() * acc)]
        return keys[rng.randrange(len(keys))]

    return pick


class ChangeLog:
    """Seeded change generator over a fixed key set.

    The first change of an absent key is an insert (``c``); later ones
    are updates (``u``) or, with ``delete_share``, deletes (``d``). A
    deleted key comes back with a fresh insert the next time it is
    picked (resurrection). LSNs strictly increase.
    """

    def __init__(self, seed: int, n_keys: int, *, hot_share=0.0, hot_keys=0,
                 zipf_s=1.1, delete_share=0.0):
        self.rng = random.Random(seed)
        self.keys = make_keys(self.rng, n_keys)
        self.key_set = frozenset(self.keys)
        self._pick = key_picker(self.rng, self.keys, hot_share, hot_keys, zipf_s)
        self.delete_share = delete_share
        self._created: dict[str, int] = {}
        self.seq = 0

    def _event(self, key: str, delete: bool) -> Event:
        seq, self.seq = self.seq, self.seq + 1
        ts = BASE_TS_MS + seq
        if delete:
            self._created.pop(key, None)
            return Event(seq, key, "d", 10_000 + 8 * seq, ts, None, None, None)
        op = "u" if key in self._created else "c"
        create = self._created.setdefault(key, ts)
        return Event(seq, key, op, 10_000 + 8 * seq, ts, create,
                     f"m {seq}", f"user{self.rng.randrange(97)}")

    def seed_all(self) -> list[Event]:
        """One insert per key, in key order: the initial state."""
        return [self._event(k, False) for k in self.keys]

    def changes(self, n: int) -> list[Event]:
        out = []
        for _ in range(n):
            key = self._pick()
            delete = key in self._created and self.rng.random() < self.delete_share
            out.append(self._event(key, delete))
        return out


def envelope_line(ev: Event) -> str:
    """One JSON line the engine's file CDC source reads: the Kafka key
    and a full Debezium change-event value."""
    after = None
    if ev.op != "d":
        after = {
            "id": ev.key,
            "create_time": _iso(ev.create_ms),
            "update_time": _iso(ev.ts_ms),
            "message": ev.message,
            "username": ev.username,
        }
    src_ms = ev.ts_ms - 429
    value = {
        "before": None,
        "after": after,
        "source": {
            "version": "3.2.2.Final", "connector": "postgresql", "name": "messages",
            "ts_ms": src_ms, "snapshot": "false", "db": "postgres",
            "sequence": json.dumps([str(ev.lsn - 8), str(ev.lsn)]),
            "ts_us": src_ms * 1000, "ts_ns": src_ms * 1_000_000,
            "schema": "public", "table": "messages", "txId": 761 + ev.seq,
            "lsn": ev.lsn, "xmin": None,
        },
        "transaction": None,
        "op": ev.op,
        "ts": None,
        "ts_ms": ev.ts_ms,
        "ts_us": ev.ts_ms * 1000,
        "ts_ns": ev.ts_ms * 1_000_000,
    }
    return json.dumps({"key": json.dumps({"id": ev.key}), "value": json.dumps(value)})


def write_files(events: list[Event], directory: str, per_file: int, prefix: str) -> list[str]:
    """Chunk ``events`` into JSON-lines files of ``per_file`` events,
    named ``<prefix>_<index>.jsonl`` in order."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i in range(0, len(events), per_file):
        path = os.path.join(directory, f"{prefix}_{i // per_file:06d}.jsonl")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("".join(envelope_line(e) + "\n" for e in events[i:i + per_file]))
        paths.append(path)
    return paths


def reference_fold(events: list[Event]) -> dict:
    """Last write wins by LSN; a delete removes the key; a later insert
    resurrects it. Returns ``{key: (lsn, row)}`` where ``row`` is
    ``(message, username, create_ms, update_ms)``."""
    state: dict = {}
    tomb: dict[str, int] = {}
    for ev in events:
        cur = state.get(ev.key, (tomb.get(ev.key, -1), None))[0]
        if ev.lsn <= cur:
            continue
        if ev.op == "d":
            state.pop(ev.key, None)
            tomb[ev.key] = ev.lsn
        else:
            state[ev.key] = (ev.lsn, (ev.message, ev.username, ev.create_ms, ev.ts_ms))
    return state


def read_schedule(seed: int, rate: float, seconds: float) -> list[float]:
    """Due offsets (s) of an open-loop reader at ``rate`` per second with
    a seeded ±25% jitter around the fixed period."""
    rng = random.Random(seed ^ 0x5EED)
    period = 1.0 / rate
    return [i * period + rng.uniform(-0.25, 0.25) * period * (i > 0)
            for i in range(int(seconds * rate))]


def _drop(args) -> int:
    """Move staged files into ``dest`` at ``t0 + i * interval`` (monotonic
    clock, shared by every process on the host)."""
    names = sorted(os.listdir(args.staging))
    late = []
    for i, name in enumerate(names):
        due = args.t0 + i * args.interval
        delay = due - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        src = os.path.join(args.staging, name)
        os.utime(src)  # the file source orders by mtime: stamp the drop time
        os.rename(src, os.path.join(args.dest, name))
        late.append(time.monotonic() - due)
    print(json.dumps({"files": len(names), "late_ms_max": max(late, default=0.0) * 1000}))
    return 0


def main(argv: "list[str] | None" = None) -> int:
    p = argparse.ArgumentParser(description="live-workload file dropper")
    p.add_argument("--staging", required=True)
    p.add_argument("--dest", required=True)
    p.add_argument("--t0", type=float, required=True)
    p.add_argument("--interval", type=float, required=True)
    return _drop(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
