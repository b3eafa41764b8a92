"""Seeded CDC envelope generator and the file lander.

Envelopes follow the reference's DMS JSON shape (FIXTURES.md A1): a
``data`` full-row image of ``retail_trans`` plus ``metadata`` carrying
the operation, a commit timestamp and a transaction id. The generator
models the source database:

- inserts take fresh auto-increment ``trans_id`` values, so every file
  holds at least one key larger than any key of an earlier file (the
  file's *marker*, which the visibility probe looks for);
- updates and deletes pick live keys with a power-law skew toward hot
  keys;
- a share of updates re-touch a key already changed in the same file
  (in-file duplicates the engine's dedup must collapse);
- a share of images are *late*: an older image of a key re-delivered
  after a newer one, which the engine must never apply.

All randomness comes from one ``random.Random(seed)``; the same seed
gives byte-identical files. Nothing here imports the engine.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta

EVENTS = ("visit", "view", "cart", "list", "like", "purchase")
DEVICES = ("pc", "mobile", "tablet")
_T0 = datetime(2023, 2, 1)


@dataclass(frozen=True)
class Mix:
    """Per-workload traffic shape."""

    p_insert: float
    p_delete: float  # the rest of the non-insert ops are updates
    late_share: float  # share of envelopes that are late (older) images
    dup_share: float  # share of updates that re-touch a key of the same file
    hot_skew: float  # >= 1; index = n * u**skew, so larger = hotter head


@dataclass
class Envelope:
    key: int
    op: str
    ts_us: int  # commit timestamp, microseconds after _T0
    txn: int
    row: dict

    def to_json(self) -> str:
        ts = (_T0 + timedelta(microseconds=self.ts_us)).isoformat(timespec="microseconds")
        return json.dumps({
            "data": self.row,
            "metadata": {
                "timestamp": ts,
                "record-type": "data",
                "operation": self.op,
                "partition-key-type": "primary-key",
                "schema-name": "testdb",
                "table-name": "retail_trans",
                "transaction-id": self.txn,
            },
        })


def event_of(key: int) -> str:
    """Partition value; fixed per key, as in the source table."""
    return EVENTS[(key * 2654435761) % 4294967296 % len(EVENTS)]


def make_row(key: int, amount: int) -> dict:
    return {
        "trans_id": key,
        "customer_id": f"{100000000000 + key % 50_000:012d}",
        "event": event_of(key),
        "sku": f"AB%{key % 1000:03d}CDEF",
        "amount": amount,
        "device": DEVICES[key % len(DEVICES)],
        "trans_datetime": f"2023-01-{key % 27 + 1:02d}T10:00:00Z",
    }


class CdcGenerator:
    """Stateful source-database model; ``next_file`` returns one file's
    envelopes in commit order."""

    def __init__(self, seed: int, mix: Mix) -> None:
        self.rng = random.Random(seed)
        self.mix = mix
        self.next_key = 1
        self.seq = 0
        self.live: list[int] = []
        self.pos: dict[int, int] = {}  # key -> index in live
        self.last: dict[int, tuple[int, int]] = {}  # key -> (ts_us, txn)

    def _stamp(self) -> tuple[int, int]:
        self.seq += 1
        return self.seq * 1000, 1_000_000 + self.seq

    def _amount(self) -> int:
        return self.rng.randrange(1, 10_000)

    def _add_live(self, key: int) -> None:
        self.pos[key] = len(self.live)
        self.live.append(key)

    def _remove_live(self, key: int) -> None:
        i = self.pos.pop(key)
        tail = self.live.pop()
        if tail != key:
            self.live[i] = tail
            self.pos[tail] = i

    def _hot_key(self, exclude: set[int]) -> int | None:
        n = len(self.live)
        for _ in range(8):
            k = self.live[int(n * self.rng.random() ** self.mix.hot_skew)]
            if k not in exclude:
                return k
        return None

    def initial_load(self, n_keys: int) -> list[Envelope]:
        """The DMS full-load phase: one insert per key."""
        out = []
        for _ in range(n_keys):
            key = self.next_key
            self.next_key += 1
            ts, txn = self._stamp()
            out.append(Envelope(key, "insert", ts, txn, make_row(key, self._amount())))
            self.last[key] = (ts, txn)
            self._add_live(key)
        return out

    def next_file(self, n: int) -> list[Envelope]:
        """``n`` envelopes (at least one insert) in commit order."""
        mix, rng = self.mix, self.rng
        out: list[Envelope] = []
        touched: list[int] = []  # keys updated in this file
        gone: set[int] = set()  # keys deleted in this file
        fresh: list[int] = []
        for i in range(n):
            u = rng.random()
            # the last envelope of a file without an insert yet is always
            # one, so every file has a marker
            must_insert = i == n - 1 and not fresh
            late = not must_insert and rng.random() < mix.late_share and self.last
            if late:
                key = self._hot_key(gone) if self.live else None
                if key is not None and key in self.last:
                    ts, txn = self.last[key]
                    # an older image re-delivered: strictly behind the
                    # key's newest (ts, txn) and never tying any other stamp
                    out.append(Envelope(key, "update", ts - 500, txn - 1,
                                        make_row(key, self._amount())))
                    continue
            if u < mix.p_insert or not self.live or must_insert:
                key = self.next_key
                self.next_key += 1
                fresh.append(key)
                op = "insert"
            elif u < mix.p_insert + mix.p_delete:
                key = self._hot_key(gone | set(touched))
                if key is None:
                    continue
                gone.add(key)
                op = "delete"
            else:
                if touched and rng.random() < mix.dup_share:
                    key = touched[rng.randrange(len(touched))]
                else:
                    key = self._hot_key(gone)
                    if key is None:
                        continue
                touched.append(key)
                op = "update"
            ts, txn = self._stamp()
            out.append(Envelope(key, op, ts, txn, make_row(key, self._amount())))
            self.last[key] = (ts, txn)
        for key in gone:
            self._remove_live(key)
        for key in fresh:
            self._add_live(key)
        return out


def marker(envelopes: list[Envelope]) -> int:
    """Largest key a file inserts: present in any version that holds the
    file, absent from every version that does not (keys only grow)."""
    return max(e.key for e in envelopes if e.op == "insert")


def write_file(envelopes: list[Envelope], path: str) -> None:
    with open(path, "w") as fh:
        fh.write("".join(e.to_json() + "\n" for e in envelopes))


def land(staging_path: str, watched_dir: str) -> str:
    """Atomically move a fully written file into the watched directory:
    the file source reads whatever is present, so a file must never be
    visible half written."""
    dest = os.path.join(watched_dir, os.path.basename(staging_path))
    os.replace(staging_path, dest)
    return dest
