"""Seeded OLR change feed and the independent reference it is checked against.

The feed is what OpenLogReplicator drops into the watched directory: one
JSON-lines file per committed transaction, each a begin marker, the
transaction's change events (flat envelope, ``schemas.CHANGE_EVENT_SCHEMA``
shape) and a commit marker.  Mixed in, as a real capture stream has them:
events of tables the stream does not materialise, corrupt lines, and
redeliveries of two kinds: a rewind that replays the last few files again,
in order (at-least-once delivery), and a stale redelivery of one older
file that no newer file follows (out of order).

The shape fractions below are synthetic choices, not taken from a
measured capture stream: each kind occurs in nearly every run.

The reference (``reference_state``) re-parses the lines that were fed and
keeps the last operation per key by ``(scn, seq)``, tombstones included.
It shares no code with the engine.
"""

from __future__ import annotations

import bisect
import json
import os
import random
from dataclasses import dataclass

OWNER, TABLE = "OLR_DB", "PRODUCT"
#: row-image columns of OLR_DB.PRODUCT, in schema order
IMAGE_COLS = (
    "id",
    "name",
    "description",
    "price",
    "stock",
    "created_date",
    "updated_date",
)
_BASE_DAY = 1_767_225_600  # 2026-01-01 00:00:00 UTC
DELETE_FRAC = 0.1  # of updates to a live key
FOREIGN_FRAC = 0.05  # of events, for a table the stream does not materialise
#: chance of a truncated line after an event: a few per drain backlog
CORRUPT_PER_EVENT = 1 / 2_500


def _ts(sec: int) -> str:
    import datetime

    return datetime.datetime.fromtimestamp(
        _BASE_DAY + sec, datetime.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S")


def product_image(key: int, version: int, rng: random.Random) -> dict:
    """One PRODUCT row image; prices are whole cents so decimal(10,2)
    round-trips exactly."""
    cents = rng.randrange(100, 10_000_000)
    return {
        "id": key,
        "name": f"product-{key}-v{version}",
        "description": None if rng.random() < 0.2 else f"desc {key} {version}",
        "price": float(f"{cents // 100}.{cents % 100:02d}"),
        "stock": rng.randrange(0, 100_000),
        "created_date": _ts(key % 86_400),
        "updated_date": _ts(version),
    }


def snapshot_rows(n_keys: int, seed: int) -> list[dict]:
    """The bootstrap snapshot: every key live, version 0."""
    rng = random.Random(seed * 7919 + 1)
    return [product_image(k, 0, rng) for k in range(n_keys)]


@dataclass
class FeedSpec:
    """Shape of one generated feed.

    ``zipf_s`` 0 draws keys uniformly; above 0 key ``k`` has weight
    ``1 / (k + 1) ** zipf_s`` (hot keys).  Per delivery, ``rewind_prob``
    starts an in-order replay of the last ``1..rewind_max`` files and
    ``stale_prob`` redelivers one older file alone."""

    n_keys: int
    events_per_file: int
    zipf_s: float = 0.0
    rewind_prob: float = 0.0
    rewind_max: int = 3
    stale_prob: float = 0.0


class FeedGenerator:
    """Stateful generator of transaction files.

    ``next_file`` returns the lines of the next file to deliver.  The key
    model starts from the snapshot (all keys live), so inserts only
    re-create deleted keys.  A rewind replays the last ``1..rewind_max``
    distinct files verbatim; a stale redelivery replays one file of the
    older half of the history, after which fresh files go on.
    ``set_spec`` changes the shape of the files that follow (same key
    space) and starts a new replay history.
    """

    def __init__(self, spec: FeedSpec, seed: int) -> None:
        self.rng = random.Random(seed)
        self.scn = 1_000
        self.live = [True] * spec.n_keys
        self.version = [0] * spec.n_keys
        snap_rng = random.Random(seed * 7919 + 1)
        self.image = {k: product_image(k, 0, snap_rng) for k in range(spec.n_keys)}
        self.set_spec(spec)

    def set_spec(self, spec: FeedSpec) -> None:
        if spec.n_keys != len(self.live):
            raise ValueError("a feed keeps its key space")
        self.spec = spec
        self.history: list[list[str]] = []
        self.pending_replay: list[list[str]] = []
        self.cum: list[float] | None = None
        if spec.zipf_s > 0:
            acc, self.cum = 0.0, []
            for k in range(spec.n_keys):
                acc += 1.0 / (k + 1) ** spec.zipf_s
                self.cum.append(acc)

    def _key(self) -> int:
        if self.cum is None:
            return self.rng.randrange(self.spec.n_keys)
        return bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])

    def _envelope(self, seq: int, xid: str, op: str, **kw) -> dict:
        return {
            "scn": self.scn,
            "seq": seq,
            "tm": self.scn * 1_000,
            "xid": xid,
            "db": "ORCLPDB1",
            "op": op,
            **kw,
        }

    def _fresh_file(self) -> list[str]:
        self.scn += 1
        xid = f"xid-{self.scn}"
        lines = [json.dumps(self._envelope(0, xid, "begin"))]
        for seq in range(1, self.spec.events_per_file + 1):
            if self.rng.random() < FOREIGN_FRAC:
                ev = self._envelope(
                    seq,
                    xid,
                    "u",
                    schema_owner=OWNER,
                    schema_table="CUSTOMER",
                    rid=f"AAAC{self.scn}",
                    before=None,
                    after={"id": self.rng.randrange(1000), "name": "c"},
                )
                lines.append(json.dumps(ev))
                continue
            k = self._key()
            before = self.image[k]
            if not self.live[k]:
                op, before = "c", None
            elif self.rng.random() < DELETE_FRAC:
                op = "d"
            else:
                op = "u"
            if op == "d":
                after = None
                self.live[k] = False
            else:
                self.version[k] += 1
                after = product_image(k, self.version[k], self.rng)
                self.image[k] = after
                self.live[k] = True
            ev = self._envelope(
                seq,
                xid,
                op,
                rid=f"AAAR{k:08d}",
                schema_owner=OWNER,
                schema_table=TABLE,
                before=before,
                after=after,
            )
            lines.append(json.dumps(ev))
            if self.rng.random() < CORRUPT_PER_EVENT:
                lines.append('{"scn": ' + str(self.scn) + ', "op": "u", "after": {"id": ')
        lines.append(json.dumps(self._envelope(0, xid, "commit")))
        self.history.append(lines)
        return lines

    def next_file(self) -> list[str]:
        if self.pending_replay:
            return self.pending_replay.pop(0)
        if self.history and self.rng.random() < self.spec.rewind_prob:
            n = self.rng.randint(1, min(self.spec.rewind_max, len(self.history)))
            self.pending_replay = [list(f) for f in self.history[-n:]]
            return self.pending_replay.pop(0)
        if len(self.history) > 1 and self.rng.random() < self.spec.stale_prob:
            return self.stale_redelivery()
        return self._fresh_file()

    def stale_redelivery(self) -> list[str]:
        """One file of the older half of the history, delivered again: its
        keys have most likely changed since (needs two fresh files)."""
        return list(self.history[self.rng.randrange(len(self.history) // 2)])


def write_file(directory: str, name: str, lines: list[str]) -> int:
    """Write one feed file under a temporary name, then rename it in, so
    the file source never lists a partial file.  Returns its size."""
    data = ("\n".join(lines) + "\n").encode()
    tmp = os.path.join(directory, "." + name + ".tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.rename(tmp, os.path.join(directory, name))
    return len(data)


def file_name(i: int) -> str:
    return f"tx-{i:07d}.json"


# -- independent reference ------------------------------------------------


def reference_state(snapshot: list[dict], files: list[list[str]]) -> dict:
    """Last operation per key by ``(scn, seq)`` over the snapshot (at scn
    0) and every PRODUCT change event in ``files``.  Returns
    ``{id: (deleted, image)}`` where ``image`` is the winning row image
    (the before image for a delete)."""
    best: dict[int, tuple[tuple[int, int], bool, dict]] = {
        r["id"]: ((0, 0), False, r) for r in snapshot
    }
    for lines in files:
        for line in lines:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            if ev.get("op") not in ("c", "u", "d"):
                continue
            if (ev.get("schema_owner"), ev.get("schema_table")) != (OWNER, TABLE):
                continue
            img = ev["before"] if ev["op"] == "d" else ev["after"]
            order = (ev["scn"], ev["seq"])
            cur = best.get(img["id"])
            if cur is None or order > cur[0]:
                best[img["id"]] = (order, ev["op"] == "d", img)
    return {k: (deleted, img) for k, (_, deleted, img) in best.items()}


def canon_row(row: dict) -> tuple:
    """Row image in a form both the engine's output and the reference
    reduce to: price as a two-decimal string, timestamps as text."""
    out = []
    for c in IMAGE_COLS:
        v = row.get(c)
        if v is None:
            out.append(None)
        elif c == "price":
            out.append(f"{float(v):.2f}")
        elif c in ("created_date", "updated_date"):
            out.append(str(v)[:19])
        else:
            out.append(v)
    return tuple(out)
