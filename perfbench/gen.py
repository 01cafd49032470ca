"""Deterministic Kissmetrics-export generator for the ingest workloads.

Every line is derived from one row of the sf0.1 ``events.parquet``
table and a ``random.Random`` seeded from the CLI seed, so the same
seed always writes the same bytes. Rows follow the Kissmetrics export
shape: ``_n`` (event name), ``_p`` (person), ``_t`` (epoch seconds)
and dynamic keys.

Besides the files the generator returns what a correct load must
produce, computed here in plain Python and never by the engine:

- per file: lines, committed rows, repaired rows, quarantined rows;
- the identity map ``member -> component id`` (component id = the
  smallest member), from a union-find over the alias edges written.
  The union-find applies the reference's rules: an ``_p2`` alias
  record whose ``_p`` contains ``@`` adds no edge, an
  ``updated email`` event adds both ``(_p, new_email)`` and
  ``(_p, previous_email)``, and self-loops add no member.

Identity model: each of the table's users owns a named id (an email)
and, over time, anonymous device ids. An alias record links a fresh
device id to the user's email, to one of the user's earlier device
ids (so chains run across file boundaries), or to another fresh
device id (a device pair never identified). A small share of alias
records are written email-first and so add no edge. ``updated email``
events move the user to a fresh email.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from pathlib import Path

EVENT_NAMES = {
    "view": "viewed page",
    "click": "clicked button",
    "signup": "signed up",
    "purchase": "purchased",
    "error": "saw error",
}

BACKLOG_FILES = 50
TRICKLE_LINES = 500
ALIAS_RATE = 0.05
EMAIL_RATE = 0.02
REPAIRABLE_RATE = 0.01
UNREPAIRABLE_RATE = 0.001
EMPTY_NAME_RATE = 0.02
# The dynamic key with a space in its name appears only after this
# share of the backlog, past the pipeline's 10k-line inference sample.
SPACED_KEY = "campaign source"
SPACED_KEY_FROM = 0.55
# One trickle file per op; its epochs continue after the backlog's.
TRICKLE_SHIFT_S = 31 * 86400


def load_events(path: str | Path) -> dict[str, list]:
    """Read the columns the generator uses from ``events.parquet``."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        str(path), columns=["ts", "user_id", "event_type", "value", "props"]
    )
    cols = t.to_pydict()
    cols["ts"] = [int(ts.timestamp()) for ts in cols["ts"]]
    return cols


class UnionFind:
    """Plain-Python union-find; roots are the smallest member."""

    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: str, b: str) -> None:
        if a == b:
            return
        self.parent.setdefault(a, a)
        self.parent.setdefault(b, b)
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo

    def mapping(self) -> dict[str, str]:
        return {m: self.find(m) for m in self.parent}


def edges_of(row: dict) -> list[tuple[str, str]]:
    """Identity edges the reference derives from one parsed row."""
    p = row.get("_p")
    if row.get("_p2"):
        return [] if "@" in p else [(p, row["_p2"])]
    if row.get("_n") == "updated email":
        return [(p, row[k]) for k in ("new_email", "previous_email") if row.get(k)]
    return []


@dataclass
class FileSpec:
    name: str
    data: bytes
    lines: int
    committed: int
    repaired: int
    quarantined: int
    keys: frozenset[str] = frozenset()


@dataclass
class _User:
    email: str
    devices: list[str] = field(default_factory=list)
    n_emails: int = 0


class Generator:
    """Writes the backlog, then one trickle file per call.

    State (each user's email and devices, the union-find) carries over
    from the backlog into the trickle files, as a live export would.
    """

    def __init__(self, seed: int, events: dict[str, list]) -> None:
        self.events = events
        self.rng = random.Random(seed)
        self.uf = UnionFind()
        self.users: dict[int, _User] = {}
        self.n_files = 0
        self._ids = 0

    def _fresh_device(self) -> str:
        self._ids += 1
        return f"{self.rng.getrandbits(40):010x}{self._ids:x}"

    def _user(self, uid: int) -> _User:
        u = self.users.get(uid)
        if u is None:
            u = self.users[uid] = _User(email=f"user{uid}@example.com")
        return u

    def _row(self, i: int, shift: int, spaced: bool) -> dict:
        ev, rng = self.events, self.rng
        uid = ev["user_id"][i]
        u = self._user(uid)
        t = ev["ts"][i] + shift
        r = rng.random()
        if r < ALIAS_RATE:
            dev = self._fresh_device()
            k = rng.random()
            if k < 0.4:
                row = {"_p": dev, "_p2": u.email}
            elif k < 0.6 and u.devices:
                row = {"_p": dev, "_p2": rng.choice(u.devices)}
            elif k < 0.95:
                row = {"_p": dev, "_p2": self._fresh_device()}
            else:
                # email-first alias: the reference skips it (no edge)
                row = {"_p": u.email, "_p2": dev}
            u.devices.append(dev)
            row["_t"] = t
            return row
        if r < ALIAS_RATE + EMAIL_RATE:
            u.n_emails += 1
            new = f"user{uid}.{u.n_emails}@mail.example.org"
            # sent from a device half the time, so that both edges count
            from_device = u.devices and rng.random() < 0.5
            row = {
                "_n": "updated email",
                "_p": rng.choice(u.devices) if from_device else u.email,
                "_t": t,
                "new_email": new,
                "previous_email": u.email,
            }
            u.email = new
            return row
        kind = ev["event_type"][i]
        known = u.devices and rng.random() < 0.5
        row = {
            "_n": "" if rng.random() < EMPTY_NAME_RATE else EVENT_NAMES[kind],
            "_p": rng.choice(u.devices) if known else u.email,
            "_t": t,
            "k": str(json.loads(ev["props"][i])["k"]),
        }
        if kind == "purchase":
            row["amount"] = f"{ev['value'][i]:.2f}"
        elif kind == "view":
            row["page"] = f"/p/{row['k']}"
        if spaced and rng.random() < 0.2:
            row[SPACED_KEY] = rng.choice(["email", "search", "social", "ads"])
        return row

    def _file(self, rows: list[int], shift: int, spaced_from: int) -> FileSpec:
        self.n_files += 1
        out, repaired, quarantined, keys = [], 0, 0, set()
        for j, i in enumerate(rows):
            row = self._row(i, shift, j >= spaced_from)
            line = json.dumps(row, separators=(",", ":"))
            r = self.rng.random()
            if r < UNREPAIRABLE_RATE:
                line = line[: max(2, len(line) * 3 // 5)]
                quarantined += 1
            else:
                keys.update(row)
                for a, b in edges_of(row):
                    self.uf.union(a, b)
                if r < UNREPAIRABLE_RATE + REPAIRABLE_RATE:
                    # an unescaped inner quote pair, as in the export bug
                    # the repair pass exists for
                    line = line[:-1] + ',"title":"the "best" offer"}'
                    keys.add("title")
                    repaired += 1
            out.append(line)
        return FileSpec(
            name=f"{self.n_files}.json",
            data=("\n".join(out) + "\n").encode(),
            lines=len(out),
            committed=len(out) - quarantined,
            repaired=repaired,
            quarantined=quarantined,
            keys=frozenset(keys),
        )

    def backlog(self, n_files: int = BACKLOG_FILES) -> list[FileSpec]:
        """All events rows, split in time order into ``n_files`` files."""
        n = len(self.events["ts"])
        spaced_from = int(n * SPACED_KEY_FROM)
        files = []
        for f in range(n_files):
            lo, hi = n * f // n_files, n * (f + 1) // n_files
            files.append(self._file(list(range(lo, hi)), 0, spaced_from - lo))
        return files

    def trickle(self, lines: int = TRICKLE_LINES) -> FileSpec:
        """The next trickle file: a seeded sample of events rows in time
        order, shifted past everything written so far."""
        n = len(self.events["ts"])
        k = self.n_files - BACKLOG_FILES + 1
        rows = sorted(self.rng.sample(range(n), lines))
        return self._file(rows, k * TRICKLE_SHIFT_S, 0)


def write_files(files: list[FileSpec], directory: Path) -> None:
    directory.mkdir(parents=True, exist_ok=True)
    for f in files:
        (directory / f.name).write_bytes(f.data)
