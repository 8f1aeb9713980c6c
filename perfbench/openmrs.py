"""Seeded OpenMRS-shaped source/destination table pair for the merge
benchmark, plus the per-table moved counts a correct merge must report.

``generate(root, seed, persons)`` writes ``root/src/<table>.parquet`` and
``root/dst/<table>.parquet`` for ``TABLES`` and returns an ``Expected``
record.  The same arguments always write the same bytes.

The tables are ``users`` and ``person``, the paper's person-users
merge: the user pre-match, the creator chain and the uuid gate.
Planted properties (FIXTURES.md numbering):

1. admin and daemon users on both sides; the source admin's user_id is 2;
3. source users that match destination users on ``(system_id, username)``
   and others that share a destination user's ``uuid``;
4. uuid collisions with the destination, some destination uuids hit by
   two source rows;
7. a creator chain through the users, and user persons created by a
   later user;
9. NULL foreign keys and NULL dates.

Every source foreign key resolves inside the source set, so the integrity
gate passes.  The moved counts are derived here from the planted
structure, independently of the engine, for a merge that keeps source
uuids: the uuid gate rewrites every colliding source uuid first, so only
the ``(system_id, username)`` matches pre-map users, and admin/daemon are
excluded; every other user and person moves.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["users", "person"]
BASE_TS = np.datetime64("2015-01-01T00:00:00", "us")
SPAN_US = 8 * 365 * 86400 * 10**6
USER_MATCH = 4          # one regular user in USER_MATCH matches per key
UUID_COLLISIONS = 0.2   # share of source rows given a destination uuid


@dataclass
class Expected:
    """What a correct merge of the generated pair reports."""

    moved: dict[str, int]
    src_rows: dict[str, int]
    dst_rows: dict[str, int]

    @property
    def input_rows(self) -> int:
        return sum(self.src_rows.values()) + sum(self.dst_rows.values())


class _Side:
    """One database instance under construction: columns per table."""

    def __init__(self, tag: str, rng: np.random.Generator):
        self.tag = tag
        self.rng = rng
        self.tables: dict[str, dict[str, pa.Array]] = {}

    def ts(self, n: int, null_frac: float = 0.0) -> pa.Array:
        vals = BASE_TS + self.rng.integers(0, SPAN_US, n).astype("timedelta64[us]")
        return pa.array(vals, pa.timestamp("us"), mask=self.mask(n, null_frac))

    def mask(self, n: int, null_frac: float):
        if null_frac <= 0:
            return None
        return self.rng.random(n) < null_frac

    def pick(self, pool: np.ndarray, n: int, null_frac: float = 0.0) -> pa.Array:
        vals = pool[self.rng.integers(0, len(pool), n)]
        return pa.array(vals.astype(np.int32), pa.int32(), mask=self.mask(n, null_frac))

    def add(self, name: str, cols: dict[str, object]) -> None:
        out = {}
        for k, v in cols.items():
            if isinstance(v, np.ndarray) and v.dtype.kind in "iu":
                v = pa.array(v.astype(np.int32), pa.int32())
            elif not isinstance(v, pa.Array):
                v = pa.array(v)
            out[k] = v
        n = len(next(iter(out.values())))
        out["uuid"] = pa.array([f"{self.tag}-{name}-{i:08d}" for i in range(n)], pa.string())
        self.tables[name] = out

    def write(self, root: str) -> dict[str, int]:
        os.makedirs(root, exist_ok=True)
        counts = {}
        for name in TABLES:
            t = pa.table(self.tables[name])
            pq.write_table(t, os.path.join(root, f"{name}.parquet"))
            counts[name] = t.num_rows
        return counts


def _build(side: _Side, persons: int, logins: tuple[list[str], list[str]],
           uid_base: int) -> None:
    rng = side.rng
    n_users = len(logins[0])
    uids = np.arange(uid_base, uid_base + n_users, dtype=np.int64)
    side.user_ids = uids
    person_ids = np.arange(1, persons + 1, dtype=np.int64)

    # users: admin, daemon, then a creator chain; user i is person i
    creators = np.empty(n_users, dtype=np.int64)
    creators[0] = uids[0]
    for i in range(1, n_users):
        creators[i] = uids[max(0, i - 1 - int(rng.integers(0, 3)))]
    side.add("users", {
        "user_id": uids,
        "system_id": logins[0],
        "username": logins[1],
        "password": [f"h{int(x)}" for x in rng.integers(0, 10**9, n_users)],
        "salt": [f"s{int(x)}" for x in rng.integers(0, 10**9, n_users)],
        "person_id": person_ids[:n_users],
        "creator": creators,
        "date_created": side.ts(n_users),
        "changed_by": side.pick(uids, n_users, 0.8),
        "date_changed": side.ts(n_users, 0.8),
        "retired": pa.array(np.zeros(n_users, dtype=bool)),
        "retired_by": pa.array([None] * n_users, pa.int32()),
        "retire_reason": pa.array([None] * n_users, pa.string()),
    })

    # person: user persons are created by the next (later) user
    p_creator = uids[rng.integers(0, n_users, persons)]
    p_creator[:n_users] = uids[np.minimum(np.arange(n_users) + 1, n_users - 1)]
    voided = rng.random(persons) < 0.05
    side.add("person", {
        "person_id": person_ids,
        "gender": np.where(rng.random(persons) < 0.5, "M", "F").tolist(),
        "birthdate": side.ts(persons, null_frac=0.2),
        "birthdate_estimated": pa.array(rng.random(persons) < 0.1),
        "dead": pa.array(rng.random(persons) < 0.02),
        "death_date": side.ts(persons, null_frac=0.98),
        "cause_of_death": pa.array([None] * persons, pa.string()),
        "creator": p_creator,
        "date_created": side.ts(persons),
        "changed_by": side.pick(uids, persons, null_frac=0.8),
        "date_changed": side.ts(persons, null_frac=0.8),
        "voided": pa.array(voided),
        "voided_by": pa.array(uids[rng.integers(0, n_users, persons)].astype(np.int32),
                              pa.int32(), mask=~voided),
        "void_reason": pa.array(np.where(voided, "duplicate", None).tolist(), pa.string()),
    })


def generate(root: str, seed: int, persons: int) -> Expected:
    """Write ``root/src`` and ``root/dst`` and return the expected counts."""
    rng = np.random.default_rng(seed)
    src = _Side("s", np.random.default_rng(seed * 2 + 1))
    dst = _Side("d", np.random.default_rng(seed * 2 + 2))

    n_users = max(12, persons // 40)
    # destination users: admin=1, daemon=2, then staff with unique logins;
    # source users: admin=2 (not 1), daemon=3, some log in like a dst user
    d_sys = ["admin", "daemon"] + ["staff"] * (n_users - 2)
    d_name = ["admin", "daemon"] + [f"dst_{i}" for i in range(3, n_users + 1)]
    s_sys = list(d_sys)
    s_name = ["admin", "daemon"] + [f"src_{i}" for i in range(4, n_users + 2)]
    regular = np.arange(2, n_users)
    n_match = max(1, n_users // USER_MATCH)
    chosen = rng.choice(regular, 2 * n_match, replace=False)
    targets = rng.choice(regular, 2 * n_match, replace=False)   # dst indexes
    for i, t in zip(chosen[:n_match], targets[:n_match]):
        s_name[i] = d_name[t]

    _build(dst, persons, (d_sys, d_name), uid_base=1)
    _build(src, persons, (s_sys, s_name), uid_base=2)

    # users that share a destination user's uuid, one to one
    su = src.tables["users"]["uuid"].to_pylist()
    du = dst.tables["users"]["uuid"].to_pylist()
    for i, t in zip(chosen[n_match:], targets[n_match:]):
        su[i] = du[t]
    src.tables["users"]["uuid"] = pa.array(su, pa.string())

    # destination person uuids on a share of source persons; every fifth
    # planted uuid lands on two source persons
    su = src.tables["person"]["uuid"].to_pylist()
    du = dst.tables["person"]["uuid"].to_pylist()
    k = int(persons * UUID_COLLISIONS)
    rows = rng.choice(persons, k, replace=False)
    pool = rng.choice(persons, k - k // 5, replace=False)
    for j, r in enumerate(rows):
        su[r] = du[pool[j % len(pool)]]
    src.tables["person"]["uuid"] = pa.array(su, pa.string())

    moved = {
        "users": n_users - 2 - n_match,
        "person": persons - 2 - n_match,
    }
    return Expected(moved, src.write(os.path.join(root, "src")),
                    dst.write(os.path.join(root, "dst")))
