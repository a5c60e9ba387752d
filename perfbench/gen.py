"""Seeded inputs for the benchmark.

Two generators, both pure functions of their seed:

- ``write_tables`` writes the driver-shaped parquet tables the
  queries workload reads (``events`` plus the star
  schema behind ``qt2``), with the column types of FIXTURES.md §3-4.
- ``archive_hours`` builds GHArchive-style hour files (FIXTURES.md §2
  event shape, gzip NDJSON) and the ledger the backfill output is
  checked against.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------
# driver-shaped tables
# --------------------------------------------------------------------

N_EVENTS = 10_000
N_CUSTOMERS = 1_500
N_SUPPLIERS = 100
N_ORDERS = 15_000
N_LINEITEMS = 60_000

_EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)
_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return lo + rng.integers(0, span, n).astype("timedelta64[D]")


def _write(out: Path, name: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(cols, schema=schema), out / f"{name}.parquet")


def write_tables(out: Path, seed: int) -> None:
    """Write events, region, nation, customer, supplier, orders and
    lineitem under ``out``; same seed, same rows."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)

    # events: unique ids, 30 days of microsecond timestamps in random
    # (not time) order, so stream watermarks see out-of-order rows.
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = rng.integers(0, 30 * 86_400 * 1_000_000, N_EVENTS)
    _write(out, "events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, N_EVENTS),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.lognormal(2.5, 1.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    }, pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string()),
    ]))

    _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS,
    }, pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    }, pa.schema([
        ("n_nationkey", pa.int32()), ("n_name", pa.string()),
        ("n_regionkey", pa.int32()),
    ]))
    _write(out, "customer", {
        "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMERS), 2),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, N_CUSTOMERS)],
    }, pa.schema([
        ("c_custkey", pa.int64()), ("c_name", pa.string()),
        ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ]))
    _write(out, "supplier", {
        "s_suppkey": np.arange(N_SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIERS).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, N_SUPPLIERS), 2),
    }, pa.schema([
        ("s_suppkey", pa.int64()), ("s_name", pa.string()),
        ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64()),
    ]))
    odate = _days(rng, "1995-01-01", "2001-08-01", N_ORDERS)
    _write(out, "orders", {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, N_ORDERS), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, N_ORDERS)],
    }, pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
    ]))
    lkey = rng.integers(0, N_ORDERS, N_LINEITEMS)
    ship = odate[lkey] + rng.integers(1, 122, N_LINEITEMS).astype("timedelta64[D]")
    _write(out, "lineitem", {
        "l_orderkey": lkey.astype(np.int64),
        "l_partkey": rng.integers(0, 2_000, N_LINEITEMS),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, N_LINEITEMS),
        "l_linenumber": rng.integers(1, 8, N_LINEITEMS).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINEITEMS).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, N_LINEITEMS), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEMS) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEMS) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEMS)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEMS)],
        "l_shipdate": ship.astype("datetime64[us]"),
    }, pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]))


# --------------------------------------------------------------------
# GHArchive hour files
# --------------------------------------------------------------------

ARCHIVE_START = datetime(2024, 3, 1)
ARCHIVE_DAYS = 6
EVENTS_PER_HOUR = 120
DUP_SHARE = 0.10  # share of each file's events re-sent from the previous file
BAD_PER_HOUR = 2  # malformed lines per file
MISSING_HOURS = 3  # hours the archive does not have (served as 404)
TTL_DAYS = 3

_TYPES = ["PushEvent", "WatchEvent", "IssuesEvent", "PullRequestEvent",
          "CreateEvent", "ForkEvent"]
# unicode, embedded quotes and backslashes in string fields
_LOGINS = ["octo", "dev-ümlaut", "名前", 'say "hi"', "back\\slash", "emoji-🚀"]
_REPOS = ["org/repo", "ørg/répo", 'q"uote/d', "团队/项目", "a/b\\c"]
_BAD_LINES = [
    '{"id": "1", "type": "PushEvent", "created_at": "2024-03-0',  # truncated
    '{"id": null, "type": "PushEvent", "created_at": "2024-03-01T00:00:00Z"}',
    '{"id": "12x", "type": "PushEvent", "created_at": "2024-03-01T00:00:00Z"}',
    '{"id": "7", "type": "PushEvent", "created_at": "not-a-date"}',
    "not json at all",
]


@dataclass
class Archive:
    """Hour files keyed by GHArchive hour key plus what a correct
    backfill of ``start``..``end`` must produce."""

    start: str  # 'YYYY-MM-DDTH', inclusive
    end: str  # exclusive
    files: dict[str, bytes] = field(default_factory=dict)  # key -> .json.gz
    lines: dict[str, int] = field(default_factory=dict)  # key -> lines in file
    missing: list[str] = field(default_factory=list)
    day_keys: dict[str, int] = field(default_factory=dict)  # yyyyMMdd -> distinct (ts, id)
    events: int = 0  # valid events served, duplicates included
    duplicates: int = 0

    @property
    def ttl_cutoff(self) -> str:
        """First yyyyMMdd that survives a TTL_DAYS retention anchored
        at the newest day."""
        last = datetime.strptime(max(self.day_keys), "%Y%m%d")
        return f"{last - timedelta(days=TTL_DAYS):%Y%m%d}"

    @property
    def expired(self) -> list[str]:
        return sorted(f"dt={d}" for d in self.day_keys if d < self.ttl_cutoff)

    def digest(self) -> str:
        h = hashlib.sha256()
        for key in sorted(self.files):
            h.update(key.encode())
            h.update(hashlib.sha256(self.files[key]).digest())
        return h.hexdigest()


def _event(rng: random.Random, eid: int, ts: datetime) -> dict:
    ev = {
        # GitHub sends ids as strings; some producers send numbers
        "id": str(eid) if rng.random() < 0.5 else eid,
        "type": rng.choice(_TYPES),
        "actor": {"id": rng.randrange(1, 10_000), "login": rng.choice(_LOGINS)},
        "repo": {"id": rng.randrange(1, 5_000), "name": rng.choice(_REPOS)},
        "public": True,
        "created_at": f"{ts:%Y-%m-%dT%H:%M:%S}Z",
    }
    roll = rng.random()
    if roll < 0.6:
        ev["payload"] = {"push_id": rng.randrange(10**9), "size": rng.randrange(1, 20),
                         "ref": f"refs/heads/{rng.choice(_LOGINS)}"}
    elif roll < 0.9:
        ev["payload"] = {}  # optional payload keys missing
    # else: no payload key at all
    return ev


def archive_hours(seed: int, days: int = ARCHIVE_DAYS,
                  per_hour: int = EVENTS_PER_HOUR) -> Archive:
    """Build ``days`` days of hour files. Every seed gives the same
    file count, events per file, duplicate share and malformed-line
    count; ids, times and field values change with the seed."""
    rng = random.Random(seed)
    hours = [ARCHIVE_START + timedelta(hours=h) for h in range(days * 24)]
    arch = Archive(start=f"{hours[0]:%Y-%m-%d}T{hours[0].hour}",
                   end=f"{hours[-1] + timedelta(hours=1):%Y-%m-%d}T"
                       f"{(hours[-1] + timedelta(hours=1)).hour}")
    missing = set(rng.sample(range(1, len(hours) - 1), MISSING_HOURS))
    n_dup = round(per_hour * DUP_SHARE)
    keys: dict[str, set] = {}
    eid = rng.randrange(10**9, 2 * 10**9)
    prev: list[dict] = []
    for i, hour in enumerate(hours):
        key = f"{hour:%Y-%m-%d}-{hour.hour}"
        if i in missing:
            arch.missing.append(key)
            continue
        fresh = []
        for _ in range(per_hour - (n_dup if prev else 0)):
            eid += rng.randrange(1, 50)
            ts = hour + timedelta(seconds=rng.randrange(3600))
            fresh.append(_event(rng, eid, ts))
        # re-sent events: same (created_at, id), payload may differ
        dups = []
        for ev in rng.sample(prev, n_dup) if prev else []:
            dup = dict(ev)
            dup["id"] = str(ev["id"]) if isinstance(ev["id"], int) else int(ev["id"])
            dups.append(dup)
        events = fresh + dups
        rng.shuffle(events)
        lines = [json.dumps(ev, ensure_ascii=False) for ev in events]
        for bad in rng.sample(_BAD_LINES, BAD_PER_HOUR):
            lines.insert(rng.randrange(len(lines) + 1), bad)
        body = ("\n".join(lines) + "\n").encode()
        arch.files[key] = gzip.compress(body, compresslevel=6, mtime=0)
        arch.lines[key] = len(lines)
        for ev in events:
            day = ev["created_at"][:10].replace("-", "")
            keys.setdefault(day, set()).add((ev["created_at"], int(ev["id"])))
        arch.events += len(events)
        arch.duplicates += len(dups)
        prev = fresh
    arch.day_keys = {d: len(s) for d, s in sorted(keys.items())}
    return arch
