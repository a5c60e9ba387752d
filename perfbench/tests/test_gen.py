"""The benchmark's inputs are a pure function of the seed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import gzip
import hashlib
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import gen  # noqa: E402


def _table_digests(out: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(out.glob("*.parquet"))}


def test_same_seed_same_archive_digests():
    assert gen.archive_hours(7).digest() == gen.archive_hours(7).digest()


def test_same_seed_same_table_digests(tmp_path):
    gen.write_tables(tmp_path / "a", 7)
    gen.write_tables(tmp_path / "b", 7)
    a, b = _table_digests(tmp_path / "a"), _table_digests(tmp_path / "b")
    assert len(a) == 7 and a == b


def test_other_seed_other_tables_same_shape(tmp_path):
    import pyarrow.parquet as pq

    gen.write_tables(tmp_path / "a", 7)
    gen.write_tables(tmp_path / "b", 8)
    a, b = _table_digests(tmp_path / "a"), _table_digests(tmp_path / "b")
    assert a["events.parquet"] != b["events.parquet"]
    for name in a:
        ta = pq.read_table(tmp_path / "a" / name)
        tb = pq.read_table(tmp_path / "b" / name)
        assert ta.schema == tb.schema and ta.num_rows == tb.num_rows


def test_other_seed_other_files_same_size_and_duplicate_share():
    a, b = gen.archive_hours(7), gen.archive_hours(8)
    assert a.digest() != b.digest()
    assert set(a.files) != set(b.files)  # the missing hours move too
    assert len(a.files) == len(b.files) and len(a.missing) == len(b.missing)
    assert a.events == b.events and a.duplicates == b.duplicates
    assert sorted(a.lines.values()) == sorted(b.lines.values())
    assert abs(a.duplicates / a.events - gen.DUP_SHARE) < 0.01


def test_ledger_matches_the_served_lines():
    arch = gen.archive_hours(3)
    keys: dict[str, set] = {}
    bad = 0
    for key, blob in arch.files.items():
        lines = gzip.decompress(blob).decode().splitlines()
        assert len(lines) == arch.lines[key]
        for line in lines:
            try:
                ev = json.loads(line)
                eid = int(ev["id"])
                day = ev["created_at"][:10].replace("-", "")
                assert len(ev["created_at"]) == 20
            except (ValueError, TypeError, KeyError, AssertionError):
                bad += 1
                continue
            keys.setdefault(day, set()).add((ev["created_at"], eid))
    assert bad == gen.BAD_PER_HOUR * len(arch.files)
    assert {d: len(s) for d, s in keys.items()} == arch.day_keys
    assert len(arch.day_keys) == gen.ARCHIVE_DAYS
    assert arch.expired == ["dt=20240301", "dt=20240302"]
