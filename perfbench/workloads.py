"""The two workloads. Each drives the engine only through its public
functions; a pass is a list of operations, each timed as
(builder seconds, action seconds)."""

from __future__ import annotations

import random
import shutil
import time
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import functions as F

import gen
from archive import ArchiveServer
from oracle import Oracle, digest

Op = Callable[[], tuple[float, float]]


class CheckFailed(Exception):
    pass


class Queries:
    """Registry builders over the seeded driver tables, each followed
    by a ``noop`` write; checked against the DuckDB oracle.

    The batch read path (``qe*``, ``qt2``) and the availableNow streams
    (``qs*``) share one pass, so a run pays the JVM launch and the cold
    pass once for both and has that time left to measure (see
    README.md)."""

    queries = ("qe1_dedup_latest", "qe2_daily_rollup", "qe5_ttl_survivors",
               "qe7_sessionization", "qt2_regional_revenue",
               "qs8_stream_exactly_once_dedup", "qs1_stream_hourly_counts")
    tables = ("events", "region", "nation", "customer", "supplier",
              "orders", "lineitem")
    warmup_passes = 1

    def __init__(self, spark, work: Path, seed: int, k: int):
        from gh_archive_clickhouse_spark.plans.registry import QUERIES

        self.spark, self.work, self.seed, self.k = spark, work, seed, k
        self.data = work / "data"
        self._registry = QUERIES

    def setup(self) -> None:
        gen.write_tables(self.data, self.seed)
        self.oracle = Oracle(self.data, list(self.tables))

    def ops(self, rng: random.Random) -> list[tuple[str, Op]]:
        order = list(self.queries)
        rng.shuffle(order)
        return [(n, lambda n=n: self._run(n)) for n in order]

    def _run(self, name: str) -> tuple[float, float]:
        t0 = time.perf_counter()
        df = self._registry[name].builder(self.spark, str(self.data))
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t1

    def check_ops(self) -> list[tuple[str, Callable[[], None]]]:
        return [(n, lambda n=n: self._check(n)) for n in self.queries]

    def _check(self, name: str) -> None:
        q = self._registry[name]
        got = digest(q.builder(self.spark, str(self.data)).toPandas())
        want = self.oracle.digest(q.oracle)
        if got != want:
            raise CheckFailed(
                f"{name}: engine rows={got[0]} hash={got[1][:12]} vs "
                f"oracle rows={want[0]} hash={want[1][:12]}"
            )

    def clean(self) -> None:
        """Drop what streams and builders leave on disk (temp source
        dirs, stream checkpoints); runs outside the timed region."""
        for d in (self.work / "tmp", self.work / "jtmp"):
            for child in d.iterdir():
                if child.is_dir() and not child.name.startswith(
                        ("spark-", "blockmgr-")):
                    shutil.rmtree(child, ignore_errors=True)

    def after_pass(self) -> dict[str, float]:
        return {}

    def close(self) -> None:
        self.oracle.close()


class Backfill:
    """gh-load write path: fetch + parse the hour files from the
    loopback archive, write, compact, TTL-drop, read back."""

    # after one warm-up pass the next three or four passes still got
    # faster, by about 10 % in all (JIT of the fetch, parse and write
    # paths); three warm-ups take about 8 s of set-up
    warmup_passes = 3

    def __init__(self, spark, work: Path, seed: int, k: int):
        self.spark, self.work, self.seed, self.k = spark, work, seed, k
        self.raw, self.compacted = work / "raw", work / "compacted"
        self.steps: dict[str, float] = {}

    def setup(self) -> None:
        self.archive = gen.archive_hours(self.seed)
        self.server = ArchiveServer(self.archive, self.k).start()

    def fetch(self):
        from gh_archive_clickhouse_spark.sources import gharchive

        return gharchive.backfill(
            self.spark, self.archive.start, self.archive.end,
            base_url=self.server.base_url, jobs=self.k,
        )

    def ops(self, rng: random.Random) -> list[tuple[str, Op]]:
        return [("backfill", self._pass)]

    def _pass(self) -> tuple[float, float]:
        from gh_archive_clickhouse_spark.operators import ttl
        from gh_archive_clickhouse_spark.sources import sinks

        cutoff = self.archive.ttl_cutoff
        t0 = time.perf_counter()
        df = self.fetch()
        t1 = time.perf_counter()
        sinks.write_events(df, str(self.raw))
        t2 = time.perf_counter()
        sinks.compact(self.spark, str(self.raw), str(self.compacted))
        t3 = time.perf_counter()
        self.dropped = ttl.drop_expired_partitions(str(self.compacted), cutoff)
        t4 = time.perf_counter()
        stored = sinks.read_events(self.spark, str(self.compacted))
        view = sinks.dedup_view(
            stored.filter(F.col("dt").cast("string") >= cutoff)
        )
        t5 = time.perf_counter()
        self.readback = {
            str(r["dt"]): r["count"]
            for r in view.groupBy("dt").count().collect()
        }
        t6 = time.perf_counter()
        self.steps = {"write_s": t2 - t1,
                      "compact_s": t3 - t2, "drop_s": t4 - t3,
                      "readback_s": t6 - t4}
        return (t1 - t0) + (t5 - t4), (t4 - t1) + (t6 - t5)

    def check_ops(self) -> list[tuple[str, Callable[[], None]]]:
        return [("backfill", self._check)]

    def _check(self) -> None:
        self._pass()
        want = {d: n for d, n in self.archive.day_keys.items()
                if d >= self.archive.ttl_cutoff}
        problems = []
        if self.readback != want:
            problems.append(f"per-day distinct (ts, id) {self.readback} "
                            f"vs ledger {want}")
        if sorted(self.dropped) != self.archive.expired:
            problems.append(f"dropped {sorted(self.dropped)} vs ledger "
                            f"{self.archive.expired}")
        if problems:
            raise CheckFailed("backfill: " + "; ".join(problems))

    def clean(self) -> None:
        shutil.rmtree(self.raw, ignore_errors=True)
        shutil.rmtree(self.compacted, ignore_errors=True)
        self._served = self.server.counters()

    def after_pass(self) -> dict[str, float]:
        """Traffic, sizes and yields of the pass just run, read from the
        server's counters, from disk and from extra jobs after its
        clock stopped."""
        served = {k: v - self._served[k]
                  for k, v in self.server.counters().items()}
        parts = list(self.raw.rglob("*.parquet"))
        written = sum(p.stat().st_size for p in parts)
        raw = self.spark.read.parquet(str(self.raw))
        survivors = raw.filter(
            F.col("dt").cast("string") >= self.archive.ttl_cutoff).count()
        return {
            "sources.http_requests": served["requests"],
            "sources.http_bytes": served["bytes"],
            "sources.http_404": served["not_found"],
            "sources.parse_yield": raw.count() / served["lines"],
            "sinks.write_s": self.steps["write_s"],
            "sinks.compact_s": self.steps["compact_s"],
            "sinks.readback_s": self.steps["readback_s"],
            "sinks.files_written": len(parts),
            "sinks.bytes_written": written,
            "sinks.bytes_per_input_byte": written / served["bytes"],
            "sinks.dedup_yield": sum(self.readback.values()) / survivors,
            "ttl.drop_s": self.steps["drop_s"],
            "ttl.partitions_dropped": len(self.dropped),
        }

    def close(self) -> None:
        self.server.close()


WORKLOADS = {"backfill": Backfill, "queries": Queries}
