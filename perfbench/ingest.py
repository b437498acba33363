"""``ingest_assets``: the reference topology, one cycle per unit.

Each cycle lands seeded Rapid7 and FortiSIEM bronze JSON, runs the
schema registry, drains two concurrent silver streams over the
registry's schemas, then drains the gold refresh stream. A unit is one
landed event; the latency sample is the cycle's, from its first file
landing to gold publish.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections import Counter

import gen
from harness import OperationFailed, Workload

STREAM_TIMEOUT_S = 120


class IngestAssets(Workload):
    unit_name = "event"
    step_name = "cycle"

    FILES_PER_SOURCE = 20

    def __init__(self, spark, rec, seed: int, work: str):
        self.spark, self.rec, self.seed, self.work = spark, rec, seed, work
        self.cycle_gold_s: list[float] = []
        self.progress = Counter()
        self.silver_seen: set[str] = set()
        self.silver_rows = 0

    # -- set-up -------------------------------------------------------------

    def setup(self, n_steps: int) -> None:
        from event_to_lakehouse_spark.registry.schema_registry import SchemaRegistry

        self.cycles = gen.bronze_cycles(self.seed, n_steps, self.FILES_PER_SOURCE)
        for topic in (gen.RAPID7_TOPIC, gen.FORTI_TOPIC):
            os.makedirs(self.path("bronze", topic), exist_ok=True)
        self.registry = SchemaRegistry(self.spark, self.path("registry"))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def has_step(self, step: int) -> bool:
        return step < len(self.cycles)

    # -- one cycle ----------------------------------------------------------

    def step(self, step: int) -> tuple[int, list[float]]:
        cyc = self.cycles[step]
        t_land = time.perf_counter()
        for f in cyc.files:
            with open(self.path("bronze", f.topic, f.name), "wb") as fh:
                fh.write(f.body)
        self._registry()
        self._silver(step)
        t_gold = time.perf_counter()
        self._gold()
        published = time.perf_counter()
        self.cycle_gold_s.append(published - t_gold)
        return sum(f.record is not None for f in cyc.files), [published - t_land]

    def _registry(self) -> None:
        with self.rec.op("registry.run_once"):
            states = self.registry.run_once(self.path("bronze"))
            bad = {t: s.failure_reason for t, s in states.items() if s.failure_reason}
            if bad:
                raise OperationFailed(f"registry failures: {bad}")

    def _schema(self, topic: str):
        from pyspark.sql import types as T

        return T.StructType.fromJson(json.loads(self.registry.latest_schema(topic)))

    def _silver(self, step: int) -> None:
        from event_to_lakehouse_spark.pipeline.contracts import (
            FORTISIEM_MAPPING,
            RAPID7_MAPPING,
        )
        from event_to_lakehouse_spark.pipeline.normalize import (
            apply_mapping,
            read_bronze,
            start_silver_stream,
        )

        queries = []
        with self.rec.op(
            "normalize.silver_drain", lambda: [str(q.runId) for q in queries]
        ):
            for topic, mapping, ck in (
                (gen.RAPID7_TOPIC, RAPID7_MAPPING, "ck_r7"),
                (gen.FORTI_TOPIC, FORTISIEM_MAPPING, "ck_fs"),
            ):
                bronze = read_bronze(
                    self.spark, self.path("bronze", topic), self._schema(topic), streaming=True
                )
                queries.append(
                    start_silver_stream(
                        apply_mapping(bronze, mapping), self.path("silver"), self.path(ck)
                    )
                )
            drain(queries)
        for q in queries:
            for p in q.recentProgress:
                self.progress["rows_in"] += p["numInputRows"]
                self.progress["add_ms"] += p["durationMs"].get("addBatch", 0)
                self.progress["trigger_ms"] += p["durationMs"].get("triggerExecution", 0)
        self.progress["files_in"] += len(self.cycles[step].files)
        if self.rec.trace:
            t = time.perf_counter()
            files, nbytes, rows = self._new_silver_files()
            self.progress["silver_files"] += files
            self.progress["silver_bytes"] += nbytes
            self.progress["rows_out"] += rows
            self.silver_rows += rows
            self.rec.overhead_s += time.perf_counter() - t

    def _new_silver_files(self) -> tuple[int, int, int]:
        import pyarrow.parquet as pq

        files = nbytes = rows = 0
        for dirpath, _dirs, names in os.walk(self.path("silver")):
            for n in names:
                p = os.path.join(dirpath, n)
                if n.endswith(".parquet") and p not in self.silver_seen:
                    self.silver_seen.add(p)
                    files += 1
                    nbytes += os.path.getsize(p)
                    rows += pq.ParquetFile(p).metadata.num_rows
        return files, nbytes, rows

    def _gold(self) -> None:
        from event_to_lakehouse_spark.pipeline.gold import start_gold_refresh_stream

        queries = []
        with self.rec.op("gold.refresh", lambda: [str(q.runId) for q in queries]):
            queries.append(
                start_gold_refresh_stream(
                    self.spark, self.path("silver"), self.path("gold"), self.path("ck_gold")
                )
            )
            drain(queries)
        # the refresh ignores its micro-batch rows (progress reports 0
        # input rows) and re-reads all of silver: new = this cycle's
        # silver rows, scanned = every silver row
        self.progress["gold_new"] += self.silver_rows - self.progress["gold_seen"]
        self.progress["gold_seen"] = self.silver_rows
        self.progress["gold_scanned"] += self.silver_rows

    # -- checks -------------------------------------------------------------

    def check(self, steps: int) -> list[str]:
        """Silver holds exactly the clean records landed; gold equals a
        latest-wins recompute; corrupt rows equal the malformed files;
        the registry wrote the expected schema versions."""
        from pyspark.sql import functions as F

        from event_to_lakehouse_spark.pipeline.normalize import CORRUPT_COL, read_bronze

        errors = []
        clean = [
            (f.topic, f.record) for c in self.cycles[:steps] for f in c.files if f.record
        ]
        want_silver = Counter(_silver_row(t, r) for t, r in clean)
        got_silver = Counter(
            tuple(r)
            for r in self.spark.read.parquet(self.path("silver"))
            .select(
                "source_system",
                F.coalesce("rapid7_id", "fortisiem_id"),
                "asset_uid",
                "asset_name",
                "risk_score",
            )
            .collect()
        )
        if got_silver != want_silver:
            errors.append(
                f"silver: {sum(got_silver.values())} rows, want "
                f"{sum(want_silver.values())} clean records "
                f"({len(got_silver - want_silver)} unexpected, "
                f"{len(want_silver - got_silver)} missing)"
            )
        latest: dict[str, tuple] = {}
        for t, r in clean:  # cycles in order: the later report wins
            latest[gen.asset_uid(t, r)] = _silver_row(t, r)
        gold = {
            r[2]: tuple(r)
            for r in self.spark.read.parquet(self.path("gold", "current_assets"))
            .select(
                "source_system",
                F.coalesce("rapid7_id", "fortisiem_id"),
                "asset_uid",
                "asset_name",
                "risk_score",
            )
            .collect()
        }
        if len(gold) != len(latest) or _digest(gold) != _digest(latest):
            errors.append(
                f"gold current_assets: {len(gold)} keys, recompute has "
                f"{len(latest)}; digests differ"
            )
        for topic in (gen.RAPID7_TOPIC, gen.FORTI_TOPIC):
            malformed = sum(
                1 for c in self.cycles[:steps] for f in c.files if f.topic == topic and not f.record
            )
            corrupt = (
                read_bronze(self.spark, self.path("bronze", topic), self._schema(topic))
                .filter(F.col(CORRUPT_COL).isNotNull())
                .count()
            )
            if corrupt != malformed:
                errors.append(f"{topic}: {corrupt} corrupt rows, {malformed} malformed files")
        versions = self.schema_versions()
        want_r7 = 2 if steps > 1 else 1
        if versions != {gen.RAPID7_TOPIC: want_r7, gen.FORTI_TOPIC: 1}:
            errors.append(f"registry versions {versions}, want rapid7={want_r7} fortisiem=1")
        return errors

    def schema_versions(self) -> dict[str, int]:
        return {
            t: self.registry.read_state(t).schema_version
            for t in (gen.RAPID7_TOPIC, gen.FORTI_TOPIC)
        }

    # -- per-layer ----------------------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        p = self.progress
        rows_in, rows_out = p["rows_in"], p["rows_out"]
        g = self.cycle_gold_s[self.warmup_steps :]
        q = max(1, len(g) // 4)
        return {
            "registry.schema_versions": sum(self.schema_versions().values()),
            "normalize.files_in": p["files_in"],
            "normalize.rows_in": rows_in,
            "normalize.rows_out": rows_out,
            "normalize.corrupt_rows": rows_in - rows_out,
            "normalize.useful_ratio": rows_out / rows_in if rows_in else 0.0,
            "normalize.progress.addBatch_ms": p["add_ms"],
            "normalize.progress.overhead_ms": p["trigger_ms"] - p["add_ms"],
            "silver.files_written": p["silver_files"],
            "silver.bytes_written": p["silver_bytes"],
            "gold.rows_scanned": p["gold_scanned"],
            "gold.rows_new": p["gold_new"],
            "gold.delta_ratio": p["gold_new"] / p["gold_scanned"] if p["gold_scanned"] else 0.0,
            "gold.refresh_growth": (sum(g[-q:]) / q) / (sum(g[:q]) / q) if g else 0.0,
        }


def drain(queries) -> None:
    """Wait for every availableNow query; a timeout or a query exception
    is a failure, never ignored."""
    from pyspark.errors import StreamingQueryException

    problems = []
    for q in queries:
        try:
            done = q.awaitTermination(STREAM_TIMEOUT_S)
        except StreamingQueryException as e:
            problems.append(f"query {q.id} failed: {str(e).splitlines()[0]}")
            continue
        if not done:
            q.stop()
            problems.append(f"query {q.id}: no termination in {STREAM_TIMEOUT_S}s")
        elif q.exception() is not None:
            problems.append(f"query {q.id}: {str(q.exception()).splitlines()[0]}")
    if problems:
        raise OperationFailed("; ".join(problems))


def _silver_row(topic: str, r: dict) -> tuple:
    if topic == gen.RAPID7_TOPIC:
        return ("rapid7", str(r["id"]), gen.asset_uid(topic, r), r["hostName"], r["riskScore"])
    return ("fortisiem", r["_id"]["$oid"], gen.asset_uid(topic, r), r["name"], None)


def _digest(rows: dict) -> str:
    return hashlib.sha256(repr(sorted(rows.values())).encode()).hexdigest()
