"""``lakehouse_serve``: the read side, one analyst session per unit.

Set-up generates the fixed lakehouse tables and builds a snapshot table
over ``events`` (time zone maps plus a per-file Bloom filter on
``event_id``), an inverted index over ``documents`` and an IVF-PQ index
over ``embeddings``. Each session then runs a BM25 top-k, an ANN top-k,
a point read, a time-range read and one catalog entry through the noop
sink. It commits nothing.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import time
from collections import Counter

import numpy as np

import gen
from harness import Workload

CHECKED_SESSIONS = 5
ANN_K = 10


def _utc(us: int) -> dt.datetime:
    return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)


class LakehouseServe(Workload):
    unit_name = "session"
    step_name = "session"
    # one untimed session that also runs the rotation's other four
    # entries, so every read path and every entry has run once before the
    # timed sessions, which cover every entry once per rotation
    warmup_steps = 1
    min_steps = len(gen.ROTATION)
    trace_steps = len(gen.ROTATION)
    step_multiple = len(gen.ROTATION)

    SIZES = gen.TableSizes(orders=8000, events=6000, documents=600, embeddings=600)

    def __init__(self, spark, rec, seed: int, work: str):
        self.spark, self.rec, self.seed, self.work = spark, rec, seed, work
        self.results: list[dict] = []

    def setup(self, n_steps: int) -> None:
        from event_to_lakehouse_spark.similarity.ivfpq import IVFPQIndex
        from event_to_lakehouse_spark.storage.snapshots import SnapshotTable
        from event_to_lakehouse_spark.tables import load_tables
        from event_to_lakehouse_spark.textindex import InvertedIndex

        self.sf_dir = os.path.join(self.work, "sf")
        self.tables = gen.lakehouse_tables(self.SIZES)
        gen.write_tables(self.tables, self.sf_dir)
        self.sessions = gen.sessions(self.seed, n_steps, self.tables)
        t = load_tables(self.spark, self.sf_dir)
        self.events = SnapshotTable(
            self.spark, os.path.join(self.work, "events"), stats_cols=["ts"], bloom_col="event_id"
        )
        with self.rec.op("storage.append"):
            self.events.append(t["events"])
        self.text = InvertedIndex(self.spark, os.path.join(self.work, "text"))
        with self.rec.op("textindex.add_batch"):
            self.text.add_batch(t["documents"].select("doc_id", "text"))
        self.emb = t["embeddings"].select("vec_id", "embedding")
        with self.rec.op("similarity.build"):
            self.ann = IVFPQIndex.build(self.spark, os.path.join(self.work, "ivfpq"), train=self.emb)
            self.ann.add_batch(self.emb)

    def has_step(self, step: int) -> bool:
        return step < len(self.sessions)

    def step(self, step: int) -> tuple[int, list[float]]:
        from pyspark.sql import functions as F

        s = self.sessions[step]
        t0 = time.perf_counter()
        with self.rec.op("textindex.topk"):
            text = self.text.topk(s.terms).collect()
        with self.rec.op("similarity.topk"):
            query = self.spark.createDataFrame(
                [(-(s.index + 1), s.query_vec)], "vec_id long, embedding array<float>"
            )
            ann = self.ann.topk(self.emb, query, k=ANN_K).collect()
        with self.rec.op("storage.read_point"):
            point = self.events.read_point(s.point_key).collect()
        with self.rec.op("storage.range_read"):
            rng = (
                self.events.read(between=(_utc(s.range_lo_us), _utc(s.range_hi_us)))
                .agg(F.count(F.lit(1)), F.sum("value"))
                .collect()[0]
            )
        self._entry(s.entry)
        latency = time.perf_counter() - t0
        self.results.append({"text": text, "ann": ann, "point": point, "range": rng})
        if step < self.warmup_steps:
            for entry in gen.ROTATION:
                if entry != s.entry:
                    self._entry(entry)
        return 1, [latency]

    def _entry(self, entry: str) -> None:
        from event_to_lakehouse_spark.operators.relational import QUERIES

        with self.rec.op(f"operators.{entry}"):
            QUERIES[entry](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()

    # -- checks -------------------------------------------------------------

    def check(self, steps: int) -> list[str]:
        """BM25 top-k equals a recompute and the certified batch operator;
        full-probe ANN equals brute force; point and range reads equal
        plain filters over the generated table."""
        from pyspark.sql import functions as F

        from event_to_lakehouse_spark.textops import BM25_QUERY, text_bm25_search

        errors = []
        bm25 = Bm25(self.tables["documents"])
        for s, res in zip(self.sessions[:CHECKED_SESSIONS], self.results):
            msg = bm25.verify(s.terms, [(r.doc_id, r.score) for r in res["text"]])
            if msg:
                errors.append(f"session {s.index} textindex.topk: {msg}")
        served = [tuple(r) for r in self.text.topk(BM25_QUERY).collect()]
        certified = [
            tuple(r)
            for r in text_bm25_search(self.spark, self.sf_dir)
            .select("doc_id", "score", "n_terms_hit", "rank")
            .collect()
        ]
        if served != certified:
            errors.append("textindex.topk differs from the certified batch BM25 operator")

        ev = self.tables["events"]
        ts_us = ev["ts"].astype("int64")
        checked = self.sessions[:CHECKED_SESSIONS]
        plain: dict[int, list] = {}
        for r in (
            self.spark.read.parquet(os.path.join(self.sf_dir, "events.parquet"))
            .filter(F.col("event_id").isin([s.point_key for s in checked]))
            .collect()
        ):
            plain.setdefault(r.event_id, []).append((r.event_id, r.user_id, r.event_type, r.value))
        for s, res in zip(self.sessions, self.results):
            i = int(np.searchsorted(ev["event_id"], s.point_key))
            want = (s.point_key, int(ev["user_id"][i]), ev["event_type"][i], float(ev["value"][i]))
            got = [(r.event_id, r.user_id, r.event_type, r.value) for r in res["point"]]
            if got != [want]:
                errors.append(f"session {s.index} read_point {s.point_key}: {got} != {[want]}")
            if s.index < CHECKED_SESSIONS and got != plain.get(s.point_key):
                errors.append(f"session {s.index} read_point differs from a plain filter")
            m = (ts_us >= s.range_lo_us) & (ts_us <= s.range_hi_us)
            n, v = res["range"]
            if n != int(m.sum()) or not math.isclose(v or 0.0, float(ev["value"][m].sum()), rel_tol=1e-9, abs_tol=1e-6):
                errors.append(f"session {s.index} range read: ({n}, {v}) != ({int(m.sum())}, {ev['value'][m].sum()})")

        emb = self.tables["embeddings"]["embedding"].astype(np.float64)
        queries = self.spark.createDataFrame(
            [(-(s.index + 1), s.query_vec) for s in self.sessions[:3]],
            "vec_id long, embedding array<float>",
        )
        full = self.ann.topk(
            self.emb, queries, k=ANN_K, n_probe=self.ann.n_centroids, shortlist=len(emb)
        ).collect()
        by_q: dict[int, list] = {}
        for r in sorted(full, key=lambda r: (r.query_id, r.rank)):
            by_q.setdefault(r.query_id, []).append((r.vec_id, r.l2_dist))
        for s in self.sessions[:3]:
            msg = verify_knn(emb, s.query_vec, by_q.get(-(s.index + 1), []))
            if msg:
                errors.append(f"session {s.index} full-probe ANN: {msg}")
        return errors

    def layer_metrics(self) -> dict[str, float]:
        emb = self.tables["embeddings"]["embedding"].astype(np.float64)
        hits = total = 0
        for s, res in zip(self.sessions, self.results):
            truth = set(brute_force(emb, s.query_vec)[0][:ANN_K])
            hits += len(truth & {r.vec_id for r in res["ann"]})
            total += ANN_K
        return {"similarity.recall_at_k": hits / total if total else 0.0}


def brute_force(emb: np.ndarray, q) -> tuple[np.ndarray, np.ndarray]:
    """(ids by ascending squared L2, distances) over every vector."""
    qv = np.asarray(np.float32(q), dtype=np.float64)
    d = ((emb - qv) ** 2).sum(axis=1)
    order = np.lexsort((np.arange(len(d)), d))
    return order, d


def verify_knn(emb: np.ndarray, q, got: list[tuple[int, float]], tol: float = 1e-4) -> str | None:
    """``got`` is an exact k-NN answer: right length, each reported
    distance equals the true one, and nothing left out is closer."""
    order, d = brute_force(emb, q)
    if len(got) != ANN_K:
        return f"{len(got)} results, want {ANN_K}"
    for vid, dist in got:
        if abs(d[vid] - dist) > tol * max(1.0, d[vid]):
            return f"vec {vid} distance {dist} != {d[vid]}"
    kth = max(dist for _, dist in got)
    ids = {vid for vid, _ in got}
    closer = [int(i) for i in order[: ANN_K * 2] if int(i) not in ids and d[i] < kth - tol * max(1.0, kth)]
    if closer:
        return f"missed closer vectors {closer[:3]}"
    return None


class Bm25:
    """Pure-Python BM25 over the documents table: the same lowercase
    whitespace tokenization and parameters as the package's operator."""

    def __init__(self, docs: dict):
        from event_to_lakehouse_spark.textops import BM25_B, BM25_K1

        self.k1, self.b = BM25_K1, BM25_B
        self.tf = {int(i): Counter(t.lower().split(" ")) for i, t in zip(docs["doc_id"], docs["text"])}
        self.dl = {i: sum(c.values()) for i, c in self.tf.items()}
        self.avgdl = sum(self.dl.values()) / len(self.dl)

    def scores(self, terms: list[str]) -> dict[int, float]:
        n = len(self.tf)
        out: dict[int, float] = {}
        for term in terms:
            df = sum(1 for c in self.tf.values() if term in c)
            if not df:
                continue
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for i, c in self.tf.items():
                tf = c.get(term, 0)
                if tf:
                    norm = tf + self.k1 * (1.0 - self.b + self.b * self.dl[i] / self.avgdl)
                    out[i] = out.get(i, 0.0) + idf * tf * (self.k1 + 1.0) / norm
        return out

    def verify(self, terms: list[str], got: list[tuple[int, float]], k: int = 10, tol: float = 1e-5) -> str | None:
        want = self.scores(terms)
        if len(got) != min(k, len(want)):
            return f"{len(got)} results, want {min(k, len(want))}"
        for doc, score in got:
            if doc not in want or abs(want[doc] - score) > tol:
                return f"doc {doc} score {score} != {want.get(doc)}"
        if got:
            kth = min(s for _, s in got)
            ids = {d for d, _ in got}
            better = [d for d, s in want.items() if d not in ids and s > kth + tol]
            if better:
                return f"missed higher-scoring docs {better[:3]}"
        return None
