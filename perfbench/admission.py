"""``corpus_admission``: the LLM-data ingest path, one batch per unit.

Each batch of seeded documents (planted byte-identical re-sends and
near-duplicates) runs Bloom probe → exact index (with the Bloom
admission filter, which also merges the batch into the bitmap) →
near-duplicate index over the new-unique documents → inverted index
over the same. A unit is one document; the latency sample is the
batch's.
"""

from __future__ import annotations

import os
import time

import gen
from harness import Workload


class TracedBloom:
    """Delegates to a ``BloomIndex`` and wraps the two calls the exact
    index makes into it, so they are measured from outside the package.
    ``add_batch`` runs on the package's worker thread; its span is
    parented under the call that made the probe."""

    def __init__(self, bloom, rec):
        self._bloom, self._rec, self._parent = bloom, rec, None

    def probe(self, df, col):
        self._parent = self._rec.current_span()
        with self._rec.op("dedup.bloom.probe"):
            return self._bloom.probe(df, col)

    def add_batch(self, keys, col, batch_token=None):
        with self._rec.op("dedup.bloom.add_batch", parent=self._parent):
            return self._bloom.add_batch(keys, col, batch_token=batch_token)

    def __getattr__(self, name):
        return getattr(self._bloom, name)


class CorpusAdmission(Workload):
    unit_name = "document"
    step_name = "batch"

    BATCH_SIZE = 200

    def __init__(self, spark, rec, seed: int, work: str):
        self.spark, self.rec, self.seed, self.work = spark, rec, seed, work
        self.verdicts: dict[int, tuple] = {}  # doc_id -> (maybe, new_unique, dup_of)
        self.pairs: set[tuple[int, int]] = set()
        self.timed = {"docs": 0, "maybe": 0, "maybe_true": 0, "admitted": 0}

    def setup(self, n_steps: int) -> None:
        from event_to_lakehouse_spark.dedup.bloom import BloomIndex, bloom_bits
        from event_to_lakehouse_spark.dedup.incremental import ExactDedupIndex, NearDupIndex
        from event_to_lakehouse_spark.textindex import InvertedIndex

        self.batches = gen.corpus_batches(self.seed, n_steps, self.BATCH_SIZE)
        self.frames = [
            self.spark.createDataFrame(
                [(d.doc_id, d.text) for d in b], "doc_id long, text string"
            )
            for b in self.batches
        ]
        self.exact = ExactDedupIndex(self.spark, os.path.join(self.work, "exact"))
        self.neardup = NearDupIndex(self.spark, os.path.join(self.work, "neardup"))
        planned = sum(len(b) for b in self.batches)
        self.bloom = TracedBloom(
            BloomIndex(self.spark, os.path.join(self.work, "bloom"), m_bits=bloom_bits(planned)),
            self.rec,
        )
        self.text = InvertedIndex(self.spark, os.path.join(self.work, "text"))

    def has_step(self, step: int) -> bool:
        return step < len(self.batches)

    def step(self, step: int) -> tuple[int, list[float]]:
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        batch, df, token = self.batches[step], self.frames[step], f"batch-{step}"
        with self.rec.op("dedup.exact.index_batch"):
            rows = self.exact.index_batch(df, batch_token=token, bloom=self.bloom).collect()
        verdicts = {r.doc_id: (r.bloom_maybe, r.is_new_unique, r.dup_of) for r in rows}
        self.verdicts.update(verdicts)
        admitted = sorted(i for i, v in verdicts.items() if v[1])
        new_docs = df.filter(F.col("doc_id").isin(admitted))
        with self.rec.op("dedup.neardup.index_batch"):
            pairs = self.neardup.index_batch(new_docs, batch_token=token).collect()
        self.pairs.update((p.doc_id_a, p.doc_id_b) for p in pairs)
        with self.rec.op("textindex.add_batch"):
            self.text.add_batch(new_docs, batch_token=token)
        done = time.perf_counter() - t0
        if step >= self.warmup_steps:
            held_before = {d.doc_id for b in self.batches[:step] for d in b}
            maybe = [d for d in batch if verdicts[d.doc_id][0]]
            self.timed["docs"] += len(batch)
            self.timed["maybe"] += len(maybe)
            self.timed["maybe_true"] += sum(
                1 for d in maybe if d.kind == "exact" and d.ref in held_before
            )
            self.timed["admitted"] += len(admitted)
        return len(batch), [done]

    # -- checks -------------------------------------------------------------

    def check(self, steps: int) -> list[str]:
        """Re-sends are flagged with ``dup_of`` the first copy and passed
        the Bloom filter; fresh and near-duplicate documents are
        admitted; the text index holds exactly the admitted documents."""
        errors = []
        docs = [d for b in self.batches[:steps] for d in b]
        bad_dup = [d.doc_id for d in docs if d.kind == "exact" and self.verdicts[d.doc_id][1:] != (False, d.ref)]
        if bad_dup:
            errors.append(f"{len(bad_dup)} re-sends not flagged as dup of the first copy, e.g. {bad_dup[:3]}")
        missed = [d.doc_id for d in docs if d.kind == "exact" and not self.verdicts[d.doc_id][0]]
        if missed:
            errors.append(f"{len(missed)} held re-sends were Bloom-negative, e.g. {missed[:3]}")
        bad_new = [d.doc_id for d in docs if d.kind != "exact" and self.verdicts[d.doc_id][1:] != (True, None)]
        if bad_new:
            errors.append(f"{len(bad_new)} fresh documents not admitted, e.g. {bad_new[:3]}")
        n_admitted = sum(1 for d in docs if d.kind != "exact")
        if self.text.doc_count() != n_admitted:
            errors.append(f"text index holds {self.text.doc_count()} docs, admitted {n_admitted}")
        return errors

    # -- per-layer ----------------------------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        t = self.timed
        near = [
            d for b in self.batches[self.warmup_steps : self.warmup_steps + self.timed_steps]
            for d in b if d.kind == "near"
        ]
        found = sum(1 for d in near if (min(d.ref, d.doc_id), max(d.ref, d.doc_id)) in self.pairs)
        return {
            "dedup.bloom.pass_ratio": t["maybe"] / t["docs"] if t["docs"] else 0.0,
            "dedup.bloom.precision": t["maybe_true"] / t["maybe"] if t["maybe"] else 0.0,
            "dedup.admit_ratio": t["admitted"] / t["docs"] if t["docs"] else 0.0,
            "dedup.neardup_recall": found / len(near) if near else 0.0,
        }

