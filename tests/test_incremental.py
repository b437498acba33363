"""Incremental near-dup index: union-equivalence with full recompute,
durability across reopen, exactly-once replay, geometry pinning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_to_lakehouse_spark.dedup.incremental import NearDupIndex
from event_to_lakehouse_spark.dedup.minhash import candidate_pairs
from event_to_lakehouse_spark.tables import load_tables

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load_tables(spark, SF)["documents"]


def _pairset(df):
    return {(r.doc_id_a, r.doc_id_b, r.jaccard_est) for r in df.collect()}


def test_incremental_equals_full_recompute(spark, tmp_dir):
    """Indexing three batches and unioning the returned pairs must give
    EXACTLY candidate_pairs() over the union — every pair is emitted
    precisely when its later member arrives."""
    docs = _docs(spark)
    idx = NearDupIndex(spark, f"{tmp_dir}/idx")
    got = set()
    for lo, hi in ((0, 170), (170, 340), (340, 500)):
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        got |= _pairset(idx.index_batch(batch, batch_token=f"b{lo}"))
    assert got == _pairset(candidate_pairs(docs))
    assert idx.doc_count() == docs.count()


def test_incremental_reopen_continues(spark, tmp_dir):
    """A NearDupIndex reopened from disk (fresh object, same root)
    probes against everything earlier objects appended."""
    docs = _docs(spark)
    root = f"{tmp_dir}/idx"
    NearDupIndex(spark, root).index_batch(
        docs.filter(F.col("doc_id") < 250), batch_token="b1"
    )
    got = _pairset(
        NearDupIndex(spark, root).index_batch(
            docs.filter(F.col("doc_id") >= 250), batch_token="b2"
        )
    )
    full = _pairset(candidate_pairs(docs))
    cross = {
        p for p in full if (p[0] >= 250) or (p[1] >= 250)
    }  # pairs touching batch 2
    assert got == cross


def test_incremental_replay_idempotent(spark, tmp_dir):
    """Replaying a batch_token is a storage no-op (same snapshot
    version) and returns the same pairs — the batch's own indexed copy
    never self-pairs."""
    docs = _docs(spark)
    idx = NearDupIndex(spark, f"{tmp_dir}/idx")
    idx.index_batch(docs.filter(F.col("doc_id") < 400), batch_token="b1")
    batch2 = docs.filter(F.col("doc_id") >= 400)
    first = _pairset(idx.index_batch(batch2, batch_token="b2"))
    v_bands = idx.bands_table.snapshot().version
    v_sigs = idx.sigs_table.snapshot().version
    replay = _pairset(idx.index_batch(batch2, batch_token="b2"))
    assert idx.bands_table.snapshot().version == v_bands
    assert idx.sigs_table.snapshot().version == v_sigs
    assert replay == first
    assert idx.doc_count() == docs.count()


def test_incremental_geometry_pinned(spark, tmp_dir):
    """Reopening with a different hash flavor / geometry must raise:
    mixed flavors would silently miss every cross-flavor duplicate."""
    root = f"{tmp_dir}/idx"
    NearDupIndex(spark, root, hash_flavor="xxhash64")
    with pytest.raises(ValueError, match="built with"):
        NearDupIndex(spark, root, hash_flavor="portable")
    with pytest.raises(ValueError, match="built with"):
        NearDupIndex(spark, root, n_hashes=32)
    NearDupIndex(spark, root)  # matching geometry reopens fine


def test_incremental_first_batch_self_pairs(spark, tmp_dir):
    """With an empty index, the probe must still find within-batch
    pairs (new-vs-new) — the first batch deduplicates itself."""
    docs = _docs(spark)
    idx = NearDupIndex(spark, f"{tmp_dir}/idx")
    got = _pairset(idx.index_batch(docs))
    assert got == _pairset(candidate_pairs(docs))


def test_exact_incremental_first_arrival_wins(spark, tmp_dir):
    """ExactDedupIndex: batches arriving out of id order keep the FIRST
    arrival canonical; within-batch dups resolve to the batch survivor;
    replay returns the identical frame with no storage change."""
    from pyspark.sql import types as T

    from event_to_lakehouse_spark.dedup.incremental import ExactDedupIndex

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    idx = ExactDedupIndex(spark, f"{tmp_dir}/idx")
    b1 = spark.createDataFrame(
        [(10, "shared content"), (11, "only in batch one"),
         (12, "shared content")],  # within-batch dup
        schema,
    )
    r1 = {r.doc_id: (r.is_new_unique, r.dup_of) for r in idx.index_batch(b1, "b1").collect()}
    assert r1 == {10: (True, None), 11: (True, None), 12: (False, 10)}

    # doc 3 has a SMALLER id but arrives later: 10 stays canonical
    b2 = spark.createDataFrame(
        [(3, "shared content"), (4, "fresh text here")], schema
    )
    r2 = {r.doc_id: (r.is_new_unique, r.dup_of) for r in idx.index_batch(b2, "b2").collect()}
    assert r2 == {3: (False, 10), 4: (True, None)}
    assert idx.doc_count() == 3  # three distinct contents held

    # replay b2: storage no-op, identical frame
    v = idx.table.snapshot().version
    replay = {r.doc_id: (r.is_new_unique, r.dup_of) for r in idx.index_batch(b2, "b2").collect()}
    assert replay == r2
    assert idx.table.snapshot().version == v

    # reopen from disk continues
    again = ExactDedupIndex(spark, f"{tmp_dir}/idx")
    b3 = spark.createDataFrame([(99, "fresh text here")], schema)
    r3 = {r.doc_id: (r.is_new_unique, r.dup_of) for r in again.index_batch(b3, "b3").collect()}
    assert r3 == {99: (False, 4)}


def test_ivf_index_full_probe_equals_bruteforce(spark, tmp_dir):
    """Durable IVF index, exactness escape hatch: with n_probe >=
    n_centroids every cell is probed, so the persisted-index query must
    equal brute-force top-k EXACTLY (no approximation tolerance)."""
    from event_to_lakehouse_spark.similarity.ann import brute_force_topk
    from event_to_lakehouse_spark.similarity.ivf_index import IVFIndex

    emb = load_tables(spark, SF)["embeddings"].select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5)
    idx = IVFIndex.build(spark, f"{tmp_dir}/ivf", emb, cent_stride=50)
    got = {
        (r.query_id, r.vec_id, r.rank)
        for r in idx.query(queries, k=10, n_probe=idx.n_centroids).collect()
    }
    want = {
        (r.query_id, r.vec_id, r.rank)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    assert got == want


def test_ivf_index_incremental_add_and_reopen(spark, tmp_dir):
    """Vectors added in a later batch (and via a reopened index object)
    are found by queries; replayed batch tokens are storage no-ops."""
    from event_to_lakehouse_spark.similarity.ann import brute_force_topk
    from event_to_lakehouse_spark.similarity.ivf_index import IVFIndex

    emb = load_tables(spark, SF)["embeddings"].select("vec_id", "embedding")
    held = emb.filter(F.col("vec_id") % 3 != 0)
    late = emb.filter(F.col("vec_id") % 3 == 0)
    IVFIndex.build(spark, f"{tmp_dir}/ivf", held, cent_stride=50)

    idx = IVFIndex(spark, f"{tmp_dir}/ivf")  # reopen from disk
    idx.add_batch(late, batch_token="late")
    v = idx.assign_table.snapshot().version
    idx.add_batch(late, batch_token="late")  # replay: no-op
    assert idx.assign_table.snapshot().version == v
    assert idx.vec_count() == emb.count()

    queries = emb.filter(F.col("vec_id") < 5)
    got = {
        (r.query_id, r.vec_id, r.rank)
        for r in idx.query(queries, k=10, n_probe=idx.n_centroids).collect()
    }
    want = {
        (r.query_id, r.vec_id, r.rank)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    assert got == want  # late-batch vectors fully queryable


def test_ivf_index_probe_recall(spark, tmp_dir):
    """The approximate operating point: probing half the cells recovers
    most true neighbors (>=60% recall@10 on this corpus — stride-sample
    centroids over synthetic embeddings cluster poorly, so this pins
    the recall/NPROBE tradeoff direction, not production recall) at a
    fraction of the scan."""
    from event_to_lakehouse_spark.similarity.ann import brute_force_topk
    from event_to_lakehouse_spark.similarity.ivf_index import IVFIndex

    emb = load_tables(spark, SF)["embeddings"].select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = IVFIndex.build(spark, f"{tmp_dir}/ivf", emb, cent_stride=50)
    approx = {
        (r.query_id, r.vec_id)
        for r in idx.query(queries, k=10, n_probe=5).collect()
    }
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.6


def test_index_maintain_compacts_and_preserves_results(spark, tmp_dir):
    """maintain() bin-packs each index's accreted per-batch files and
    vacuums old snapshots WITHOUT changing any answer: near-dup probes,
    exact resolution, and IVF queries are identical before/after, and
    batch-token replay protection survives the rewrite."""
    from event_to_lakehouse_spark.dedup.incremental import ExactDedupIndex
    from event_to_lakehouse_spark.similarity.ivf_index import IVFIndex

    docs = _docs(spark)
    ndi = NearDupIndex(spark, f"{tmp_dir}/nd")
    for lo, hi in ((0, 200), (200, 400), (400, 500)):
        ndi.index_batch(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            batch_token=f"b{lo}",
        )
    files_before = len(ndi.bands_table.snapshot().files)
    probe = docs.filter(F.col("doc_id") < 0)  # empty probe: pure read path
    before = _pairset(ndi.index_batch(docs.limit(0), batch_token="nop"))
    removed = ndi.maintain()
    assert removed > 0
    assert len(ndi.bands_table.snapshot().files) < files_before
    # replay of an already-applied batch is STILL a no-op post-compaction
    v = ndi.bands_table.snapshot().version
    ndi.index_batch(
        docs.filter(F.col("doc_id") < 200), batch_token="b0"
    ).collect()
    assert ndi.bands_table.snapshot().version == v
    assert ndi.doc_count() == 500
    del probe, before

    edi = ExactDedupIndex(spark, f"{tmp_dir}/ex")
    edi.index_batch(docs.filter(F.col("doc_id") < 250), batch_token="b1")
    edi.index_batch(docs.filter(F.col("doc_id") >= 250), batch_token="b2")
    held = edi.doc_count()
    edi.maintain()
    assert edi.doc_count() == held

    emb = load_tables(spark, SF)["embeddings"].select("vec_id", "embedding")
    ivf = IVFIndex.build(spark, f"{tmp_dir}/ivf", emb, cent_stride=50)
    queries = emb.filter(F.col("vec_id") < 5)
    before_q = {
        (r.query_id, r.vec_id, r.rank)
        for r in ivf.query(queries, k=10, n_probe=ivf.n_centroids).collect()
    }
    ivf.maintain()
    after_q = {
        (r.query_id, r.vec_id, r.rank)
        for r in ivf.query(queries, k=10, n_probe=ivf.n_centroids).collect()
    }
    assert after_q == before_q

    from event_to_lakehouse_spark.similarity.pq import PQIndex

    pq = PQIndex(spark, f"{tmp_dir}/pq")
    pq.add_batch(emb.filter(F.col("vec_id") < 16), batch_token="boot")
    pq.add_batch(
        emb.filter((F.col("vec_id") >= 16) & (F.col("vec_id") % 2 == 0)),
        batch_token="b1",
    )
    pq.add_batch(
        emb.filter((F.col("vec_id") >= 16) & (F.col("vec_id") % 2 == 1)),
        batch_token="b2",
    )
    before_pq = {
        (r.query_id, r.rank, r.vec_id, r.l2_dist)
        for r in pq.topk(emb, queries).collect()
    }
    removed_pq = pq.maintain()
    assert removed_pq > 0
    # replay protection survives the rewrite
    v = pq.codes_table.snapshot().version
    pq.add_batch(
        emb.filter((F.col("vec_id") >= 16) & (F.col("vec_id") % 2 == 0)),
        batch_token="b1",
    )
    assert pq.codes_table.snapshot().version == v
    after_pq = {
        (r.query_id, r.rank, r.vec_id, r.l2_dist)
        for r in pq.topk(emb, queries).collect()
    }
    assert after_pq == before_pq


def test_bloom_gated_exact_index_matches_ungated(spark, tmp_dir):
    """Admission composition soundness: routing only the bloom-maybe
    sliver into the held join must produce EXACTLY the ungated
    resolutions (no false negatives ⇒ skipped joins can't change a
    verdict), every held-dup verdict must sit inside the bloom-pass
    set, and the bitmap absorbs the batch's new uniques under the same
    token."""
    from event_to_lakehouse_spark.dedup.bloom import BloomIndex
    from event_to_lakehouse_spark.dedup.incremental import ExactDedupIndex

    docs = _docs(spark)
    held = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    plain = ExactDedupIndex(spark, f"{tmp_dir}/plain")
    plain.index_batch(held, batch_token="held")
    want = {
        (r.doc_id, r.is_new_unique, r.dup_of)
        for r in plain.index_batch(batch, batch_token="new").collect()
    }

    ex = ExactDedupIndex(spark, f"{tmp_dir}/gated")
    ex.index_batch(held, batch_token="held")
    bloom = BloomIndex.for_table(spark, f"{tmp_dir}/gbloom", ex.table)
    bloom.add_batch(ex.table.read(), "fp", batch_token="held")
    w0 = bloom.table.snapshot().version
    gated = ex.index_batch(batch, batch_token="new", bloom=bloom).collect()

    assert {(r.doc_id, r.is_new_unique, r.dup_of) for r in gated} == want
    held_ids = {r.doc_id for r in held.collect()}
    for r in gated:  # a held-dup verdict implies the bloom admitted it
        if r.dup_of is not None and r.dup_of in held_ids:
            assert r.bloom_maybe
    assert bloom.table.snapshot().version > w0  # new uniques absorbed
    assert ex.doc_count() == plain.doc_count()


def test_ivf_index_kmeans_fitted_centroids(spark, tmp_dir):
    """IVFIndex.build(centroids=...) on a Lloyd-fitted quantizer: the
    exactness escape hatch (full probe == brute force) must hold for
    ANY centroid source, and the fitted index's partial-probe recall
    must at least match the stride-sample index's at the same budget."""
    from event_to_lakehouse_spark.similarity.ann import (
        brute_force_topk,
        kmeans_fit,
    )
    from event_to_lakehouse_spark.similarity.ivf_index import IVFIndex

    emb = load_tables(spark, SF)["embeddings"].select("vec_id", "embedding")
    cents, iters, shifts = kmeans_fit(emb, init_stride=50, max_iter=3)
    assert iters >= 1 and len(shifts) == iters
    fitted = IVFIndex.build(
        spark, f"{tmp_dir}/ivf_km", emb, centroids=cents
    )
    queries = emb.filter(F.col("vec_id") < 10)
    got = {
        (r.query_id, r.vec_id, r.rank)
        for r in fitted.query(
            queries, k=10, n_probe=fitted.n_centroids
        ).collect()
    }
    want = {
        (r.query_id, r.vec_id, r.rank)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    assert got == want  # full probe exact, centroid-source-agnostic

    stride = IVFIndex.build(spark, f"{tmp_dir}/ivf_st", emb, cent_stride=50)
    exact = {
        (r.query_id, r.vec_id)
        for r in brute_force_topk(emb, queries, k=10).collect()
    }

    def recall(idx):
        hits = {
            (r.query_id, r.vec_id)
            for r in idx.query(queries, k=10, n_probe=5).collect()
        }
        return len(hits & exact) / len(exact)

    assert recall(fitted) >= recall(stride)


# --- durable inverted index (textindex.py) ---------------------------------


def test_inverted_index_serves_batch_bm25_exactly(spark, tmp_dir):
    """Two-batch incremental indexing serves EXACTLY the certified
    whole-corpus batch operator: same docs, same scores, same ranks."""
    from event_to_lakehouse_spark.textindex import InvertedIndex
    from event_to_lakehouse_spark.textops import BM25_QUERY, text_bm25_search

    docs = _docs(spark).select("doc_id", "text")
    idx = InvertedIndex(spark, f"{tmp_dir}/inv")
    idx.add_batch(docs.filter(F.col("doc_id") % 2 == 0), batch_token="e")
    idx.add_batch(docs.filter(F.col("doc_id") % 2 == 1), batch_token="o")
    served = [
        (r.doc_id, r.score, r.n_terms_hit, r.rank)
        for r in idx.topk(BM25_QUERY).collect()
    ]
    batch = [
        (r.doc_id, r.score, r.n_terms_hit, r.rank)
        for r in text_bm25_search(spark, SF).collect()
    ]
    assert served == batch
    assert idx.doc_count() == docs.count()


def test_inverted_index_add_batch_releases_its_cache(spark, tmp_dir):
    """add_batch persists the tokenized postings for its two commits
    and releases them before returning: a fresh batch and a replayed
    one leave no new persisted RDD behind."""
    from event_to_lakehouse_spark.textindex import InvertedIndex

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    docs = _docs(spark).select("doc_id", "text")
    idx = InvertedIndex(spark, f"{tmp_dir}/inv_cache")
    before = persisted()
    idx.add_batch(docs.filter(F.col("doc_id") < 100), batch_token="b0")
    idx.add_batch(docs.filter(F.col("doc_id") < 100), batch_token="b0")
    assert persisted() - before == set()
    assert idx.doc_count() == 100


def test_inverted_index_replay_and_maintain(spark, tmp_dir):
    """Replayed batch tokens are storage no-ops on BOTH tables; a
    crash between the two commits self-heals on retry; maintain()
    compacts without changing any answer and replay protection
    survives the rewrite."""
    from event_to_lakehouse_spark.textindex import InvertedIndex
    from event_to_lakehouse_spark.textops import BM25_QUERY

    docs = _docs(spark).select("doc_id", "text")
    idx = InvertedIndex(spark, f"{tmp_dir}/inv2")
    for lo, hi, tok in ((0, 200, "b0"), (200, 350, "b1"), (350, 450, "b2")):
        idx.add_batch(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            batch_token=tok,
        )
    vp = idx.postings_table.snapshot().version
    vd = idx.doclens_table.snapshot().version
    idx.add_batch(docs.filter(F.col("doc_id") < 200), batch_token="b0")
    assert idx.postings_table.snapshot().version == vp
    assert idx.doclens_table.snapshot().version == vd

    # crash between the two commits: simulate by appending postings
    # only with a fresh token for a NOT-yet-indexed doc, then retrying
    # the full add_batch — the postings commit is skipped, the
    # doclens commit completes.
    from event_to_lakehouse_spark.textindex import tokenize_postings

    tail = docs.filter(F.col("doc_id") == 460)
    postings, _ = tokenize_postings(tail)
    idx.postings_table.append(postings, batch_token="crash")
    idx.add_batch(tail, batch_token="crash")
    assert "crash" in idx.postings_table.snapshot().batch_tokens
    assert "crash" in idx.doclens_table.snapshot().batch_tokens

    before = [
        (r.doc_id, r.score, r.rank) for r in idx.topk(BM25_QUERY).collect()
    ]
    files_before = len(idx.postings_table.snapshot().files)
    removed = idx.maintain()
    assert removed > 0
    assert len(idx.postings_table.snapshot().files) < files_before
    after = [
        (r.doc_id, r.score, r.rank) for r in idx.topk(BM25_QUERY).collect()
    ]
    assert after == before
    # replay protection survives the rewrite
    vp2 = idx.postings_table.snapshot().version
    idx.add_batch(docs.filter(F.col("doc_id") < 200), batch_token="b0")
    assert idx.postings_table.snapshot().version == vp2


def test_inverted_index_topk_is_token_consistent_mid_stream(spark, tmp_dir):
    """ADVICE r10 (medium): between add_batch's two commits (postings
    landed, doclens not — crash window or a reader racing mid-stream)
    topk must NOT score the half-committed batch's postings against
    n_docs/avgdl that exclude it. The reader pins both tables to the
    newest token-consistent frontier, so mid-gap answers equal the
    pre-batch answers exactly; completing the batch then surfaces it."""
    from event_to_lakehouse_spark.textindex import (
        InvertedIndex,
        tokenize_postings,
    )
    from event_to_lakehouse_spark.textops import BM25_QUERY

    docs = _docs(spark).select("doc_id", "text")
    idx = InvertedIndex(spark, f"{tmp_dir}/inv3")
    idx.add_batch(docs.filter(F.col("doc_id") % 2 == 0), batch_token="e")
    idx.add_batch(docs.filter(F.col("doc_id") % 2 == 1), batch_token="o")
    before = [tuple(r) for r in idx.topk(BM25_QUERY).collect()]

    # open the gap: postings hold batch "gap", doclens do not
    gap_docs = docs.filter(F.col("doc_id") < 0).unionByName(
        spark.createDataFrame(
            [(10_000 + i, " ".join(BM25_QUERY) * 3) for i in range(5)],
            ["doc_id", "text"],
        )
    )
    postings, _ = tokenize_postings(gap_docs)
    idx.postings_table.append(postings, batch_token="gap")

    mid = [tuple(r) for r in idx.topk(BM25_QUERY).collect()]
    assert mid == before  # pinned frontier: the half batch is invisible

    idx.add_batch(gap_docs, batch_token="gap")  # crash retry completes
    after = {r.doc_id for r in idx.topk(BM25_QUERY).collect()}
    assert {10_000 + i for i in range(5)} & after  # now served
