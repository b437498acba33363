"""Property-based tests (hypothesis), two tiers:

- PURE logic (schema-evolution algebra, compaction planning, label
  propagation references, ...): Spark-free, hundreds of examples in
  milliseconds.
- STATEFUL maintainers (the r14-r15 suites at the bottom): random
  op interleavings with token replays and commit-gap crash injection,
  checked after every op against a pure-Python model — the pattern
  that flushed out the r14 always-false pointer guard and the r15
  cross-commit feed-fold ordering bug. Spark-bound, so example counts
  are small (5-10); each test names the component and contract it
  walks. Covered: two-step commit, near-dup index, CDC apply,
  inverted-index feed sync, rollup view, SCD2 apply, Bloom admission,
  IVFPQ index, WAP gate, vacuum/tag retention, schema-evolution
  reads, change-feed fold soundness."""

from __future__ import annotations

from hypothesis import given
from hypothesis import strategies as st
from pyspark.sql import types as T

from event_to_lakehouse_spark.registry.evolution import (
    classify,
    diff_schemas,
)
from event_to_lakehouse_spark.storage.compaction import plan_output_files

_TYPES = [
    T.IntegerType(),
    T.LongType(),
    T.DoubleType(),
    T.StringType(),
    T.BooleanType(),
]

_field_names = st.lists(
    st.text(alphabet="abcdefgh", min_size=1, max_size=4),
    min_size=0,
    max_size=6,
    unique=True,
)


@st.composite
def schemas(draw):
    names = draw(_field_names)
    return T.StructType(
        [T.StructField(n, draw(st.sampled_from(_TYPES))) for n in names]
    )


@given(schemas())
def test_self_diff_is_empty(s):
    d = diff_schemas(s, s)
    assert d.empty and classify(d) == "none"


@given(schemas(), schemas())
def test_diff_antisymmetry(a, b):
    """X added going a→b must be X removed going b→a, and type changes
    mirror."""
    ab, ba = diff_schemas(a, b), diff_schemas(b, a)
    assert sorted(ab.added) == sorted(ba.removed)
    assert sorted(ab.removed) == sorted(ba.added)
    assert sorted((p, n, o) for p, o, n in ab.changed) == sorted(ba.changed)


@given(schemas(), schemas())
def test_classify_total_and_sound(a, b):
    """classify always returns a verdict; removals are never 'safe'."""
    d = diff_schemas(a, b)
    verdict = classify(d)
    assert verdict in {"none", "safe", "breaking"}
    if d.removed:
        assert verdict == "breaking"
    if verdict == "none":
        assert d.empty


@given(st.integers(min_value=0, max_value=10**15), st.integers(min_value=1, max_value=10**12))
def test_plan_output_files_bounds(total, target):
    n = plan_output_files(total, target)
    assert n >= 1
    # n files of target size can hold the input; n-1 cannot (unless n==1)
    assert n * target >= total
    if n > 1:
        assert (n - 1) * target < total


def test_lsh_bucket_invariant_under_partitioning(spark):
    """The LSH bucket is a pure function of the vector: repartitioning
    (different physical placement, different task order) must never
    change any assignment — the property that makes bucket-blocked
    dedup reproducible across cluster sizes."""
    import numpy as np
    from pyspark.sql import functions as F

    from event_to_lakehouse_spark.similarity.ann import lsh_bucket

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(200)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    one = {r.vec_id: r.b for r in df.withColumn("b", lsh_bucket()).collect()}
    other = {
        r.vec_id: r.b
        for r in df.repartition(13).withColumn("b", lsh_bucket()).collect()
    }
    assert one == other
    assert all(0 <= b < 64 for b in one.values())  # n_bits=6 range


def test_deterministic_sample_invariant_under_partitioning(spark):
    """Salted-hash sampling membership is a pure function of
    (salt, doc_id): any repartitioning yields the same sample."""
    from pyspark.sql import functions as F

    from event_to_lakehouse_spark.textops import SAMPLE_MAX_BUCKET, SAMPLE_SALT

    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    bucket = F.substring(
        F.sha2(F.concat(F.lit(SAMPLE_SALT), F.col("doc_id").cast("string")), 256), 1, 2
    )
    a = {r.doc_id for r in df.filter(bucket <= SAMPLE_MAX_BUCKET).collect()}
    b = {
        r.doc_id
        for r in df.repartition(17).filter(bucket <= SAMPLE_MAX_BUCKET).collect()
    }
    assert a == b
    assert 0.15 < len(a) / 5000 < 0.25  # ~20% as designed


# --- SnapshotTable._evolve algebra (r4 schema evolution) -------------------

from event_to_lakehouse_spark.storage.snapshots import SnapshotTable


class _FakeDF:
    """Duck-typed stand-in: _evolve only reads .schema."""

    def __init__(self, schema):
        self.schema = schema


_widen_chain = [T.ByteType(), T.ShortType(), T.IntegerType(), T.LongType()]
_widen_f = [T.FloatType(), T.DoubleType()]


@given(
    names=_field_names,
    extra=_field_names,
    seed=st.integers(0, 2**16),
)
def test_evolve_preserves_parent_fields_in_order(names, extra, seed):
    import random

    rnd = random.Random(seed)
    parent = T.StructType(
        [T.StructField(n, rnd.choice(_TYPES), True) for n in names]
    )
    child = T.StructType(
        [
            T.StructField(n, rnd.choice(_TYPES), True)
            for n in extra
            if n not in set(names)
        ]
    )
    out = T.StructType.fromJson(
        SnapshotTable._evolve(parent.jsonValue(), _FakeDF(child))
    )
    # parent prefix intact (names and order), new fields appended
    assert [f.name for f in out.fields[: len(parent.fields)]] == [
        f.name for f in parent.fields
    ]
    assert [f.name for f in out.fields[len(parent.fields):]] == [
        f.name for f in child.fields
    ]


@given(
    pi=st.integers(0, 3),
    ci=st.integers(0, 3),
    flt=st.booleans(),
)
def test_evolve_widening_is_monotone_and_idempotent(pi, ci, flt):
    chain = _widen_f if flt else _widen_chain
    pi, ci = pi % len(chain), ci % len(chain)
    parent = T.StructType([T.StructField("x", chain[pi], True)])
    child = T.StructType([T.StructField("x", chain[ci], True)])
    out1 = SnapshotTable._evolve(parent.jsonValue(), _FakeDF(child))
    widened = T.StructType.fromJson(out1).fields[0].dataType
    assert widened == chain[max(pi, ci)]  # always the wider end
    # idempotent: evolving again with either input changes nothing
    assert SnapshotTable._evolve(out1, _FakeDF(child)) == out1
    assert SnapshotTable._evolve(out1, _FakeDF(parent)) == out1


@given(a=st.sampled_from(_TYPES), b=st.sampled_from(_TYPES))
def test_evolve_rejects_only_chain_incompatible(a, b):
    parent = T.StructType([T.StructField("x", a, True)])
    child = T.StructType([T.StructField("x", b, True)])
    compatible = (
        a == b
        or ({a.typeName(), b.typeName()} <= {"byte", "short", "integer", "long"})
        or ({a.typeName(), b.typeName()} <= {"float", "double"})
    )
    if compatible:
        SnapshotTable._evolve(parent.jsonValue(), _FakeDF(child))
    else:
        import pytest

        with pytest.raises(ValueError):
            SnapshotTable._evolve(parent.jsonValue(), _FakeDF(child))


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)),
        max_size=120,
    )
)
def test_unionfind_labels_match_bfs_reference(edges):
    """The driver-local union-find (the small-graph path of
    cluster_labels) must assign every vertex the MIN id of its
    connected component — checked against an independent BFS over
    arbitrary graphs, including self-loops, duplicates, and both edge
    orientations."""
    from collections import deque

    from event_to_lakehouse_spark.dedup.cluster import _unionfind_labels

    got = dict(_unionfind_labels(list(edges)))

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    seen: set[int] = set()
    for start in adj:
        if start in seen:
            continue
        comp, q = [], deque([start])
        seen.add(start)
        while q:
            v = q.popleft()
            comp.append(v)
            for n in adj[v]:
                if n not in seen:
                    seen.add(n)
                    q.append(n)
        m = min(comp)
        for v in comp:
            want[v] = m
    assert got == want


def test_interval_islands_match_sweep_reference(spark):
    """The distributed gaps-and-islands merge must equal a classic
    single-threaded sweep-line merge on randomized interval sets —
    including exact duplicates, touching endpoints, zero-length
    intervals, and nested containment (seeded RNG: deterministic)."""
    import random

    from pyspark.sql import types as T

    from event_to_lakehouse_spark.operators.events import interval_islands

    rng = random.Random(20240814)
    rows = []
    eid = 0
    for user in range(12):
        for _ in range(rng.randint(0, 40)):
            s = rng.randint(0, 200)
            e = s + rng.choice([0, 0, 1, 2, 5, 30, rng.randint(0, 80)])
            rows.append((user, eid, s, e))
            eid += 1
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("s", T.LongType()),
            T.StructField("e", T.LongType()),
        ]
    )
    got = {
        (r.user_id, r.island_start, r.island_end, r.covered_s, r.n_events)
        for r in interval_islands(
            spark.createDataFrame(rows, schema).repartition(7)
        ).collect()
    }

    want = set()
    by_user: dict[int, list[tuple[int, int]]] = {}
    for u, _, s, e in rows:
        by_user.setdefault(u, []).append((s, e))
    for u, ivs in by_user.items():
        ivs.sort()
        cur_s, cur_e, n = None, None, 0
        for s, e in ivs:
            if cur_s is None:
                cur_s, cur_e, n = s, e, 1
            elif s <= cur_e:
                cur_e, n = max(cur_e, e), n + 1
            else:
                want.add((u, cur_s, cur_e, cur_e - cur_s, n))
                cur_s, cur_e, n = s, e, 1
        if cur_s is not None:
            want.add((u, cur_s, cur_e, cur_e - cur_s, n))

    assert got == want


# --- round-6 graph/stats cores on RANDOM inputs -----------------------------
#
# The fixed-corpus invariant tests (test_graph_stats.py) pin the
# registered entries; these drive the CORES over hypothesis-generated
# structures so structural edge cases (stars, chains, ties) are
# exercised, with few examples (each spins Spark jobs).

from hypothesis import HealthCheck, example, settings

# Example budget for the Spark-bound property tests below. The CI
# default stays small (each example spins real Spark jobs); soak runs
# export SPARK_GRAFT_PROP_EXAMPLES to push the same generators much
# deeper — the bug-hunting mode that surfaced the r14 pointer guard
# and the r15 feed-fold ordering bug.
import os as _os

_PROP_EXAMPLES = int(_os.environ.get("SPARK_GRAFT_PROP_EXAMPLES", "0"))


def _ex(default: int) -> int:
    return _PROP_EXAMPLES or default



@given(
    edges=st.sets(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=_ex(5), deadline=None)
def test_pagerank_mass_conserved_on_random_graphs(edges):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from event_to_lakehouse_spark.operators.graph import pagerank

    spark = SparkSession.getActiveSession() or SparkSession.builder.master(
        "local[4]"
    ).getOrCreate()
    sym = sorted({(a, b) for a, b in edges} | {(b, a) for a, b in edges})
    df = spark.createDataFrame(sym, ["src", "dst"])
    out = pagerank(df).collect()
    n = len({a for a, _ in sym})
    # a probability distribution over the nodes: positive, sums to 1
    assert len(out) == n
    assert all(r.pr_scaled > 0 for r in out)
    assert abs(sum(r.pr_scaled for r in out) / n - 1.0) < 1e-3


@given(
    counts=st.dictionaries(
        st.tuples(st.integers(0, 5), st.sampled_from(["a", "b", "c", "d"])),
        st.integers(1, 50),
        min_size=1,
        max_size=18,
    )
)
@settings(max_examples=_ex(5), deadline=None)
def test_entropy_from_counts_bounds_and_exactness(counts):
    import math

    from pyspark.sql import SparkSession

    from event_to_lakehouse_spark.streaming.jobs import entropy_from_counts

    spark = SparkSession.getActiveSession() or SparkSession.builder.master(
        "local[4]"
    ).getOrCreate()
    rows = [(u, t, c) for (u, t), c in counts.items()]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "c"])
    got = {r.user_id: r for r in entropy_from_counts(df).collect()}
    by_user: dict = {}
    for u, t, c in rows:
        by_user.setdefault(u, []).append(c)
    for u, cs in by_user.items():
        tot = sum(cs)
        want = -sum((c / tot) * math.log(c / tot) for c in cs)
        r = got[u]
        assert r.n_events == tot and r.n_types == len(cs)
        assert abs(r.entropy - round(want, 4)) < 1e-9
        if len(cs) == 1:
            assert r.norm_entropy is None
        else:
            assert 0.0 <= r.norm_entropy <= 1.0
            assert abs(
                r.norm_entropy - round(want / math.log(len(cs)), 4)
            ) < 1e-9


# -- round-9 pure logic: AVI codec, Morton interleave ------------------------


@given(
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=5),
    st.integers(min_value=1, max_value=4),
    st.randoms(use_true_random=False),
)
def test_avi_roundtrip_any_geometry(w, h, n_frames, rnd):
    """encode_avi → decode_video is pixel-exact for ANY geometry —
    including odd widths (row padding) and odd chunk sizes (RIFF even
    padding)."""
    from event_to_lakehouse_spark.multimodal.binary import (
        decode_video,
        encode_avi,
    )

    frames = [
        bytes(rnd.randrange(256) for _ in range(3 * w * h))
        for _ in range(n_frames)
    ]
    v = decode_video(encode_avi(w, h, frames, frame_ms=33))
    assert (v["width"], v["height"], v["n_frames"]) == (w, h, n_frames)
    assert v["frames"] == frames


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 16) - 1),
            st.integers(min_value=0, max_value=(1 << 16) - 1),
        ),
        min_size=1,
        max_size=32,
    )
)
def test_morton_interleave_is_injective_and_monotone_per_dim(pts):
    """The pure-python Morton reference (mirrors zorder_key's bit
    placement): distinct points map to distinct keys, and fixing one
    coordinate makes the key strictly monotone in the other — the
    property zone-map pruning relies on."""

    def morton(x, y, bits=16):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    keys = {(x, y): morton(x, y) for x, y in pts}
    assert len(set(keys.values())) == len(keys)  # injective
    for (x, y) in pts:
        if x + 1 < (1 << 16):
            assert morton(x + 1, y) > morton(x, y)
        if y + 1 < (1 << 16):
            assert morton(x, y + 1) > morton(x, y)


@given(
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=0, max_value=4),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_png_roundtrip_any_geometry_any_filter(w, h, ft, rnd):
    """PNG encode→decode is the identity on pixels for every geometry
    and every scanline filter type (the Paeth/Average carry paths
    included)."""
    import random

    from event_to_lakehouse_spark.multimodal.binary import (
        decode_png,
        encode_png,
    )

    rgb = bytes(random.Random(rnd).randrange(256) for _ in range(3 * w * h))
    img = decode_png(encode_png(w, h, rgb, filter_type=ft))
    assert (img["width"], img["height"]) == (w, h)
    assert img["pixels"] == rgb


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),  # fine QI cell
            st.integers(min_value=0, max_value=3),  # sensitive value
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=2, max_value=6),
)
def test_k_anonymity_coarsening_is_monotone(rows, k):
    """Pure form of the ladder law: merging QI cells (fine // 2) can
    only raise the min group size and shrink the below-k row mass —
    for ANY table and ANY k."""
    from collections import Counter

    def level(cells):
        sizes = Counter(cells)
        below = sum(s for s in sizes.values() if s < k)
        return min(sizes.values()), below

    fine = [q for q, _ in rows]
    coarse = [q // 2 for q in fine]
    min_f, below_f = level(fine)
    min_c, below_c = level(coarse)
    assert min_c >= min_f
    assert below_c <= below_f


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=3),
        ),
        min_size=1,
        max_size=60,
    ),
)
def test_l_diversity_coarsening_is_monotone(rows):
    """Merged groups' distinct-sensitive counts dominate each
    constituent's — min_l never falls under coarsening."""
    def min_l(keyed):
        groups: dict = {}
        for q, s in keyed:
            groups.setdefault(q, set()).add(s)
        return min(len(v) for v in groups.values())

    fine = rows
    coarse = [(q // 2, s) for q, s in rows]
    assert min_l(coarse) >= min_l(fine)


@given(
    st.lists(
        st.integers(min_value=0, max_value=2**40),
        min_size=1,
        max_size=200,
    ),
    st.integers(min_value=2, max_value=8),
)
def test_kmv_merge_law_pure(hashes, parts):
    """k smallest of a union == k smallest of the per-part k-smallest
    sets, for ANY partitioning — the law that makes StatsCatalog's
    ANALYZE incremental (here in pure form, any k)."""
    k = 16
    whole = sorted(set(hashes))[:k]
    chunks = [hashes[i::parts] for i in range(parts)]
    merged = sorted(
        set(h for c in chunks for h in sorted(set(c))[:k])
    )[:k]
    assert merged == whole


@given(
    st.integers(min_value=2, max_value=7),
)
def test_chain_orders_count_and_connectivity_any_length(n):
    """The connected left-deep enumeration law generalizes: a path of
    n tables has exactly 2^(n-1) interval-growing orders."""
    import event_to_lakehouse_spark.operators.audit as audit

    saved = audit._CHAIN
    try:
        audit._CHAIN = [f"t{i}" for i in range(n)]
        orders = audit._chain_orders()
        assert len(orders) == 2 ** (n - 1)
        assert len({tuple(o) for o in orders}) == len(orders)
        pos = {t: i for i, t in enumerate(audit._CHAIN)}
        for o in orders:
            for i in range(1, n + 1):
                idxs = sorted(pos[t] for t in o[:i])
                assert idxs == list(range(idxs[0], idxs[-1] + 1))
    finally:
        audit._CHAIN = saved


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),  # rel_micro
            st.lists(
                st.integers(min_value=-(10**6), max_value=10**6),
                min_size=0,
                max_size=0,
            ),
        ),
        min_size=2,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_mmr_greedy_reference_properties(pool_rels, rnd):
    """Pure MMR greedy on a random pool: picks are distinct, pick 1 is
    the relevance argmax, and every later pick maximizes the scored
    objective over the remaining candidates at its step (verified by
    brute force)."""
    import random

    from event_to_lakehouse_spark.similarity.mmr import MMR_DIV_W, MMR_REL_W

    rng = random.Random(rnd)
    ids = list(range(len(pool_rels)))
    rel = {i: r for i, (r, _) in zip(ids, pool_rels)}
    sim = {
        (a, b): rng.randrange(-(10**6), 10**6)
        for a in ids
        for b in ids
        if a != b
    }
    k = min(4, len(ids))
    sel = [min(ids, key=lambda c: (-rel[c], c))]
    for _ in range(k - 1):
        remaining = [c for c in ids if c not in sel]
        if not remaining:
            break

        def score(c):
            pen = max(sim[(c, s)] for s in sel)
            return MMR_REL_W * rel[c] - MMR_DIV_W * pen

        best = min(remaining, key=lambda c: (-score(c), c))
        for c in remaining:  # argmax verified against every candidate
            assert (score(best), -best) >= (score(c), -c) or best == c
        sel.append(best)
    assert len(set(sel)) == len(sel)
    assert sel[0] == min(ids, key=lambda c: (-rel[c], c))


def test_global_row_numbers_equals_single_sort(spark):
    """The range-partitioned exact rank (ADVICE r12) must equal the
    single-window row_number for EVERY input shape — both plan
    branches of the adaptive helper and the bucketed path under
    adversarial value distributions: massive tie blocks (every rank
    in one bucket), skewed heads, negatives, and a constant column
    (splits collapse to one bucket). Forcing n_buckets=5 on tiny
    frames exercises bucket boundaries directly regardless of the
    size-estimate branch; force_bucketed pins the bucketed plan (the
    size estimate would otherwise route these tiny frames direct, and
    the direct branch IS the reference being compared against)."""
    from pyspark.sql import functions as F, Window

    from event_to_lakehouse_spark.operators.stats import (
        _global_row_numbers,
    )

    cases = [
        # (values, ids): ties, skew, negatives, constants, singleton
        ([5.0] * 40 + [1.0, 2.0, 3.0], range(43)),
        ([float(i % 3) for i in range(50)], range(50)),
        ([-2.5, -2.5, 0.0, 7.75, 7.75, 7.75], range(6)),
        ([0.0] * 25, range(25)),
        ([42.0], [7]),
    ]
    for vals, ids in cases:
        df = spark.createDataFrame(
            list(zip(map(float, vals), map(int, ids))),
            "value double, event_id long",
        )
        got = {
            (r.value, r.event_id): r.rn
            for r in _global_row_numbers(
                df, "value", "event_id", n_buckets=5,
                force_bucketed=True,
            ).collect()
        }
        want = {
            (r.value, r.event_id): r.rn
            for r in df.withColumn(
                "rn",
                F.row_number()
                .over(Window.orderBy("value", "event_id"))
                .cast("long"),
            ).collect()
        }
        assert got == want, (vals[:5], len(vals))


@settings(
    max_examples=_ex(8),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),  # token id (≤5 unique)
            st.booleans(),  # crash between manifest link and pointer advance
        ),
        min_size=1,
        max_size=6,
    )
)
def test_snapshot_commit_replay_crash_property(spark, ops):
    """r14 property pin for the two-step commit: under ANY sequence of
    token-carrying appends — including replays and writers killed
    between the manifest hard-link and the pointer advance — the table
    reads exactly ONE copy of each unique token's batch, the manifest
    chain is authoritative (crashed commits are durable), the stale
    pointer never exceeds the manifest max, and one clean commit heals
    it to the tip."""
    import tempfile
    from unittest import mock

    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

    root = tempfile.mkdtemp(prefix="snapprop_")
    t = SnapshotTable(spark, root)

    def batch(tid):
        return spark.createDataFrame(
            [(tid, tid * 10 + j) for j in range(2)], ["tid", "val"]
        )

    class Killed(BaseException):
        pass

    committed: list[int] = []  # unique tids in effective commit order
    for tid, crash in ops:
        is_replay = tid in committed
        if crash and not is_replay:
            with mock.patch.object(
                SnapshotTable, "_advance_pointer",
                side_effect=Killed("crash in the gap"),
            ):
                try:
                    t.append(batch(tid), batch_token=f"t{tid}")
                except Killed:
                    pass
            t = SnapshotTable(spark, root)  # the killed writer's successor
        else:
            t.append(batch(tid), batch_token=f"t{tid}")
        if not is_replay:
            committed.append(tid)
        # invariants after every op: chain length == effective commits,
        # pointer never past the manifests
        assert t._latest_version() == len(committed)
        assert t._pointer_version() <= t._latest_version()

    got = sorted(
        (r.tid, r.val) for r in t.read().collect()
    )
    want = sorted((tid, tid * 10 + j) for tid in committed for j in range(2))
    assert got == want  # exactly-once per token, crashes notwithstanding

    # one clean commit heals the pointer to the tip
    t.append(batch(9), batch_token="t9")
    assert t._pointer_version() == t._latest_version() == len(committed) + 1


# ---------------------------------------------------------------------------
# VERDICT r14 #2: extend the bug-finding property pattern (the r14
# commit suite flushed out the always-false pointer guard) to the
# OTHER stateful maintainer with replay/merge invariants — the
# incremental near-dup index (dedup/incremental.py index_batch /
# delete_docs).

_ND_POOL = [
    "the quick brown fox jumps over the lazy dog tonight",
    "the quick brown fox jumps over the lazy dog today",
    "pack my box with five dozen liquor jugs right now",
    "sphinx of black quartz judge my vow before noon",
    "the quick brown fox jumps over the lazy dog tonight",  # exact dup of [0]
]


def _nd_batch(spark, batch_id):
    """Deterministic 4-doc batch: ids unique per batch, texts drawn
    from a small pool so near-duplicate pairs exist across batches."""
    rows = [
        (batch_id * 10 + j, _ND_POOL[(batch_id + j) % len(_ND_POOL)])
        for j in range(4)
    ]
    return rows


def _nd_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _nd_index(spark, prefix):
    import tempfile

    from event_to_lakehouse_spark.dedup.incremental import NearDupIndex

    return NearDupIndex(
        spark,
        tempfile.mkdtemp(prefix=prefix),
        n_hashes=8,
        bands=4,
        max_bucket=50,
    )


def _nd_probe_fresh(spark, model, batch_rows):
    """REFERENCE result: probing ``batch_rows`` against a fresh
    one-shot index holding exactly ``model`` (the union-equivalence
    theorem's right-hand side)."""
    ref = _nd_index(spark, "ndprop_ref_")
    held = [(i, t) for i, t in sorted(model.items())]
    if held:
        ref.index_batch(_nd_df(spark, held), batch_token="m")
    got = ref.index_batch(_nd_df(spark, batch_rows), batch_token="n")
    return sorted((r.doc_id_a, r.doc_id_b, r.jaccard_est) for r in got.collect())


def _nd_stored_ids(table):
    try:
        return {r.doc_id for r in table.read().select("doc_id").collect()}
    except FileNotFoundError:
        return set()


@settings(
    max_examples=_ex(5),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["add", "forget"]),
            st.integers(min_value=0, max_value=3),  # batch id / residue
            st.booleans(),  # crash between the two table commits
        ),
        min_size=1,
        max_size=3,
    )
)
def test_neardup_index_add_forget_replay_crash_property(spark, ops):
    """Under ANY interleaving of index_batch / delete_docs — including
    token replays and writers killed between the bands commit and the
    sigs commit — the index must stay in lock-step with a model dict:

    - bands doc_ids == sigs doc_ids == model keys after every
      completed (retried-if-crashed) op — the two tables never drift;
    - doc_count() == len(model) — exactly-once per token;
    - EVERY index_batch call (first, crash-retry, or late replay)
      returns exactly the pairs a FRESH index over (model \\ batch)
      would return for that batch — i.e. a batch's own committed
      copies never self-pair, never double bucket counts, never
      duplicate scored rows (union-equivalence under history).
    """
    from unittest import mock

    class Killed(BaseException):
        pass

    idx = _nd_index(spark, "ndprop_idx_")
    model: dict[int, str] = {}
    seen_ops: set[tuple[str, int]] = set()

    for kind, sel, crash in ops:
        if kind == "add":
            rows = _nd_batch(spark, sel)
            token = f"add{sel}"
            is_replay = ("add", sel) in seen_ops
            pre_model = {
                i: t for i, t in model.items()
                if i not in {r[0] for r in rows}
            }
            if crash:
                with mock.patch.object(
                    idx.sigs_table, "append", side_effect=Killed("gap")
                ):
                    try:
                        idx.index_batch(_nd_df(spark, rows), batch_token=token)
                    except Killed:
                        pass
                # the retry is the completed op whose result we check
            got = idx.index_batch(_nd_df(spark, rows), batch_token=token)
            got_rows = sorted(
                (r.doc_id_a, r.doc_id_b, r.jaccard_est) for r in got.collect()
            )
            want_rows = _nd_probe_fresh(spark, pre_model, rows)
            assert got_rows == want_rows, (kind, sel, crash, is_replay)
            # a replayed token is a no-op: it never resurrects forgotten docs
            if not is_replay:
                model.update({i: t for i, t in rows})
            seen_ops.add(("add", sel))
        else:
            victims = sorted(i for i in model if i % 3 == sel % 3)
            if not victims:
                continue
            token = f"del{sel}"
            is_replay = ("forget", sel) in seen_ops
            vdf = _nd_df(spark, [(i, "") for i in victims]).select("doc_id")
            if crash:
                with mock.patch.object(
                    idx.sigs_table, "delete_keys", side_effect=Killed("gap")
                ):
                    try:
                        idx.delete_docs(vdf, batch_token=token)
                    except Killed:
                        pass
            idx.delete_docs(vdf, batch_token=token)
            if not is_replay:
                for i in victims:
                    del model[i]
            seen_ops.add(("forget", sel))
        assert _nd_stored_ids(idx.bands_table) == set(model)
        assert _nd_stored_ids(idx.sigs_table) == set(model)
        assert idx.doc_count() == len(model)

# ---------------------------------------------------------------------------
# VERDICT r14 #3: the same random-interleaving property pattern for the
# CDC apply merge (storage.snapshots.apply_changes — the batch kernel
# cdc_apply_stream commits through): random I/U/D batches with reused
# identities, token replays, and sidecar gaps vs a model dict.

_cdc_batches = st.lists(
    st.tuples(
        st.sampled_from(["apply", "replay", "gap"]),
        st.dictionaries(
            keys=st.tuples(
                st.integers(min_value=0, max_value=3),  # key
                st.integers(min_value=0, max_value=2),  # order_col
                st.integers(min_value=0, max_value=1),  # seq tiebreak
            ),
            values=st.tuples(
                st.sampled_from(["I", "U", "D"]),
                st.sampled_from(["red", "blue", "green"]),
            ),
            min_size=1,
            max_size=3,
        ),
    ),
    min_size=1,
    max_size=4,
)


def _cdc_model_apply(model, batch):
    """Reference semantics of apply_changes: net per key = newest by
    (order, seq); net D deletes UNCONDITIONALLY (kept = base anti
    del_keys — no order check on deletes); net I/U applies iff its
    (order, seq) >= the base row's (batch beats base at equal
    identity — the deterministic r13 tie rule)."""
    net = {}
    for (k, o, s), (op, p) in batch.items():
        if k not in net or (o, s) > (net[k][0], net[k][1]):
            net[k] = (o, s, op, p)
    for k, (o, s, op, p) in net.items():
        if op == "D":
            model.pop(k, None)
        elif k not in model or (o, s) >= (model[k][0], model[k][1]):
            model[k] = (o, s, p)


@settings(
    max_examples=_ex(5),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_cdc_batches, pruned=st.booleans())
def test_cdc_apply_changes_replay_gap_property(spark, ops, pruned):
    """Under ANY sequence of CDC batches — reused (key, order, seq)
    identities with different payloads, replayed batch tokens, and
    delete-bearing commits written WITHOUT their changelog sidecar
    (the documented crash gap) — the fact table equals the model
    dict, replays are exact no-ops, every recorded feed folds its
    commit (before + '+' − '-' == after as multisets, empty when the
    commit changed nothing), and the feed surfaces a sidecar gap as
    ValueError instead of silently wrong deltas. ``pruned`` runs the
    whole property again with stats_col=key (the manifest-pruned
    merge path)."""
    import tempfile
    from collections import Counter

    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

    root = tempfile.mkdtemp(prefix="cdcprop_")
    t = SnapshotTable(spark, root, stats_col="k" if pruned else None)
    model: dict[int, tuple[int, int, str]] = {}
    applied: list[dict] = []  # batches by token index
    gap_versions: list[int] = []

    def table_rows():
        try:
            return Counter(
                (r.k, r.o, r.seq, r.payload) for r in t.read().collect()
            )
        except FileNotFoundError:
            return Counter()

    def model_rows():
        return Counter((k, o, s, p) for k, (o, s, p) in model.items())

    for kind, batch in ops:
        if kind == "replay" and not applied:
            continue
        if kind == "replay":
            bi = len(applied) - 1
            batch = applied[bi]
            token = f"b{bi}"
        else:
            token = f"b{len(applied)}"
        rows = [
            (k, o, s, op, p) for (k, o, s), (op, p) in sorted(batch.items())
        ]
        df = spark.createDataFrame(
            rows, "k int, o int, seq int, _op string, payload string"
        )
        before = table_rows()
        v_before = t._latest_version()
        snap = t.apply_changes(
            df,
            key="k",
            order_col="o",
            tiebreak="seq",
            batch_token=token,
            changelog=(kind != "gap"),
        )
        if kind == "replay":
            assert snap.version == v_before  # storage no-op
            assert table_rows() == before
            continue
        _cdc_model_apply(model, batch)
        applied.append(batch)
        after = table_rows()
        assert after == model_rows(), (kind, rows)
        if snap.version > v_before:
            # A sidecar-less ("gap") commit may refuse the feed even
            # when no ROW changed: apply_changes rewrites the touched
            # FILES regardless (hypothesis found this with a delete of
            # an absent key — version advanced, rows identical, paths
            # new). The contract is therefore: refusing is legal ONLY
            # for gap commits; any feed that IS served must fold its
            # commit exactly, and a no-row-change commit's feed is
            # empty.
            try:
                feed = t.change_feed(snap.version - 1, snap.version).collect()
            except ValueError:
                assert kind == "gap", "changelog commit refused its feed"
                gap_versions.append(snap.version)
            else:
                plus = Counter(
                    (r.k, r.o, r.seq, r.payload)
                    for r in feed
                    if r._change == "+"
                )
                minus = Counter(
                    (r.k, r.o, r.seq, r.payload)
                    for r in feed
                    if r._change == "-"
                )
                assert before + plus - minus == after, (rows, feed)
                if before == after:
                    assert not feed  # no silent noise when nothing changed
            # (no "gap must refuse" converse: a pruned or first-commit
            # gap op can legitimately commit append-only — old paths
            # all retained — and such feeds are expressible and served)
    # a feed scan spanning any gap refuses too
    if gap_versions:
        try:
            t.change_feed(0, t._latest_version())
            raise AssertionError("range feed crossed a sidecar gap")
        except ValueError:
            pass

# ---------------------------------------------------------------------------
# r15: compose the two maintainers — random CDC commits into a source
# table, randomly-batched change_feed windows synced into the
# InvertedIndex. This composition is what flushed out the
# same-version-rewrite fold bug (textindex.sync_from_changelog
# tiebreak_col; pinned deterministically in test_index_deletes).

_IDX_POOL = ["crimson rose red", "azure sea blue", "verdant leaf green"]


@settings(
    max_examples=_ex(5),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.dictionaries(
                keys=st.tuples(
                    st.integers(min_value=0, max_value=3),  # doc_id
                    st.integers(min_value=0, max_value=2),  # version
                    st.integers(min_value=0, max_value=1),  # seq tiebreak
                ),
                values=st.sampled_from(["I", "U", "D"]),
                min_size=1,
                max_size=3,
            ),
            st.booleans(),  # sync a window after this commit?
        ),
        min_size=1,
        max_size=4,
    )
)
def test_inverted_index_feed_sync_lockstep_property(spark, ops):
    """Under ANY sequence of CDC commits (inserts, same-version
    payload rewrites via seq, deletes) synced into the inverted index
    through randomly-batched multi-commit feed windows — each window
    also REPLAYED once with its token — the index must equal a fresh
    index over the table's final rows: same doc set, same postings,
    same doc lengths. Payload is a deterministic function of the
    (doc_id, v, seq) identity, so a reused identity is always a
    byte-identical reapply (the fingerprint contract; a payload
    rewrite at fully-reused identity is documented as out of the
    fold's reach)."""
    import tempfile

    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable
    from event_to_lakehouse_spark.textindex import InvertedIndex

    root = tempfile.mkdtemp(prefix="idxsync_")
    t = SnapshotTable(spark, f"{root}/src")
    idx = InvertedIndex(spark, f"{root}/idx")
    last_synced, wi = 0, 0

    def sync_window():
        nonlocal last_synced, wi
        if t._latest_version() <= last_synced:
            return
        feed = t.change_feed(last_synced)
        for _ in range(2):  # second pass = replayed window
            idx.sync_from_changelog(
                feed,
                batch_token=f"w{wi}",
                order_col="v",
                tiebreak_col="seq",
            )
        last_synced, wi = t._latest_version(), wi + 1

    for n, (batch, sync_now) in enumerate(ops):
        rows = [
            (k, o, s, op, _IDX_POOL[(k + 2 * o + s) % 3])
            for (k, o, s), op in sorted(batch.items())
        ]
        t.apply_changes(
            spark.createDataFrame(
                rows, "doc_id long, v int, seq int, _op string, text string"
            ),
            key="doc_id",
            order_col="v",
            tiebreak="seq",
            batch_token=f"b{n}",
            changelog=True,
        )
        if sync_now:
            sync_window()
    sync_window()

    fresh = InvertedIndex(spark, f"{root}/fresh")
    fresh.add_batch(t.read().select("doc_id", "text"), batch_token="f")

    def postings(i):
        try:
            return {
                (r.doc_id, r.term, r.tf)
                for r in i.postings_table.read().collect()
            }
        except FileNotFoundError:
            return set()

    def doclens(i):
        try:
            return {
                (r.doc_id, r.dl) for r in i.doclens_table.read().collect()
            }
        except FileNotFoundError:
            return set()

    assert postings(idx) == postings(fresh)
    assert doclens(idx) == doclens(fresh)

# ---------------------------------------------------------------------------
# r15: the third stateful consumer — RollupView maintenance folded over
# random CDC / append / compaction interleavings, with the engine's own
# equals_recompute (full-fact groupBy, exceptAll both ways) as referee.


@settings(
    max_examples=_ex(5),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["cdc", "append", "refresh", "compact"]),
            st.dictionaries(
                keys=st.tuples(
                    st.integers(min_value=0, max_value=3),  # row id
                    st.integers(min_value=0, max_value=2),  # version
                    st.integers(min_value=0, max_value=1),  # seq tiebreak
                ),
                values=st.sampled_from(["I", "U", "D"]),
                min_size=1,
                max_size=3,
            ),
        ),
        min_size=1,
        max_size=5,
    )
)
def test_rollup_view_fold_equals_recompute_property(spark, ops):
    """Under ANY interleaving of fact commits — CDC apply_changes with
    recorded feeds (retraction fold path), plain appends (insert fold
    path), compactions (feed-less rewrite → full-rebuild fallback) —
    and refreshes at arbitrary points, every refresh must leave the
    maintained view EQUAL to the full recompute (count/sum/min/max),
    and an immediately repeated refresh must no-op. Measures stay on
    an integer grid so the compare is exact."""
    import tempfile

    from event_to_lakehouse_spark.storage.compaction import compact_snapshot
    from event_to_lakehouse_spark.storage.rollup import RollupView
    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

    root = tempfile.mkdtemp(prefix="rollprop_")
    fact = SnapshotTable(spark, f"{root}/fact")
    view = RollupView(
        spark, f"{root}/view", keys=["k"], sums=["x"], mins=["x"], maxs=["x"]
    )

    def rows_df(batch, with_op):
        rows = [
            (i, v, s, i % 2, (i + 3 * v + s) % 7)
            + ((op,) if with_op else ())
            for (i, v, s), op in sorted(batch.items())
        ]
        schema = "id long, v int, seq int, k int, x long" + (
            ", _op string" if with_op else ""
        )
        return spark.createDataFrame(rows, schema)

    n_commits = 0
    for n, (kind, batch) in enumerate(ops):
        if kind == "cdc":
            fact.apply_changes(
                rows_df(batch, True),
                key="id",
                order_col="v",
                tiebreak="seq",
                batch_token=f"c{n}",
                changelog=True,
            )
            n_commits += 1
        elif kind == "append":
            fact.append(rows_df(batch, False), batch_token=f"a{n}")
            n_commits += 1
        elif kind == "compact":
            if fact.snapshot() is not None:
                compact_snapshot(fact, sort_cols=["k"])
                n_commits += 1
        else:
            if fact.snapshot() is None:
                continue
            snap = view.refresh(fact)
            assert view.equals_recompute(fact), (n, kind)
            again = view.refresh(fact)
            assert again.version == snap.version  # replayed refresh no-ops
    if fact.snapshot() is not None:
        view.refresh(fact)
        assert view.equals_recompute(fact)


# ---------------------------------------------------------------------------
# r15 extension of the VERDICT-r14 property pattern: the incremental
# SCD2 maintainer (pipeline/gold.py scd2_apply_batch) was pinned only
# by example-based tests (time-ordered splits of the real event log).
# Random keyed batches explore what those examples cannot: PARTIAL
# lateness inside one batch, state changes landing at ts EXACTLY equal
# to the open version's valid_from (zero-width versions), same-ts
# events within and across batches, token replays, and writers killed
# in the commit gap — all checked after every op against a pure-Python
# SCD2 model over the accepted-event union (the docstring's own
# equivalence claim: "the result equals gold_scd2_history over the
# union of all applied batches").


def _scd2_model(accepted):
    """Reference SCD2 over accepted (uid, state, ts, eid) events: per
    key, sort by (ts, eid), collapse consecutive same-state runs, and
    emit [valid_from, valid_to) version rows numbered from 1."""
    bykey: dict = {}
    for uid, state, ts, eid in accepted:
        bykey.setdefault(uid, []).append((ts, eid, state))
    out = []
    for uid, evs in bykey.items():
        evs.sort()
        changes = []
        prev = None
        for ts, eid, state in evs:
            if prev is None or state != prev:
                changes.append((ts, state))
            prev = state
        for i, (ts, state) in enumerate(changes):
            nxt = changes[i + 1][0] if i + 1 < len(changes) else None
            out.append((uid, state, ts, nxt, nxt is None, i + 1))
    return sorted(out, key=lambda r: (r[0], r[5]))


@settings(
    max_examples=_ex(5),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=1),  # asset key
                    st.integers(min_value=0, max_value=2),  # state id
                    st.integers(min_value=0, max_value=5),  # event ts
                ),
                min_size=1,
                max_size=3,
            ),
            st.booleans(),  # replay the batch token right after
            st.booleans(),  # crash in the commit gap, then retry
        ),
        min_size=1,
        max_size=3,
    )
)
# an event between the open version's valid_from and a later same-state
# event already folded into it (key 0: s0@0 arrives after s2@2)
@example(
    ops=[
        ([(0, 0, 0), (0, 2, 0), (1, 0, 0)], False, False),
        ([(0, 2, 2), (1, 0, 0), (1, 0, 0)], False, False),
        ([(0, 0, 0)], False, False),
    ]
)
def test_scd2_apply_batch_model_property(spark, ops):
    """Under ANY sequence of event batches — partial lateness, equal
    timestamps, replays, commit-gap crashes with retry — the table
    after every completed op equals the pure-Python SCD2 model over
    the union of ACCEPTED events, the late count matches the model's
    drop rule (ts < the key's latest event accepted BEFORE the batch),
    and a replayed token leaves the storage version untouched.

    Event ids grow monotonically across batches (the real log's
    shape); within that contract the equivalence is exact, including
    zero-width versions from same-ts state flips."""
    import tempfile
    from unittest import mock

    from event_to_lakehouse_spark.pipeline.gold import scd2_apply_batch
    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

    class Killed(BaseException):
        pass

    root = tempfile.mkdtemp(prefix="scd2prop_")
    table = SnapshotTable(spark, root, stats_col="hist_key")
    accepted: list = []
    eid = 0
    cols = ["asset_uid", "state", "valid_from", "valid_to", "is_current", "version"]
    for n, (batch, replay, crash) in enumerate(ops):
        rows = []
        for uid, s, ts in batch:
            rows.append((uid, f"s{s}", ts, eid))
            eid += 1
        df = spark.createDataFrame(
            rows, "asset_uid long, state string, ts long, event_id long"
        )
        # model late rule: vs the key's latest PRE-batch accepted ts
        last_ts: dict = {}
        for uid, _, ts, _ in accepted:
            last_ts[uid] = max(ts, last_ts.get(uid, ts))
        acc = [
            r for r in rows
            if r[0] not in last_ts or r[2] >= last_ts[r[0]]
        ]
        token = f"b{n}"
        if crash:
            with mock.patch.object(
                SnapshotTable,
                "_advance_pointer",
                side_effect=Killed("crash in the gap"),
            ):
                try:
                    scd2_apply_batch(table, df, batch_token=token)
                except Killed:
                    pass
            table = SnapshotTable(spark, root, stats_col="hist_key")
            scd2_apply_batch(table, df, batch_token=token)  # retry
        else:
            res = scd2_apply_batch(table, df, batch_token=token)
            assert res["n_late_dropped"] == len(rows) - len(acc), (n, rows)
        accepted.extend(acc)
        if replay:
            v = table.snapshot().version
            scd2_apply_batch(table, df, batch_token=token)
            assert table.snapshot().version == v  # replay no-ops
        got = sorted(
            (tuple(r) for r in table.read().select(*cols).collect()),
            key=lambda r: (r[0], r[5]),
        )
        assert got == _scd2_model(accepted), (n, rows)
        # the surrogate merge key never collides
        hk = [r.hist_key for r in table.read().select("hist_key").collect()]
        assert len(hk) == len(set(hk))


# ---------------------------------------------------------------------------
# r15: same pattern for the Bloom admission filter (dedup/bloom.py) —
# its example pins (mixed-feed sync, replay no-op) fix single
# scenarios; the property walks random insert/delete windows with
# PRE- or POST-window survivors frames, token replays, and commit-gap
# crashes, holding the one verdict the index must never emit: a FALSE
# NEGATIVE for a key the exact index holds. Pure rebuilds additionally
# pin the bit-for-bit build_bloom(survivors) claim.


@settings(
    max_examples=_ex(5),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["ins", "del", "rebuild"]),
            st.lists(
                st.integers(min_value=0, max_value=7), min_size=1, max_size=3
            ),  # window keys ('+' for ins; '-' candidates for del)
            st.booleans(),  # del windows: survivors frame is PRE-window
            st.booleans(),  # replay the op's token right after
            st.booleans(),  # crash in the commit gap, then retry
        ),
        min_size=1,
        max_size=4,
    )
)
def test_bloom_index_no_false_negative_property(spark, ops):
    """Under ANY interleaving of '+'-only windows, mixed/'-' windows
    (rebuild path, survivors frame derived before OR after the
    window), direct rebuilds, token replays, and writers killed in the
    commit gap: every key the model survivor set holds probes
    ``bloom_maybe = True`` after every completed op, replays leave the
    storage version untouched, and a PURE rebuild (no feed skew)
    leaves the bitmap bit-for-bit equal to ``build_bloom(survivors)``."""
    import tempfile
    from unittest import mock

    from event_to_lakehouse_spark.dedup.bloom import BloomIndex, build_bloom
    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

    class Killed(BaseException):
        pass

    root = tempfile.mkdtemp(prefix="bloomprop_")
    idx = BloomIndex(spark, root, m_bits=64)
    survivors: set = set()

    def kdf(keys):
        return spark.createDataFrame(
            [(f"k{i}",) for i in sorted(keys)], "fp string"
        )

    def feed_df(plus, minus):
        rows = [(f"k{i}", "+") for i in sorted(plus)] + [
            (f"k{i}", "-") for i in sorted(minus)
        ]
        return spark.createDataFrame(rows, "fp string, _change string")

    def run(op_fn, crash):
        if not crash:
            return op_fn()
        with mock.patch.object(
            SnapshotTable,
            "_advance_pointer",
            side_effect=Killed("crash in the gap"),
        ):
            try:
                op_fn()
            except Killed:
                pass
        return op_fn()  # retry: durable manifest → token no-op

    for n, (kind, keys, pre_frame, replay, crash) in enumerate(ops):
        token = f"t{n}"
        keys = set(keys)
        if kind == "ins":
            op = lambda: idx.sync_from_changelog(
                feed_df(keys, set()), "fp",
                kdf(survivors | keys), batch_token=token,
            )
            survivors_after = survivors | keys
        elif kind == "del":
            minus = keys & survivors  # feed only retracts held keys
            plus = keys - survivors  # mixed window: inserts alongside
            survivors_after = (survivors - minus) | plus
            frame = survivors if pre_frame else survivors_after
            op = lambda: idx.sync_from_changelog(
                feed_df(plus, minus), "fp", kdf(frame), batch_token=token
            )
        else:  # pure rebuild from the current truth
            survivors_after = set(survivors)
            op = lambda: idx.rebuild_from(
                kdf(survivors_after), "fp", batch_token=token
            )
        run(op, crash)
        survivors = survivors_after
        if replay:
            v = idx.table.snapshot().version
            op()
            assert idx.table.snapshot().version == v  # replay no-ops
        # THE contract: no false negatives for the survivor set
        if survivors:
            probed = idx.probe(kdf(survivors), "fp").collect()
            missed = [r.fp for r in probed if not r.bloom_maybe]
            assert not missed, (n, kind, missed)
        if kind == "rebuild":
            got = sorted(
                (r.word_idx, r.word)
                for r in idx.table.read().collect()
            )
            want = sorted(
                (r.word_idx, r.word)
                for r in build_bloom(kdf(survivors), "fp", 64).collect()
            )
            assert got == want  # bit-for-bit, the rebuild_from claim


# ---------------------------------------------------------------------------
# r15: same pattern for the durable IVFPQ ANN index (similarity/
# ivfpq.py) — the delete path's serve-equivalence is example-pinned
# (test_index_deletes); the property walks random add / delete /
# re-add / maintain interleavings with replays and commit-gap crashes,
# holding the codes table in lock-step with a model membership set and
# pinning encode DETERMINISM: a vector deleted and re-added must get
# byte-identical code rows (the quantizers are build-pinned).


@settings(
    max_examples=_ex(5),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["add", "del", "maintain"]),
            st.lists(
                st.integers(min_value=0, max_value=19),
                min_size=1,
                max_size=4,
            ),
            st.booleans(),  # replay the op's token right after
            st.booleans(),  # crash in the commit gap, then retry
        ),
        min_size=1,
        max_size=4,
    )
)
def test_ivfpq_index_membership_lockstep_property(spark, ops):
    """Under ANY interleaving of add_batch / delete_vecs (held and
    unheld ids alike) / maintain, with token replays and writers
    killed in the commit gap: the codes table holds EXACTLY the model
    membership set — PQ_M rows per held vector, one per subspace —
    every vector's code rows are identical every time it is (re)added
    (pinned quantizers ⇒ deterministic encode), compaction never
    changes the logical rows, and replayed tokens leave the storage
    version untouched."""
    import tempfile
    from unittest import mock

    from event_to_lakehouse_spark.similarity.ivfpq import IVFPQIndex
    from event_to_lakehouse_spark.similarity.pq import PQ_M
    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

    class Killed(BaseException):
        pass

    def vecs_df(ids):
        rows = [
            (i, [float((i * 7 + s) % 5) for s in range(8)])
            for i in sorted(ids)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    root = tempfile.mkdtemp(prefix="ivfprop_")
    idx = IVFPQIndex.build(spark, root, train=vecs_df(range(20)))
    held: set = set()
    frozen: dict = {}  # vec_id -> the id's code rows, pinned at first add

    def run(op_fn, crash):
        if not crash:
            return op_fn()
        with mock.patch.object(
            SnapshotTable,
            "_advance_pointer",
            side_effect=Killed("crash in the gap"),
        ):
            try:
                op_fn()
            except Killed:
                pass
        return op_fn()  # retry: durable manifest → token no-op

    for n, (kind, ids, replay, crash) in enumerate(ops):
        token = f"t{n}"
        ids = set(ids)
        if kind == "add":
            add = ids - held  # unique live ids; deleted ids may return
            if not add:
                continue
            op = lambda: idx.add_batch(vecs_df(add), batch_token=token)
            held_after = held | add
        elif idx.codes_table.snapshot() is None:
            continue  # nothing stored yet to delete or compact
        elif kind == "del":
            op = lambda: idx.delete_vecs(
                vecs_df(ids).select("vec_id"), batch_token=token
            )
            held_after = held - ids
        else:
            op = lambda: idx.maintain()
            held_after = set(held)
        run(op, crash)
        held = held_after
        if replay and kind != "maintain":  # compaction has no token
            v = idx.codes_table.snapshot().version
            op()
            assert idx.codes_table.snapshot().version == v  # replay no-ops
        byid: dict = {}
        if idx.codes_table.snapshot() is not None:
            for r in idx.codes_table.read().collect():
                byid.setdefault(r.vec_id, []).append((r.cent_id, r.j, r.code))
        assert set(byid) == held, (n, kind)
        assert idx.vec_count() == len(held)
        for i, rows in byid.items():
            rows = sorted(rows)
            assert len(rows) == PQ_M
            assert len({j for _, j, _ in rows}) == PQ_M  # one code per subspace
            if i in frozen:
                assert rows == frozen[i], (n, kind, i)  # deterministic encode
            else:
                frozen[i] = rows


# ---------------------------------------------------------------------------
# r15: same pattern for the write-audit-publish gate (storage/
# snapshots.py stage/read_staged/publish/discard) — random
# stage/publish/discard interleavings with DUPLICATE batch tokens and
# writers killed between the publish commit and the staged-manifest
# consume, holding the WAP contract: no reader ever sees a staged or
# discarded row, a published stage lands exactly once even when its
# token is already in the chain, and a crashed publish retried
# converges without double-appending.


@settings(
    max_examples=_ex(5),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["stage", "publish", "discard"]),
            st.integers(min_value=0, max_value=3),  # batch id (tokens collide)
            st.booleans(),  # publish: crash in the commit gap, then retry
        ),
        min_size=1,
        max_size=6,
    )
)
def test_wap_stage_publish_discard_property(spark, ops):
    """Under ANY interleaving of stage / publish / discard — including
    re-staged batch ids whose tokens collide with already-published
    ones, and publishers killed between the chain commit and the
    staged-manifest unlink: the live table always reads EXACTLY the
    union of effectively-published unique-token batches, the pending
    set matches the model, staged rows stay readable in isolation
    until consumed, and a consumed or discarded stage id raises on
    re-publish."""
    import tempfile
    from unittest import mock

    import pytest

    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

    class Killed(BaseException):
        pass

    root = tempfile.mkdtemp(prefix="wapprop_")
    t = SnapshotTable(spark, root)

    def batch(bid):
        return spark.createDataFrame(
            [(bid, bid * 10 + j) for j in range(2)], "bid long, val long"
        )

    pending: list = []  # (stage_id, bid) in stage order
    consumed: list = []  # stage ids no longer publishable
    published: list = []  # bids whose token actually landed rows
    for kind, bid, crash in ops:
        if kind == "stage":
            sid = t.stage(batch(bid), batch_token=f"t{bid}")
            pending.append((sid, bid))
        elif not pending:
            if kind == "publish":  # unknown stage ids always raise
                with pytest.raises(KeyError):
                    t.publish("deadbeef0000")
        elif kind == "publish":
            sid, pbid = pending.pop(bid % len(pending))
            if crash:
                with mock.patch.object(
                    SnapshotTable,
                    "_advance_pointer",
                    side_effect=Killed("crash in the gap"),
                ):
                    try:
                        t.publish(sid)
                    except Killed:
                        pass
                t = SnapshotTable(spark, root)
                t.publish(sid)  # retry: token already in chain → consume only
            else:
                t.publish(sid)
            if pbid not in published:
                published.append(pbid)  # colliding token: no-op, still consumed
            consumed.append(sid)
        else:
            sid, _ = pending.pop(bid % len(pending))
            t.discard(sid)
            consumed.append(sid)

        # the live chain holds exactly the effectively-published batches
        try:
            got = sorted((r.bid, r.val) for r in t.read().collect())
        except FileNotFoundError:
            got = []
        want = sorted((b, b * 10 + j) for b in published for j in range(2))
        assert got == want, (kind, bid)
        # pending set in lock-step; staged rows readable in isolation
        assert sorted(t.staged()) == sorted(s for s, _ in pending)
        for sid2, bid2 in pending:
            srows = sorted((r.bid, r.val) for r in t.read_staged(sid2).collect())
            assert srows == [(bid2, bid2 * 10 + j) for j in range(2)]
        # consumed/discarded ids are gone for good
        for sid2 in consumed:
            with pytest.raises(KeyError):
                t.publish(sid2)


# ---------------------------------------------------------------------------
# r15: the composed admission topology — ExactDedupIndex WITH a paired
# BloomIndex (dedup/incremental.py:359 + dedup/bloom.py) — under
# random ingest / doc-forget / content-forget / compact sequences.
# index_batch in admission mode makes TWO lock-step commits (append
# new-unique fps, then merge their bits); the crash point picks WHICH
# commit dies, so both halves of the gap are walked. The model is a
# text → canonical-doc dict; verdicts, held rows, replay stability and
# the no-false-negative admission contract are checked every op.


@settings(
    max_examples=_ex(5),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["ingest", "forget_doc", "forget_fp", "maintain"]),
            st.lists(
                st.integers(min_value=0, max_value=5), min_size=1, max_size=3
            ),  # text ids (ingest) / held-text picks (forgets)
            st.booleans(),  # replay the ingest token right after
            st.integers(min_value=0, max_value=1),  # crash at commit 0/1, or no crash
            st.booleans(),  # whether to crash at all
        ),
        min_size=1,
        max_size=4,
    )
)
def test_exact_index_bloom_admission_lockstep_property(spark, ops):
    """Under ANY interleaving of ingest batches (repeated texts within
    and across batches), canonical-doc forgets, content-level fp
    forgets (each followed by the documented Bloom rebuild), and
    compaction — with token replays and writers killed at EITHER of
    index_batch's two lock-step commits: verdicts match the
    first-arrival-wins model, the fingerprint table holds exactly the
    model's canonical rows, a replayed batch reproduces its resolution
    columns, and every held fingerprint probes bloom_maybe=True."""
    import tempfile
    from unittest import mock

    from event_to_lakehouse_spark.dedup.bloom import BloomIndex
    from event_to_lakehouse_spark.dedup.incremental import ExactDedupIndex
    from event_to_lakehouse_spark.functions.text import fingerprint
    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

    class Killed(BaseException):
        pass

    texts = [f"document body number {i} with shared words" for i in range(6)]
    fp_of = {
        r.tid: r.fp
        for r in spark.createDataFrame(
            list(enumerate(texts)), "tid int, text string"
        )
        .select("tid", fingerprint("text").alias("fp"))
        .collect()
    }

    root = tempfile.mkdtemp(prefix="exprop_")
    idx = ExactDedupIndex(spark, f"{root}/fps")
    bloom = BloomIndex(spark, f"{root}/bloom", m_bits=128)
    model: dict = {}  # text id -> canonical doc_id
    next_id = 0
    orig_adv = SnapshotTable._advance_pointer

    def crashing(at):
        calls = {"n": 0}

        def wrapper(self, *a, **kw):
            n = calls["n"]
            calls["n"] += 1
            if n == at:
                raise Killed(f"crash at commit {at}")
            return orig_adv(self, *a, **kw)

        return wrapper

    def run(op_fn, crash, at):
        if not crash:
            return op_fn()
        with mock.patch.object(
            SnapshotTable, "_advance_pointer", crashing(at)
        ):
            try:
                op_fn()
            except Killed:
                pass
        return op_fn()  # retry: committed halves are token no-ops

    def held_fps_df():
        return idx.table.read().select("fp")

    for n, (kind, tids, replay, crash_at, crash) in enumerate(ops):
        token = f"t{n}"
        if kind == "ingest":
            rows = []
            for tid in tids:
                rows.append((next_id, tid, texts[tid]))
                next_id += 1
            df = spark.createDataFrame(
                [(i, tx) for i, _, tx in rows], "doc_id long, text string"
            )
            # model verdicts: held canonical wins, else batch min id
            bmin = {}
            for i, tid, _ in rows:
                bmin[tid] = min(bmin.get(tid, i), i)
            want = {}
            for i, tid, _ in rows:
                if tid in model:
                    want[i] = (False, model[tid])
                elif i == bmin[tid]:
                    want[i] = (True, None)
                else:
                    want[i] = (False, bmin[tid])
            out = run(
                lambda: idx.index_batch(df, batch_token=token, bloom=bloom),
                crash,
                crash_at,
            )
            got = {
                r.doc_id: (r.is_new_unique, r.dup_of) for r in out.collect()
            }
            assert got == want, (n, rows)
            for tid in bmin:
                model.setdefault(tid, bmin[tid])
            if replay:
                again = idx.index_batch(df, batch_token=token, bloom=bloom)
                got2 = {
                    r.doc_id: (r.is_new_unique, r.dup_of)
                    for r in again.collect()
                }
                assert got2 == want  # replay reproduces resolutions
        elif kind == "maintain":
            if idx.table.snapshot() is not None:
                idx.maintain()
        elif not model:
            continue
        else:
            held_tids = sorted(model)
            picks = {held_tids[t % len(held_tids)] for t in tids}
            if kind == "forget_doc":
                ids = spark.createDataFrame(
                    [(model[t],) for t in sorted(picks)], "doc_id long"
                )
                run(
                    lambda: idx.delete_docs(ids, batch_token=token),
                    crash,
                    0,
                )
            else:  # content-level forget by fingerprint
                fpdf = spark.createDataFrame(
                    [(fp_of[t],) for t in sorted(picks)], "fp string"
                )
                run(
                    lambda: idx.delete_fps(fpdf, batch_token=token),
                    crash,
                    0,
                )
            for t in picks:
                del model[t]
            # the documented pairing: rebuild the bitmap from survivors
            bloom.rebuild_from(held_fps_df(), "fp", batch_token=f"rb{n}")

        # lock-step invariants
        try:
            held = {(r.fp, r.doc_id) for r in idx.table.read().collect()}
        except FileNotFoundError:
            held = set()
        assert held == {(fp_of[t], d) for t, d in model.items()}, (n, kind)
        assert idx.doc_count() == len(model)
        if model:  # no false negatives for anything held
            probed = bloom.probe(held_fps_df(), "fp").collect()
            assert all(r.bloom_maybe for r in probed), (n, kind)


# ---------------------------------------------------------------------------
# r15: the retention surface — vacuum / tags / time travel — where the
# classic lakehouse data-loss bugs live (a sweep deleting a data file
# an older RETAINED manifest still references). COW deletes make file
# sets diverge across versions, tags pin arbitrary old versions
# through vacuums, and every op re-validates EVERY retained version's
# full contents against the model history.


@settings(
    max_examples=_ex(5),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "delete", "tag", "drop", "vacuum"]),
            st.integers(min_value=0, max_value=5),
        ),
        min_size=2,
        max_size=7,
    )
)
def test_vacuum_tags_time_travel_retention_property(spark, ops):
    """Under ANY interleaving of appends, COW key-deletes, tagging at
    arbitrary live versions, tag drops, and vacuums with varying
    keep_versions: the live read and EVERY retained version (newest-k
    window and every tagged snapshot) read exactly their model
    contents — shared data files survive any sweep while some retained
    manifest references them — and swept untagged versions raise."""
    import tempfile

    import pytest

    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

    root = tempfile.mkdtemp(prefix="vacprop_")
    t = SnapshotTable(spark, root, stats_col="bid")
    contents: dict = {}  # version -> full row multiset after that commit
    live: list = []  # versions whose manifests exist
    dead: set = set()
    tags: dict = {}  # name -> version

    for n, (kind, arg) in enumerate(ops):
        cur = sorted(contents[live[-1]]) if live else []
        if kind == "append":
            rows = [(n, n * 10 + j) for j in range(2)]
            t.append(
                spark.createDataFrame(rows, "bid long, val long"),
                batch_token=f"a{n}",
            )
            v = (live[-1] if live else 0) + 1
            contents[v] = cur + rows
            live.append(v)
        elif kind == "delete":
            bids = sorted({b for b, _ in cur})
            if not bids:
                continue
            bid = bids[arg % len(bids)]
            t.delete_keys(
                spark.createDataFrame([(bid,)], "bid long"),
                "bid",
                batch_token=f"d{n}",
            )
            v = live[-1] + 1
            contents[v] = [r for r in cur if r[0] != bid]
            live.append(v)
        elif kind == "tag":
            if not live:
                continue
            name = f"g{arg % 3}"
            v = live[arg % len(live)]
            t.tag(name, v)
            tags[name] = v
        elif kind == "drop":
            name = f"g{arg % 3}"
            if name not in tags:
                continue
            t.drop_tag(name)
            del tags[name]
        else:  # vacuum
            if not live:
                continue
            k = 1 + arg % 2
            t.vacuum(keep_versions=k)
            keep = set(live[-k:]) | set(tags.values())
            dead |= set(live) - keep
            live = sorted(keep)

        # every retained version reads its exact model contents
        if live:
            got = sorted((r.bid, r.val) for r in t.read().collect())
            assert got == sorted(contents[live[-1]]), (n, kind)
            assert t.snapshot().version == live[-1]
        for v in live:
            got = sorted((r.bid, r.val) for r in t.read(version=v).collect())
            assert got == sorted(contents[v]), (n, kind, v)
        for name, v in tags.items():
            got = sorted((r.bid, r.val) for r in t.read(tag=name).collect())
            assert got == sorted(contents[v]), (n, kind, name)
        # swept versions are gone for good
        for v in dead:
            with pytest.raises((FileNotFoundError, KeyError)):
                t.read(version=v).collect()


# ---------------------------------------------------------------------------
# r15: end-to-end schema evolution — the pure _evolve algebra is
# property-tested above, but the SURFACE it protects is the read path:
# heterogeneous parquet files (written under different schema
# generations: missing columns, narrower physical types) reconciled
# under the evolved manifest schema without a footer-merge. Random
# append sequences drive widening, column appearance order, NULL
# backfill, and rejected-incompatible appends leaving the chain
# untouched.


@settings(
    max_examples=_ex(10),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["integer", "long", "breaking"]),  # x physical type
            st.booleans(),  # carries y (float/double chain)
            st.booleans(),  # y physical type is double
            st.booleans(),  # carries z (string)
        ),
        min_size=1,
        max_size=5,
    )
)
def test_schema_evolution_read_reconciliation_property(spark, ops):
    """Under ANY append sequence mixing x:int/x:long files, optional
    y:float/y:double and z:string columns, and incompatible appends
    (x:string — rejected with nothing committed): the live read always
    surfaces every committed row under the EVOLVED schema — widest
    type per chain, columns in first-appearance order, NULL backfill
    for files predating a column — with values intact across the
    physical-type boundary."""
    import tempfile

    import pytest

    from pyspark.sql import types as T

    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

    root = tempfile.mkdtemp(prefix="evoprop_")
    t = SnapshotTable(spark, root)
    model_rows: list = []  # dicts with x / y / z (None = absent at write)
    fields: list = []  # evolved (name, typeName) in first-appearance order
    version = 0

    def widen(name, tn):
        order = {"integer": 0, "long": 1, "float": 0, "double": 1}
        for i, (fn, ft) in enumerate(fields):
            if fn == name:
                if order.get(tn, 0) > order.get(ft, 0):
                    fields[i] = (name, tn)
                return
        fields.append((name, tn))

    for n, (xk, has_y, y_dbl, has_z) in enumerate(ops):
        if xk == "breaking":
            if version == 0:
                continue  # a first append merely pins whatever it brings
            bad = spark.createDataFrame([(f"s{n}",)], "x string")
            with pytest.raises(ValueError):
                t.append(bad, batch_token=f"b{n}")
            assert t.snapshot().version == version  # nothing committed
        else:
            names = ["x"] + (["y"] if has_y else []) + (["z"] if has_z else [])
            spark_t = {
                "x": T.IntegerType() if xk == "integer" else T.LongType(),
                "y": T.DoubleType() if y_dbl else T.FloatType(),
                "z": T.StringType(),
            }
            schema = T.StructType([T.StructField(c, spark_t[c]) for c in names])
            rows = []
            for j in range(2):
                vals = {
                    "x": n * 10 + j,
                    "y": float(n + j) + 0.5 if has_y else None,
                    "z": f"s{n}{j}" if has_z else None,
                }
                rows.append(tuple(vals[c] for c in names))
                model_rows.append(vals)
            t.append(spark.createDataFrame(rows, schema), batch_token=f"b{n}")
            version += 1
            widen("x", xk)
            if has_y:
                widen("y", "double" if y_dbl else "float")
            if has_z:
                widen("z", "string")
        if version == 0:
            continue
        df = t.read()
        got_fields = [(f.name, f.dataType.typeName()) for f in df.schema.fields]
        assert got_fields == fields, (n, got_fields)
        got = sorted(
            (r["x"], r["y"] if "y" in df.columns else None,
             r["z"] if "z" in df.columns else None)
            for r in df.collect()
        )
        want = sorted((m["x"], m["y"], m["z"]) for m in model_rows)
        assert got == want, (n, xk)


# ---------------------------------------------------------------------------
# r15: feed soundness — the theorem every change_feed consumer
# (RollupView, InvertedIndex, BloomIndex sync) implicitly relies on:
# for ANY two versions a < b with no sidecar-less rewrite between
# them, multiset(read(a)) + feed'+' - feed'-' == multiset(read(b)),
# with the '-' rows exact pre-images. Checked for EVERY version pair
# of random append / CDC / delete / compaction histories against the
# table's own time-travel reads (no separate model needed — the
# storage validates its own feed), and sidecar-less rewrites must make
# exactly the crossing pairs raise.


@settings(
    max_examples=_ex(5),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "cdc", "delete", "compact"]),
            st.lists(
                st.tuples(
                    st.integers(min_value=0, max_value=3),  # key
                    st.integers(min_value=0, max_value=2),  # I/U/D pick
                ),
                min_size=1,
                max_size=3,
            ),
        ),
        min_size=1,
        max_size=4,
    )
)
def test_change_feed_fold_soundness_property(spark, ops):
    """For every pair of live versions in a random history of appends,
    changelog-recorded CDC commits, COW deletes (sidecar-less), and
    compactions: folding the feed's '+'/'-' rows onto read(a)
    reconstructs read(b) exactly as a multiset, and any pair crossing
    a sidecar-less rewrite raises ValueError instead of lying."""
    import tempfile
    from collections import Counter

    import pytest

    from event_to_lakehouse_spark.storage.compaction import compact_snapshot
    from event_to_lakehouse_spark.storage.snapshots import SnapshotTable

    root = tempfile.mkdtemp(prefix="feedprop_")
    t = SnapshotTable(spark, root, stats_col="k")
    latest = 0
    barriers: set = set()  # versions whose commit the feed cannot express

    for n, (kind, picks) in enumerate(ops):
        if kind == "append":
            # honor apply_changes' key-unique precondition (its
            # docstring, r15): appends only introduce keys the table
            # does not currently hold — a duplicate-key base makes the
            # later CDC rewrite collapse rows the sidecar cannot
            # express (exactly what the 20-example soak of THIS test
            # surfaced; the behavior is documented, not fed).
            held = (
                {r.k for r in t.read().collect()} if latest else set()
            )
            rows = [
                (k, n) for k in sorted({k for k, _ in picks})
                if k not in held
            ]
            if not rows:
                continue
            t.append(spark.createDataFrame(rows, "k long, v long"))
            latest += 1
        elif latest == 0:
            continue
        elif kind == "cdc":
            seen: dict = {}
            for k, op_i in picks:
                seen.setdefault(k, "IUD"[op_i])
            rows = [(k, n, op) for k, op in sorted(seen.items())]
            t.apply_changes(
                spark.createDataFrame(rows, "k long, v long, _op string"),
                key="k",
                order_col="v",
                changelog=True,
            )
            latest += 1
        elif kind == "delete":
            before = set(t.snapshot().paths)
            t.delete_keys(
                spark.createDataFrame(
                    [(k,) for k, _ in picks], "k long"
                ).distinct(),
                "k",
            )
            new_v = t.snapshot().version
            if new_v == latest:
                continue  # fully pruned, no token: a legitimate no-commit
            latest = new_v
            if before - set(t.snapshot().paths):
                barriers.add(latest)  # COW rewrite, no sidecar
        else:
            before = set(t.snapshot().paths)
            compact_snapshot(t, sort_cols=["k"])
            new = t.snapshot().version
            if new != latest:
                latest = new
                if before - set(t.snapshot().paths):
                    barriers.add(latest)

    if latest == 0:
        return
    reads = {0: Counter()}
    for v in range(1, latest + 1):
        reads[v] = Counter(
            (r.k, r.v) for r in t.read(version=v).collect()
        )
    for a in range(0, latest + 1):
        for b in range(a + 1, latest + 1):
            crossing = any(a < bv <= b for bv in barriers)
            if crossing:
                with pytest.raises(ValueError):
                    t.change_feed(a, b)
                continue
            feed = t.change_feed(a, b).collect()
            plus = Counter((r.k, r.v) for r in feed if r._change == "+")
            minus = Counter((r.k, r.v) for r in feed if r._change == "-")
            want = reads[a] + plus
            want.subtract(minus)
            assert not minus - (reads[a] + plus), (a, b)  # '-' are pre-images
            assert +want == reads[b], (a, b)
            # provenance is well-formed: commit versions inside (a, b]
            assert all(a < r._commit_version <= b for r in feed), (a, b)
