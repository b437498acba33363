"""Seeded input generators for the benchmark workloads.

Everything the package receives is made here, before any timing starts,
from the workload seed alone: bronze asset JSON documents, corpus
document batches with planted duplicates, the lakehouse tables the serve
workload reads, and the analyst session list. Pure Python and NumPy; no
Spark, so the generators are cheap to test for determinism.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field

import numpy as np

RAPID7_TOPIC = "rapid7.assets.raw"
FORTI_TOPIC = "fortisiem.devices.raw"

#: BM25 query terms of the package's certified batch operator
#: (``textops.BM25_QUERY``); planted in the vocabulary so that operator
#: has matches on the generated corpus.
BM25_TERMS = ("merge", "window", "stream")

OS_FINGERPRINTS = [
    ("x86_64", "Linux", "Canonical", "Ubuntu", "22.04"),
    ("x86_64", "Windows", "Microsoft", "Windows Server", "2019"),
    ("arm64", "Linux", "Red Hat", "RHEL", "9.2"),
    ("x86_64", "Mac OS X", "Apple", "macOS", "14.1"),
]
DEVICES = [
    ("Fortinet", "FortiGate 60F", "7.2"),
    ("Cisco", "C9300", "17.6"),
    ("Juniper", "EX4300", "21.4"),
]


# --- bronze assets -----------------------------------------------------------


@dataclass
class BronzeFile:
    topic: str
    name: str
    body: bytes
    #: the clean record, or None for a malformed document
    record: dict | None


@dataclass
class Cycle:
    index: int
    files: list[BronzeFile] = field(default_factory=list)


def _rapid7_record(rng: random.Random, key: int, extra_field: bool) -> dict:
    arch, fam, vendor, product, ver = OS_FINGERPRINTS[key % len(OS_FINGERPRINTS)]
    ip = f"10.{key // 65536 % 256}.{key // 256 % 256}.{key % 256}"
    rec = {
        "id": key,
        "ip": ip,
        "hostName": f"  Host-{key:05d}  " if key % 3 == 0 else f"host-{key:05d}",
        "addresses": [{"ip": ip}],
        "assessedForPolicies": rng.random() < 0.5,
        "assessedForVulnerabilities": True,
        "os": f"{product} {ver}",
        "osCertainty": f"{rng.randint(50, 99) / 100:.2f}",
        "osFingerprint": {
            "architecture": arch,
            "family": fam,
            "vendor": vendor,
            "product": product,
            "cpe": {"version": ver},
        },
        "riskScore": round(rng.uniform(0, 1000), 2) + 0.5,
        "rawRiskScore": round(rng.uniform(0, 1000), 2) + 0.25,
        "vulnerabilities": {
            "total": rng.randint(0, 40),
            "critical": rng.randint(0, 5),
            "severe": rng.randint(0, 10),
            "moderate": rng.randint(0, 20),
            "exploits": rng.randint(0, 3),
            "malwareKits": rng.randint(0, 1),
        },
    }
    if extra_field:
        # the optional field a newer scanner release adds mid-run
        rec["lastScanEngine"] = f"engine-{rng.randint(1, 9)}"
    return rec


def _forti_record(rng: random.Random, key: int) -> dict:
    vendor, model, ver = DEVICES[key % len(DEVICES)]
    return {
        "_id": {"$oid": f"{key:024x}"},
        "accessIp": f"172.16.{key // 256 % 256}.{key % 256}",
        "name": f"dev-{key:05d}",
        "naturalId": f"NID-{key:05d}",
        "approved": rng.random() < 0.7,
        "unmanaged": rng.random() < 0.2,
        "deviceType": {"vendor": vendor, "model": model, "version": ver},
    }


def bronze_cycles(
    seed: int,
    n_cycles: int,
    files_per_source: int,
    malformed_per_source: int = 1,
    key_pool: int = 64,
    schema_change_cycle: int = 1,
) -> list[Cycle]:
    """Bronze landings, one pretty-printed JSON document per file.

    Each cycle lands ``files_per_source`` files per source, of which
    ``malformed_per_source`` are truncated JSON. Asset keys are drawn
    without replacement within a cycle from a fixed pool, so keys are
    re-reported across cycles but never twice in one cycle. From
    ``schema_change_cycle`` on, Rapid7 records carry one more field."""
    rng = random.Random(seed)
    cycles = []
    for c in range(n_cycles):
        cyc = Cycle(c)
        for topic in (RAPID7_TOPIC, FORTI_TOPIC):
            keys = rng.sample(range(key_pool), files_per_source - malformed_per_source)
            bad_at = set(rng.sample(range(files_per_source), malformed_per_source))
            it = iter(keys)
            for i in range(files_per_source):
                name = f"c{c:04d}-{i:04d}.json"
                if i in bad_at:
                    body = '{"id": %d, "ip": "10.9.9.9", BROKEN' % rng.randint(0, 999)
                    cyc.files.append(BronzeFile(topic, name, body.encode(), None))
                    continue
                key = next(it)
                rec = (
                    _rapid7_record(rng, key, c >= schema_change_cycle)
                    if topic == RAPID7_TOPIC
                    else _forti_record(rng, key)
                )
                body = json.dumps(rec, indent=2).encode()
                cyc.files.append(BronzeFile(topic, name, body, rec))
        cycles.append(cyc)
    return cycles


def asset_uid(topic: str, rec: dict) -> str:
    """Pure-Python twin of the silver surrogate key
    (``pipeline.normalize._uid_expr`` over ``contracts`` mappings)."""
    if topic == RAPID7_TOPIC:
        parts = [rec["hostName"].strip().lower(), rec["ip"].strip().lower(), str(rec["id"])]
    else:
        parts = [rec["name"].strip().lower(), rec["accessIp"].strip().lower(), rec["_id"]["$oid"]]
    return hashlib.sha256("|".join(parts).encode()).hexdigest()


# --- corpus documents -------------------------------------------------------


def vocabulary(seed: int, size: int = 2000) -> list[str]:
    rng = random.Random(seed ^ 0x5EED)
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set(BM25_TERMS)
    out = list(BM25_TERMS)
    while len(out) < size:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        if w not in words:
            words.add(w)
            out.append(w)
    # rank order decides Zipf frequency; shuffle so the BM25 terms are
    # neither the most nor the least common words
    rng.shuffle(out)
    return out


class Zipf:
    """Seeded Zipf(s) sampler over a vocabulary."""

    def __init__(self, vocab: list[str], rng: random.Random, s: float = 1.1):
        self.vocab = vocab
        self.rng = rng
        weights = [1.0 / (r + 1) ** s for r in range(len(vocab))]
        total = sum(weights)
        acc, self.cdf = 0.0, []
        for w in weights:
            acc += w / total
            self.cdf.append(acc)

    def words(self, n: int) -> list[str]:
        return self.rng.choices(self.vocab, cum_weights=self.cdf, k=n)


@dataclass
class Doc:
    doc_id: int
    text: str
    #: "fresh" | "exact" (byte-identical re-send) | "near" (token edits)
    kind: str
    #: for exact/near: the doc_id of the earlier document it copies
    ref: int | None = None


def corpus_batches(
    seed: int,
    n_batches: int,
    batch_size: int,
    exact_share: float = 0.15,
    near_share: float = 0.10,
    near_edits: int = 3,
) -> list[list[Doc]]:
    """Document batches with planted duplicates. Batch 0 is all fresh;
    later batches re-send ~15% of documents byte-identically and add
    ~10% near-duplicates a few token edits away, both copying a unique
    document of an earlier batch."""
    rng = random.Random(seed)
    zipf = Zipf(vocabulary(seed), rng)
    batches: list[list[Doc]] = []
    held: list[Doc] = []  # unique documents of earlier batches
    next_id = 1
    for b in range(n_batches):
        batch: list[Doc] = []
        for _ in range(batch_size):
            u = rng.random() if held else 1.0
            if u < exact_share:
                src = rng.choice(held)
                doc = Doc(next_id, src.text, "exact", src.doc_id)
            elif u < exact_share + near_share:
                src = rng.choice(held)
                toks = src.text.split(" ")
                for pos in rng.sample(range(len(toks)), near_edits):
                    repl = zipf.words(1)[0]
                    while repl == toks[pos]:
                        repl = zipf.words(1)[0]
                    toks[pos] = repl
                doc = Doc(next_id, " ".join(toks), "near", src.doc_id)
            else:
                doc = Doc(next_id, " ".join(zipf.words(rng.randint(40, 90))), "fresh")
            batch.append(doc)
            next_id += 1
        held.extend(d for d in batch if d.kind != "exact")
        batches.append(batch)
    return batches


# --- lakehouse tables for the serve workload -----------------------------------

#: The serve workload's tables are fixed (seed 42, like the package's
#: own test data); only the session list follows the workload seed.
TABLE_SEED = 42
EMB_DIM = 64
COLORS = ["red", "green", "blue", "ivory", "navy", "plum", "olive", "peach", "snow", "tan"]


@dataclass
class TableSizes:
    customers: int = 1500
    suppliers: int = 100
    parts: int = 2000
    orders: int = 15000
    events: int = 10000
    users: int = 300
    documents: int = 1000
    embeddings: int = 2000


def lakehouse_tables(sizes: TableSizes, seed: int = TABLE_SEED) -> dict:
    """Columns per table (dict of NumPy arrays / lists) with the schema
    of the package's TPC-H-ish test tables plus events, documents and
    embeddings. ``write_tables`` turns them into parquet."""
    r = np.random.default_rng(seed)
    epoch = np.datetime64("2020-01-01T00:00:00", "ms")
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": [f"REGION_{i}" for i in range(5)],
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    nc = sizes.customers
    t["customer"] = {
        "c_custkey": np.arange(1, nc + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
        "c_nationkey": r.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999, 9999, nc), 2),
        "c_mktsegment": r.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ).tolist(),
    }
    ns = sizes.suppliers
    t["supplier"] = {
        "s_suppkey": np.arange(1, ns + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, ns + 1)],
        "s_nationkey": r.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999, 9999, ns), 2),
    }
    npart = sizes.parts
    t["part"] = {
        "p_partkey": np.arange(1, npart + 1, dtype=np.int64),
        "p_name": [" ".join(r.choice(COLORS, 3)) for _ in range(npart)],
        "p_brand": [f"Brand#{a}{b}" for a, b in r.integers(1, 6, (npart, 2))],
        "p_type": r.choice(["STANDARD TIN", "SMALL BRASS", "PROMO STEEL", "LARGE COPPER"], npart).tolist(),
        "p_size": r.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(r.uniform(900, 2100, npart), 2),
    }
    no = sizes.orders
    odate = epoch + r.integers(0, 6 * 365, no).astype("timedelta64[D]")
    t["orders"] = {
        "o_orderkey": np.arange(1, no + 1, dtype=np.int64),
        "o_custkey": r.integers(1, nc + 1, no).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], no, p=[0.5, 0.4, 0.1]).tolist(),
        "o_totalprice": np.round(r.uniform(1000, 400000, no), 2),
        "o_orderdate": odate,
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no).tolist(),
    }
    lines_per = r.integers(1, 8, no)
    nl = int(lines_per.sum())
    okey = np.repeat(t["orders"]["o_orderkey"], lines_per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    qty = r.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": okey,
        "l_partkey": r.integers(1, npart + 1, nl).astype(np.int64),
        "l_suppkey": r.integers(1, ns + 1, nl).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, nl), 2),
        "l_discount": np.round(r.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": r.choice(["R", "A", "N"], nl).tolist(),
        "l_linestatus": r.choice(["O", "F"], nl).tolist(),
        "l_shipdate": np.repeat(odate, lines_per)
        + r.integers(1, 122, nl).astype("timedelta64[D]"),
    }
    ne = sizes.events
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        r.integers(0, 30 * 86400 * 1_000_000, ne)
    ).astype("timedelta64[us]")
    values = np.round(r.uniform(0, 500, ne), 4)
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(1, sizes.users + 1, ne).astype(np.int64),
        "event_type": r.choice(["click", "view", "purchase", "signup", "error"], ne).tolist(),
        "value": values,
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, ne)],
    }
    nd = sizes.documents
    docs = corpus_batches(seed, 1, nd)[0]
    t["documents"] = {
        "doc_id": np.array([d.doc_id for d in docs], dtype=np.int64),
        "text": [d.text for d in docs],
        "lang": r.choice(["en", "es", "de", "zh"], nd).tolist(),
        "source": [f"src{i % 5}" for i in range(nd)],
        "n_chars": np.array([len(d.text) for d in docs], dtype=np.int64),
    }
    nv = sizes.embeddings
    centers = r.normal(0, 1, (16, EMB_DIM))
    emb = centers[r.integers(0, 16, nv)] + r.normal(0, 0.35, (nv, EMB_DIM))
    t["embeddings"] = {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": emb.astype(np.float32),
        "label": r.integers(0, 10, nv).astype(np.int32),
    }
    return t


def write_tables(tables: dict, out_dir: str) -> None:
    """One parquet file per table (``<out_dir>/<name>.parquet``), the
    layout ``tables.load_tables`` reads."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        arrays = {}
        for c, v in cols.items():
            if isinstance(v, np.ndarray) and v.dtype.kind == "M":
                unit = np.datetime_data(v.dtype)[0]
                arrays[c] = pa.array(v, type=pa.timestamp(unit, tz="UTC"))
            elif isinstance(v, np.ndarray) and v.ndim == 2:
                arrays[c] = pa.array(list(v), type=pa.list_(pa.float32()))
            else:
                arrays[c] = pa.array(v)
        pq.write_table(pa.table(arrays), os.path.join(out_dir, f"{name}.parquet"))


# --- analyst sessions ----------------------------------------------------------

ROTATION = (
    "q9_product_profit",
    "q21_waiting_suppliers",
    "agg_distinct_stats",
    "events_sessionize",
    "graph_khop_reach",
)


@dataclass
class Session:
    index: int
    terms: list[str]
    query_vec: list[float]
    point_key: int
    range_lo_us: int
    range_hi_us: int
    entry: str


def sessions(seed: int, n: int, tables: dict) -> list[Session]:
    """Analyst sessions: text terms, an ANN query vector, a point key
    and a time range drawn from the (fixed) tables, and a catalog
    entry rotating through ``ROTATION``."""
    rng = random.Random(seed)
    vocab = vocabulary(TABLE_SEED)
    ids = tables["events"]["event_id"]
    ts = tables["events"]["ts"].astype("int64")
    t_lo, t_hi = int(ts.min()), int(ts.max())
    day = 86_400_000_000
    out = []
    for i in range(n):
        lo = rng.randint(t_lo, t_hi - day)
        out.append(
            Session(
                index=i,
                terms=rng.sample(vocab[:200], 3),
                query_vec=[round(rng.gauss(0, 1), 6) for _ in range(EMB_DIM)],
                point_key=int(ids[rng.randrange(len(ids))]),
                range_lo_us=lo,
                range_hi_us=lo + rng.randint(day // 4, 2 * day),
                entry=ROTATION[i % len(ROTATION)],
            )
        )
    return out
