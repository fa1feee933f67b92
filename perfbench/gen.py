"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the
workload seed, so the same seed yields byte-identical inputs and a
different seed yields different ones. Nothing here touches Spark: the
tables come out as pyarrow tables (written to parquet by the caller),
and the truth the output checks compare against comes out alongside.

Three input families:

- ``tpch_tables``: a replica of the repository's synthetic star schema
  (region/nation/customer/supplier/part/orders/lineitem plus events,
  documents and embeddings) with the same schemas and value domains,
  perturbed by the seed.
- ``corpus``: documents with planted exact duplicates, near-duplicates
  and gopher-failing short documents, plus clustered embeddings and
  queries with their exact top-k computed in numpy.
- ``lead_tables``: the reference's dirty raw ``lead``, ``lead_xref`` and
  ``lead_assignment`` rows (every source column a string, dirty values
  in every typed column) and a change set of updates, inserts,
  soft-deletes and stale rows for the incremental batch.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

# ---------------------------------------------------------------------------
# TPC-H-style replica
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "large", "green", "shiny", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "panel", "valve", "cable", "frame"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
# the fixture corpus vocabulary: short engine words plus two stopwords
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark sort window line query data column order customer join filter "
    "group stream vector small big"
).split()

_EPOCH_US = 86_400 * 1_000_000


def _days(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days


def _ts_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * _EPOCH_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def random_text(rng: np.random.Generator, n_tokens: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_tokens))


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """The synthetic star schema at scale factor ``sf`` (sf=0.1 is the
    600k-lineitem fixture size)."""
    n_cust = max(int(150_000 * sf), 50)
    n_orders = max(int(1_500_000 * sf), 200)
    n_part = max(int(200_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_events = max(int(1_000_000 * sf), 500)
    n_users = max(int(15_000 * sf), 20)
    n_docs = max(int(50_000 * sf), 60)
    n_vecs = max(int(20_000 * sf), 40)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
            ),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10, 1),
        }
    )

    lo, hi = _days(dt.date(1995, 1, 1)), _days(dt.date(2001, 8, 1))
    odate = rng.integers(lo, hi + 1, n_orders)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _ts_days(odate),
            "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
        }
    )

    lines = rng.integers(0, 8, n_orders)  # 0..7 lines; a few orders have none
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_orders), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = np.arange(n_li) - starts + 1
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _ts_days(ship),
        }
    )

    ev_lo = _days(dt.date(2024, 1, 1)) * _EPOCH_US
    ts = np.sort(rng.integers(ev_lo, ev_lo + 30 * _EPOCH_US, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": np.round(np.minimum(rng.exponential(40.0, n_events), 560.0), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
            ),
        }
    )

    texts = [random_text(rng, int(k)) for k in rng.integers(8, 100, n_docs)]
    for i in rng.choice(n_docs, max(n_docs // 600, 1), replace=False):
        texts[int(i)] = texts[int(rng.integers(0, n_docs))]  # exact dups
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    vecs, labels = _clustered_vectors(rng, n_vecs, 64, 10)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": _vec_array(vecs),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def _clustered_vectors(
    rng: np.random.Generator, n: int, dim: int, clusters: int, spread: float = 0.6
) -> tuple[np.ndarray, np.ndarray]:
    centers = rng.normal(size=(clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, clusters, n)
    v = centers[labels] + rng.normal(scale=spread / np.sqrt(dim), size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype("float32"), labels


def _vec_array(vecs: np.ndarray) -> pa.Array:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1]), pa.int32())
    return pa.ListArray.from_arrays(offsets, flat)


# ---------------------------------------------------------------------------
# Curation corpus with planted truth
# ---------------------------------------------------------------------------

# a wider vocabulary than the fixture's: random documents must share
# (almost) no word 3-grams, so every near-duplicate pair is a planted one
CORPUS_WORDS = WORDS + (
    "and of to in is for with on that this from by are was be as at or "
    "lake river stone cloud paper signal engine market garden window "
    "silver copper amber violet harbor meadow canyon forest desert island "
    "planet rocket circuit sensor kernel buffer packet socket thread cursor "
    "ledger budget profit credit invoice payment broker tenant lender "
    "mortgage policy agent region branch office clinic doctor nurse patient"
).split()
CHUNK_TOKENS = 32
PACK_BUDGET = 128
PACK_SHARDS = 8


@dataclass
class CorpusTruth:
    n_docs: int
    gopher_pass: int  # documents passing the gopher rules
    exact_survivors: int  # after exact dedup of the gopher survivors
    near_pairs: list[tuple[int, int]]  # planted (original, near copy)
    near_dup_survivors: int  # exact survivors minus one per planted pair
    chunk_rows: int  # chunks of the near-dup survivors
    topk_ids: dict[int, list[int]] = field(default_factory=dict)


def corpus(
    rng: np.random.Generator,
    n_docs: int,
    n_vecs: int,
    n_queries: int,
    k: int,
    near_rate: float = 0.08,
    exact_rate: float = 0.04,
    short_rate: float = 0.05,
) -> tuple[pa.Table, pa.Table, pa.Table, CorpusTruth]:
    """Documents with planted duplicates, corpus embeddings, query
    embeddings, and the truth each curation stage must reproduce.

    Base documents have 60-140 tokens from ``CORPUS_WORDS`` with at least
    two stopwords, so they pass the gopher rules; planted short documents
    (20-40 tokens) fail them. An exact copy repeats a base document
    verbatim; a near copy replaces 3 of its tokens (word 3-gram Jaccard
    ~0.8, far above the 0.5 verification threshold)."""
    n_short = int(n_docs * short_rate)
    n_exact = int(n_docs * exact_rate)
    n_near = int(n_docs * near_rate)
    n_base = n_docs - n_short - n_exact - n_near
    words = np.asarray(CORPUS_WORDS, dtype=object)

    base: list[list[str]] = []
    for _ in range(n_base):
        toks = list(words[rng.integers(0, len(words), int(rng.integers(60, 141)))])
        for pos in rng.choice(len(toks), 2, replace=False):
            toks[int(pos)] = "the"
        base.append(toks)
    docs: list[tuple[str, str]] = [("base", " ".join(t)) for t in base]
    # each original is planted from at most once, so pairs stay disjoint
    sources = rng.choice(n_base, n_exact + n_near, replace=False)
    for src in sources[:n_exact]:
        docs.append(("exact", docs[int(src)][1]))
    near_src = []
    for src in sources[n_exact:]:
        toks = list(base[int(src)])
        for pos in rng.choice(len(toks), 3, replace=False):
            toks[int(pos)] = f"edit{int(rng.integers(0, 1_000_000))}"
        docs.append(("near", " ".join(toks)))
        near_src.append(int(src))
    for _ in range(n_short):
        docs.append(("short", " ".join(words[rng.integers(0, len(words), int(rng.integers(20, 41)))])))

    # shuffle ids so planted copies are not all at the tail; the
    # original of every planted pair keeps the smaller id
    order = rng.permutation(len(docs))
    ids = np.empty(len(docs), dtype=np.int64)
    ids[order] = np.arange(len(docs))
    near_pairs = []
    for j, src in enumerate(near_src):
        a, b = int(ids[src]), int(ids[n_base + n_exact + j])
        near_pairs.append((min(a, b), max(a, b)))
    kinds = [docs[i][0] for i in order]
    texts = [docs[i][1] for i in order]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(len(docs)), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, len(docs), p=LANG_P),
            "source": [f"src{i % 20}" for i in range(len(docs))],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )

    gopher_pass = sum(1 for kd in kinds if kd != "short")
    exact_survivors = gopher_pass - n_exact
    near_dup_survivors = exact_survivors - n_near
    # survivors of near-dup: every base document, plus nothing else; the
    # chunk count of a document is ceil(tokens / CHUNK_TOKENS)
    chunk_rows = sum(-(-len(t) // CHUNK_TOKENS) for t in base)

    vecs, _ = _clustered_vectors(rng, n_vecs, 64, 16)
    qv, _ = _clustered_vectors(rng, n_queries, 64, 16)
    emb = pa.table(
        {"vec_id": pa.array(np.arange(n_vecs), pa.int64()), "embedding": _vec_array(vecs)}
    )
    queries = pa.table(
        {"query_id": pa.array(np.arange(n_queries), pa.int64()), "embedding": _vec_array(qv)}
    )
    sims = qv.astype("float64") @ vecs.astype("float64").T
    topk = {
        q: [int(i) for i in np.lexsort((np.arange(n_vecs), -sims[q]))[:k]]
        for q in range(n_queries)
    }
    truth = CorpusTruth(
        n_docs=len(docs),
        gopher_pass=gopher_pass,
        exact_survivors=exact_survivors,
        near_pairs=near_pairs,
        near_dup_survivors=near_dup_survivors,
        chunk_rows=chunk_rows,
        topk_ids=topk,
    )
    return table, emb, queries, truth


# ---------------------------------------------------------------------------
# Dirty raw lead tables (FIXTURES.md section A) and their change set
# ---------------------------------------------------------------------------

AS_OF = "2026-01-01 00:00:00"
WATERMARK = "2025-06-01 00:00:00"
_TS_LO = _days(dt.date(2024, 1, 1)) * 86_400
_WM = _days(dt.date(2025, 6, 1)) * 86_400
_TS_HI = _days(dt.date(2025, 12, 31)) * 86_400

DIRTY = {
    "ts": ["03/01/2024", "abc", "N/A", "--", "2091-01-01 00:00:00", None],
    "date": ["2091-01-01", "junk", None],
    "double": ["12.5", "1e3", "NaN", "x1", None],
    "decimal": ["3", "3.0", "", "abc", "-1"],
    "bool": ["true", "1", "yes", "t", "false", "0", "no", "f", "x", "maybe"],
    "boolstr": ["true", "false", "1", "f", None, "weird"],
    "json": ['{"a":1,"b":{"c":2}}', '{"k":[1,2,3]}', None],
}
DELETE_FLAGS = ["true", "1", "yes", "t"]
KEEP_FLAGS = ["false", "0", None, "weird"]


def _iso(secs: np.ndarray) -> list[str]:
    return [
        (dt.datetime(1970, 1, 1) + dt.timedelta(seconds=int(s))).strftime(
            "%Y-%m-%d %H:%M:%S"
        )
        for s in secs
    ]


def _kind(dtype: str) -> str:
    return {
        "timestamp_ntz": "ts",
        "date": "date",
        "double": "double",
        "decimal(38,0)": "decimal",
        "boolean": "bool",
    }.get(dtype, "str")


@dataclass
class LeadTable:
    """One source table: the base snapshot, its change set and the
    change-set truth (keys only, as the checks need)."""

    name: str
    key: str  # source key column
    target_key: str
    base: pa.Table
    changes: pa.Table | None = None
    updated: set[str] = field(default_factory=set)
    inserted: set[str] = field(default_factory=set)
    deleted: set[str] = field(default_factory=set)
    stale: set[str] = field(default_factory=set)


def _column(
    rng: np.random.Generator, col: str, kind: str, keys: list[str], dirty: float
) -> list:
    n = len(keys)
    if kind == "str":
        vals = [f"{col[:6]}-{v}" for v in rng.integers(0, 10_000, n)]
        for i in np.flatnonzero(rng.random(n) < 0.1):
            vals[int(i)] = None
        return vals
    if kind == "ts":
        vals = _iso(rng.integers(_TS_LO, _WM, n))
    elif kind == "date":
        vals = [s[:10] for s in _iso(rng.integers(_TS_LO, _WM, n))]
    elif kind == "double":
        vals = [f"{v:.2f}" for v in rng.uniform(0, 50_000, n)]
    elif kind == "decimal":
        vals = [str(v) for v in rng.integers(0, 100, n)]
    elif kind == "bool":
        return list(np.asarray(DIRTY["bool"], dtype=object)[rng.integers(0, 10, n)])
    elif kind in ("boolstr", "json"):
        return list(np.asarray(DIRTY[kind], dtype=object)[rng.integers(0, len(DIRTY[kind]), n)])
    bad = DIRTY[kind]
    for i in np.flatnonzero(rng.random(n) < dirty):
        vals[int(i)] = bad[int(rng.integers(0, len(bad)))]
    return vals


def _rows(
    rng: np.random.Generator,
    spec,
    key: str,
    keys: list[str],
    modify: list[str | None],
    dirty: float,
    delete_flags: list | None = None,
) -> pa.Table:
    tgt = {f.name: f.dataType.simpleString() for f in spec.target_schema.fields}
    cols: dict[str, list] = {}
    for src, dst in spec.mapping.items():
        if src == key:
            cols[src] = list(keys)
        elif src == "modifydate":
            cols[src] = list(modify)
        elif src == "createdate":
            # always parseable and before every modify date, so the
            # incremental backfill (modify := create) stays below the
            # watermark for base rows
            cols[src] = _iso(rng.integers(_TS_LO - 86_400 * 365, _TS_LO, len(keys)))
        elif src == "isdeletedsource" and delete_flags is not None:
            cols[src] = list(delete_flags)
        else:
            kind = _kind(tgt[dst])
            if dst in spec.json_columns:
                kind = "json"
            elif dst in spec.boolean_string_columns:
                kind = "boolstr"
            cols[src] = _column(rng, src, kind, keys, dirty)
    # an extra source column no mapping names: the final projection drops it
    cols["junk_col"] = ["junk"] * len(keys)
    return pa.table({c: pa.array(v, pa.string()) for c, v in cols.items()})


def lead_tables(
    rng: np.random.Generator, n_rows: int, change_rate: float = 0.1
) -> list[LeadTable]:
    """Base snapshots for the three LCR tables plus change sets for
    ``lead`` and ``lead_xref``: per change set, 40% updates of existing
    keys, 30% inserts, 20% soft-deletes (IS_DELETED_SOURCE true-ish) and
    10% stale rows (modified before the watermark, which the incremental
    filter must drop). ~25% of every typed value is dirty."""
    from lcr_etl_upgrade_spark.schemas import LEAD, LEAD_ASSIGNMENT, LEAD_XREF

    tag = int(rng.integers(0, 1 << 30))
    out = []
    for spec, key, tkey, with_changes in (
        (LEAD, "leadguid", "LEAD_GUID", True),
        (LEAD_XREF, "leadxrefguid", "LEAD_XREF_GUID", True),
        (LEAD_ASSIGNMENT, "leadassignmentguid", "LEAD_ASSIGNMENT_GUID", False),
    ):
        prefix = f"{spec.name[:4]}{tag:08x}"
        keys = [f"{prefix}-{i:07d}" for i in range(n_rows)]
        modify = _iso(rng.integers(_TS_LO, _WM - 86_400, n_rows))
        for i in np.flatnonzero(rng.random(n_rows) < 0.15):
            modify[int(i)] = None  # backfilled from createdate
        t = LeadTable(spec.name, key, tkey, _rows(rng, spec, key, keys, modify, 0.25))
        if with_changes:
            n_ch = int(n_rows * change_rate)
            n_upd, n_ins, n_del = int(n_ch * 0.4), int(n_ch * 0.3), int(n_ch * 0.2)
            n_stale = n_ch - n_upd - n_ins - n_del
            picked = rng.choice(n_rows, n_upd + n_del + n_stale, replace=False)
            upd = [keys[int(i)] for i in picked[:n_upd]]
            dele = [keys[int(i)] for i in picked[n_upd : n_upd + n_del]]
            stale = [keys[int(i)] for i in picked[n_upd + n_del :]]
            ins = [f"{prefix}-{n_rows + i:07d}" for i in range(n_ins)]
            ch_keys = upd + ins + dele + stale
            fresh = _iso(rng.integers(_WM + 86_400, _TS_HI, n_upd + n_ins + n_del))
            old = _iso(rng.integers(_TS_LO, _WM - 86_400, n_stale))
            flags = (
                [KEEP_FLAGS[int(i)] for i in rng.integers(0, 4, n_upd + n_ins)]
                + [DELETE_FLAGS[int(i)] for i in rng.integers(0, 4, n_del)]
                + [KEEP_FLAGS[int(i)] for i in rng.integers(0, 4, n_stale)]
            )
            t.changes = _rows(rng, spec, key, ch_keys, fresh + old, 0.25, flags)
            t.updated, t.inserted = set(upd), set(ins)
            t.deleted, t.stale = set(dele), set(stale)
        out.append(t)
    return out


def table_digest(tables: dict[str, pa.Table]) -> str:
    """Content digest of a set of generated tables (self-test helper)."""
    import hashlib

    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        for batch in tables[name].to_batches():
            for col in batch.columns:
                for buf in col.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()
