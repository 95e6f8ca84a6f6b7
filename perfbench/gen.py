"""Deterministic input generator for the benchmark.

Everything the benchmark feeds the program comes from here, and all of
it is a pure function of ``(seed, scale)``: the parquet tables the
registry reads (same schemas as the project's TPC-H-ish test data plus
``events``, ``documents`` and ``embeddings``), the open-loop request
schedule of the ``serve`` workload, and the micro-batches of its
write stream (``ingest.py``).  Nothing reads the clock or the
environment.
"""

from __future__ import annotations

import dataclasses
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the corpus vocabulary (the test-data generator's word list); query
#: terms are Zipf-sampled from it by corpus frequency rank
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
#: the Porter (1980) stem of every word a generated document can hold
#: (the vocabulary and the " dup" marker of near-duplicates), worked
#: out by hand from the published algorithm: the output checks stem
#: with this table, not with the program's stemmer
PORTER_STEMS = {w: w for w in VOCAB} | {
    "customer": "custom", "merge": "merg", "table": "tabl", "value": "valu",
    "key": "kei", "query": "queri", "dup": "dup",
}
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
EMB_DIM = 64
N_LABELS = 10
TENANTS = ("t0", "t1")


@dataclasses.dataclass(frozen=True)
class Scale:
    """Row counts per table.  ``sf`` is the label recorded in the output."""

    sf: float
    lineitem: int
    orders: int
    customer: int
    supplier: int
    part: int
    events: int
    documents: int
    embeddings: int


#: sf0.01 matches the project's correctness test data row for row; the
#: serving tables (documents, embeddings) are smaller than the 500 rows
#: there so that every index store builds in seconds on a small box
SCALES = {
    "sf0.001": Scale(0.001, 6000, 1500, 150, 10, 200, 1000, 200, 100),
    "sf0.01": Scale(0.01, 60000, 15000, 1500, 100, 2000, 10000, 300, 100),
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per named stream, so adding a stream
    never shifts the values of another."""
    tag = int.from_bytes(stream.encode(), "little") % (2**32)
    return np.random.default_rng([seed, tag])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def doc_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(rng.choice(VOCAB, n_words))


def embedding_rows(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Unit vectors drawn around one centre per label (so IVF cells are
    meaningful), returned as (float32 matrix, int32 labels)."""
    centres = _rng(0, "emb-centres").normal(size=(N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n).astype("int32")
    vecs = centres[labels] + rng.normal(scale=1.2, size=(n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype("float32"), labels


def make_tables(seed: int, scale: Scale) -> dict[str, pa.Table]:
    s = scale
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": np.arange(s.customer, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customer)],
        "c_nationkey": r.integers(0, 25, s.customer).astype("int32"),
        "c_acctbal": _money(r, -999.99, 9999.99, s.customer),
        "c_mktsegment": r.choice(
            ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], s.customer
        ),
    })
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s.supplier, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.supplier)],
        "s_nationkey": r.integers(0, 25, s.supplier).astype("int32"),
        "s_acctbal": _money(r, -999.99, 9999.99, s.supplier),
    })
    r = _rng(seed, "part")
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
    out["part"] = pa.table({
        "p_partkey": np.arange(s.part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(r.choice(adj, s.part), r.choice(noun, s.part))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, s.part)],
        "p_type": r.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], s.part),
        "p_size": r.integers(1, 51, s.part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(s.part) % 1000) * 0.1, 2),
    })
    r = _rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(s.orders, dtype="int64"),
        "o_custkey": r.integers(0, s.customer, s.orders).astype("int64"),
        "o_orderstatus": r.choice(["F", "O", "P"], s.orders),
        "o_totalprice": _money(r, 1000, 500000, s.orders),
        "o_orderdate": _days(r, "1995-01-01", 2404, s.orders),
        "o_orderpriority": r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], s.orders
        ),
    })
    r = _rng(seed, "lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, s.orders, s.lineitem).astype("int64"),
        "l_partkey": r.integers(0, s.part, s.lineitem).astype("int64"),
        "l_suppkey": r.integers(0, s.supplier, s.lineitem).astype("int64"),
        "l_linenumber": r.integers(1, 8, s.lineitem).astype("int32"),
        "l_quantity": r.integers(1, 51, s.lineitem).astype("float64"),
        "l_extendedprice": _money(r, 900, 105000, s.lineitem),
        "l_discount": r.integers(0, 11, s.lineitem) / 100.0,
        "l_tax": r.integers(0, 9, s.lineitem) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], s.lineitem),
        "l_linestatus": r.choice(["O", "F"], s.lineitem),
        "l_shipdate": _days(r, "1995-01-02", 2498, s.lineitem),
    })
    out["events"] = events_table(_rng(seed, "events"), 0, s.events, np.datetime64("2024-01-01", "us"))
    r = _rng(seed, "documents")
    texts = [doc_text(r, int(k)) for k in r.integers(20, 80, s.documents)]
    # 5% near-duplicates, an earlier document with " dup" appended: the
    # count is fixed and only the positions drawn, since near-dup
    # detection's work grows with it
    n_dup = round(0.05 * s.documents)
    for i in sorted(int(x) for x in r.choice(np.arange(1, s.documents), n_dup, replace=False)):
        texts[i] = texts[int(r.integers(0, i))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(s.documents, dtype="int64"),
        "text": texts,
        "lang": r.choice(LANGS, s.documents, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(s.documents)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    vecs, labels = embedding_rows(_rng(seed, "embeddings"), s.embeddings)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(s.embeddings, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels,
    })
    return out


def events_table(rng: np.random.Generator, first_id: int, n: int, start) -> pa.Table:
    gaps = rng.exponential(30 * 86400e6 / max(n, 1), n).astype("int64")
    ts = start + np.cumsum(gaps).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": _money(rng, 0.01, 490.0, n),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    })


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))


# -- serve: open-loop request schedule ---------------------------------------

SERVE_MODES = (
    "keyword", "bm25", "phrase", "vector", "filtered_vector", "pq",
    "hybrid", "substring", "regex", "rollup",
)
#: every block of the serving mix holds one request of each mode, in
#: a seeded order: the modes are the ones the service exposes, and no
#: published source gives their traffic shares, so none is weighted
BLOCK = len(SERVE_MODES)


def zipf_ranks(rng: np.random.Generator, n_items: int, size: int, s: float = 1.1) -> np.ndarray:
    """Zipf(s) over ranks 0..n_items-1 (rank 0 most likely)."""
    w = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size, p=w / w.sum())


def vocab_by_frequency(texts: list[str]) -> list[str]:
    counts: dict[str, int] = {}
    for t in texts:
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    return sorted(counts, key=lambda w: (-counts[w], w))


class RequestMaker:
    """Draws fresh request parameters from the corpus the request will
    query: Zipf-sampled vocabulary terms, corpus phrases and substrings,
    perturbed embedding rows as query vectors, event date ranges."""

    def __init__(self, r: np.random.Generator, tables: dict[str, pa.Table]) -> None:
        self.r = r
        self.texts = tables["documents"].column("text").to_pylist()
        self.vocab = [w for w in vocab_by_frequency(self.texts) if len(w) >= 3]
        self.emb = np.stack(tables["embeddings"].column("embedding").to_numpy(zero_copy_only=False))
        ev_ts = tables["events"].column("ts").to_numpy()
        self.day0 = ev_ts.min().astype("datetime64[D]")
        self.n_days = int((ev_ts.max().astype("datetime64[D]") - self.day0).astype(int)) + 1

    def __call__(self, rid: int, due: float, mode: str, block: int) -> dict:
        """Request ``rid`` of block ``block``.  The shape of a request —
        how many terms, which rollup grain, how many days — cycles with
        the block instead of being drawn, so every run of the same
        length holds the same shapes; the values are drawn."""
        r, texts, vocab = self.r, self.texts, self.vocab
        req: dict = {"id": rid, "due": round(float(due), 6), "mode": str(mode),
                     "tenant": TENANTS[int(r.integers(0, 2))]}
        if mode in ("keyword", "bm25", "hybrid"):
            k = 1 + block % 3
            req["terms"] = sorted({vocab[i] for i in zipf_ranks(r, len(vocab), k)})
        if mode == "phrase":
            doc = texts[int(r.integers(0, len(texts)))].split()
            at = int(r.integers(0, len(doc) - 1))
            req["terms"] = doc[at:at + 2]
        if mode in ("vector", "filtered_vector", "pq", "hybrid"):
            row = self.emb[int(r.integers(0, len(self.emb)))]
            q = row + r.normal(scale=0.05, size=row.shape)
            req["qvec"] = [round(float(x), 6) for x in q / np.linalg.norm(q)]
        if mode == "filtered_vector":
            req["labels"] = sorted(int(x) for x in r.choice(N_LABELS, 3, replace=False))
        if mode == "substring":
            doc = texts[int(r.integers(0, len(texts)))]
            at = int(r.integers(0, max(1, len(doc) - 12)))
            req["pattern"] = doc[at:at + int(r.integers(6, 13))]
        if mode == "regex":
            a, b = (vocab[i] for i in zipf_ranks(r, len(vocab), 2))
            req["pattern"] = f"{a} [a-z]+ {b}"
        if mode == "rollup":
            lo = int(r.integers(0, self.n_days - 2))
            req["grain"] = ("hour", "day")[block % 2]
            req["start"] = str(self.day0 + np.timedelta64(lo, "D"))
            req["end"] = str(self.day0 + np.timedelta64(lo + 1 + block % 3, "D"))
        return req


def serve_requests(seed: int, tables: dict[str, pa.Table], rate: float, seconds: float) -> list[dict]:
    """Poisson arrivals at ``rate`` per second over ``seconds``, with the
    count fixed at ``rate * seconds`` rounded to whole blocks of
    :data:`BLOCK` (a Poisson process given its count is uniform arrival
    times), so every seed serves the same mode mix."""
    r = _rng(seed, "serve")
    make = RequestMaker(r, tables)
    blocks = max(1, round(rate * seconds / BLOCK))
    dues = np.sort(r.uniform(0.0, seconds, blocks * BLOCK))
    modes = [m for _ in range(blocks) for m in r.permutation(SERVE_MODES)]
    return [make(i, t, m, i // BLOCK) for i, (t, m) in enumerate(zip(dues, modes))]


def mode_requests(seed: int, tables: dict[str, pa.Table], modes) -> list[dict]:
    """One request per mode in ``modes``, drawn from ``tables``."""
    make = RequestMaker(_rng(seed, "mode-requests"), tables)
    return [make(i, 0.0, m, i) for i, m in enumerate(modes)]


def repeat_share(requests: list[dict]) -> float:
    """Share of requests whose parameters repeat an earlier request's —
    the hit ratio a perfect plan/result cache keyed on parameters
    could reach on this schedule."""
    seen: set[str] = set()
    hits = 0
    for req in requests:
        key = json.dumps({k: v for k, v in req.items() if k not in ("id", "due")}, sort_keys=True)
        hits += key in seen
        seen.add(key)
    return hits / len(requests) if requests else 0.0


# -- ingest: micro-batches ----------------------------------------------------


def ingest_batches(seed: int, tables: dict[str, pa.Table], n_batches: int, size: int) -> list[dict]:
    """Micro-batches of document upserts/deletes, embedding upserts and
    event appends.  Upserts rewrite existing ids or add new ones; a
    deleted id is never touched again, so every batch applies cleanly."""
    r = _rng(seed, "ingest")
    n_docs = tables["documents"].num_rows
    n_emb = tables["embeddings"].num_rows
    n_ev = tables["events"].num_rows
    ev_end = tables["events"].column("ts").to_numpy().max()
    live_docs = list(range(n_docs))
    next_doc, next_vec = n_docs, n_emb
    out = []
    for b in range(1, n_batches + 1):
        docs_up: list[tuple[int, str, str]] = []
        n_new = size // 2
        picked = set()
        for _ in range(size - n_new):
            picked.add(live_docs[int(r.integers(0, len(live_docs)))])
        ids = sorted(picked) + list(range(next_doc, next_doc + n_new))
        next_doc += n_new
        for d in ids:
            docs_up.append((d, str(r.choice(LANGS, p=LANG_P)), doc_text(r, int(r.integers(20, 60)))))
        live_docs.extend(range(next_doc - n_new, next_doc))
        candidates = [d for d in live_docs if d not in set(ids)]
        deleted = sorted(int(x) for x in r.choice(candidates, max(1, size // 4), replace=False))
        dead = set(deleted)
        live_docs = [d for d in live_docs if d not in dead]
        vecs, labels = embedding_rows(r, size)
        vec_ids = list(range(next_vec, next_vec + size // 2)) + [
            int(x) for x in r.choice(n_emb, size - size // 2, replace=False)
        ]
        next_vec += size // 2
        ev = events_table(r, n_ev + (b - 1) * size * 4, size * 4, ev_end)
        out.append({
            "batch": b,
            "docs": docs_up,
            "deleted": deleted,
            "vec_ids": vec_ids,
            "vecs": [[float(x) for x in v] for v in vecs],
            "labels": [int(x) for x in labels],
            "events": ev,
            "probe_terms": sorted({w for _, _, t in docs_up[:2] for w in t.split()[:2]}),
        })
    return out
