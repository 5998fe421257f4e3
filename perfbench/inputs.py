"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed: the same seed gives
byte-identical Arrow tables. The program under test only ever sees the
generated tables, written as parquet into the run's work directory.

Three input families:

- ``documents``: the `documents` table shape of the gate data (doc_id, text,
  lang, source, n_chars). ``text`` is pure ``[a-z ]`` word soup (single
  spaces, no leading/trailing blank), which is what gives the interleave wrap
  its closed-form expected extraction. About 5% of the documents are planted
  near-duplicates of an earlier document (one word replaced by ``dup``).
- ``gate_tables``: all ten gate tables (TPC-H-like star schema, events,
  documents, embeddings) at the smallest gate scale, for the 110-query sweep.
- ``longtail_corpus``: interleaved documents with lognormal byte sizes, built
  from ``<p>``-wrapped document texts, about 10% of them made malformed with
  the ``BAD_*`` payloads; the generator also returns what each document's
  extraction must be.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20

# long-tail corpus shape: lognormal byte sizes (sigma, cap) and the share of
# documents made malformed
LONGTAIL_SIGMA = 1.5
LONGTAIL_CAP_BYTES = 8_000_000
LONGTAIL_BAD_SHARE = 0.1

# the malformed payloads of sources.interleave, with the status and error code
# the strict extraction gives a document that contains one of them
BAD_PAYLOADS = [
    ("<p>a > b</p>", "divergent", "divergent_nontermination"),
    ("<div>x</p>", "error", "tag_mismatch"),
    ("<div/>", "error", "illegal_self_close"),
]

INPUT_SPAN = pa.struct(
    [
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32()),
    ]
)
INTERLEAVED_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.string()), pa.field("spans", pa.list_(INPUT_SPAN))]
)

# stream tags keep the generators independent of each other for one seed
_DOCS, _RESAMPLE, _GATE, _LONGTAIL = 1, 2, 3, 4


def _rng(seed: int, tag: int) -> np.random.Generator:
    return np.random.default_rng([seed, tag])


def documents(seed: int, n: int) -> pa.Table:
    """The `documents` table: n docs of 10..100 words, ~5% planted near-dups."""
    rng = _rng(seed, _DOCS)
    words = np.array(WORDS)
    n_words = rng.integers(10, 101, n)
    picks = words[rng.integers(0, len(WORDS), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    texts = [" ".join(picks[e - k : e]) for e, k in zip(ends, n_words)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i == 0:
            continue
        src = texts[int(rng.integers(0, i))].split(" ")
        src[int(rng.integers(0, len(src)))] = "dup"
        texts[i] = " ".join(src)
    langs = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    sources = np.char.add("src", rng.integers(0, N_SOURCES, n).astype(str))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array(sources.tolist(), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def resampled_documents(seed: int, n: int, base: int = 5000) -> pa.Table:
    """n documents drawn with replacement from a seeded ``base``-doc table,
    with fresh, disjoint doc_ids 0..n-1 (the amplification bench.py does in
    Spark, done here so the input is fixed before the program sees it)."""
    docs = documents(seed, base)
    idx = _rng(seed, _RESAMPLE).integers(0, base, n)
    out = docs.select(["text", "source"]).take(pa.array(idx))
    return out.add_column(0, "doc_id", pa.array(np.arange(n, dtype=np.int64)))


# ---------------------------------------------------------------------------
# gate tables
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int) -> pa.Array:
    d = np.datetime64(start, "us") + rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def gate_tables(seed: int) -> dict[str, pa.Table]:
    """The ten gate tables at the smallest gate scale (sf0.001 row counts)."""
    rng = _rng(seed, _GATE)
    n_supp, n_cust, n_part, n_ord, n_line, n_ev, n_users = 10, 150, 200, 1500, 6000, 1000, 15
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)].tolist(),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)].tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)].tolist(),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)].tolist(),
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)].tolist(),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
        }
    )
    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)].tolist(),
            "value": np.round(rng.exponential(60.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = documents(seed, 500)
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, 500)
    vecs = centers[labels] + rng.normal(0.0, 1.0, (500, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(500, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


# ---------------------------------------------------------------------------
# long-tail corpus
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Expected:
    status: str
    error: str | None
    n_spans: int
    n_text_chars: int


def lognormal_sizes(n: int, median: float) -> list[int]:
    """n sizes at the lognormal's stratified quantiles (i + 0.5) / n, capped
    at LONGTAIL_CAP_BYTES.

    Stratified rather than sampled: every seed gets the same size profile, so
    the run-to-run spread measures the program, not the luck of the tail."""
    nd = NormalDist()
    return [
        int(min(LONGTAIL_CAP_BYTES,
                median * np.exp(LONGTAIL_SIGMA * nd.inv_cdf((i + 0.5) / n))))
        for i in range(n)
    ]


def longtail_corpus(
    seed: int, n_docs: int, median_bytes: float = 20_000
) -> tuple[pa.Table, dict[str, Expected]]:
    """Interleaved long-tail documents and the extraction each must give.

    A document is one text span: ``<p>t</p>`` paragraphs (t = a `documents`
    text) concatenated until it reaches its size. A malformed document has one
    BAD payload inserted at a paragraph boundary; its strict extraction fails
    on that single span, so it keeps no spans."""
    rng = _rng(seed, _LONGTAIL)
    base = documents(seed, 5000).column("text").to_pylist()
    sizes = lognormal_sizes(n_docs, median_bytes)
    sizes = [sizes[i] for i in rng.permutation(n_docs)]
    n_bad_docs = int(round(LONGTAIL_BAD_SHARE * n_docs))
    bad = set(rng.choice(n_docs, n_bad_docs, replace=False).tolist())
    ids, spans, expected, n_bad = [], [], {}, 0
    for i, size in enumerate(sizes):
        paras, n_chars, n_bytes = [], 0, 0
        while n_bytes < size:
            t = base[int(rng.integers(0, len(base)))]
            paras.append(f"<p>{t}</p>")
            n_chars += len(t)
            n_bytes += len(t) + 7
        doc_id = f"lt{seed}-{i:06d}"
        if i in bad:
            payload, status, error = BAD_PAYLOADS[n_bad % len(BAD_PAYLOADS)]
            n_bad += 1
            paras.insert(int(rng.integers(0, len(paras) + 1)), payload)
            expected[doc_id] = Expected(status, error, 0, 0)
        else:
            expected[doc_id] = Expected("ok", None, len(paras), n_chars)
        ids.append(doc_id)
        spans.append([{"kind": "text", "text": "".join(paras), "media_ref": None, "offset": 0}])
    table = pa.table({"doc_id": ids, "spans": spans}, schema=INTERLEAVED_SCHEMA)
    return table, expected


def write_parquet(table: pa.Table, path: str, row_group_size: int | None = None) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size)
    return path
