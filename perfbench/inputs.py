"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the workload seed. The engine only
ever sees the files these functions write; oracle answers are computed
from the same in-memory records.
"""

from __future__ import annotations

import datetime
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from search_engine_spark.corpus import page_record
from search_engine_spark.oracle.text import STOPWORDS, tokenize

# Each seed owns a docid window of the synthetic web corpus. Pages are
# stamped EPOCH + docid seconds, so 900 windows keep stamps in range.
SEED_WINDOW = 1_000_000
N_WINDOWS = 900


def page_docids(seed: int, n: int, offset: int = 0) -> list[int]:
    """Docids of one delivery: ``n`` consecutive pages from ``offset``
    inside the seed's window."""
    start = (seed % N_WINDOWS) * SEED_WINDOW + offset
    return list(range(start, start + n))


def write_pages(path: str, docids: list[int]) -> list[dict]:
    """Write the pages of ``docids`` as one parquet file under ``path``."""
    recs = [page_record(d) for d in docids]
    table = pa.Table.from_pylist(
        recs,
        schema=pa.schema([
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]),
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return recs


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


# ---------------------------------------------------------------------------
# Query samples for the search workload
# ---------------------------------------------------------------------------

BANDS = ("head", "mid", "tail")


def band_of(df: int, n_docs: int) -> str | None:
    """df band of a term. Head terms take topk_wand's bulk-scoring branch
    (per-term postings >= 10% of docs); mid and tail terms take its
    document-at-a-time block-max WAND loop."""
    if df >= 0.25 * n_docs:
        return "head"
    if 0.02 * n_docs <= df < 0.10 * n_docs:
        return "mid"
    if 2 <= df <= max(2, 0.01 * n_docs):
        return "tail"
    return None


def band_terms(term_df: dict[str, int], n_docs: int) -> dict[str, list[str]]:
    """Terms of each df band that a query can name on its own: plain
    lowercase words, no stopwords, and a query parse that yields exactly
    the term (so stems never pull in extra postings)."""
    out: dict[str, list[str]] = {b: [] for b in BANDS}
    for term in sorted(term_df):
        if term in STOPWORDS or not term.isalpha() or len(term) < 3:
            continue
        if [t for t, _ in tokenize(term, stem=True, cap=None)] != [term]:
            continue
        band = band_of(term_df[term], n_docs)
        if band:
            out[band].append(term)
    return out


def ranked_queries(
    rng: random.Random, terms: dict[str, list[str]], per_band: int
) -> list[tuple[str, str]]:
    """``per_band`` (band, query) pairs per band. The i-th query of a
    band has 1 + i % 4 terms, so every seed asks for the same amount of
    work; the seed picks the terms."""
    out = []
    for band in BANDS:
        for i in range(per_band):
            n = min(1 + i % 4, len(terms[band]))
            out.append((band, " ".join(rng.sample(terms[band], n))))
    return out


def phrase_queries(
    rng: random.Random, recs: list[dict], n: int
) -> list[str]:
    """``n`` phrases of adjacent tokens taken from seeded english pages,
    so every phrase has at least one hit; lengths alternate 2 and 3.
    Positions stay below the indexing cap."""
    en = [r for r in recs if r["lang"] == "en"]
    out = []
    while len(out) < n:
        toks = tokenize(rng.choice(en)["text"], stem=False)
        length = 2 + len(out) % 2
        i = rng.randrange(0, len(toks) - length)
        span = toks[i : i + length]
        words = [t for t, _ in span]
        if all(w in STOPWORDS for w in words):
            continue
        out.append(" ".join(words))
    return out


# ---------------------------------------------------------------------------
# Tables for the operator suite (same schemas as the engine's sf fixtures)
# ---------------------------------------------------------------------------

DOC_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

N_DOCUMENTS = 500
N_EMBEDDINGS = 500
N_CUSTOMERS = 1_500
N_ORDERS = 15_000
LINES_PER_ORDER = 4


def _write(path: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(cols, schema=schema), path)


def write_suite_tables(out_dir: str, seed: int) -> None:
    """documents, embeddings, customer, orders and lineitem as
    ``<name>.parquet`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    # Lengths and duplicate structure depend on the doc_id alone, so the
    # suite's work stays the same from seed to seed; the words vary.
    texts = []
    for d in range(N_DOCUMENTS):
        if d % 50 == 49:  # exact duplicate of the previous doc
            texts.append(texts[-1])
            continue
        words = rng.choice(DOC_VOCAB, size=10 + (d * 37) % 80)
        text = " ".join(words)
        if d % 20 == 13 and d >= 7:  # near duplicate of an earlier doc
            text = texts[d - 7] + " dup"
        texts.append(text)
    _write(
        os.path.join(out_dir, "documents.parquet"),
        {
            "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i]
                     for i in rng.integers(0, len(LANGS), N_DOCUMENTS)],
            "source": [f"src{d % 20}" for d in range(N_DOCUMENTS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]),
    )

    labels = rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.5 * rng.normal(size=(N_EMBEDDINGS, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        os.path.join(out_dir, "embeddings.parquet"),
        {
            "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
            "embedding": [v.astype(np.float32).tolist() for v in vecs],
            "label": labels,
        },
        pa.schema([("vec_id", pa.int64()),
                   ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]),
    )

    _write(
        os.path.join(out_dir, "customer.parquet"),
        {
            "c_custkey": np.arange(1, N_CUSTOMERS + 1, dtype=np.int64),
            "c_name": [f"Customer#{c:09d}" for c in range(1, N_CUSTOMERS + 1)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, N_CUSTOMERS), 2),
            "c_mktsegment": [SEGMENTS[i]
                             for i in rng.integers(0, 5, N_CUSTOMERS)],
        },
        pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]),
    )

    day = datetime.datetime(1992, 1, 1)
    odays = rng.integers(0, 2400, N_ORDERS)
    _write(
        os.path.join(out_dir, "orders.parquet"),
        {
            "o_orderkey": np.arange(1, N_ORDERS + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, N_CUSTOMERS + 1, N_ORDERS)
            .astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[i]
                              for i in rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": np.round(rng.uniform(900, 500_000, N_ORDERS), 2),
            "o_orderdate": [day + datetime.timedelta(days=int(x))
                            for x in odays],
            "o_orderpriority": [PRIORITIES[i]
                                for i in rng.integers(0, 5, N_ORDERS)],
        },
        pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()),
                   ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")),
                   ("o_orderpriority", pa.string())]),
    )

    n_lines = N_ORDERS * LINES_PER_ORDER
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    _write(
        os.path.join(out_dir, "lineitem.parquet"),
        {
            "l_orderkey": np.repeat(
                np.arange(1, N_ORDERS + 1, dtype=np.int64), LINES_PER_ORDER),
            "l_partkey": rng.integers(1, 2001, n_lines).astype(np.int64),
            "l_suppkey": rng.integers(1, 101, n_lines).astype(np.int64),
            "l_linenumber": np.tile(
                np.arange(1, LINES_PER_ORDER + 1, dtype=np.int32), N_ORDERS),
            "l_quantity": qty,
            "l_extendedprice": np.round(
                qty * rng.uniform(900, 2000, n_lines), 2),
            "l_discount": np.round(rng.integers(0, 11, n_lines) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_lines) / 100, 2),
            "l_returnflag": [("A", "N", "R")[i]
                             for i in rng.integers(0, 3, n_lines)],
            "l_linestatus": [("F", "O")[i]
                             for i in rng.integers(0, 2, n_lines)],
            "l_shipdate": [day + datetime.timedelta(days=int(x))
                           for x in rng.integers(0, 2500, n_lines)],
        },
        pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()),
                   ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()),
                   ("l_linestatus", pa.string()),
                   ("l_shipdate", pa.timestamp("us"))]),
    )
