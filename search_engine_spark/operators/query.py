"""Query-side engine: BM25 top-k and phrase search over the postings table.

The postings table is plain columns, ``(term, docid, tf, dl, positions)``
sorted by (term, docid) (see operators/indexer.py). The parquet scan
decodes it; no query path runs Python over posting data.

One exact scorer per execution site (no posting-list sampling — the
reference randomly sampled 2000 docs per term, frontend/Master.java:356-391;
the north star replaces that with exact BM25):

* ``topk_distributed`` — a declarative Spark plan: term-pruned scan of
  ``(term, docid, tf, dl)``, broadcast idf join, per-(doc,term) BM25
  partials as JVM expressions (``_bm25_part_col``), then
  ``groupBy(docid).sum → ORDER BY score DESC LIMIT k``
  (TakeOrderedAndProject). Scales with the cluster; ``topk_batch``,
  ``topk_with_deletes`` and ``topk_over_segments`` are its batch,
  tombstone and segment-set forms.

* ``topk_wand`` — driver-side, for interactive queries: one term-pruned
  Arrow collect of the query terms' postings, then vectorized (numpy,
  array-at-a-time) exact BM25 scoring. Queries whose posting lists are
  too large for the driver hand off to ``topk_distributed``.

Phrase search (reference jobs/IndexerProjectPhraseSearch.java:328-475)
intersects posting lists in df-ascending order and verifies adjacency with
the stored positions by intersecting candidate phrase-start sets.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from search_engine_spark.catalog import Warehouse
from search_engine_spark.oracle.bm25 import B, K1
from search_engine_spark.oracle.text import STOPWORDS, tokenize

# Final scores round to this many decimals before the (score desc,
# docid asc) ordering. BM25 doubles reproduce only to ~1 ulp across
# physical plans (partition sum order, stored vs recomputed avgdl), and
# two docs with DIFFERENT (tf, dl) inputs can land on the same double — a
# 1-ulp drift then breaks that coincidental tie in one plan but not
# another and flips the emitted ranking. 9 dp is far
# below any meaningful score difference yet ~10^7 ulps wide, so the
# tie-break — and therefore the ranking — is identical for every plan and
# parallelism level.
SCORE_ROUND = 9


@dataclass
class Index:
    """Handles to one index warehouse (see operators/indexer.py layout).
    Tables resolve through the Warehouse abstraction: Iceberg when a
    catalog is configured, the parquet layout otherwise."""

    spark: SparkSession
    path: str
    stats: dict
    iceberg_catalog: str | None = None

    def _wh(self) -> Warehouse:
        return Warehouse(self.spark, self.path, self.iceberg_catalog)

    @property
    def postings(self) -> DataFrame:
        return self._wh().read("postings")

    @property
    def terms(self) -> DataFrame:
        return self._wh().read("terms")

    @property
    def docs(self) -> DataFrame:
        return self._wh().read("docs")


def load_index(
    spark: SparkSession, path: str, iceberg_catalog: str | None = None
) -> Index:
    with open(os.path.join(path, "stats.json")) as fh:
        stats = json.load(fh)
    return Index(
        spark=spark, path=path, stats=stats, iceberg_catalog=iceberg_catalog
    )


def parse_query(query: str, stem: bool = True) -> list[str]:
    """Query terms: document tokenizer + stopword filter + ordered dedup
    (reference frontend/Master.java:283-296). Dual-indexing means stemmed
    variants match without query-side expansion beyond the stem itself."""
    seen: list[str] = []
    for term, _pos in tokenize(query, stem=stem, cap=None):
        if term in STOPWORDS or term in seen:
            continue
        seen.append(term)
    return seen


# ---------------------------------------------------------------------------
# Distributed exact top-k
# ---------------------------------------------------------------------------

def _scoring_postings(index: Index, terms: list[str]) -> DataFrame:
    """(term, docid, tf, dl) rows of ``terms`` — the term filter is pushed
    into the parquet scan (row-group pruning on the term-sorted layout) and
    ``positions`` is never read."""
    return index.postings.filter(F.col("term").isin(terms)).select(
        "term", "docid", "tf", "dl"
    )


def _bm25_part_col(avgdl: float):
    return (
        F.col("idf") * F.col("tf") * F.lit(K1 + 1.0)
        / (
            F.col("tf")
            + F.lit(K1)
            * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.lit(avgdl))
        )
    )


def topk_distributed(
    index: Index, query: str, k: int = 100, decimals: int = SCORE_ROUND
) -> DataFrame:
    """(docid, score) top-k as a Spark plan. The term filter is pushed into
    the parquet scan (term-sorted layout → row-group pruning).

    ``decimals``: scores are ROUNDED BEFORE the (score desc, docid asc)
    ranking, not after — a post-hoc round can disagree with a consumer
    that ranks at the rounded precision (two docs 1e-9 apart straddling
    the k boundary). Pass the precision the consumer compares at (the
    cross-engine gate uses 6)."""
    terms = parse_query(query, stem=index.stats.get("stem", True))
    spark = index.spark
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    avgdl = index.stats["avgdl"]

    tstats = index.terms.filter(F.col("term").isin(terms)).select("term", "idf")

    # exact BM25 partial per posting → sum per doc. dl rides on every
    # posting row, so the query plan needs NO join against the docs table —
    # at 10^12 docs that join was a postings-sized shuffle; the only
    # shuffle is the final groupBy.
    scored = (
        _scoring_postings(index, terms)
        .join(F.broadcast(tstats), "term")
        .withColumn("part", _bm25_part_col(avgdl))
        .groupBy("docid")
        .agg(F.round(F.sum("part"), decimals).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)


def topk_with_deletes(
    index: Index,
    deleted: DataFrame,
    query: str,
    k: int = 100,
    decimals: int = SCORE_ROUND,
) -> DataFrame:
    """Tombstone-masked top-k: query the index as if the docids in
    ``deleted`` (1-column DataFrame) had never been indexed. Results AND
    ranking statistics (per-term df, n_docs, avgdl) reflect only live
    documents — pytest proves the output identical to rebuilding the
    index from scratch over the survivors.

    This is Lucene-style delete semantics without segment rewrites, the
    piece that completes index maintenance around the incremental indexer
    (streaming/indexing.py) and ``crawl_delta``: added/changed pages →
    new segment; removed/changed pages → tombstones; segments compact on
    the indexer's own merge schedule. Cost over a plain query: one
    anti-join of the QUERY-TERM postings against the tombstone
    set (never the full index) + one scalar stats adjustment (count and
    dl-sum of tombstoned docs, a pruned broadcast-sized aggregate); the
    postings/terms tables are untouched. Per-term idf is recomputed from
    the LIVE df, so a term whose occurrences were all deleted simply
    vanishes — exactly as a rebuild would have it.
    """
    from search_engine_spark.operators.text_ops import bm25_idf_col

    terms = parse_query(query, stem=index.stats.get("stem", True))
    spark = index.spark
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    dele = (
        deleted.select(
            F.col(deleted.columns[0]).cast("long").alias("docid")
        ).distinct()
    )
    # scalar stats adjustment: only tombstones that exist in THIS index
    adj = (
        index.docs.join(dele, "docid")
        .agg(
            F.count(F.lit(1)).alias("n_del"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("dl_del"),
        )
        .collect()[0]
    )
    n_live = int(index.stats["n_docs"]) - int(adj["n_del"])
    if n_live <= 0:
        return spark.createDataFrame([], "docid long, score double")
    sum_dl_live = (
        float(index.stats["avgdl"]) * int(index.stats["n_docs"])
        - float(adj["dl_del"])
    )
    avgdl_live = sum_dl_live / n_live

    # idf is joined after the mask: it depends on the LIVE df
    live = _scoring_postings(index, terms).join(dele, "docid", "left_anti")
    df_live = live.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tstats = df_live.select(
        "term", bm25_idf_col(n_live, F.col("df")).alias("idf")
    )
    scored = (
        live.join(F.broadcast(tstats), "term")
        .withColumn("part", _bm25_part_col(avgdl_live))
        .groupBy("docid")
        .agg(F.round(F.sum("part"), decimals).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)


def topk_over_segments(
    spark: SparkSession, seg_dirs: list[str], query: str, k: int = 100
) -> DataFrame:
    """Search a log-structured LEVEL SET without collapsing it — the
    mid-stream query path for the incremental indexer
    (streaming/indexing.py): each segment stays as-built; only global
    statistics are recomputed.

    ``seg_dirs`` are ordered oldest → newest (docid offsets accumulate in
    that order, matching what a collapse via merge_indexes would assign).
    Global n_docs/avgdl come from segment stats; global per-term df is the
    sum over the segments' terms tables (pruned, tiny scans) → global idf
    driver-side. Each segment's pruned postings shift their docids by the
    segment offset; one union, one broadcast idf join and one groupBy
    score everything with the GLOBAL idf/avgdl. Result is identical to
    querying the collapsed index (tested to 1e-9)."""
    from search_engine_spark.oracle.bm25 import bm25_idf

    idxs = [load_index(spark, d) for d in seg_dirs]
    if not idxs:
        return spark.createDataFrame([], "docid long, score double")
    terms = parse_query(query, stem=idxs[0].stats.get("stem", True))
    if not terms:
        return spark.createDataFrame([], "docid long, score double")
    n_docs = sum(ix.stats["n_docs"] for ix in idxs)
    avgdl = (
        sum(ix.stats["avgdl"] * ix.stats["n_docs"] for ix in idxs) / n_docs
        if n_docs
        else 0.0
    )
    df_global: dict[str, int] = {}
    for ix in idxs:
        for r in (
            ix.terms.filter(F.col("term").isin(terms))
            .select("term", "df")
            .collect()
        ):
            df_global[r["term"]] = df_global.get(r["term"], 0) + int(r["df"])
    if not df_global:
        return spark.createDataFrame([], "docid long, score double")
    idf_rows = [(t, bm25_idf(n_docs, d)) for t, d in sorted(df_global.items())]
    tstats = F.broadcast(
        spark.createDataFrame(idf_rows, "term string, idf double")
    )
    offset = 0
    parts = []
    for ix in idxs:
        parts.append(
            _scoring_postings(ix, list(df_global)).withColumn(
                "docid", F.col("docid") + F.lit(offset)
            )
        )
        offset += ix.stats["n_docs"]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    scored = (
        union.join(tstats, "term")
        .withColumn("part", _bm25_part_col(avgdl))
        .groupBy("docid")
        .agg(F.round(F.sum("part"), SCORE_ROUND).alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)


def topk_batch(
    index: Index, queries: dict[int, str], k: int = 100,
    decimals: int = SCORE_ROUND,
) -> DataFrame:
    """(qid, docid, score, rank) — top-k for MANY queries in ONE Spark plan.

    Bulk query evaluation: the postings scan is pruned to the UNION of all
    queries' terms and read once; a broadcast (term → qid) expansion
    fans each posting out to the queries that contain its term; one
    aggregation scores every (qid, docid); a per-qid window takes top-k.
    Thousands of queries amortize into a single pass over the index — the
    batch analogue of ``topk_distributed`` (which this reuses nothing from
    at runtime: one scan TOTAL, not one per query)."""
    spark = index.spark
    q_terms = {
        qid: parse_query(q, stem=index.stats.get("stem", True))
        for qid, q in queries.items()
    }
    pairs = [(qid, t) for qid, ts in q_terms.items() for t in ts]
    if not pairs:
        return spark.createDataFrame(
            [], "qid long, docid long, score double, rank int"
        )
    all_terms = sorted({t for _, t in pairs})
    avgdl = index.stats["avgdl"]

    qmap = spark.createDataFrame(pairs, "qid long, term string")
    tstats = index.terms.filter(F.col("term").isin(all_terms)).select(
        "term", "idf"
    )
    from pyspark.sql import Window

    scored = (
        _scoring_postings(index, all_terms)
        .join(F.broadcast(tstats), "term")
        .join(F.broadcast(qmap), "term")
        .withColumn("part", _bm25_part_col(avgdl))
        .groupBy("qid", "docid")
        # rank on the same emission-rounded value (decimals defaults to
        # the library-wide SCORE_ROUND so batch and single-query paths
        # implement ONE tie semantics; gate entries pass 6 to rank on the
        # exact values their cross-engine oracle ranks on)
        .agg(F.round(F.sum("part"), decimals).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("docid").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "docid", "score", "rank")
    )


# ---------------------------------------------------------------------------
# Driver-side exact top-k
# ---------------------------------------------------------------------------

def _fetch_postings(index: Index, terms: list[str]):
    """The query terms' (term, docid, tf, dl) rows as one Arrow table —
    one term-pruned scan, collected column-wise (no per-row objects)."""
    return _scoring_postings(index, terms).toArrow()


def _topk_bulk(
    postings,
    idfs: dict[str, float],
    avgdl: float,
    k: int,
) -> list[tuple[int, float]]:
    """Vectorized exhaustive scoring of the fetched postings (numpy):
    BM25 partials array-at-a-time, sum per docid via sorted reduceat,
    partial-select top-k. Exact."""
    if not postings.num_rows:
        return []
    term = postings.column("term").combine_chunks().dictionary_encode()
    idf = np.array(
        [idfs[t] for t in term.dictionary.to_pylist()], dtype=np.float64
    )[term.indices.to_numpy()]
    docids = postings.column("docid").to_numpy()
    tf = postings.column("tf").to_numpy().astype(np.float64)
    dl = postings.column("dl").to_numpy().astype(np.float64)
    parts = idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
    order = np.argsort(docids, kind="stable")
    d_s, p_s = docids[order], parts[order]
    starts = np.nonzero(np.concatenate(([True], d_s[1:] != d_s[:-1])))[0]
    uniq = d_s[starts]
    sums = np.round(np.add.reduceat(p_s, starts), SCORE_ROUND)
    top = np.lexsort((uniq, -sums))[:k]
    return [(int(uniq[i]), float(sums[i])) for i in top]


# Driver-side serving paths (``topk_wand``, ``phrase_docs``) collect
# posting rows to the driver. Above this many postings for one query they
# hand off to their distributed siblings instead — a stop-word term over a
# 100× corpus must never OOM the driver. The preflight is the terms lookup
# (df) each path already does. 2M postings ≈ a few tens of MB of Arrow
# columns (more with positions) — comfortable; far past it is not.
DRIVER_POSTINGS_MAX = 2_000_000


def topk_wand(
    index: Index,
    query: str,
    k: int = 100,
    driver_postings_max: int | None = None,
) -> list[tuple[int, float]]:
    """Exact BM25 top-k, driver-side (the interactive path): one
    term-pruned Arrow collect of the query terms' postings, then
    vectorized exhaustive scoring (``_topk_bulk``). Returns
    [(docid, score)] sorted (score desc, docid asc), identical to the
    exhaustive oracle. The name predates this scorer and is kept for its
    callers.

    Document lengths ride on the posting rows themselves, so the query
    path touches ONLY the pruned postings + terms for the
    query — never the docs table (collecting it was O(corpus) per fresh
    index handle; fatal at 10^12 docs).

    Driver-memory guard: the terms lookup below also reads ``df``, and
    when the query's total posting count exceeds ``driver_postings_max``
    (default :data:`DRIVER_POSTINGS_MAX`) the postings are NEVER
    collected — the call hands off to ``topk_distributed`` and returns
    its (rank- and score-identical) result. The preflight costs zero
    extra Spark jobs."""
    if driver_postings_max is None:
        driver_postings_max = DRIVER_POSTINGS_MAX
    terms = parse_query(query, stem=index.stats.get("stem", True))
    if not terms:
        return []
    trows = (
        index.terms.filter(F.col("term").isin(terms))
        .select("term", "idf", "df")
        .collect()
    )
    idfs = {r["term"]: r["idf"] for r in trows}
    if sum(r["df"] for r in trows) > driver_postings_max:
        rows = topk_distributed(index, query, k).collect()
        return [(int(r["docid"]), float(r["score"])) for r in rows]
    postings = _fetch_postings(index, [t for t in terms if t in idfs])
    return _topk_bulk(postings, idfs, index.stats["avgdl"], k)


# ---------------------------------------------------------------------------
# Result assembly: url + snippet (the reference frontend's answer shape)
# ---------------------------------------------------------------------------

def snippet_expr(
    terms: list[str], text_col: str = "text", snippet_len: int = 120,
    context: int = 30,
) -> "F.Column":
    """Deterministic snippet: ``snippet_len`` chars starting ``context``
    before the first occurrence of any query term (1 if none match).
    Built-ins only; exactly mirrorable in SQL (``snippet_sql``).

    ``terms`` may be EMPTY (reachable whenever every raw query token is a
    stopword but its stem still scores, e.g. "was" → dual-indexed "wa"):
    the snippet is then the document head — F.least() with zero columns
    would throw at plan build."""
    if not terms:
        return F.substring(F.col(text_col), 1, snippet_len)
    lowered = F.lower(F.col(text_col))
    poss = [
        F.nullif(F.instr(lowered, t), F.lit(0)) for t in terms
    ]
    first = poss[0] if len(poss) == 1 else F.least(*poss)
    pos = F.coalesce(first, F.lit(1))
    start = F.greatest(F.lit(1), pos - F.lit(context))
    return F.substring(F.col(text_col), start, snippet_len)


def snippet_sql(
    terms: list[str], text_col: str = "text", snippet_len: int = 120,
    context: int = 30,
) -> str:
    """DuckDB mirror of ``snippet_expr``."""
    if not terms:
        return f"substr({text_col}, 1, {snippet_len})"
    poss = ", ".join(
        f"nullif(strpos(lower({text_col}), '{t}'), 0)" for t in terms
    )
    least = poss if len(terms) == 1 else f"least({poss})"
    return (
        f"substr({text_col}, greatest(1, coalesce({least}, 1) - {context}), "
        f"{snippet_len})"
    )


TITLE_RE = r"<title>([^<]*)</title>"


def title_expr(html_col) -> "F.Column":
    """<title> extraction (JVM regex) — the reference's titles.table
    content (frontend/Master.java:52-79 loads url→title extracted from the
    page head; here it's a column computed at answer-assembly time)."""
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    return F.regexp_extract(c, TITLE_RE, 1)


def topk_with_urls(
    index: Index,
    corpus: DataFrame,
    query: str,
    k: int = 100,
    url_col: str = "url",
    text_col: str = "text",
    snippet_len: int = 120,
    html_col: str | None = None,
    decimals: int = SCORE_ROUND,
) -> DataFrame:
    """(docid, url, score[, title], snippet) — the user-facing answer the
    reference frontend returns (url + title + snippet per hit,
    frontend/Master.java:203-256). ``html_col`` names a raw-html column in
    ``corpus``; when given, the page ``<title>`` is extracted per hit.

    Scale shape: top-k docids collect to the driver (k rows), then both
    lookups are IN-filtered scans — docs/ is docid-range-sorted parquet so
    the docid filter prunes row groups, and the corpus lookup filters on
    url before the join. No corpus-sized shuffle."""
    # rank at the EMITTED precision (a post-hoc round can flip the
    # k-boundary tie order vs a consumer comparing at ``decimals``)
    scores = topk_distributed(index, query, k, decimals=decimals).collect()
    spark = index.spark
    if not scores:
        return spark.createDataFrame(
            [], "docid long, url string, score double, snippet string"
        )
    sdf = spark.createDataFrame(
        [(r["docid"], float(r["score"])) for r in scores],
        "docid long, score double",
    )
    docids = [r["docid"] for r in scores]
    hits = index.docs.filter(F.col("docid").isin(docids)).select(
        "docid", "url"
    )
    urls = [r["url"] for r in hits.collect()]
    snip_terms = [t for t, _ in tokenize(query, stem=False, cap=None)
                  if t not in STOPWORDS]
    body_cols = [
        F.col(url_col).alias("url"),
        snippet_expr(snip_terms, text_col, snippet_len).alias("snippet"),
    ]
    out_cols = ["docid", "url", "score", "snippet"]
    if html_col is not None:
        h = F.col(html_col)
        if dict(corpus.dtypes).get(html_col) == "binary":
            h = h.cast("string")
        body_cols.append(title_expr(h).alias("title"))
        out_cols.append("title")
    body = corpus.filter(F.col(url_col).isin(urls)).select(*body_cols)
    return (
        sdf.join(F.broadcast(hits), "docid")
        .join(F.broadcast(body), "url")
        .select(*out_cols)
        .orderBy(F.col("score").desc(), F.col("docid").asc())
    )


# ---------------------------------------------------------------------------
# Phrase search
# ---------------------------------------------------------------------------

def _phrase_term_offsets(phrase: str) -> dict[str, list[int]]:
    """unique term → 0-based offsets of its occurrences in the phrase."""
    terms = [t for t, _ in tokenize(phrase, stem=False, cap=None)]
    offs: dict[str, list[int]] = {}
    for o, t in enumerate(terms):
        offs.setdefault(t, []).append(o)
    return offs


def phrase_docs(
    index: Index, phrase: str, driver_postings_max: int | None = None
) -> list[int]:
    """Docids containing the exact adjacent token phrase — driver path.

    Scale shape (reference IndexerProjectPhraseSearch.java:407-440's
    df-ascending idea): one terms lookup gives each phrase term's df; then
    ONE collect of the phrase terms' (term, docid, positions) rows,
    semi-joined to the rarest term's docids — a phrase containing a
    frequent term never pulls that term's whole posting list to the
    driver, only its rows in the rarest term's documents. Terms are then
    processed df-ascending and adjacency is verified from the stored
    1-based positions (checkExactMatch :340-376) via candidate-start-set
    intersection; duplicate phrase terms intersect across their offsets."""
    offs = _phrase_term_offsets(phrase)
    if not offs:
        return []
    df_by_term = {
        r["term"]: r["df"]
        for r in index.terms.filter(F.col("term").isin(list(offs)))
        .select("term", "df")
        .collect()
    }
    if any(t not in df_by_term for t in offs):
        return []
    order = sorted(offs, key=lambda t: df_by_term[t])
    # Driver-memory guard: the rarest term's df bounds the candidate set
    # and so every term's share of the collect below. Past the threshold,
    # hand off to the fully distributed plan — identical result set.
    if driver_postings_max is None:
        driver_postings_max = DRIVER_POSTINGS_MAX
    if df_by_term[order[0]] > driver_postings_max:
        return sorted(
            int(r["docid"])
            for r in phrase_docs_distributed(index, phrase).collect()
        )

    postings = index.postings.filter(F.col("term").isin(list(offs))).select(
        "term", "docid", "positions"
    )
    rarest = postings.filter(F.col("term") == order[0]).select("docid")
    rows = postings.join(rarest, "docid", "left_semi").toArrow()
    by_term: dict[str, list[tuple[int, list[int]]]] = {}
    for t, d, plist in zip(
        rows.column("term").to_pylist(),
        rows.column("docid").to_pylist(),
        rows.column("positions").to_pylist(),
    ):
        by_term.setdefault(t, []).append((d, plist))

    # starts[docid] = set of phrase-start positions consistent with every
    # term processed so far
    starts: dict[int, set[int]] = {}
    for ti, t in enumerate(order):
        term_starts: dict[int, set[int]] = {}
        for d, plist in by_term.get(t, ()):
            if ti > 0 and d not in starts:
                continue
            pset = set(plist)
            s: set[int] | None = None
            for o in offs[t]:
                cur = {p - o for p in pset if p - o >= 1}
                s = cur if s is None else (s & cur)
                if not s:
                    break
            if s:
                term_starts[d] = s
        if ti == 0:
            starts = term_starts
        else:
            nxt: dict[int, set[int]] = {}
            for d, s in term_starts.items():
                inter = starts[d] & s
                if inter:
                    nxt[d] = inter
            starts = nxt
        if not starts:
            return []
    return sorted(starts)


def phrase_docs_distributed(index: Index, phrase: str) -> DataFrame:
    """Phrase search as a fully distributed Spark plan (the 10^12-doc path).

    Per phrase offset, a term-pruned scan of that term's postings explodes
    ``positions`` to (docid, start = pos - offset); one (docid, start)-keyed
    join per further offset → DISTINCT docid. Shuffle sizes are the terms'
    posting lists; nothing touches the driver."""
    offs = _phrase_term_offsets(phrase)
    spark = index.spark
    if not offs:
        return spark.createDataFrame([], "docid long")
    legs = []
    for t, t_offs in offs.items():
        occ = index.postings.filter(F.col("term") == t).select(
            "docid", F.explode("positions").alias("pos")
        )
        for o in t_offs:
            legs.append(
                occ.select("docid", (F.col("pos") - F.lit(o)).alias("start"))
                .filter(F.col("start") >= 1)
            )
    out = legs[0]
    for leg in legs[1:]:
        out = out.join(leg, ["docid", "start"])
    return out.select("docid").distinct()
