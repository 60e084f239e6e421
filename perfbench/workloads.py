"""The benchmark's workloads. Each drives the engine's public functions
from outside and checks every answer it gets back.

* ``search``    index two page deliveries and merge them (set-up), then
                ranked, phrase and batch queries on the merged index.
* ``operators`` one pass over the side-operator and serving suite.
"""

from __future__ import annotations

import importlib.util
import math
import os
import random
import statistics
import sys
from concurrent.futures import ThreadPoolExecutor

from perfbench import inputs
from perfbench.harness import CheckFailed, Op
from perfbench.trace import EventLog, Tracer, usage

K = 100


# ---------------------------------------------------------------------------
# Answer checks
# ---------------------------------------------------------------------------

def check_ranked(got, want) -> None:
    """``got`` and ``want`` are [(docid, score)]: sorted (score desc,
    docid asc), at most K rows, no NaN, same docids in the same order and
    scores within 1e-6."""
    if len(got) > K:
        raise CheckFailed(f"{len(got)} rows > k={K}")
    for d, s in got:
        if isinstance(s, float) and math.isnan(s):
            raise CheckFailed(f"NaN score for doc {d}")
    if got != sorted(got, key=lambda r: (-r[1], r[0])):
        raise CheckFailed("answer not sorted by (score desc, docid asc)")
    if [d for d, _ in got] != [d for d, _ in want]:
        raise CheckFailed(
            f"ranking differs from oracle: {got[:3]} vs {want[:3]}"
        )
    for (d, s), (_, w) in zip(got, want):
        if abs(s - w) > 1e-6:
            raise CheckFailed(f"doc {d} score {s} vs oracle {w}")


def check_phrase(got, want) -> None:
    if got != sorted(set(got)):
        raise CheckFailed("phrase docids not sorted and unique")
    if got != want:
        raise CheckFailed(f"{len(got)} docs vs oracle {len(want)}")


class Oracle:
    """OracleIndex over ``recs`` whose docid is the record's position."""

    def __init__(self, recs: list[dict]):
        from search_engine_spark.oracle.bm25 import OracleIndex

        self.urls = [r["url"] for r in recs]
        self.index = OracleIndex.build(
            {i: r["text"] for i, r in enumerate(recs)}, stem=True
        )
        self._topk: dict[str, list] = {}
        self._phrase: dict[str, list] = {}

    @property
    def n_docs(self) -> int:
        return len(self.urls)

    def term_df(self) -> dict[str, int]:
        return {t: len(p) for t, p in self.index.postings.items()}

    def topk(self, q: str) -> list:
        """Top-k on the engine's emitted scores: rounded to 9 dp, then
        ordered (score desc, docid asc)."""
        if q not in self._topk:
            ranked = [(d, round(s, 9))
                      for d, s in self.index.topk(q, k=self.n_docs)]
            ranked.sort(key=lambda r: (-r[1], r[0]))
            self._topk[q] = ranked[:K]
        return self._topk[q]

    def phrase(self, p: str) -> list:
        if p not in self._phrase:
            self._phrase[p] = self.index.phrase_docs(p)
        return self._phrase[p]


def indexer_metrics(log: EventLog, spans, index_dirs, input_bytes, docs):
    """indexer.* over the traced build_index spans."""
    u = usage(log, spans)
    n = len(spans)
    out_b = statistics.mean(inputs.dir_bytes(d) for d in index_dirs)
    scratch = statistics.mean(
        inputs.dir_bytes(os.path.join(d, "_stage")) for d in index_dirs
    )
    secs = sum(s.seconds for s in spans)
    return {
        "indexer.wall_s": secs / n,
        "indexer.spark_jobs": u.jobs / n,
        "indexer.python_s": u.python_s / n,
        "indexer.python_bytes": u.python_bytes / n,
        "indexer.shuffle_write_bytes": u.shuffle_write_bytes / n,
        "indexer.spill_bytes": u.spill_bytes / n,
        "indexer.gc_s": u.gc_s / n,
        "indexer.task_skew": u.task_skew,
        "indexer.output_bytes": out_b,
        "indexer.scratch_bytes": scratch,
        "indexer.serving_bytes": out_b - scratch,
        "indexer.bytes_per_input_byte": out_b * len(index_dirs) / input_bytes,
        "indexer.docs_per_s": docs * n / secs,
    }


# ---------------------------------------------------------------------------
# search: build two deliveries, merge them, then query the merged index
# ---------------------------------------------------------------------------

class Search:
    """Set-up indexes two seeded page deliveries and merges the indexes
    (the indexer + merge pipeline). Timed pass: a fixed seeded
    interleaving of ranked queries (topk_wand, k=100) from the head, mid
    and tail df bands, phrase queries (phrase_docs) and repeated
    topk_batch calls over one fixed batch, all on the merged index.

    The op counts give each of the three kinds about a third of the
    pass: on a 4-CPU host a ranked query takes ~250 ms, a phrase query
    ~475 ms and a batch call ~1.4 s, about the same for 128 or 256
    queries (medians over 20 runs), so 12 ranked, 6 phrase and 2 batch
    ops take ~3.0, ~2.9 and ~2.8 s.
    Each run reports the measured shares as ``kind_share``."""

    PAGES = 300  # per delivery
    RANKED_PER_BAND = 4
    PHRASES = 6
    BATCH = 256
    BATCH_CALLS = 2

    def __init__(self, run_dir: str, seed: int):
        self.run_dir = run_dir
        self.pages = []
        recs = []
        for i in range(2):
            path = os.path.join(run_dir, "data", f"delivery{i}")
            got = inputs.write_pages(
                path, inputs.page_docids(seed, self.PAGES, i * self.PAGES))
            self.pages.append(path)
            # merged docids: delivery 1 follows delivery 0, each in url order
            recs.append(sorted((r for r in got if r["lang"] == "en"),
                               key=lambda r: r["url"]))
        self.input_bytes = sum(inputs.dir_bytes(p) for p in self.pages)
        self.oracle = Oracle(recs[0] + recs[1])
        rng = random.Random(seed)
        terms = inputs.band_terms(self.oracle.term_df(), self.oracle.n_docs)
        self.ranked = inputs.ranked_queries(rng, terms,
                                            self.RANKED_PER_BAND)
        self.phrases = inputs.phrase_queries(rng, recs[0] + recs[1],
                                             self.PHRASES)
        extra = inputs.ranked_queries(
            rng, terms, (self.BATCH - len(self.ranked)) // 3 + 1)
        batch = [q for _, q in self.ranked] + [q for _, q in extra]
        self.batch = dict(enumerate(batch[: self.BATCH]))
        self.order = list(range(
            len(self.ranked) + len(self.phrases) + self.BATCH_CALLS))
        rng.shuffle(self.order)
        self.index_dir = None

    def setup(self, spark, tracer: Tracer, rep: int) -> None:
        from search_engine_spark.operators import query as Q
        from search_engine_spark.operators.indexer import build_index
        from search_engine_spark.operators.merge import merge_indexes

        base = os.path.join(self.run_dir, "idx", f"r{rep}")
        self.delivery_dirs = [os.path.join(base, f"d{i}") for i in range(2)]
        self.index_dir = os.path.join(base, "merged")
        for path, out in zip(self.pages, self.delivery_dirs):
            with tracer.span("indexer", "build_index"):
                build_index(spark.read.parquet(path), out)
        with tracer.span("merge", "merge_indexes"):
            merge_indexes(spark, *self.delivery_dirs, self.index_dir)
        self.spark = spark
        self.index = Q.load_index(spark, self.index_dir)

    def warmup(self) -> None:
        """One untimed pass whose batch is collected for the final checks.
        A shorter warm-up leaves the JVM still compiling the planner's
        hot paths during the first timed pass."""
        from search_engine_spark.operators import query as Q

        self.batch_rows = None
        for op in self.pass_ops():
            if op.layer == "batch" and self.batch_rows is None:
                self.batch_rows = Q.topk_batch(
                    self.index, self.batch, k=K).collect()
            else:
                op.fn()

    def pass_ops(self) -> list[Op]:
        from search_engine_spark.operators import query as Q

        idx = self.index
        ops = []
        for band, q in self.ranked:
            ops.append(Op(
                f"ranked.{len(ops)}", "query",
                lambda q=q: Q.topk_wand(idx, q, k=K),
                lambda got, q=q: check_ranked(got, self.oracle.topk(q)),
                {"kind": f"ranked_{band}"},
            ))
        for p in self.phrases:
            ops.append(Op(
                f"phrase.{len(ops)}", "query",
                lambda p=p: Q.phrase_docs(idx, p),
                lambda got, p=p: check_phrase(got, self.oracle.phrase(p)),
                {"kind": "phrase"},
            ))
        for _ in range(self.BATCH_CALLS):
            ops.append(Op(
                f"batch.{len(ops)}", "batch",
                lambda: Q.topk_batch(idx, self.batch, k=K)
                .write.format("noop").mode("overwrite").save(),
            ))
        return [ops[i] for i in self.order]

    def final_checks(self) -> None:
        """The merged index holds the deliveries' pages in order, and the
        warm-up's topk_batch answers every batch query like the oracle (a
        one-shot BM25 over both deliveries) and like topk_wand."""
        from search_engine_spark.operators import query as Q

        if self.index.stats["n_docs"] != self.oracle.n_docs:
            raise CheckFailed(f"merged n_docs {self.index.stats['n_docs']}")
        url_of = {r["docid"]: r["url"] for r in
                  self.index.docs.select("docid", "url").collect()}
        if [url_of.get(i) for i in range(self.oracle.n_docs)] != \
                self.oracle.urls:
            raise CheckFailed("merged docids do not follow delivery and "
                              "url order")
        by_q: dict[int, list] = {qid: [] for qid in self.batch}
        for r in self.batch_rows:
            by_q[r["qid"]].append((r["rank"], r["docid"], r["score"]))
        for qid, q in self.batch.items():
            got = [(d, s) for _, d, s in sorted(by_q[qid])]
            check_ranked(got, self.oracle.topk(q))
        for _, q in self.ranked[:3]:
            wand = Q.topk_wand(self.index, q, k=K)
            qid = next(i for i, b in self.batch.items() if b == q)
            if [(d, s) for _, d, s in sorted(by_q[qid])] != wand:
                raise CheckFailed(f"topk_batch and topk_wand differ on {q!r}")

    def layer_metrics(self, log: EventLog, tracer: Tracer) -> dict:
        m = indexer_metrics(
            log, [s for s in tracer.spans if s.layer == "indexer"],
            self.delivery_dirs, self.input_bytes, self.oracle.n_docs / 2)
        merge = [s for s in tracer.spans if s.layer == "merge"]
        u = usage(log, merge)
        m.update({
            "merge.wall_s": merge[0].seconds,
            "merge.spark_jobs": u.jobs,
            "merge.python_s": u.python_s,
            "merge.input_bytes": u.scan_bytes,
            "merge.output_bytes": inputs.dir_bytes(self.index_dir),
            "merge.docs_per_s": self.oracle.n_docs / merge[0].seconds,
        })
        for kind in ("ranked_head", "ranked_mid", "ranked_tail", "phrase"):
            spans = [s for s in tracer.spans if s.tags.get("kind") == kind]
            u = usage(log, spans)
            n = len(spans)
            span_ms = sum(s.seconds for s in spans) * 1000.0
            m.update({
                f"query.{kind}.p50_ms":
                    statistics.median(s.seconds for s in spans) * 1000.0,
                f"query.{kind}.spark_jobs_per_op": u.jobs / n,
                f"query.{kind}.spark_ms_per_op": u.spark_ms / n,
                f"query.{kind}.driver_self_ms_per_op":
                    (span_ms - u.spark_ms) / n,
                f"query.{kind}.scan_bytes_per_op": u.scan_bytes / n,
                f"query.{kind}.scan_rows_per_op": u.scan_rows / n,
                f"query.{kind}.result_rows_per_op":
                    sum(s.tags.get("rows", 0) for s in spans) / n,
            })
        spans = [s for s in tracer.spans if s.layer == "batch"]
        u = usage(log, spans)
        n = len(spans)
        m.update({
            "batch.qps": len(self.batch) * n / sum(s.seconds for s in spans),
            "batch.spark_jobs": u.jobs / n,
            "batch.python_s": u.python_s / n,
            "batch.python_bytes": u.python_bytes / n,
            "batch.shuffle_write_bytes": u.shuffle_write_bytes / n,
            "batch.scan_bytes": u.scan_bytes / n,
            "batch.task_skew": u.task_skew,
        })
        return m


# ---------------------------------------------------------------------------
# operators: the side-operator and serving suite
# ---------------------------------------------------------------------------

# The rows bench.py times (BENCH_QUERIES, then its serving rows), pinned
# here so the benchmark's metric names do not move with bench.py. Each
# row runs as registered in __spark_entry__, which is what its DuckDB
# oracle checks. Left out:
# * the four rows served from the block index (bm25_index_all,
#   bm25_batch, topk_urls, phrase_index): the search workload drives the
#   same query layer at a realistic vocabulary, and here they would add a
#   cold index build to every run;
# * hits: its ~100 Spark jobs of iteration take a quarter of a serial
#   pass; pagerank stays as the link-analysis row;
# * two rows that disagree with their oracle on some seeds:
#   sessionize when two events of a user are 1800-1801 s apart (the
#   engine truncates timestamps to whole seconds, the oracle does not;
#   seed 21: user 51, gap 1800.25 s), and proximity_topk when a boosted
#   score lands on a rounding tie at 6 dp (seed 106: doc 241, 1.407313
#   vs 1.407314).
SUITE = [
    "bm25_multi", "boosted_topk", "term_frequencies",
    "document_frequencies", "phrase", "minhash_sigs", "simhash",
    "jaccard_pairs", "cosine_topk", "knn_join", "lang_id", "quality",
    "tpch_pricing", "join_agg", "window_top_order", "pagerank",
    "curation_pipeline", "frontier", "lm_score", "dedup_spans",
    "snippets", "recency_topk", "host_collapse", "facets", "page_after",
    "cooccur_pmi", "weighted_sample",
]
SUITE_TABLES = ("documents", "embeddings", "customer", "orders", "lineitem")


def _load_gate_module():
    """tools/check_gate.py holds the gate's row normalisation; reuse it.
    Importing it puts a fixed checkout path first on sys.path, which is
    undone so that engine modules keep coming from this checkout."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_gate", os.path.join(root, "tools", "check_gate.py"))
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    spec.loader.exec_module(mod)
    sys.path[:] = saved
    return mod


class Operators:
    """Warm-up collects every row once, WARM_CLIENTS rows at a time, and
    checks it against its DuckDB oracle; the timed pass writes every row
    to a noop sink, one row after another."""

    WARM_CLIENTS = 4

    def __init__(self, run_dir: str, seed: int):
        import __spark_entry__ as E

        self.run_dir = run_dir
        self.sf = os.path.join(run_dir, "data", "sf")
        inputs.write_suite_tables(self.sf, seed)
        registry = {**E.queries(), **E.extra_queries()}
        self.fns = {name: registry[name] for name in SUITE}
        oracles = {**E.oracle_sql(), **E.extra_oracle_sql()}
        self.oracle_sql = {name: oracles[name] for name in SUITE}
        self.gate = _load_gate_module()
        self.wrong: dict[str, str] = {}

    def setup(self, spark, tracer: Tracer, rep: int) -> None:
        self.spark = spark

    def _collect(self, name: str):
        try:
            sdf = self.fns[name](self.spark, self.sf)
            return name, sdf.columns, [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            return name, ex, None

    def warmup(self) -> None:
        import duckdb

        with ThreadPoolExecutor(self.WARM_CLIENTS) as pool:
            results = list(pool.map(self._collect, SUITE))
        g = self.gate
        con = duckdb.connect()
        for t in SUITE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.sf, t)}.parquet'")
        for name, cols, rows in results:
            if isinstance(cols, Exception):
                self.wrong[name] = f"raised {type(cols).__name__}"
                continue
            rel = con.sql(self.oracle_sql[name])
            if sorted(cols) != sorted(rel.columns):
                self.wrong[name] = f"columns {cols} vs {rel.columns}"
            elif g.norm_rows(cols, rows) != g.norm_rows(
                    list(rel.columns), rel.fetchall()):
                self.wrong[name] = "rows differ from the DuckDB oracle"
        con.close()

    def pass_ops(self) -> list[Op]:
        def check(name):
            def fn(_answer):
                if name in self.wrong:
                    raise CheckFailed(self.wrong[name])
            return fn

        return [
            Op(name, "operators",
               lambda name=name: self.fns[name](self.spark, self.sf)
               .write.format("noop").mode("overwrite").save(),
               check(name))
            for name in SUITE
        ]

    def final_checks(self) -> None:
        if self.wrong:
            raise CheckFailed(f"suite rows wrong: {sorted(self.wrong)}")

    def layer_metrics(self, log: EventLog, tracer: Tracer) -> dict:
        spans = [s for s in tracer.spans if s.layer == "operators"]
        passes = max(1, len(spans) // len(SUITE))
        m = {}
        for name in SUITE:
            mine = [s for s in spans if s.op == name]
            m[f"operators.{name}_s"] = statistics.median(
                s.seconds for s in mine)
            m[f"operators.{name}.jobs"] = usage(log, mine).jobs / len(mine)
        u = usage(log, spans)
        m["operators.python_s"] = u.python_s / passes
        m["operators.shuffle_write_bytes"] = u.shuffle_write_bytes / passes
        m["operators.dup_shuffle_stages"] = u.dup_shuffle_stages / passes
        return m


WORKLOADS = {"search": Search, "operators": Operators}
