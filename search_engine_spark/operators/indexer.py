"""Distributed inverted-index builder — the engine's core batch pipeline.

Replaces the reference's index build (/root/reference/src/cis5550/jobs/
IndexerProject.java:191-441: sequential driver docId counter + side-effect
KVS `batchPut` writes keyed by term) with an explicit, declarative Spark
plan:

    pages ──filter(lang)──> docid assignment (distributed dense rank)
          ──mapInArrow(tokenize: extraction-parity tokenizer + Porter
            dual-indexing)──> (docid, term, tf, positions, dl)
          ──groupBy(term).agg──> term stats (df, cf, idf)
          ──repartitionByRange(term, docid) + sortWithinPartitions──>
            postings: one plain parquet row per (term, docid)

Scale design notes (the parts that must survive 10^12 docs):

* **Docid assignment** is a two-pass distributed dense rank over url
  (range-partition by url → per-partition counts → driver prefix-sum of P
  integers → per-partition offset + local rank). No global window, no
  driver-side scan — the reference's sequential global counter
  (IndexerProject.java:210-235) is the anti-pattern this replaces. The
  only driver state is one count per partition.
* **Skew**: stop-word-head terms have posting lists ~N long. The postings
  shuffle range-partitions on (term, docid), not term alone, so the range
  sampler cuts one heavy term's list into consecutive docid ranges across
  tasks — no task holds a whole head-term list, and the partitions
  concatenate into the globally (term, docid)-sorted table.
* **Storage layout**: postings are plain columns — parquet's own
  encodings compress them and the vectorized scan decodes them, so no
  query path runs Python over posting data. Range partitioning + sort on
  term lets parquet row-group min/max statistics prune term lookups, and
  a scan that does not select ``positions`` never reads them. In
  production the same DataFrames commit to Iceberg tables (partition
  pruning + snapshots); this container lacks the Iceberg runtime jar so
  the catalog writes plain parquet with an identical schema.

Index warehouse layout (directory = one index):
    postings/   term, docid, tf, dl, positions (1-based, ascending)
    terms/      term, df, cf, idf
    docs/       docid, url, dl
    stats.json  n_docs, docid_space, avgdl, build metadata
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

from search_engine_spark.catalog import Warehouse
from search_engine_spark.operators.text_ops import bm25_idf_col
from search_engine_spark.oracle.text import doc_postings

POSTINGS_SCHEMA = (
    "docid long, term string, tf int, positions array<int>, dl int"
)


# ---------------------------------------------------------------------------
# Stage 1: docid assignment (distributed dense rank by url)
# ---------------------------------------------------------------------------

def assign_docids(
    pages: DataFrame,
    partitions: int | None = None,
    scratch_dir: str | None = None,
) -> DataFrame:
    """(url, text, …) → same plus dense ``docid`` = rank of url (0-based).

    Scale-safe distributed dense rank, equivalent to
    ``row_number() over (order by url) - 1`` with no single-partition window
    (the reference's sequential driver counter,
    IndexerProject.java:210-235, is the anti-pattern this replaces):

      1. range-partition by url, sort within partitions, tag
         ``spark_partition_id`` and MATERIALIZE the snapshot to
         ``scratch_dir``. The write pins one sampling of the range
         boundaries — ``repartitionByRange`` re-samples per action, so an
         unmaterialized plan could assign different partition ids between
         the counting pass and downstream consumers (a silent duplicate-id
         bug; ``check_docid_space`` is the global check every build runs).
      2. per-partition counts (driver holds one long per partition),
         prefix-sum → partition offsets.
      3. docid = offset[_pid] + (row_number over _pid ordered by url) − 1 —
         windows are per-partition, bounded by the chunk size.

    On a cluster ``scratch_dir`` must be shared storage (the docs-table
    staging area); it defaults to a local temp dir here.
    """
    import tempfile

    spark = pages.sparkSession
    parts = partitions or spark.sparkContext.defaultParallelism
    if scratch_dir is None:
        scratch_dir = tempfile.mkdtemp(prefix="se_docids_")
    snap_path = os.path.join(scratch_dir, "ranged_snapshot")
    (
        pages.repartitionByRange(parts, "url")
        .sortWithinPartitions("url")
        .withColumn("_pid", F.spark_partition_id())
        .write.mode("overwrite")
        .option("compression", "lz4")
        .parquet(snap_path)
    )
    snap = spark.read.parquet(snap_path)
    offsets = _docid_offsets(spark, snap_path)

    from pyspark.sql import Window

    offset_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("_pid").orderBy("url")
    return (
        snap.withColumn(
            "docid",
            offset_map[F.col("_pid")] + F.row_number().over(w) - 1,
        )
        .drop("_pid")
    )


# ---------------------------------------------------------------------------
# Stage 1b: fused docid assignment + tokenize (no window shuffle)
# ---------------------------------------------------------------------------

def _docid_offsets(spark, snap_path: str) -> dict[int, int]:
    """Per-partition docid offsets from the materialized ranged snapshot."""
    snap = spark.read.parquet(snap_path)
    counts = {
        r["_pid"]: r["cnt"]
        for r in snap.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    return offsets


class _RunningIds:
    """Streaming docid assignment over batches of the ranged snapshot.

    Rows of one ``_pid`` arrive as ONE contiguous run per task (parquet
    preserves in-file row order; snapshot files are written one per
    partition and read whole). docid = offset[pid] + ordinal within the
    run. The closed-set assertion catches WITHIN-task non-contiguity
    (interleaved pids). It cannot see a snapshot file split ACROSS tasks
    (both halves would restart the pid's counter at offset+0 in separate
    workers) — that failure is caught by the global count/distinct/max
    docid invariant, ``check_docid_space``.
    """

    def __init__(self, offsets: dict[int, int]):
        self.offsets = offsets
        self.counters: dict[int, int] = {}
        self.closed: set[int] = set()
        self.current: int | None = None

    def assign(self, pids) -> "list[int]":
        out = []
        for pid in pids:
            pid = int(pid)
            if pid != self.current:
                if self.current is not None:
                    self.closed.add(self.current)
                if pid in self.closed:
                    raise RuntimeError(
                        f"snapshot partition {pid} arrived non-contiguously; "
                        "docid assignment would be wrong (file split?)"
                    )
                self.current = pid
                self.counters.setdefault(pid, 0)
            base = self.offsets[pid]
            out.append(base + self.counters[pid])
            self.counters[pid] += 1
        return out


def docid_url_table(spark, snap_path: str, offsets: dict[int, int]) -> DataFrame:
    """(docid, url) from the snapshot — column-pruned read, no shuffle."""
    import pyarrow as pa

    snap = spark.read.parquet(snap_path).select("url", "_pid")
    b_off = spark.sparkContext.broadcast(offsets)

    def run(batches):
        ids = _RunningIds(b_off.value)
        for batch in batches:
            urls = batch.column(0)
            docids = ids.assign(batch.column(1).to_pylist())
            yield pa.RecordBatch.from_arrays(
                [pa.array(docids, pa.int64()), urls], names=["docid", "url"]
            )

    return snap.mapInArrow(run, schema="docid long, url string")


class _PostingsBatch:
    """Arrow output buffer of the tokenize stage: one row per
    (docid, term) with its positions as a ``list<int32>`` built from one
    flat values buffer + offsets (no per-row Python lists cross into
    Arrow)."""

    def __init__(self, stem: bool, cap: int | None):
        import pyarrow as pa

        self.stem = stem
        self.kw = {} if cap is None else {"cap": cap}
        self.schema = pa.schema(
            [
                ("docid", pa.int64()),
                ("term", pa.string()),
                ("tf", pa.int32()),
                ("positions", pa.list_(pa.int32())),
                ("dl", pa.int32()),
            ]
        )
        self._clear()

    def _clear(self):
        self.docid: list[int] = []
        self.term: list[str] = []
        self.tf: list[int] = []
        self.dl: list[int] = []
        self.pos: list[int] = []
        self.pos_off: list[int] = [0]

    def __len__(self) -> int:
        return len(self.docid)

    def add(self, did: int, text: str) -> None:
        per_term, dl = doc_postings(text, stem=self.stem, **self.kw)
        for term, plist in per_term.items():
            self.docid.append(did)
            self.term.append(term)
            self.tf.append(len(plist))
            self.dl.append(dl)
            self.pos.extend(plist)
            self.pos_off.append(len(self.pos))

    def flush(self):
        import numpy as np
        import pyarrow as pa

        positions = pa.ListArray.from_arrays(
            pa.array(np.asarray(self.pos_off, dtype=np.int32)),
            pa.array(np.asarray(self.pos, dtype=np.int32)),
        )
        out = pa.RecordBatch.from_arrays(
            [
                pa.array(np.asarray(self.docid, dtype=np.int64)),
                pa.array(self.term, pa.string()),
                pa.array(np.asarray(self.tf, dtype=np.int32)),
                positions,
                pa.array(np.asarray(self.dl, dtype=np.int32)),
            ],
            schema=self.schema,
        )
        self._clear()
        return out


def tokenize_postings_from_snapshot(
    spark,
    snap_path: str,
    offsets: dict[int, int],
    stem: bool = True,
    cap: int | None = None,
    from_html: bool = False,
) -> DataFrame:
    """Fused stage 1b+2: stream the ranged snapshot, assign docids on the
    fly (no window, no extra shuffle of the text) and tokenize.
    ``from_html`` runs the pinned HTML→text extraction first (the full
    Common-Crawl pipeline; reference IndexerProject.java:262-276)."""
    from search_engine_spark.oracle.text import extract_text

    content_col = "html" if from_html else "text"
    # column-pruned: urls are NOT read here (docid_url_table has its own
    # pruned pass) — the content column dominates this scan, don't pay a
    # second full url decode on the biggest read of the build
    snap = spark.read.parquet(snap_path).select(content_col, "_pid")
    b_off = spark.sparkContext.broadcast(offsets)

    def run(batches):
        ids = _RunningIds(b_off.value)
        out = _PostingsBatch(stem, cap)
        for batch in batches:
            texts_in = batch.column(0).to_pylist()
            docids_in = ids.assign(batch.column(1).to_pylist())
            for did, txt in zip(docids_in, texts_in):
                if from_html:
                    txt = extract_text(txt or b"")
                out.add(did, txt or "")
                # bounded output batches: one batch per input batch can hit
                # 100+ MB of arrow direct memory on the JVM reader side
                if len(out) >= 131_072:
                    yield out.flush()
        if len(out):
            yield out.flush()

    return snap.mapInArrow(run, schema=POSTINGS_SCHEMA)


# ---------------------------------------------------------------------------
# Stage 2: tokenize → (docid, term, tf, positions, dl)
# ---------------------------------------------------------------------------

def tokenize_postings(
    docs: DataFrame,
    docid: str = "docid",
    text: str = "text",
    stem: bool = True,
    cap: int | None = None,
) -> DataFrame:
    """Reference-parity tokenization as a vectorized Arrow stage.

    One output row per (docid, distinct term): tf + 1-based positions over
    valid tokens, Porter dual-indexing (original and stem both emitted at
    the same position when they differ — IndexerProject.java:378-400),
    1500-token cap, plus the document length ``dl`` (number of capped valid
    positions) repeated on every row so BM25 stats need no extra join.
    """
    src = docs.select(F.col(docid).alias("docid"), F.col(text).alias("text"))

    def run(batches):
        out = _PostingsBatch(stem, cap)
        for batch in batches:
            docids_in = batch.column(0).to_pylist()
            texts_in = batch.column(1).to_pylist()
            for did, txt in zip(docids_in, texts_in):
                out.add(did, txt or "")
            yield out.flush()

    return src.mapInArrow(run, schema=POSTINGS_SCHEMA)


# ---------------------------------------------------------------------------
# Stage 3: term statistics, docid check, postings layout
# ---------------------------------------------------------------------------

def term_stats(postings: DataFrame, n_docs: int) -> DataFrame:
    """(term, df, cf, idf) — hash aggregation with map-side partials
    (reference's df/idf full-scan pass: IndexerProjectVersion1.java:781-802)."""
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
    ).withColumn("idf", bm25_idf_col(n_docs, F.col("df")))


def check_docid_space(ids: DataFrame) -> int:
    """Global docid invariant: ``ids`` (one row per assigned docid, column
    ``docid``) holds every id in 0..n-1 exactly once. Returns n, the docid
    space. One aggregate; raises ``RuntimeError`` on a duplicate or a gap.

    Per-task checks (``_RunningIds``) cannot see a duplicate produced by
    another task — a snapshot file split across tasks restarts its
    counter in each — but a global count/distinct/max mismatch can.
    Token-less pages consume a docid but never reach postings/docs, so the
    space can exceed n_docs; merge shifts by the space, not by n_docs, or
    shifted b-side ids would collide with a-side ids."""
    row = ids.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("docid").alias("nd"),
        F.max("docid").alias("mx"),
    ).collect()[0]
    n = int(row["n"])
    if row["nd"] != n or (n and row["mx"] + 1 != n):
        raise RuntimeError(
            f"docid assignment corrupt: {n} rows, {row['nd']} distinct ids, "
            f"max {row['mx']} (snapshot file split across tasks?)"
        )
    return n


def sorted_postings(postings: DataFrame, partitions: int) -> DataFrame:
    """The postings table layout: (term, docid, tf, dl, positions) rows,
    range-partitioned and sorted by (term, docid). One shuffle; ranges on
    the pair split a heavy term's list by docid across tasks."""
    return (
        postings.select("term", "docid", "tf", "dl", "positions")
        .repartitionByRange(partitions, "term", "docid")
        .sortWithinPartitions("term", "docid")
    )


# ---------------------------------------------------------------------------
# Full build
# ---------------------------------------------------------------------------

def build_index(
    pages: DataFrame,
    out_dir: str,
    lang: str | None = "en",
    stem: bool = True,
    cap: int | None = None,
    partitions: int | None = None,
    from_html: bool = False,
    versioned: bool = False,
) -> dict:
    """pages(url, warc_ts, html, text, lang) → index warehouse at out_dir.

    ``versioned=True`` commits docs/terms/postings as Warehouse snapshot
    manifests (Iceberg-style): rebuilds become new snapshots, the previous
    index stays queryable via ``read(name, version=...)`` until expired —
    rollback-able index refreshes, matching the north star's
    snapshot-commit contract without the Iceberg runtime jar.

    ``from_html`` runs the full pipeline from the raw html column (pinned
    extraction inside the tokenize stage) instead of the pre-extracted
    text column; results are identical when text == extract_text(html)
    (the corpus invariant — tested).

    Returns the stats dict (also persisted as stats.json). Every stage is a
    DataFrame transform; the only driver-side data are per-partition counts
    (docid assignment) and the final scalar stats.
    """
    spark = pages.sparkSession
    parts = partitions or spark.sparkContext.defaultParallelism
    src = pages.filter(F.col("lang") == lang) if lang else pages

    # Docid assignment (_RunningIds) requires each snapshot FILE to be read
    # whole by one task; Spark splits files larger than maxPartitionBytes
    # (default 128 MB) across tasks, which would give each half its own
    # counter starting at offset+0 → duplicate docids. Pin the split size
    # above any realistic snapshot file for the duration of the build and
    # restore afterwards. (The closed-set assertion in _RunningIds remains
    # the loud backstop if this is ever defeated.)
    conf = spark.conf
    saved_mpb = conf.get("spark.sql.files.maxPartitionBytes", None)
    conf.set("spark.sql.files.maxPartitionBytes", str(1 << 40))
    try:
        return _build_index_inner(
            spark, src, out_dir, lang, stem, cap, parts, from_html,
            versioned,
        )
    finally:
        if saved_mpb is None:
            conf.unset("spark.sql.files.maxPartitionBytes")
        else:
            conf.set("spark.sql.files.maxPartitionBytes", saved_mpb)


def _build_index_inner(
    spark, src, out_dir, lang, stem, cap, parts, from_html, versioned=False,
) -> dict:
    # table commits go through the Warehouse abstraction: Iceberg snapshot
    # commits when a catalog is configured, identical parquet layout here
    wh = Warehouse(spark, out_dir, versioned=versioned)
    # stage 1: materialize the url-range-partitioned, sorted snapshot ONCE
    # (pins one sampling of the range boundaries — see assign_docids doc)
    snap_path = os.path.join(out_dir, "_stage", "ranged_snapshot")
    (
        src.select("url", "html" if from_html else "text")
        .repartitionByRange(parts, "url")
        .sortWithinPartitions("url")
        .withColumn("_pid", F.spark_partition_id())
        .write.mode("overwrite")
        .option("compression", "lz4")
        .parquet(snap_path)
    )
    offsets = _docid_offsets(spark, snap_path)

    # stage 2 (fused with docid assignment — no window, no extra shuffle of
    # the text): materialize the tokenized postings ONCE as a scratch
    # parquet table (the natural checkpoint boundary): columnar caching of
    # 10^7+ rows does not scale with cores, a lz4 parquet roundtrip does —
    # and every downstream consumer (doc stats, term stats, postings)
    # reads the same snapshot.
    raw_path = os.path.join(out_dir, "_stage", "postings_raw")
    tokenize_postings_from_snapshot(
        spark, snap_path, offsets, stem=stem, cap=cap, from_html=from_html
    ).write.mode("overwrite").option("compression", "lz4").parquet(raw_path)
    postings = spark.read.parquet(raw_path)

    # doc table + global stats; dl is carried on posting rows — one
    # max-aggregation against the column-pruned (docid, url) map.
    id_map = docid_url_table(spark, snap_path, offsets)
    doc_tbl = postings.groupBy("docid").agg(F.max("dl").alias("dl")).join(
        id_map, "docid"
    )
    wh.write(
        doc_tbl.repartitionByRange(max(1, parts // 4), "docid")
        .sortWithinPartitions("docid"),
        "docs",
    )
    # NOTE: an Observation on this write is tempting (zero extra job) but
    # WRONG: repartitionByRange runs a sampling pass that re-executes the
    # child plan, double-firing observed metrics (n_docs came out 2×).
    # The read-back aggregate below is cheap (small columnar table).
    stats_row = wh.read("docs").agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs = int(stats_row["n_docs"])
    avgdl = float(stats_row["avgdl"] or 0.0)

    docid_space = check_docid_space(id_map)

    terms = term_stats(postings, n_docs)
    wh.write(
        terms.repartitionByRange(max(1, parts // 4), "term")
        .sortWithinPartitions("term"),
        "terms",
    )
    wh.write(sorted_postings(postings, parts), "postings")
    stats = {
        "n_docs": n_docs,
        "docid_space": docid_space,
        "avgdl": avgdl,
        "stem": stem,
        "cap": cap,
        "lang": lang,
    }
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "stats.json"), "w") as fh:
        json.dump(stats, fh, indent=1)
    return stats


def merge_index_stats(a: dict, b: dict) -> dict:
    """Merged-corpus stats (MergeIndexes semantics, reference
    jobs/MergeIndexes.java:45-127): doc sets assumed disjoint."""
    n = a["n_docs"] + b["n_docs"]
    avgdl = (
        (a["avgdl"] * a["n_docs"] + b["avgdl"] * b["n_docs"]) / n if n else 0.0
    )
    out = dict(a)
    out.update({"n_docs": n, "avgdl": avgdl})
    return out
