"""Resumable index build with per-partition checkpoints, lineage & metrics.

north_rule: "resumable from checkpoint with per-partition lineage +
metrics". The reference's KVS persistence (append log + recovery replay,
/root/reference/src/cis5550/kvs/Worker.java:279-353) restarts whole jobs;
here the build is chunked over the docid space and each chunk commits
independently:

    out_dir/
      raw/chunk=<i>/          tokenized postings for docid-range chunk i
      lineage/                one parquet row per completed chunk:
                              (chunk_id, stage, status, rows, wall_ms,
                               input_fingerprint)
      postings/ terms/ docs/ stats.json   final index (operators/indexer)
      metrics/                stage-level wall/rows metrics

Crash semantics: a chunk directory is only recorded in lineage AFTER its
parquet write succeeds (write-then-commit ordering); re-running
``resumable_build`` skips chunks whose lineage row matches the input
fingerprint, re-runs the rest, and the final assembly is a deterministic
function of the raw chunks — so any prefix of a crashed build is reusable
and the result is identical to a single-shot build (tested).

In production each commit is an Iceberg snapshot (atomic); the parquet
directory + lineage-row protocol here has the same shape with the
container's toolset.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from search_engine_spark.operators.indexer import (
    assign_docids,
    check_docid_space,
    sorted_postings,
    term_stats,
    tokenize_postings,
)

LINEAGE_SCHEMA = (
    "chunk_id int, stage string, status string, rows long, wall_ms long, "
    "input_fingerprint string, ts double"
)


def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "lineage")


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    p = _lineage_path(out_dir)
    try:
        return spark.read.parquet(p)
    except Exception:
        return spark.createDataFrame([], LINEAGE_SCHEMA)


def _append_lineage(spark: SparkSession, out_dir: str, row: dict) -> None:
    spark.createDataFrame([row], LINEAGE_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(_lineage_path(out_dir))


def corpus_fingerprint(docs: DataFrame) -> str:
    """Order-insensitive fingerprint of (url) — identifies the input
    snapshot for lineage matching. One aggregate, no collect of data."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(url))").alias("h"),  # xor: no ANSI overflow
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def resumable_build(
    pages: DataFrame,
    out_dir: str,
    n_chunks: int = 8,
    lang: str | None = "en",
    stem: bool = True,
    cap: int | None = None,
    fail_after_chunk: int | None = None,
) -> dict:
    """Chunked, restartable index build. ``fail_after_chunk`` injects a
    crash after that many chunk commits (for the kill/resume test)."""
    spark = pages.sparkSession
    src = pages.filter(F.col("lang") == lang) if lang else pages
    docs = assign_docids(src.select("url", "text"), partitions=n_chunks)
    docs.persist()
    # the global docid check runs before any chunk commits: a duplicate id
    # would otherwise land in two postings rows of one term
    n_total = check_docid_space(docs)
    # the fingerprint covers the chunk LAYOUT too: a lineage row from a run
    # with a different n_chunks describes different docid ranges and must
    # not mark this run's chunks as done
    fp = f"{corpus_fingerprint(docs)}:c{n_chunks}"
    chunk_span = max(1, (n_total + n_chunks - 1) // n_chunks)

    done = {
        r["chunk_id"]
        for r in read_lineage(spark, out_dir)
        .filter(
            (F.col("stage") == "tokenize")
            & (F.col("status") == "ok")
            & (F.col("input_fingerprint") == fp)
        )
        .collect()
    }
    committed = 0
    for ci in range(n_chunks):
        if ci in done:
            continue
        lo, hi = ci * chunk_span, (ci + 1) * chunk_span
        chunk = docs.filter((F.col("docid") >= lo) & (F.col("docid") < hi))
        t0 = time.time()
        out_chunk = os.path.join(out_dir, "raw", f"chunk={ci}")
        postings = tokenize_postings(chunk, stem=stem, cap=cap)
        postings.write.mode("overwrite").parquet(out_chunk)
        rows = spark.read.parquet(out_chunk).count()
        _append_lineage(
            spark,
            out_dir,
            {
                "chunk_id": ci,
                "stage": "tokenize",
                "status": "ok",
                "rows": rows,
                "wall_ms": int((time.time() - t0) * 1000),
                "input_fingerprint": fp,
                "ts": time.time(),
            },
        )
        committed += 1
        if fail_after_chunk is not None and committed >= fail_after_chunk:
            docs.unpersist()
            raise RuntimeError(
                f"injected failure after {committed} chunk commits"
            )

    # ---- assembly (deterministic function of the raw chunks) ----
    # Validate the raw/ directory against THIS run's chunk set first: a
    # prior run into the same out_dir with different n_chunks (or different
    # input) can leave chunk=<i> directories that no current lineage row
    # owns; silently folding them in would corrupt doc/term stats and
    # postings. In-range chunks are safe (fingerprint-mismatched ones were
    # just rebuilt with mode=overwrite); anything else is deleted.
    import re
    import shutil

    raw_root = os.path.join(out_dir, "raw")
    if os.path.isdir(raw_root):
        for name in os.listdir(raw_root):
            m = re.fullmatch(r"chunk=(\d+)", name)
            if m is None or int(m.group(1)) >= n_chunks:
                shutil.rmtree(os.path.join(raw_root, name))

    t0 = time.time()
    postings = spark.read.parquet(os.path.join(out_dir, "raw"))
    doc_tbl = (
        postings.groupBy("docid").agg(F.max("dl").alias("dl"))
        .join(docs.select("docid", "url"), "docid")
    )
    doc_tbl.persist()
    srow = doc_tbl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(srow["n_docs"]), float(srow["avgdl"] or 0.0)
    terms = term_stats(postings, n_docs)
    parts = spark.sparkContext.defaultParallelism
    sorted_postings(postings, parts).write.mode("overwrite").parquet(
        os.path.join(out_dir, "postings")
    )
    terms.repartitionByRange(max(1, parts // 4), "term").sortWithinPartitions(
        "term"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "terms"))
    doc_tbl.repartitionByRange(max(1, parts // 4), "docid").sortWithinPartitions(
        "docid"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "docs"))

    stats = {
        "n_docs": n_docs,
        "docid_space": n_total,
        "avgdl": avgdl,
        "stem": stem,
        "cap": cap,
        "lang": lang,
        "n_chunks": n_chunks,
        "input_fingerprint": fp,
    }
    with open(os.path.join(out_dir, "stats.json"), "w") as fh:
        json.dump(stats, fh, indent=1)
    _append_lineage(
        spark,
        out_dir,
        {
            "chunk_id": -1,
            "stage": "assemble",
            "status": "ok",
            "rows": n_docs,
            "wall_ms": int((time.time() - t0) * 1000),
            "input_fingerprint": fp,
            "ts": time.time(),
        },
    )
    doc_tbl.unpersist()
    docs.unpersist()
    return stats


def build_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    """Stage metrics view over the lineage table."""
    return read_lineage(spark, out_dir).groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_tasks"),
        F.sum("rows").alias("rows"),
        F.sum("wall_ms").alias("wall_ms"),
    )
