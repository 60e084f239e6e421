"""Index merge — MergeIndexes (T9) over the plain postings table.

Reference semantics (/root/reference/src/cis5550/jobs/MergeIndexes.java:
45-127): union two indexes built over DISJOINT document sets; same term →
posting-list union, doc tables concatenated.

* b-side docids are shifted by a's DOCID SPACE (assigned ids, which can
  exceed n_docs when token-less pages consumed ids without ever reaching
  postings — shifting by n_docs would collide b's low ids with a's high
  ones). The shift is one column expression, ``docid + shift``; the union
  then takes the build's own (term, docid) range partitioning and sort
  (``indexer.sorted_postings``), so the merged table has the same layout
  as a one-shot build.
* tf, dl and positions are per-posting facts and do not change. BM25 reads
  idf and avgdl from the terms table and stats.json at query time, so the
  merged scores need no per-posting rewrite.
* term stats: df/cf add; idf recomputed from merged N. One tiny aggregate.
* dl/avgdl: document lengths don't change; merged avgdl is the weighted
  mean.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession, functions as F

from search_engine_spark.catalog import Warehouse
from search_engine_spark.operators.indexer import sorted_postings
from search_engine_spark.operators.text_ops import bm25_idf_col


def merge_indexes(
    spark: SparkSession, a_dir: str, b_dir: str, out_dir: str
) -> dict:
    """Merge two index warehouses over disjoint corpora → out_dir."""
    with open(os.path.join(a_dir, "stats.json")) as fh:
        sa = json.load(fh)
    with open(os.path.join(b_dir, "stats.json")) as fh:
        sb = json.load(fh)
    # docid_space falls back to n_docs for pre-space indexes (equal unless
    # the corpus contained token-less pages)
    shift = sa.get("docid_space", sa["n_docs"])
    n_docs = sa["n_docs"] + sb["n_docs"]
    avgdl = (
        (sa["avgdl"] * sa["n_docs"] + sb["avgdl"] * sb["n_docs"]) / n_docs
        if n_docs
        else 0.0
    )

    # reads resolve through the Warehouse so versioned (snapshot-manifest)
    # and Iceberg-backed indexes merge too — raw parquet paths would find
    # nothing at a versioned table's root
    wa = Warehouse(spark, a_dir)
    wb = Warehouse(spark, b_dir)
    parts = spark.sparkContext.defaultParallelism
    b_postings = wb.read("postings").withColumn(
        "docid", F.col("docid") + F.lit(shift)
    )
    merged = wa.read("postings").unionByName(b_postings)
    sorted_postings(merged, parts).write.mode("overwrite").parquet(
        os.path.join(out_dir, "postings")
    )

    ta = wa.read("terms")
    tb = wb.read("terms")
    terms = (
        ta.select("term", "df", "cf")
        .unionByName(tb.select("term", "df", "cf"))
        .groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .withColumn("idf", bm25_idf_col(n_docs, F.col("df")))
    )
    terms.repartitionByRange(max(1, parts // 4), "term").sortWithinPartitions(
        "term"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "terms"))

    da = wa.read("docs")
    db = wb.read("docs").withColumn(
        "docid", F.col("docid") + F.lit(shift)
    )
    docs = da.unionByName(db)
    docs.repartitionByRange(max(1, parts // 4), "docid").sortWithinPartitions(
        "docid"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "docs"))

    stats = dict(sa)
    stats.update({
        "n_docs": n_docs,
        "docid_space": shift + sb.get("docid_space", sb["n_docs"]),
        "avgdl": avgdl,
        "merged_from": [a_dir, b_dir],
    })
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "stats.json"), "w") as fh:
        json.dump(stats, fh, indent=1)
    return stats
