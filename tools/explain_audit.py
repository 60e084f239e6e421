"""Explain-plan audit: prints the physical plans of the engine's headline
queries and checks the properties that matter at 100 TB:

- term lookups push the term filter into the parquet scan (PushedFilters)
- scans prune columns (ReadSchema ⊂ table schema)
- small dimensions broadcast (BroadcastHashJoin, not SortMergeJoin)
- top-k compiles to TakeOrderedAndProject (no global sort materialization)
- aggregations run partial→final HashAggregate inside WholeStageCodegen

Writes a markdown report to PLANS.md. Usage:
    python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from search_engine_spark.session import get_spark
    import __spark_entry__ as E
    from pyspark.sql import functions as F

    spark = get_spark(app_name="explain-audit", cores=8, shuffle_partitions=8)

    sections: list[tuple[str, str, list[tuple[str, bool]]]] = []

    def audit(name, df, checks):
        p = plan_of(df)
        if "AdaptiveSparkPlan" in p and "WholeStageCodegen" not in p:
            # AQE formatted plans omit codegen ids until the plan is final;
            # execute THIS df (collect, not count — count builds a new
            # plan) and audit the ACTUAL executed plan instead.
            df.collect()
            p = (
                df._jdf.queryExecution().executedPlan().toString()
                + "\n\n(pre-execution formatted plan)\n\n" + p
            )
        results = [(desc, pred(p)) for desc, pred in checks]
        sections.append((name, p, results))

    qs = {**E.queries(), **E.extra_queries()}

    # 1. index term lookup: filter pushdown + column pruning (the ranked
    # path's columns; positions are read only by phrase search)
    idx = E._cached_index(spark, sf_dir)
    lookup = idx.postings.filter(F.col("term").isin(["spark", "join"])).select(
        "term", "docid", "tf", "dl"
    )
    audit(
        "index term lookup (postings scan)",
        lookup,
        [
            ("term IN pushed to parquet scan",
             lambda p: "PushedFilters" in p and "term" in p.split("PushedFilters", 1)[1][:200]),
            ("column pruning (positions not read)",
             lambda p: "positions" not in p.split("ReadSchema", 1)[1][:300]),
        ],
    )

    # 2. distributed BM25 top-k
    from search_engine_spark.operators.query import topk_distributed

    audit(
        "distributed BM25 top-k",
        topk_distributed(idx, "spark table join", k=100),
        [
            ("TakeOrderedAndProject (no full sort)",
             lambda p: "TakeOrderedAndProject" in p),
            ("broadcast of term stats", lambda p: "BroadcastHashJoin" in p),
        ],
    )

    # 3. DataFrame BM25 over documents
    audit(
        "exhaustive BM25 (documents table)",
        qs["bm25_multi"](spark, sf_dir),
        [
            ("TakeOrderedAndProject", lambda p: "TakeOrderedAndProject" in p),
            ("partial/final hash aggregation", lambda p: "HashAggregate" in p),
            ("whole-stage codegen", lambda p: "WholeStageCodegen" in p or "*(" in p),
        ],
    )

    # 3b. boosted BM25 (Q5): same single-pass shape — the url boost must
    # be a per-row CASE riding the narrow projection, not a join or shuffle
    audit(
        "boosted BM25 top-k (Q5 url/stem boosts)",
        qs["boosted_topk"](spark, sf_dir),
        [
            ("TakeOrderedAndProject", lambda p: "TakeOrderedAndProject" in p),
            ("stats broadcast, no shuffle join",
             lambda p: "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p),
            ("zero hash-partition exchanges",
             lambda p: "Exchange hashpartitioning" not in p),
        ],
    )

    # 4. join+agg: broadcast
    audit(
        "join_agg (orders ⋈ customer)",
        qs["join_agg"](spark, sf_dir),
        [
            ("hash aggregation", lambda p: "HashAggregate" in p),
        ],
    )

    # 5. dedup minhash: map-side partial min
    audit(
        "minhash signatures",
        qs["minhash_sigs"](spark, sf_dir),
        [
            ("partial/final hash aggregation", lambda p: "HashAggregate" in p),
            ("whole-stage codegen", lambda p: "WholeStageCodegen" in p or "*(" in p),
        ],
    )

    def _formatted_tail(p: str) -> str:
        # audit() may append the pre-execution formatted plan after the
        # executed one; count structural nodes in ONE rendering only
        return p.split("(pre-execution formatted plan)")[-1]

    # 5b. simhash: per-doc Arrow pass — ZERO shuffles (signatures are a
    # per-doc function; nothing needs co-location)
    audit(
        "simhash signatures (zero-shuffle Arrow pass)",
        qs["simhash"](spark, sf_dir),
        [
            ("zero keyed exchanges",
             lambda p: _formatted_tail(p).count("hashpartitioning(") == 0),
            ("Arrow-batched map", lambda p: "MapInPandas" in p),
        ],
    )

    # 5c. pagerank rounds: rank tables broadcast into the edge join.
    # Audit the LAZY chain (checkpoint_every > iters) — the production
    # default checkpoints the 10th round, which would hide the round plan
    # behind an ExistingRDD scan.
    from search_engine_spark.operators import pagerank as PR

    docs_pr = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id")
    n_pr = docs_pr.count()
    audit(
        "pagerank (10 chained lazy rounds)",
        PR.pagerank(
            PR.synthetic_edges(docs_pr, n_pr), nodes=docs_pr, iters=10,
            checkpoint_every=99,
        ),
        [
            ("broadcast joins inside rounds",
             lambda p: "BroadcastHashJoin" in p),
            ("partial/final hash aggregation", lambda p: "HashAggregate" in p),
        ],
    )

    # 6. cosine top-k
    audit(
        "embedding cosine top-k",
        qs["cosine_topk"](spark, sf_dir),
        [
            ("TakeOrderedAndProject", lambda p: "TakeOrderedAndProject" in p),
        ],
    )

    # 7. crawl frontier: harvest/resolve/canonicalize is a codegen'd map
    # stage; the seen-check broadcasts; the politeness cap is windowed
    audit(
        "crawl frontier step",
        qs["frontier"](spark, sf_dir),
        [
            ("whole-stage codegen harvest",
             lambda p: "WholeStageCodegen" in p or "*(" in p),
            ("broadcast seen anti-join", lambda p: "BroadcastHashJoin" in p),
            ("windowed per-host cap", lambda p: "Window" in p),
            ("no Python in the harvest", lambda p: "MapInPandas" not in p
             and "ArrowEvalPython" not in p and "BatchEvalPython" not in p),
        ],
    )

    # 7b. anchor-BM25: stats + per-term dfs broadcast, one keyed agg,
    # TakeOrderedAndProject top-k
    audit(
        "anchor-BM25 over inbound bags",
        qs["anchor_bm25"](spark, sf_dir),
        [
            ("stats/dfs broadcast", lambda p: "BroadcastHashJoin" in p
             or "BroadcastNestedLoopJoin" in p),
            ("TakeOrderedAndProject", lambda p: "TakeOrderedAndProject" in p),
            ("partial/final hash aggregation", lambda p: "HashAggregate" in p),
        ],
    )

    # 7c. BM25F: anchor side folds to one row per doc before joining the
    # body projection; stats broadcast; top-k compiled
    audit(
        "BM25F (body + anchor fields)",
        qs["bm25f"](spark, sf_dir),
        [
            ("TakeOrderedAndProject", lambda p: "TakeOrderedAndProject" in p),
            ("broadcast stats join", lambda p: "BroadcastNestedLoopJoin" in p
             or "BroadcastExchange" in p),
            ("partial/final hash aggregation", lambda p: "HashAggregate" in p),
        ],
    )

    # 8. unigram-LM scoring: two keyed aggs + a broadcast vocab join,
    # integer sums all the way
    audit(
        "unigram-LM cross-entropy",
        qs["lm_score"](spark, sf_dir),
        [
            ("partial/final hash aggregation", lambda p: "HashAggregate" in p),
            ("vocab broadcast join", lambda p: "BroadcastHashJoin" in p),
            ("no Python", lambda p: "MapInPandas" not in p
             and "ArrowEvalPython" not in p and "BatchEvalPython" not in p),
        ],
    )

    # 7d. frontier suite (driver row): blacklist is a plain JVM Filter in
    # the harvest map stage; fmw robots = broadcast rules + min_by hash
    # aggregation; the per-host cap windows both union legs
    audit(
        "frontier suite (base+blacklist | fmw robots)",
        qs["frontier_suite"](spark, sf_dir),
        [
            ("union of the two waves", lambda p: "Union" in p),
            ("broadcast robots rules", lambda p: "BroadcastHashJoin" in p),
            ("first-match pick is a hash agg (min_by), not a window",
             lambda p: "HashAggregate" in p),
            ("windowed per-host cap", lambda p: "Window" in p),
            ("no Python anywhere", lambda p: "MapInPandas" not in p
             and "ArrowEvalPython" not in p and "BatchEvalPython" not in p),
        ],
    )

    # 7e. html-built-index answer assembly: k-row docid/url lookups are
    # IN-filtered scans joined broadcast; no corpus-sized shuffle
    audit(
        "topk_urls over the html-built index",
        qs["topk_urls_html"](spark, sf_dir),
        [
            ("broadcast hit/body joins", lambda p: "BroadcastHashJoin" in p),
            ("docid IN-filter pushed to the docs scan",
             lambda p: "PushedFilters: [In(docid" in p.replace("\n", " ")
             or "docid IN" in p or "in(docid" in p.lower()),
            ("no sort-merge join", lambda p: "SortMergeJoin" not in p),
            ("no Python in answer assembly", lambda p: "MapInPandas" not in p
             and "ArrowEvalPython" not in p and "BatchEvalPython" not in p),
        ],
    )

    # 9. SymSpell probe: the deletes index is read with a bucket
    # PartitionFilter (partition pruning — O(variants) directories, not
    # O(index)), the (qterm, variant) map broadcasts, ranking is one window
    import tempfile

    from search_engine_spark.operators import textstats as TS

    _sp_tmp = tempfile.mkdtemp(prefix="se_audit_spell_")
    _vocab = spark.createDataFrame(
        [(f"term{i:04d}", i) for i in range(500)], "term string, df long"
    )
    (
        TS.spell_deletes_index(_vocab, max_dist=2, buckets=64)
        .repartition(8, "bucket").write.partitionBy("bucket")
        .parquet(_sp_tmp + "/deletes")
    )
    audit(
        "SymSpell deletes-index probe",
        TS.spell_suggest_symspell(
            spark.read.parquet(_sp_tmp + "/deletes"),
            "term0i23 zzz", k=5, max_dist=2, buckets=64,
        ),
        [
            ("bucket partition pruning",
             lambda p: "PartitionFilters" in p
             and "bucket" in p.split("PartitionFilters", 1)[1][:200]),
            ("query-variant map broadcast",
             lambda p: "BroadcastHashJoin" in p),
            ("single-pass ranking (exactly one window partitioning key)",
             lambda p: _formatted_tail(p).count(
                 "hashpartitioning(qterm") <= 1),
            ("no Python", lambda p: "MapInPandas" not in p
             and "ArrowEvalPython" not in p and "BatchEvalPython" not in p),
        ],
    )

    # 10. politeness wave planner: crawl-delay table broadcasts, slots are
    # one per-host window over the already-capped wave
    audit(
        "politeness wave planner (frontier_schedule)",
        qs["frontier_schedule"](spark, sf_dir),
        [
            ("crawl-delay table broadcast",
             lambda p: "BroadcastHashJoin" in p),
            ("windowed slot assignment", lambda p: "Window" in p),
            ("no Python", lambda p: "MapInPandas" not in p
             and "ArrowEvalPython" not in p and "BatchEvalPython" not in p),
        ],
    )

    # 11. real-format media decode (WAV audio / Y4M video): the documents
    # scan must prune to doc_id only (payload generation + decode are
    # Arrow-batched mapInPandas stages; no row-wise Python anywhere)
    audit(
        "audio decode (media_audio, real WAV path)",
        qs["media_audio"](spark, sf_dir),
        [
            ("documents scan prunes to doc_id only",
             lambda p: "ReadSchema" in p
             and "text" not in p.split("ReadSchema", 1)[1][:200]
             and "doc_id" in p.split("ReadSchema", 1)[1][:200]),
            ("Arrow-batched decode (MapInPandas, no row-wise Python)",
             lambda p: "MapInPandas" in p and "BatchEvalPython" not in p),
        ],
    )
    audit(
        "video decode (media_video, real Y4M path)",
        qs["media_video"](spark, sf_dir),
        [
            ("documents scan prunes to doc_id only",
             lambda p: "ReadSchema" in p
             and "text" not in p.split("ReadSchema", 1)[1][:200]
             and "doc_id" in p.split("ReadSchema", 1)[1][:200]),
            ("Arrow-batched decode (MapInPandas, no row-wise Python)",
             lambda p: "MapInPandas" in p and "BatchEvalPython" not in p),
        ],
    )

    # 12. BPE trainer/encoder: the corpus-sized word-count pass must be
    # ONE hash agg with map-side partial aggregation over a text-only
    # pruned scan; the corpus re-encode must be Arrow-batched.
    from search_engine_spark.operators.bpe import word_counts

    docs = E._docs(spark, sf_dir)
    audit(
        "bpe word counts (the one corpus-sized training pass)",
        word_counts(docs),
        [
            ("documents scan prunes to text only",
             lambda p: "ReadSchema" in p
             and "struct<text:string>" in p),
            ("map-side combine (partial_count before the exchange)",
             lambda p: "partial_count" in p),
            ("single shuffle (one Exchange in the final plan)",
             lambda p: p.split("== Initial Plan ==")[0].count(
                 "Exchange hashpartitioning") == 1),
        ],
    )
    audit(
        "bpe corpus re-encode (bpe_encoded)",
        qs["bpe_encoded"](spark, sf_dir),
        [
            ("documents scan prunes to doc_id,text",
             lambda p: "ReadSchema" in p
             and "struct<doc_id:bigint,text:string>" in p),
            ("Arrow-batched encode (MapInPandas, no row-wise Python)",
             lambda p: "MapInPandas" in p and "BatchEvalPython" not in p),
        ],
    )

    # 13. sequence packing: the distributed prefix sum must never plan a
    # single-task global window — every Window is partitioned by _pid,
    # and no SinglePartition exchange exists in the final plan
    audit(
        "sequence packing (pack_sequences, two-phase prefix sum)",
        qs["pack_sequences"](spark, sf_dir),
        [
            ("no single-partition exchange in the final plan",
             lambda p: "Exchange SinglePartition" not in
             p.split("== Initial Plan ==")[0]),
            ("windows are per-partition (partitioned by the range pid)",
             lambda p: "_pid" in p and "Window" in p),
            ("pure JVM arithmetic downstream (no Python eval)",
             lambda p: "BatchEvalPython" not in p and "MapInPandas" not in p),
        ],
    )

    # 14. serving tier (r5): re-rankers must stay pool-sized and JVM-side
    audit(
        "serving: query-aware snippets (snippets)",
        qs["snippets"](spark, sf_dir),
        [
            ("documents scan prunes to doc_id,text",
             lambda p: "ReadSchema" in p
             and "struct<doc_id:bigint,text:string>" in p),
            ("all built-ins — no Python eval anywhere",
             lambda p: "BatchEvalPython" not in p
             and "MapInPandas" not in p),
            ("pool top-k is TakeOrderedAndProject (no global sort)",
             lambda p: "TakeOrderedAndProject" in p),
        ],
    )
    audit(
        "serving: proximity re-rank (proximity_topk)",
        qs["proximity_topk"](spark, sf_dir),
        [
            ("no cartesian product (span join is keyed on docid)",
             lambda p: "CartesianProduct" not in p),
            ("position explode stays JVM-side (Generate, no Python)",
             lambda p: "Generate" in p and "BatchEvalPython" not in p),
            ("span aggregation has map-side combine (partial_min)",
             lambda p: "partial_min" in p),
        ],
    )
    audit(
        "serving: facets + host collapse (facets)",
        qs["facets"](spark, sf_dir),
        [
            ("facet counts aggregate with map-side combine",
             lambda p: "partial_count" in p),
            ("per-facet top-k is one Window pass (row_number)",
             lambda p: "Window" in p and "row_number" in p),
            ("no Python eval",
             lambda p: "BatchEvalPython" not in p),
        ],
    )
    audit(
        "serving: PMI related terms (cooccur_pmi)",
        qs["cooccur_pmi"](spark, sf_dir),
        [
            ("corpus stats ride a broadcast (no stats shuffle)",
             lambda p: "BroadcastExchange" in p),
            ("presence counts have map-side combine",
             lambda p: "partial_count" in p),
            ("seed anchoring is a keyed join, never cartesian",
             lambda p: "CartesianProduct" not in p),
        ],
    )
    audit(
        "serving: weighted training-mix sample (weighted_sample)",
        qs["weighted_sample"](spark, sf_dir),
        [
            ("pure map-side filter: no Exchange in the final plan",
             lambda p: "Exchange" not in p.split("== Initial Plan ==")[0]),
            ("scan prunes to doc_id,n_chars",
             lambda p: "ReadSchema" in p
             and "struct<doc_id:bigint,n_chars:bigint>" in p),
        ],
    )

    # 15. corpus balancing + incremental recrawl (r5)
    audit(
        "domain cap (domain_cap, skew-safe two-level window)",
        qs["domain_cap"](spark, sf_dir),
        [
            ("both windows partitioned (no single-partition exchange)",
             lambda p: "Exchange SinglePartition" not in
             p.split("== Initial Plan ==")[0]),
            ("two row_number windows (salted level 1 + exact level 2)",
             lambda p: p.count("row_number") >= 2),
            ("no Python eval",
             lambda p: "BatchEvalPython" not in p),
        ],
    )
    audit(
        "crawl snapshot delta (crawl_delta)",
        qs["crawl_delta"](spark, sf_dir),
        [
            ("one keyed full-outer join, no cartesian",
             lambda p: "CartesianProduct" not in p
             and ("FullOuter" in p or "full_outer" in p.lower())),
            ("no Python eval",
             lambda p: "BatchEvalPython" not in p),
        ],
    )
    # 16. frontier harvest barrier (r5): the canonicalize∘resolve chain
    # must evaluate ONCE per link — if pushdown ever re-substitutes it
    # into the predicates again, the regexp_replace count explodes back
    # toward the pre-fix 161 and this check fails loudly.
    audit(
        "frontier harvest (pushdown barrier holds)",
        qs["frontier"](spark, sf_dir),
        [
            ("canonical chain not re-substituted into predicates "
             "(regexp_replace count stays bounded)",
             lambda p: p.split("== Initial Plan ==")[0]
             .count("regexp_replace") <= 60),
            ("harvest explode is a Generate (barrier in place)",
             lambda p: "Generate explode" in p),
        ],
    )

    # 17. duplicate spans (r5): the gram stats must be agg+join (map-side
    # combine, AQE-splittable), never a count window over gram partitions
    audit(
        "duplicate spans (Lee et al. ExactSubstr)",
        qs["dedup_spans"](spark, sf_dir),
        [
            ("gram stats via HashAggregate (map-side combine)",
             lambda p: "HashAggregate" in p),
            ("no gram-partition count window (only the docid island pass; "
             "2 Window nodes, lag + running sum, same docid partitioning)",
             lambda p: p.count(") Window") <= 2),
            ("no Python eval", lambda p: "BatchEvalPython" not in p),
        ],
    )
    # 18. HITS: per-round joins + aggs, scalar normalizer broadcast
    audit(
        "HITS hubs/authorities (5 rounds)",
        qs["hits"](spark, sf_dir),
        [
            ("normalizer is a broadcast nested-loop of a 1-row agg",
             lambda p: "BroadcastNestedLoopJoin" in p),
            ("partial/final hash aggregation", lambda p: "HashAggregate" in p),
            ("no cartesian product", lambda p: "CartesianProduct" not in p),
        ],
    )

    # 19. More-Like-This: query vector broadcast, no cartesian
    audit(
        "more_like_this (tf-idf related docs)",
        qs["more_like_this"](spark, sf_dir),
        [
            ("query-doc vector broadcast", lambda p: "BroadcastExchange" in p),
            ("TakeOrderedAndProject", lambda p: "TakeOrderedAndProject" in p),
            ("no cartesian product", lambda p: "CartesianProduct" not in p),
        ],
    )
    # 20. funnel: every stage keyed on user_id, no full-stream window
    audit(
        "event funnel (user_id-keyed stage chain)",
        qs["funnel"](spark, sf_dir),
        [
            ("hash aggregation per stage", lambda p: "HashAggregate" in p),
            ("no Window over the event stream", lambda p: ") Window" not in p),
            ("no Python eval", lambda p: "BatchEvalPython" not in p),
        ],
    )
    # 21. CMS: counter grid broadcast on the probe side
    audit(
        "cms_topk (Count-Min Sketch probe)",
        qs["cms_topk"](spark, sf_dir),
        [
            ("counter grid broadcast", lambda p: "BroadcastExchange" in p),
            ("TakeOrderedAndProject", lambda p: "TakeOrderedAndProject" in p),
        ],
    )

    # 22. Bloom probe: filter broadcast, probe side never wide-shuffled
    audit(
        "bloom_probe (bit set broadcast semi-join)",
        qs["bloom_probe"](spark, sf_dir),
        [
            ("filter bits broadcast", lambda p: "BroadcastExchange" in p),
            ("no cartesian product", lambda p: "CartesianProduct" not in p),
            ("no Python eval", lambda p: "BatchEvalPython" not in p),
        ],
    )
    # 23. z-order keys: pure projection — no shuffle, no join, no window
    audit(
        "zorder_keys (Morton projection)",
        qs["zorder_keys"](spark, sf_dir),
        [
            ("single narrow projection (no exchange)",
             lambda p: "Exchange hashpartitioning" not in p
             and ") Window" not in p),
            ("whole-stage codegen",
             lambda p: "WholeStageCodegen" in p or "*(" in p
             or "[codegen id" in p),
        ],
    )
    # 24. histogram quantiles: bounded-size sketch window, broadcast joins
    audit(
        "hist_quantiles (bounded sketch + broadcast cum grid)",
        qs["hist_quantiles"](spark, sf_dir),
        [
            ("grid/cum broadcast to the probe side",
             lambda p: "BroadcastExchange" in p
             or "BroadcastNestedLoopJoin" in p),
            ("hash aggregation for bucket counts",
             lambda p: "HashAggregate" in p),
        ],
    )

    out = ["# PLANS.md — physical-plan audit\n\n",
           f"Generated by tools/explain_audit.py over `{sf_dir}`.\n\n"]
    all_ok = True
    for name, plan, results in sections:
        out.append(f"## {name}\n\n")
        for desc, ok in results:
            all_ok &= ok
            out.append(f"- {'✅' if ok else '❌'} {desc}\n")
        out.append("\n```\n" + plan.strip()[:4000] + "\n```\n\n")
    out.append(f"\n**overall: {'all checks pass' if all_ok else 'SOME CHECKS FAIL'}**\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.writelines(out)
    print("".join(f"{'PASS' if ok else 'FAIL'}  {n}: {d}\n"
                  for n, _p, rs in sections for d, ok in rs), end="")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
