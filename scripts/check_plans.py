#!/usr/bin/env python3
"""Physical-plan audit: assert the optimizer properties ARCHITECTURE.md
claims — column-pruned scans, map-side partial aggregation, pushed
filters, Arrow (not row-Python) UDF nodes, broadcast-free probe side.

Usage: python scripts/check_plans.py [sf_dir]
Exits non-zero if a claimed plan property is missing.
"""

import re
import sys

sys.path.insert(0, "/root/repo")


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession, functions as F

    from qfspark.build import with_hash
    from qfspark.webpages import synthesize

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    failures = []

    def check(name, plan, pattern, must_exist=True, flags=re.I):
        ok = re.search(pattern, plan, flags) is not None
        if ok != must_exist:
            failures.append(name)
        print(f"{'OK ' if ok == must_exist else 'FAIL'} {name}")

    # 1. hash+pre-agg plan: scan prunes to the key column; partial agg
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hashed = with_hash(docs, "text").select("qf_hash")
    agg = hashed.groupBy("qf_hash").count()
    p = plan_of(agg)
    check("scan reads only text column", p, r"ReadSchema:.*struct<text:string>")
    check("xxhash64 in codegen (no Python)", p, r"xxhash64")
    check("no row-python eval in hash path", p, r"BatchEvalPython", must_exist=False)
    check("map-side partial aggregate", p, r"HashAggregate.*\n.*(partial|merge)|partial_count|Functions \[partial",)

    # 2. predicate pushdown reaches the scan
    filtered = docs.where(F.col("lang") == "en").select("doc_id")
    p2 = plan_of(filtered)
    check("lang filter pushed to scan", p2, r"PushedFilters: \[.*(IsNotNull|EqualTo)\(lang")
    check("pruned to doc_id+lang", p2, r"ReadSchema:.*struct<doc_id:bigint,lang:string>")

    # 3. annotate probe: Arrow eval, no shuffle of the probed table
    from qfspark.build import build_qf
    from qfspark.lookup import annotate
    from qfspark.sizing import QFConfig

    wp = synthesize(spark, sf_dir)
    qf = build_qf(wp, "url", config=QFConfig(counter_bits=8, hash_name="xxhash64"))
    probed = annotate(wp.select("url"), "url", qf)
    p3 = plan_of(probed)
    check("probe uses ArrowEvalPython", p3, r"ArrowEvalPython")
    check("probe side has no exchange", p3, r"Exchange", must_exist=False)

    # 4. web_pages synthesis stays in codegen
    p4 = plan_of(wp)
    check("synthesis is pure projection", p4, r"Project")
    check("no python in synthesis", p4, r"EvalPython", must_exist=False)

    # 5. arrow-exchange sharded build: routing + fat-row aggregation are
    # JVM-side; Python appears ONLY as the per-shard applyInArrow node,
    # and no per-row Python eval exists anywhere in the plan
    from qfspark.build import _routed, with_hash as _wh

    hashed_keys = _wh(wp.select("url"), "url").select("qf_hash")
    fat = _routed(hashed_keys, 4).groupBy("shard").agg(
        F.collect_list("lh").alias("hv"))
    p5 = plan_of(fat)
    check("shard routing in codegen", p5, r"shiftright|shard", flags=re.I)
    check("fat rows via object hash agg", p5, r"ObjectHashAggregate")
    check("partial collect_list map-side", p5, r"partial_collect_list")
    check("no row-python in fat-row stage", p5, r"EvalPython", must_exist=False)

    # 5b. the default sharded build plans one collect_list aggregate
    # (one partial + one final, no second exchange) and one per-shard
    # Arrow group node, no pandas combiner stage; a build whose row
    # estimate passes ARROW_MAX_ROWS_PER_SHARD plans the (shard, sub)
    # aggregate instead
    from qfspark import build
    from qfspark.build import build_sharded_qf

    p5b = plan_of(build_sharded_qf(wp, "url"))
    n_aggs = len(re.findall(r"Functions \[1\]: \[partial_collect_list", p5b))
    ok5b = n_aggs == 1
    failures.extend([] if ok5b else ["default sharded build: one collect_list"])
    print(f"{'OK ' if ok5b else 'FAIL'} default sharded build: one "
          f"collect_list aggregate (found {n_aggs})")
    check("default sharded build is a per-shard Arrow group", p5b,
          r"FlatMapGroupsInArrow")
    check("default sharded build has no MapInPandas", p5b, r"MapInPandas",
          must_exist=False)
    check("default sharded build is not split", p5b, r"sub#",
          must_exist=False)
    bound = build.ARROW_MAX_ROWS_PER_SHARD
    build.ARROW_MAX_ROWS_PER_SHARD = 1  # plan only: forces a split
    try:
        p5c = plan_of(build_sharded_qf(docs, "text"))
    finally:
        build.ARROW_MAX_ROWS_PER_SHARD = bound
    check("forced split plans the (shard, sub) aggregate", p5c,
          r"Keys \[2\]: \[shard#\d+L?, sub#\d+L?\]\s*\n"
          r"Functions \[1\]: \[partial_collect_list")

    # 6. shard-table probe: cogroup node present, probe stream salted
    # (parallelism decoupled from shard count), no broadcast of payloads
    from qfspark.lookup import annotate_via_shard_table

    shards_df = build_sharded_qf(wp, "url", shard_bits=2,
                                 config=QFConfig(counter_bits=8,
                                                 hash_name="xxhash64"))
    probed2 = annotate_via_shard_table(wp.select("url"), "url", shards_df,
                                       probe_splits=4)
    p6 = plan_of(probed2)
    check("shard-table probe is a pandas cogroup", p6,
          r"FlatMapCoGroupsInPandas")
    check("probe stream salted for sub-splits", p6, r"_qf_salt")
    check("no broadcast of shard payloads", p6, r"BroadcastExchange",
          must_exist=False)

    # 7. minhash LSH candidate list is persisted: the pair-keyed Jaccard
    # verifier's three consumers read an InMemoryTableScan instead of
    # re-running the banded self-join (round-3 fix)
    from qfspark import dedup

    docs_small = docs.limit(200)
    p7 = plan_of(dedup.minhash_lsh_pairs(docs_small, threshold=0.2))
    check("LSH candidate pairs read from cache", p7, r"InMemoryTableScan")

    # 7b. simhash fingerprint table is persisted (round 4): its 60-
    # aggregate vote lineage feeds seven subtrees of simhash_pairs
    p7b = plan_of(dedup.simhash_pairs(docs_small, max_hamming=2))
    check("simhash fingerprints read from cache", p7b,
          r"InMemoryTableScan")
    dedup.release_pair_caches()

    # 8. ANN candidate generation: the (t, bucket) self-join carries ids
    # only — no embedding column anywhere in the candidate subtree
    from qfspark import similarity

    # no .limit() here: a bare limit inserts its own single-partition
    # Exchange of the full row (the CollectLimit trap) and would
    # contaminate the embedding-free-shuffle assertion below
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    buckets = similarity.lsh_bucketed(emb, planes=6, tables=2)
    cand = (buckets.alias("q").join(buckets.alias("c"), ["t", "bucket"])
            .where(F.col("q.id") != F.col("c.id")))
    p8 = plan_of(cand)
    # the scan READS the embedding (bucket keys are computed map-side);
    # the property is that no Exchange SHIPS it: every shuffle node's
    # Input line must be embedding-free
    # (at this table size Spark may broadcast one side instead of
    # shuffling — audit every data-movement node either way)
    exchange_inputs = re.findall(
        r"\(\d+\) \w*Exchange[^\n]*\nInput[^\n]*", p8)
    bad = [x for x in exchange_inputs if "embedding" in x]
    ok8 = re.search(r"Join", p8) is not None and not bad
    failures.extend([] if ok8 else ["bucket exchange ships no embeddings"])
    print(f"{'OK ' if ok8 else 'FAIL'} bucket exchange ships no embeddings")

    # 9. sketch builds: HLL registers aggregate map-side with zero Python
    from qfspark import sketches

    p9 = plan_of(sketches.hll_registers(wp, "url", 10))
    check("HLL register agg is partial", p9, r"partial_max|partial")
    check("HLL build has no Python", p9, r"EvalPython", must_exist=False)
    cm = sketches.countmin_table(wp, "url", 4, 256)
    p10 = plan_of(sketches.countmin_query(cm, wp, "url", 4, 256))
    check("count-min probe broadcasts the counter table", p10,
          r"BroadcastHashJoin|BroadcastExchange")

    # 11. Misra-Gries: the only data-sized pass is the vectorized
    # MapInPandas partial; the (k+1)-th-largest threshold select is an
    # order-limit (TakeOrdered), never a global Sort of the data
    # audit the data-sized half directly: mg_summary checkpoints it
    # (single-evaluation guarantee), which hides it from the final plan
    p11 = plan_of(sketches.mg_partials(docs, "source", 8))
    check("MG partial pass is MapInPandas", p11, r"MapInPandas")
    check("MG has no row-python eval", p11, r"BatchEvalPython",
          must_exist=False)
    p11a = plan_of(sketches.mg_summary(docs, "source", 8))
    check("MG threshold is an order-limit", p11a,
          r"TakeOrderedAndProject|CollectLimit")

    # 11b. grouped rollups: partial aggregation map-side, no Python
    p11b = plan_of(sketches.hll_cardinality_by(wp, "url", ["lang"], 10))
    check("grouped HLL agg is partial", p11b, r"partial_max|partial")
    check("grouped HLL has no Python", p11b, r"EvalPython",
          must_exist=False)

    # 11c. grouped Misra-Gries (round 4): same shape as MG per group —
    # the data-sized half is ONE MapInPandas pass (<= k+1 rows per
    # group per partition), no row-python; the finalize's per-group
    # (k+1)-th-largest runs as a window over the tiny partial table
    p11c = plan_of(sketches.mg_partials_by(docs, "source", ["lang"], 8))
    check("grouped MG partial pass is MapInPandas", p11c, r"MapInPandas")
    check("grouped MG has no row-python eval", p11c, r"BatchEvalPython",
          must_exist=False)
    p11d = plan_of(sketches.mg_summary_by(docs, "source", ["lang"], 8))
    check("grouped MG finalize is a window over partials", p11d,
          r"RunningWindowFunction|Window")

    # 11e. distributed quantile bound check (round 4): the exact-rank
    # verification aggregates conditional counts — no Sort, no
    # per-row Python; the value column never moves to the driver
    vdf = docs.selectExpr("CAST(n_chars AS DOUBLE) AS _v")
    import pyspark.sql.functions as _F
    aggs = [_F.count(_F.lit(1)).alias("_n")]
    for i, q in enumerate((0.25, 0.75)):
        e = _F.lit(100.0 + i)
        aggs.append(_F.sum((_F.col("_v") < e).cast("long"))
                    .alias(f"_lt{i}"))
        aggs.append(_F.sum((_F.col("_v") <= e).cast("long"))
                    .alias(f"_le{i}"))
    p11e = plan_of(vdf.agg(*aggs))
    check("rank check is a partial aggregate", p11e, r"partial")
    check("rank check has no sort", p11e, r"\bSort\b", must_exist=False)
    check("rank check has no python", p11e, r"EvalPython",
          must_exist=False)
    # 11f. grouped KLL (round 5): partials are Arrow mapInPandas (no
    # row-Python), the per-group merge is applyInPandas over the tiny
    # partial table, and the grouped bound check's estimate join is a
    # broadcast (the groups x |qs| table never shuffles the corpus)
    p11f = plan_of(sketches.kll_quantiles_by(
        docs, "n_chars", ["lang"], [0.5], 16))
    check("grouped KLL partials are Arrow-eval", p11f,
          r"MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas")
    check("grouped KLL has no row-python", p11f, r"BatchEvalPython",
          must_exist=False)
    p11g = plan_of(sketches.quantile_bound_check_by(
        docs, "n_chars", ["lang"], [0.5], 16))
    check("grouped KLL bound check broadcasts estimates", p11g,
          r"BroadcastHashJoin|BroadcastExchange")
    check("grouped KLL bound check has no sort of the corpus", p11g,
          r"\bSortMergeJoin\b", must_exist=False)
    # 11h. grouped t-digest: the same pipeline as 11f/11g, so the same
    # nodes — a change to the shared path cannot alter one family only
    p11h = plan_of(sketches.tdigest_quantiles_by(
        docs, "n_chars", ["lang"], [0.5], 16))
    check("grouped t-digest partials are Arrow-eval", p11h,
          r"MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas")
    check("grouped t-digest has no row-python", p11h, r"BatchEvalPython",
          must_exist=False)
    p11h2 = plan_of(sketches.quantile_bound_check_by(
        docs, "n_chars", ["lang"], [0.5], kind="tdigest", compression=16))
    check("grouped t-digest bound check broadcasts estimates", p11h2,
          r"BroadcastHashJoin|BroadcastExchange")
    check("grouped t-digest bound check has no sort of the corpus", p11h2,
          r"\bSortMergeJoin\b", must_exist=False)
    # KMV sketch executes as TakeOrdered (never a full sort)
    p11c = plan_of(sketches.kmv_sketch(wp, "url", 256))
    check("KMV bottom-k is TakeOrdered", p11c,
          r"TakeOrderedAndProject")
    # bottom-k and priority samples: the global top-k is per-partition
    # top-k plus a k-sized driver merge, never a window over one
    # partition or a full sort
    p11i = plan_of(sketches.bottomk_sketch(docs, "text", "n_chars", 256))
    check("bottom-k sample is TakeOrdered", p11i,
          r"TakeOrderedAndProject")
    p11j = plan_of(sketches.priority_sample(docs, "doc_id", "n_chars", 64))
    check("priority sample is TakeOrdered", p11j,
          r"TakeOrderedAndProject")

    # 11h. sessionization (round 6): native SessionWindow aggregate
    # with MAP-SIDE partial session merging — the shuffle carries
    # merged (start, end, count) partials keyed by user, not raw
    # events — and zero Python anywhere
    from qfspark.sessions import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p11h = plan_of(sessionize(ev, "ts", "user_id", "30 minutes"))
    check("sessionize is a session-window agg", p11h,
          r"session_window", flags=re.I)
    check("sessionize merges sessions map-side", p11h,
          r"partial_count|partial")
    check("sessionize has no python", p11h, r"EvalPython",
          must_exist=False)

    # 12. URL canonicalization stays in whole-stage codegen
    from qfspark import urls

    p12 = plan_of(urls.url_normalize(wp, "url"))
    check("url_normalize is pure codegen", p12, r"EvalPython",
          must_exist=False)
    check("url_normalize scan prunes columns", p12,
          r"ReadSchema:.*struct<doc_id:bigint,text:string")

    spark.stop()
    print("\n%d failures" % len(failures))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
