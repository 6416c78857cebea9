"""Physical-plan assertions — the 100 TB posture checks (SURVEY.md §4).

Correctness tests prove the answers; these prove the PLANS: filters
reach the parquet scan, small dims broadcast, scans prune columns,
JVM-only queries never drop into Python, the scheduler's two-phase
top-k actually shards hot hosts.
"""

import os
import re

from pyspark.sql import functions as F

from adscraper_spark.pipelines import relational, text_quality
from adscraper_spark.scheduler import plan_wave

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_scan(spark):
    df = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .filter(F.col("l_shipdate") <= "1995-01-01")
          .select("l_orderkey", "l_quantity"))
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" \
        in plan, plan


def test_column_pruning(spark):
    df = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .select("l_orderkey", "l_quantity"))
    plan = _plan(df)
    assert "ReadSchema: struct<l_orderkey" in plan
    assert "l_comment" not in plan  # untouched columns never scanned


def test_dimension_join_broadcasts(spark):
    plan = _plan(relational.j1_region_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_seen_anti_join_physical(spark):
    plan = _plan(relational.j5_unseen_anti_join(spark, SF))
    assert "LeftAnti" in plan


def test_jvm_queries_never_touch_python(spark):
    """Everything except the extraction/normalization UDFs must stay in
    the JVM (no BatchEvalPython / ArrowEval in the plan)."""
    for name, fn in {**relational.QUERIES, **text_quality.QUERIES}.items():
        plan = _plan(fn(spark, SF))
        assert "EvalPython" not in plan, f"{name} dropped into Python"


def test_whole_stage_codegen_present(spark):
    df = relational.q1_pricing_summary(spark, SF)
    df.collect()  # AQE finalizes the plan (incl. codegen spans) on run
    plan = _plan(df)
    # '*(n)' prefixes mark whole-stage-codegen spans in the final plan
    assert "*(" in plan and "isFinalPlan=true" in plan


def test_scheduler_budget_dimension_broadcasts(spark):
    pending = spark.createDataFrame(
        [(f"https://h{i % 5}.test/{i}", f"h{i % 5}.test", 0.0, i)
         for i in range(100)],
        "url string, host string, priority double, seq long")
    plan = _plan(plan_wave(pending, {"h0.test": 2}, 3, salt_fanout=4))
    assert "BroadcastHashJoin" in plan  # budgets ride a broadcast
    # two-phase top-k: first window partitions by (host, salt)
    assert "host" in plan and "salt" in plan


def test_robots_gate_broadcasts_no_driver_collect(spark, tmp_path):
    """The robots dimension must ride a broadcast join into the seed /
    admission gates — never a driver-collected policy dict captured in
    task closures (VERDICT r1 scale-killer #1)."""
    from adscraper_spark.config import CrawlConfig
    from adscraper_spark.engine import CrawlEngine

    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.Table.from_pylist(
        [{"host": "h.test",
          "robots_txt": "User-agent: *\nDisallow: /private/\n"}],
        schema=pa.schema([("host", pa.string()),
                          ("robots_txt", pa.string())])),
        str(tmp_path / "robots.parquet"))
    eng = CrawlEngine(spark, str(tmp_path / "nopages.parquet"),
                      str(tmp_path / "robots.parquet"),
                      str(tmp_path / "w"), CrawlConfig())
    gated = eng._gated_seed_df(
        eng._seed_rows([(0, "https://h.test/a"),
                        (1, "https://h.test/private/x")], 0))
    plan = _plan(gated)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    states = {r["url"]: r["state_initial"] for r in gated.collect()}
    assert states["https://h.test/a"] == "pending"
    assert states["https://h.test/private/x"] == "disallowed"
    # budgets dimension is a (host, host_budget) DataFrame, not a dict
    assert eng.budgets_df is not None
    assert eng.budgets_df.collect()[0]["host_budget"] >= 1


def test_extraction_stage_partition_count(spark):
    """The UDF stage must run at full parallelism, not at AQE's
    byte-coalesced partition count (engine.py repartition rationale)."""
    from adscraper_spark.extraction.udfs import extract_pages

    df = spark.createDataFrame(
        [(f"https://h.test/{i}", b"<p>x</p>") for i in range(500)],
        "url string, html binary")
    par = spark.sparkContext.defaultParallelism
    out = extract_pages(df.repartition(par, "url"))
    assert out.rdd.getNumPartitions() == par


def test_extraction_default_path_adds_no_exchange(spark, tmp_path):
    """Round-4 design (no exchange before the UDF, A/B in BENCH.md):
    the extraction UDF consumes the broadcast fetch-join output
    DIRECTLY — no exchange moves the wave's html between the corpus
    scan and the Python stage, and the stage inherits the scan's
    partition count (∝ the wave's bucket set on a bucketed corpus)."""
    from adscraper_spark.engine import fetch_join
    from adscraper_spark.extraction.udfs import extract_pages

    n_files = 8
    src = spark.range(4000).select(
        F.concat(F.lit("https://h.test/"), "id").alias("url"),
        F.lit("<p>x</p>").alias("html"),
        F.lit("ts").alias("warc_ts"), F.lit("en").alias("lang"))
    path = str(tmp_path / "pages")
    src.repartition(n_files).write.parquet(path)
    pages = spark.read.parquet(path)
    sched = spark.range(100).select(
        F.concat(F.lit("https://h.test/"), "id").alias("url"),
        F.lit(0).alias("depth"))
    out = extract_pages(fetch_join(pages, sched, 100, 5_000_000))
    plan = _plan(out)
    # the wave side broadcasts (BroadcastExchange is the point); no
    # shuffle exchange may move the html between scan and UDF
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    # the UDF stage inherits the scan's partitioning
    assert out.rdd.getNumPartitions() >= n_files

def test_fetch_join_broadcasts_wave_side(spark):
    """The wave fetch must broadcast the scheduled-url side so the
    corpus html column is never exchanged (engine.fetch_join)."""
    from adscraper_spark.engine import fetch_join

    pages = spark.range(1000).select(
        F.concat(F.lit("u"), "id").alias("url"),
        F.lit("<html></html>").alias("html"))
    sched = spark.range(10).select(
        F.concat(F.lit("u"), "id").alias("url"),
        F.lit(0).alias("depth"))
    plan = _plan(fetch_join(pages, sched, 10, 5_000_000))
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # html never shuffles


def test_fetch_join_fallback_is_shuffle_join(spark):
    """Waves past broadcast_wave_max take the shuffle join over the
    url-bucketed layout (and keep S6 semantics via the html filter)."""
    from adscraper_spark.engine import fetch_join

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pages = spark.range(1000).select(
            F.concat(F.lit("u"), "id").alias("url"),
            F.lit("<html></html>").alias("html"))
        sched = spark.range(10).select(
            F.concat(F.lit("u"), "id").alias("url"),
            F.lit(0).alias("depth"))
        plan = _plan(fetch_join(pages, sched, 10, 0))
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
        # (S6 miss semantics of this path are covered by the engine
        #  equivalence tests; with literal columns Catalyst folds the
        #  html-notnull filter into the join itself)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_corpus_scan_prunes_to_wave_buckets(spark, tmp_path):
    """The per-wave fetch scan over a bucketed corpus must touch ONLY
    the wave's bucket partitions (partition pruning at the file index),
    so wave cost scales with wave size, not corpus size."""
    import os

    from adscraper_spark.corpus import CorpusSpec, write_corpus_parquet
    from adscraper_spark.corpus_layout import (
        BUCKET_COL, bucket_id_col, bucketize_corpus, corpus_layout,
        read_pruned,
    )

    spec = CorpusSpec(n_pages=400, n_hosts=10, seed=7)
    plain = str(tmp_path / "plain")
    write_corpus_parquet(spec, plain)
    bucketed = str(tmp_path / "bucketed")
    n_buckets = 64
    bucketize_corpus(spark, os.path.join(plain, "pages.parquet"),
                     bucketed, n_buckets)
    layout = corpus_layout(bucketed)
    assert layout["num_buckets"] == n_buckets

    # a small "wave": 5 urls → ≤5 buckets
    wave_urls = [spec.page_url(0, j) for j in range(5)]
    wave = spark.createDataFrame([(u,) for u in wave_urls], "url string")
    ids = [r[0] for r in
           wave.select(bucket_id_col(n_buckets)).distinct().collect()]
    pruned = read_pruned(spark, bucketed, layout, ids)

    # 1) the physical scan carries the partition filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and BUCKET_COL in plan, plan

    # 2) rows actually come only from the selected bucket dirs, and the
    #    files read are a strict subset of the corpus layout
    files = [r[0] for r in pruned.select(
        F.input_file_name()).distinct().collect()]
    assert files and all(
        any(f"{BUCKET_COL}={i}/" in f for i in ids) for f in files)
    all_buckets = [d for d in os.listdir(bucketed)
                   if d.startswith(f"{BUCKET_COL}=")]
    assert len(all_buckets) > len(ids)  # pruning is real, not vacuous

    # 3) every wave url is still found (pruning never loses a hit)
    hit = pruned.join(wave, "url").count()
    assert hit == len(wave_urls)


def test_engine_on_bucketed_corpus_matches_plain(spark, tmp_path,
                                                 corpus, corpus_spec,
                                                 crawl_config, seeds):
    """Same crawl, bucketed vs plain corpus layout: identical order,
    seen-set, and results (the pruning is purely a scan optimization)."""
    from adscraper_spark.corpus_layout import bucketize_corpus
    from adscraper_spark.engine import CrawlEngine

    bucketed = bucketize_corpus(spark, corpus["pages"],
                                str(tmp_path / "bpages"), 32)
    a = CrawlEngine(spark, corpus["pages"], corpus["robots"],
                    str(tmp_path / "wa"), crawl_config)
    a.bootstrap(seeds)
    a.run(max_waves=3)
    b = CrawlEngine(spark, bucketed, corpus["robots"],
                    str(tmp_path / "wb"), crawl_config)
    assert b.pages_layout is not None
    b.bootstrap(seeds)
    b.run(max_waves=3)
    assert a.crawl_order() == b.crawl_order()
    assert a.seen_set() == b.seen_set()
    ra = a.results.read(spark).select("url", "wave", "text")
    rb = b.results.read(spark).select("url", "wave", "text")
    assert sorted(map(tuple, ra.collect())) == sorted(map(tuple,
                                                          rb.collect()))


def test_sessionize_single_hash_shuffle(spark):
    """Both windows and the rollup share the (user_id) partitioning —
    Catalyst must plan ONE hash exchange, not three."""
    from adscraper_spark.pipelines import relational

    df = relational.sessionize(spark, SF)
    df.collect()
    # AQE's toString prints the final plan followed by the initial
    # plan — count exchanges in the final section only
    plan = _plan(df).split("Initial Plan")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in plan


def test_ann_ivf_centroids_broadcast(spark):
    """IVF assignment: the K-row centroid dim must broadcast, and the
    argmax must be an aggregate (map-side partial), not a per-vector
    window."""
    from adscraper_spark.pipelines import similarity

    df = similarity._ivf_assignments(
        similarity._emb(spark, SF))
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "partial_max" in plan or "HashAggregate" in plan, plan


def test_global_agg_broadcast_reads_cache_not_second_scan(spark):
    """f6 / domain_mix broadcast a 1-row global aggregate back onto
    the rows it was computed from; with_global_agg caches the shared
    intermediate so BOTH crossJoin sides are InMemoryTableScans — the
    parquet source (and the expensive keyword/groupBy projection) is
    evaluated once, not once per side."""
    for q in (relational.f6_keyword_filter_with_fallback,
              text_quality.domain_mix):
        plan = _plan(q(spark, SF))
        assert plan.count("InMemoryTableScan") == 2, plan
        assert "BroadcastNestedLoopJoin" in plan, plan


def test_scan_split_tuning_floors_udf_parallelism(spark, tmp_path):
    """CrawlConfig.scan_splits_per_core: a corpus whose scan yields
    fewer splits than cores under the session's maxPartitionBytes
    starves the no-exchange extraction stage (scan splits ARE its
    parallelism), so engine init lowers the conf to target
    >= k x cores splits. It must only ever LOWER the setting — at
    cluster scale the operator's tuning wins untouched."""
    from adscraper_spark.config import CrawlConfig
    from adscraper_spark.engine import (
        _BASELINE_SPLIT_MARKER, _TUNED_SPLIT_MARKER, CrawlEngine,
        _parse_bytes_conf,
    )

    key = "spark.sql.files.maxPartitionBytes"
    orig = spark.conf.get(key)
    # ~40 MB of incompressible html in ONE file -> 1 split at the
    # 128 MB default; 12 chained sha2 hex blocks defeat snappy
    payload = F.concat(*[
        F.sha2(F.concat(F.lit(f"s{i}|"), F.col("id").cast("string")), 256)
        for i in range(12)])
    src = spark.range(60000).select(
        F.concat(F.lit("https://h.test/"), "id").alias("url"),
        payload.alias("html"),
        F.lit("ts").alias("warc_ts"), F.lit("en").alias("lang"))
    path = str(tmp_path / "pages")
    src.coalesce(1).write.parquet(path)
    try:
        par = spark.sparkContext.defaultParallelism
        before = spark.read.parquet(path).rdd.getNumPartitions()
        cfg = CrawlConfig(max_waves=1, max_depth=0)
        CrawlEngine(spark, path, None, str(tmp_path / "w"), cfg)
        tuned = _parse_bytes_conf(spark.conf.get(key))
        assert tuned < _parse_bytes_conf(orig)
        after = spark.read.parquet(path).rdd.getNumPartitions()
        assert after > before
        # the tuned split size actually hits the k-splits-per-core
        # target (up to the 4 MB task-overhead floor): a mis-computed
        # `want` (e.g. total//k instead of total//(k*par)) fails here
        total = sum(
            os.path.getsize(os.path.join(dp, fn))
            for dp, _d, fns in os.walk(path) for fn in fns
            if fn.endswith(".parquet"))
        assert tuned <= max(4 << 20,
                            total // (cfg.scan_splits_per_core * par))
        # never raises an OPERATOR-set value: a manual conf below the
        # target stays put (the tuner's marker no longer matches)
        spark.conf.set(key, str(2 << 20))
        CrawlEngine(spark, path, None, str(tmp_path / "w2"), cfg)
        assert _parse_bytes_conf(spark.conf.get(key)) == (2 << 20)
        # but a value the tuner itself wrote MAY be re-tuned upward —
        # a session crawling a small corpus then a big one must not pin
        # the big corpus to the small one's split size
        spark.conf.set(key, str(1 << 20))
        spark.conf.set(_TUNED_SPLIT_MARKER, str(1 << 20))
        CrawlEngine(spark, path, None, str(tmp_path / "w3"), cfg)
        assert _parse_bytes_conf(spark.conf.get(key)) == tuned
        # ...and a re-tune can never exceed the session's pre-tune
        # baseline, even when the wanted split size is larger: fake a
        # huge per-core want by claiming the tuner owns a tiny value
        # while the recorded baseline is small
        spark.conf.set(_BASELINE_SPLIT_MARKER, str(4 << 20))
        spark.conf.set(key, str(1 << 20))
        spark.conf.set(_TUNED_SPLIT_MARKER, str(1 << 20))
        big = CrawlConfig(max_waves=1, max_depth=0,
                          scan_splits_per_core=1)  # want ≈ 5 MB > base
        CrawlEngine(spark, path, None, str(tmp_path / "w4"), big)
        assert _parse_bytes_conf(spark.conf.get(key)) == (4 << 20)
        # a later engine whose corpus is NOT tunable (tiny here; remote
        # schemes take the same early-return) must RESTORE the recorded
        # baseline instead of inheriting the previous corpus's
        # tuned-down split size — regression: the early returns used to
        # skip the restore, pinning every later corpus to 4 MB splits
        spark.conf.set(key, str(1 << 20))
        spark.conf.set(_TUNED_SPLIT_MARKER, str(1 << 20))
        spark.conf.set(_BASELINE_SPLIT_MARKER, str(64 << 20))
        tiny = str(tmp_path / "tinypages")
        spark.range(10).select(
            F.concat(F.lit("https://h.test/"), "id").alias("url"),
            F.lit("x").alias("html"), F.lit("ts").alias("warc_ts"),
            F.lit("en").alias("lang")).coalesce(1).write.parquet(tiny)
        CrawlEngine(spark, tiny, None, str(tmp_path / "w5"), cfg)
        assert _parse_bytes_conf(spark.conf.get(key)) == (64 << 20)
        assert spark.conf.get(_TUNED_SPLIT_MARKER, None) is None
        # ...but an operator value is left alone even on that path
        spark.conf.set(key, str(3 << 20))
        CrawlEngine(spark, tiny, None, str(tmp_path / "w6"), cfg)
        assert _parse_bytes_conf(spark.conf.get(key)) == (3 << 20)
        # Spark's full byte-suffix grammar parses (operator '1t' must
        # not be misread as the 128 MB default and then 'lowered')
        assert _parse_bytes_conf("1t") == 1 << 40
        assert _parse_bytes_conf("2pb") == 2 << 50
    finally:
        spark.conf.set(key, orig)
        spark.conf.unset(_TUNED_SPLIT_MARKER)
        spark.conf.unset(_BASELINE_SPLIT_MARKER)


def test_simhash_single_tiny_shuffle(spark):
    """SimHash: explode → ONE groupBy(doc_id) whose partial (map-side)
    aggregate collapses each doc locally — exactly one hash exchange,
    carrying #docs × 33 ints, never the token table. The old plan ran
    a dedup groupBy(doc_id, tok) first, shuffling the FULL token
    corpus before aggregating."""
    from adscraper_spark.pipelines import dedup

    df = dedup.simhash(spark, SF)
    df.collect()
    plan = _plan(df).split("Initial Plan")[0]
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_sum" in plan or "HashAggregate" in plan, plan
    assert "EvalPython" not in plan


def test_lsh_banding_single_generate(spark):
    """_band_rows must emit all band keys from ONE evaluation of the
    signature (posexplode over an array of bit slices) — never a
    unionAll of per-band projections, which re-runs the full
    hyperplane projection once per band per consumer."""
    from adscraper_spark.pipelines import similarity

    emb = similarity._emb(spark, SF)
    dim = similarity._embedding_dim(emb)
    bucketed = emb.select(
        "vec_id", similarity._bucket_col(dim).alias("bucket"))
    plan = _plan(similarity._band_rows(bucketed))
    assert plan.count("Generate posexplode") == 1, plan
    assert "Union" not in plan, plan


def test_near_dup_pair_expansion_streams_not_mega_row(spark):
    """near_dup_lsh's within-bucket pair scoring (r6 shape): ONE
    grouped-map pandas stage per (band, bkey) bucket — vectors cross
    the Python boundary once per bucket membership, never twice per
    candidate pair — with chunked pair-index generation inside keeping
    per-task memory O(chunk + m·dim) (test_r06_optimizations covers the
    chunk bound). The JVM plan must never materialize all m(m-1)/2
    pairs in one array row (no flatten-over-transform mega-row), and
    the exact round+threshold stays JVM-side above the Python stage."""
    from adscraper_spark.pipelines import similarity

    df = similarity.near_dup_lsh(spark, SF)
    plan = _plan(df)
    # exactly one grouped-map Python stage does the pair work
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    # the mega-row shape is gone: no flatten over a nested transform
    assert "flatten(transform" not in plan.replace(" ", ""), plan
    # exact threshold comparison sits in the JVM plan, not in Python
    # (anchored to the filter: the plane literals also contain "0.4")
    threshold = re.escape(str(similarity.NEAR_DUP_LSH_THRESHOLD))
    assert re.search(rf"Filter \(round\(cos_raw#\d+, 4\) >= {threshold}\)",
                     plan), plan
