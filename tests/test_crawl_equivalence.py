"""Crawl-order / seen-set equivalence vs the sequential simulator, plus
politeness + admission invariants (SURVEY.md §5.2.2/4/5) — all against
the one shared engine run."""

from collections import Counter

from pyspark.sql import functions as F

from adscraper_spark.robots import host_budgets, parse_robots
from adscraper_spark.urlnorm import url_path


def test_crawl_order_matches_simulator(finished_engine, sim_result):
    assert finished_engine.crawl_order() == sim_result.order


def test_seen_set_matches_simulator(finished_engine, sim_result):
    assert finished_engine.seen_set() == sim_result.seen


def test_no_url_fetched_twice(finished_engine, spark):
    proc = finished_engine.processed.read(spark)
    dups = (proc.groupBy("url").count().filter(F.col("count") > 1).count())
    assert dups == 0


def test_politeness_budget_respected(finished_engine, spark, robots_rows,
                                     crawl_config):
    """For every host and wave: fetches ≤ budget(host) (W2)."""
    budgets = host_budgets(robots_rows, crawl_config.wave_seconds,
                           crawl_config.default_budget)
    proc = finished_engine.processed.read(spark)
    adm = finished_engine.admitted.read(spark).select("url", "host")
    counts = Counter(
        (r["host"], r["wave_fetched"])
        for r in proc.join(adm, "url").collect())
    for (host, _wave), n in counts.items():
        budget = budgets.get(host, crawl_config.default_budget)
        assert n <= budget, f"{host} over budget: {n} > {budget}"


def test_robots_disallowed_never_fetched(finished_engine, spark,
                                         robots_rows):
    policies = {h: parse_robots(b) for h, b in robots_rows}
    proc = finished_engine.processed.read(spark)
    adm = finished_engine.admitted.read(spark).select("url", "host")
    for r in proc.join(adm, "url").collect():
        pol = policies.get(r["host"])
        if pol is not None:
            assert pol.is_allowed(url_path(r["url"])), \
                f"fetched disallowed URL {r['url']}"
    # and disallowed rows exist in the frontier with the right state
    states = finished_engine.admitted.read(spark) \
        .groupBy("state_initial").count().collect()
    state_map = {r["state_initial"]: r["count"] for r in states}
    assert state_map.get("invalid", 0) >= 1  # malformed seeds recorded


def test_states_match_simulator(finished_engine, spark, sim_result):
    adm = finished_engine.admitted.read(spark)
    proc = finished_engine.processed.read(spark)
    final = {r["url"]: r["state_final"] for r in proc.collect()}
    for r in adm.collect():
        engine_state = final.get(r["url"], r["state_initial"])
        assert engine_state == sim_result.states[r["url"]], r["url"]


def test_within_wave_duplicate_admitted_once(finished_engine, spark):
    adm = finished_engine.admitted.read(spark)
    dups = adm.groupBy("url").count().filter(F.col("count") > 1).count()
    assert dups == 0


def test_requests_table_same_origin_filter(finished_engine, spark):
    """S11/F3: every logged third-party request crosses origins, and the
    logged set equals the oracle's cross-host external ad URLs."""
    from adscraper_spark.extraction.core import extract_page
    from adscraper_spark.urlnorm import url_host

    req = finished_engine.requests.read(spark)
    rows = req.select("initiator", "target_url", "resource_type").collect()
    for r in rows:
        assert url_host(r["initiator"]) != url_host(r["target_url"])
    # oracle: recompute from the fetched pages
    fetched = {r["url"] for r in finished_engine.results.read(spark)
               .select("url").collect()}
    got = {(r["initiator"], r["target_url"], r["resource_type"])
           for r in rows}
    want = set()
    pages = {r["url"]: r["html"]
             for r in spark.read.parquet(finished_engine.pages_path)
             .collect()}
    for url in fetched:
        ex = extract_page(url, bytes(pages[url]))
        for ad in ex.ads:
            for urls, rtype in [(ad.anchor_hrefs, "anchor"),
                                (ad.iframe_srcs, "iframe"),
                                (ad.script_srcs, "script"),
                                (ad.img_srcs, "img")]:
                for t in urls:
                    if url_host(t) != url_host(url):
                        want.add((url, t, rtype))
    assert got == want


def test_iframes_table_populated(finished_engine, spark):
    """S12: the exploded iframe-tree table carries parent adjacency."""
    f = finished_engine.iframes.read(spark)
    rows = f.collect()
    assert len(rows) > 0
    tops = [r for r in rows if r["parent_index"] == -1]
    nested = [r for r in rows if r["parent_index"] >= 0]
    assert tops and nested  # the corpus embeds iframe-in-iframe ads


def test_error_seed_recorded(finished_engine, spark, sim_result):
    proc = finished_engine.processed.read(spark)
    errors = {r["url"] for r in
              proc.filter(F.col("state_final") == "error").collect()}
    sim_errors = {u for u, s in sim_result.states.items() if s == "error"}
    assert errors == sim_errors and len(errors) >= 1


def test_landing_admission_matches_simulator(spark, corpus, corpus_spec,
                                             robots_rows, seeds, tmp_path):
    """J4 in-crawl ad-landing admission: engine == simulator on order,
    seen-set, AND referrer-ad lineage with admit_ad_landings on."""
    from adscraper_spark.config import CrawlConfig
    from adscraper_spark.corpus import feed_rows, pages_rows
    from adscraper_spark.engine import CrawlEngine
    from adscraper_spark.simulator import simulate_crawl

    cfg = CrawlConfig(wave_seconds=10, default_budget=3, max_waves=6,
                      max_depth=2, admit_ad_landings=True,
                      max_ad_landings_per_page=2)
    pages_map = {r["url"]: r["html"] for r in pages_rows(corpus_spec)}
    pages_map.update({r["url"]: r["html"] for r in feed_rows(corpus_spec)})
    sim = simulate_crawl(pages_map, seeds, robots_rows, cfg)
    eng = CrawlEngine(spark, corpus["pages"], corpus["robots"],
                      str(tmp_path / "w"), cfg)
    eng.bootstrap(seeds)
    eng.run()
    assert eng.crawl_order() == sim.order
    assert eng.seen_set() == sim.seen
    eng_lineage = {r["url"]: r["ad_id"] for r in
                   eng.admitted.read(spark).select("url", "ad_id")
                   .collect() if r["ad_id"] is not None}
    sim_lineage = {u: a for u, a in sim.ad_ids.items() if a is not None}
    assert eng_lineage == sim_lineage
    assert sim_lineage  # non-vacuous: the corpus must admit landings


def test_landing_pages_never_expanded(spark, corpus, corpus_spec,
                                      robots_rows, seeds, tmp_path):
    """The reference scrapes ad landing pages but never crawls onward
    from them: no admitted row may have a landing page as src_url."""
    from adscraper_spark.config import CrawlConfig
    from adscraper_spark.engine import CrawlEngine

    cfg = CrawlConfig(wave_seconds=10, default_budget=3, max_waves=6,
                      max_depth=2, admit_ad_landings=True,
                      max_ad_landings_per_page=2)
    eng = CrawlEngine(spark, corpus["pages"], corpus["robots"],
                      str(tmp_path / "w"), cfg)
    eng.bootstrap(seeds)
    eng.run()
    adm = eng.admitted.read(spark)
    landing_urls = adm.filter(F.col("ad_id").isNotNull()).select(
        F.col("url").alias("src_url"))
    expanded_from_landing = adm.join(landing_urls, "src_url").count()
    assert expanded_from_landing == 0


def test_max_urls_frontier_cap_matches_simulator(spark, corpus,
                                                 corpus_spec, robots_rows,
                                                 seeds, tmp_path):
    """max_urls: once the frontier holds >= N rows, later waves fetch
    pending URLs but admit nothing new — engine == simulator, and the
    cap actually binds (frontier smaller than the uncapped crawl)."""
    from adscraper_spark.config import CrawlConfig
    from adscraper_spark.corpus import feed_rows, pages_rows
    from adscraper_spark.engine import CrawlEngine
    from adscraper_spark.simulator import simulate_crawl

    pages_map = {r["url"]: r["html"] for r in pages_rows(corpus_spec)}
    pages_map.update({r["url"]: r["html"] for r in feed_rows(corpus_spec)})
    base = dict(wave_seconds=10, default_budget=3, max_waves=8,
                max_depth=2)
    uncapped = simulate_crawl(pages_map, seeds, robots_rows,
                              CrawlConfig(**base))
    cap = len(seeds) + 5
    cfg = CrawlConfig(**base, max_urls=cap)
    sim = simulate_crawl(pages_map, seeds, robots_rows, cfg)
    assert len(sim.seen) < len(uncapped.seen)  # the cap binds

    eng = CrawlEngine(spark, corpus["pages"], corpus["robots"],
                      str(tmp_path / "w"), cfg)
    eng.bootstrap(seeds)
    eng.run()
    assert eng.crawl_order() == sim.order
    assert eng.seen_set() == sim.seen


def test_degenerate_seed_lists_match_simulator(spark, corpus, corpus_spec,
                                               robots_rows,
                                               tmp_path_factory):
    """Boundary seed lists the fixtures never exercise: an EMPTY list
    (bootstrap + run must terminate with zero fetch events), seeds that
    all 404 (pure error/retry path, no expansion), and a list mixing
    duplicates with malformed URLs — each engine run must still equal
    the sequential simulator on order and seen-set."""
    from adscraper_spark.config import CrawlConfig
    from adscraper_spark.corpus import pages_rows
    from adscraper_spark.engine import CrawlEngine
    from adscraper_spark.simulator import simulate_crawl

    cfg = CrawlConfig(wave_seconds=10, default_budget=2, max_waves=4,
                      max_depth=2, max_retries=2)
    pages_map = {r["url"]: r["html"] for r in pages_rows(corpus_spec)}
    cases = {
        "empty": [],
        "all_miss": [(i, f"https://nosuch-{i}.test/x") for i in range(4)],
        "dup_malformed": [(0, corpus_spec.page_url(0, 0)),
                          (1, corpus_spec.page_url(0, 0)),
                          (2, "not a url"), (3, "https://"),
                          (4, corpus_spec.page_url(1, 0))],
    }
    for label, seeds in cases.items():
        sim = simulate_crawl(pages_map, seeds, robots_rows, cfg)
        work = str(tmp_path_factory.mktemp(f"work_seed_{label}"))
        eng = CrawlEngine(spark, corpus["pages"], corpus["robots"],
                          work, cfg)
        eng.bootstrap(seeds)
        eng.run()
        assert eng.crawl_order() == sim.order, label
        assert eng.seen_set() == sim.seen, label
    assert not simulate_crawl(pages_map, [], robots_rows, cfg).order
    # all-miss seeds burn max_retries attempts each, then stop
    am = simulate_crawl(pages_map, cases["all_miss"], robots_rows, cfg)
    assert len(am.order) == 4 * cfg.max_retries
    assert set(am.states.values()) == {"error"}


def test_all_features_combined_matches_simulator(spark, corpus,
                                                 corpus_spec, seeds,
                                                 robots_rows,
                                                 tmp_path_factory):
    """Every optional engine feature ON in one crawl — ad-landing
    admission, refresh-and-rescrape, cross-host expansion, periodic log
    compaction + snapshot vacuum, multi-wave checkpoint windows, and
    retries — must still be order/seen/state/lineage-identical to the
    sequential simulator, and a crash mid
    checkpoint-window must resume to the identical crawl. Each pairwise
    interaction is covered elsewhere; this pins the full product (a
    regression that only appears when features compose — e.g. a landing
    row surviving compaction under an uncommitted window — has no other
    test)."""
    from adscraper_spark.config import CrawlConfig
    from adscraper_spark.corpus import feed_rows, pages_rows
    from adscraper_spark.engine import CrawlEngine
    from adscraper_spark.simulator import simulate_crawl
    from adscraper_spark.urlnorm import url_host

    cfg = CrawlConfig(wave_seconds=10, default_budget=3, max_waves=6,
                      max_depth=2, admit_ad_landings=True,
                      max_ad_landings_per_page=2, refresh_mains=True,
                      same_host_only=False, compact_every=2,
                      vacuum_every=2,
                      checkpoint_every=2, max_retries=2)
    pages_map = {r["url"]: r["html"] for r in pages_rows(corpus_spec)}
    pages_map.update({r["url"]: r["html"] for r in feed_rows(corpus_spec)})
    sim = simulate_crawl(pages_map, seeds, robots_rows, cfg)

    work = str(tmp_path_factory.mktemp("work_all_features"))
    eng = CrawlEngine(spark, corpus["pages"], corpus["robots"], work, cfg)
    eng.bootstrap(seeds)
    eng.run()
    assert eng.crawl_order() == sim.order
    assert eng.seen_set() == sim.seen

    adm = eng.admitted.read(spark).collect()
    proc = {r["url"]: r["state_final"]
            for r in eng.processed.read(spark).collect()}
    for r in adm:
        assert proc.get(r["url"], r["state_initial"]) \
            == sim.states[r["url"]], r["url"]
    eng_lineage = {r["url"]: r["ad_id"] for r in adm
                   if r["ad_id"] is not None}
    sim_lineage = {u: a for u, a in sim.ad_ids.items() if a is not None}
    assert eng_lineage == sim_lineage
    # Reference-faithful interaction: link harvest includes ad anchors
    # (U7 takes every <a>), so with cross-host expansion ON the organic
    # candidate ties the landing candidate on depth and wins on kind —
    # lineage is structurally empty, and the ad targets must instead be
    # present as ORGANIC cross-host admissions.
    assert not sim_lineage
    organic_offhost = {r["url"] for r in adm if r["ad_id"] is None
                       and r["src_url"] is not None
                       and url_host(r["src_url"]) != r["host"]}
    assert organic_offhost
    assert any("ads.partner-" in u
               for u in organic_offhost)  # ad-network targets among them
    res = eng.results.read(spark).select("url", "wave", "page_type",
                                         "reload", "ad_id").collect()
    assert any(r["reload"] == 1 for r in res)           # refresh ran

    # Same-host variant (every other feature still on): landing lineage
    # is non-vacuous here, and a crash inside the second checkpoint
    # window must resume to the identical crawl.
    import dataclasses

    cfg_b = dataclasses.replace(cfg, same_host_only=True)
    sim_b = simulate_crawl(pages_map, seeds, robots_rows, cfg_b)
    work2 = str(tmp_path_factory.mktemp("work_all_features_crash"))
    b = CrawlEngine(spark, corpus["pages"], corpus["robots"], work2, cfg_b)
    b.bootstrap(seeds)
    b.run(max_waves=3)  # dies with wave 3 uncommitted (window of 2)
    b2 = CrawlEngine(spark, corpus["pages"], corpus["robots"], work2,
                     cfg_b)
    b2.run()
    assert b2.crawl_order() == sim_b.order
    assert b2.seen_set() == sim_b.seen
    lineage_b = {r["url"]: r["ad_id"] for r in
                 b2.admitted.read(spark).select("url", "ad_id").collect()
                 if r["ad_id"] is not None}
    assert lineage_b == {u: a for u, a in sim_b.ad_ids.items()
                         if a is not None}
    assert lineage_b  # non-vacuous landings with everything else on
    rb = b2.results.read(spark).select("page_type", "reload").collect()
    assert any(r["page_type"] == "landing" for r in rb)
    assert any(r["reload"] == 1 for r in rb)


def test_shuffle_fetch_fallback_matches_simulator(spark, corpus,
                                                  corpus_spec, seeds,
                                                  robots_rows,
                                                  crawl_config,
                                                  tmp_path_factory):
    """broadcast_wave_max=0 forces EVERY wave through the shuffle-join
    fetch path (engine.fetch_join's left-join branch — the plan a
    10^7-URL wave takes at frontier scale). Crawl order and seen set
    must be identical to the broadcast path / sequential simulator;
    a fallback only exercised by plan-shape tests could silently drop
    S6 miss rows or change admission order."""
    import dataclasses

    from adscraper_spark.corpus import pages_rows
    from adscraper_spark.engine import CrawlEngine
    from adscraper_spark.simulator import simulate_crawl

    cfg = dataclasses.replace(crawl_config, broadcast_wave_max=0)
    work = str(tmp_path_factory.mktemp("work_shuffle_fetch"))
    eng = CrawlEngine(spark, corpus["pages"], corpus["robots"], work, cfg)
    eng.bootstrap(seeds)
    eng.run()
    pages = {r["url"]: r["html"] for r in pages_rows(corpus_spec)}
    sim = simulate_crawl(pages, seeds, robots_rows, cfg)
    assert eng.crawl_order() == sim.order
    assert eng.seen_set() == sim.seen
