"""Randomized engine≡simulator equivalence, pinned by RNG seed.

The fixed-config equivalence suite (test_crawl_equivalence.py) covers
each feature and the all-on composition at corpus seed 42. This sweep
draws WHOLE configurations — corpus shape, seed count, politeness
budget, depth/wave/url caps, checkpoint cadence, landings/refresh/retry
toggles, compaction/vacuum cadence, salt fanout — from a seeded RNG,
so the engine is exercised at corpus/config points no hand-written
test chose. Trials are deterministic in the trial seed (no flake); the
three pinned here are the fastest of an 8-trial sweep that ran fully
green (session log, round 5), chosen to jointly cover checkpoint
windows, same_host both ways, max_urls caps, landings, refresh,
retries>1, site budgets, and salt fanouts {1,4,16}. The draw that once
picked the seen-filter kind is still taken (the seen set is bloom only
now), so every trial keeps its corpus and config.
"""

import random

import pytest

from adscraper_spark.config import CrawlConfig
from adscraper_spark.corpus import (CorpusSpec, feed_rows, gen_robots_txt,
                                    gen_seeds, pages_rows,
                                    write_corpus_parquet)
from adscraper_spark.engine import CrawlEngine
from adscraper_spark.simulator import simulate_crawl


def _draw(trial_seed: int):
    """One deterministic (spec, cfg, n_seeds) sample. The draw ORDER is
    part of the pin — inserting a draw renumbers every later field and
    silently changes each trial's configuration."""
    rng = random.Random(trial_seed)
    spec = CorpusSpec(
        n_pages=rng.randint(80, 400), n_hosts=rng.randint(4, 16),
        seed=rng.randint(0, 10**6),
        private_frac=rng.choice([0.0, 0.1, 0.3]),
        mega_host_weight=rng.choice([1.0, 4.0, 12.0]))
    head = dict(
        default_budget=rng.randint(1, 5),
        max_waves=rng.randint(3, 8), max_depth=rng.randint(1, 3),
        max_urls=rng.choice([None, 30, 100]))
    rng.choice([0, 1])  # former filter-kind draw; keeps later draws pinned
    cfg = CrawlConfig(
        wave_seconds=10, **head,
        checkpoint_every=rng.randint(1, 3),
        same_host_only=rng.choice([True, False]),
        site_budget_seconds=rng.choice([None, 5.0]),
        max_retries=rng.randint(1, 3),
        admit_ad_landings=rng.choice([True, False]),
        max_ad_landings_per_page=rng.randint(1, 3),
        refresh_mains=rng.choice([True, False]),
        compact_every=rng.choice([None, 2]),
        vacuum_every=rng.choice([None, 2]),
        salt_fanout=rng.choice([1, 4, 16]))
    return spec, cfg, rng.randint(3, 20)


def _crash_draw(trial_seed: int):
    """Deterministic sample for the crash-point sweep (narrower config
    space, plus a crash wave). Draw order is part of the pin."""
    rng = random.Random(trial_seed)
    spec = CorpusSpec(
        n_pages=rng.randint(80, 300), n_hosts=rng.randint(4, 12),
        seed=rng.randint(0, 10**6),
        private_frac=rng.choice([0.0, 0.2]))
    head = dict(
        default_budget=rng.randint(1, 4),
        max_waves=rng.randint(4, 7), max_depth=rng.randint(2, 3))
    rng.choice([0, 1])  # former filter-kind draw; keeps later draws pinned
    cfg = CrawlConfig(
        wave_seconds=10, **head,
        checkpoint_every=rng.randint(1, 3),
        same_host_only=rng.choice([True, False]),
        max_retries=rng.randint(1, 2),
        admit_ad_landings=rng.choice([True, False]),
        refresh_mains=rng.choice([True, False]),
        compact_every=rng.choice([None, 2]),
        vacuum_every=rng.choice([None, 2]))
    n_seeds = rng.randint(4, 16)
    crash_after = rng.randint(1, cfg.max_waves - 1)
    return spec, cfg, n_seeds, crash_after


@pytest.mark.parametrize("trial_seed", [9004, 9006, 9007])
def test_random_config_matches_simulator(spark, tmp_path_factory,
                                         trial_seed):
    spec, cfg, n_seeds = _draw(trial_seed)
    seeds = [(i, u) for i, u in enumerate(gen_seeds(spec, n_seeds=n_seeds))]
    robots = [(spec.host_name(h), gen_robots_txt(spec, h))
              for h in range(spec.n_hosts)
              if gen_robots_txt(spec, h) is not None]
    pages_map = {r["url"]: r["html"] for r in pages_rows(spec)}
    pages_map.update({r["url"]: r["html"] for r in feed_rows(spec)})
    sim = simulate_crawl(pages_map, seeds, robots, cfg)
    assert sim.order, "degenerate draw: simulator fetched nothing"

    tmp = str(tmp_path_factory.mktemp(f"sweep{trial_seed}"))
    paths = write_corpus_parquet(spec, tmp + "/corpus")
    eng = CrawlEngine(spark, paths["pages"], paths["robots"],
                      tmp + "/work", cfg)
    eng.bootstrap(seeds)
    eng.run()
    assert eng.crawl_order() == sim.order
    assert eng.seen_set() == sim.seen


@pytest.mark.parametrize("trial_seed", [9100, 9104])
def test_random_crash_point_resume_matches_simulator(spark,
                                                     tmp_path_factory,
                                                     trial_seed):
    """Crash after a drawn number of waves (plus a torn post-crash
    append the resume must roll back), resume in a fresh engine, and
    the FINAL crawl must equal the uninterrupted simulator's. The two
    pinned trials are from a 10-trial sweep that ran fully green
    (session log, round 5): one checkpoint_every=3 with the crash
    inside an uncommitted window, one checkpoint_every=2."""
    spec, cfg, n_seeds, crash_after = _crash_draw(trial_seed)
    seeds = [(i, u) for i, u in enumerate(gen_seeds(spec, n_seeds=n_seeds))]
    robots = [(spec.host_name(h), gen_robots_txt(spec, h))
              for h in range(spec.n_hosts)
              if gen_robots_txt(spec, h) is not None]
    pages_map = {r["url"]: r["html"] for r in pages_rows(spec)}
    pages_map.update({r["url"]: r["html"] for r in feed_rows(spec)})
    sim = simulate_crawl(pages_map, seeds, robots, cfg)
    assert sim.order, "degenerate draw: simulator fetched nothing"

    tmp = str(tmp_path_factory.mktemp(f"crash{trial_seed}"))
    paths = write_corpus_parquet(spec, tmp + "/corpus")
    a = CrawlEngine(spark, paths["pages"], paths["robots"],
                    tmp + "/work", cfg)
    a.bootstrap(seeds)
    a.run(max_waves=crash_after)
    a.results.append(spark.createDataFrame([("torn", 10**6)],
                                           "url string, wave int"))
    b = CrawlEngine(spark, paths["pages"], paths["robots"],
                    tmp + "/work", cfg)
    b.run()
    assert b.crawl_order() == sim.order
    assert b.seen_set() == sim.seen
    assert b.results.read(spark).filter("url = 'torn'").count() == 0
