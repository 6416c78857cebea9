"""SIGKILL crash-consistency: a crawl CLI subprocess is kill -9'd
after a delay, and a fresh engine resuming the torn workdir must
produce a crawl IDENTICAL to the uninterrupted sequential simulator.

Unlike the deterministic fault-injection tests (which cut the engine
at chosen seams), the kill lands wherever the wall clock puts it —
mid-bootstrap, mid-wave, mid-commit, inside an uncommitted checkpoint
window, or during JVM teardown — and varies with machine speed. That
variability is the point: the recovery contract (rollback to the last
committed manifest, replay deterministically) promises simulator
equality from ANY torn state, so the assertion is total and a
divergence is always a real bug, never scheduling flake. A 6-trial
randomized sweep of this shape ran fully green (session log, round 5);
the two pinned trials cover checkpoint_every 1 vs 2 with an early and
a late kill point.
"""

import os
import random
import signal
import subprocess
import sys
import time

import pytest

from adscraper_spark.config import CrawlConfig
from adscraper_spark.corpus import (CorpusSpec, feed_rows, gen_robots_txt,
                                    gen_seeds, pages_rows,
                                    write_corpus_parquet)
from adscraper_spark.engine import CrawlEngine
from adscraper_spark.simulator import simulate_crawl

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("trial_seed", [9201, 9205])
def test_sigkill_resume_equals_simulator(spark, tmp_path_factory,
                                         trial_seed):
    rng = random.Random(trial_seed)
    spec = CorpusSpec(n_pages=300, n_hosts=10, seed=rng.randint(0, 10**6))
    cfg = CrawlConfig(wave_seconds=10, default_budget=3,
                      max_waves=6, max_depth=2,
                      checkpoint_every=rng.choice([1, 2, 3]))
    rng.choice([0, 1])  # former filter-kind draw; keeps later draws pinned
    n_seeds = rng.randint(6, 14)
    seeds = [(i, u) for i, u in enumerate(gen_seeds(spec, n_seeds=n_seeds))]
    robots = [(spec.host_name(h), gen_robots_txt(spec, h))
              for h in range(spec.n_hosts)
              if gen_robots_txt(spec, h) is not None]
    pages_map = {r["url"]: r["html"] for r in pages_rows(spec)}
    pages_map.update({r["url"]: r["html"] for r in feed_rows(spec)})
    sim = simulate_crawl(pages_map, seeds, robots, cfg)
    assert sim.order

    tmp = str(tmp_path_factory.mktemp(f"kill{trial_seed}"))
    paths = write_corpus_parquet(spec, tmp + "/corpus")
    with open(tmp + "/seeds.txt", "w") as f:
        f.write("\n".join(u for _, u in seeds) + "\n")
    kill_after = rng.uniform(4.0, 22.0)
    p = subprocess.Popen(
        [sys.executable, "-m", "adscraper_spark", "crawl",
         "--pages", paths["pages"], "--robots", paths["robots"],
         "--workdir", tmp + "/work", "--crawl-list", tmp + "/seeds.txt",
         "--max-waves", "6", "--max-depth", "2", "--default-budget", "3",
         "--checkpoint-every", str(cfg.checkpoint_every),
         "--cpus", "8", "--pinned-subset"],
        cwd=REPO, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    try:
        t0 = time.time()
        while time.time() - t0 < kill_after and p.poll() is None:
            time.sleep(0.1)
        if p.poll() is None:
            p.send_signal(signal.SIGKILL)
        p.wait()
    finally:
        if p.poll() is None:
            p.kill()

    eng = CrawlEngine(spark, paths["pages"], paths["robots"],
                      tmp + "/work", cfg)
    try:
        eng.run()
    except RuntimeError as e:
        # killed before bootstrap's first durable commit: nothing on
        # disk — the operator's retry path bootstraps fresh
        assert "bootstrap" in str(e), e
        eng.bootstrap(seeds)
        eng.run()
    assert eng.crawl_order() == sim.order
    assert eng.seen_set() == sim.seen


def test_sigkill_during_live_intake_keeps_invariants(spark,
                                                     tmp_path_factory):
    """Compound failure: the crawler is kill -9'd WHILE a live intake
    process streams seed batches against the same workdir (the kill can
    land with the window marker up, so later batches divert to durable
    staging), then a fresh engine resumes. Simulator equality doesn't
    apply (intake timing shifts which wave admits each batch), so the
    assertions are the interleaving-invariants: exactly-once admission
    and fetch, no late seed lost, resume drains everything. Pinned from
    a 4-trial session sweep (all green); the early kill point is the
    adversarial one — the crawl dies mid-first-waves with most intake
    still to land."""
    rng = random.Random(9300)
    spec = CorpusSpec(n_pages=400, n_hosts=12, seed=rng.randint(0, 10**6))
    tmp = str(tmp_path_factory.mktemp("ki"))
    paths = write_corpus_parquet(spec, tmp + "/corpus")
    work = tmp + "/work"
    with open(tmp + "/seeds.txt", "w") as f:
        f.write("\n".join(gen_seeds(spec, n_seeds=6)) + "\n")
    late = [f"https://{spec.host_name(h)}/p/{i}"
            for h in range(4, 12) for i in (0, 1)]
    ck = rng.choice([1, 2, 3])
    p = subprocess.Popen(
        [sys.executable, "-m", "adscraper_spark", "crawl",
         "--pages", paths["pages"], "--robots", paths["robots"],
         "--workdir", work, "--crawl-list", tmp + "/seeds.txt",
         "--max-waves", "10", "--max-depth", "2", "--default-budget", "2",
         "--checkpoint-every", str(ck), "--cpus", "8", "--pinned-subset"],
        cwd=REPO, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    try:
        cfg = CrawlConfig(wave_seconds=10, default_budget=2,
                          max_waves=10, max_depth=2, checkpoint_every=ck)
        eng = CrawlEngine(spark, paths["pages"], paths["robots"],
                          work, cfg)
        deadline = time.time() + 180
        while not os.path.exists(os.path.join(work, "wave-0.json")):
            assert p.poll() is None, "crawler died pre-bootstrap"
            assert time.time() < deadline, "bootstrap timeout"
            time.sleep(0.3)
        kill_at = rng.uniform(2.0, 12.0)
        t0 = time.time()
        sent, killed = 0, False
        for k in range(0, len(late), 4):
            if (not killed and time.time() - t0 >= kill_at
                    and p.poll() is None):
                p.send_signal(signal.SIGKILL)
                killed = True
            eng.admit_seeds([(10_000 + sent + j, u)
                             for j, u in enumerate(late[k:k + 4])])
            sent += 4
            time.sleep(0.8)
        if p.poll() is None:
            p.send_signal(signal.SIGKILL)
        p.wait()
    finally:
        if p.poll() is None:
            p.kill()

    cfg2 = CrawlConfig(wave_seconds=10, default_budget=2, max_waves=40,
                       max_depth=2, checkpoint_every=ck)
    eng2 = CrawlEngine(spark, paths["pages"], paths["robots"],
                       work, cfg2)
    eng2.run()
    adm = eng2.admitted.read(spark)
    res = eng2.results.read(spark)
    proc = eng2.processed.read(spark)
    assert adm.groupBy("url").count().filter("count > 1").count() == 0
    assert (res.groupBy("url", "reload").count()
            .filter("count > 1").count() == 0)
    assert (adm.filter("state_initial = 'pending'")
            .join(proc, "url", "left_anti").count() == 0)
    admitted_urls = {r["url"] for r in adm.select("url").collect()}
    assert not (set(late) - admitted_urls), "late seed lost"
