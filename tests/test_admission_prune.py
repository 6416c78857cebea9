"""Bucket-pruned admission anti-join (r6 optimization, VERDICT r05 #1):
the exact seen-set confirmation's right side opens only the admitted
log's bucket files matching the candidates' url-hash bucket set, and
the pruned engine remains byte-equivalent to the sequential simulator.
"""

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from adscraper_spark.config import CrawlConfig
from adscraper_spark.corpus import pages_rows
from adscraper_spark.engine import CrawlEngine
from adscraper_spark.store import SnapshotTable, core_width


def _urls(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("https://h"), (F.col("id") % 13).cast("string"),
                 F.lit(".test/p/"), F.col("id").cast("string"))
        .alias("url"),
        F.col("id").alias("seq"))


@pytest.mark.parametrize("compacted", [True, False],
                         ids=["full_width", "core_width"])
def test_read_bucket_subset_equals_filtered_full_read(spark, tmp_path,
                                                      compacted):
    """A compacted (full-width) dir prunes to exactly the wanted
    buckets; an appended dir, written at core width ``w`` (a divisor of
    num_buckets), prunes to the files ``{b % w}``, i.e. to whole
    residue classes of buckets."""
    par = spark.sparkContext.defaultParallelism
    n_buckets = 4 * par  # so that an append is narrower than the table
    t = SnapshotTable(str(tmp_path / "t"), bucket_col="url",
                      num_buckets=n_buckets)
    t.append(_urls(spark, 0, 500))
    # second data dir — prune spans appends
    t.append(_urls(spark, 500, 900))
    width = core_width(n_buckets, par)
    assert width < n_buckets
    if compacted:
        t.compact(spark)
        width = n_buckets
    dirs = t.snapshot().files
    for d in dirs:
        with open(os.path.join(d, "_bucket_layout.json")) as f:
            assert json.load(f)["n"] == width
    want = {1, 3, 5}
    files = {b % width for b in want}
    sub = t.read_bucket_subset(spark, want)
    got = sorted(r["url"] for r in sub.collect())
    full = t.read(spark)
    exp = sorted(r["url"] for r in full.filter(
        F.pmod(F.pmod(F.hash("url"), F.lit(n_buckets)), F.lit(width))
        .isin(list(files))).collect())
    assert got == exp and got  # identical rows, non-empty
    # the subset scan opens only the selected files: ≤ |files| per
    # data dir, and strictly fewer files than the full read
    sub_files = sub.inputFiles()
    assert len(sub_files) <= len(files) * len(dirs)
    assert len(sub_files) < len(full.inputFiles())


@pytest.mark.parametrize("change", [
    {"v": None},              # legacy marker: no layout version
    {"v": 1},                 # another layout version
    {"spark": "0.0.1"},       # written by another Spark (hash may differ)
    {"hash": "xxhash64"},
    {"col": "seq"},
])
def test_read_bucket_subset_refuses_unproven_marker(spark, tmp_path,
                                                    change):
    """A dir whose marker does not prove this table's layout is read
    whole — never pruned by a layout it might not have. A width that
    does not divide num_buckets is test_..._refuses_foreign_layout."""
    t = SnapshotTable(str(tmp_path / "t"), bucket_col="url", num_buckets=8)
    t.append(_urls(spark, 0, 300))
    (d,) = t.snapshot().files
    path = os.path.join(d, "_bucket_layout.json")
    with open(path) as f:
        marker = json.load(f)
    assert marker["v"] == 2
    assert marker["n"] == core_width(8, spark.sparkContext.defaultParallelism)
    assert marker["spark"] == spark.version
    marker.update(change)
    if marker["v"] is None:
        del marker["v"], marker["spark"]
    with open(path, "w") as f:
        json.dump(marker, f)
    sub = t.read_bucket_subset(spark, {0})
    assert sorted(r["url"] for r in sub.collect()) == sorted(
        r["url"] for r in t.read(spark).collect())


def test_read_bucket_subset_refuses_foreign_layout(spark, tmp_path):
    """A dir written under a DIFFERENT bucket count must be read whole
    (marker mismatch) — never mis-pruned."""
    t8 = SnapshotTable(str(tmp_path / "t"), bucket_col="url", num_buckets=8)
    df = spark.range(300).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"))
    t8.append(df)
    # same path, different bucket count (a config change mid-history)
    t4 = SnapshotTable(str(tmp_path / "t"), bucket_col="url", num_buckets=4)
    t4.append(df.select(F.concat(F.lit("v"), F.col("url")).alias("url")))
    sub = t4.read_bucket_subset(spark, {0})
    rows = [r["url"] for r in sub.collect()]
    # every row of the foreign (8-bucket) dir is present regardless of
    # its bucket id; the native dir is pruned to bucket 0
    assert {u for u in rows if u.startswith("u")} == {
        f"u{i}" for i in range(300)}
    v_expected = {r["url"] for r in t4.read(spark).filter(
        F.col("url").startswith("v")
        & (F.pmod(F.hash("url"), F.lit(4)) == 0)).collect()}
    assert {u for u in rows if u.startswith("v")} == v_expected


def test_pruned_engine_matches_simulator(spark, corpus, corpus_spec,
                                         seeds, robots_rows):
    """Force pruning from the first wave (min_rows=1): crawl order and
    seen set must stay identical to the sequential oracle. The test
    session has fewer cores than frontier_buckets, so the wave appends
    are narrow dirs and the prune crosses them at their width."""
    from adscraper_spark.simulator import simulate_crawl

    cfg = CrawlConfig(wave_seconds=10, default_budget=3, max_waves=8,
                      max_depth=2, antijoin_prune_min_rows=1)
    pages = {r["url"]: r["html"] for r in pages_rows(corpus_spec)}
    sim = simulate_crawl(pages, seeds, robots_rows, cfg)
    work = tempfile.mkdtemp(prefix="prune_engine_")
    eng = CrawlEngine(spark, corpus["pages"], corpus["robots"], work, cfg)
    assert core_width(cfg.frontier_buckets,
                      spark.sparkContext.defaultParallelism
                      ) < cfg.frontier_buckets
    eng.bootstrap(seeds)
    eng.run()
    assert eng.crawl_order() == sim.order
    assert eng.seen_set() == sim.seen


def test_split_probe_answers_admit_a_url_once(spark, corpus, corpus_spec,
                                              seeds, robots_rows,
                                              monkeypatch):
    """The seen-filter probe runs per candidate row, before the dedup,
    and an intake batch may rewrite the segment at ``wave`` while probe
    tasks run — so rows of one url can get different answers. Here every
    probe after a url's first in a task answers "hit" (a stale-vs-fresh
    segment split, always in the safe false-positive direction): the url
    must still be admitted once, and the crawl must match the oracle."""
    from adscraper_spark import engine as engine_mod
    from adscraper_spark.bloom import BloomStore
    from adscraper_spark.simulator import simulate_crawl

    class SplitProbeStore(BloomStore):
        # defined locally, so it ships to the Python workers by value
        def load_segment(self, partition, wave):
            seg = super().load_segment(partition, wave)
            probed = set()
            exact = seg.might_contain

            def might_contain(url):
                hit = exact(url) or url in probed
                probed.add(url)
                return hit

            seg.might_contain = might_contain
            return seg

    monkeypatch.setattr(engine_mod, "BloomStore", SplitProbeStore)
    cfg = CrawlConfig(wave_seconds=10, default_budget=3, max_waves=3,
                      max_depth=2)
    pages = {r["url"]: r["html"] for r in pages_rows(corpus_spec)}
    sim = simulate_crawl(pages, seeds, robots_rows, cfg)
    work = tempfile.mkdtemp(prefix="split_probe_")
    eng = CrawlEngine(spark, corpus["pages"], corpus["robots"], work, cfg)
    eng.bootstrap(seeds)
    eng.run()
    dup = (eng.admitted.read(spark).groupBy("url").count()
           .filter(F.col("count") > 1).collect())
    assert dup == []
    assert eng.crawl_order() == sim.order
    assert eng.seen_set() == sim.seen


def test_core_width_divides_bucket_count():
    assert core_width(32, 4) == 4
    assert core_width(32, 8) == 8
    assert core_width(32, 64) == 32
    assert core_width(24, 5) == 3
    assert core_width(7, 2) == 7  # odd: cannot halve, stays whole
    for n in (1, 6, 8, 12, 32, 512):
        for par in (1, 2, 3, 4, 7, 8, 32):
            w = core_width(n, par)
            assert n % w == 0 and (w <= par or w % 2 or w == n)
