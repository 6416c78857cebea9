"""Checkpoint/resume fault injection (Z4) + SnapshotTable commit
semantics (SURVEY.md §5.2.3)."""

import pytest

from adscraper_spark.config import CrawlConfig
from adscraper_spark.corpus import CorpusSpec, gen_seeds, write_corpus_parquet
from adscraper_spark.engine import CrawlEngine
from adscraper_spark.store import CommitError, SnapshotTable


@pytest.fixture(scope="module")
def small_setup(tmp_path_factory):
    spec = CorpusSpec(n_pages=120, n_hosts=6, seed=7)
    out = str(tmp_path_factory.mktemp("smallcorpus"))
    paths = write_corpus_parquet(spec, out)
    cfg = CrawlConfig(wave_seconds=10, default_budget=3, max_waves=4,
                      max_depth=2)
    seeds = [(i, u) for i, u in enumerate(gen_seeds(spec, n_seeds=6))]
    return spec, paths, cfg, seeds


def test_resume_equals_uninterrupted(spark, small_setup, tmp_path_factory):
    spec, paths, cfg, seeds = small_setup
    wa = str(tmp_path_factory.mktemp("wa"))
    wb = str(tmp_path_factory.mktemp("wb"))

    a = CrawlEngine(spark, paths["pages"], paths["robots"], wa, cfg)
    a.bootstrap(seeds)
    a.run()

    b = CrawlEngine(spark, paths["pages"], paths["robots"], wb, cfg)
    b.bootstrap(seeds)
    b.run(max_waves=2)  # "crash" after wave 2
    # torn post-crash write (orphan snapshot) that resume must discard
    b.results.append(spark.createDataFrame([("torn", 99)],
                                           "url string, wave int"))
    b2 = CrawlEngine(spark, paths["pages"], paths["robots"], wb, cfg)
    b2.run()

    assert a.crawl_order() == b2.crawl_order()
    assert a.seen_set() == b2.seen_set()
    assert b2.results.read(spark).filter("url = 'torn'").count() == 0


def test_double_bootstrap_rejected(spark, small_setup, tmp_path_factory):
    spec, paths, cfg, seeds = small_setup
    w = str(tmp_path_factory.mktemp("wdb"))
    e = CrawlEngine(spark, paths["pages"], paths["robots"], w, cfg)
    e.bootstrap(seeds)
    with pytest.raises(RuntimeError, match="bootstrapped"):
        e.bootstrap(seeds)


def test_snapshot_table_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    assert t.read(spark) is None
    s1 = t.append(spark.createDataFrame([(1,)], "a int"))
    s2 = t.append(spark.createDataFrame([(2,)], "a int"))
    assert sorted(r["a"] for r in t.read(spark).collect()) == [1, 2]
    assert [r["a"] for r in t.read(spark, s1).collect()] == [1]
    t.reset_to(s1)
    assert [r["a"] for r in t.read(spark).collect()] == [1]
    # after rollback the next commit takes the freed id — no collision
    s2b = t.append(spark.createDataFrame([(3,)], "a int"))
    assert s2b == s2
    assert sorted(r["a"] for r in t.read(spark).collect()) == [1, 3]


def test_snapshot_table_rejects_unknown_reset(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t2"))
    with pytest.raises(CommitError):
        t.reset_to(5)


def test_compaction_preserves_state_and_folds_files(
        spark, small_setup, tmp_path_factory):
    """compact_every must not change crawl order / seen set / results,
    must fold the frontier logs' per-wave append dirs into one, and a
    crash after an unpinned compaction must still resume correctly."""
    import dataclasses

    spec, paths, cfg, seeds = small_setup
    wa = str(tmp_path_factory.mktemp("wnc"))
    wb = str(tmp_path_factory.mktemp("wcc"))

    a = CrawlEngine(spark, paths["pages"], paths["robots"], wa, cfg)
    a.bootstrap(seeds)
    a.run()

    cfg_c = dataclasses.replace(cfg, compact_every=1)
    b = CrawlEngine(spark, paths["pages"], paths["robots"], wb, cfg_c)
    b.bootstrap(seeds)
    b.run()

    assert a.crawl_order() == b.crawl_order()
    assert a.seen_set() == b.seen_set()
    assert (a.results.read(spark).count()
            == b.results.read(spark).count())
    # the compacted log is a single data dir; the uncompacted one grew
    # one dir per bootstrap/wave append
    assert len(b.admitted.snapshot().files) == 1
    assert len(a.admitted.snapshot().files) > 1

    # crash right after a manual (unpinned) compaction → resume must
    # roll back to the manifest-pinned snapshot and still be identical
    b.admitted.compact(spark)
    b.processed.compact(spark)
    b2 = CrawlEngine(spark, paths["pages"], paths["robots"], wb, cfg_c)
    b2.run()  # no waves left; exercises rollback only
    assert a.crawl_order() == b2.crawl_order()
    assert a.seen_set() == b2.seen_set()


def test_concurrent_appends_both_land(spark, tmp_path):
    """Two threads appending to the SAME table must both commit (CAS on
    the manifest + append retry) — the streamed-seed-batch vs wave-loop
    race. Before the exclusive-create CAS one silently overwrote the
    other's manifest."""
    from concurrent.futures import ThreadPoolExecutor

    t = SnapshotTable(str(tmp_path / "race"))
    dfs = [spark.createDataFrame([(i,)], "a int") for i in range(6)]
    with ThreadPoolExecutor(max_workers=6) as pool:
        list(pool.map(t.append, dfs))
    got = sorted(r["a"] for r in t.read(spark).collect())
    assert got == [0, 1, 2, 3, 4, 5]
    assert t.current_snapshot_id() == 6  # six distinct commits


def test_orphan_snapshot_adopted(spark, tmp_path, monkeypatch):
    """A committer that dies between manifest create and HEAD rename
    leaves snap-(N+1).json with HEAD still at N. The next append must
    adopt the orphan (publish it) and land on top — not burn all its
    retries re-failing the exclusive create."""
    import json
    import os

    from adscraper_spark import store as store_mod

    monkeypatch.setattr(store_mod, "ORPHAN_GRACE_SECONDS", 0.05)
    t = SnapshotTable(str(tmp_path / "orphan"))
    t.append(spark.createDataFrame([(1,)], "a int"))
    assert t.current_snapshot_id() == 1
    # simulate the crash: a fully-written snap-2.json, HEAD still 1
    snap2 = os.path.join(t.path, "meta", "snap-2.json")
    with open(snap2, "w") as f:
        json.dump({"files": list(t.snapshot().files), "properties": {}}, f)
    t.append(spark.createDataFrame([(2,)], "a int"))
    # orphan published as snapshot 2, our append as snapshot 3
    assert t.current_snapshot_id() == 3
    got = sorted(r["a"] for r in t.read(spark).collect())
    assert got == [1, 2]  # orphan listed snapshot-1's file, no dup data


def test_write_head_never_regresses(spark, tmp_path):
    """A publisher that stalled between manifest link and HEAD rename,
    got adopted, then resumed, must not move HEAD backward below
    snapshots committed on top of its adopted one."""
    t = SnapshotTable(str(tmp_path / "mono"))
    t.append(spark.createDataFrame([(1,)], "a int"))  # snap 1
    t.append(spark.createDataFrame([(2,)], "a int"))  # snap 2
    t._write_head(1)  # the resumed stale publisher
    assert t.current_snapshot_id() == 2


def test_write_head_self_heals_clobbered_concurrent_publish(
        spark, tmp_path):
    """If a concurrent committer linked snap-(N+1) between our HEAD
    read and rename, our rename would hide it; _write_head advances
    over any complete later manifest (idempotent with that committer's
    own pending HEAD write)."""
    import json
    import os

    t = SnapshotTable(str(tmp_path / "heal"))
    t.append(spark.createDataFrame([(1,)], "a int"))  # snap 1, HEAD 1
    files = list(t.snapshot().files)
    for sid in (2, 3):  # two in-flight committers' complete manifests
        with open(os.path.join(t.path, "meta", f"snap-{sid}.json"),
                  "w") as f:
            json.dump({"files": files, "properties": {}}, f)
    t._write_head(2)
    assert t.current_snapshot_id() == 3


def test_slow_but_alive_writer_not_raced_by_adoption(spark, tmp_path):
    """With an object-store-sized grace period, a fresh unpublished
    manifest is NOT adopted (the writer is presumed alive); with a zero
    grace it is. orphan_grace_seconds is per-table configurable
    (storage profile: 1s local disk, minutes for object stores)."""
    import json
    import os

    patient = SnapshotTable(str(tmp_path / "g"), orphan_grace_seconds=60)
    patient.append(spark.createDataFrame([(1,)], "a int"))
    snap2 = os.path.join(patient.path, "meta", "snap-2.json")
    with open(snap2, "w") as f:
        json.dump({"files": list(patient.snapshot().files),
                   "properties": {}}, f)
    assert patient._maybe_adopt_orphan(1) is False  # inside grace
    assert patient.current_snapshot_id() == 1
    eager = SnapshotTable(str(tmp_path / "g"), orphan_grace_seconds=0.0)
    assert eager._maybe_adopt_orphan(1) is True
    assert eager.current_snapshot_id() == 2


def test_expire_snapshots_drops_unreferenced_keeps_pins(spark, tmp_path):
    """Iceberg expire_snapshots analog: old manifests and data dirs a
    retained snapshot no longer references are deleted; HEAD, explicit
    pins, and fresh (possibly in-flight) data dirs survive."""
    import os

    t = SnapshotTable(str(tmp_path / "exp"))
    for i in range(4):
        t.append(spark.createDataFrame([(i,)], "a int"))
    t.compact(spark)  # snapshot 5: one folded dir, 4 predecessors dead
    n_dirs_before = len(os.listdir(os.path.join(t.path, "data")))
    res = t.expire_snapshots(retain_ids={2}, retain_last=1,
                             min_age_seconds=0.0)
    # snapshots kept: HEAD(5) + pin(2); 1,3,4 expired
    assert res["removed_snapshots"] == [1, 3, 4]
    assert sorted(res["retained"]) == [2, 5]
    # pinned snapshot 2 still time-travels; HEAD still reads fully
    assert sorted(r["a"] for r in t.read(spark).collect()) == [0, 1, 2, 3]
    assert sorted(r["a"] for r in t.read(spark, 2).collect()) == [0, 1]
    # data dirs referenced only by 3/4 are gone (dirs of snap 2 and the
    # compacted dir remain: 2 appends + 1 compaction = 3)
    n_dirs_after = len(os.listdir(os.path.join(t.path, "data")))
    assert n_dirs_before == 5 and n_dirs_after == 3


def test_expire_snapshots_grace_spares_fresh_dirs(spark, tmp_path):
    """A data dir younger than min_age_seconds may belong to an append
    whose CAS has not landed — never deleted."""
    import os

    t = SnapshotTable(str(tmp_path / "gr"))
    t.append(spark.createDataFrame([(1,)], "a int"))
    t.overwrite(spark.createDataFrame([(2,)], "a int"))  # dir 1 dead
    res = t.expire_snapshots(retain_last=1, min_age_seconds=3600)
    assert res["removed_data_dirs"] == 0  # too fresh to touch
    res = t.expire_snapshots(retain_last=1, min_age_seconds=0.0)
    assert res["removed_data_dirs"] == 1


def test_engine_vacuum_preserves_resume(spark, small_setup,
                                        tmp_path_factory):
    """vacuum() mid-crawl must not break crash-rollback or change the
    final state: the last manifest's pins are retained, so a fresh
    engine resumes identically; storage shrinks."""
    import os

    spec, paths, cfg, seeds = small_setup
    import dataclasses

    cfg = dataclasses.replace(cfg, max_waves=4)
    wa = str(tmp_path_factory.mktemp("vac_a"))
    wb = str(tmp_path_factory.mktemp("vac_b"))

    a = CrawlEngine(spark, paths["pages"], paths["robots"], wa, cfg)
    a.bootstrap(seeds)
    a.run()

    b = CrawlEngine(spark, paths["pages"], paths["robots"], wb, cfg)
    b.bootstrap(seeds)
    b.run(max_waves=2)
    before = sum(len(files) for _, _, files in os.walk(wb))
    vac = b.vacuum(retain_last=1, min_age_seconds=0.0)
    after = sum(len(files) for _, _, files in os.walk(wb))
    assert after < before  # storage actually shrank
    assert any(v["removed_snapshots"] for v in vac.values())
    # crash + resume from the vacuumed workdir
    b2 = CrawlEngine(spark, paths["pages"], paths["robots"], wb, cfg)
    b2.run()
    assert a.crawl_order() == b2.crawl_order()
    assert a.seen_set() == b2.seen_set()


def test_store_stress_appends_race_compact_and_vacuum(spark, tmp_path):
    """Torture the commit protocol: 4 appender threads land 24 batches
    while compaction and expiry run concurrently. Every row must land
    exactly once, snapshot ids stay a gapless chain at HEAD, and the
    maintenance ops may lose CAS races but never corrupt state. (The
    vacuum grace keeps in-flight append dirs safe — use the default.)"""
    import itertools
    from concurrent.futures import ThreadPoolExecutor

    t = SnapshotTable(str(tmp_path / "stress"), orphan_grace_seconds=0.2)
    n_threads, per_thread = 4, 6
    ids = itertools.count()

    def appender(_k):
        for _ in range(per_thread):
            i = next(ids)
            t.append(spark.createDataFrame([(i,)], "a int"))

    def maintenance(_k):
        for _ in range(6):
            try:
                t.compact(spark)
            except CommitError:
                pass
            t.expire_snapshots(retain_last=2)  # default 60s age grace

    with ThreadPoolExecutor(max_workers=n_threads + 1) as pool:
        futs = [pool.submit(appender, k) for k in range(n_threads)]
        futs.append(pool.submit(maintenance, 0))
        for f in futs:
            f.result()  # surface exceptions

    got = sorted(r["a"] for r in t.read(spark).collect())
    assert got == list(range(n_threads * per_thread))
    # HEAD is a real readable snapshot and time-travel to it works
    head = t.current_snapshot_id()
    assert head >= n_threads * per_thread  # >= one commit per append
    assert t.read(spark, head).count() == n_threads * per_thread


def test_vacuum_mid_window_keeps_incremental_drain_base(
        spark, small_setup, tmp_path_factory):
    """vacuum during an open checkpoint window must retain the
    in-memory drain base's snapshot: the next mid-window drain reads
    incrementally from it, and only a later commit publishes it as the
    manifest pin. Expiring it would crash read_since."""
    import dataclasses

    spec, paths, cfg, seeds = small_setup
    cfg = dataclasses.replace(cfg, checkpoint_every=4, max_waves=6)
    work = str(tmp_path_factory.mktemp("vacwin"))
    eng = CrawlEngine(spark, paths["pages"], paths["robots"], work, cfg)
    eng.bootstrap(seeds)
    eng.run_wave(1, commit=False)              # window opens
    eng.admit_seeds([(90, spec.page_url(0, 9))])   # staged: snap 1
    eng.run_wave(2, commit=False)              # drains snap 1
    assert eng._last_drained_id == 1
    eng.admit_seeds([(91, spec.page_url(0, 10))])  # staged: snap 2
    eng.admit_seeds([(92, spec.page_url(0, 11))])  # staged: snap 3
    eng.vacuum(retain_last=1, min_age_seconds=0.0)
    # the in-memory drain base survived the expiry...
    assert 1 in eng.late_seeds.snapshots()
    # ...so the next mid-window drain still works incrementally
    stats = eng.run_wave(3, commit=False)
    assert stats.get("late_seeds") == 2
    adm = eng.admitted.read(spark)
    for j in (9, 10, 11):
        assert adm.filter(adm.url == spec.page_url(0, j)).count() == 1


def test_bloom_concurrent_segment_updates_merge(tmp_path):
    """Two updaters racing on the same bloom segment must both land
    (flock around load→add→save): a lost bit turns an already-admitted
    URL into a 'definitely new' prefilter verdict, skipping the exact
    anti-join and double-crawling the URL."""
    from concurrent.futures import ThreadPoolExecutor

    from adscraper_spark.bloom import BloomStore

    store = BloomStore(str(tmp_path / "bloom"), num_partitions=2,
                       expected_keys_per_partition=1000)
    batches = [[f"https://h.test/{b}/{i}" for i in range(200)]
               for b in range(8)]
    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(lambda us: store.update_segment(0, 3, us), batches))
    seg = store.load_segment(0, 3)
    assert all(seg.might_contain(u) for us in batches for u in us)


def test_resume_with_landings_and_refresh(spark, small_setup,
                                          tmp_path_factory):
    """Crash/resume must be exact with ad-landing admission and
    refresh rows on: landing lineage, page_type/reload rows, and the
    crawl_meta completion event all reconstruct identically."""
    spec, paths, _cfg, seeds = small_setup
    cfg = CrawlConfig(wave_seconds=10, default_budget=3, max_waves=4,
                      max_depth=2, admit_ad_landings=True,
                      max_ad_landings_per_page=2, refresh_mains=True)
    wa = str(tmp_path_factory.mktemp("la"))
    wb = str(tmp_path_factory.mktemp("lb"))

    a = CrawlEngine(spark, paths["pages"], paths["robots"], wa, cfg)
    a.bootstrap(seeds)
    a.run()

    b = CrawlEngine(spark, paths["pages"], paths["robots"], wb, cfg)
    b.bootstrap(seeds)
    b.run(max_waves=2)  # "crash" after wave 2
    b2 = CrawlEngine(spark, paths["pages"], paths["robots"], wb, cfg)
    b2.run()

    assert a.crawl_order() == b2.crawl_order()
    assert a.seen_set() == b2.seen_set()
    cols = ["url", "wave", "page_type", "reload", "ad_id"]
    ra = sorted(map(tuple, a.results.read(spark).select(*cols).collect()))
    rb = sorted(map(tuple, b2.results.read(spark).select(*cols).collect()))
    assert ra == rb
    assert any(r[2] == "landing" for r in ra)   # non-vacuous landings
    assert any(r[3] == 1 for r in ra)           # non-vacuous reloads
    ev_a = sorted(r["event"] for r in a.crawl_meta.read(spark).collect())
    ev_b = sorted(r["event"] for r in b2.crawl_meta.read(spark).collect())
    assert ev_a == ev_b and len(ev_a) == 2


def test_checkpoint_every_window_and_crash_replay(spark, small_setup,
                                                  tmp_path_factory):
    """checkpoint_every=3: same crawl as per-wave checkpointing but
    fewer durable manifests; a hard crash inside an uncommitted window
    replays those waves deterministically from the last manifest."""
    import dataclasses
    import os

    spec, paths, cfg, seeds = small_setup
    wa = str(tmp_path_factory.mktemp("ce_a"))
    wb = str(tmp_path_factory.mktemp("ce_b"))
    wc = str(tmp_path_factory.mktemp("ce_c"))

    a = CrawlEngine(spark, paths["pages"], paths["robots"], wa, cfg)
    a.bootstrap(seeds)
    a.run()

    cfg3 = dataclasses.replace(cfg, checkpoint_every=3)
    b = CrawlEngine(spark, paths["pages"], paths["robots"], wb, cfg3)
    b.bootstrap(seeds)
    b.run()
    assert a.crawl_order() == b.crawl_order()
    assert a.seen_set() == b.seen_set()
    assert (a.results.read(spark).count()
            == b.results.read(spark).count())
    manifests_a = [n for n in os.listdir(wa) if n.startswith("wave-")]
    manifests_b = [n for n in os.listdir(wb) if n.startswith("wave-")]
    assert len(manifests_b) < len(manifests_a)
    # metrics survive for windowed waves too
    assert (sorted(r["wave"] for r in a.metrics_df().collect())
            == sorted(r["wave"] for r in b.metrics_df().collect()))

    # hard crash with TWO waves in the open window (only wave-0 durable)
    c = CrawlEngine(spark, paths["pages"], paths["robots"], wc, cfg3)
    c.bootstrap(seeds)
    c.run_wave(1, commit=False)
    c.run_wave(2, commit=False)
    assert c.last_committed_wave() == 0
    c2 = CrawlEngine(spark, paths["pages"], paths["robots"], wc, cfg3)
    c2.run()  # resume: rolls back, replays 1-2, finishes
    assert a.crawl_order() == c2.crawl_order()
    assert a.seen_set() == c2.seen_set()
    ra = sorted(map(tuple, a.results.read(spark)
                    .select("url", "wave", "text").collect()))
    rc = sorted(map(tuple, c2.results.read(spark)
                    .select("url", "wave", "text").collect()))
    assert ra == rc


def test_unbucketed_append_caps_file_count(spark, tmp_path):
    """Wave appends inherit the corpus scan's split count; an
    unbucketed table must coalesce the write to the session's
    parallelism so a 30-partition lineage of a few thousand rows does
    not commit 30 tiny files per wave (store._write_data)."""
    import glob
    import os

    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(2000).toDF("x").repartition(30)
    assert df.rdd.getNumPartitions() == 30
    t.append(df)
    par = spark.sparkContext.defaultParallelism
    files = glob.glob(os.path.join(str(tmp_path / "t"), "data", "*",
                                   "*.parquet"))
    assert 0 < len(files) <= par
    assert t.read(spark).count() == 2000


def test_expire_manifest_remove_failure_fails_open(spark, tmp_path,
                                                   monkeypatch):
    """If removing an expired manifest FAILS (EPERM, transient FS
    error), the snapshot is still present and readable — so its data
    dirs must be treated as live. Falling through without sparing would
    orphan-delete the data of a snapshot whose manifest survived (the
    old code's failure mode)."""
    import os as _os

    from adscraper_spark import store as store_mod

    t = SnapshotTable(str(tmp_path / "ff"))
    for i in range(3):
        t.append(spark.createDataFrame([(i,)], "a int"))

    real_remove = store_mod.os.remove

    def deny_snap1(path, *a, **kw):
        if path.endswith("snap-1.json"):
            raise PermissionError(13, "denied", path)
        return real_remove(path, *a, **kw)

    monkeypatch.setattr(store_mod.os, "remove", deny_snap1)
    res = t.expire_snapshots(retain_last=1, min_age_seconds=0.0)
    assert 1 not in res["removed_snapshots"]
    # the undeletable manifest's snapshot stays fully readable: its
    # data dir must NOT have been swept
    assert sorted(r["a"] for r in t.read(spark, 1).collect()) == [0]
    assert 2 in res["removed_snapshots"]


# -- manifest column stats + file-skipping reads -------------------------

def test_manifest_stats_prune_and_match_full_scan(spark, tmp_path):
    """Iceberg lower/upper-bounds analog: per-dir footer min/max land in
    the manifest and read(where=) skips provably-disjoint dirs while
    returning exactly what a full scan + filter returns."""
    t = SnapshotTable(str(tmp_path / "ts"), stats_cols=["wave", "host"])
    for w, hosts in [(1, ["a.com", "b.com"]), (2, ["c.com"]),
                     (3, ["d.com", "e.com"])]:
        t.append(spark.createDataFrame(
            [(w, h, f"u{w}{h}") for h in hosts],
            "wave int, host string, url string"))
    snap = t.snapshot()
    assert len(snap.files) == 3
    # every dir has exact [w, w] bounds for the literal wave column
    assert sorted(snap.stats[f]["wave"] for f in snap.files) == [
        [1, 1], [2, 2], [3, 3]]
    # pruning: wave==2 touches one dir
    assert len(t._prune_files(snap, "wave", 2, 2)) == 1
    # range pruning: waves 2..3 touch two dirs
    assert len(t._prune_files(snap, "wave", 2, None)) == 2
    # string bounds prune too
    assert len(t._prune_files(snap, "host", "c.com", "c.zzz")) == 1
    # results identical to full scan + filter
    full = {r["url"] for r in t.read(spark).filter("wave >= 2").collect()}
    pruned = {r["url"] for r in t.read(spark,
                                       where=("wave", 2, None)).collect()}
    assert pruned == full
    # disjoint range: no files → None (empty result, no scan at all)
    assert t.read(spark, where=("wave", 9, None)) is None


def test_manifest_stats_survive_merge_replace_compact(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tm"), stats_cols=["wave"])
    t.append(spark.createDataFrame([(1,)], "wave int"))
    t.append(spark.createDataFrame([(2,)], "wave int"))
    snap = t.snapshot()
    assert len(snap.stats) == 2  # append merges parent stats
    # compaction folds dirs and recomputes bounds over the single dir
    t.compact(spark)
    snap = t.snapshot()
    assert len(snap.files) == 1
    assert snap.stats[snap.files[0]]["wave"] == [1, 2]
    # replace drops stale bounds
    t.commit_multi(replace_with=spark.createDataFrame([(7,)], "wave int"))
    snap = t.snapshot()
    assert list(snap.stats.values()) == [{"wave": [7, 7]}]


def test_stats_absent_column_never_prunes(spark, tmp_path):
    """A dir with no bounds for the filter column must be read (unknown
    ⇒ keep), and unsupported bound types disable pruning entirely."""
    t = SnapshotTable(str(tmp_path / "tn"), stats_cols=["wave"])
    t.append(spark.createDataFrame([(1, "x")], "wave int, host string"))
    snap = t.snapshot()
    # host was never a stats col: filter on it keeps everything
    assert t._prune_files(snap, "host", "a", "b") == snap.files
    # unsupported bound type (list) keeps everything
    assert t._prune_files(snap, "wave", [1], None) == snap.files
    # stats-free legacy table (no stats in manifest) keeps everything
    legacy = SnapshotTable(str(tmp_path / "tl"))
    legacy.append(spark.createDataFrame([(5,)], "wave int"))
    lsnap = legacy.snapshot()
    assert lsnap.stats == {}
    assert legacy._prune_files(lsnap, "wave", 9, 9) == lsnap.files


def test_engine_results_table_prunes_by_wave(spark, small_setup,
                                             tmp_path_factory):
    """The engine's per-wave literal `wave` column gives each results
    append exact [w, w] manifest bounds, so a wave-range analysis read
    skips every other wave's data dirs."""
    spec, paths, cfg, seeds = small_setup
    work = str(tmp_path_factory.mktemp("stats_e2e"))
    eng = CrawlEngine(spark, paths["pages"], paths["robots"], work, cfg)
    eng.bootstrap(seeds)
    eng.run()
    snap = eng.results.snapshot()
    waves = sorted(b["wave"][0] for f, b in snap.stats.items()
                   if "wave" in b)
    assert len(waves) >= 2  # multi-wave crawl, one bounded dir per wave
    target = waves[-1]
    pruned = eng.results._prune_files(snap, "wave", target, target)
    assert 0 < len(pruned) < len(snap.files)
    got = {r["url"] for r in eng.results.read(
        spark, where=("wave", target, target)).collect()}
    want = {r["url"] for r in eng.results.read(spark)
            .filter(f"wave = {target}").collect()}
    assert got == want and got


def _jobs_in(spark, group: str, fn):
    """(fn(), ids of the Spark jobs it started) — via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_pinned_read_equals_inferred_read(spark, finished_engine):
    """Every engine table records its read schema at publish; reading
    with it gives the inferred read's rows, column order and types, and
    starts no schema-inference job."""
    eng = finished_engine
    for name, table in eng._tables.items():
        snap = table.snapshot()
        assert snap.schema is not None, name
        pinned, jobs = _jobs_in(spark, f"pinned-{name}",
                                lambda t=table: t.read(spark))
        assert jobs == [], (name, jobs)
        inferred = spark.read.parquet(*snap.files)
        assert pinned.schema == inferred.schema, name
        assert (sorted(map(repr, pinned.collect()))
                == sorted(map(repr, inferred.collect()))), name


def test_manifest_without_schema_reads_by_inference(spark, tmp_path):
    """A manifest written before schemas were recorded (no key) still
    reads — by inference — and later appends keep it unpinned, since
    the older files' schema is unknown."""
    import json
    import os

    t = SnapshotTable(str(tmp_path / "t"), bucket_col="a", num_buckets=4)
    t.append(spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string"))
    sid = t.current_snapshot_id()
    path = os.path.join(str(tmp_path / "t"), "meta", f"snap-{sid}.json")
    with open(path) as f:
        doc = json.load(f)
    assert doc["schema"] == json.loads(
        spark.read.parquet(*doc["files"]).schema.json())
    del doc["schema"]
    with open(path, "w") as f:
        json.dump(doc, f)
    assert t.snapshot().schema is None
    got = t.read(spark)
    assert got.columns == ["a", "b"]
    assert sorted(map(tuple, got.collect())) == [(1, "x"), (2, "y")]
    t.append(spark.createDataFrame([(3, "z")], "a int, b string"))
    assert t.snapshot().schema is None
    assert sorted(r["a"] for r in t.read(spark).collect()) == [1, 2, 3]
    assert [r["a"] for r in t.read_since(spark, sid).collect()] == [3]
    # a full rewrite records the schema again
    t.compact(spark)
    assert t.snapshot().schema is not None
    assert sorted(r["a"] for r in t.read(spark).collect()) == [1, 2, 3]


def test_disagreeing_appends_drop_the_schema_pin(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1,)], "a int"))
    t.append(spark.createDataFrame([(2,)], "a int"))
    assert t.snapshot().schema is not None  # agreeing appends keep it
    t.append(spark.createDataFrame([(3, "z")], "a int, b string"))
    assert t.snapshot().schema is None
    assert sorted(r["a"] for r in t.read(spark).collect()) == [1, 2, 3]
    t.append(spark.createDataFrame([(4,)], "a int"))
    assert t.snapshot().schema is None  # once unknown, stays unknown
    t.overwrite(spark.createDataFrame([(5,)], "a long"))
    assert t.snapshot().schema["fields"][0]["type"] == "long"
    t.commit_multi(appends=[spark.createDataFrame([(6,)], "a int")])
    assert t.snapshot().schema is None
