"""CrawlEngine — the wave-loop crawl orchestrator.

Reference lifecycle being re-expressed (SURVEY.md §3.1/§3.4): the
sequential for-loop over a crawl list with persisted progress
(crawler/src/crawler.ts:295-442) becomes a driver-side loop over
scheduling WAVES; each wave is one declarative Spark plan:

  pending (admitted ⟕̸ processed, append-only logs — no frontier rewrite)
    → per-host windowed top-k under politeness budgets   (scheduler.py)
    → "fetch" = broadcast(wave) ⋈ pages corpus — html
      never shuffles (size-gated, shuffle fallback)       (J7/S6)
    → vectorized extraction UDF on the fetch join's own
      partitioning (no exchange of the html)              (extraction/)
    → link candidates → normalize → same-host filter (F4)
      → robots gate → in-wave dedup → bloom pre-filter    (bloom.py)
      → exact anti-join vs admitted log, bloom hits only  (J5/Z3)
    → one commit: processed+admitted+results+ads+requests appends,
      bloom segments, wave manifest (the atomic commit point, Z4).

Exactly-once admission: a URL row lands in the ``admitted`` log exactly
once because candidate admission anti-joins the log inside the same wave
whose manifest publishes the log append — a crashed wave leaves orphan
snapshots that resume rolls back (``SnapshotTable.reset_to``), so replay
is idempotent (reference analog: last_checkpoint_index resume,
crawler.ts:263-271).

Frontier state is APPEND-ONLY (admitted + processed logs); "pending" is
an anti-join, never an update-in-place — at 10^10-URL scale this avoids
rewriting the frontier every wave. Both logs are WRITTEN hash-bucketed
by url (SnapshotTable bucket_col — the Iceberg bucket(N, url) transform
analog): stable skew-free file layout here, and under real Iceberg the
matching transform makes the per-wave anti-join co-partitioned (plain
parquet reads drop distribution metadata, so local mode still pays the
exchange).
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .bloom import BloomStore, partition_for_host
from .config import DISCOVERED_SEQ_BASE, CrawlConfig  # noqa: F401
from .corpus_layout import bucket_id_col, corpus_layout, prune_buckets
from .extraction.udfs import extract_pages
from .hashing import stable_hash64
from .scheduler import plan_wave
from .store import CommitError, SnapshotTable
from .urlnorm import normalize_url, url_host, url_path


ADMITTED_SCHEMA = (
    "url string, host string, path string, depth int, priority double, "
    "seq long, src_url string, ad_id long, state_initial string, "
    "wave_admitted int"
)
ADMITTED_COLS = [c.split()[0] for c in ADMITTED_SCHEMA.split(", ")]
PROCESSED_SCHEMA = "url string, wave_fetched int, state_final string"


def _norm_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = pd.DataFrame({
            "src_url": pdf["src_url"],
            "src_host": pdf["src_host"],
            "depth": pdf["depth"],
            "link": pdf["link"],
            "url": [normalize_url(u) for u in pdf["link"]],
        })
        out["host"] = [url_host(u) if u else None for u in out["url"]]
        out["path"] = [url_path(u) if u else "/" for u in out["url"]]
        for extra in pdf.columns:  # e.g. cand_ad_id on the landing path
            if extra not in out.columns:
                out[extra] = pdf[extra]
        yield out


_BYTE_SUFFIXES = {"b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
                  "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30,
                  "t": 1 << 40, "tb": 1 << 40, "p": 1 << 50, "pb": 1 << 50}


def _parse_bytes_conf(v: str) -> int:
    """Spark size confs come back as '134217728', '128m' or '128mb'."""
    s = str(v).strip().lower()
    for suf in sorted(_BYTE_SUFFIXES, key=len, reverse=True):
        if s.endswith(suf):
            return int(float(s[: -len(suf)]) * _BYTE_SUFFIXES[suf])
    return int(s)


# Session-conf marker recording that maxPartitionBytes currently holds a
# value written by _tune_scan_splits (not by the operator): such a value
# may be re-tuned freely when a LATER engine in the same session opens a
# different-sized corpus; an operator-set value is only ever lowered.
_TUNED_SPLIT_MARKER = "spark.adscraper.tunedMaxPartitionBytes"
# The operator/default value observed at the FIRST tune of the session —
# the ceiling any later re-tune may restore up to (never beyond).
_BASELINE_SPLIT_MARKER = "spark.adscraper.baselineMaxPartitionBytes"


def fetch_join(pages: DataFrame, sched_cols: DataFrame, n_planned: int,
               broadcast_wave_max: int) -> DataFrame:
    """The per-wave fetch (J7): scheduled urls ⋈ corpus. The corpus
    side carries the html payload, so shuffling it is the most
    expensive exchange in a wave. While the wave is broadcastable,
    broadcast the scheduled urls into a map-side join: corpus html
    streams straight into the extraction UDF with no exchange (S6 miss
    rows are recovered downstream with a tiny anti-join against the
    hit set). Waves past broadcast_wave_max fall back to the shuffle
    join over the url-bucketed frontier layout."""
    if n_planned <= broadcast_wave_max:
        return pages.join(F.broadcast(sched_cols), "url")
    return (sched_cols.join(pages, "url", "left")
            .filter(F.col("html").isNotNull()))


def _robots_disallowed(hosts, paths, robots_txts) -> list[bool]:
    """Arrow-batch disallow gate; the per-host parse is lru-cached so a
    batch with few distinct hosts costs ~one dict lookup per row."""
    from .robots import policy_for
    return [
        t is not None and not policy_for(t).is_allowed(p or "/")
        for t, p in zip(robots_txts, paths)
    ]


def _seed_state_batches(batches: Iterator[pd.DataFrame]
                        ) -> Iterator[pd.DataFrame]:
    """Final seed states: 'invalid' rows pass through; valid rows become
    'disallowed'/'pending' per the joined robots_txt column."""
    for pdf in batches:
        blocked = _robots_disallowed(pdf["host"], pdf["path"],
                                     pdf["robots_txt"])
        out = pdf[ADMITTED_COLS].copy()
        out["state_initial"] = [
            s if s == "invalid" else ("disallowed" if b else "pending")
            for s, b in zip(pdf["state_initial"], blocked)]
        yield out


class CrawlEngine:
    def __init__(self, spark: SparkSession, pages_path: str,
                 robots_path: str | None, workdir: str,
                 config: CrawlConfig | None = None,
                 log=None):
        self.spark = spark
        self.config = config or CrawlConfig()
        # Per-crawl operational log (util/log.ts analog, crawl_log.py):
        # None = no log file, exactly like the reference when
        # setLogDirFromFlags was never called.
        from .crawl_log import NullCrawlLog
        self.log = log if log is not None else NullCrawlLog()
        self.pages_path = pages_path
        # Bucketed-corpus layout marker (corpus_layout.bucketize_corpus):
        # when present, each wave's fetch scan is pruned to the wave's
        # url-bucket set instead of scanning the whole corpus. The
        # relation is created ONCE per engine — the file listing of a
        # many-bucket corpus must not repeat every wave (under real
        # Iceberg the manifests make this a metadata lookup).
        self.pages_layout = corpus_layout(pages_path)
        self._pages_df: DataFrame | None = None
        self._tune_scan_splits()
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        buckets = self.config.frontier_buckets
        self.admitted = SnapshotTable(os.path.join(workdir, "admitted"),
                                      bucket_col="url",
                                      num_buckets=buckets)
        self.processed = SnapshotTable(os.path.join(workdir, "processed"),
                                       bucket_col="url",
                                       num_buckets=buckets)
        # Analysis tables carry manifest min/max bounds (Iceberg
        # manifest-entry lower/upper bounds analog, store.py): every
        # wave appends with a literal `wave`, so each data dir's bound
        # is exactly [w, w] and a wave- or host-range analysis read
        # (`table.read(spark, where=("wave", lo, hi))`) skips every
        # other wave's files without scanning them — at a 10^10-URL
        # crawl with thousands of waves that is the difference between
        # an incremental report and a full-table scan.
        self.results = SnapshotTable(os.path.join(workdir, "results"),
                                     stats_cols=["wave", "host"])
        self.ads = SnapshotTable(os.path.join(workdir, "ads"),
                                 stats_cols=["wave"])
        self.requests = SnapshotTable(os.path.join(workdir, "requests"),
                                      stats_cols=["wave"])
        self.iframes = SnapshotTable(os.path.join(workdir, "iframes"),
                                     stats_cols=["wave"])
        # job/crawl metadata dimension (adscraper.sql:3-27 job+crawl
        # tables): one 'bootstrapped' event row at seed admission, one
        # 'completed' row when the drain loop finishes undisturbed —
        # the J1-shaped results⋈crawl join (README.md:305-307) runs
        # against this
        self.crawl_meta = SnapshotTable(os.path.join(workdir,
                                                     "crawl_meta"))
        self.bloom = BloomStore(os.path.join(workdir, "bloom"),
                                self.config.bloom_partitions)
        # robots: tiny per-host dimension — kept as a DataFrame and
        # broadcast-joined wherever a gate needs it; the driver never
        # collects it (at the 10^10 north rule this table is millions of
        # hosts — a collected policy dict would ride every task closure).
        self.robots_df: DataFrame | None = None
        if robots_path and os.path.exists(robots_path):
            self.robots_df = spark.read.parquet(robots_path)
        self.budgets_df = self._build_budgets_df()
        # stats of waves run since the last durable manifest
        # (checkpoint_every > 1 leaves a window of uncommitted waves)
        self._window_stats: list[tuple[int, dict]] = []
        # Streamed-intake staging during an open checkpoint window:
        # folding into the last manifest there would pin the window's
        # uncommitted table appends (crash-rollback would replay them as
        # duplicates), so mid-window seed batches land in this separate
        # durably-committed table instead and drain into the admitted
        # log at the next wave boundary (anti-join makes the drain
        # idempotent across crash replays). NOT in _tables: it must
        # survive rollback to re-feed the replay.
        self.late_seeds = SnapshotTable(os.path.join(workdir,
                                                     "late_seeds"))
        self._last_drained_id: int | None = None
        # (upto_wave, sum) memo over IMMUTABLE wave manifests for
        # _admitted_total — only manifests strictly older than the last
        # committed wave enter (the newest is fold-mutable)
        self._frontier_cache: tuple[int, int] = (-1, 0)
        # Durable open-window marker: lets a SEPARATE intake process see
        # this process's open window (the in-memory _window_stats can't
        # cross processes) and take the staging path too.
        self._window_marker = os.path.join(workdir, "window-open.marker")
        # Mutex serializing marker transitions against the intake
        # direct-fold (see _marker_mutex).
        self._window_lock = os.path.join(workdir, "window-open.lock")
        self._tables = {
            "admitted": self.admitted, "processed": self.processed,
            "results": self.results, "ads": self.ads,
            "requests": self.requests, "iframes": self.iframes,
            "crawl_meta": self.crawl_meta,
        }

    def _tune_scan_splits(self) -> None:
        """Lower spark.sql.files.maxPartitionBytes so the corpus scan
        yields at least scan_splits_per_core×cores splits (see
        CrawlConfig.scan_splits_per_core): the extraction UDF consumes
        the broadcast fetch-join output WITHOUT an exchange (BENCH.md
        A/B), so scan splits ARE the UDF stage's parallelism. Local
        paths only — on a remote store (scheme://) the walk would be
        slow and the cluster default is already sized by the operator.
        Never raises an OPERATOR-set value, so it is a no-op whenever
        the corpus already out-splits the cores (any production-scale
        corpus); a value this tuner itself wrote earlier in the session
        (marker conf below) may be re-tuned in either direction, so a
        session that crawls a small corpus then a big one does not pin
        the big corpus to the small one's split size."""
        k = self.config.scan_splits_per_core
        if not k or "://" in self.pages_path \
                or not os.path.isdir(self.pages_path):
            # no tune for this corpus — but if a previous engine in the
            # session tuned the conf DOWN for its own (smaller) corpus,
            # that value must not leak here: restore the recorded
            # operator/default baseline before bowing out.
            self._restore_split_baseline()
            return
        total = 0
        for dirpath, _dirs, files in os.walk(self.pages_path):
            for fn in files:
                if fn.endswith(".parquet"):
                    try:
                        total += os.path.getsize(
                            os.path.join(dirpath, fn))
                    except OSError:
                        pass
        par = self.spark.sparkContext.defaultParallelism
        if total < (16 << 20) or not par:
            # tiny corpus: task overhead beats parallelism; leave the
            # operator conf alone (also keeps shared test sessions
            # clean) — after un-pinning any stale tuner value
            self._restore_split_baseline()
            return
        want = max(4 << 20, total // (k * par))
        try:
            cur = _parse_bytes_conf(self.spark.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728"))
        except ValueError:
            # unparseable operator value (future Spark suffix?): the
            # 'never touch an operator-set value' contract beats the
            # tune — do nothing rather than guess it equals the default
            return
        own = self.spark.conf.get(_TUNED_SPLIT_MARKER, None)
        if own is not None and _parse_bytes_conf(own) == cur:
            # cur is a value this tuner wrote earlier in the session —
            # re-tune freely, but never ABOVE the operator/default
            # baseline recorded at first tune (a big corpus after a
            # small one restores at most the original split size)
            base = _parse_bytes_conf(self.spark.conf.get(
                _BASELINE_SPLIT_MARKER, str(cur)))
            want = min(want, base)
        elif want >= cur:
            return  # never raise an operator-set value
        else:
            # first tune this session: remember the operator/default
            # value as the re-tune ceiling
            self.spark.conf.set(_BASELINE_SPLIT_MARKER, str(cur))
        self.spark.conf.set("spark.sql.files.maxPartitionBytes",
                            str(want))
        self.spark.conf.set(_TUNED_SPLIT_MARKER, str(want))

    def _restore_split_baseline(self) -> None:
        """If maxPartitionBytes currently holds a value THIS tuner wrote
        for an earlier corpus, put back the operator/default baseline
        recorded at first tune. No-op when the value is operator-set
        (marker mismatch) or nothing was ever tuned."""
        own = self.spark.conf.get(_TUNED_SPLIT_MARKER, None)
        if own is None:
            return
        try:
            cur = _parse_bytes_conf(self.spark.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728"))
            tuned = _parse_bytes_conf(own)
        except ValueError:
            return
        if tuned != cur:
            return  # operator overwrote it since — theirs wins
        base = self.spark.conf.get(_BASELINE_SPLIT_MARKER, None)
        if base is not None:
            self.spark.conf.set(
                "spark.sql.files.maxPartitionBytes", base)
        self.spark.conf.unset(_TUNED_SPLIT_MARKER)

    # ------------------------------------------------------------------
    # robots dimension (distributed — no driver collect)
    # ------------------------------------------------------------------
    def _build_budgets_df(self) -> DataFrame | None:
        """(host, host_budget) dimension parsed executor-side from the
        robots table (W2 budgets); rides a broadcast join in plan_wave."""
        if self.robots_df is None:
            return None
        wave_seconds = self.config.wave_seconds
        default_budget = self.config.default_budget

        def to_budget(batches: Iterator[pd.DataFrame]
                      ) -> Iterator[pd.DataFrame]:
            from .robots import policy_for
            for pdf in batches:
                yield pd.DataFrame({
                    "host": pdf["host"],
                    "host_budget": [
                        policy_for(t).budget(wave_seconds, default_budget)
                        for t in pdf["robots_txt"]],
                })

        return self.robots_df.mapInPandas(
            to_budget, schema="host string, host_budget int").cache()

    def _with_robots_txt(self, df: DataFrame) -> DataFrame:
        """Attach the per-host robots body via a broadcast join (the
        disallow gate runs inside the consumer's Arrow batch with a
        cached parse — no policy dict in any closure)."""
        if self.robots_df is None:
            return df.withColumn("robots_txt",
                                 F.lit(None).cast("string"))
        return df.join(F.broadcast(self.robots_df), "host", "left")

    # ------------------------------------------------------------------
    # checkpoint manifest = the commit point (Z4)
    # ------------------------------------------------------------------
    def _manifest_path(self, wave: int) -> str:
        return os.path.join(self.workdir, f"wave-{wave}.json")

    def last_committed_wave(self) -> int:
        wave = -1
        for name in os.listdir(self.workdir):
            if name.startswith("wave-") and name.endswith(".json"):
                wave = max(wave, int(name[5:-5]))
        return wave

    def _commit_wave(self, wave: int, stats: dict) -> None:
        """Durable checkpoint. With checkpoint_every > 1 some waves run
        WITHOUT a manifest (cheaper durability at scale); their stats
        ride in this manifest's ``window`` so metrics/frontier counts
        survive, and a crash inside the window replays those waves
        deterministically from the previous manifest (rollback discards
        their unpinned table appends first)."""
        window = {str(w): s for w, s in self._window_stats}
        window[str(wave)] = stats
        manifest = {
            "wave": wave,
            "snapshots": {k: t.current_snapshot_id()
                          for k, t in self._tables.items()},
            "stats": stats,
            "window": window,
            # staged streamed-intake batches folded into the admitted
            # log as of this manifest (late-seed drain pin)
            "late_seeds_drained": (
                self._last_drained_id if self._last_drained_id is not None
                else self._late_drained_pin()),
        }
        self._write_manifest_durably(self._manifest_path(wave), manifest)
        self._window_stats = []
        try:
            os.remove(self._window_marker)  # window closed durably
        except FileNotFoundError:
            pass

    @staticmethod
    def _write_manifest_durably(path: str, manifest: dict) -> None:
        """fsync-then-rename-then-dir-fsync: the wave manifest is THE
        durable commit point — a power loss must leave the old manifest
        or the new one, never a torn/empty file (the rename alone can
        be journaled ahead of the data)."""
        from .store import _fsync_dir
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, path)
        _fsync_dir(os.path.dirname(path))

    @staticmethod
    def _stats_frontier_rows(s: dict) -> int:
        return (s.get("seeds", 0) + s.get("admitted", 0)
                + s.get("late_seeds", 0))

    def _wave_stats_iter(self):
        """(wave, stats) for every wave, committed (manifest windows)
        and uncommitted (in-memory) — metadata only, no table scan."""
        for w in range(self.last_committed_wave() + 1):
            try:
                with open(self._manifest_path(w)) as f:
                    m = json.load(f)
            except FileNotFoundError:
                continue  # wave covered by a later manifest's window
            window = m.get("window") or {str(m["wave"]): m.get("stats", {})}
            for ws, s in sorted(window.items(), key=lambda kv: int(kv[0])):
                yield int(ws), s
        yield from self._window_stats

    def _admitted_total(self) -> int:
        """Frontier size (every row ever admitted, incl. invalid seeds)
        summed from the wave stats. Memoized over the immutable prefix:
        manifests OLDER than the last committed wave never change (only
        the newest manifest is fold-mutated by intake processes), so
        each is parsed once per engine — without this the per-wave
        max_urls check re-reads every manifest every wave, O(waves²)
        driver JSON I/O on a long crawl."""
        last = self.last_committed_wave()
        upto, frozen = self._frontier_cache
        for w in range(upto + 1, last):
            try:
                with open(self._manifest_path(w)) as f:
                    m = json.load(f)
            except FileNotFoundError:
                continue  # wave covered by a later manifest's window
            win = m.get("window") or {str(m["wave"]): m.get("stats", {})}
            frozen += sum(self._stats_frontier_rows(s)
                          for s in win.values())
        if last - 1 > upto:
            self._frontier_cache = (last - 1, frozen)
        # live tail: the newest manifest (mutable via the intake fold)
        # + this process's uncommitted in-memory window
        tail = 0
        if last >= 0:
            try:
                with open(self._manifest_path(last)) as f:
                    m = json.load(f)
                win = (m.get("window")
                       or {str(m["wave"]): m.get("stats", {})})
                tail += sum(self._stats_frontier_rows(s)
                            for s in win.values())
            except FileNotFoundError:
                pass
        tail += sum(self._stats_frontier_rows(s)
                    for _w, s in self._window_stats)
        return frozen + tail

    @contextlib.contextmanager
    def _marker_mutex(self):
        """flock serializing window-open marker transitions against the
        intake direct-fold across PROCESSES. The marker alone has a
        TOCTOU hole: an intake process checks it, runs multi-second
        Spark gating jobs, then appends+folds — if a wave opened its
        window inside that gap, the fold would pin the wave's
        uncommitted admitted append into the previous manifest (crash
        rollback then replays it as duplicates). Holding this lock
        across {marker write} on the wave side and {re-check → append →
        fold} on the intake side closes the gap. On a real cluster this
        single-node lock is replaced by the Iceberg catalog's atomic
        swap / a coordination service — every call site goes through
        this helper so the swap is mechanical."""
        fd = os.open(self._window_lock, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _rollback_to_last_commit(self) -> int:
        self._window_stats = []
        self._last_drained_id = None
        # Hold the window-open marker for the WHOLE rollback: if it
        # vanished before the reset_to calls, a concurrent intake
        # process would see no marker, direct-fold an admission
        # (reporting it durably admitted), and the reset would wipe its
        # append — silent seed loss. With the marker up, intake stages
        # to late_seeds, which rollback never resets.
        with self._marker_mutex():
            if not os.path.exists(self._window_marker):
                with open(self._window_marker, "w") as f:
                    f.write("rollback")
        try:
            wave = self.last_committed_wave()
            if wave < 0:
                for t in self._tables.values():
                    t.reset_to(0)
                return -1
            with open(self._manifest_path(wave)) as f:
                manifest = json.load(f)
            for name, table in self._tables.items():
                table.reset_to(manifest["snapshots"].get(name, 0))
            return wave
        finally:
            try:  # window (or stale crash marker) closed by the reset
                os.remove(self._window_marker)
            except FileNotFoundError:
                pass

    # ------------------------------------------------------------------
    # bootstrap (wave 0 admission = the crawl list, S1/F1/F2)
    # ------------------------------------------------------------------
    def _seed_rows(self, seeds, wave_admitted: int) -> list[tuple]:
        """Validate/normalize/dedup a seed batch → admitted-log rows with
        a provisional state ('invalid' or 'pending'; the robots gate is
        applied distributedly afterwards). First occurrence wins
        (reference Set semantics; crawler.ts:191-200)."""
        rows = []
        seen: set[str] = set()
        for item in seeds:
            seq, raw = item[0], item[1]
            ad_id = item[2] if len(item) > 2 else None
            norm = normalize_url(raw)
            if norm is None:
                if raw not in seen:
                    seen.add(raw)
                    rows.append((raw, None, None, 0, 0.0, int(seq), None,
                                 ad_id, "invalid", wave_admitted))
                continue
            if norm in seen:
                continue
            seen.add(norm)
            rows.append((norm, url_host(norm), url_path(norm), 0, 0.0,
                         int(seq), None, ad_id, "pending", wave_admitted))
        return rows

    def _gated_seed_df(self, rows: list[tuple]) -> DataFrame:
        """Seed rows → admitted-log DataFrame with the robots disallow
        gate applied via broadcast join + Arrow batch (no policy dict on
        the driver)."""
        df = self.spark.createDataFrame(rows, ADMITTED_SCHEMA)
        return (self._with_robots_txt(df)
                .mapInPandas(_seed_state_batches, schema=ADMITTED_SCHEMA)
                .select(*ADMITTED_COLS))

    def bootstrap(self, seeds: list[tuple[int, str]] |
                  list[tuple[int, str, int | None]]) -> int:
        """Admit the seed list. seeds = [(seq, url)] or [(seq, url, ad_id)]
        preserving reference list order (crawler.ts:295). Returns the
        number of admitted rows."""
        if self.last_committed_wave() >= 0:
            raise RuntimeError(
                "crawl already bootstrapped — resume with run(), or use a "
                "fresh workdir (reference analog: crawl-name reuse check, "
                "crawler.ts:229-283)")
        # Same uncommitted-append window as run_wave: the seed append +
        # bloom + event rows land before the wave-0 manifest, so a
        # concurrent intake process must stage (not direct-fold) for
        # the duration. _commit_wave(0, ...) retracts the marker.
        with self._marker_mutex():
            if not os.path.exists(self._window_marker):
                with open(self._window_marker, "w") as f:
                    f.write("bootstrap")
        # Crash-replay idempotence: a previous bootstrap that died
        # between its append and _commit_wave(0) left orphan table
        # snapshots with NO manifest pinning them (last wave is still
        # -1, so the already-bootstrapped guard passed). Appending on
        # top would double-admit every seed durably — reset all tables
        # to empty first (the wave<0 rollback semantics, done inline so
        # the marker written above stays up; late_seeds is spared, its
        # staged batches drain through the anti-join later). Extra
        # seen-filter keys from the crashed attempt are safe false
        # positives.
        for t in self._tables.values():
            if t.current_snapshot_id() != 0:
                t.reset_to(0)
        uniq = self._seed_rows(seeds, wave_admitted=0)
        df = self._gated_seed_df(uniq).cache()
        n = df.count()
        self.admitted.append(df)
        self._update_bloom_distributed(df, 0)
        df.unpersist()
        self._append_crawl_event("bootstrapped", wave=0, n_seeds=n)
        self._commit_wave(0, {"seeds": n})
        self.log.info(f"Bootstrapped crawl ({self.config.name}): "
                      f"{n} seeds admitted")
        return n

    def _append_crawl_event(self, event: str, wave: int,
                            n_seeds: int = 0) -> None:
        import datetime as _dt
        import json as _json
        from dataclasses import asdict

        cfg = asdict(self.config)
        row = (self.config.name, event, wave, n_seeds,
               _json.dumps(cfg, sort_keys=True, default=str),
               _dt.datetime.now(_dt.timezone.utc))
        self.crawl_meta.append(self.spark.createDataFrame(
            [row], "crawl_name string, event string, wave int, "
                   "n_seeds long, config_json string, "
                   "event_ts timestamp"))

    def admit_seeds(self, seeds) -> int:
        """Incrementally admit a seed batch into a live crawl (streaming
        intake path). Idempotent: already-admitted URLs are dropped by an
        anti-join against the admitted log, so replayed batches are
        no-ops. Returns the number of newly admitted rows."""
        if self.last_committed_wave() < 0:
            return self.bootstrap(seeds)
        wave = self.last_committed_wave() + 1
        rows = self._seed_rows(seeds, wave_admitted=wave)
        if not rows:
            return 0
        return self._append_admissions(
            self.spark.createDataFrame(rows, ADMITTED_SCHEMA), wave)

    def admit_seeds_df(self, seeds_df: DataFrame) -> int:
        """Distributed admit_seeds for streamed batches: the batch never
        reaches the driver (a real seed FEED at frontier scale would OOM
        a collect); normalize/validate in Arrow batches, first-occurrence
        dedup by seq, then the same anti-join + robots-gate commit.
        ``seeds_df`` columns: (seq long, url string, ad_id long)."""
        if self.last_committed_wave() < 0:
            # bootstrap keeps strict list order — job-spec sized by
            # definition (crawler.ts:146-156 reads it into memory too)
            rows = [(r["seq"], r["url"], r["ad_id"])
                    for r in seeds_df.collect()]
            return self.bootstrap(rows)
        wave = self.last_committed_wave() + 1

        def norm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                urls, hosts, paths, states = [], [], [], []
                for u in pdf["url"]:
                    n = normalize_url(u)
                    if n is None:
                        urls.append(u)
                        hosts.append(None)
                        paths.append(None)
                        states.append("invalid")
                    else:
                        urls.append(n)
                        hosts.append(url_host(n))
                        paths.append(url_path(n))
                        states.append("pending")
                yield pd.DataFrame({
                    "url": urls, "host": hosts, "path": paths,
                    "depth": 0, "priority": 0.0, "seq": pdf["seq"],
                    "src_url": pd.Series([None] * len(pdf),
                                         dtype="object"),
                    "ad_id": pdf["ad_id"],
                    "state_initial": states, "wave_admitted": wave,
                })

        df = seeds_df.mapInPandas(norm, schema=ADMITTED_SCHEMA)
        return self._append_admissions(self._first_occurrence(df), wave)

    def _append_admissions(self, df: DataFrame, wave: int) -> int:
        """Shared admit tail: anti-join the admitted log, robots gate,
        snapshot append + distributed bloom update + manifest fold.
        With an open checkpoint window (this process's in-memory state
        OR another process's durable marker), the batch is STAGED
        instead — folding into the last manifest would pin the window's
        uncommitted table appends and crash-rollback would replay them
        as duplicates."""
        if self._window_stats or os.path.exists(self._window_marker):
            return self._stage_late_seeds(df)
        # Pin the admitted-log version the gate runs against: if ANOTHER
        # intake process appends between our gate and our fold, the
        # cached anti-join is stale (it never saw the other's URLs) and
        # appending it could admit the same URL twice. The id is
        # re-checked under the mutex below.
        gate_base = self.admitted.current_snapshot_id()
        gated = self._gated_admissions(df).cache()
        n_new = gated.count()
        if not n_new:
            gated.unpersist()
            return 0
        # Seen-filter update BEFORE the durable manifest fold: a crash
        # between the two must err as a filter false POSITIVE (extra key
        # → extra exact-anti-join work), never a false negative (the
        # fold below makes the admitted rows durable immediately, and a
        # row durably admitted but absent from the filter would probe
        # 'fresh', skip the anti-join, and be crawled twice). If the
        # fold diverts to staging instead, these keys describe
        # staged-not-yet-admitted URLs — also the safe direction, and
        # the drain's own filter update is an idempotent re-insert.
        self._update_bloom_distributed(gated, wave)
        diverted = False
        with self._marker_mutex():
            # Re-check under the lock: the gating jobs above ran for
            # seconds, and a wave may have opened its window meanwhile
            # — folding now would pin that wave's uncommitted admitted
            # append (replayed as duplicates after a crash rollback).
            # The wave's own marker write takes this same mutex, so
            # inside the block the marker state is authoritative.
            # The admitted-id check closes the intake-vs-intake race:
            # a concurrent intake that appended after our gate ran
            # makes our cached anti-join stale — divert to staging,
            # whose drain re-gates against the then-current log (an
            # O(1) HEAD read under the lock, no Spark work).
            if (self._window_stats or os.path.exists(self._window_marker)
                    or self.admitted.current_snapshot_id() != gate_base):
                diverted = True
            else:
                sid = self.admitted.append(gated)
                # Fold ONLY the admitted-log advance into the latest
                # manifest, pinning the snapshot id THIS append
                # returned — re-reading HEAD could capture a later
                # concurrent append that is not manifest-covered.
                # max(): a concurrent intake's fold must never regress
                # (appends are cumulative, so a later sid includes an
                # earlier one's files).
                last = self.last_committed_wave()
                with open(self._manifest_path(last)) as f:
                    manifest = json.load(f)
                manifest["snapshots"]["admitted"] = max(
                    manifest["snapshots"].get("admitted", 0), sid)
                stats = manifest.get("stats", {})
                stats["late_seeds"] = stats.get("late_seeds", 0) + n_new
                manifest["stats"] = stats
                manifest.setdefault("window",
                                    {})[str(manifest["wave"])] = stats
                self._write_manifest_durably(
                    self._manifest_path(last), manifest)
        if diverted:
            gated.unpersist()
            # stage the PRE-gate batch: the drain re-applies the same
            # gate (Spark work outside the lock — a wave's marker write
            # must not wait on a staging write)
            return self._stage_late_seeds(df)
        gated.unpersist()
        return n_new

    # ------------------------------------------------------------------
    # shared admission semantics (ONE definition — the direct-fold,
    # staging-drain, and streamed paths must never diverge)
    # ------------------------------------------------------------------
    @staticmethod
    def _first_occurrence(df: DataFrame) -> DataFrame:
        """First occurrence wins per url = min-seq row (reference Set
        semantics, crawler.ts:191-200)."""
        rest = [c for c in ADMITTED_COLS if c != "url"]
        return (df.groupBy("url")
                .agg(F.min(F.struct("seq", *[c for c in rest
                                             if c != "seq"])).alias("m"))
                .select("url", *[F.col(f"m.{c}").alias(c) for c in rest]))

    def _gated_admissions(self, df: DataFrame) -> DataFrame:
        """The admit gate: anti-join the admitted log, then the
        distributed robots state pass. Caller caches/counts/appends."""
        existing = self.admitted.read(self.spark)
        if existing is not None:
            df = df.join(existing.select("url"), "url", "left_anti")
        return (self._with_robots_txt(df)
                .mapInPandas(_seed_state_batches, schema=ADMITTED_SCHEMA)
                .select(*ADMITTED_COLS))

    # ------------------------------------------------------------------
    # mid-window streamed intake: stage durably, drain at wave boundary
    # ------------------------------------------------------------------
    def _stage_late_seeds(self, df: DataFrame) -> int:
        """Durably park a mid-window seed batch (its own snapshot
        commit — the caller's durability guarantee) without touching
        the admitted log or any wave manifest. The anti-join here is
        only for an honest 'newly admitted' return count and a smaller
        staging write; the drain anti-joins again, so double-staging a
        URL is harmless."""
        existing = self.admitted.read(self.spark)
        if existing is not None:
            df = df.join(existing.select("url"), "url", "left_anti")
        df = df.cache()
        n = int(df.count())
        if n:
            self.late_seeds.append(df)
        df.unpersist()
        return n

    def _late_drained_pin(self) -> int:
        """late_seeds snapshot id the last durable manifest certifies as
        folded into the admitted log."""
        last = self.last_committed_wave()
        if last < 0:
            return 0
        with open(self._manifest_path(last)) as f:
            return json.load(f).get("late_seeds_drained", 0)

    def _drain_late_seeds(self, wave: int) -> int:
        """Fold staged mid-window batches into the admitted log at a
        wave boundary. Idempotent across crash replays: rows are read
        incrementally past the manifest-pinned drain point and
        anti-joined against the (rolled-back) admitted log, so a replay
        re-admits exactly the rows the crash un-did."""
        cur = self.late_seeds.current_snapshot_id()
        # incremental base: the manifest pin, advanced past batches this
        # process already drained inside the open window (an earlier
        # wave drained them but no manifest has pinned that yet —
        # re-reading them would cost a full redundant admit pass per
        # wave; crash-safe because rollback resets _last_drained_id)
        base = max(self._late_drained_pin(), self._last_drained_id or 0)
        if cur <= base:
            return 0
        staged = self.late_seeds.read_since(self.spark, base)
        if staged is None:
            self._last_drained_id = cur
            return 0
        staged = self._gated_admissions(
            self._first_occurrence(staged)).cache()
        n = int(staged.count())
        if n:
            self.admitted.append(staged)
            self._update_bloom_distributed(staged, wave)
        staged.unpersist()
        self._last_drained_id = cur
        return n

    # ------------------------------------------------------------------
    def vacuum(self, retain_last: int | None = None,
               min_age_seconds: float | None = None) -> dict:
        """Table maintenance (Iceberg expire_snapshots +
        remove_orphan_files analog): every wave appends a snapshot per
        table and every compaction/rollback strands predecessors —
        unbounded storage growth on a long crawl. Expire everything not
        needed for correctness: HEAD, the last durable wave manifest's
        pinned snapshot per table (the only rollback target —
        _rollback_to_last_commit never reaches further back), the
        late-seed drain pin (read_since diffs against its manifest),
        anything ahead of HEAD (in-flight publishes), and the
        ``retain_last`` most recent as slack.

        Defaults defer to the store's configured retention
        (``ADSCRAPER_SPARK_VACUUM_MIN_AGE`` / ``_RETAIN_LAST`` env or
        per-table parameters) so an operator who raised the grace for
        an object store is honored on the engine's own vacuum path too;
        the engine only floors retain_last at 2 (one extra snapshot of
        slack beyond the store default's 1)."""
        from .store import VACUUM_RETAIN_LAST
        if retain_last is None:
            retain_last = max(2, VACUUM_RETAIN_LAST)
        pins: dict[str, int] = {}
        last = self.last_committed_wave()
        if last >= 0:
            with open(self._manifest_path(last)) as f:
                pins = json.load(f).get("snapshots", {})
        out = {}
        for name, table in self._tables.items():
            out[name] = table.expire_snapshots(
                retain_ids={pins.get(name, 0)}, retain_last=retain_last,
                min_age_seconds=min_age_seconds)
        # retain BOTH drain bases: the manifest pin (crash-replay reads
        # from it) and this process's in-memory advance (the next
        # mid-window drain reads incrementally from it — expiring its
        # manifest would crash read_since before the next commit
        # publishes it as the pin)
        out["late_seeds"] = self.late_seeds.expire_snapshots(
            retain_ids={self._late_drained_pin(),
                        self._last_drained_id or 0},
            retain_last=retain_last, min_age_seconds=min_age_seconds)
        return out

    # ------------------------------------------------------------------
    def _admitted_urls_for(self, cand_urls: DataFrame) -> DataFrame | None:
        """Right side of the exact-admission anti-join (J5/Z3).

        Below ``antijoin_prune_min_rows`` (manifest row count — no
        scan): the plain full read, as before. Above it: compute the
        candidates' url-hash bucket set (≤ frontier_buckets ints, one
        tiny agg over the already-cached candidate split — the same
        trick the fetch scan uses for the pages corpus) and open only
        the admitted log's matching bucket files
        (store.read_bucket_subset) — the per-wave admission read
        becomes ∝ the candidate bucket spread instead of ∝ the full
        frontier history, the one remaining per-wave full-table scan
        VERDICT r05 flagged. The >60%-coverage guard falls through to
        the full read exactly like the corpus prune (engine fetch
        path): an IN-set that keeps most files costs planning time for
        no scan reduction. Returns None when the candidates' buckets
        provably hold no admitted rows."""
        cfg = self.config
        if (cfg.antijoin_prune_min_rows
                and self._admitted_total() >= cfg.antijoin_prune_min_rows):
            n = cfg.frontier_buckets
            ids = [r["b"] for r in cand_urls
                   .select(F.pmod(F.hash("url"), F.lit(n)).alias("b"))
                   .distinct().collect()]
            if len(ids) <= 0.6 * n:
                sub = self.admitted.read_bucket_subset(self.spark, ids)
                return None if sub is None else sub.select("url")
        return self.admitted.read(self.spark).select("url")

    # ------------------------------------------------------------------
    def pending_df(self) -> DataFrame:
        """Pending = admitted-pending minus exhausted URLs. A URL is
        exhausted once fetched, or after max_retries error attempts
        (Z5; reference analog: k8s backoffLimitPerIndex)."""
        admitted = self.admitted.read(self.spark)
        if admitted is None:
            raise RuntimeError("bootstrap first")
        pending = admitted.filter(F.col("state_initial") == "pending")
        processed = self.processed.read(self.spark)
        if processed is not None:
            exhausted = (
                processed.groupBy("url")
                .agg(F.max(F.col("state_final") == "fetched").alias("done"),
                     F.count("*").alias("attempts"))
                .filter(F.col("done")
                        | (F.col("attempts") >= self.config.max_retries))
                .select("url"))
            pending = pending.join(exhausted, "url", "left_anti")
        return pending

    # ------------------------------------------------------------------
    def _segment_map(self, rows: DataFrame, wave: int) -> None:
        """Key (url, host) rows by bloom partition, then add each
        partition's URLs to its segment in its own executor task. No URL
        list ever reaches the driver (the 10^10-scale requirement,
        SURVEY §7.3). The name is kept apart from
        ``_update_bloom_distributed``: perfbench/tracing.py attributes
        ``bloom.update_segment_s`` to the jobs started under it."""
        bloom_root = self.bloom.root
        nparts = self.config.bloom_partitions

        def apply(pdf: pd.DataFrame) -> pd.DataFrame:
            p = int(pdf["bpart"].iloc[0])
            BloomStore(bloom_root, nparts).update_segment(
                p, wave, pdf["url"].tolist())
            return pd.DataFrame({"bpart": [p], "n": [len(pdf)]})

        keyed = rows.select("url", "host").mapInPandas(
            lambda it: (pd.DataFrame({
                "url": pdf["url"],
                "bpart": [partition_for_host(h or "", nparts)
                          for h in pdf["host"]]}) for pdf in it),
            schema="url string, bpart int")
        keyed.groupBy("bpart").applyInPandas(
            apply, schema="bpart int, n long").collect()  # 1 row/part

    def _update_bloom_distributed(self, admissions: DataFrame,
                                  wave: int) -> None:
        """Per-partition segment update on executors: each group task
        loads its segment, adds its URLs, writes the next wave's file."""
        self._segment_map(admissions, wave)

    def _bloom_prefilter(self, cand: DataFrame, wave: int) -> DataFrame:
        """Split candidates into definitely-new (bloom miss → admit without
        the expensive anti-join) vs maybe-seen (bloom hit → exact
        anti-join). Correctness does not depend on the bloom (SURVEY §4.2).
        """
        bloom_root = self.bloom.root
        nparts = self.config.bloom_partitions

        def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            store = BloomStore(bloom_root, nparts)
            cache: dict[int, object] = {}
            for pdf in batches:
                hits = []
                for host, url in zip(pdf["host"], pdf["url"]):
                    p = partition_for_host(host or "", nparts)
                    seg = cache.get(p)
                    if seg is None:
                        seg = store.load_segment(p, wave)
                        cache[p] = seg
                    hits.append(seg.might_contain(url))
                out = pdf.copy()
                out["maybe_seen"] = hits
                yield out

        schema = T.StructType(cand.schema.fields + [
            T.StructField("maybe_seen", T.BooleanType())])
        return cand.mapInPandas(probe, schema=schema)

    # ------------------------------------------------------------------
    def run_wave(self, wave: int, commit: bool = True) -> dict:
        import time as _time

        cfg = self.config
        spark = self.spark

        if not os.path.exists(self._window_marker):
            # Publish the open window BEFORE any table append — for
            # EVERY wave, not just checkpoint-window (commit=False)
            # ones: a commit=True wave also spends multi-second phases
            # appending tables before its manifest lands, and a
            # separate intake process must see the marker from this
            # wave's very first uncommitted write, or its direct-fold
            # would pin this wave's half-committed admissions into the
            # previous manifest (the hazard the staging path exists to
            # prevent). _commit_wave retracts it at the durable commit.
            # Under the mutex so an in-flight direct-fold (which
            # re-checks the marker under the same lock) either
            # completes before the window opens or diverts to staging.
            with self._marker_mutex():
                with open(self._window_marker, "w") as f:
                    f.write(str(wave))

        # fold any staged mid-window seed batches into the frontier at
        # this wave boundary (no-op when nothing staged)
        n_late = self._drain_late_seeds(wave)

        pending = self.pending_df()
        planned = plan_wave(
            pending.select("url", "host", "path", "depth", "priority",
                           "seq", "src_url", "ad_id"),
            self.budgets_df if self.budgets_df is not None else {},
            cfg.default_budget, cfg.salt_fanout)
        planned = planned.cache()
        # one job: wave size + approx distinct hosts (lineage metric,
        # SURVEY §2.4 — sketch, not exact, so no extra shuffle width)
        # + (bucketed corpus) the wave's url-bucket set for scan pruning
        # — ≤ num_buckets ints, it rides the same agg instead of its own
        # job.
        # Z2 over-budget predicate (evaluated inside the same planning
        # agg below so the timeout count costs no extra job — it feeds
        # the honest error split: errors = planned - timeouts - fetched)
        over = None
        if cfg.site_budget_seconds is not None:
            over = (F.col("host_rank")
                    * (F.lit(cfg.wave_seconds) / F.col("host_budget"))
                    > F.lit(cfg.site_budget_seconds))
        aggs = [F.count("*").alias("n"),
                F.approx_count_distinct("host").alias("hosts")]
        if over is not None:
            aggs.append(F.sum(F.when(over, 1).otherwise(0))
                        .cast("long").alias("n_timeout"))
        if self.pages_layout is not None:
            aggs.append(F.collect_set(
                bucket_id_col(self.pages_layout["num_buckets"]))
                .alias("wave_buckets"))
        prow = planned.agg(*aggs).collect()[0]
        n_planned, n_hosts = prow["n"], prow["hosts"]
        n_timeout = int(prow["n_timeout"] or 0) if over is not None else 0
        if n_planned == 0:
            planned.unpersist()
            if n_late:
                # The drain advanced the admitted log — pin it durably
                # even though no wave work follows, or the unpinned
                # append rolls back on every later run() and the batch
                # re-drains forever (its stats never landing in any
                # manifest, drifting the max_urls accounting).
                stats = {"planned": 0, "late_seeds": n_late}
                self._commit_wave(wave, stats)
                return stats
            if not self._window_stats:
                # nothing uncommitted happened this wave — retract the
                # marker written at wave start so intake processes
                # return to the direct-fold path
                try:
                    os.remove(self._window_marker)
                except FileNotFoundError:
                    pass
            return {"planned": 0}

        # Corpus scan for this wave: pruned to the wave's bucket dirs
        # when the corpus is bucketed (scan ∝ wave spread, not corpus
        # size — the property that holds at a 10^10-URL frontier).
        if self._pages_df is None:
            self._pages_df = spark.read.parquet(self.pages_path)
        pages = self._pages_df
        if self.pages_layout is not None:
            wave_buckets = prow["wave_buckets"]
            # Prune only when it prunes: a frontier-sized wave touches
            # nearly every bucket, and an IN-filter over thousands of
            # ids that keeps >60% of the files costs planning time for
            # no scan reduction — fall through to the plain scan there.
            if (len(wave_buckets)
                    <= 0.6 * self.pages_layout["num_buckets"]):
                pages = prune_buckets(pages, wave_buckets)
        pages = pages.select("url", "html", "warc_ts", "lang")

        # ---- Z2 site time budget (crawler.ts:80-97 Promise.race): each
        # fetch on a host costs wave_seconds/host_budget of virtual time;
        # rows whose cumulative cost exceeds the budget this wave are
        # recorded as 'timeout' (consuming a retry attempt), not fetched.
        timeouts_df = None
        sched = planned
        if over is not None:
            timeouts_df = planned.filter(over).select(
                "url", F.lit(wave).alias("wave_fetched"),
                F.lit("timeout").alias("state_final"))
            sched = planned.filter(~over)

        # ---- fetch = equi-join vs corpus (J7); miss → error row (S6) ----
        sched_cols = sched.select("url", "host", "path", "depth",
                                  "priority", "seq", "src_url", "ad_id")
        fetched = fetch_join(pages, sched_cols, n_planned,
                             cfg.broadcast_wave_max).cache()
        # The extraction UDF consumes the fetch-join output directly: it
        # inherits the corpus scan's partitioning, which
        # scan_splits_per_core keeps at several splits per core, so no
        # exchange moves the wave's html before the Python stage
        # (round-4 A/B in BENCH.md: ~11% faster than repartitioning).
        extracted = extract_pages(fetched).cache()

        results_df = (
            fetched.select("url", "host", "depth", "seq", "src_url",
                           "ad_id", "warc_ts", "lang")
            .join(extracted.select(
                "url", "text", "n_ads", "readerable", "readability_score",
                "rss_urls", "health_related"), "url")
            .withColumn("wave", F.lit(wave))
            # page-type lineage (adscraper.sql:58): landing = reached
            # via an ad click (referrer ad_id set); main = crawl-list
            # depth 0; everything else is a subpage
            .withColumn("page_type",
                        F.when(F.col("ad_id").isNotNull(), "landing")
                        .when(F.col("depth") == 0, "main")
                        .otherwise("subpage"))
            .withColumn("reload", F.lit(0))
        )
        if cfg.refresh_mains:
            # refresh-and-rescrape analog (crawler.ts:341-358,
            # adscraper.sql:63): every main page gets a second results
            # row with reload=1 — the corpus is deterministic, so the
            # rescrape content is identical by construction
            results_df = results_df.unionByName(
                results_df.filter(F.col("page_type") == "main")
                .withColumn("reload", F.lit(1)))
        ads_df = (
            extracted.select("url", F.posexplode("ads").alias("ad_index",
                                                              "ad"))
            .select("url", "ad_index", "ad.ad_id", "ad.html",
                    "ad.selector",
                    "ad.platform", "ad.chumbox_parts", "ad.anchor_hrefs",
                    "ad.iframe_srcs", "ad.script_srcs", "ad.img_srcs")
            .withColumn("wave", F.lit(wave))
        )
        # S12 iframe-tree table: the recursive insert of
        # crawler/src/util/db.ts:173-196 as a flat explode with
        # (ad_index, parent_index) adjacency (adscraper.sql:159-168)
        iframes_df = (
            extracted.select("url", F.explode("iframes").alias("f"))
            .select("url",
                    F.col("f.ad_index").alias("ad_index"),
                    F.col("f.parent_index").alias("parent_index"),
                    F.col("f.url").alias("iframe_url"),
                    F.col("f.html").alias("html"),
                    F.col("f.textcontent").alias("textcontent"))
            .withColumn("wave", F.lit(wave))
        )
        # third-party request log analog (S11/F3): external ad URLs whose
        # host differs from the page host. One pass: tag each resource
        # array in place and explode the flattened result (a 4-way
        # union would re-scan the ads explode once per resource type
        # and leave 4× shuffle-partition output files).
        req_cols = [("anchor_hrefs", "anchor"), ("iframe_srcs", "iframe"),
                    ("script_srcs", "script"), ("img_srcs", "img")]
        def _tag(col_name: str, rtype: str):
            # NB: the lambda must be unary — F.transform feeds a second
            # arg (the element index) to binary lambdas. coalesce: one
            # NULL array would null the whole flatten and drop every
            # request row of the ad.
            return F.transform(
                F.coalesce(F.col(col_name), F.array()),
                lambda x: F.struct(x.alias("target_url"),
                                   F.lit(rtype).alias("resource_type")))

        tagged = [_tag(f"ad.{c}", rtype) for c, rtype in req_cols]
        requests_df = (
            extracted.select("url", F.explode("ads").alias("ad"))
            .select(F.col("url").alias("initiator"),
                    F.explode(F.flatten(F.array(*tagged))).alias("r"))
            .select("initiator",
                    F.col("r.target_url").alias("target_url"),
                    F.col("r.resource_type").alias("resource_type"))
            .withColumn("initiator_host",
                        F.lower(F.parse_url("initiator", F.lit("HOST"))))
            .withColumn("target_host",
                        F.lower(F.parse_url("target_url", F.lit("HOST"))))
            .filter(F.col("target_host") != F.col("initiator_host"))  # F3
            .withColumn("wave", F.lit(wave))
        )

        # S6 miss rows: scheduled urls with no corpus hit → 'error'
        # (tiny join — both sides are wave-sized and cached)
        processed_df = (
            sched.select("url")
            .join(fetched.select("url", F.lit(1).alias("_hit")),
                  "url", "left")
            .select(
                "url",
                F.lit(wave).alias("wave_fetched"),
                F.when(F.col("_hit").isNotNull(), F.lit("fetched"))
                 .otherwise(F.lit("error")).alias("state_final"))
        )
        if timeouts_df is not None:
            processed_df = processed_df.unionByName(timeouts_df)

        # ---- frontier expansion: U7 links → admission pipeline ----------
        # max_urls frontier cap: once the admitted log holds >= N rows
        # (counted from manifest stats — no table scan), later waves
        # fetch what is pending but admit nothing new. Checked at wave
        # granularity (a wave's own admissions may overshoot the cap);
        # the simulator applies the identical pre-wave check.
        admission_open = True
        if cfg.max_urls is not None:
            admission_open = self._admitted_total() < cfg.max_urls

        def run_admission() -> tuple[DataFrame | None, int, int]:
            """Build + materialize this wave's admissions; returns
            (admissions_df, n_admitted, n_disallowed). Called from the
            commit block below so its chain of jobs (link explode →
            norm UDF → dedup → bloom probe → anti-join → finish UDF →
            stats collect) OVERLAPS the five result-table appends
            (guide §2.6: concurrent jobs back-fill each other's task
            tails) — everything both sides read is already
            materialized in the extraction/fetch caches, so the
            overlap duplicates no work and admission semantics are
            byte-identical to the former sequential order."""
            if not (admission_open and wave + 1 <= cfg.max_waves
                    and cfg.max_depth > 0):
                return None, 0, 0
            # expansion sources: fetched pages below the depth horizon
            # that are NOT landing pages (the reference scrapes ad
            # landing pages but never crawls onward from them)
            exp_src = (
                extracted
                .join(planned.select("url", "host", "depth", "ad_id")
                      .withColumnRenamed("ad_id", "src_ad_id"), "url")
                .filter((F.col("depth") < cfg.max_depth)
                        & F.col("src_ad_id").isNull())
            )
            norm_schema = ("src_url string, src_host string, depth int, "
                           "link string, url string, host string, "
                           "path string")
            cand = exp_src.select(
                F.col("url").alias("src_url"),
                F.col("host").alias("src_host"),
                F.col("depth"),
                F.explode("links").alias("link"))
            cand = cand.mapInPandas(_norm_batches, schema=norm_schema)
            cand = cand.filter(F.col("url").isNotNull())
            if cfg.same_host_only:  # F4
                cand = cand.filter(F.col("host") == F.col("src_host"))
            # links: kind 0, no referrer ad (sentinel -1 keeps the
            # dedup struct null-free)
            cand = (cand.withColumn("kind", F.lit(0))
                    .withColumn("cand_ad_id", F.lit(-1).cast("long")))
            if cfg.admit_ad_landings and cfg.max_ad_landings_per_page:
                # J4: first anchor of the first K ads-with-anchors per
                # page, in ad_index order (the per-page click cap,
                # click.ts:122-133); cross-host by design → exempt from
                # the same-host filter (adscraper.sql:152)
                w_page = Window.partitionBy("src_url").orderBy("ad_index")
                landing = (
                    exp_src.select(
                        F.col("url").alias("src_url"),
                        F.col("host").alias("src_host"),
                        F.col("depth"),
                        F.posexplode("ads").alias("ad_index", "ad"))
                    .filter(F.size("ad.anchor_hrefs") > 0)
                    .withColumn("rn", F.row_number().over(w_page))
                    .filter(F.col("rn")
                            <= cfg.max_ad_landings_per_page)
                    .select("src_url", "src_host", "depth",
                            F.element_at("ad.anchor_hrefs", 1)
                            .alias("link"),
                            F.col("ad.ad_id").alias("cand_ad_id")))
                landing = (landing
                           .mapInPandas(_norm_batches,
                                        schema=norm_schema
                                        + ", cand_ad_id long")
                           .filter(F.col("url").isNotNull())
                           .withColumn("kind", F.lit(1)))
                cand = cand.unionByName(landing)
            # in-wave dedup with deterministic lineage: min (depth,
            # kind, src, ad) — links beat landings at equal depth; the
            # simulator takes the same tuple min
            cand = (
                cand.groupBy("url", "host", "path")
                .agg(F.min(F.struct("depth", "kind", "src_url",
                                    "cand_ad_id")).alias("m"))
                .select("url", "host", "path",
                        F.col("m.depth").alias("src_depth"),
                        F.col("m.kind").alias("kind"),
                        F.col("m.src_url").alias("src_url"),
                        F.col("m.cand_ad_id").alias("cand_ad_id"))
            )
            # cache: the fresh/maybe split consumes this lineage twice
            # (explode → norm UDF → dedup shuffle → bloom probe), and
            # without the cache the probe UDF re-runs on both branches
            cand = self._bloom_prefilter(cand, wave).cache()
            fresh = cand.filter(~F.col("maybe_seen")).drop("maybe_seen")
            maybe = cand.filter(F.col("maybe_seen")).drop("maybe_seen")
            admitted_urls = self._admitted_urls_for(maybe)
            if admitted_urls is None:
                # the candidates' buckets hold no admitted rows at all:
                # nothing to anti-join against (bloom false positives)
                confirmed = maybe
            else:
                confirmed = maybe.join(admitted_urls, "url", "left_anti")
            new = self._with_robots_txt(fresh.unionByName(confirmed))

            def finish(batches: Iterator[pd.DataFrame]
                       ) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    blocked = _robots_disallowed(
                        pdf["host"], pdf["path"], pdf["robots_txt"])
                    out = pd.DataFrame({
                        "url": pdf["url"],
                        "host": pdf["host"],
                        "path": pdf["path"],
                        "depth": pdf["src_depth"] + 1,
                        "priority": (pdf["src_depth"] + 1).astype(float),
                        "seq": [DISCOVERED_SEQ_BASE
                                + stable_hash64("seq|" + u)
                                % (1 << 31) for u in pdf["url"]],
                        "src_url": pdf["src_url"],
                        # kind 1 = ad landing → carry the referrer ad id
                        "ad_id": pd.array(
                            [int(a) if k == 1 else None
                             for k, a in zip(pdf["kind"],
                                             pdf["cand_ad_id"])],
                            dtype="Int64"),
                        "state_initial": [
                            "disallowed" if b else "pending"
                            for b in blocked],
                        "wave_admitted": wave + 1,
                    })
                    yield out

            adf = (
                new.mapInPandas(finish, schema=ADMITTED_SCHEMA).cache())
            # one job for both admission stats (cache materializes here)
            adm_counts = {r["state_initial"]: r["count"] for r in
                          adf.groupBy("state_initial").count()
                          .collect()}
            cand.unpersist()  # admissions cache holds the rows now
            n_adm = sum(adm_counts.values())
            n_dis = adm_counts.get("disallowed", 0)
            if n_adm == 0:
                adf.unpersist()
                adf = None
            return adf, n_adm, n_dis

        # ---- single-wave commit (Z4) ------------------------------------
        # Materialize the extraction cache in ONE full-parallelism job
        # first: every consumer below (result appends AND the admission
        # chain) then reads the cache instead of racing to compute the
        # same cached partitions under the cache lock.
        extracted.count()
        # The six per-wave appends are independent of one another (each
        # SnapshotTable owns its directory and manifest), so submit them
        # as concurrent Spark jobs: with W >> tasks-per-write executors
        # the scheduler overlaps their fixed latency and IO instead of
        # paying it six times sequentially. The ADMISSION pipeline runs
        # concurrently with them from this thread (it shares no inputs
        # beyond the materialized caches), and its admitted-append +
        # bloom-segment update join the same pool as soon as its rows
        # are counted — previously the whole admission chain ran BEFORE
        # the first append started, serializing two multi-second phases
        # that touch disjoint tables. Crash consistency is unaffected —
        # _commit_wave (the only durable publish) still runs after every
        # job has finished, and rollback discards any snapshot not
        # pinned by a wave manifest (orphan bloom bits are safe: bloom
        # hits fall through to the exact anti-join).
        appends = [(self.processed, processed_df),
                   (self.results, results_df),
                   (self.ads, ads_df),
                   (self.requests, requests_df),
                   (self.iframes, iframes_df)]
        _t_persist = _time.time()
        with ThreadPoolExecutor(max_workers=len(appends) + 3) as pool:
            futs = [pool.submit(table.append, df) for table, df in appends]
            count_fut = pool.submit(fetched.count)
            admissions_df, n_admitted, n_disallowed = run_admission()
            adm_fut = bloom_fut = None
            if admissions_df is not None:
                adm_fut = pool.submit(self.admitted.append, admissions_df)
                bloom_fut = pool.submit(
                    self._update_bloom_distributed, admissions_df,
                    wave + 1)
            for f in futs:
                f.result()
            n_fetched = count_fut.result()
            if adm_fut is not None:
                adm_fut.result()
            if bloom_fut is not None:
                bloom_fut.result()
        # errors = fetch MISSES only: Z2 timeout rows never entered the
        # fetch join, so lumping them in would report phantom fetch
        # failures (the processed table records them as 'timeout', not
        # 'error' — the stat must point at rows that exist)
        n_errors = n_planned - n_timeout - n_fetched
        persist_sec = _time.time() - _t_persist
        if admissions_df is not None:
            admissions_df.unpersist()
        stats = {
            "planned": n_planned, "fetched": n_fetched, "errors": n_errors,
            "admitted": n_admitted,
            "disallowed": n_disallowed,
            "approx_hosts": n_hosts,
            # wall seconds in the parallel commit block (the 5-6 table
            # appends + bloom + count, now OVERLAPPED with the
            # admission chain): the bench uses this to itemize
            # end-to-end-vs-kernel scaling (single-disk write
            # serialization vs compute)
            "persist_sec": round(persist_sec, 3),
        }
        if n_timeout:
            stats["timeouts"] = n_timeout
        if n_late:
            # staged mid-window batches folded this wave — counted here
            # (not at stage time) so _admitted_total sums each row once
            stats["late_seeds"] = n_late
        # per-wave lineage metrics live in the wave manifest (no extra
        # write job); metrics_df() rebuilds a DataFrame from manifests.
        # commit=False (checkpoint_every window): stats stay in-memory
        # until the next durable manifest pins them.
        if commit:
            self._commit_wave(wave, stats)
        else:
            # (the durable window-open marker was published at wave
            #  start, before the first table append)
            self._window_stats.append((wave, stats))
        planned.unpersist()
        fetched.unpersist()
        extracted.unpersist()
        return stats

    # ------------------------------------------------------------------
    def run(self, max_waves: int | None = None,
            stop_requested=None) -> list[dict]:
        """Resume-aware drain loop. Returns per-wave stats.

        ``stop_requested`` (Z6 graceful drain): a zero-arg callable
        checked BETWEEN waves — a SIGTERM mid-wave finishes that wave's
        atomic commit, then the loop exits cleanly; resume picks up at
        the next wave (reference: k8s-indexed-job-worker.ts:30-53 traps
        SIGTERM/SIGINT, checkpoints, exits 128+sig)."""
        last = self._rollback_to_last_commit()
        if last < 0:
            raise RuntimeError("bootstrap() before run()")
        if last > 0:
            # crawler.ts:265-269 resume message analog
            self.log.info(f"Resuming crawl ({self.config.name}) from "
                          f"last committed wave {last}")
        horizon = max_waves if max_waves is not None else self.config.max_waves
        ce = max(1, self.config.checkpoint_every)
        out = []
        drained = False
        wave = last + 1
        while wave <= horizon:
            if stop_requested is not None and stop_requested():
                break
            # Durable manifest every `ce` waves (Z4 checkpoint cadence):
            # skipped waves replay deterministically from the previous
            # manifest after a crash — cheaper durability, bounded
            # replay. The loop exit always flushes the open window.
            stats = self.run_wave(wave, commit=(wave % ce == 0))
            if stats.get("planned", 0) == 0:
                drained = True
                break
            out.append({"wave": wave, **stats})
            self.log.info(f"Wave {wave}: planned={stats.get('planned')} "
                          f"fetched={stats.get('fetched')} "
                          f"errors={stats.get('errors')} "
                          f"admitted={stats.get('admitted')}")
            if stats.get("errors"):
                # the reference logs each failed navigation at ERROR
                # (crawler.ts:319-339); per-URL detail lives in the
                # results table's error rows — this is the summary
                self.log.warning(f"Wave {wave}: {stats['errors']} fetch "
                                 "error(s); see results table error rows")
            # Frontier-log maintenance (Iceberg rewrite_data_files
            # analog): every K waves fold the accumulated per-wave
            # append files of the two anti-join inputs back into
            # num_buckets files. The compaction snapshot is not pinned
            # by a wave manifest; a crash before the next commit rolls
            # back to identical pre-compact data.
            compact_ce = self.config.compact_every
            if compact_ce is not None and wave % compact_ce == 0:
                for table in (self.admitted, self.processed):
                    try:
                        table.compact(self.spark)
                    except CommitError:
                        # lost the CAS to a concurrent streamed seed
                        # append — compaction is maintenance, skip it
                        pass
            vac_ce = self.config.vacuum_every
            if vac_ce is not None and wave % vac_ce == 0:
                self.vacuum()
            wave += 1
        if self._window_stats:
            # flush the open checkpoint window (drain/horizon/SIGTERM
            # all leave durable state; only a hard crash replays)
            w, s = self._window_stats.pop()
            self._commit_wave(w, s)
        interrupted = stop_requested is not None and stop_requested()
        if not interrupted:
            # crawl completed (frontier drained or horizon reached) —
            # the adscraper.sql crawl.completed/completed_time analog.
            # The row is appended AFTER the last wave manifest, so a
            # resume rolls it back and re-appends on its own clean
            # finish (no duplicate completion events).
            self._append_crawl_event(
                "completed" if drained else "horizon",
                wave=self.last_committed_wave())
            # crawler.ts:257 "crawl ... is already completed" family
            self.log.info(
                f"Crawl ({self.config.name}) "
                + ("completed: frontier drained"
                   if drained else
                   f"stopped at horizon (wave {self.last_committed_wave()})"))
        else:
            self.log.info(f"Crawl ({self.config.name}) drain requested — "
                          "exiting after atomic wave commit "
                          "(k8s-indexed-job-worker.ts:30-53)")
        return out

    # ------------------------------------------------------------------
    # result accessors (golden-trace comparisons, SURVEY §5.2.2)
    # ------------------------------------------------------------------
    def crawl_order(self) -> list[tuple[str, int]]:
        """[(url, wave)] in global fetch order: (wave, host, priority,
        seq) — the parallelism-invariant total order (SURVEY §7.3).
        Includes error fetches (the reference logs failed navigations in
        crawl order too, crawler.ts:319-339)."""
        proc = self.processed.read(self.spark)
        adm = self.admitted.read(self.spark)
        if proc is None or adm is None:
            return []
        rows = (proc.join(adm.select("url", "host", "priority", "seq"),
                          "url")
                .orderBy("wave_fetched", "host", "priority", "seq", "url")
                .collect())
        return [(r["url"], r["wave_fetched"]) for r in rows]

    def seen_set(self) -> set[str]:
        adm = self.admitted.read(self.spark)
        return {r["url"] for r in adm.select("url").collect()} if adm else set()

    def metrics_df(self) -> DataFrame:
        """Per-wave lineage metrics, rebuilt from the wave manifests
        (the manifests ARE the metrics store — zero extra write jobs;
        waves without their own manifest come from the covering
        manifest's window)."""
        rows = []
        for w, s in self._wave_stats_iter():
            rows.append((w, s.get("planned", s.get("seeds", 0)),
                         s.get("fetched", 0), s.get("errors", 0),
                         s.get("timeouts", 0),
                         s.get("admitted", 0), s.get("disallowed", 0)))
        return self.spark.createDataFrame(
            rows, "wave int, planned long, fetched long, errors long, "
                  "timeouts long, admitted long, disallowed long")
