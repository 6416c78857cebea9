"""SnapshotTable — Iceberg-shaped table layer over parquet.

Production target is Apache Iceberg (snapshot-per-wave commits,
SURVEY.md §1.1/§4); this container has no Iceberg runtime jars and no
network, so we implement the same commit contract directly:

- a table = directory of immutable parquet data files + numbered
  manifest JSONs (``snap-N.json`` listing live data files, properties
  and the read schema they share — reads pass it to Spark instead of
  starting a schema-inference job);
- a commit writes new data files, writes ``snap-(N+1).json``, then
  atomically publishes it via ``os.rename`` onto ``HEAD`` — readers see
  the old or the new snapshot, never a torn state;
- time travel = read any retained snapshot (checkpoint/resume, Z4).

On a real cluster this class is replaced 1:1 by Iceberg catalog calls
(``writeTo(...).append()`` / snapshot reads); every engine call site goes
through this interface so the swap is mechanical. The atomic-rename
publish assumes a POSIX-rename filesystem (local disk here; HDFS/S3+Glue
would use the Iceberg catalog's own atomic swap).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import types as T


def _json_stat(v):
    """Normalize a parquet footer statistic (or a query bound) to a
    JSON-storable, consistently-comparable value; None = unsupported.
    Datetimes become epoch microseconds (naive values are read as UTC
    — footer stats and query bounds pass through the SAME conversion,
    so comparisons stay internally consistent). String footer stats are
    exact when present: parquet-cpp OMITS oversize binary statistics
    (max_statistics_size) rather than truncating chunk-level min/max,
    and omission shows up as has_min_max=False upstream."""
    import datetime
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return int((v - datetime.datetime(1970, 1, 1)).total_seconds()
                   * 1_000_000)
    return None


class CommitError(RuntimeError):
    pass


def _fsync_dir(path: str) -> None:
    """fsync a directory so a just-created/renamed entry survives power
    loss (no-op on platforms that refuse O_DIRECTORY-style fsync)."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


# How long a fully-written snap-N.json may sit unpublished (HEAD not
# advanced) before another committer adopts it as abandoned. The
# create→rename window of a live writer is milliseconds on local disk;
# anything older is a crashed/killed writer that would otherwise wedge
# every later append in a long-running process. Storage-profile
# guidance: 1s fits a local/POSIX disk; on an object store (S3+rename
# emulation, slow metadata) raise to minutes via the env var or the
# SnapshotTable(orphan_grace_seconds=...) parameter — adoption is
# idempotent AND _write_head is monotonic, so even a too-short grace
# cannot regress the table, it just burns a redundant HEAD write.
ORPHAN_GRACE_SECONDS = float(
    os.environ.get("ADSCRAPER_SPARK_ORPHAN_GRACE", "1.0"))

# Vacuum retention defaults (expire_snapshots), overridable per-table
# like the orphan grace. Storage-profile guidance mirrors
# ORPHAN_GRACE_SECONDS: 60s is generous on local disk; on an object
# store with slow/cached metadata, raise MIN_AGE to several minutes —
# the mtime the guard reads may lag the actual write there, so the
# grace must cover that skew too.
VACUUM_MIN_AGE_SECONDS = float(
    os.environ.get("ADSCRAPER_SPARK_VACUUM_MIN_AGE", "60.0"))
VACUUM_RETAIN_LAST = int(
    os.environ.get("ADSCRAPER_SPARK_VACUUM_RETAIN_LAST", "1"))

#: Per-data-dir bucket-layout marker (underscore prefix: Spark's file
#: index ignores it). See SnapshotTable._write_data / read_bucket_subset.
_BUCKET_MARKER = "_bucket_layout.json"
#: Marker layout version: 2 = ``n`` is the dir's own file count (a
#: divisor of the table's num_buckets), plus the writer's Spark version.
_LAYOUT_VERSION = 2
_PART_RE = re.compile(r"part-(\d+)-.*\.parquet$")


def core_width(num_buckets: int, parallelism: int) -> int:
    """File count for a small bucketed append: ``num_buckets`` halved
    while it exceeds ``parallelism`` and stays even — so it always
    divides ``num_buckets``. A wave's log append of a few hundred rows
    then launches about one write task per core instead of one per
    bucket."""
    w = num_buckets
    while w > parallelism and w % 2 == 0:
        w //= 2
    return w


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, element and value nullable — the schema
    Spark reports when it reads back the parquet it wrote."""
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _nullable(f.dataType),
                                           True, f.metadata)
                             for f in dt.fields])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType),
                         True)
    return dt


def _agreed(schemas: list) -> dict | None:
    """The one schema every listed write shares; None when any is
    unknown (None) or two disagree, or when the list is empty."""
    if not schemas or any(s != schemas[0] for s in schemas):
        return None
    return schemas[0]


@dataclass
class Snapshot:
    snapshot_id: int
    files: list[str]
    properties: dict
    # per data-dir column bounds: {dir: {col: [min, max]}} — Iceberg
    # manifest-entry ``lower_bounds``/``upper_bounds`` analog. A dir is
    # listed only for columns whose bounds are PROVEN complete (every
    # row group in every part file carried footer min/max); absent ⇒
    # unknown ⇒ a pruning read must keep the dir.
    stats: dict = None  # type: ignore[assignment]
    # read schema (StructType JSON) shared by every listed data dir —
    # Iceberg's table-metadata schema analog. None = unknown (a legacy
    # manifest, or appends that disagree): reads infer it instead.
    schema: dict | None = None

    def __post_init__(self):
        if self.stats is None:
            self.stats = {}

    @property
    def empty(self) -> bool:
        return not self.files


class SnapshotTable:
    def __init__(self, path: str, bucket_col: str | None = None,
                 num_buckets: int = 32,
                 orphan_grace_seconds: float | None = None,
                 vacuum_min_age_seconds: float | None = None,
                 vacuum_retain_last: int | None = None,
                 stats_cols: list[str] | None = None):
        """``bucket_col``: hash-bucket every data write by this column
        (Iceberg ``bucket(N, col)`` partition-transform analog). The
        frontier logs bucket by ``url`` so the layout is stable and
        skew-free; under real Iceberg the same transform makes the
        per-wave pending anti-join co-partitioned (plain parquet readers
        lose the distribution metadata, so local mode still exchanges —
        the LAYOUT is what carries to the cluster)."""
        self.path = path
        self.bucket_col = bucket_col
        self.num_buckets = num_buckets
        self.orphan_grace_seconds = (
            ORPHAN_GRACE_SECONDS if orphan_grace_seconds is None
            else orphan_grace_seconds)
        self.vacuum_min_age_seconds = (
            VACUUM_MIN_AGE_SECONDS if vacuum_min_age_seconds is None
            else vacuum_min_age_seconds)
        self.vacuum_retain_last = (
            VACUUM_RETAIN_LAST if vacuum_retain_last is None
            else vacuum_retain_last)
        # Columns to carry min/max manifest bounds for (Iceberg
        # ``write.metadata.metrics`` analog). Collected from parquet
        # FOOTERS at commit time — driver-side metadata reads, no data
        # scan — and used by ``read(where=...)`` to skip whole data
        # dirs. At 10^10-frontier scale a ts/host-range analysis read
        # over hundreds of per-wave appends touches only the waves
        # whose bounds intersect.
        self.stats_cols = list(stats_cols or [])
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        os.makedirs(os.path.join(path, "meta"), exist_ok=True)

    # -- snapshot plumbing --------------------------------------------------
    def _head_path(self) -> str:
        return os.path.join(self.path, "meta", "HEAD")

    def current_snapshot_id(self) -> int:
        try:
            with open(self._head_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0
        except ValueError:
            # Torn HEAD (power loss persisted the rename before the tmp
            # file's data — pre-fsync legacy states). Recover to the
            # largest COMPLETE snapshot manifest: adoption semantics
            # already treat any fully-linked manifest as committed, so
            # this is the same judgment _maybe_adopt_orphan makes.
            best = 0
            for sid in sorted(self.snapshots(), reverse=True):
                try:
                    with open(os.path.join(self.path, "meta",
                                           f"snap-{sid}.json")) as f:
                        json.load(f)
                    best = sid
                    break
                except (OSError, ValueError):
                    continue
            self._write_head_file(best)
            return best

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot:
        sid = self.current_snapshot_id() if snapshot_id is None else snapshot_id
        if sid == 0:
            return Snapshot(0, [], {})
        with open(os.path.join(self.path, "meta", f"snap-{sid}.json")) as f:
            doc = json.load(f)
        return Snapshot(sid, doc["files"], doc.get("properties", {}),
                        doc.get("stats", {}), doc.get("schema"))

    def snapshots(self) -> list[int]:
        out = []
        for name in os.listdir(os.path.join(self.path, "meta")):
            if name.startswith("snap-") and name.endswith(".json"):
                out.append(int(name[5:-5]))
        return sorted(out)

    def _publish(self, files: list[str], properties: dict,
                 expected_parent: int,
                 stats: dict | None = None,
                 schema: dict | None = None) -> int:
        """Optimistic-concurrency commit: fails if HEAD moved since the
        caller read it (Iceberg's compare-and-swap semantics). The CAS
        is the EXCLUSIVE CREATE of the snapshot manifest — a plain
        exists-check would leave a window where two committers with the
        same parent both write snap-(N+1), one silently overwriting the
        other (e.g. a streamed seed batch racing a wave's admitted
        append)."""
        new_id = expected_parent + 1
        meta = os.path.join(self.path, "meta")
        snap_path = os.path.join(meta, f"snap-{new_id}.json")
        if self.current_snapshot_id() != expected_parent:
            raise CommitError("concurrent commit detected")
        # Write the manifest FULLY to a tmp name, then hardlink it onto
        # the snap path: link() is the exclusive-create CAS *and*
        # guarantees any visible snap file has complete content — which
        # is what lets a later committer safely adopt an orphan (writer
        # died between link and HEAD rename, _maybe_adopt_orphan).
        tmp = os.path.join(meta, f".snap.{uuid.uuid4().hex}")
        doc = {"files": files, "properties": properties}
        if stats:
            # bounds only for dirs this snapshot still lists (keys are
            # data-dir paths, so a replace drops stale entries for free)
            doc["stats"] = {p: s for p, s in stats.items() if p in set(files)}
        if schema is not None:
            doc["schema"] = schema
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())  # link() must never expose torn content
        try:
            os.link(tmp, snap_path)
        except FileExistsError:
            raise CommitError(
                f"concurrent commit detected: snapshot {new_id} "
                "already exists") from None
        finally:
            os.unlink(tmp)
        _fsync_dir(meta)  # make the link durable before HEAD points at it
        self._write_head(new_id)
        return new_id

    def _write_head(self, snapshot_id: int) -> None:
        """Monotonic HEAD publish. A committer adopted as an orphan
        (stalled >grace between manifest link and HEAD rename) may
        resume AFTER further snapshots committed on top of its adopted
        one — an unconditional rename would then regress HEAD below
        published state (e.g. an anti-join against a stale admitted log
        double-admits until a later adoption re-heals). Skip when HEAD
        already passed us; after our rename, self-heal the read→rename
        window by advancing over any complete manifest a concurrent
        committer linked meanwhile (idempotent with that committer's
        own pending HEAD write — both write the same value)."""
        meta = os.path.join(self.path, "meta")
        while True:
            if self.current_snapshot_id() >= snapshot_id:
                return
            self._write_head_file(snapshot_id)
            nxt = snapshot_id + 1
            if not os.path.exists(os.path.join(meta, f"snap-{nxt}.json")):
                return
            snapshot_id = nxt

    def _write_head_file(self, snapshot_id: int) -> None:
        """Raw durable HEAD write: fsync the tmp BEFORE the rename (a
        power loss may journal the rename ahead of the data — the
        'old or new, never torn' promise needs the data on disk first)
        and the directory after (so the rename itself survives)."""
        meta = os.path.join(self.path, "meta")
        tmp = os.path.join(meta, f".HEAD.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(snapshot_id))
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, self._head_path())  # atomic publish
        _fsync_dir(meta)

    def _maybe_adopt_orphan(self, expected_parent: int) -> bool:
        """If snap-(parent+1).json exists, is complete, and HEAD has sat
        at ``expected_parent`` past the grace period, its writer died
        between manifest create and HEAD rename: finish the publish on
        its behalf (idempotent — if the writer is merely slow, both
        write the same HEAD value). Returns True if adopted."""
        new_id = expected_parent + 1
        snap_path = os.path.join(self.path, "meta", f"snap-{new_id}.json")
        if self.current_snapshot_id() != expected_parent:
            return False  # HEAD moved on its own
        try:
            if (time.time() - os.path.getmtime(snap_path)
                    < self.orphan_grace_seconds):
                return False
            with open(snap_path) as f:
                json.load(f)  # complete content (guaranteed by link())
        except (OSError, ValueError):
            return False
        self._write_head(new_id)
        return True

    # -- data ---------------------------------------------------------------
    def _write_data(self, df: DataFrame, narrow: bool = False
                    ) -> tuple[list[str], dict]:
        """Write one data dir; returns ([dir], its read schema).

        Bucketed tables write ``w`` files: ``num_buckets``, or with
        ``narrow`` (append's small writes) ``core_width(num_buckets,
        defaultParallelism)``, a divisor of it. File ``part-K`` holds
        exactly the rows with ``pmod(murmur3(bucket_col), num_buckets)
        ≡ K (mod w)``. A narrow write keeps every bucket whole inside
        one file, so read_bucket_subset still prunes it, at ``w``
        granularity; compact() rewrites it full width."""
        part = os.path.join(self.path, "data", uuid.uuid4().hex)
        schema = _nullable(df.schema).jsonValue()
        if self.bucket_col is not None and self.bucket_col in df.columns:
            width = self.num_buckets
            if narrow:
                width = core_width(
                    width, df.sparkSession.sparkContext.defaultParallelism)
            df = df.repartition(width, self.bucket_col)
            df.write.mode("overwrite").parquet(part)
            # Per-dir layout marker (leading underscore → invisible to
            # Spark's file index): records that THIS dir's part-file
            # indices are pmod(murmur3(bucket_col), width) —
            # repartition's HashPartitioning assigns partition (and
            # thus part-NNNNN file) exactly that way, verified in
            # tests. The writer's Spark version rides along: the hash
            # is Spark's, so only a reader on the same version trusts
            # the file indices.
            with open(os.path.join(part, _BUCKET_MARKER), "w") as f:
                json.dump({"col": self.bucket_col, "n": width,
                           "hash": "murmur3", "v": _LAYOUT_VERSION,
                           "spark": df.sparkSession.version}, f)
            return [part], schema
        else:
            # Cap file count (and write-task count) at the session's
            # parallelism: wave appends inherit the corpus scan's split
            # count, and a 60-split lineage writing a few thousand rows
            # costs 60 task launches + 60 file commits per wave per
            # table. coalesce never raises the partition count, so a
            # genuinely wide append on a big cluster keeps its width.
            par = df.sparkSession.sparkContext.defaultParallelism
            df = df.coalesce(max(1, par))
        df.write.mode("overwrite").parquet(part)
        return [part], schema

    @staticmethod
    def _reader(spark: SparkSession, snap: Snapshot) -> DataFrameReader:
        """Reader for ``snap``'s files: with its recorded schema when it
        has one (no schema-inference job), else inferring it."""
        if snap.schema is None:
            return spark.read
        return spark.read.schema(T.StructType.fromJson(snap.schema))

    def _footer_stats(self, dirs: list[str]) -> dict:
        """Min/max bounds per data dir for ``stats_cols``, read from
        parquet FOOTER metadata (pyarrow; driver-side, no data scan —
        the files were just written by this process, so the footers are
        page-cache-hot). A column is recorded for a dir only when EVERY
        row group of EVERY part file carries min+max for it — a single
        stats-less row group means unknown values, and an incomplete
        bound must not prune. Values are kept JSON-clean: int/float/str
        pass through, datetimes become epoch micros (same conversion is
        applied to query bounds at prune time, so comparisons stay
        consistent); anything else drops the column."""
        if not self.stats_cols:
            return {}
        try:
            import pyarrow.parquet as pq
        except ImportError:  # pragma: no cover - pyarrow is baked in
            return {}
        wanted = set(self.stats_cols)
        out: dict = {}
        for d in dirs:
            lo: dict = {}
            hi: dict = {}
            complete = dict.fromkeys(wanted, True)
            saw_rows = False
            try:
                names = sorted(os.listdir(d))
            except OSError:
                continue
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                try:
                    md = pq.ParquetFile(os.path.join(d, name)).metadata
                except Exception:
                    complete = dict.fromkeys(wanted, False)
                    break
                for rg in range(md.num_row_groups):
                    row_group = md.row_group(rg)
                    if row_group.num_rows == 0:
                        continue
                    saw_rows = True
                    seen_here = set()
                    for ci in range(row_group.num_columns):
                        col = row_group.column(ci)
                        cname = col.path_in_schema
                        if cname not in wanted or not complete[cname]:
                            continue
                        st = col.statistics
                        if st is None or not st.has_min_max:
                            complete[cname] = False
                            continue
                        mn = _json_stat(st.min)
                        mx = _json_stat(st.max)
                        if mn is None or mx is None:
                            complete[cname] = False
                            continue
                        seen_here.add(cname)
                        if cname not in lo or mn < lo[cname]:
                            lo[cname] = mn
                        if cname not in hi or mx > hi[cname]:
                            hi[cname] = mx
                    for cname in wanted - seen_here:
                        # column absent from this row group's schema
                        complete[cname] = False
            stats = {c: [lo[c], hi[c]] for c in wanted
                     if saw_rows and complete[c] and c in lo}
            if stats:
                out[d] = stats
        return out

    def append(self, df: DataFrame, properties: dict | None = None) -> int:
        """Appends are commutative, so a lost CAS retries against the
        new HEAD with the already-written data files (Iceberg's
        commit.retry semantics) — concurrent appenders to the same
        table (streamed seed intake vs the wave loop) both land. A
        bucketed append writes core width (see _write_data)."""
        files, schema = self._write_data(df, narrow=True)
        new_stats = self._footer_stats(files)
        last_err: CommitError | None = None
        for attempt in range(5):
            snap = self.snapshot()
            props = dict(snap.properties)
            props.update(properties or {})
            prior = [] if snap.empty else [snap.schema]
            try:
                return self._publish(snap.files + files, props,
                                     snap.snapshot_id,
                                     stats={**snap.stats, **new_stats},
                                     schema=_agreed(prior + [schema]))
            except CommitError as e:
                last_err = e
                # Back off until HEAD advances past the parent we lost
                # to (the winner is mid-publish: between snap create and
                # HEAD rename) — immediate retries would re-read the
                # unchanged HEAD and burn every attempt inside that
                # window. If HEAD never advances, the winner died:
                # adopt its orphan manifest so the table doesn't wedge.
                deadline = time.time() + self.orphan_grace_seconds + 0.5
                while (time.time() < deadline
                       and self.current_snapshot_id() == snap.snapshot_id):
                    if self._maybe_adopt_orphan(snap.snapshot_id):
                        break
                    time.sleep(0.02 * (attempt + 1))
        raise last_err

    def overwrite(self, df: DataFrame, properties: dict | None = None) -> int:
        snap = self.snapshot()
        files, schema = self._write_data(df)
        return self._publish(files, properties or {}, snap.snapshot_id,
                             stats=self._footer_stats(files),
                             schema=schema)

    def commit_multi(self, appends: list[DataFrame] | None = None,
                     replace_with: DataFrame | None = None,
                     properties: dict | None = None) -> int:
        """One atomic snapshot doing several changes (the per-wave
        'results append + frontier state merge' transaction, SURVEY §4.3).
        """
        snap = self.snapshot()
        keep_old = replace_with is None and not snap.empty
        files = list(snap.files) if keep_old else []
        schemas = [snap.schema] if keep_old else []
        new_dirs: list[str] = []
        for df in ([replace_with] if replace_with is not None else []) \
                + list(appends or []):
            dirs, schema = self._write_data(df)
            new_dirs.extend(dirs)
            schemas.append(schema)
        files.extend(new_dirs)
        props = dict(snap.properties)
        props.update(properties or {})
        stats = {} if replace_with is not None else dict(snap.stats)
        stats.update(self._footer_stats(new_dirs))
        return self._publish(files, props, snap.snapshot_id, stats=stats,
                             schema=_agreed(schemas))

    def compact(self, spark: SparkSession,
                properties: dict | None = None) -> int | None:
        """Iceberg ``rewrite_data_files`` analog: fold all live data
        directories (one accumulates per table per wave) into a single
        bucketed write published as a NEW snapshot. Old data files stay
        on disk, so rollback to any manifest-pinned snapshot still
        works; losing an unpinned compaction snapshot to a crash is
        harmless (the data is identical either way). At 10^10-frontier
        scale this is what keeps the per-wave pending anti-join from
        degrading into a many-thousand-file scan."""
        snap = self.snapshot()
        if len(snap.files) <= 1:
            return None
        df = self._reader(spark, snap).parquet(*snap.files)
        props = dict(snap.properties)
        props.update(properties or {})
        props["compacted_from_files"] = len(snap.files)
        files, schema = self._write_data(df)
        return self._publish(files, props, snap.snapshot_id,
                             stats=self._footer_stats(files),
                             schema=schema)

    def read(self, spark: SparkSession,
             snapshot_id: int | None = None,
             where: tuple | None = None) -> DataFrame | None:
        """Read a snapshot. ``where=(col, lo, hi)`` (either bound may be
        None) skips data dirs whose manifest bounds prove the inclusive
        range can't match (Iceberg scan-planning file skipping), then
        ALSO applies the predicate — stats only ever shrink the scan,
        never change the result. Dirs without bounds for ``col`` are
        kept (unknown ⇒ must read)."""
        snap = self.snapshot(snapshot_id)
        if snap.empty:
            return None
        files = snap.files
        if where is not None:
            files = self._prune_files(snap, *where)
            if not files:
                return None
        df = self._reader(spark, snap).parquet(*files)
        if where is not None:
            col, lo, hi = where
            if lo is not None:
                df = df.filter(df[col] >= lo)
            if hi is not None:
                df = df.filter(df[col] <= hi)
        return df

    def read_bucket_subset(self, spark: SparkSession, bucket_ids,
                           snapshot_id: int | None = None
                           ) -> DataFrame | None:
        """Read only the bucket files that can hold ``bucket_ids`` — the
        Iceberg bucket-transform scan-planning analog for this table's
        layout. A data dir written ``w`` wide (see _write_data; ``w``
        divides ``num_buckets``) keeps bucket ``b`` in file
        ``part-(b % w)``, so the read opens files ``{b % w}``: exactly
        the selected buckets for a full-width dir, and whole buckets
        around them for a narrow one (a superset — callers filter or
        anti-join, never count).

        Per-dir safety: a dir is pruned ONLY when its `_bucket_layout`
        marker has this table's column, the murmur3 hash, layout
        version 2, this session's Spark version, and a width dividing
        ``num_buckets``. Any other dir (unbucketed, legacy marker,
        another Spark, another bucket count) is read whole, so a config
        change or legacy layout degrades to the full read, never to
        wrong pruning. Returns None when the snapshot is empty or the
        selected subset holds no files; on any listing error falls
        back to the plain read."""
        snap = self.snapshot(snapshot_id)
        if snap.empty:
            return None
        want = {int(b) for b in bucket_ids}
        paths: list[str] = []
        try:
            for d in snap.files:
                width = self._prune_width(d, spark.version)
                if width is None:
                    paths.append(d)  # unprunable dir: read it whole
                    continue
                files = {b % width for b in want}
                for name in sorted(os.listdir(d)):
                    m = _PART_RE.match(name)
                    if m is None:
                        if name.endswith(".parquet"):
                            # unexpected layout: read the file anyway
                            paths.append(os.path.join(d, name))
                        continue
                    if int(m.group(1)) in files:
                        paths.append(os.path.join(d, name))
        except OSError:
            return self.read(spark, snapshot_id)
        if not paths:
            return None
        return self._reader(spark, snap).parquet(*paths)

    def _prune_width(self, data_dir: str, spark_version: str) -> int | None:
        """The file width to prune ``data_dir`` at, from its layout
        marker; None when the marker is missing or does not prove this
        table's bucket layout (see read_bucket_subset)."""
        try:
            with open(os.path.join(data_dir, _BUCKET_MARKER)) as f:
                marker = json.load(f)
        except (OSError, ValueError):
            return None
        if not isinstance(marker, dict):
            return None
        n = marker.get("n")
        if (marker.get("v") != _LAYOUT_VERSION
                or marker.get("spark") != spark_version
                or marker.get("col") != self.bucket_col
                or marker.get("hash") != "murmur3"
                or type(n) is not int or n < 1 or self.num_buckets % n):
            return None
        return n

    def _prune_files(self, snap: Snapshot, col: str, lo, hi) -> list[str]:
        import datetime
        if isinstance(lo, datetime.datetime) or \
                isinstance(hi, datetime.datetime):
            # Timestamp bounds don't prune: the Spark filter interprets
            # a naive datetime literal in SESSION-LOCAL time while the
            # footer stats are UTC-normalized — comparing them could
            # prune a dir whose rows match the actual filter. Until the
            # store pins a timezone contract, unknown ⇒ read everything
            # (the filter below stays correct either way).
            return list(snap.files)
        qlo = _json_stat(lo) if lo is not None else None
        qhi = _json_stat(hi) if hi is not None else None
        if (lo is not None and qlo is None) or (hi is not None and qhi is None):
            return list(snap.files)  # unsupported bound type: no pruning
        keep = []
        for f in snap.files:
            b = snap.stats.get(f, {}).get(col)
            if b is None:
                keep.append(f)
                continue
            fmin, fmax = b
            if qlo is not None and type(qlo) is not type(fmin):
                keep.append(f)  # mixed types: bounds not comparable
                continue
            if qhi is not None and type(qhi) is not type(fmax):
                keep.append(f)
                continue
            if (qlo is not None and fmax < qlo) or \
                    (qhi is not None and fmin > qhi):
                continue  # provably disjoint
            keep.append(f)
        return keep

    def expire_snapshots(self, retain_ids: set[int] | None = None,
                         retain_last: int | None = None,
                         min_age_seconds: float | None = None) -> dict:
        """Iceberg ``expire_snapshots`` analog: drop manifest JSONs that
        are neither HEAD, recent (``retain_last``), explicitly pinned
        (``retain_ids`` — the engine passes wave-manifest pins), nor
        ahead of HEAD (in-flight/orphan publishes), then delete data
        directories referenced by NO retained snapshot. Without this a
        long crawl retains every per-wave append and every
        compaction/overwrite predecessor forever — at 10^10-frontier
        scale that is the dominant storage cost.

        ``min_age_seconds`` guards concurrent readers AND appenders: a
        data dir younger than the grace may belong to an append whose
        CAS has not landed yet, and a manifest younger than the grace
        may be held by a reader in another process between pinning its
        id (explicit ``read(snapshot_id=...)`` / a ``read_since`` base)
        and opening it — both are spared (Iceberg's
        orphan-file-removal retention interval analog). Defaults come
        from the table (``vacuum_retain_last``/``vacuum_min_age_seconds``,
        env ``ADSCRAPER_SPARK_VACUUM_RETAIN_LAST``/``..._VACUUM_MIN_AGE``).
        """
        import shutil

        if retain_last is None:
            retain_last = self.vacuum_retain_last
        if min_age_seconds is None:
            min_age_seconds = self.vacuum_min_age_seconds
        now = time.time()
        head = self.current_snapshot_id()
        all_ids = self.snapshots()
        keep = {head} | {i for i in (retain_ids or ()) if i}
        if retain_last:
            keep.update(all_ids[-retain_last:])
        keep.update(i for i in all_ids if i > head)
        removed_snapshots = []
        spared_by_age: list[int] = []

        def _age_clock(sid: int, own_mtime: float) -> float:
            # The reader hazard starts when the snapshot stops being
            # HEAD, not when it was created: a reader that pinned HEAD
            # moments before a new commit holds a snapshot whose OWN
            # mtime may be arbitrarily old. The supersession moment is
            # (conservatively) the next-larger surviving manifest's
            # creation — so the grace counts from whichever is later.
            nxt = next((i for i in all_ids if i > sid), None)
            if nxt is None:
                return own_mtime
            try:
                return max(own_mtime, os.path.getmtime(os.path.join(
                    self.path, "meta", f"snap-{nxt}.json")))
            except OSError:
                return now  # successor unreadable: maximal caution

        for sid in all_ids:
            if sid in keep:
                continue
            p = os.path.join(self.path, "meta", f"snap-{sid}.json")
            try:
                if now - _age_clock(sid, os.path.getmtime(p)) \
                        < min_age_seconds:
                    # a concurrent reader may hold this id between its
                    # pin and the snapshot() open — too fresh to drop
                    spared_by_age.append(sid)
                    continue
                os.remove(p)
            except OSError:
                # stat/remove failed (permissions, transient FS error):
                # the manifest is (or may still be) present and
                # readable, so its data files MUST stay live — falling
                # through without sparing would orphan-delete the data
                # of a snapshot that still lists it (fail open)
                spared_by_age.append(sid)
                continue
            removed_snapshots.append(sid)
        live_files: set[str] = set()
        for sid in list(keep) + spared_by_age:
            if sid in all_ids and sid not in removed_snapshots:
                try:
                    live_files.update(self.snapshot(sid).files)
                except FileNotFoundError:
                    # manifest vanished between listing and open (a
                    # concurrent vacuum won the race): any file it
                    # shared with a retained snapshot is accumulated
                    # via that snapshot's own manifest
                    pass
        removed_dirs = 0
        data_root = os.path.join(self.path, "data")
        for name in os.listdir(data_root):
            p = os.path.join(data_root, name)
            if p in live_files:
                continue
            try:
                if now - os.path.getmtime(p) < min_age_seconds:
                    continue  # possibly an in-flight append's files
            except OSError:
                continue
            shutil.rmtree(p, ignore_errors=True)
            removed_dirs += 1
        return {"removed_snapshots": removed_snapshots,
                "removed_data_dirs": removed_dirs,
                "retained": sorted(keep & set(all_ids))}

    def read_since(self, spark: SparkSession,
                   snapshot_id: int) -> DataFrame | None:
        """Rows appended after ``snapshot_id`` (incremental read: the
        data files in HEAD that the base snapshot does not list —
        Iceberg's incremental-scan analog). None if nothing new."""
        head = self.snapshot()
        base = (set(self.snapshot(snapshot_id).files)
                if snapshot_id else set())
        new = [f for f in head.files if f not in base]
        if not new:
            return None
        return self._reader(spark, head).parquet(*new)

    def properties(self) -> dict:
        return self.snapshot().properties

    def reset_to(self, snapshot_id: int) -> None:
        """Roll HEAD back to a known snapshot (resume path: orphan
        snapshots from a crashed wave become unreferenced)."""
        if snapshot_id != 0 and not os.path.exists(
                os.path.join(self.path, "meta", f"snap-{snapshot_id}.json")):
            raise CommitError(f"unknown snapshot {snapshot_id}")
        # clear any snapshots beyond the target so new commits don't collide
        for sid in self.snapshots():
            if sid > snapshot_id:
                os.remove(os.path.join(self.path, "meta", f"snap-{sid}.json"))
        self._write_head_file(snapshot_id)
