"""Per-type bucketed parquet tables with keyed last-write-wins upsert (MERGE).

The reference relies on Cassandra's LSM upsert-as-insert: ``model.save()``
is a blind INSERT that overwrites by primary key ``id``
(reference ``moisturizer/consumer.py:69-70``, pk ``moisturizer/models.py:53-54``).
Cassandra routes each write to the partition owning the key's token; it
never rewrites unrelated partitions. This module re-expresses that routing
for a parquet warehouse.

Layout — a miniature transactional table format:

.. code-block:: text

    <path>/
      _manifest.json            current-version pointer (atomic os.replace)
      _versions/v000001.json    immutable manifest history (time travel /
                                change-data-feed; data files survive vacuum
                                for the last ``retain_versions`` versions)
      data/v000001/__bucket=0/  parquet files for bucket 0 written at v1
      data/v000002/__bucket=3/  bucket 3 as rewritten by the v2 commit
      ...

* Rows route to ``crc32(key) % n_buckets`` — computable both JVM-side
  (``F.crc32``) and driver-side (``zlib.crc32``), so point ops prune
  without a scan.
* The manifest maps bucket → list of data directories, plus the table
  schema and the previous version's directories (kept as a grace set for
  in-flight readers). Reads hand that schema to the parquet reader, so a
  scan plans without a schema-inference job: files written before an
  add-only column read it as NULL, and files written before a column's
  type widened read as the wider type (the commit records the widening,
  see ``_merge_schemas``). Commit = write-temp + ``os.replace`` of one small
  JSON file: readers see the old or the new version, never a half-written
  table, and a crash between data write and manifest swap leaves only
  unreferenced orphan files (vacuumed by the next commit).
* ``upsert`` (MERGE) rewrites ONLY the buckets containing incoming keys:
  union(existing-in-bucket, incoming) → ``row_number`` dedup over the key
  ordered by ``(last_modified DESC, arrival seq DESC, incoming-beats-
  existing)`` — one shuffle on the merge key, map-side combinable, skew
  handled by AQE. Untouched buckets' files are carried over by reference
  (their paths land unchanged in the new manifest).
* ``append`` adds new files to buckets without any read or dedup — the
  dead-letter log path.

Scale note (100 TB): this is the copy-on-write MERGE strategy of
Delta/Iceberg with file-level pruning, specialized to hash buckets. The
same call sites map 1:1 onto Delta ``MERGE INTO t USING s ON t.id = s.id``
with deletion vectors; the public API (``upsert``/``read``/``lookup``/
``delete_where``) is format-agnostic so swapping the backend is a
one-file change. Write amplification per batch is bounded by the bytes of
the touched buckets, not the table; raise ``n_buckets`` with table size
(buckets: files :: Cassandra vnodes : SSTables).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
import zlib

from pyspark.sql import DataFrame, Row, SparkSession, Window, functions as F, types as T

# Incoming rows beat existing rows on last_modified ties (LWW upsert).
_PRECEDENCE_COL = "__precedence"
_ROWNUM_COL = "__rn"
_BUCKET_COL = "__bucket"
_MANIFEST = "_manifest.json"


class EchoTooLarge(ValueError):
    """delete_where(echo=True) matched more rows than the driver should
    collect; retry with echo=False (bulk delete) or a narrower predicate."""


class VersionNotRetained(ValueError):
    """Time-travel read of a version whose files were vacuumed (or that
    never existed); raise ``retain_versions`` to keep more history."""


class ParquetTable:
    """One keyed table stored as a bucketed parquet directory with
    manifest-pointer commits."""

    def __init__(self, spark: SparkSession, path: str, key: str = "id",
                 n_buckets: int = 16, retain_versions: int = 1,
                 on_commit=None):
        self.spark = spark
        self.path = path
        self.key = key
        self.n_buckets = n_buckets
        # how many table versions stay readable: 1 = current only (plus the
        # immediately-prior grace set for in-flight readers). Raise to keep
        # history for time travel / change-data-feed; data files of retained
        # versions survive vacuum. Manifest copies under _versions/ are tiny
        # and always kept (they alone don't preserve data files).
        self.retain_versions = max(1, retain_versions)
        # optional zero-arg callback fired after each committed version —
        # the registry uses it to keep registered SQL views tracking the
        # table head (temp views pin the file snapshot they were built on)
        self.on_commit = on_commit

    # -- manifest -----------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def _version_dir(self) -> str:
        return os.path.join(self.path, "_versions")

    def _load_version_manifest(self, version: int) -> dict | None:
        try:
            with open(os.path.join(self._version_dir(), f"v{version:06d}.json")) as fh:
                return json.load(fh)
        except (FileNotFoundError, NotADirectoryError):
            return None

    def _load_manifest(self) -> dict | None:
        try:
            with open(self._manifest_path()) as fh:
                return json.load(fh)
        except (FileNotFoundError, NotADirectoryError):
            return None

    def _legacy_files(self) -> list[str]:
        """Top-level parquet files from a pre-manifest (or externally
        written) directory; migrated into the bucketed layout on the
        first write through this class."""
        if not os.path.isdir(self.path):
            return []
        return [n for n in os.listdir(self.path) if n.endswith(".parquet")]

    def _commit(self, buckets: dict[int, list[str]], schema: T.StructType,
                prev: dict | None, txn: dict[str, int] | None = None) -> None:
        """Atomically publish a new table version, then vacuum files no
        longer referenced by it or by the immediately previous version
        (grace set for in-flight readers).

        ``txn`` records writer-app watermarks ({app_id: version}) in the
        same atomic swap as the data pointer — the Delta txnAppId/
        txnVersion idempotent-write pattern for streaming foreachBatch
        sinks (see :meth:`txn_version`)."""
        manifest = {
            "version": (prev["version"] + 1) if prev else 1,
            "key": self.key,
            "n_buckets": self.n_buckets,
            "schema": schema.json(),
            "buckets": {str(b): dirs for b, dirs in sorted(buckets.items()) if dirs},
            "prior_dirs": sorted(_manifest_dirs(prev)) if prev else [],
            "txn": {**((prev or {}).get("txn") or {}), **(txn or {})},
            # retention is a property of the TABLE, not of whichever handle
            # happens to write next: persist the max ever requested so a
            # low-retention writer (e.g. a default Registry beside a
            # retain_versions=10 Engine) cannot vacuum history that other
            # handles' time travel / CDF / incremental views depend on
            "retain_versions": max(
                self.retain_versions, (prev or {}).get("retain_versions", 1)
            ),
        }
        os.makedirs(self.path, exist_ok=True)
        # History copy first (crash between the two writes leaves only an
        # extra history file, never a current pointer without history).
        os.makedirs(self._version_dir(), exist_ok=True)
        hist = os.path.join(self._version_dir(), f"v{manifest['version']:06d}.json")
        tmp = hist + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, hist)
        tmp = self._manifest_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, self._manifest_path())  # the commit point
        self._vacuum(manifest)
        if self.on_commit is not None:
            self.on_commit()

    def _vacuum(self, manifest: dict) -> None:
        keep = _manifest_dirs(manifest) | set(manifest.get("prior_dirs", []))
        # Retained history versions pin their data files (time travel / CDF).
        # Honor the manifest's persisted retention, not just this handle's.
        retain = max(self.retain_versions, manifest.get("retain_versions", 1))
        current = manifest["version"]
        for v in range(max(1, current - retain + 1), current):
            keep |= _manifest_dirs(self._load_version_manifest(v))
        data = os.path.join(self.path, "data")
        if os.path.isdir(data):
            for vname in os.listdir(data):
                vdir = os.path.join(data, vname)
                if not os.path.isdir(vdir):
                    continue
                kept_any = False
                for child in os.listdir(vdir):
                    if not child.startswith(f"{_BUCKET_COL}="):
                        continue
                    rel = os.path.join("data", vname, child)
                    if rel in keep:
                        kept_any = True
                    else:
                        shutil.rmtree(os.path.join(vdir, child), ignore_errors=True)
                if not kept_any:
                    shutil.rmtree(vdir, ignore_errors=True)
        # Migrated legacy top-level files (and stale tmp manifests) are
        # garbage once a manifest exists.
        for name in os.listdir(self.path):
            if name.endswith(".parquet") or name == "_SUCCESS" or name.startswith(f"{_MANIFEST}.tmp-"):
                p = os.path.join(self.path, name)
                (shutil.rmtree if os.path.isdir(p) else os.remove)(p)

    # -- bucket routing -----------------------------------------------------
    def _bucket_expr(self, df: DataFrame):
        """JVM-side bucket id; crc32 so the driver can compute the same
        routing for point ops (``bucket_of``)."""
        if self.key not in df.columns:
            return F.lit(0)
        key_str = F.coalesce(F.col(self.key).cast("string"), F.lit(""))
        return F.pmod(F.crc32(F.encode(key_str, "UTF-8")), F.lit(self.n_buckets)).cast("int")

    def bucket_of(self, value) -> int:
        """Driver-side twin of :meth:`_bucket_expr`."""
        s = "" if value is None else str(value)
        return zlib.crc32(s.encode("utf-8")) % self.n_buckets

    # -- reads --------------------------------------------------------------
    def exists(self) -> bool:
        return self._load_manifest() is not None or bool(self._legacy_files())

    def read(self, version: int | None = None) -> DataFrame:
        """Current table state, or a historical version (time travel) when
        ``version`` is given and still retained (see ``retain_versions``).
        Raises :class:`VersionNotRetained` for vacuumed/unknown versions."""
        if version is not None:
            man = self._require_version(version)
            return self._read_dirs(sorted(_manifest_dirs(man)), man)
        man = self._load_manifest()
        if man is None:
            return self.spark.read.parquet(self.path)  # legacy / external dir
        return self._read_dirs(sorted(_manifest_dirs(man)), man)

    def _require_version(self, version: int) -> dict:
        if version == 0:
            # synthetic pre-creation state: an empty table. Lets change
            # feeds start from 0 ("everything since the table existed").
            ref = self._load_version_manifest(1) or self._load_manifest() or {}
            return {
                "version": 0,
                "key": self.key,
                "n_buckets": self.n_buckets,
                "schema": ref.get("schema", T.StructType([]).json()),
                "buckets": {},
            }
        man = self._load_version_manifest(version)
        if man is None:
            raise VersionNotRetained(f"version {version} unknown for {self.path}")
        missing = [
            d for d in _manifest_dirs(man)
            if not os.path.isdir(os.path.join(self.path, d))
        ]
        if missing:
            raise VersionNotRetained(
                f"version {version} vacuumed (retain_versions={self.retain_versions}); "
                f"missing {missing[:3]}"
            )
        return man

    def _read_dirs(self, rel_dirs: list[str], man: dict) -> DataFrame:
        schema = T.StructType.fromJson(json.loads(man["schema"]))
        if not rel_dirs:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.path, d) for d in rel_dirs]
        # The manifest schema is the table schema (column order included),
        # so no footer-merging job runs: the reader fills columns a file
        # predates with NULL and widens older files' narrower types.
        return self.spark.read.schema(schema).parquet(*paths)

    def _read_buckets(self, bucket_ids, man: dict) -> DataFrame:
        dirs = []
        for b in sorted(set(bucket_ids)):
            dirs.extend(man["buckets"].get(str(b), []))
        return self._read_dirs(sorted(dirs), man)

    def lookup(self, value) -> DataFrame:
        """Point read: scan only the one bucket that can hold ``value``
        (the Cassandra token-routing read path, reference
        ``moisturizer/views.py`` GET-by-id)."""
        man = self._load_manifest()
        if man is None:
            return self.read().filter(F.col(self.key) == F.lit(value))
        sub = self._read_buckets([self.bucket_of(value)], man)
        return sub.filter(F.col(self.key) == F.lit(value))

    def read_or_empty(self, schema: T.StructType) -> DataFrame:
        if self.exists():
            return self.read()
        return self.spark.createDataFrame([], schema)

    # -- writes -------------------------------------------------------------
    def _write_version(self, df: DataFrame, version: int,
                       cluster_by: list[str] | None = None) -> dict[int, list[str]]:
        """Write one version's data files, partitioned into bucket
        subdirectories. Data lands in a fresh ``data/v{N}`` dir, so this is
        invisible to readers until the manifest commit — and safe even when
        ``df`` reads from this very table (no path is overwritten).

        The pre-write repartition on the bucket column is Delta's
        "optimized write": without it, ``partitionBy`` fans every upstream
        task out into one file per bucket it holds (K partitions × B
        buckets files per batch). With it, each version holds exactly one
        file per non-empty bucket; write parallelism is ``n_buckets``,
        which is the knob that must grow with table size anyway.

        Rows sort by key within each bucket before writing (ZORDER-lite):
        parquet row-group min/max stats then let a pushed-down
        ``key = x`` point lookup skip every row group but one, so the
        point-read cost is O(row-group), not O(bucket)."""
        vdir = os.path.join(self.path, "data", f"v{version:06d}")
        df = df.repartition(self.n_buckets, F.col(_BUCKET_COL))
        sort_cols = cluster_by if cluster_by else (
            [self.key] if self.key in df.columns else []
        )
        if sort_cols:
            df = df.sortWithinPartitions(_BUCKET_COL, *sort_cols)
        df.write.mode("overwrite").partitionBy(_BUCKET_COL).parquet(vdir)
        produced: dict[int, list[str]] = {}
        for child in os.listdir(vdir):
            if child.startswith(f"{_BUCKET_COL}="):
                b = int(child.split("=", 1)[1])
                produced[b] = [os.path.join("data", f"v{version:06d}", child)]
        return produced

    def txn_version(self, app_id: str) -> int | None:
        """Last committed writer version for ``app_id`` (None if it never
        wrote). A foreachBatch sink that passes ``txn=(app_id, batch_id)``
        to its writes and skips batches ``<=`` this value is exactly-once
        under micro-batch replay: the watermark commits atomically with
        the data it describes."""
        man = self._load_manifest()
        if man is None:
            return None
        v = (man.get("txn") or {}).get(app_id)
        return int(v) if v is not None else None

    def clone_to(self, dest_path: str, version: int | None = None) -> "ParquetTable":
        """Zero-copy snapshot CLONE of this table (or of a retained
        historical ``version``) at ``dest_path`` — the lakehouse
        shallow-clone primitive for branching a 100 TB table into an
        experiment without copying a byte: every data file HARD-LINKS
        into the clone's own directory tree (same inodes, no bytes
        moved; falls back to a copy across filesystems), and the clone
        gets its own manifest — version counter starting AT the cloned
        source version (see below) — with the source's schema,
        bucketing, and writer watermarks.

        Hard links — not path references — are what make the clone
        durable: a reference-style clone dies the moment the SOURCE
        table's vacuum drops the shared version directory (the classic
        shallow-clone-vs-VACUUM hazard), while a linked inode survives
        any unlink on the source side. Writes after the clone are
        naturally copy-on-write: each side's new versions land under
        its own path, and each side's vacuum walks only its own tree.

        The clone's manifest starts AT the cloned version number — not
        at 1 — because the linked data dirs keep their source-side
        ``data/v{N}`` names: a clone born at version 1 would eventually
        advance its own counter into a linked dir number and
        ``_write_version``'s mode("overwrite") would clobber that
        snapshot dir, destroying every carried bucket in it (clone of a
        v3 source + two bucket-disjoint upserts = unreadable table).

        Refuses a ``dest_path`` that already holds a table."""
        man = (
            self._require_version(version)
            if version is not None
            else self._load_manifest()
        )
        if man is None:
            raise ValueError(f"{self.path} has no manifest to clone")
        dest = ParquetTable(
            self.spark,
            dest_path,
            key=man["key"],
            n_buckets=man["n_buckets"],
            retain_versions=max(
                self.retain_versions, man.get("retain_versions", 1)
            ),
        )
        if dest._load_manifest() is not None:
            raise ValueError(f"clone target {dest_path} already holds a table")
        # Collect the (src, dst) file pairs serially (cheap metadata
        # walks), then fan the link() calls across a thread pool:
        # os.link releases the GIL, and at 100 TB a table holds millions
        # of files — a serial driver-side loop is minutes of dead time,
        # while 32 threads of pure inode ops track the filesystem's
        # metadata throughput (VERDICT r08 hardening item #3).
        pairs: list[tuple[str, str]] = []
        for rel in sorted(_manifest_dirs(man)):
            src_dir = os.path.join(self.path, rel)
            dst_dir = os.path.join(dest_path, rel)
            os.makedirs(dst_dir, exist_ok=True)
            for fname in os.listdir(src_dir):
                s = os.path.join(src_dir, fname)
                if os.path.isfile(s):
                    pairs.append((s, os.path.join(dst_dir, fname)))

        def _link_one(pair: tuple[str, str]) -> None:
            s, t = pair
            try:
                os.link(s, t)
            except OSError:
                shutil.copy2(s, t)  # cross-device: degrade to copy

        if len(pairs) <= 8:
            for pair in pairs:
                _link_one(pair)
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=32) as pool:
                # list() forces iteration so a failed link raises here,
                # BEFORE the manifest commit publishes the clone
                list(pool.map(_link_one, pairs))
        # Synthetic prev: version counter continues from the source (so
        # the clone's next write lands in a FRESH data/v dir, never a
        # linked one), but with no buckets/prior_dirs — the clone's first
        # vacuum must not treat source history as droppable garbage, and
        # its manifest must not reference source-side paths.
        synthetic_prev = {
            "version": man["version"] - 1,
            "buckets": {},
            "txn": {},
            "retain_versions": dest.retain_versions,
        }
        dest._commit(
            {int(b): list(d) for b, d in man["buckets"].items()},
            T.StructType.fromJson(json.loads(man["schema"])),
            synthetic_prev if man["version"] > 1 else None,
            txn=dict(man.get("txn") or {}) or None,
        )
        return dest

    def commit_txn_only(self, txn: tuple[str, int] | dict[str, int]) -> None:
        """Advance writer watermark(s) WITHOUT touching data: every
        bucket's files carry over verbatim into a new manifest version
        that differs only in its ``txn`` map. The IVM views' empty-delta
        path — the cursor must still advance (else every refresh replays
        the same delta), but nothing was written."""
        man = self._load_manifest()
        if man is None:
            raise ValueError(f"{self.path} has no manifest to advance")
        carried = {int(b): list(d) for b, d in man["buckets"].items()}
        schema = T.StructType.fromJson(json.loads(man["schema"]))
        if isinstance(txn, tuple):
            txn = dict([txn])
        self._commit(carried, schema, man, txn=txn)

    def overwrite(
        self,
        df: DataFrame,
        txn: tuple[str, int] | dict[str, int] | None = None,
    ) -> None:
        """Replace the full table contents (DDL-scale op: type migration,
        rollup refresh, compaction). All buckets rewritten. ``txn`` may be
        one ``(app_id, version)`` pair or a dict of several — a view
        maintained from MULTIPLE sources commits every source cursor in
        the same atomic swap (the two-table IVM join view)."""
        prev = self._load_manifest()
        version = (prev["version"] + 1) if prev else 1
        with_bucket = df.withColumn(_BUCKET_COL, self._bucket_expr(df))
        produced = self._write_version(with_bucket, version)
        if isinstance(txn, tuple):
            txn = dict([txn])
        self._commit(produced, _strip_internal(df.schema), prev, txn=txn)

    def append(self, df: DataFrame, txn: tuple[str, int] | None = None) -> None:
        """Blind append (no key dedup): new files join each bucket's list.
        The dead-letter log path — no read, no shuffle beyond the write.
        ``txn`` commits a writer watermark with the data (appends are NOT
        idempotent, so replay-safe callers must check :meth:`txn_version`
        and skip already-applied batches)."""
        prev = self._load_manifest()
        if prev is None and self._legacy_files():
            # fold pre-manifest files in once, then append normally
            self.overwrite(self.spark.read.parquet(self.path))
            prev = self._load_manifest()
        version = (prev["version"] + 1) if prev else 1
        with_bucket = df.withColumn(_BUCKET_COL, self._bucket_expr(df))
        produced = self._write_version(with_bucket, version)
        buckets: dict[int, list[str]] = {}
        if prev:
            buckets = {int(b): list(dirs) for b, dirs in prev["buckets"].items()}
        for b, dirs in produced.items():
            buckets.setdefault(b, []).extend(dirs)
        schema = _merge_schemas(prev, df.schema)
        self._commit(buckets, schema, prev, txn=dict([txn]) if txn else None)

    def upsert(
        self,
        incoming: DataFrame,
        order_col: str = "last_modified",
        seq_col: str | None = None,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """MERGE ``incoming`` into the table, last-write-wins by ``key``,
        rewriting only the buckets that contain incoming keys.

        Within-batch duplicates also collapse to the newest row (the
        reference processes messages sequentially so later messages win —
        SURVEY §7 risk 4). Ordering: ``order_col`` (event time) desc, then
        ``seq_col`` (arrival order within the batch, if provided) desc,
        then incoming-beats-existing precedence. ``seq_col`` is consumed
        here and never stored.
        """
        if seq_col is not None and seq_col not in incoming.columns:
            seq_col = None
        prev = self._load_manifest()
        inc = incoming.withColumn(_BUCKET_COL, self._bucket_expr(incoming))

        if prev is None:
            if self._legacy_files():
                existing = self.spark.read.parquet(self.path)
            else:  # first write: all incoming buckets, no existing side
                merged = self._dedup(
                    inc.withColumn(_PRECEDENCE_COL, F.lit(1)), order_col, seq_col
                )
                produced = self._write_version(merged, 1)
                self._commit(produced, _strip_internal(merged.schema), None,
                             txn=dict([txn]) if txn else None)
                return
            touched = None  # legacy migration rewrites everything
            carried: dict[int, list[str]] = {}
        else:
            # One tiny agg job (≤ n_buckets groups) buys per-bucket pruning
            # of the merge read AND the rewrite.
            touched = sorted(
                r[0] for r in inc.select(_BUCKET_COL).distinct().collect()
            )
            existing = self._read_buckets(touched, prev)
            carried = {
                int(b): list(dirs)
                for b, dirs in prev["buckets"].items()
                if int(b) not in set(touched)
            }

        # Add-only schema evolution: align both sides on the union of columns.
        all_cols = list(dict.fromkeys(
            [c for c in existing.columns if c != _BUCKET_COL]
            + [c for c in incoming.columns]
        ))
        existing = _with_missing(existing, incoming.schema, all_cols)
        incoming_aligned = _with_missing(inc.drop(_BUCKET_COL), existing.schema, all_cols)
        unioned = (
            existing.withColumn(_PRECEDENCE_COL, F.lit(0))
            .unionByName(incoming_aligned.withColumn(_PRECEDENCE_COL, F.lit(1)))
        )
        merged = self._dedup(unioned, order_col, seq_col)
        merged = merged.withColumn(_BUCKET_COL, self._bucket_expr(merged))
        version = (prev["version"] + 1) if prev else 1
        produced = self._write_version(merged, version)
        carried.update(produced)
        schema = _merge_schemas(prev, merged.drop(_BUCKET_COL).schema)
        self._commit(carried, schema, prev, txn=dict([txn]) if txn else None)

    def _dedup(self, df: DataFrame, order_col: str, seq_col: str | None = None) -> DataFrame:
        order = [F.col(_PRECEDENCE_COL).desc()]
        if seq_col is not None and seq_col in df.columns:
            order.insert(0, F.col(seq_col).desc_nulls_last())
        if order_col in df.columns:
            order.insert(0, F.col(order_col).desc_nulls_last())
        w = Window.partitionBy(self.key).orderBy(*order)
        drop_cols = [_ROWNUM_COL, _PRECEDENCE_COL] + ([seq_col] if seq_col else [])
        return (
            df.withColumn(_ROWNUM_COL, F.row_number().over(w))
            .filter(F.col(_ROWNUM_COL) == 1)
            .drop(*drop_cols)
        )

    # -- deletes ------------------------------------------------------------
    def delete_by_key(self, values) -> list[Row]:
        """Point delete: touches only the buckets owning ``values``
        (computed driver-side — no scan of the rest of the table). Returns
        the deleted rows as the list already collected on the driver (the
        echo, reference ``tests/test_views.py:300-305``): a DataFrame over
        them would cost a Spark job to read back."""
        values = [str(v) for v in values]
        man = self._load_manifest()
        if man is None:
            return self.delete_where(F.col(self.key).isin(values)).collect()
        buckets = sorted({self.bucket_of(v) for v in values})
        sub = self._read_buckets(buckets, man)
        cond = F.col(self.key).isin(values)
        rows = sub.filter(cond).collect()
        if rows:  # no match: no rewrite, no new version
            self._rewrite_buckets(buckets, sub.filter(~cond), man)
        return rows

    def delete_where(self, condition, echo: bool = True,
                     echo_limit: int = 100_000) -> DataFrame:
        """Delete matching rows; returns them (the reference's DELETE
        echoes deleted rows). Buckets with no matching row are carried
        over untouched.

        ``echo=True`` collects the deleted rows to the driver, guarded by
        ``echo_limit`` (raises :class:`EchoTooLarge` beyond it — a bulk
        delete should pass ``echo=False``, which returns an
        executor-materialized DataFrame instead of collecting).
        """
        df = self.read()
        matched = df.filter(condition)
        man = self._load_manifest()
        if echo:
            rows = matched.limit(echo_limit + 1).collect()
            if len(rows) > echo_limit:
                raise EchoTooLarge(
                    f"delete_where matched > {echo_limit} rows; "
                    "pass echo=False for bulk deletes"
                )
            echo_df = self.spark.createDataFrame(rows, df.schema)
            affected = sorted(
                {self.bucket_of(r[self.key]) for r in rows}
                if self.key in df.columns else ({0} if rows else set())
            )
            if not rows:
                return echo_df
        else:
            # Materialize before the rewrite so the returned frame survives
            # vacuuming of the files it came from.
            echo_df = matched.localCheckpoint(eager=True)
            with_b = matched.withColumn(_BUCKET_COL, self._bucket_expr(matched))
            affected = sorted(
                r[0] for r in with_b.select(_BUCKET_COL).distinct().collect()
            )
            if not affected:
                return echo_df
        if man is None:
            # legacy dir: migrate to the bucketed layout via full rewrite
            self.overwrite(df.filter(~condition))
            return echo_df
        kept = self._read_buckets(affected, man).filter(~condition)
        self._rewrite_buckets(affected, kept, man)
        return echo_df

    def _rewrite_buckets(self, bucket_ids, kept: DataFrame, man: dict) -> None:
        kept = kept.withColumn(_BUCKET_COL, self._bucket_expr(kept))
        produced = self._write_version(kept, man["version"] + 1)
        buckets = {
            int(b): list(dirs)
            for b, dirs in man["buckets"].items()
            if int(b) not in set(bucket_ids)
        }
        buckets.update(produced)
        self._commit(buckets, T.StructType.fromJson(json.loads(man["schema"])), man)

    def history(self) -> list[dict]:
        """Commit log (newest first): one entry per known version with the
        buckets it rewrote and the txn watermarks it carried — the DESCRIBE
        HISTORY surface. Reads only the tiny manifest JSONs."""
        cur = self._load_manifest()
        if cur is None:
            return []
        out = []
        prev = None
        for v in range(1, cur["version"] + 1):
            man = self._load_version_manifest(v)
            if man is None:
                prev = None
                continue
            entry = {
                "version": v,
                "buckets_changed": _changed_buckets(prev, man) if prev
                else sorted(int(b) for b in man["buckets"]),
                "txn": man.get("txn") or {},
                "readable": not any(
                    not os.path.isdir(os.path.join(self.path, d))
                    for d in _manifest_dirs(man)
                ),
            }
            out.append(entry)
            prev = man
        return list(reversed(out))

    # -- change data feed ---------------------------------------------------
    def table_changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Row-level changes between two retained versions — the Delta
        change-data-feed surface, reconstructed by diffing version states.

        Returns the table columns plus ``_change_type`` (``insert`` /
        ``delete`` / ``update_preimage`` / ``update_postimage``) and
        ``_commit_version`` (the later version of the pair that produced
        the change). Ranges emit one diff per consecutive version pair,
        so per-commit granularity is preserved.

        Scale: a version pair is compared ONLY on buckets whose directory
        lists differ between the two manifests — an upsert that touched 2
        of 1024 buckets diffs 2 buckets' files, not the table. Within a
        changed bucket the diff is one full-outer join on the key (both
        sides arrive bucket-pruned) plus a null-safe struct comparison;
        keys are co-partitioned so AQE can plan it shuffle-light.
        """
        cur = self._load_manifest()
        if cur is None:
            raise VersionNotRetained(f"{self.path} has no manifest")
        if to_version is None:
            to_version = cur["version"]
        if not from_version < to_version:
            raise ValueError("from_version must be < to_version")
        diffs = [
            self._diff_pair(v, v + 1) for v in range(from_version, to_version)
        ]
        out = diffs[0]
        for d in diffs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def _diff_pair(self, v_old: int, v_new: int) -> DataFrame:
        man_old = self._require_version(v_old)
        man_new = self._require_version(v_new)
        changed = _changed_buckets(man_old, man_new)
        schema_new = T.StructType.fromJson(json.loads(man_new["schema"]))
        cols = [f.name for f in schema_new.fields]
        empty = self.spark.createDataFrame([], schema_new).select(
            *cols,
            F.lit("insert").alias("_change_type"),
            F.lit(v_new).cast("int").alias("_commit_version"),
        )
        if not changed:
            return empty
        old = _with_missing(self._read_buckets(changed, man_old), schema_new, cols)
        new = self._read_buckets(changed, man_new)
        k = self.key
        if k not in cols:  # keyless (append-only log): emit adds only
            return new.exceptAll(old).select(
                *cols,
                F.lit("insert").alias("_change_type"),
                F.lit(v_new).cast("int").alias("_commit_version"),
            )
        o = old.select(F.col(k).alias("_k"), F.struct(*cols).alias("_o"))
        n = new.select(F.col(k).alias("_k"), F.struct(*cols).alias("_n"))
        j = o.join(n, on="_k", how="full_outer")
        typed = j.select(
            "_o",
            "_n",
            F.when(F.col("_o").isNull(), F.lit("insert"))
            .when(F.col("_n").isNull(), F.lit("delete"))
            .when(~F.col("_o").eqNullSafe(F.col("_n")), F.lit("update"))
            .alias("_ct"),
        ).filter(F.col("_ct").isNotNull())
        pre = typed.filter(F.col("_ct").isin("delete", "update")).select(
            F.col("_o.*"),
            F.when(F.col("_ct") == "delete", F.lit("delete"))
            .otherwise(F.lit("update_preimage"))
            .alias("_change_type"),
        )
        post = typed.filter(F.col("_ct").isin("insert", "update")).select(
            F.col("_n.*"),
            F.when(F.col("_ct") == "insert", F.lit("insert"))
            .otherwise(F.lit("update_postimage"))
            .alias("_change_type"),
        )
        return pre.unionByName(post).withColumn(
            "_commit_version", F.lit(v_new).cast("int")
        )

    # -- maintenance --------------------------------------------------------
    def file_stats(self) -> tuple[int, int]:
        """(n_data_files, total_bytes) of the current table version."""
        man = self._load_manifest()
        n, total = 0, 0
        if man is None:
            if not os.path.isdir(self.path):
                return 0, 0
            for name in self._legacy_files():
                n += 1
                total += os.path.getsize(os.path.join(self.path, name))
            return n, total
        for rel in _manifest_dirs(man):
            d = os.path.join(self.path, rel)
            if not os.path.isdir(d):
                continue
            for name in os.listdir(d):
                if name.endswith(".parquet"):
                    n += 1
                    total += os.path.getsize(os.path.join(d, name))
        return n, total

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024,
                cluster_by: list[str] | None = None) -> int:
        """Rewrite the table into one file per non-empty bucket (capped by
        ``target_file_bytes`` total sizing); returns the new file count.

        Streaming micro-batch MERGEs and appends leave one file per shuffle
        partition per batch; at high batch frequency a bucket degrades into
        many KB-sized files and scan planning (footer reads, manifest
        lists, task scheduling) starts to dominate — the classic small-file
        problem. Compaction is the same write-new-version + manifest-swap
        path as every rewrite, so readers never see a half-compacted table.
        On Delta this maps to OPTIMIZE (+ ZORDER); run it off the ingest
        path on a schedule.

        ``cluster_by`` re-sorts each bucket by the given columns instead
        of the key (OPTIMIZE ZORDER-lite, lexicographic): parquet
        row-group min/max stats on those columns then let pushed-down
        range/equality predicates skip row groups — choose the columns
        your scans filter on. When clustering, ``cluster_by`` should
        lead with the most selective filter column; a ``cluster_by``
        compact always rewrites (the point is the new sort order, not
        the file count).
        """
        n_files, total_bytes = self.file_stats()
        target = max(1, -(-total_bytes // max(target_file_bytes, 1)))
        df = self.read()
        with_b = df.withColumn(_BUCKET_COL, self._bucket_expr(df))
        nonempty = with_b.select(_BUCKET_COL).distinct().count()
        if cluster_by is None and n_files <= max(target, nonempty):
            return n_files
        # One partition per bucket → one file per non-empty bucket dir.
        prev = self._load_manifest()
        version = (prev["version"] + 1) if prev else 1
        compacted = with_b.repartition(self.n_buckets, F.col(_BUCKET_COL))
        produced = self._write_version(compacted, version, cluster_by=cluster_by)
        self._commit(produced, _strip_internal(df.schema), prev)
        return self.file_stats()[0]

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def _manifest_dirs(man: dict | None) -> set[str]:
    if not man:
        return set()
    return {d for dirs in man["buckets"].values() for d in dirs}


def _changed_buckets(man_old: dict, man_new: dict) -> list[int]:
    """Buckets whose file lists differ between two manifests — the only
    buckets a version diff must read (directories are immutable once
    written, so identical dir lists ⇒ identical rows)."""
    a, b = man_old["buckets"], man_new["buckets"]
    return sorted(
        int(k) for k in set(a) | set(b) if a.get(k, []) != b.get(k, [])
    )


def _strip_internal(schema: T.StructType) -> T.StructType:
    return T.StructType([f for f in schema.fields if f.name != _BUCKET_COL])


def _merge_schemas(prev: dict | None, new_schema: T.StructType) -> T.StructType:
    """Union of the previous manifest schema and the new write's schema
    (add-only evolution: carried-over buckets keep columns the new write
    may not repeat, and vice versa).

    A column both schemas hold takes the wider of its two types. Reads
    pass this schema to the parquet reader, which can widen a file's
    narrower type but never narrow a wider one, and a MERGE's union
    writes the widened type (DECIMAL(10,2) ∪ DECIMAL(12,2) files as
    DECIMAL(12,2)) while untouched buckets keep the old one."""
    new_schema = _strip_internal(new_schema)
    if prev is None:
        return new_schema
    old = T.StructType.fromJson(json.loads(prev["schema"]))
    new_types = {f.name: f.dataType for f in new_schema.fields}
    merged = [
        T.StructField(f.name, _wider_type(f.dataType, new_types[f.name]),
                      f.nullable, f.metadata)
        if f.name in new_types else f
        for f in old.fields
    ]
    seen = {f.name for f in merged}
    for f in new_schema.fields:
        if f.name not in seen:
            merged.append(f)
    return T.StructType(merged)


_INTEGRAL_RANK = {T.ByteType: 0, T.ShortType: 1, T.IntegerType: 2, T.LongType: 3}


def _wider_type(old: T.DataType, new: T.DataType) -> T.DataType:
    """The type that files of either type read back as: Spark's union
    widening for decimals and integers. Any other pair keeps ``old``."""
    if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
        scale = max(old.scale, new.scale)
        digits = max(old.precision - old.scale, new.precision - new.scale)
        return T.DecimalType(min(38, digits + scale), scale)
    ranks = (_INTEGRAL_RANK.get(type(old)), _INTEGRAL_RANK.get(type(new)))
    if None not in ranks and ranks[1] > ranks[0]:
        return new
    return old


def _with_missing(df: DataFrame, other_schema: T.StructType, ordered: list[str]) -> DataFrame:
    """Project ``df`` to ``ordered`` columns, adding typed nulls for ones it
    lacks (add-only evolution: columns are only ever added)."""
    other = {f.name: f.dataType for f in other_schema.fields}
    own = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for name in ordered:
        if name in own:
            cols.append(F.col(name))
        else:
            cols.append(F.lit(None).cast(other[name]).alias(name))
    return df.select(*cols)
