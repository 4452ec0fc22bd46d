"""Crash-atomic parquet table: versioned generation dirs + manifest flip.

The reference's upsert is atomic because Postgres makes it so
(`etl/load.py:35-57` runs INSERT..ON CONFLICT inside a transaction). The
engine's plain parquet merge (`operators/upsert.merge_parquet`) stages
its rewrite beside the table and swaps each partition directory in by
two renames — fast and ecosystem-readable, but a job killed between
swaps leaves some partitions rewritten and others not, and one killed
between a swap's two renames leaves that partition missing. This module
closes that gap the way every table format (Delta, Iceberg, Hudi) does,
reduced to its essential mechanism:

- **data is immutable**: each commit writes a fresh *generation*
  directory ``<path>/gen-<hex>/`` (a normal, optionally hive-partitioned
  parquet write). Nothing under a published generation is ever mutated.
- **visibility is a pointer**: ``<path>/_MANIFEST.json`` maps each
  partition directory name (``date=2024-01-01``) to the generation that
  currently owns it. Readers resolve the manifest; writers publish a
  version file atomically (full content in one namespace operation —
  see ``_flip``), so every reader sees either the whole commit or none
  of it.
- **failure is garbage, not corruption**: a crash before the flip
  leaves an unreferenced generation dir; the table still reads from the
  old manifest, bit-identical. ``vacuum()`` removes unreferenced
  generations once no in-flight reader can hold them open.

Scale notes. The manifest holds one entry per *partition*, not per file
— at 100 TB with daily partitions that is thousands of entries, trivially
JSON-sized (Iceberg needs file-level manifests because it tracks file
stats; partition-level is enough for this engine's pruning model since
parquet footers carry the per-file stats). The flip is O(1) regardless
of data size. Readers group partitions by generation and issue one
parquet scan per generation with an explicit ``basePath``, so partition
pruning and predicate pushdown work exactly as on a plain layout; the
number of generations is bounded by ``vacuum``/compaction cadence.

Metadata I/O is routed through ``operators/fsio.io_for``: bare local
paths take the ``os.*`` fast path; URI paths (``file://``, ``hdfs://``,
``s3a://``…) go through the JVM's Hadoop FileSystem — the same handle
Spark's writers use — so the table works wherever Spark can write. The
commit arbiter needs an atomic fail-if-exists namespace op: POSIX link
locally, no-overwrite rename on HDFS (Delta's HDFSLogStore scheme); on
plain S3 it requires a commit service or conditional-put
(``If-None-Match: *``) — the same contract every table format states
for its log store. That contract is code here, not prose:
``AtomicParquetTable(single_writer=True)`` skips the arbiter for the
scheduler-enforced one-writer deployment, and
``AtomicParquetTable(lock_io=...)`` routes commit arbitration through
an external conditional-put store (``LockIO`` seam — the
S3DynamoDBLogStore shape), with crashed-winner completion on recovery.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from meteo_etl_spark.operators import fsio

MANIFEST_NAME = "_MANIFEST.json"
VERSION_PREFIX = "_MANIFEST.v"
TAG_PREFIX = "_TAG."
_TAG_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]*$")


class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version first (optimistic
    concurrency, first-writer-wins). Re-read the table and retry the
    operation on the new snapshot."""


class LockIO:
    """Commit-arbiter seam for stores WITHOUT atomic create-if-absent
    (plain S3 object stores, where a PUT is last-writer-wins and the
    filesystem arbiter in ``fsio`` cannot arbitrate racing writers).

    Conditional-put shaped — the same contract as Delta's
    S3DynamoDBLogStore / Iceberg's lock-table: an external coordination
    store admits exactly one ``put_if_absent`` per key. The key is
    ``<table_path>#v<N>`` and the stored body is the full manifest
    JSON, so a winner that crashes between acquiring the lock and
    writing the version file to the data store can be *completed* by
    any later writer (``get`` returns the winning body — see
    ``AtomicParquetTable._flip`` recovery).

    Implementations bind this to DynamoDB conditional writes, a
    database unique-key insert, ZooKeeper, etc. The in-repo
    ``InMemoryLockIO`` is the reference implementation used by tests.
    """

    def put_if_absent(self, key: str, body: str) -> bool:
        """Atomically store ``body`` under ``key`` iff absent. True =
        this caller won the commit; False = key already held."""
        raise NotImplementedError

    def get(self, key: str) -> str | None:
        """Return the stored body, or None if the key was never put."""
        raise NotImplementedError


class InMemoryLockIO(LockIO):
    """Process-local LockIO (reference implementation). Real
    deployments back this with a store shared by all writers."""

    def __init__(self) -> None:
        self._entries: dict[str, str] = {}

    def put_if_absent(self, key: str, body: str) -> bool:
        if key in self._entries:
            return False
        self._entries[key] = body
        return True

    def get(self, key: str) -> str | None:
        return self._entries.get(key)


class JdbcLockIO(LockIO):
    """LockIO backed by any SQL database: conditional-put = INSERT into
    a table with a primary key on the lock key — the database's
    uniqueness enforcement IS the arbiter (the same mechanism the
    reference's ``u_loc_time`` constraint uses to arbitrate upserts,
    `etl/db.py:118`). This makes atomic tables on plain object stores
    deployable anywhere a shared database exists — e.g. the Postgres
    the warehouse already talks to.

    The lock table is created on first use; entries are tiny (one row
    per commit) and can be pruned below the table's vacuum horizon."""

    def __init__(self, spark: SparkSession, url: str, table: str = "atomic_commits"):
        from meteo_etl_spark.sources import jdbc as _jdbc

        self._spark = spark
        self._url = url
        self._table = table
        # unbounded-text type per dialect: Derby has CLOB but no TEXT;
        # Postgres/DuckDB/MySQL have TEXT but Postgres has no CLOB
        body_type = "CLOB" if url.startswith("jdbc:derby") else "TEXT"
        if not _jdbc.jdbc_table_exists(spark, url, table):
            try:
                _jdbc._execute_update(
                    spark,
                    url,
                    f'CREATE TABLE {table} ("lock_key" VARCHAR(512) NOT NULL '
                    f'PRIMARY KEY, "body" {body_type} NOT NULL)',
                )
            except Exception:
                if not _jdbc.jdbc_table_exists(spark, url, table):
                    raise

    def _with_statement(self, sql: str, args: list[str], run):
        from meteo_etl_spark.sources.jdbc import driver_connection

        with driver_connection(self._spark, self._url) as conn:
            ps = conn.prepareStatement(sql)
            try:
                for i, v in enumerate(args, start=1):
                    ps.setString(i, v)
                return run(ps)
            finally:
                ps.close()

    def _update(self, sql: str, args: list[str]) -> int:
        return self._with_statement(sql, args, lambda ps: ps.executeUpdate())

    def _query_scalar(self, sql: str, args: list[str]) -> str | None:
        def run(ps):
            rs = ps.executeQuery()
            try:
                return rs.getString(1) if rs.next() else None
            finally:
                rs.close()

        return self._with_statement(sql, args, run)

    def put_if_absent(self, key: str, body: str) -> bool:
        try:
            self._update(
                f'INSERT INTO {self._table} ("lock_key", "body") VALUES (?, ?)',
                [key, body],
            )
            return True
        except Exception:
            # duplicate key = lost the race; anything else (connection
            # failure) must not masquerade as a lost race
            if self.get(key) is not None:
                return False
            raise

    def get(self, key: str) -> str | None:
        return self._query_scalar(
            f'SELECT "body" FROM {self._table} WHERE "lock_key" = ?', [key]
        )


def _version_files(io, path: str) -> list[int]:
    try:
        names = io.listdir(path)
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        if n.startswith(VERSION_PREFIX) and n.endswith(".json"):
            try:
                out.append(int(n[len(VERSION_PREFIX):-len(".json")]))
            except ValueError:
                continue
    return sorted(out)


def is_atomic_table(path: str, spark: SparkSession | None = None) -> bool:
    # A committed version file alone marks the table atomic: the
    # convenience pointer may not exist yet if a writer crashed right
    # after its first commit.
    io = fsio.io_for(path, spark)
    return io.isfile(os.path.join(path, MANIFEST_NAME)) or bool(
        _version_files(io, path)
    )


def load_manifest(path: str, spark: SparkSession | None = None) -> dict | None:
    """Resolve the LIVE manifest (no SparkSession needed for local
    paths; URI paths resolve through the active session's Hadoop FS).

    Commits are arbitrated by version files (``_MANIFEST.v<N>.json`` —
    see ``AtomicParquetTable._flip``); ``_MANIFEST.json`` is only a
    convenience pointer updated after the commit. The live state is
    therefore max(pointer, newest version file) — a crash between
    commit and pointer update loses nothing."""
    path = path.rstrip("/")
    io = fsio.io_for(path, spark)
    best = None
    try:
        best = fsio.read_json(io, os.path.join(path, MANIFEST_NAME))
    except (FileNotFoundError, json.JSONDecodeError):
        pass  # pointer is convenience, never authoritative
    # Newest version file wins; an unparseable one (possible only on a
    # legacy table or a store without atomic link-publish) falls back to
    # the next older parseable version instead of failing every read.
    for v in reversed(_version_files(io, path)):
        if best is not None and v <= best["version"]:
            break
        try:
            best = fsio.read_json(io, os.path.join(path, f"{VERSION_PREFIX}{v}.json"))
            break
        except (FileNotFoundError, json.JSONDecodeError):
            continue
    return best


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table regardless of layout: manifest-resolved if
    atomic, plain ``spark.read.parquet`` otherwise."""
    if is_atomic_table(path, spark):
        return AtomicParquetTable(spark, path).read()
    return spark.read.option("mergeSchema", "true").parquet(path)


class AtomicParquetTable:
    """A parquet table whose commits are all-or-nothing.

    ``partition_col=None`` degenerates to a single ``data`` pointer —
    full-table snapshot semantics, still atomic.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_col: str | None = None,
        *,
        single_writer: bool = False,
        lock_io: LockIO | None = None,
    ):
        """``single_writer`` / ``lock_io`` select the commit arbiter
        for stores without atomic create-if-absent (plain S3 — see
        fsio's store-contract table). Exactly one mode applies:

        - default (both unset): filesystem arbiter — POSIX link /
          no-overwrite HDFS rename. Full concurrent-writer safety on
          local/HDFS; UNSAFE on plain S3 (create is last-writer-wins).
        - ``single_writer=True``: skip the arbiter entirely — the
          version file is a plain put. The caller asserts exactly ONE
          writer ever commits to this table (scheduler-enforced, the
          common object-store deployment). A *sequential* duplicate
          commit is still rejected best-effort (version file already
          visible), but a true in-flight race is UNDETECTED by
          contract.
        - ``lock_io=<LockIO>``: commits are arbitrated by an external
          conditional-put store shared by all writers — full safety on
          any object store (the Delta-S3DynamoDBLogStore shape).
        """
        if single_writer and lock_io is not None:
            raise ValueError("single_writer and lock_io are mutually exclusive")
        self.spark = spark
        self.path = path.rstrip("/")
        self._io = fsio.io_for(self.path, spark)
        self._single_writer = single_writer
        self._lock_io = lock_io
        self.partition_col = partition_col
        m = self._load_manifest()
        if m is not None:
            stored = m.get("partition_col")
            if partition_col is not None and stored != partition_col:
                raise ValueError(
                    f"table at {self.path} is partitioned by {stored!r}, not {partition_col!r}"
                )
            self.partition_col = stored

    # -- manifest ------------------------------------------------------

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST_NAME)

    def exists(self) -> bool:
        return self._io.isfile(self._manifest_path)

    def _load_manifest(self) -> dict | None:
        return load_manifest(self.path, self.spark)

    def _flip(self, manifest: dict, failpoint: Callable[[str], None] | None) -> None:
        """Commit protocol — the Delta-log scheme, one file per version.

        Creating ``_MANIFEST.v<N>.json`` with ``O_CREAT|O_EXCL`` IS the
        commit: the exclusive create arbitrates racing writers (the
        filesystem admits exactly one creator per version — first
        writer wins, the loser gets ``ConcurrentWriteError`` and must
        re-read and retry on the new snapshot). Everything before the
        create is invisible staging; everything after is convenience —
        ``_MANIFEST.json`` is a pointer updated post-commit, and
        readers resolve max(pointer, newest version file), so a crash
        between commit and pointer update loses nothing. The version
        files double as the time-travel history until vacuum.

        The version file is published with its FULL content in one
        namespace operation (``fsio.publish_exclusive``): the body is
        written and flushed to a tmp file first, then atomically moved
        onto the version path — POSIX ``link`` locally, no-overwrite
        ``rename`` through the Hadoop FileSystem on HDFS — so no reader
        can ever observe an existing-but-empty/truncated version file,
        which a create-then-write sequence permits (the dir entry can
        become durable before the data).

        On object stores without atomic create-if-absent (plain S3),
        this arbiter needs a commit service or a conditional-put —
        exactly the deployment contract Delta/Iceberg state for their
        logs."""
        vpath = os.path.join(self.path, f"{VERSION_PREFIX}{manifest['version']}.json")
        body = json.dumps(manifest, indent=1, sort_keys=True)
        if failpoint:
            failpoint("before_flip")
        lost = (
            f"version {manifest['version']} at {self.path} was committed by "
            "another writer; re-read the table and retry"
        )
        if self._lock_io is not None:
            # External conditional-put arbiter (object-store mode): the
            # lock entry IS the commit and carries the full body, so a
            # winner that dies before materializing the version file in
            # the data store can be completed by any later writer.
            key = f"{self.path}#v{manifest['version']}"
            if self._lock_io.put_if_absent(key, body):
                if failpoint:
                    failpoint("after_lock")
                self._io.replace(vpath, body)  # lock winner owns this name
            else:
                if not self._io.isfile(vpath):
                    prior = self._lock_io.get(key)
                    if prior is not None:
                        self._io.replace(vpath, prior)  # complete crashed winner
                raise ConcurrentWriteError(lost)
        elif self._single_writer:
            # No arbiter by contract (exactly one writer). Best-effort
            # rejection of sequential duplicate commits only; a true
            # in-flight race is undetected — documented-unsafe.
            if self._io.isfile(vpath):
                raise ConcurrentWriteError(lost)
            self._io.replace(vpath, body)
        elif not self._io.publish_exclusive(vpath, body):
            raise ConcurrentWriteError(lost)
        self._io.fsync_dir(self.path)
        if failpoint:
            failpoint("after_commit")
        # Post-commit pointer update (never authoritative over a newer
        # version file).
        self._io.replace(self._manifest_path, body)
        self._io.fsync_dir(self.path)
        if failpoint:
            failpoint("after_flip")

    # -- read ----------------------------------------------------------

    def versions(self) -> list[int]:
        """Committed versions still resolvable for time travel (their
        version files exist; generations may be gone post-vacuum)."""
        return _version_files(self._io, self.path)

    # -- tags (named version refs, Iceberg-style) ------------------------

    def tags(self) -> dict[str, int]:
        """Existing tags: name -> version."""
        out: dict[str, int] = {}
        try:
            names = self._io.listdir(self.path)
        except FileNotFoundError:
            return out
        for n in names:
            if n.startswith(TAG_PREFIX) and n.endswith(".json"):
                try:
                    body = fsio.read_json(self._io, os.path.join(self.path, n))
                    out[body["name"]] = int(body["version"])
                except (FileNotFoundError, json.JSONDecodeError, KeyError):
                    continue
        return out

    def tag(self, name: str, version: int | None = None, *, replace: bool = False) -> int:
        """Pin a committed version under a stable name (default: the
        live version). Tagged versions — and the generations they
        reference — SURVIVE vacuum regardless of ``retain_versions``,
        so a tag is the release mechanism: ``tag("train-v3")`` freezes
        the exact snapshot a training run consumed while routine vacuum
        keeps collecting untagged history around it.

        Tags are immutable by default (atomic create-if-absent, same
        arbiter as commits); ``replace=True`` moves an existing one.
        Returns the pinned version."""
        # fullmatch, not match: `$` alone would admit a trailing newline
        # and mint a filename with an embedded control character.
        if not _TAG_NAME_RE.fullmatch(name):
            raise ValueError(
                f"invalid tag name {name!r} (want [A-Za-z0-9][A-Za-z0-9._-]*)"
            )
        if version is None:
            m = self._load_manifest()
            if m is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
            version = int(m["version"])
        # Both paths require the VERSION FILE, not just a live pointer:
        # read(tag=) resolves through _MANIFEST.v<N>.json and vacuum
        # protects only versions whose file exists, so tagging a
        # pointer-only manifest would mint an unreadable, unprotected
        # tag (possible on a legacy table or after a lock-mode crash
        # before the version-file completion).
        if version not in self.versions():
            raise FileNotFoundError(
                f"no committed version {version} at {self.path} "
                f"(available: {self.versions()})"
            )
        tpath = os.path.join(self.path, f"{TAG_PREFIX}{name}.json")
        body = json.dumps({"name": name, "version": version}, sort_keys=True)
        prev_body: str | None = None
        if replace:
            # remember the previous mapping: a failed replace must
            # RESTORE it, not delete the name (the old target's vacuum
            # protection would silently vanish with the tag)
            try:
                prev_body = self._io.read_text(tpath)
            except FileNotFoundError:
                prev_body = None
            self._io.replace(tpath, body)
        elif not self._io.publish_exclusive(tpath, body):
            raise FileExistsError(
                f"tag {name!r} already exists at {self.path} "
                "(pass replace=True to move it)"
            )
        self._io.fsync_dir(self.path)
        # The existence check above and the publish are not atomic.
        # Re-verify AFTER the tag is visible: this catches a vacuum
        # that COMPLETED in the window (its deletions are durable, so
        # the version file is gone here) and rolls the tag back
        # instead of leaving a name that reads FILE_NOT_FOUND. It
        # does NOT close the race against a vacuum still mid-flight —
        # one that snapshotted tags() before the publish and deletes
        # the version file after this check passes. Vacuum already
        # requires a single maintenance writer (no concurrent
        # vacuums); tag() shares that discipline: do not tag while a
        # vacuum is running. read(tag=) failing FILE_NOT_FOUND is the
        # detector if the discipline is broken.
        if version not in self.versions():
            if prev_body is not None:
                self._io.replace(tpath, prev_body)  # restore old mapping
            else:
                self._io.unlink(tpath)
            raise FileNotFoundError(
                f"version {version} was vacuumed while tag {name!r} was "
                f"being published at {self.path}; tag "
                + ("restored to its previous target" if prev_body else "removed")
                + " — re-tag a retained version"
            )
        return version

    def delete_tag(self, name: str) -> None:
        tpath = os.path.join(self.path, f"{TAG_PREFIX}{name}.json")
        if not self._io.isfile(tpath):
            raise FileNotFoundError(f"no tag {name!r} at {self.path}")
        self._io.unlink(tpath)

    def read(self, version: int | None = None, *, tag: str | None = None) -> DataFrame:
        """Current snapshot, or a past one with ``version=N`` (time
        travel) or ``tag="name"`` (named ref). A past version reads its
        retained manifest; it fails with FILE_NOT_FOUND once vacuum has
        collected the generations it references — retention is governed
        by vacuum cadence (tagged versions are always retained), the
        same contract as Delta's VACUUM vs @v time travel."""
        if tag is not None:
            if version is not None:
                raise ValueError("pass version OR tag, not both")
            found = self.tags()
            if tag not in found:
                raise FileNotFoundError(
                    f"no tag {tag!r} at {self.path} (available: {sorted(found)})"
                )
            version = found[tag]
        if version is not None:
            vp = os.path.join(self.path, f"{VERSION_PREFIX}{version}.json")
            try:
                m = fsio.read_json(self._io, vp)
            except FileNotFoundError:
                # Version files ARE the commits (created exclusively at
                # commit time), so absence means never committed or
                # already vacuumed.
                raise FileNotFoundError(
                    f"no committed version {version} at {self.path} "
                    f"(available: {self.versions()})"
                ) from None
            return self._read_manifest(m)
        m = self._load_manifest()
        if m is None:
            raise FileNotFoundError(f"no {MANIFEST_NAME} at {self.path}")
        return self._read_manifest(m)

    def _read_manifest(self, m: dict) -> DataFrame:
        if m["partition_col"] is None:
            return self.spark.read.option("mergeSchema", "true").parquet(
                os.path.join(self.path, m["data"])
            )
        # One scan per generation (explicit basePath keeps hive partition
        # discovery + pruning working on the selected subdirs), unioned
        # by name so generations may differ by added-nullable columns.
        by_gen: dict[str, list[str]] = {}
        for part_dir, gen in m["partitions"].items():
            by_gen.setdefault(gen, []).append(part_dir)
        out: DataFrame | None = None
        for gen, part_dirs in sorted(by_gen.items()):
            base = os.path.join(self.path, gen)
            df = (
                self.spark.read.option("basePath", base)
                .option("mergeSchema", "true")
                .parquet(*[os.path.join(base, d) for d in sorted(part_dirs)])
            )
            out = df if out is None else out.unionByName(df, allowMissingColumns=True)
        if out is None:
            # Valid empty table: a manifest with no partitions.
            raise FileNotFoundError(f"table at {self.path} has no partitions")
        return out

    # -- write ---------------------------------------------------------

    def _stage_generation(self, df: DataFrame) -> tuple[str, list[str]]:
        """Write one immutable generation dir; return (gen_name,
        partition dir names inside it)."""
        gen = f"gen-{uuid.uuid4().hex[:12]}"
        gen_path = os.path.join(self.path, gen)
        writer = df.write.mode("error")
        if self.partition_col:
            writer = writer.partitionBy(self.partition_col)
        writer.parquet(gen_path)
        if not self.partition_col:
            return gen, []
        parts = [
            d
            for d in self._io.listdir(gen_path)
            if d.startswith(f"{self.partition_col}=")
            and self._io.isdir(os.path.join(gen_path, d))
        ]
        return gen, parts

    def overwrite(self, df: DataFrame, *, _failpoint: Callable[[str], None] | None = None) -> None:
        """Replace the whole table in one atomic commit."""
        gen, parts = self._stage_generation(df)
        old = self._load_manifest() or {"version": 0}
        manifest = {
            "version": old["version"] + 1,
            "partition_col": self.partition_col,
        }
        if self.partition_col:
            manifest["partitions"] = {p: gen for p in parts}
        else:
            manifest["data"] = gen
        self._flip(manifest, _failpoint)

    def overwrite_partitions(
        self,
        df: DataFrame,
        *,
        drop: list[str] | None = None,
        _failpoint: Callable[[str], None] | None = None,
    ) -> None:
        """Replace exactly the partitions present in ``df`` (dynamic
        partition overwrite semantics), atomically. Untouched partitions
        keep pointing at their existing generations — their bytes are
        not read, copied, or moved.

        ``drop`` removes the listed partition dir names (``col=value``)
        from the table in the SAME commit, UNLESS the staged data
        re-creates them — so a caller may pass every candidate
        partition and only the genuinely emptied ones vanish (the
        all-rows-deleted case a CDC tombstone batch produces, where a
        partition must disappear rather than keep its stale
        generation). Dropped generations stay on disk for snapshot
        readers until vacuum."""
        if not self.partition_col:
            raise ValueError("overwrite_partitions requires a partitioned table")
        m = self._load_manifest()
        if m is None:
            return self.overwrite(df, _failpoint=_failpoint)
        gen, parts = self._stage_generation(df)
        partitions = {**m["partitions"], **{p: gen for p in parts}}
        for p in drop or ():
            if p not in parts:  # drop unless the staged data re-creates it
                partitions.pop(p, None)
        manifest = {
            "version": m["version"] + 1,
            "partition_col": self.partition_col,
            "partitions": partitions,
        }
        self._flip(manifest, _failpoint)

    # -- maintenance ---------------------------------------------------

    def vacuum(
        self,
        *,
        retain_versions: int = 1,
        min_orphan_age_seconds: float = 3600.0,
    ) -> list[str]:
        """Delete generation dirs no retained version references (crash
        leftovers and superseded partitions). Returns removed dir names.

        ``retain_versions`` keeps the newest K committed versions
        readable for time travel (default 1 = current only — maximum
        reclamation). Run when no reader started before the oldest
        retained version is still executing — the same
        retention-vs-reader contract as Delta VACUUM.

        Writer safety: a generation referenced by NO version file is
        either crash garbage or a concurrent writer's staging that has
        not committed yet (staging happens before the version-file
        publish). The two are indistinguishable by name, so never-
        referenced generations are collected only once older than
        ``min_orphan_age_seconds`` (mtime-based, default 1 h — the same
        age-threshold contract as Delta's VACUUM retention). Pass 0 only
        when writers are known quiescent (tests, single-writer jobs).
        Generations referenced by a *dropped* version file are known
        committed-and-superseded and are collected regardless of age."""
        if retain_versions < 1:
            raise ValueError("retain_versions must be >= 1 (the live version)")
        m = self._load_manifest()
        if m is None:
            return []
        now = time.time()
        all_versions = _version_files(self._io, self.path)
        if self._lock_io is not None:
            # Complete crashed lock winners BEFORE computing orphans: a
            # commit that exists only in the lock store (winner died
            # between put_if_absent and the version-file replace) has a
            # generation dir referenced by NO version file — the orphan
            # age gate would eventually collect it, and the next
            # writer's crashed-winner completion would then publish a
            # version pointing at deleted data. Commits are strictly
            # sequential, so pending locks can only sit at
            # max(committed)+1, +2, ... — walk them and materialize.
            nxt = (all_versions[-1] + 1) if all_versions else 1
            while True:
                body = self._lock_io.get(f"{self.path}#v{nxt}")
                if body is None:
                    break
                vpath = os.path.join(self.path, f"{VERSION_PREFIX}{nxt}.json")
                if not self._io.isfile(vpath):
                    self._io.replace(vpath, body)
                nxt += 1
            all_versions = _version_files(self._io, self.path)
        keep_versions = set(all_versions[-retain_versions:])
        keep_versions.add(m["version"])  # the live version is never collected
        # Tagged versions are named releases: their version files and
        # generations survive vacuum regardless of retain_versions.
        keep_versions |= {v for v in self.tags().values() if v in set(all_versions)}
        live: set[str] = set()
        referenced: set[str] = set()  # by ANY existing version file
        for v in all_versions:
            try:
                vm = fsio.read_json(
                    self._io, os.path.join(self.path, f"{VERSION_PREFIX}{v}.json")
                )
            except (FileNotFoundError, json.JSONDecodeError):
                vm = None
            if vm is None:
                continue
            gens = (
                set(vm["partitions"].values()) if vm["partition_col"] else {vm["data"]}
            )
            referenced |= gens
            if v in keep_versions:
                live |= gens
        if m["version"] not in all_versions:  # pointer-only live manifest
            live |= (
                set(m["partitions"].values()) if m["partition_col"] else {m["data"]}
            )
            referenced |= live

        def _old_enough(p: str) -> bool:
            try:
                return now - self._io.mtime(p) >= min_orphan_age_seconds
            except OSError:
                return False

        removed = []
        for d in self._io.listdir(self.path):
            full = os.path.join(self.path, d)
            if d.startswith("gen-") and self._io.isdir(full) and d not in live:
                if d not in referenced and not _old_enough(full):
                    continue  # possibly a concurrent writer's staging
                self._io.rmtree(full)
                removed.append(d)
            elif ".tmp-" in d and self._io.isfile(full) and _old_enough(full):
                self._io.unlink(full)  # staging file from a crashed flip
            elif (
                d.startswith(VERSION_PREFIX)
                and d.endswith(".json")
                and int(d[len(VERSION_PREFIX):-len(".json")]) not in keep_versions
                and int(d[len(VERSION_PREFIX):-len(".json")]) < max(keep_versions)
            ):
                # History whose generations are being collected now;
                # time travel past this point is gone by contract. The
                # `< max(keep_versions)` guard makes this loop safe
                # against concurrent writers: a version file committed
                # AFTER the all_versions snapshot above is newer than
                # every kept version and must never be collected — it
                # is a successful commit, not history.
                self._io.unlink(full)
        return sorted(removed)

    def partition_values(self) -> list[str]:
        m = self._load_manifest()
        if m is None or not m.get("partition_col"):
            return []
        return sorted(m["partitions"])


def diff_versions(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    key_cols: list[str],
) -> DataFrame:
    """What changed between two committed versions of an atomic table:
    one row per key that was ``added``, ``removed``, or ``changed``
    (same key, different non-key content), with ``change`` labeling
    the verb — the audit/debug complement of time travel (``read(
    version=)`` answers "what WAS the table"; this answers "what did
    commit N..M DO"), and the input a downstream incremental consumer
    needs to resync without a full re-read.

    Plan shape: both snapshots project keys + ONE xxhash64 over the
    non-key columns (column-pruned scans), then a single full outer
    join on the key — rows whose content hash matches drop out. At
    100 TB the join shuffles key+hash pairs only (16-24 bytes/row),
    never the payload; identical-version diffs reduce to an empty
    result without reading data twice thanks to parquet column
    pruning. NULL-safe on non-key content: Spark's ``xxhash64`` SKIPS
    NULL inputs entirely (so a bare ``xxhash64(*payload)`` would hash
    ``(5, NULL)`` and ``(NULL, 5)`` identically), so each payload
    column is encoded NULL-coalesced plus an ``isNull`` flag — moving
    a value between columns or NULL-filling one is detected as a
    change. The per-column encoding is type-aware because a bare
    string cast is LOSSY for complex types (``['a','b']`` and
    ``['a, b']`` both render ``[a, b]``): arrays/maps/structs encode
    via ``to_json`` with ``ignoreNullFields=false`` (delimiting and
    null fields preserved), binary via ``base64``, atomic types via
    the exact string cast. Map column caveat: ``to_json`` preserves
    entry order, so two maps equal as sets but ordered differently
    read as changed — a false "changed" (re-emits a row), never a
    false "unchanged" (missed delta). Keys must be non-NULL (the
    atomic table's merge contract already requires that).
    """
    table = AtomicParquetTable(spark, path)
    a, b = table.read(version=v_from), table.read(version=v_to)
    if set(a.columns) != set(b.columns):
        raise ValueError(
            f"schema changed between v{v_from} and v{v_to}: "
            f"{sorted(set(a.columns) ^ set(b.columns))} — diff keys+content "
            "on the common projection yourself"
        )
    for k in key_cols:
        if k not in a.columns:
            raise ValueError(f"key column {k!r} not in table columns")
    payload = sorted(c for c in a.columns if c not in key_cols)

    from pyspark.sql.types import ArrayType, BinaryType, MapType, StructType

    types = {f.name: f.dataType for f in a.schema.fields}

    def encode(c: str) -> Column:
        # type-aware lossless rendering: plain cast collapses
        # ['a','b'] / ['a, b'] and mangles binary
        if isinstance(types[c], (ArrayType, MapType, StructType)):
            return F.to_json(F.col(c), {"ignoreNullFields": "false"})
        if isinstance(types[c], BinaryType):
            return F.base64(F.col(c))
        return F.col(c).cast("string")

    def keyed(df: DataFrame, tag: str) -> DataFrame:
        # xxhash64 skips NULL inputs, collapsing (5, NULL)/(NULL, 5);
        # feed it only non-NULL terms: a NULL-coalesced encoding of
        # each column plus its isNull flag (the flag disambiguates a
        # genuine "\x00" string from an encoded NULL).
        terms = [
            t
            for c in payload
            for t in (
                F.coalesce(encode(c), F.lit("\x00")),
                F.col(c).isNull(),
            )
        ]
        return df.select(*key_cols, F.xxhash64(*terms).alias(f"__h_{tag}"))

    j = keyed(a, "a").join(keyed(b, "b"), on=key_cols, how="full_outer")
    change = (
        F.when(F.col("__h_a").isNull(), F.lit("added"))
        .when(F.col("__h_b").isNull(), F.lit("removed"))
        .when(F.col("__h_a") != F.col("__h_b"), F.lit("changed"))
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*key_cols, "change")
    )
