"""Manifest-backed parquet table: snapshot commits + checkpoint semantics.

Iceberg stand-in (SURVEY.md §7 hard part (e)): the Iceberg runtime jar is
not available in this sandbox, so a parquet directory + versioned JSON
manifests emulate the three Iceberg behaviors the pipeline depends on:

  * snapshot-based commits — every write (append, overwrite,
    replace_partitions, compact) goes through one step, ``_commit``: it
    writes files to a new snapshot directory, then atomically publishes a
    new manifest version; readers only see manifest-listed files, so a
    killed job never exposes partial output;
  * **optimistic concurrency** — a commit is the creation of manifest
    version ``parent+1`` via ``os.link`` (atomic fail-if-exists on POSIX):
    two writers that both loaded version N race to create N+1; exactly one
    wins, the loser gets ``CommitConflictError`` and its snapshot directory
    is left unreferenced (Iceberg orphan-file semantics). This is the M1
    single-writer guard (SURVEY.md §2.11) — the r1 load→append→replace
    scheme was last-writer-wins and silently lost snapshots;
  * checkpoint/resume — each snapshot records the ``part_key`` set it
    covers; ``committed_part_keys()`` drives the rerun filter
    (``WHERE part_key NOT IN committed`` — SURVEY.md §4).

Every snapshot is written by one writer, ``_writer``, as zstd parquet at
the codec's default level. The codec is a table property, as Iceberg's
``write.parquet.compression-codec`` (zstd by default since Iceberg 1.4),
not a session conf, so every table committed here (``extracted``,
``metrics``, ``curated``, the stream sink) gets it. Parquet records the
codec per column chunk, so snappy snapshots committed by earlier versions
stay readable next to zstd ones: read, resume and compact work over both.

On a real cluster this module is replaced by
``df.writeTo("db.extracted").append()`` + an Iceberg checkpoints table;
the pipeline only touches the 4 read/write methods, so the swap is local.

Reference analog of the persisted watermark: last-update-check time written
to the config file (/root/reference/src/updater.py:44-65). Reference analog
of the commit conflict: single-instance lock via port bind
(/root/reference/src/main.py:100-109).
"""

from __future__ import annotations

import functools
import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

_VERSION_RE = re.compile(r"_manifest-v(\d{8})\.json$")


def _writer(df: DataFrame, partition_col: str | None = None):
    """The one snapshot writer (codec: see the module docstring): the
    ``write(dir)`` step ``_commit`` runs, partitioned by
    ``partition_col`` if given."""
    writer = df.write.mode("overwrite").option("compression", "zstd")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    return writer.parquet


class CommitConflictError(RuntimeError):
    """Another writer committed the same manifest version first."""


class ManifestTable:
    def __init__(self, path: str) -> None:
        self.path = path
        os.makedirs(path, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    def _versions(self) -> list[tuple[int, str]]:
        out = []
        for name in os.listdir(self.path):
            m = _VERSION_RE.match(name)
            if m:
                out.append((int(m.group(1)), os.path.join(self.path, name)))
        return sorted(out)

    def _load_with_version(self) -> tuple[int, dict]:
        versions = self._versions()
        if versions:
            ver, p = versions[-1]
            with open(p) as f:
                return ver, json.load(f)
        return 0, {"snapshots": []}

    def _load_version(self, version: int) -> dict:
        """Load the manifest exactly as committed at ``version`` (every
        CAS commit leaves its numbered manifest file in place — the time
        travel record, like Iceberg's metadata.json lineage)."""
        for ver, p in self._versions():
            if ver == version:
                with open(p) as f:
                    return json.load(f)
        raise ValueError(
            f"no manifest version {version} at {self.path} "
            f"(have {[v for v, _ in self._versions()]})")

    def current_version(self) -> int:
        return self._load_with_version()[0]

    def _load(self) -> dict:
        return self._load_with_version()[1]

    def _publish(self, manifest: dict, parent_version: int) -> None:
        """Atomically publish ``manifest`` as version parent_version+1.

        ``os.link`` fails with EEXIST if any other writer already created
        that version — the compare-and-swap commit point.
        """
        new_ver = parent_version + 1
        target = os.path.join(self.path, f"_manifest-v{new_ver:08d}.json")
        tmp = os.path.join(self.path,
                           f".manifest-{uuid.uuid4().hex[:12]}.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, target)
        except FileExistsError as exc:
            raise CommitConflictError(
                f"manifest version {new_ver} already committed by a "
                f"concurrent writer (parent was {parent_version})") from exc
        finally:
            os.remove(tmp)

    # -- writes ------------------------------------------------------------
    def _commit(self, write, *, replace: bool = False,
                base: tuple[int, dict] | None = None, **entry) -> str:
        """The one commit step every write goes through: mint a snapshot
        id, ``write(dir)`` into an unreferenced directory, then publish a
        manifest version that appends the snapshot record (or, with
        ``replace``, makes it the only visible snapshot).

        The manifest is loaded after the write unless ``base`` (version,
        manifest) was loaded before it: a rewrite that replaces every
        snapshot it read passes the state it read, so any commit that
        lands during the rewrite makes this publish fail. The version
        link is the commit point (crash before it = invisible; losing a
        commit race = CommitConflictError, snapshot dir left orphaned).
        """
        snapshot_id = uuid.uuid4().hex[:16]
        write(os.path.join(self.path, f"snap-{snapshot_id}"))
        ver, manifest = base or self._load_with_version()
        snaps = manifest["snapshots"]
        record = {
            "snapshot_id": snapshot_id,
            "dir": f"snap-{snapshot_id}",
            "part_keys": [],
            "run_id": None,
            "parent": snaps[-1]["snapshot_id"] if snaps else None,
            **entry,
        }
        manifest["snapshots"] = [record] if replace else snaps + [record]
        self._publish(manifest, ver)
        return snapshot_id

    def append(self, df: DataFrame, part_keys: list[int] | None = None,
               run_id: str | None = None) -> str:
        """Write df as a new snapshot; returns the snapshot id."""
        return self._commit(_writer(df), part_keys=sorted(part_keys or []),
                            run_id=run_id)

    def overwrite(self, df: DataFrame) -> str:
        """Replace table contents with df as a single new snapshot.

        Emulates an Iceberg REPLACE/MERGE commit: the new snapshot is
        written first, then the manifest-version publish makes it the only
        visible state (old snapshot dirs remain for time travel,
        unreferenced).
        """
        return self._commit(_writer(df), replace=True)

    def replace_partitions(self, df: DataFrame, bucket_col: str,
                           buckets: list[int],
                           run_id: str | None = None) -> str:
        """Dynamic partition overwrite (Iceberg REPLACE WHERE analog):
        commit df as the new state of exactly the given buckets; rows in
        other buckets keep their previous snapshots. The snapshot dir is
        physically partitioned by bucket_col so readers prune to live
        bucket directories."""
        return self._commit(
            _writer(df, bucket_col), run_id=run_id,
            replaces={bucket_col: sorted(int(b) for b in buckets)})

    def compact(self, spark: SparkSession, target_files: int = 8,
                run_id: str | None = None) -> str | None:
        """Small-file maintenance (the Iceberg ``rewrite_data_files``
        analog): rewrite every live append-snapshot into ONE snapshot of
        ~target_files parquet files and publish it as the sole visible
        state. Chunked commits write one snapshot per chunk — at crawl
        scale that accumulates thousands of small files per table, and
        scan planning degrades with file count, so a real pipeline runs
        this between ingest waves.

        Correctness properties (pytest-verified):
          * data is byte-identical before/after (same rows, coalesce is
            shuffle-free);
          * ``committed_part_keys`` is preserved (the checkpoint/resume
            contract survives compaction — reruns still skip);
          * the commit is the same CAS publish as append, against the
            manifest read before the rewrite: a concurrent writer that
            lands first wins and this compaction fails with
            CommitConflictError, leaving its output an orphan (retry);
          * old manifest versions remain readable (VERSION AS OF time
            travel shows the pre-compaction layout).

        Tables maintained via replace_partitions take the BUCKET-AWARE
        path (the Iceberg partition-aware rewrite strategy): the live
        newest-wins-per-bucket state (exactly what read_keyed resolves)
        is rewritten as ONE snapshot that replaces every bucket the
        table has ever owned, so ``read_keyed`` before == after
        byte-for-byte, including buckets whose newest write emptied
        them (the compacted snapshot owns them with zero rows, same as
        the pre-compaction owner did). Mixed append+replace histories
        have no single read semantics and stay unsupported (raise).
        """
        base = self._load_with_version()
        snaps = base[1]["snapshots"]
        if len(snaps) <= 1:
            return None  # nothing to compact
        replace_cols = {col for s in snaps
                        for col in s.get("replaces", {})}
        if replace_cols:
            if len(replace_cols) > 1 or not all(
                    s.get("replaces") for s in snaps):
                raise NotImplementedError(
                    "bucket-aware compact() needs a pure "
                    "replace_partitions history on ONE bucket column "
                    f"(saw columns {sorted(replace_cols)}, "
                    f"{sum(1 for s in snaps if not s.get('replaces'))} "
                    "non-replace snapshots)")
            return self._compact_keyed(spark, base, replace_cols.pop(),
                                       target_files, run_id)
        dirs = [os.path.join(self.path, s["dir"]) for s in snaps]
        return self._commit(
            _writer(spark.read.parquet(*dirs).coalesce(target_files)),
            replace=True, base=base,
            part_keys=sorted({k for s in snaps for k in s["part_keys"]}),
            run_id=run_id,
            compacted_from=[s["snapshot_id"] for s in snaps])

    def _compact_keyed(self, spark: SparkSession, base: tuple[int, dict],
                       bucket_col: str, target_files: int,
                       run_id: str | None) -> str:
        """Bucket-aware rewrite for replace_partitions tables: write the
        resolved live state once, owning ALL ever-replaced buckets.

        The scan is read_keyed itself — partition-pruned to each
        snapshot's still-owned buckets, never a full read of dead data.
        coalesce keeps the rewrite shuffle-free; the partitionBy write
        restores the physical bucket layout readers prune on.
        """
        snaps = base[1]["snapshots"]
        buckets = sorted({int(b) for s in snaps
                          for b in s["replaces"][bucket_col]})
        live = self.read_keyed(spark, bucket_col)
        if live is not None:
            write = _writer(live.coalesce(target_files), bucket_col)
        else:  # every owned bucket is empty: commit an empty snapshot
            write = functools.partial(os.makedirs, exist_ok=True)
        return self._commit(
            write, replace=True, base=base,
            part_keys=sorted({k for s in snaps for k in s["part_keys"]}),
            run_id=run_id,
            replaces={bucket_col: buckets},
            compacted_from=[s["snapshot_id"] for s in snaps])

    def read_keyed(self, spark: SparkSession,
                   bucket_col: str,
                   version: int | None = None) -> DataFrame | None:
        """Read a table maintained via replace_partitions: newest snapshot
        wins per bucket. Each snapshot is read from its root (so the
        partition column is restored) filtered to the buckets it still
        owns — a partition-pruned scan, never a full-table read of dead
        data. ``version`` time-travels to the table state as of that
        manifest commit (Iceberg ``VERSION AS OF``)."""
        from pyspark.sql import functions as F

        manifest = (self._load() if version is None
                    else self._load_version(version))
        snaps = manifest["snapshots"]
        owner: dict[int, int] = {}  # bucket -> snapshot index (newest wins)
        for idx in range(len(snaps) - 1, -1, -1):
            for b in snaps[idx].get("replaces", {}).get(bucket_col, []):
                owner.setdefault(b, idx)
        parts = []
        for idx, snap in enumerate(snaps):
            mine = [b for b, i in owner.items() if i == idx]
            if not mine:
                continue
            snap_dir = os.path.join(self.path, snap["dir"])
            # a zero-row snapshot has no parquet files (no schema to
            # read) — its buckets are empty by definition, skip it
            has_data = any(
                name.startswith(f"{bucket_col}=")
                for name in os.listdir(snap_dir)) if os.path.isdir(
                    snap_dir) else False
            if not has_data:
                continue
            df = spark.read.parquet(snap_dir)
            parts.append(df.filter(F.col(bucket_col).isin(mine)))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- reads -------------------------------------------------------------
    def snapshot_dirs(self) -> list[str]:
        return [os.path.join(self.path, s["dir"])
                for s in self._load()["snapshots"]]

    def read(self, spark: SparkSession,
             version: int | None = None) -> DataFrame | None:
        """Read the table; ``version`` time-travels to the state as of
        that manifest commit (Iceberg ``VERSION AS OF`` — old snapshot
        dirs stay on disk unreferenced, exactly like Iceberg orphan
        files before expire_snapshots)."""
        if version is None:
            dirs = self.snapshot_dirs()
        else:
            manifest = self._load_version(version)
            dirs = [os.path.join(self.path, s["dir"])
                    for s in manifest["snapshots"]]
        if not dirs:
            return None
        return spark.read.parquet(*dirs)

    def committed_part_keys(self) -> set[int]:
        keys: set[int] = set()
        for s in self._load()["snapshots"]:
            keys.update(s["part_keys"])
        return keys

    def snapshots(self) -> list[dict]:
        """All committed snapshot records (id, dir, part_keys, run_id)."""
        return list(self._load()["snapshots"])
