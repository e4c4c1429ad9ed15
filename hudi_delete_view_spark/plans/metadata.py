"""Commit metadata model for the lake-table format.

Mirrors the metadata surface the reference consumes — per-commit JSON with a
``partitionToWriteStats`` map and a ``totalRecordsDeleted`` total (reference:
``DeleteView.java:85-104,186``; each write stat carries ``fileId``, ``path``,
``prevCommit`` and the write/update/delete counters). All of this is
KB-scale driver-side metadata: it is parsed with plain ``json``, never
shipped to executors, and never grows with data volume — the 100 TB design
rule is that the driver touches only this layer.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class WriteStat:
    """Stats for one file slice written by one commit.

    Reference shape: ``HoodieWriteStat`` fields read at
    ``DeleteView.java:98-104`` (fileId, path, prevCommit, numDeletes).
    """

    file_id: str
    path: str  # relative to the table base path
    prev_commit: str | None = None
    num_writes: int = 0
    num_update_writes: int = 0
    num_deletes: int = 0
    num_inserts: int = 0
    file_size_bytes: int = 0
    log_file: bool = False  # MOR delta log slice (vs base file)
    # file-level data skipping: {column: [min, max]} lifted from Parquet
    # footers at publish time (KB-scale, driver-side; how Delta/Hudi prune
    # files from metadata before any scan is planned)
    column_stats: dict = field(default_factory=dict)
    # secondary value-bucket index: {column: base64 bitmap} — md5-bucket
    # membership (default 16384 bits) of the file's values, published only
    # for a table's ``index_columns``. Lets EQUALITY predicates prune
    # files whose [min, max] ranges all overlap (the secondary-index
    # analogue of Hudi's metadata-table bloom index); a saturated bitmap
    # degrades to no-op pruning, never a wrong answer
    value_index: dict = field(default_factory=dict)
    # native only: the table-relative Parquet file holding the rows this
    # commit deleted from the group, as they were, stamped with the
    # commit (a group rewrite writes it when ``num_deletes > 0``). The
    # delete view serves it; stats without one take the keyed anti-join
    before_image: str | None = None

    def to_dict(self) -> dict:
        extra = {"beforeImage": self.before_image} if self.before_image else {}
        return {
            "fileId": self.file_id,
            "path": self.path,
            "prevCommit": self.prev_commit,
            "numWrites": self.num_writes,
            "numUpdateWrites": self.num_update_writes,
            "numDeletes": self.num_deletes,
            "numInserts": self.num_inserts,
            "fileSizeInBytes": self.file_size_bytes,
            "logFile": self.log_file,
            "columnStats": self.column_stats,
            "valueIndex": self.value_index,
            **extra,
        }

    @classmethod
    def from_dict(cls, d: dict) -> WriteStat:
        # Hudi serializes a bootstrap predecessor as the STRING "null"
        # (HoodieWriteStat.NULL_COMMIT); normalize to real None so
        # predecessor pairing never chases a phantom instant
        prev = d.get("prevCommit")
        if prev == "null":
            prev = None
        return cls(
            file_id=d["fileId"],
            path=d["path"],
            prev_commit=prev,
            num_writes=int(d.get("numWrites", 0)),
            num_update_writes=int(d.get("numUpdateWrites", 0)),
            num_deletes=int(d.get("numDeletes", 0)),
            num_inserts=int(d.get("numInserts", 0)),
            file_size_bytes=int(d.get("fileSizeInBytes", 0)),
            log_file=bool(d.get("logFile", False)),
            column_stats=d.get("columnStats", {}) or {},
            value_index=d.get("valueIndex", {}) or {},
            before_image=d.get("beforeImage"),
        )


@dataclass
class CommitMetadata:
    """One completed commit: partition -> write stats + totals.

    Reference shape: ``HoodieCommitMetadata`` (``DeleteView.java:85-87``,
    ``getPartitionToWriteStats`` at ``:98``, ``getTotalRecordsDeleted`` at
    ``:186``). A schema snapshot rides along (the reference resolves schema
    per commit via ``TableSchemaResolver``, ``DeleteSupport.java:69``).
    """

    commit_ts: str
    operation: str = "upsert"  # bulk_insert | upsert | delete | delta_commit | compaction
    partition_to_write_stats: dict[str, list[WriteStat]] = field(default_factory=dict)
    total_records_deleted: int = 0
    schema_json: str | None = None  # Spark StructType.json()
    extra: dict = field(default_factory=dict)

    def all_stats(self):
        for partition, stats in self.partition_to_write_stats.items():
            for stat in stats:
                yield partition, stat

    def find_write_stat(self, file_id: str) -> WriteStat | None:
        """Look up the stat for ``file_id`` across all partitions.

        Reference: ``findHoodieWriteStat`` (``DeleteView.java:132-142``).
        """
        for _, stat in self.all_stats():
            if stat.file_id == file_id:
                return stat
        return None

    def published_schema(self):
        """The Spark ``StructType`` this commit published, or None for a
        commit that predates schema publication."""
        if not self.schema_json:
            return None
        from pyspark.sql.types import StructType

        return StructType.fromJson(json.loads(self.schema_json))

    def to_json(self) -> str:
        return json.dumps(
            {
                "commitTs": self.commit_ts,
                "operation": self.operation,
                "partitionToWriteStats": {
                    p: [s.to_dict() for s in stats]
                    for p, stats in self.partition_to_write_stats.items()
                },
                "totalRecordsDeleted": self.total_records_deleted,
                "schema": self.schema_json,
                "extra": self.extra,
            },
            indent=2,
        )

    @classmethod
    def from_json(cls, text: str, commit_ts: str | None = None) -> CommitMetadata:
        """Parse native commit JSON — AND genuine Hudi 0.x
        ``HoodieCommitMetadata`` files (interop): the write-stat keys are
        already Hudi's own camelCase, so the deltas are commit-file
        framing — Hudi embeds no ``commitTs`` (the instant time is the
        FILENAME; pass it via ``commit_ts``), spells the operation
        ``operationType: "UPSERT"``, nests extras under
        ``extraMetadata`` (where the Avro schema lives — kept in
        ``extra``, never mistaken for our Spark StructType
        ``schema``), and serializes no ``totalRecordsDeleted`` (the
        reference computes it by summing ``numDeletes``,
        ``DeleteView.java:186`` via ``getTotalRecordsDeleted``)."""
        d = json.loads(text)
        stats = {
            p: [WriteStat.from_dict(s) for s in sl]
            for p, sl in d.get("partitionToWriteStats", {}).items()
        }
        total = d.get("totalRecordsDeleted")
        if total is None:
            total = sum(s.num_deletes for sl in stats.values() for s in sl)
        return cls(
            commit_ts=d.get("commitTs") or commit_ts or "",
            operation=d.get("operation")
            or (d.get("operationType") or "upsert").lower(),
            partition_to_write_stats=stats,
            total_records_deleted=int(total),
            schema_json=d.get("schema"),
            extra=d.get("extra") or d.get("extraMetadata") or {},
        )

    # our operation vocabulary -> Hudi's WriteOperationType spelling
    _HUDI_OPS = {
        "bulk_insert": "BULK_INSERT",
        "upsert": "UPSERT",
        "delete": "DELETE",
        "delta_commit": "UPSERT",  # Hudi delta commits carry UPSERT
        "compaction": "COMPACT",
        "clustering": "CLUSTER",
        "merge": "UPSERT",
    }

    def to_hudi_json(self) -> str:
        """Serialize in genuine Hudi 0.x ``HoodieCommitMetadata`` framing
        — the WRITE half of the interop contract (``from_json`` is the
        read half): no embedded commitTs (the instant time is the
        filename), the operation spelled ``operationType`` in Hudi's
        upper-case vocabulary (unmapped maintenance ops fall back to
        ``UNKNOWN``, a real enum member), extras under ``extraMetadata``,
        bootstrap prevCommit as the STRING "null", no serialized
        totalRecordsDeleted (a Hudi reader computes it by summing
        numDeletes), and only the ``HoodieWriteStat`` field set — the
        native side indexes (columnStats / valueIndex) and before-images
        stay out of the foreign framing by design."""
        stats = {}
        for partition, sl in self.partition_to_write_stats.items():
            stats[partition] = [
                {
                    "fileId": s.file_id,
                    "path": s.path,
                    "prevCommit": s.prev_commit if s.prev_commit else "null",
                    "numWrites": s.num_writes,
                    "numDeletes": s.num_deletes,
                    "numUpdateWrites": s.num_update_writes,
                    "numInserts": s.num_inserts,
                    "totalWriteBytes": s.file_size_bytes,
                    "totalWriteErrors": 0,
                    "partitionPath": partition,
                    "fileSizeInBytes": s.file_size_bytes,
                }
                for s in sl
            ]
        extra = {k: v for k, v in (self.extra or {}).items()}
        return json.dumps(
            {
                "partitionToWriteStats": stats,
                "compacted": self.operation == "compaction",
                "extraMetadata": extra,
                "operationType": self._HUDI_OPS.get(
                    self.operation, "UNKNOWN"
                ),
            },
            indent=2,
        )

    def write(self, meta_dir: str) -> str:
        """Atomically publish this commit: write tmp then rename, through
        the FS seam (plans/fs.py) so URI-rooted tables publish the same
        way.

        The rename is the commit point (mirrors Hudi's
        inflight->completed transition); readers only ever see completed
        ``<ts>.commit`` files.
        """
        from .fs import fs_for

        fs = fs_for(meta_dir)
        fs.makedirs(meta_dir)
        final = os.path.join(meta_dir, f"{self.commit_ts}.commit")
        fs.write_text_atomic(final, self.to_json())
        return final
