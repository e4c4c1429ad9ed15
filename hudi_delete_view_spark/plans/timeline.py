"""Commit timeline: ordered completed instants over ``.hoodie/``-style metadata.

Reference semantics rebuilt here:

- instant enumeration + unique-completed-instant selection
  (``DeleteView.java:51-55,196-204``) — driver-side listing of the metadata
  dir, lexicographic sort on fixed-width timestamps;
- per-timestamp commit-metadata memoization (``DeleteView.java:65,192-217``)
  via ``functools.lru_cache`` on the loader;
- explicit errors for a missing instant (the reference throws a bare
  ``NoSuchElementException`` at ``DeleteView.java:55``; we raise a described
  error instead, as its own predecessor check does at ``:124-125``).

Everything here is metadata-scale (one small JSON per commit); no Spark jobs.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass
from functools import lru_cache

from .fs import fs_for
from .metadata import CommitMetadata

META_DIR_NAME = ".hoodie"
COMMIT_SUFFIX = ".commit"
ARCHIVE_DIR_NAME = "archived"
ARCHIVE_INSTANTS = "instants.jsonl"
ARCHIVE_CHECKPOINT = "checkpoint.json"
_TS_RE = re.compile(r"^(\d{14})\.commit$")


class TimelineError(ValueError):
    """Raised for missing instants / predecessors / malformed timelines."""


@dataclass(frozen=True)
class Instant:
    timestamp: str  # fixed-width yyyyMMddHHmmss, lexicographically ordered
    state: str  # "completed" (inflight files are never surfaced)
    path: str


class Timeline:
    """Ordered view of a table's completed commit instants."""

    def __init__(self, base_path: str):
        self.base_path = base_path
        # one FS seam for every metadata byte this class touches: local
        # paths stay on os, URI paths (hdfs://, s3a://, mem://) route
        # through plans/fs.py — the reference's Hadoop FileSystem layer
        self.fs = fs_for(base_path)
        self.meta_dir = os.path.join(base_path, META_DIR_NAME)
        self.archive_dir = os.path.join(self.meta_dir, ARCHIVE_DIR_NAME)
        # lru_cache per-instance: metadata memo-cache (reference A17)
        self._load_metadata = lru_cache(maxsize=256)(self._load_metadata_uncached)
        self._archived: dict[str, "CommitMetadata"] | None = None  # lazy
        self._checkpoint: dict | None | bool = False  # False = not loaded

    # -- listing ---------------------------------------------------------
    def instants(self) -> list[Instant]:
        if not self.fs.isdir(self.meta_dir):
            return []
        out = []
        names = [n for n in sorted(self.fs.listdir(self.meta_dir)) if _TS_RE.match(n)]
        # crash healing: archive() publishes its checkpoint (os.replace)
        # and THEN removes the archived .commit files — a crash between
        # the two leaves timestamps both archived and active. The archive
        # copy wins (the checkpoint is the durable record); surfacing the
        # stale active file would double-count it in all_timestamps()
        # and re-archive it into a second batch.
        boundary = self.archive_boundary() if names else None
        for name in names:
            ts = _TS_RE.match(name).group(1)
            if boundary is not None and ts <= boundary:
                continue
            out.append(Instant(ts, "completed", os.path.join(self.meta_dir, name)))
        return out

    def timestamps(self) -> list[str]:
        return [i.timestamp for i in self.instants()]

    def latest_timestamp(self) -> str | None:
        ts = self.timestamps()
        return ts[-1] if ts else None

    # -- selection -------------------------------------------------------
    def instant_for(self, timestamp: str) -> Instant:
        """The unique completed instant with this exact timestamp."""
        for inst in self.instants():
            if inst.timestamp == timestamp:
                return inst
        boundary = self.archive_boundary()
        if boundary is not None and timestamp <= boundary:
            raise TimelineError(
                f"instant {timestamp!r} is ARCHIVED (archive boundary "
                f"{boundary!r}): archived commits keep queryable metadata "
                f"but are no longer time-travel / incremental anchors"
            )
        raise TimelineError(
            f"no completed commit instant with timestamp {timestamp!r} in "
            f"{self.meta_dir} (have: {self.timestamps()})"
        )

    def commits_in_range(self, begin_exclusive: str | None, end_inclusive: str | None) -> list[Instant]:
        """Instants with begin < ts <= end (incremental-read bounds).

        A begin BEFORE the archive boundary would silently miss archived
        commits' changes — raise instead (the consumer must re-anchor at
        or after the boundary, same contract as a cleaned-up begin)."""
        boundary = self.archive_boundary()
        if (
            boundary is not None
            and begin_exclusive is not None
            and begin_exclusive < boundary
        ):
            raise TimelineError(
                f"incremental anchor {begin_exclusive!r} precedes the archive "
                f"boundary {boundary!r}: changes before the boundary are "
                f"archived — re-anchor at >= {boundary!r}"
            )
        out = []
        for inst in self.instants():
            if begin_exclusive is not None and inst.timestamp <= begin_exclusive:
                continue
            if end_inclusive is not None and inst.timestamp > end_inclusive:
                continue
            out.append(inst)
        return out

    # -- metadata --------------------------------------------------------
    def _load_metadata_uncached(self, timestamp: str) -> CommitMetadata:
        for inst in self.instants():
            if inst.timestamp == timestamp:
                # instant time rides in the FILENAME (genuine Hudi commit
                # JSON embeds no commitTs — interop)
                return CommitMetadata.from_json(
                    self.fs.read_text(inst.path), commit_ts=inst.timestamp
                )
        # archived commit metadata stays queryable (history, per-slice
        # pruning stats of checkpoint slices) — the covering BATCH loads
        # lazily; the rest of the archive is never read
        meta = self.archived_metadata_for(timestamp)
        if meta is not None:
            return meta
        self.instant_for(timestamp)  # raises the canonical error
        raise AssertionError("unreachable")

    def commit_metadata(self, timestamp: str) -> CommitMetadata:
        return self._load_metadata(timestamp)

    def refresh(self) -> None:
        """Drop the metadata memo-cache (reference A18's refresh, minus HTTP)."""
        self._load_metadata.cache_clear()
        self._archived = None
        self._checkpoint = False

    # -- archival --------------------------------------------------------
    # The active timeline is a per-commit file listing: at one commit a
    # minute that's ~0.5M files after a year — listing cost grows without
    # bound. `archive()` bounds it the lake way (Hudi archived timeline /
    # Iceberg manifest list): each archive call rolls its instants into
    # ONE range-named JSONL batch (instants-<first>-<last>.jsonl) and a
    # CHECKPOINT records the resolved file slices at the boundary, so
    # slice resolution seeds from the checkpoint and replays only the
    # active tail. A point lookup of archived metadata (pruning stats of
    # a checkpoint slice) loads only the batch whose filename range
    # covers the timestamp — never the whole archive. Archived commit METADATA stays fully
    # queryable (history, per-slice pruning stats load lazily from the
    # archive); archived TIMESTAMPS are no longer time-travel targets —
    # travel/incremental before the boundary raises with the boundary
    # named (the same contract clean() already imposes on expired files).

    def archive_checkpoint(self) -> dict | None:
        """The archival checkpoint ({'as_of', 'slices'}) or None."""
        import json

        if self._checkpoint is False:
            path = os.path.join(self.archive_dir, ARCHIVE_CHECKPOINT)
            try:
                self._checkpoint = json.loads(self.fs.read_text(path))
            except OSError:
                self._checkpoint = None
        return self._checkpoint

    def archive_boundary(self) -> str | None:
        """Latest archived timestamp; active history starts after it."""
        cp = self.archive_checkpoint()
        return cp["as_of"] if cp else None

    def _archive_batches(self) -> list[tuple[str, str, str]]:
        """(first_ts, last_ts, path) per archive batch file, sorted. The
        legacy single-file name (pre-range batches) sorts in as a batch
        covering everything."""
        out = []
        try:
            names = self.fs.listdir(self.archive_dir)
        except OSError:
            return []
        for n in names:
            p = os.path.join(self.archive_dir, n)
            if n == ARCHIVE_INSTANTS:
                out.append(("00000000000000", "99999999999999", p))
            else:
                m = re.match(r"^instants-(\d{14})-(\d{14})\.jsonl$", n)
                if m:
                    out.append((m.group(1), m.group(2), p))
        return sorted(out)

    def _load_archive_batch(self, path: str) -> dict[str, "CommitMetadata"]:
        import json

        if self._archived is None:
            self._archived = {}
        if path not in self._archived:
            batch: dict[str, CommitMetadata] = {}
            try:
                for line in self.fs.read_text(path).splitlines():
                    if not line.strip():
                        continue
                    rec = json.loads(line)
                    batch[rec["ts"]] = CommitMetadata.from_json(
                        json.dumps(rec["metadata"])
                    )
            except OSError:
                pass
            self._archived[path] = batch
        return self._archived[path]

    def archived_metadata_for(self, timestamp: str) -> "CommitMetadata | None":
        """Point lookup: load ONLY the batch whose range covers ``timestamp``."""
        for first, last, path in self._archive_batches():
            if first <= timestamp <= last:
                meta = self._load_archive_batch(path).get(timestamp)
                if meta is not None:
                    return meta
        return None

    def archived_timestamps(self) -> list[str]:
        out: list[str] = []
        for _f, _l, path in self._archive_batches():
            out.extend(self._load_archive_batch(path))
        return sorted(out)

    def all_timestamps(self) -> list[str]:
        """Archived + active, in order — the full-history view (commit
        history / audit surfaces; NOT for slice resolution)."""
        return self.archived_timestamps() + self.timestamps()

    def archive(self, keep_last_n: int) -> list[str]:
        """Move all but the newest ``keep_last_n`` instants to the archive
        and write the slice checkpoint at the new boundary. Returns the
        archived timestamps ([] if nothing to do). Driver-side metadata
        only — no Spark jobs, no data files touched."""
        import json
        from dataclasses import asdict

        from .slices import resolve_slices

        if keep_last_n < 1:
            raise TimelineError("archive must keep at least 1 active instant")
        # finish a crashed prior archive: .commit files at or before the
        # boundary are already in the archive (instants() hides them);
        # remove the leftovers so they don't linger forever
        stale_boundary = self.archive_boundary()
        if stale_boundary is not None and self.fs.isdir(self.meta_dir):
            for name in self.fs.listdir(self.meta_dir):
                m = _TS_RE.match(name)
                if m and m.group(1) <= stale_boundary:
                    self.fs.remove(os.path.join(self.meta_dir, name))
        active = self.timestamps()
        to_archive = active[:-keep_last_n]
        if not to_archive:
            return []
        boundary = to_archive[-1]
        # checkpoint BEFORE moving files: resolution still sees full history
        slices = resolve_slices(self, as_of=boundary)
        prev_cp = self.archive_checkpoint() or {}
        cp = {
            "as_of": boundary,
            "slices": [
                {
                    **asdict(s),
                    "base_path": os.path.relpath(s.base_path, self.base_path)
                    if s.base_path
                    else "",
                    "log_paths": [
                        os.path.relpath(p, self.base_path) for p in s.log_paths
                    ],
                }
                for s in slices.values()
            ],
            # published sizes of every file written by archived commits:
            # compaction planners size live logs from write stats, which
            # move to the archive — the checkpoint keeps the driver-side
            # no-filesystem-stat contract intact (merged across archives)
            "path_bytes": dict(prev_cp.get("path_bytes", {})),
        }
        self.fs.makedirs(self.archive_dir)
        batch_name = f"instants-{to_archive[0]}-{to_archive[-1]}.jsonl"
        lines = []
        for ts in to_archive:
            meta = self.commit_metadata(ts)
            for _p, stat in meta.all_stats():
                cp["path_bytes"][stat.path] = stat.file_size_bytes
                if stat.before_image:
                    # listed so clean() reclaims it and find_orphans knows it
                    cp["path_bytes"][stat.before_image] = 0
            lines.append(
                json.dumps({"ts": ts, "metadata": json.loads(meta.to_json())})
            )
        self.fs.write_text_atomic(
            os.path.join(self.archive_dir, batch_name), "\n".join(lines) + "\n"
        )
        self.fs.write_text_atomic(
            os.path.join(self.archive_dir, ARCHIVE_CHECKPOINT), json.dumps(cp)
        )
        for ts in to_archive:
            self.fs.remove(os.path.join(self.meta_dir, f"{ts}{COMMIT_SUFFIX}"))
        self.refresh()
        return to_archive
