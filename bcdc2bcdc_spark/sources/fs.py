"""Filesystem abstraction for the lake backend's driver-side bookkeeping.

HashBucketParquetTable needs a handful of tiny metadata operations outside
Spark: list a partition dir, remove a dir, existence checks, and
read/atomic-write of the table metadata JSON. Routing them through this
interface keeps the
backend free of direct POSIX calls, so an object-store deployment (S3/GCS)
only implements these few methods (list → prefix listing, remove → batch
delete, atomic write → put-then-rename or conditional put) — the Spark
read/write paths already go through Hadoop FileSystem and need nothing.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid


class LocalFS:
    """POSIX implementation — the sandbox / single-node default."""

    def list_files(self, dir_path: str, suffix: str = "") -> set[str]:
        if not os.path.isdir(dir_path):
            return set()
        return {f for f in os.listdir(dir_path) if f.endswith(suffix)}

    def file_sizes(self, dir_path: str, suffix: str = "") -> dict:
        """name → bytes for the files directly in ``dir_path`` (one
        listing; the object-store analog is LIST with sizes — metadata,
        never a data read)."""
        out = {}
        try:
            with os.scandir(dir_path) as it:
                for e in it:
                    if e.is_file() and e.name.endswith(suffix):
                        out[e.name] = e.stat().st_size
        except FileNotFoundError:
            # a concurrent commit's GC can sweep a generation between the
            # caller's manifest read and this listing — absent means empty
            return {}
        return out

    def list_subdirs(self, dir_path: str) -> set[str]:
        if not os.path.isdir(dir_path):
            return set()
        return {
            d for d in os.listdir(dir_path) if os.path.isdir(os.path.join(dir_path, d))
        }

    def remove_dir(self, dir_path: str) -> None:
        if os.path.isdir(dir_path):
            shutil.rmtree(dir_path)

    def dir_age_s(self, dir_path: str) -> float:
        """Seconds since the newest modification anywhere in the
        directory TREE (directories only — file adds bump their parent
        dir's mtime, so walking dirs is O(buckets), not O(files)); inf if
        gone. The top-level mtime alone would measure time since job
        START, not activity: Spark writes churn nested _temporary/task
        and bucket dirs for the whole job."""
        import time

        newest = None
        try:
            for root, _dirs, _files in os.walk(dir_path):
                m = os.path.getmtime(root)
                newest = m if newest is None or m > newest else newest
        except OSError:
            pass
        if newest is None:
            return float("inf")
        return max(0.0, time.time() - newest)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def read_json(self, path: str) -> dict:
        with open(path) as fh:
            return json.load(fh)

    def write_json_atomic(self, path: str, payload: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        # a private staging name per call: a shared one lets an
        # interleaved writer rename the other's half-written file into
        # place; the suffix never ends in the listed ".json"
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
        os.replace(tmp, path)
