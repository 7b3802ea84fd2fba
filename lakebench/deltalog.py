"""The benchmark's own reader of a table's transaction log.

The oracles must not see a table through the engine's ``replay``, so
this module replays the JSON commit files (``_delta_log/<v>.json``)
from version 0 itself: ``add`` and ``remove`` actions by path, ``txn``
actions and ``commitInfo`` timestamps. Checkpoints are ignored; the
engine never deletes JSON commits in these workloads.
"""

from __future__ import annotations

import bisect
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq


def latest_version(table_path: str) -> int:
    """Highest version whose commit file is complete (-1 if none).
    Cheap enough to bracket every dashboard read.

    The engine creates ``<v>.json`` before it writes the actions into
    it, so for a moment the file is empty or ends mid-line. A reader
    that replays the log then sees version ``v - 1``'s files under
    version ``v``; such a file does not count as committed yet."""
    d = os.path.join(table_path, "_delta_log")
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return -1
    versions = sorted((int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()),
                      reverse=True)
    for v in versions:
        with open(os.path.join(d, f"{v:020d}.json"), "rb") as f:
            f.seek(0, os.SEEK_END)
            if f.tell() > 0:
                f.seek(-1, os.SEEK_END)
                if f.read(1) == b"\n":
                    return v
    return -1


class LogReader:
    """Replays one table's JSON log once; answers per-version queries."""

    def __init__(self, table_path: str):
        self.path = table_path
        self.versions: list[int] = []
        self.commit_ms: dict[int, int] = {}
        self.operation: dict[int, str] = {}
        self.adds: dict[int, list[dict]] = {}
        self.txns: dict[int, list[tuple[str, int]]] = {}
        self._live: dict[int, dict[str, dict]] = {}
        self.refresh()

    def refresh(self) -> None:
        top = latest_version(self.path)
        live = dict(self._live[self.versions[-1]]) if self.versions else {}
        for v in range(len(self.versions), top + 1):
            with open(os.path.join(self.path, "_delta_log", f"{v:020d}.json")) as f:
                actions = [json.loads(line) for line in f if line.strip()]
            adds, txns = [], []
            for a in actions:
                if "add" in a:
                    live[a["add"]["path"]] = a["add"]
                    adds.append(a["add"])
                elif "remove" in a:
                    live.pop(a["remove"]["path"], None)
                elif "txn" in a:
                    txns.append((a["txn"]["appId"], int(a["txn"]["version"])))
                elif "commitInfo" in a:
                    self.commit_ms[v] = int(a["commitInfo"]["timestamp"])
                    self.operation[v] = a["commitInfo"].get("operation", "")
            self.adds[v], self.txns[v] = adds, txns
            self._live[v] = dict(live)
            self.versions.append(v)

    def live(self, version: int | None = None) -> dict[str, dict]:
        return self._live[self.versions[-1] if version is None else version]

    def txn_versions(self, app_id: str) -> dict[int, int]:
        """txn version -> table version that committed it."""
        return {
            tv: v for v in self.versions for app, tv in self.txns[v] if app == app_id
        }

    def num_records(self, version: int | None = None) -> int:
        return sum(
            json.loads(a["stats"])["numRecords"] for a in self.live(version).values()
        )

    def read(self, version: int | None = None) -> pa.Table:
        """Rows of a snapshot, partition values restored from the add
        actions, read with pyarrow."""
        parts = []
        for rel, add in sorted(self.live(version).items()):
            t = pq.read_table(os.path.join(self.path, rel))
            for k, val in add.get("partitionValues", {}).items():
                t = t.append_column(k, pa.array([int(val)] * t.num_rows, pa.int32()))
            parts.append(t)
        if not parts:
            return pa.table({})
        return pa.concat_tables(parts, promote_options="default")


def source_batches(checkpoint_dir: str) -> dict[str, int]:
    """file path -> micro-batch id of a single-source file stream, from
    its checkpoint: the source's metadata log (``sources/0/<n>`` and
    ``.compact`` files) gives each file's log index, and the offsets
    log (``offsets/<batch>``, last line ``{"logOffset": n}``) gives
    the last log index each micro-batch read."""
    d = os.path.join(checkpoint_dir, "sources", "0")
    index: dict[str, int] = {}
    if os.path.isdir(d):
        for name in os.listdir(d):
            if name.startswith("."):
                continue
            with open(os.path.join(d, name)) as f:
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        index[_uri_path(e["path"])] = int(e["batchId"])
    ends: list[tuple[int, int]] = []
    od = os.path.join(checkpoint_dir, "offsets")
    if os.path.isdir(od):
        for name in os.listdir(od):
            if name.isdigit():
                with open(os.path.join(od, name)) as f:
                    lines = [ln for ln in f.read().splitlines() if ln.strip()]
                if len(lines) >= 3:
                    ends.append((json.loads(lines[-1])["logOffset"], int(name)))
    ends.sort()
    out = {}
    for path, i in index.items():
        k = bisect.bisect_left(ends, (i, -1))
        if k < len(ends):
            out[path] = ends[k][1]
    return out


def _uri_path(uri: str) -> str:
    from urllib.parse import unquote, urlparse

    return os.path.normpath(unquote(urlparse(uri).path))
