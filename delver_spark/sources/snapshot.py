"""Versioned-parquet snapshot store — the crawl's checkpoint/resume layer.

Iceberg-snapshot semantics without the Iceberg runtime jar (offline env;
SURVEY §7 step 5): each commit writes immutable state plus a
``manifest.json`` that is renamed into place LAST, so a crawl killed
mid-round or mid-checkpoint resumes from the last committed round exactly
(T8: failed round = no commit). The crawl state (frontier, url_store,
seen-set blob) goes to paths named by the commit number the manifest
records and is never rewritten: a second commit of one round or a dead
checkpoint leaves the committed state intact, and a live engine may read
what it committed (Spark refuses to overwrite a path its plan reads).
``gc`` keeps the state of the newest commit and the one before.

Append-only tables (crawl_order, documents, quarantine, lineage) are
per-round part directories: ``<name>/round_NNNNNN`` holds the parts that
the manifest of round N commits, and a reader lists the dirs up to the
manifest's round (:meth:`SnapshotStore.part_dirs`). So every writer names
a part dir by the snapshot round that commits it — the crawl engine's
driver buffer flushes into its checkpoint round, and a Spark-written
part of crawl round r goes to ``round_{r+1}``, the first manifest that
commits r — and an uncommitted round's parts are invisible. Resume
drops the dirs past the committed round (:meth:`SnapshotStore.drop_after`),
so a re-run round never lands beside a dead attempt's parts.

On a real deployment this maps 1:1 onto Iceberg table snapshots
(``writeTo(...).append()`` + snapshot expiry); the semantics the engine
relies on — atomic visibility of a round's writes — are identical.
"""

from __future__ import annotations

import json
import os
import shutil


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        self._manifest_path = os.path.join(root, "manifest.json")
        os.makedirs(root, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    def last_manifest(self) -> dict | None:
        if not os.path.exists(self._manifest_path):
            return None
        with open(self._manifest_path) as f:
            return json.load(f)

    def next_commit(self) -> int:
        m = self.last_manifest()
        return 0 if m is None else m["commit"] + 1

    def commit(self, manifest: dict):
        write_atomic(self._manifest_path, json.dumps(manifest).encode())

    # -- crawl state: per commit ---------------------------------------------
    def commit_dir(self, name: str, commit: int) -> str:
        return os.path.join(self.root, name, f"commit_{commit:06d}")

    def save_bloom(self, commit: int, blob: bytes):
        os.makedirs(os.path.join(self.root, "bloom"), exist_ok=True)
        write_atomic(self.commit_dir("bloom", commit) + ".bloom", blob)

    def load_bloom(self, commit: int) -> bytes:
        with open(self.commit_dir("bloom", commit) + ".bloom", "rb") as f:
            return f.read()

    def gc(self, commit: int):
        """Delete the frontier, url_store and seen-set state of all but
        ``commit`` and the one before it, a dead checkpoint's leftovers
        included (append-only part dirs are kept — they are the output
        tables)."""
        keep = {f"commit_{c:06d}" for c in (commit - 1, commit)}
        for name in ("frontier", "url_store", "bloom"):
            base = os.path.join(self.root, name)
            for d in os.listdir(base) if os.path.isdir(base) else ():
                if d.removesuffix(".bloom") not in keep:
                    p = os.path.join(base, d)
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
                    else:
                        os.remove(p)

    # -- append-only tables: per round ----------------------------------------
    def state_dir(self, name: str, rnd: int) -> str:
        return os.path.join(self.root, name, f"round_{rnd:06d}")

    def _round_dirs(self, name: str):
        base = os.path.join(self.root, name)
        for d in sorted(os.listdir(base)) if os.path.isdir(base) else ():
            if d.startswith("round_"):
                yield int(d[6:]), os.path.join(base, d)

    def part_dirs(self, name: str, upto_round: int) -> list[str]:
        return [p for r, p in self._round_dirs(name)
                if r <= upto_round and os.path.isdir(p) and os.listdir(p)]

    def drop_after(self, names, committed_round: int):
        """Delete the part dirs of ``names`` past ``committed_round``:
        the uncommitted output of a crawl that died after its last
        commit."""
        for name in names:
            for r, p in self._round_dirs(name):
                if r > committed_round:
                    shutil.rmtree(p, ignore_errors=True)


def write_atomic(path: str, data: bytes):
    """tmp+rename: a reader sees the old file or the whole new one."""
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)
