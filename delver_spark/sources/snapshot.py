"""Versioned-parquet snapshot store — the crawl's checkpoint/resume layer.

Iceberg-snapshot semantics without the Iceberg runtime jar (offline env;
SURVEY §7 step 5): each committed round writes immutable state dirs plus a
``manifest.json`` that is renamed into place LAST. A crawl killed mid-round
leaves a stale manifest → resume re-reads the last committed round exactly
(T8: failed round = no commit).

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
        os.makedirs(root, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def last_manifest(self) -> dict | None:
        p = self._manifest_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def commit(self, manifest: dict):
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path())  # atomic commit point

    # -- state dirs ----------------------------------------------------------
    def state_dir(self, name: str, rnd: int) -> str:
        return os.path.join(self.root, name, f"round_{rnd:06d}")

    def part_dirs(self, name: str, upto_round: int) -> list[str]:
        base = os.path.join(self.root, name)
        if not os.path.isdir(base):
            return []
        out = []
        for d in sorted(os.listdir(base)):
            if d.startswith("round_") and int(d[6:]) <= upto_round:
                p = os.path.join(base, d)
                if os.path.isdir(p) and os.listdir(p):
                    out.append(p)
        return out

    def drop_after(self, names, committed_round: int):
        """Delete the part dirs of ``names`` past ``committed_round``:
        the uncommitted output of a crawl that died after its last
        commit."""
        for name in names:
            base = os.path.join(self.root, name)
            if not os.path.isdir(base):
                continue
            for d in os.listdir(base):
                if d.startswith("round_") and int(d[6:]) > committed_round:
                    shutil.rmtree(os.path.join(base, d), ignore_errors=True)

    # -- bloom ------------------------------------------------------------------
    def save_bloom(self, rnd: int, blob: bytes):
        d = os.path.join(self.root, "bloom")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"round_{rnd:06d}.bloom"), "wb") as f:
            f.write(blob)

    def load_bloom(self, rnd: int) -> bytes:
        with open(os.path.join(self.root, "bloom", f"round_{rnd:06d}.bloom"), "rb") as f:
            return f.read()

    def gc(self, committed_round: int):
        """Drop the frontier, url_store and seen-set state of all but the
        two newest rounds, never the committed one: each commit keeps its
        own and the one before (append-only part dirs are kept — they are
        the output tables)."""
        for name in ("frontier", "url_store", "bloom"):
            base = os.path.join(self.root, name)
            if not os.path.isdir(base):
                continue
            for d in sorted(os.listdir(base))[:-2]:
                if d.startswith("round_") \
                        and int(d[6:].removesuffix(".bloom")) < committed_round:
                    p = os.path.join(base, d)
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
                    else:
                        os.remove(p)
