"""Run manifest — checkpoint/resume (S5/G10 analog).

The reference persists each in-flight node to ``<path>/<uuid>`` with an
atomic write and re-ingests leftovers on restart
(groupandverify.go:975-1204, atomicWrite.go:153-226). The batch analog:
a tiny JSON manifest recording each committed output table for a run,
written atomically (``_atomic_write``, the same protocol). A re-run
with the same run_id skips stages whose outputs are already committed —
idempotent resume without recomputation."""

from __future__ import annotations

import json
import os
import tempfile


def _atomic_write(path: str, text: str) -> None:
    """Replace ``path`` with ``text``: temp file + fsync + rename + dir
    fsync (Server/atomicWrite.go:210-226). The one writer of run
    manifests, table manifests and VERSION pointers."""
    d = os.path.dirname(path)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    dfd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


class RunManifest:
    def __init__(self, root: str, run_id: str):
        self.dir = os.path.join(root, "_manifest")
        self.run_id = run_id
        os.makedirs(self.dir, exist_ok=True)
        self.path = os.path.join(self.dir, f"{run_id}.json")
        self._state = self._load()

    def _load(self) -> dict:
        if os.path.exists(self.path):
            with open(self.path) as f:
                return json.load(f)
        return {"run_id": self.run_id, "committed": {}}

    def is_committed(self, step: str) -> bool:
        return step in self._state["committed"]

    def commit(self, step: str, info: dict | None = None) -> None:
        """Record ``step`` as committed (one ``_atomic_write``)."""
        self._state["committed"][step] = info or {}
        _atomic_write(self.path, json.dumps(self._state))

    def committed_steps(self) -> list[str]:
        return sorted(self._state["committed"])
