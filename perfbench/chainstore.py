"""Block-results documents of a generated chain, stored as one byte blob
plus an offsets array, and the RPC stand-in that serves them.

Executors import this module to resolve ``/block_results?height=N`` with
an O(1) slice, so the stand-in costs little next to the program's own
fetch, parse and write work.
"""

from __future__ import annotations

import json
import mmap
import os

import numpy as np

_LOADED: dict[str, tuple[int, np.ndarray, mmap.mmap]] = {}


def write_docs(path: str, first_height: int, docs: list[bytes]) -> None:
    """Write ``docs`` (one envelope per height from ``first_height``) to
    ``path`` (a directory)."""
    os.makedirs(path, exist_ok=True)
    offsets = np.zeros(len(docs) + 1, dtype=np.int64)
    np.cumsum([len(d) for d in docs], out=offsets[1:])
    with open(os.path.join(path, "docs.bin"), "wb") as f:
        f.write(b"".join(docs))
    np.save(os.path.join(path, "offsets.npy"), offsets)
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump({"first_height": first_height}, f)


def _load(path: str) -> tuple[int, np.ndarray, mmap.mmap]:
    if path not in _LOADED:
        with open(os.path.join(path, "meta.json")) as f:
            first = json.load(f)["first_height"]
        offsets = np.load(os.path.join(path, "offsets.npy"))
        with open(os.path.join(path, "docs.bin"), "rb") as f:
            blob = mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ)
        _LOADED[path] = (first, offsets, blob)
    return _LOADED[path]


class DocTransport:
    """``transport`` argument of ``fetch_block_results``: serves the
    stored envelope of one height. A class rather than a closure so it
    pickles by reference and executors load the store once each."""

    _PREFIX = "/block_results?height="

    def __init__(self, path: str):
        self.path = path

    def __call__(self, req: str) -> str:
        if not req.startswith(self._PREFIX):
            raise ValueError(f"unsupported RPC path: {req}")
        first, offsets, blob = _load(self.path)
        i = int(req[len(self._PREFIX):]) - first
        if not 0 <= i < len(offsets) - 1:
            raise KeyError(f"height outside the generated chain: {req}")
        return blob[offsets[i]:offsets[i + 1]].decode()
