"""Lake mutations publish files, not rows.

A put is route → probe → stage → commit. The reference probes its index
before it writes (store/mod.rs:321-326) and publishes last (:348-362):

* A :class:`Stager` routes each blob with ``route_blob`` and probes only the
  ``hash_prefix`` directories its chunks touch, reading their ``hash``
  column with pyarrow; a chunk already stored is dropped there. The rest
  are staged as parquet under a ``staging_<uuid>/`` directory inside the
  store, on the same filesystem, so publishing is a rename. Pending
  ciphertext is flushed whenever it crosses ``flush_bytes``, so a stager
  holds at most that much. ``Store.put_blobs`` and the ``pslake`` sink run
  one stager per Spark task; ``Store.put_blob`` runs one on the driver.
* :func:`commit` runs on the driver under the store's write lease. It
  re-probes a prefix only if its listing changed since a stager probed it,
  drops hashes staged twice, admits the put against the quota, and renames
  every staged file into the active chunks generation, so a put publishes
  up to one file per stager and touched prefix. A file that holds a
  duplicate is rewritten with its kept rows under a ``_tmp-`` name, which
  every reader skips, and renamed into place. The manifests rows of trees
  are published last, so no manifests row names a chunk that is absent.
  A crash mid-commit leaves a subset of the chunks published; a re-run
  dedups against it and completes the put.

Quota rule, for every put path: the plaintext size of every chunk the put
routes, counted as if none deduplicated, plus the plaintext size of every
chunk already stored must be at most ``quota_bytes``. A put can be refused
that would fit after dedup; none is admitted that does not fit.

:func:`sweep` is vacuum's step for one task's prefixes: a file of the old
generation that holds no dead hash is hard-linked into the new generation,
and only a file that does is rewritten.
"""

from __future__ import annotations

import contextlib
import json
import os
import uuid
from typing import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ..errors import StoreOutOfSpace
from .store import (
    CHUNKS_ARROW_SCHEMA,
    MANIFESTS_ARROW_SCHEMA,
    MAGIC,
    MAX_SIZE_RAW,
    _data_files,
    _read_files,
    list_chunk_files,
    route_blob,
)


def read_manifest(store_path: str) -> dict:
    with open(os.path.join(store_path, "manifest.json")) as f:
        manifest = json.load(f)
    if manifest.get("magic") != MAGIC:
        raise ValueError(f"not a ps-datalake store: {store_path}")
    return manifest


def active_dir(store_path: str, sub: str) -> str:
    return os.path.join(store_path, read_manifest(store_path).get(f"{sub}_dir") or sub)


def _prefix_dir(chunks_dir: str, prefix: str) -> str:
    return os.path.join(chunks_dir, f"hash_prefix={prefix}")


def _column(files: list[str], column: str, schema: pa.Schema = CHUNKS_ARROW_SCHEMA) -> list:
    return _read_files(files, schema, [column], None).column(column).to_pylist()


def _link(src: str, dst: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.unlink(dst)  # left by an earlier attempt of a retried task
    os.link(src, dst)


def publish_file(src: str, dst_dir: str, keep: list[bool] | None = None, link: bool = False) -> None:
    """Publish ``src`` into ``dst_dir`` under its own name: whole (renamed,
    or hard-linked with ``link``) when ``keep`` is None or all true, else
    its kept rows, written under a ``_tmp-`` name and renamed into place."""
    os.makedirs(dst_dir, exist_ok=True)
    dst = os.path.join(dst_dir, os.path.basename(src))
    if keep is None or all(keep):
        (_link if link else os.rename)(src, dst)
        return
    tmp = os.path.join(dst_dir, "_tmp-" + os.path.basename(src))
    pq.write_table(pq.ParquetFile(src).read().filter(pa.array(keep)), tmp)
    os.rename(tmp, dst)


def _write(path: str, schema: pa.Schema, columns: list[list]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pydict(dict(zip(schema.names, columns)), schema=schema), path)


class Stager:
    """One writer's share of a put: routed, probed and staged, not yet
    published. ``finish`` returns the share as :func:`commit` takes it."""

    def __init__(self, chunks_dir: str, staging: str, manifest: dict, flush_bytes: int = 64 << 20):
        self.chunks_dir = chunks_dir
        self.staging = staging
        self.cipher = manifest["cipher"]
        self.inline_max = int(manifest.get("inline_max", MAX_SIZE_RAW))
        self.prefix_len = int(manifest.get("prefix_len", 2))
        self.flush_bytes = flush_bytes
        self.uid = uuid.uuid4().hex[:16]
        self.probed: dict[str, tuple[set[str], list[str]]] = {}  # prefix → (hashes, files)
        self.pending: dict[str, dict[str, tuple]] = {}  # prefix → hash → (size, enc, data)
        self.pending_bytes = 0
        self.staged: set[str] = set()  # hashes already flushed by this stager
        self.trees: dict[tuple[str, int], tuple] = {}  # (root, seq) → manifests row
        self.files: list[tuple[str, str]] = []  # (prefix, staged chunk file)
        self.routed_bytes = 0

    def put(self, blob: bytes) -> str:
        """Route ``blob``, stage its chunks that are not stored yet, and
        return its hkey."""
        hkey, chunks = route_blob(blob, self.cipher, self.inline_max)
        for h, size, enc, data, key, seq in chunks:
            self.routed_bytes += size
            prefix = h[: self.prefix_len]
            if prefix not in self.probed:
                files = _data_files(_prefix_dir(self.chunks_dir, prefix))
                self.probed[prefix] = (set(_column(files, "hash")), files)
            pending = self.pending.setdefault(prefix, {})
            if h not in self.probed[prefix][0] and h not in self.staged and h not in pending:
                pending[h] = (size, enc, data)
                self.pending_bytes += len(data)
                if self.pending_bytes >= self.flush_bytes:
                    self._flush()
            if seq is not None:  # a tree child (A13)
                root = hkey.split(":")[1]
                self.trees[(root, seq)] = (root, seq, h, key, enc, size)
        return hkey

    def _flush(self) -> None:
        for prefix, rows in self.pending.items():
            if rows:
                out = os.path.join(
                    _prefix_dir(os.path.join(self.staging, "chunks"), prefix),
                    f"part-{self.uid}-{len(self.files):04d}.parquet",
                )
                _write(out, CHUNKS_ARROW_SCHEMA, [list(rows), *map(list, zip(*rows.values()))])
                self.files.append((prefix, out))
                self.staged.update(rows)
        self.pending, self.pending_bytes = {}, 0

    def finish(self) -> dict:
        """Flush what is pending, stage the manifests rows, and return the
        share: its staged files, the listings it probed and its routed
        bytes, all JSON-serialisable."""
        self._flush()
        manifests = None
        if self.trees:
            manifests = os.path.join(self.staging, "manifests", f"part-{self.uid}.parquet")
            rows = sorted(self.trees.values())
            _write(manifests, MANIFESTS_ARROW_SCHEMA, [list(c) for c in zip(*rows)])
        return {
            "chunks": self.files,
            "manifests": manifests,
            "probed": {p: files for p, (_hashes, files) in self.probed.items()},
            "routed_bytes": self.routed_bytes,
        }


def commit(store_path: str, shares: list[dict], quota_bytes: int | None) -> None:
    """Publish the staged ``shares`` of one put into the store's active
    generations. The caller holds the write lease. Raises StoreOutOfSpace,
    before anything is published, when the quota rule refuses the put."""
    chunks_dir = active_dir(store_path, "chunks")
    manifests_dir = active_dir(store_path, "manifests")
    touched: dict[str, list[str]] = {}
    for share in shares:
        for prefix, f in share["chunks"]:
            touched.setdefault(prefix, []).append(f)
    plan: dict[str, list[tuple[str, list[bool] | None]]] = {}
    for prefix in sorted(touched):
        # `seen`: the prefix's hashes stored or staged by an earlier file. A
        # probe can only be stale if another writer committed in between,
        # and then the prefix's listing differs from the one a stager read:
        # only such a prefix is re-read. Hashes never repeat across
        # prefixes, so the driver holds one prefix's hashes at a time.
        live = _data_files(_prefix_dir(chunks_dir, prefix))
        stale = any(s["probed"].get(prefix, live) != live for s in shares)
        seen = set(_column(live, "hash")) if stale else set()
        for f in sorted(touched[prefix]):
            keep = []
            for h in _column([f], "hash"):
                keep.append(h not in seen)
                seen.add(h)
            if any(keep):
                plan.setdefault(prefix, []).append((f, None if all(keep) else keep))
    if quota_bytes is not None:
        routed = sum(s["routed_bytes"] for s in shares)
        files = [f for f, _p in list_chunk_files(chunks_dir)]
        stored = pc.sum(_read_files(files, CHUNKS_ARROW_SCHEMA, ["size"], None).column(0)).as_py()
        if (stored or 0) + routed > quota_bytes:
            raise StoreOutOfSpace(f"{store_path}: quota {quota_bytes}")
    for prefix, files in plan.items():
        for f, keep in files:
            publish_file(f, _prefix_dir(chunks_dir, prefix), keep)
    # a root staged by an earlier file wins whole: a stager stages every
    # (root, seq) row of its trees, so root-granular keep never splits one
    roots = set(_column(_data_files(manifests_dir), "root_hash", MANIFESTS_ARROW_SCHEMA))
    for f in sorted(s["manifests"] for s in shares if s["manifests"]):
        staged_roots = _column([f], "root_hash", MANIFESTS_ARROW_SCHEMA)
        keep = [r not in roots for r in staged_roots]
        roots.update(staged_roots)
        if any(keep):
            publish_file(f, manifests_dir, keep)


def stage_batches_for(chunks_dir: str, staging: str, manifest: dict):
    """mapInPandas worker factory for ``Store.put_blobs``: one Stager per
    task over (id, data) rows. Emits (id, hkey) per non-NULL blob. The
    task's share, with the ids of its NULL payloads, which the driver
    refuses, goes to ``shares/part-<partition>.json`` under ``staging``; a
    retried task replaces its partition's file."""

    def _stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        stager, nulls = Stager(chunks_dir, staging, manifest), []
        for pdf in batches:
            ok = pdf["data"].notna()
            nulls += pdf["id"][~ok].tolist()
            hkeys = [stager.put(bytes(b)) for b in pdf["data"][ok]]
            yield pd.DataFrame({"id": pdf["id"][ok].to_numpy(), "hkey": hkeys})
        share = {**stager.finish(), "nulls": nulls}
        out = os.path.join(staging, "shares", f"part-{TaskContext.get().partitionId():05d}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out + f".{stager.uid}", "w") as f:
            json.dump(share, f)
        os.replace(out + f".{stager.uid}", out)

    return _stage


def read_shares(staging: str) -> list[dict]:
    """The shares ``stage_batches_for``'s tasks left under ``staging``."""
    d = os.path.join(staging, "shares")
    names = sorted(n for n in os.listdir(d) if n.endswith(".json")) if os.path.isdir(d) else []
    shares = []
    for n in names:
        with open(os.path.join(d, n)) as f:
            shares.append(json.load(f))
    return shares


def sweep(old_dir: str, new_dir: str, live: dict[str, set[str]]) -> int:
    """Vacuum's step for the prefixes in ``live`` (prefix → its live
    hashes): each file of the old generation that holds a live hash is
    published into the new one, hard-linked when it holds no dead hash.
    Returns the number of rows left behind."""
    removed = 0
    for prefix, hashes in live.items():
        for f in _data_files(_prefix_dir(old_dir, prefix)):
            keep = [h in hashes for h in _column([f], "hash")]
            removed += keep.count(False)
            if any(keep):
                publish_file(f, _prefix_dir(new_dir, prefix), keep, link=True)
    return removed


def sweep_batches_for(old_dir: str, new_dir: str):
    """mapInPandas worker factory for ``Store.vacuum`` over (prefix, hash,
    kid) rows, where a NULL hash marks a prefix directory to sweep and
    ``kid`` names the manifests row of a tree child. Emits one row per task:
    the rows it removed and the distinct manifests rows it got (each lands
    in one task, the one of its child's prefix)."""

    def _sweep(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        live: dict[str, set[str]] = {}
        marked: set[str] = set()
        kids: set[str] = set()
        for pdf in batches:
            kids.update(k for k in pdf["kid"] if isinstance(k, str))
            for prefix, h in zip(pdf["prefix"], pdf["hash"]):
                if isinstance(h, str):
                    live.setdefault(prefix, set()).add(h)
                else:
                    marked.add(prefix)
        removed = sweep(old_dir, new_dir, {p: live.get(p, set()) for p in marked})
        yield pd.DataFrame({"removed": [removed], "kids": [len(kids)]})

    return _sweep
