"""``df.write.format("pslake")`` — the content-addressed store's put
waterfall (A10/A11/A14) as a first-class Spark sink (Python Data Source
writer API, new in Spark 4), completing the source story in
``pslake_source.py``.

    register_pslake(spark)   # ships the package zip, then registers
    (df.select("id", "data")                  # id bigint, data binary
       .write.format("pslake")
       .option("path", store_dir)
       .option("hkeys_out", mapping_dir)      # optional id→hkey parquet
       .mode("append").save())

Semantics match ``Store.put_blobs`` byte-for-byte by construction: both
route every blob with ``lake.store.route_blob`` (reference mapping:
store/mod.rs:399-436 size routing, :386-389 convergent addressing):

  ≤ inline_max          → raw hkey only, nothing stored
  ≤ MAX_DECRYPTED_SIZE  → convergent-encrypt (A12 expansion guard),
                          store under sha256(stored bytes)
  else                  → TREE_CHUNK_SIZE split → child chunks + manifests
                          rows keyed by sha256(plaintext) (A13)

Scale design — the commit protocol never copies chunk bytes:

* ``write()`` (per task, Arrow record batches): routes each blob with
  ``route_blob`` and performs the A7 dedup probe DISTRIBUTED — each task
  reads the column-pruned ``hash`` column of the data files (listed as every
  store reader lists them) of only the ``hash_prefix=XX`` directories it
  actually touches (the store's A6 bucket fan-out doing the index's job)
  and drops already-stored chunks before staging.  Surviving chunk rows are
  staged as per-(task, prefix) parquet files under a job-unique
  ``staging_<uuid>/`` directory INSIDE the store (same filesystem, so the
  publish below is a metadata-only rename).  Staging is INCREMENTAL:
  pending ciphertext flushes to parquet whenever it crosses
  ``staging_flush_bytes`` (default 64 MiB, an option), so task-resident
  memory is O(flush threshold), never O(task's new data) — a task may
  stage several part files per prefix, which commit already handles.
  Hashes staged by earlier flushes are remembered (64 B/chunk) so a
  recurring blob inside one task stages once.
* ``commit()`` (driver side, no SparkSession): takes the store's exclusive
  write lease (A20 — the same ``write.lease`` protocol as every Store
  mutation), re-checks each touched prefix ONLY if its file listing changed
  since the task-time probe (an interleaved writer is the only way a staged
  hash can have become stale), drops cross-task duplicate hashes, enforces
  the quota (conservative, like put_blobs), then publishes every clean
  staged file with one ``os.rename`` into the active chunks generation.
  Only files that contain a duplicate row are rewritten filtered — at scale
  commit cost is O(new hash columns), not O(new data).
* ``abort()`` removes the staging directory; retried tasks leave orphan
  staged files that commit sweeps with the staging dir.

Like Spark's own file sinks, the publish is idempotent-but-not-atomic
across files: a crash mid-commit leaves a prefix-subset appended, which a
re-run dedups away (content addressing makes every put replayable).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Iterator

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

from ..errors import StoreOutOfSpace
from ..lake import crypto
from ..lake.store import MAX_SIZE_RAW, _data_files, acquire_write_lease, route_blob


@dataclass
class PsLakeCommitMessage(WriterCommitMessage):
    # (prefix, staged chunk file) pairs written by this task
    chunk_files: list = field(default_factory=list)
    manifest_file: str | None = None
    hkey_file: str | None = None
    # prefix -> sorted paths of the generation data files the task probed;
    # commit re-probes a prefix only when the live listing differs
    probed: dict = field(default_factory=dict)
    n_rows: int = 0


def _read_manifest(store_path: str) -> dict:
    with open(os.path.join(store_path, "manifest.json")) as f:
        manifest = json.load(f)
    if manifest.get("magic") != "datalake/v1":
        raise ValueError(f"not a ps-datalake store: {store_path}")
    return manifest


def _active_dir(store_path: str, sub: str) -> str:
    manifest = _read_manifest(store_path)
    return os.path.join(store_path, manifest.get(f"{sub}_dir") or sub)


def _hash_column(path: str, column: str = "hash") -> list[str]:
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=[column]).column(column).to_pylist()


class PsLakeWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, overwrite: bool):
        if overwrite:
            raise ValueError(
                "pslake is content-addressed and append-only; "
                "use mode('append'), not overwrite"
            )
        path = options.get("path")
        if not path:
            raise ValueError("pslake sink requires .option('path', <store dir>)")
        manifest = _read_manifest(path)
        self.store_path = path
        self.cipher = manifest.get("cipher") or crypto.cipher_name()
        if not crypto.cipher_available(self.cipher):
            raise ValueError(
                f"store cipher {self.cipher!r} unavailable in this environment"
            )
        self.prefix_len = int(manifest.get("prefix_len", 2))
        self.inline_max = int(manifest.get("inline_max", MAX_SIZE_RAW))
        self.quota_bytes = manifest.get("quota_bytes")
        self.hkeys_out = options.get("hkeys_out")
        self.flush_bytes = int(
            options.get("staging_flush_bytes", 64 * 1024 * 1024)
        )
        self.staging = os.path.join(path, f"staging_{uuid.uuid4().hex[:12]}")

    # -- per-task (executor) path -------------------------------------------

    def _probe_prefix(self, chunks_dir: str, prefix: str, cache: dict):
        """A7 probe, distributed: existing hashes of ONE bucket directory
        (column-pruned parquet reads), cached per task."""
        if prefix not in cache:
            files = _data_files(os.path.join(chunks_dir, f"hash_prefix={prefix}"))
            seen: set[str] = set()
            for f in files:
                seen.update(_hash_column(f))
            cache[prefix] = (seen, files)
        return cache[prefix]

    def write(self, iterator: Iterator) -> PsLakeCommitMessage:
        import pyarrow as pa
        import pyarrow.parquet as pq

        task_uid = uuid.uuid4().hex[:16]
        chunks_dir = _active_dir(self.store_path, "chunks")
        probe_cache: dict = {}
        # per-prefix pending chunk rows: prefix -> dict hash -> (size, enc, data)
        pending: dict[str, dict] = {}
        pending_bytes = 0  # ciphertext resident in `pending` right now
        flush_seq = 0
        # hashes already flushed to staged parquet by THIS task: keeps a
        # recurring blob from re-staging after its bytes left memory (the
        # commit-side cross-file dedup would still win, but re-staging
        # wastes I/O).  64 B per chunk — bounded metadata, never payload.
        staged_hashes: set[str] = set()
        manifest_rows: dict = {}  # (root_hash, seq) -> row (in-task dedup, A13)
        hkeys: list[tuple[int, str]] = []
        n_rows = 0
        msg = PsLakeCommitMessage()

        def _flush_pending() -> None:
            """Stage every pending prefix's rows to parquet and release the
            payload bytes — called at each flush-threshold crossing and once
            at end-of-task, so resident memory is O(staging_flush_bytes),
            never O(the task's total new data) (advisor r8 item)."""
            nonlocal pending, pending_bytes, flush_seq
            for prefix, rows in pending.items():
                d = os.path.join(self.staging, "chunks", f"hash_prefix={prefix}")
                os.makedirs(d, exist_ok=True)
                out = os.path.join(d, f"part-{task_uid}-{flush_seq:04d}.parquet")
                tbl = pa.table(
                    {
                        "hash": pa.array(list(rows), pa.string()),
                        "size": pa.array(
                            [r[0] for r in rows.values()], pa.int64()
                        ),
                        "enc": pa.array(
                            [r[1] for r in rows.values()], pa.string()
                        ),
                        "data": pa.array(
                            [r[2] for r in rows.values()], pa.binary()
                        ),
                    }
                )
                pq.write_table(tbl, out)
                msg.chunk_files.append((prefix, out))
                staged_hashes.update(rows)
            pending = {}
            pending_bytes = 0
            flush_seq += 1

        def _store_chunk(h: str, plain_len: int, enc: str, stored: bytes) -> None:
            nonlocal pending_bytes
            prefix = h[: self.prefix_len]
            existing, _files = self._probe_prefix(chunks_dir, prefix, probe_cache)
            # A10 dedup short-circuit: already stored, already staged by an
            # earlier flush, or already pending in memory.
            if (
                h not in existing
                and h not in staged_hashes
                and h not in pending.get(prefix, ())
            ):
                pending.setdefault(prefix, {})[h] = (plain_len, enc, stored)
                pending_bytes += len(stored)
                if pending_bytes >= self.flush_bytes:
                    _flush_pending()

        for batch in iterator:
            names = batch.schema.names
            ids = batch.column(names.index("id")).to_pylist()
            datas = batch.column(names.index("data")).to_pylist()
            for blob_id, payload in zip(ids, datas):
                if payload is None:
                    raise ValueError(
                        f"pslake sink: NULL 'data' for id {blob_id} — "
                        "blobs must be non-null bytes (use b'' for empty)"
                    )
                n_rows += 1
                hk, chunks = route_blob(bytes(payload), self.cipher, self.inline_max)
                for h, size, enc, stored, key, seq in chunks:
                    _store_chunk(h, size, enc, stored)
                    if seq is not None:  # a tree child (A13)
                        root = hk.split(":")[1]
                        manifest_rows[(root, seq)] = (root, seq, h, key, enc, size)
                if self.hkeys_out:
                    hkeys.append((int(blob_id), hk))

        if pending:
            _flush_pending()
        msg.n_rows = n_rows
        msg.probed = {p: files for p, (_seen, files) in probe_cache.items()}
        if manifest_rows:
            d = os.path.join(self.staging, "manifests")
            os.makedirs(d, exist_ok=True)
            out = os.path.join(d, f"part-{task_uid}.parquet")
            rows = sorted(manifest_rows.values())
            tbl = pa.table(
                {
                    "root_hash": pa.array([r[0] for r in rows], pa.string()),
                    "seq": pa.array([r[1] for r in rows], pa.int32()),
                    "child_hash": pa.array([r[2] for r in rows], pa.string()),
                    "child_key": pa.array([r[3] for r in rows], pa.string()),
                    "child_enc": pa.array([r[4] for r in rows], pa.string()),
                    "length": pa.array([r[5] for r in rows], pa.int64()),
                }
            )
            pq.write_table(tbl, out)
            msg.manifest_file = out
        if self.hkeys_out and hkeys:
            d = os.path.join(self.staging, "hkeys")
            os.makedirs(d, exist_ok=True)
            out = os.path.join(d, f"part-{task_uid}.parquet")
            tbl = pa.table(
                {
                    "id": pa.array([h[0] for h in hkeys], pa.int64()),
                    "hkey": pa.array([h[1] for h in hkeys], pa.string()),
                }
            )
            pq.write_table(tbl, out)
            msg.hkey_file = out
        return msg

    # -- driver-side commit protocol ----------------------------------------

    def _staging_roots(self, msgs) -> set:
        """Staging roots derived from the MESSAGES' file paths, not self:
        the streaming runner may commit on a different writer instantiation
        (fresh uuid) than the one whose pickle the tasks staged under, so
        self.staging alone would orphan the real staging dir."""
        roots = {self.staging}
        for m in msgs:
            for _prefix, f in m.chunk_files:
                roots.add(os.path.dirname(os.path.dirname(os.path.dirname(f))))
            for f in (m.manifest_file, m.hkey_file):
                if f:
                    roots.add(os.path.dirname(os.path.dirname(f)))
        return roots

    def commit(self, messages, batch_id: int | None = None) -> None:
        import shutil

        import pyarrow.parquet as pq

        msgs = [m for m in messages if m is not None]
        try:
            with acquire_write_lease(self.store_path, "pslake_sink_commit"):
                self._commit_locked(msgs, pq, batch_id)
        finally:
            for root in self._staging_roots(msgs):
                shutil.rmtree(root, ignore_errors=True)

    def _commit_locked(self, msgs, pq, batch_id: int | None = None) -> None:
        chunks_dir = _active_dir(self.store_path, "chunks")
        manifests_dir = _active_dir(self.store_path, "manifests")

        # 1. Interleave detection: a prefix needs a commit-time re-probe only
        #    if its live file listing differs from what ANY task saw (the
        #    lease serializes commits, so an unchanged listing proves the
        #    task-time probe is still exact).
        touched: dict[str, list] = {}
        for m in msgs:
            for prefix, f in m.chunk_files:
                touched.setdefault(prefix, []).append(f)
        reprobe: dict[str, set] = {}
        for m in msgs:
            for prefix, probed_files in m.probed.items():
                if prefix not in touched or prefix in reprobe:
                    continue
                live = _data_files(os.path.join(chunks_dir, f"hash_prefix={prefix}"))
                if live != probed_files:
                    seen: set[str] = set()
                    for f in live:
                        seen.update(_hash_column(f))
                    reprobe[prefix] = seen

        # 2. Keep/drop per staged file (hash columns only), global dedup
        #    across tasks; deterministic winner = lexicographically first file.
        seen_hashes: set[str] = set()
        plan: list[tuple[str, str, list[bool], int]] = []
        new_bytes = 0
        for prefix in sorted(touched):
            existing = reprobe.get(prefix, set())
            for f in sorted(touched[prefix]):
                hashes = _hash_column(f)
                sizes = _hash_column(f, "size")
                keep = []
                kept = 0
                for h, s in zip(hashes, sizes):
                    ok = h not in seen_hashes and h not in existing
                    keep.append(ok)
                    if ok:
                        seen_hashes.add(h)
                        kept += 1
                        new_bytes += int(s)
                if kept:
                    plan.append((prefix, f, keep, kept))

        # 3. Quota admission (conservative, matching put_blobs: post-dedup
        #    plaintext bytes vs recorded sizes already stored).
        if self.quota_bytes is not None and plan:
            import pyarrow.compute as pc
            import pyarrow.dataset as pads

            stored = 0
            if os.path.isdir(chunks_dir):
                dset = pads.dataset(chunks_dir, format="parquet", partitioning="hive")
                for b in dset.to_batches(columns=["size"]):
                    stored += int(pc.sum(b.column(0)).as_py() or 0)
            if stored + new_bytes > int(self.quota_bytes):
                raise StoreOutOfSpace(
                    f"{self.store_path}: quota {self.quota_bytes}"
                )

        # 4. Publish chunks: rename clean files (metadata-only), rewrite the
        #    rare dup-carrying file filtered.
        for prefix, f, keep, kept in plan:
            dst_dir = os.path.join(chunks_dir, f"hash_prefix={prefix}")
            os.makedirs(dst_dir, exist_ok=True)
            dst = os.path.join(dst_dir, os.path.basename(f))
            if all(keep):
                os.rename(f, dst)
            else:
                import pyarrow as pa

                tbl = pq.read_table(f)
                pq.write_table(tbl.filter(pa.array(keep)), dst)

        # 5. Publish manifests: dedup on root_hash vs the existing relation
        #    and across tasks ((root_hash, seq) in-task dedup already done).
        mfiles = sorted(m.manifest_file for m in msgs if m.manifest_file)
        if mfiles:
            existing_roots: set[str] = set()
            for f in _data_files(manifests_dir):
                existing_roots.update(_hash_column(f, "root_hash"))
            os.makedirs(manifests_dir, exist_ok=True)
            seen_roots: set[str] = set()
            for f in mfiles:
                roots = _hash_column(f, "root_hash")
                # a root staged by an earlier file in THIS commit wins whole:
                # each task stages complete (root, seq) trees (in-task dedup),
                # so root-granular keep/drop never splits a tree.
                keep = [r not in existing_roots and r not in seen_roots for r in roots]
                seen_roots.update(roots)
                dst = os.path.join(manifests_dir, os.path.basename(f))
                if all(keep):
                    os.rename(f, dst)
                elif any(keep):
                    import pyarrow as pa

                    tbl = pq.read_table(f)
                    pq.write_table(tbl.filter(pa.array(keep)), dst)

        # 6. Publish the id→hkey mapping, if requested.  Chunks/manifests
        #    dedup by content address, but the mapping rows do not — a
        #    replayed streaming microbatch would publish duplicate id→hkey
        #    rows under fresh task uuids (advisor r8 item).  With a
        #    batch_id the files are therefore named BY BATCH, and any
        #    previous attempt's files for the same batch are removed first,
        #    so a replay overwrites instead of appending.
        if self.hkeys_out:
            os.makedirs(self.hkeys_out, exist_ok=True)
            staged = sorted(m.hkey_file for m in msgs if m.hkey_file)
            if batch_id is None:
                for f in staged:
                    os.rename(
                        f, os.path.join(self.hkeys_out, os.path.basename(f))
                    )
            else:
                stem = f"batch-{batch_id:010d}"
                for old in os.listdir(self.hkeys_out):
                    if old.startswith(stem):
                        os.unlink(os.path.join(self.hkeys_out, old))
                for i, f in enumerate(staged):
                    os.rename(
                        f,
                        os.path.join(
                            self.hkeys_out, f"{stem}-{i:05d}.parquet"
                        ),
                    )

    def abort(self, messages) -> None:
        import shutil

        msgs = [m for m in (messages or []) if m is not None]
        for root in self._staging_roots(msgs):
            shutil.rmtree(root, ignore_errors=True)


class PsLakeStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("pslake")`` — the put waterfall per
    microbatch.  Pure composition over the batch writer: each microbatch's
    tasks stage chunks exactly like a batch put (task uuids keep staged
    files collision-free across batches and retries) and the per-batch
    commit publishes under the store's write lease.  Retried batches are
    EXACTLY-ONCE IN EFFECT with no sink-side log: content addressing makes
    a replayed publish dedup to a no-op (A10 put idempotence — the store's
    own semantics are the streaming sink's commit protocol).  The optional
    ``hkeys_out`` side output has no content address to dedup on, so its
    files are named by batchId and a replay REPLACES the batch's previous
    files instead of appending duplicates (advisor r8 item)."""

    def __init__(self, options: dict, overwrite: bool):
        self._w = PsLakeWriter(options, overwrite)

    def write(self, iterator: Iterator) -> PsLakeCommitMessage:
        return self._w.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        self._w.commit(messages, batch_id=batchId)

    def abort(self, messages, batchId: int) -> None:
        self._w.abort(messages)
