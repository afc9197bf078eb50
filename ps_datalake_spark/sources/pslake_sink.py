"""``df.write.format("pslake")`` — the content-addressed store's put
waterfall (A10/A11/A14) as a first-class Spark sink (Python Data Source
writer API, new in Spark 4), completing the source story in
``pslake_source.py``.

    register_pslake(spark)   # ships the package zip, then registers
    (df.select("id", "data")                  # id bigint, data binary
       .write.format("pslake")
       .option("path", store_dir)
       .option("hkeys_out", mapping_dir)      # optional id→hkey parquet
       .option("staging_flush_bytes", n)      # optional, default 64 MiB
       .mode("append").save())

A thin adapter over the put protocol in ``lake/publish.py``, the one
``Store.put_blobs`` runs, so both write the same bytes by construction:

* ``write()`` (per task) runs a ``Stager`` over the task's Arrow batches:
  each blob is routed, the hash_prefix directories its chunks touch are
  probed, and new chunks are staged under a job-unique ``staging_<uuid>/``
  directory inside the store. With ``hkeys_out`` it also stages the task's
  id→hkey rows.
* ``commit()`` (driver side, no SparkSession) takes the store's exclusive
  write lease (A20) and runs ``publish.commit``, then publishes the id→hkey
  files. The staging directory is removed whatever happens.
* ``abort()`` removes the staging directory; a retried task's orphan files
  go with it, since commit publishes only files named by the messages of
  successful tasks.

A crash mid-commit leaves a subset of the chunks published and no manifests
row ahead of its chunks; a re-run dedups against what landed and completes
the put (content addressing makes every put replayable).
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, field
from typing import Iterator

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

from ..lake import crypto, publish
from ..lake.store import acquire_write_lease


@dataclass
class PsLakeCommitMessage(WriterCommitMessage):
    staging: str
    share: dict = field(default_factory=dict)  # publish.Stager.finish() of this task
    hkey_file: str | None = None


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
        self.manifest = publish.read_manifest(path)
        self.store_path = path
        if not crypto.cipher_available(self.manifest.get("cipher")):
            raise ValueError(
                f"store cipher {self.manifest.get('cipher')!r} unavailable in this environment"
            )
        self.hkeys_out = options.get("hkeys_out")
        self.flush_bytes = int(options.get("staging_flush_bytes", 64 * 1024 * 1024))
        self.staging = os.path.join(path, f"staging_{uuid.uuid4().hex[:12]}")

    def write(self, iterator: Iterator) -> PsLakeCommitMessage:
        stager = publish.Stager(
            publish.active_dir(self.store_path, "chunks"), self.staging, self.manifest, self.flush_bytes
        )
        hkeys: list[tuple[int, str]] = []
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
                hkey = stager.put(bytes(payload))
                if self.hkeys_out:
                    hkeys.append((int(blob_id), hkey))
        msg = PsLakeCommitMessage(staging=self.staging, share=stager.finish())
        if hkeys:
            d = os.path.join(self.staging, "hkeys")
            os.makedirs(d, exist_ok=True)
            msg.hkey_file = os.path.join(d, f"part-{stager.uid}.parquet")
            ids, keys = zip(*hkeys)
            pq.write_table(
                pa.table({"id": pa.array(ids, pa.int64()), "hkey": pa.array(keys, pa.string())}),
                msg.hkey_file,
            )
        return msg

    def commit(self, messages, batch_id: int | None = None) -> None:
        msgs = [m for m in messages if m is not None]
        try:
            with acquire_write_lease(self.store_path, "pslake_sink_commit"):
                publish.commit(
                    self.store_path, [m.share for m in msgs], self.manifest.get("quota_bytes")
                )
                if self.hkeys_out:
                    self._publish_hkeys(sorted(m.hkey_file for m in msgs if m.hkey_file), batch_id)
        finally:
            self.abort(msgs)

    def _publish_hkeys(self, staged: list[str], batch_id: int | None) -> None:
        """Chunks and manifests dedup by content address, but the id→hkey
        rows do not: a replayed streaming microbatch would publish them
        twice under fresh task uuids. With a batch_id the files are named by
        batch, and a previous attempt's files for it are removed first, so a
        replay overwrites instead of appending."""
        os.makedirs(self.hkeys_out, exist_ok=True)
        if batch_id is None:
            for f in staged:
                os.rename(f, os.path.join(self.hkeys_out, os.path.basename(f)))
            return
        stem = f"batch-{batch_id:010d}"
        for old in os.listdir(self.hkeys_out):
            if old.startswith(stem):
                os.unlink(os.path.join(self.hkeys_out, old))
        for i, f in enumerate(staged):
            os.rename(f, os.path.join(self.hkeys_out, f"{stem}-{i:05d}.parquet"))

    def abort(self, messages) -> None:
        # the messages name the staging roots: the streaming runner may
        # commit on another instance of the writer than the one whose
        # pickle the tasks staged under
        roots = {self.staging} | {m.staging for m in messages or [] if m is not None}
        for root in roots:
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
    files instead of appending duplicates."""

    def __init__(self, options: dict, overwrite: bool):
        self._w = PsLakeWriter(options, overwrite)

    def write(self, iterator: Iterator) -> PsLakeCommitMessage:
        return self._w.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        self._w.commit(messages, batch_id=batchId)

    def abort(self, messages, batchId: int) -> None:
        self._w.abort(messages)
