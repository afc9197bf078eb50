"""``pslake`` — the content-addressed chunk store as a first-class Spark
data source (Python Data Source API, new in Spark 4).

    register_pslake(spark)   # ships the package zip, then registers
    df = (spark.read.format("pslake")
          .option("path", store_dir)
          .option("verify", "true")      # sha256 every chunk in the reader
          .option("generation", "0")     # or "-1": time-travel snapshot
          .load())

One row per stored chunk: ``(hash, hash_prefix, size, enc, stored_len,
hash_ok)``.  ``size`` is the recorded PLAINTEXT size, ``stored_len`` the
on-disk (possibly ciphertext) length, ``hash_ok`` the reader-side
verification that sha256(stored bytes) equals the chunk's address — the
reference's open-validation walk (store/mod.rs:412-414) surfaced through
Spark's own source API instead of a bespoke catalog call.

Scale design: ``partitions()`` does driver-side FILE LISTING only (no data
reads) and emits one InputPartition per chunk parquet file — the store's
hash_prefix directory fan-out (A6 bucket hash) becomes Spark's partition
planning, so a 1000-executor cluster verifies a 100 TB store with
per-file parallelism and zero shuffle.  ``read()`` streams record batches
through pyarrow and never materializes more than one batch of chunk bytes
per task.  The blob payload itself is deliberately NOT a result column —
verification consumes it inside the reader; shipping it would serialize
the whole store through the driver-facing result path.

Generation handling mirrors Store._active_path / chunks_at: the active
pointer is re-read from manifest.json at plan time, ``generation=-1``
resolves the retained pre-maintenance snapshot (time travel).
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    In,
    InputPartition,
)

from ..lake.store import list_chunk_files as _list_chunk_files

_SCHEMA = (
    "hash string, hash_prefix string, size bigint, enc string, "
    "stored_len bigint, hash_ok int"
)


def _and_in(current: set | None, new: set) -> set:
    """AND-combine IN-set constraints (pushFilters gives a conjunction)."""
    return set(new) if current is None else current & new


class _ChunkFilePartition(InputPartition):
    def __init__(self, file_path: str, prefix: str):
        self.file_path = file_path
        self.prefix = prefix


def _resolve_chunks_dir(store_path: str, generation: int) -> str:
    manifest_path = os.path.join(store_path, "manifest.json")
    with open(manifest_path) as f:
        manifest = json.load(f)
    if manifest.get("magic") != "datalake/v1":  # Store.sniff's magic check
        raise ValueError(f"not a ps-datalake store: {store_path}")
    if generation == 0:
        sub = manifest.get("chunks_dir") or "chunks"
    elif generation == -1:
        sub = manifest.get("chunks_prev_dir")
        if not sub:
            raise ValueError("no previous chunks generation (no maintenance op has run)")
    else:
        raise ValueError(f"only generations 0 and -1 are retained, got {generation}")
    return os.path.join(store_path, sub)


class PsLakeReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        # `path` is validated LAZILY (in partitions()): the SQL surface
        # (`CREATE TABLE ... USING pslake`) probes the reader with EMPTY
        # options during CREATE-time capability/schema checks, and the real
        # table options only arrive with the scan — a hard requirement here
        # would make the source unusable from pure SQL.
        self.store_path = path
        if path:
            self.chunks_dir = _resolve_chunks_dir(
                path, int(options.get("generation", "0"))
            )
            with open(os.path.join(path, "manifest.json")) as f:
                self.prefix_len = int(json.load(f).get("prefix_len", 2))
        else:
            self.chunks_dir = None
            self.prefix_len = 2
        self.verify = str(options.get("verify", "true")).lower() != "false"
        # pushdown=false declines every filter (no pruning state): needed
        # for LONG-LIVED relations (temp views / reused DataFrames) —
        # Spark 4.1 caches the post-pushdown read info per relation
        # JVM-side, so a relation scanned once WITH a pushed filter serves
        # that filtered partition list to every later scan (measured:
        # full-count 11 -> filtered 1 -> full-count 1 on the same loaded
        # DataFrame; a FRESH load() per query is isolated and safe).
        self.pushdown = str(options.get("pushdown", "true")).lower() != "false"
        # pushed point-lookup state (see pushFilters): None = unconstrained
        self.hash_in: set | None = None
        self.prefix_in: set | None = None

    def pushFilters(self, filters):
        """A7 as SOURCE PLANNING (Spark 4.1 pushFilters): equality/IN on
        ``hash`` or ``hash_prefix`` prunes partition planning to the matching
        bucket directories — the reference's open-addressing index probe
        (store/mod.rs A6/A7) expressed as partition pruning, so
        ``WHERE hash = <h>`` plans exactly the one prefix directory instead
        of scanning the store.  Consumed filters are ALSO applied row-level
        in read() (Spark does not re-evaluate what the source accepts).

        With pushdown=false every filter is declined untouched — the safe
        mode for relations that outlive one query (see __init__)."""
        if not self.pushdown:
            yield from filters
            return
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("hash",):
                vals = {f.value}
            elif isinstance(f, In) and f.attribute == ("hash",):
                vals = set(f.value)
            elif isinstance(f, EqualTo) and f.attribute == ("hash_prefix",):
                self.prefix_in = _and_in(self.prefix_in, {f.value})
                continue
            elif isinstance(f, In) and f.attribute == ("hash_prefix",):
                self.prefix_in = _and_in(self.prefix_in, set(f.value))
                continue
            else:
                yield f  # unsupported — Spark evaluates it post-scan
                continue
            self.hash_in = _and_in(self.hash_in, vals)
            self.prefix_in = _and_in(
                self.prefix_in,
                {str(v)[: self.prefix_len] for v in vals},
            )

    def partitions(self):
        if self.chunks_dir is None:
            raise ValueError(
                "pslake source requires a store path: .option('path', <dir>)"
                " or CREATE TABLE ... USING pslake OPTIONS (path '<dir>')"
            )
        prefixes = None if self.prefix_in is None else sorted(self.prefix_in)
        files = _list_chunk_files(self.chunks_dir, prefixes)
        return [_ChunkFilePartition(f, p) for f, p in files]

    def read(self, partition: _ChunkFilePartition):
        """Yields pyarrow RecordBatches (the Python Data Source API's
        Arrow-batch path), never per-row Python tuples: a bulk scan moves
        each parquet batch Arrow->Arrow with zero row materialization —
        the r8 verdict's symmetric-with-the-sink read path.  The pushed
        hash lookup applies as a vectorized is_in mask; only the sha256
        verification walks rows (hashlib is per-buffer by nature), and it
        feeds each payload to hashlib as a BinaryScalar.as_buffer() view —
        a zero-copy slice of the Arrow data buffer, not a Python bytes
        copy (advisor r9 item; the 64-char hex digests for comparison are
        still materialized per row, which is cheap and unavoidable)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if partition is None:
            # partitions() pruned everything (pushed lookup missed every
            # bucket); Spark still schedules one task with a None partition
            return
        pf = pq.ParquetFile(partition.file_path)
        hash_set = (
            pa.array(sorted(self.hash_in), pa.string())
            if self.hash_in is not None
            else None
        )
        for batch in pf.iter_batches(columns=["hash", "size", "enc", "data"]):
            if hash_set is not None:
                batch = batch.filter(
                    pc.is_in(batch.column("hash"), value_set=hash_set)
                )
            n = batch.num_rows
            if n == 0:
                continue
            data = batch.column("data")
            stored_len = pc.cast(
                pc.coalesce(pc.binary_length(data), pa.scalar(0)), pa.int64()
            )
            if self.verify:
                ok = pa.array(
                    [
                        1
                        if hashlib.sha256(
                            d.as_buffer() if d.is_valid else b""
                        ).hexdigest()
                        == h
                        else 0
                        for h, d in zip(batch.column("hash").to_pylist(), data)
                    ],
                    pa.int32(),
                )
            else:
                ok = pa.repeat(pa.scalar(1, pa.int32()), n)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("hash"),
                    pa.repeat(pa.scalar(partition.prefix, pa.string()), n),
                    pc.cast(batch.column("size"), pa.int64()),
                    batch.column("enc"),
                    stored_len,
                    ok,
                ],
                names=[
                    "hash", "hash_prefix", "size", "enc", "stored_len",
                    "hash_ok",
                ],
            )


class PsLakeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pslake"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> PsLakeReader:
        return PsLakeReader(self.options)

    @staticmethod
    def _check_sink_schema(schema) -> None:
        names = {f.name for f in schema.fields}
        if not {"id", "data"} <= names:
            raise ValueError(
                f"pslake sink needs columns ('id', 'data'), got {sorted(names)}"
            )

    def writer(self, schema, overwrite: bool):
        """``df.write.format("pslake")`` — the put waterfall as a native
        sink (size routing A11, dedup A10, chunk trees A13, lease A20).
        Input must carry ``id`` (integral) and ``data`` (binary) columns;
        see pslake_sink.py for the commit protocol."""
        from .pslake_sink import PsLakeWriter

        self._check_sink_schema(schema)
        return PsLakeWriter(dict(self.options), overwrite)

    def streamWriter(self, schema, overwrite: bool):
        """``df.writeStream.format("pslake")`` — per-microbatch puts whose
        replay safety IS the store's content addressing (pslake_sink.py)."""
        from .pslake_sink import PsLakeStreamWriter

        self._check_sink_schema(schema)
        return PsLakeStreamWriter(dict(self.options), overwrite)
