"""The ``pslake`` Python Data Source (Spark 4 DataSource API): partition
planning from the store's hash_prefix fan-out, reader-side hash
verification, generation time travel, and the not-a-store error path."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ps_datalake_spark.lake.store import Store
from ps_datalake_spark.sources import PsLakeDataSource, register_pslake
from pyspark.sql.datasource import EqualTo, GreaterThan, In

from ps_datalake_spark.sources.pslake_source import (
    _list_chunk_files,
    _resolve_chunks_dir,
)


@pytest.fixture()
def store(spark, tmp_path):
    st = Store.create(spark, str(tmp_path / "store"), prefix_len=1)
    blobs = spark.createDataFrame(
        [(i, bytearray(f"blob-{i}-".encode() * 40)) for i in range(20)],
        "id long, data binary",
    )
    st.put_blobs(blobs).count()
    return st


def _read(spark, st, **opts):
    register_pslake(spark)
    r = spark.read.format("pslake").option("path", st.path)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_rows_match_catalog_and_hashes_verify(spark, store):
    df = _read(spark, store)
    rows = df.collect()
    assert len(rows) == store.chunks().count()
    assert all(r["hash_ok"] == 1 for r in rows)
    # recorded plaintext size and on-disk length both survive the reader
    cat = {r["hash"]: r for r in store.chunks().collect()}
    for r in rows:
        assert r["size"] == cat[r["hash"]]["size"]
        assert r["stored_len"] == len(bytes(cat[r["hash"]]["data"]))
        assert r["hash_prefix"] == r["hash"][:1]


def test_partition_planning_is_per_chunk_file(store):
    chunks_dir = _resolve_chunks_dir(store.path, 0)
    files = _list_chunk_files(chunks_dir)
    assert len(files) >= 2, "prefix fan-out should yield multiple files"
    reader = PsLakeDataSource(options={"path": store.path}).reader(None)
    assert len(reader.partitions()) == len(files)


def test_generation_time_travel(spark, store):
    with pytest.raises(ValueError, match="no previous chunks generation"):
        _resolve_chunks_dir(store.path, -1)
    n_before = store.chunks().count()
    store.compact(target_file_bytes=1 << 20)
    snap = _read(spark, store, generation="-1")
    cur = _read(spark, store, generation="0")
    assert snap.count() == n_before
    assert cur.count() == n_before  # compact preserves content
    # compact coalesced the per-prefix files — the generations differ on disk
    assert _resolve_chunks_dir(store.path, 0) != _resolve_chunks_dir(store.path, -1)


def test_not_a_store_raises(tmp_path):
    bad = tmp_path / "not_a_store"
    bad.mkdir()
    with pytest.raises(FileNotFoundError):
        _resolve_chunks_dir(str(bad), 0)
    (bad / "manifest.json").write_text(json.dumps({"something": "else"}))
    with pytest.raises(ValueError, match="not a ps-datalake store"):
        _resolve_chunks_dir(str(bad), 0)


def test_corrupted_chunk_is_flagged_not_hidden(spark, store, tmp_path):
    """Flip one byte in one chunk file's data page region → the reader must
    report hash_ok=0 for exactly the damaged rows, never silently pass."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    chunks_dir = _resolve_chunks_dir(store.path, 0)
    f, _prefix = _list_chunk_files(chunks_dir)[0]
    t = pq.read_table(f)
    datas = t.column("data").to_pylist()
    datas[0] = bytes(datas[0][:-1]) + bytes([datas[0][-1] ^ 0xFF])
    cols = {c: t.column(c) for c in t.column_names}
    cols["data"] = pa.array(datas, type=pa.binary())
    pq.write_table(pa.table(cols), f)

    df = _read(spark, store)
    bad = df.where(F.col("hash_ok") == 0).count()
    assert bad == 1


# -- the pslake SINK (df.write.format("pslake"), sources/pslake_sink.py) -----


def _write(df, st, **opts):
    w = df.write.format("pslake").option("path", st.path)
    for k, v in opts.items():
        w = w.option(k, v)
    w.mode("append").save()


@pytest.fixture()
def sink_store(spark, tmp_path):
    register_pslake(spark)
    return Store.create(spark, str(tmp_path / "sink_store"), prefix_len=1)


def _tiered_rows():
    rows = [(i, bytes(f"blob-{i}-".encode() * (5 if i < 5 else 2000))) for i in range(10)]
    # tree tier: 4 identical 256K Z-pieces (dedup inside one blob) + 2 mixed
    rows.append((100, b"Z" * ((1 << 20) + 1) + b"tail" * 100_000))
    return rows


def test_sink_all_tiers_round_trip(spark, sink_store, tmp_path):
    rows = _tiered_rows()
    df = spark.createDataFrame(rows, "id long, data binary").repartition(3)
    _write(df, sink_store, hkeys_out=str(tmp_path / "hkeys"))
    hk = {r["id"]: r["hkey"] for r in spark.read.parquet(str(tmp_path / "hkeys")).collect()}
    src = dict(rows)
    assert set(hk) == set(src)
    for i, key in hk.items():
        assert sink_store.get(key) == src[i]
    # raw tier stored nothing; tree tier wrote manifests
    kinds = {k.split(":", 1)[0] for k in hk.values()}
    assert {"raw", "tree"} <= kinds and (kinds & {"enc", "plain"})
    assert sink_store.manifests().count() == 6  # ceil(1448577 / 256K) pieces


def test_sink_matches_put_blobs_exactly(spark, sink_store, tmp_path):
    """Sink and Store.put_blobs must be byte-identical: same chunk hashes,
    same hkeys — the sink IS the put waterfall, not a reimplementation."""
    rows = _tiered_rows()
    df = spark.createDataFrame(rows, "id long, data binary")
    _write(df, sink_store, hkeys_out=str(tmp_path / "hk_sink"))
    other = Store.create(spark, str(tmp_path / "via_put"), prefix_len=1)
    via_put = {r["id"]: r["hkey"] for r in other.put_blobs(df).collect()}
    via_sink = {
        r["id"]: r["hkey"] for r in spark.read.parquet(str(tmp_path / "hk_sink")).collect()
    }
    assert via_sink == via_put
    sink_hashes = {r["hash"] for r in sink_store.chunks().collect()}
    put_hashes = {r["hash"] for r in other.chunks().collect()}
    assert sink_hashes == put_hashes
    cols = ["root_hash", "seq", "child_hash", "child_key", "child_enc", "length"]
    sink_tree = sorted(tuple(r) for r in sink_store.manifests().select(cols).collect())
    put_tree = sorted(tuple(r) for r in other.manifests().select(cols).collect())
    assert sink_tree and sink_tree == put_tree


def test_sink_dedup_and_staging_cleanup(spark, sink_store):
    df = spark.createDataFrame(_tiered_rows(), "id long, data binary").repartition(4)
    _write(df, sink_store)
    n1 = sink_store.chunks().count()
    _write(df, sink_store)  # A10: the second write must be a no-op
    assert sink_store.chunks().count() == n1
    assert sink_store.chunks().select("hash").distinct().count() == n1
    assert sink_store.manifests().count() == 6  # not doubled either
    assert not [d for d in os.listdir(sink_store.path) if d.startswith("staging_")]


def test_sink_skips_torn_temporary_files(spark, sink_store, tmp_path):
    """A torn `_tmp-` file in a partition (a crash mid-write) is skipped by
    the sink's dedup probe and commit, as every store reader skips it."""
    import glob

    chunks = sink_store._active_path("chunks")
    (sentinel,) = glob.glob(os.path.join(chunks, "hash_prefix=*", "*.parquet"))
    with open(sentinel, "rb") as f:
        head = f.read(os.path.getsize(sentinel) // 2)
    for p in "0123456789abcdef":
        part = os.path.join(chunks, f"hash_prefix={p}")
        os.makedirs(part, exist_ok=True)
        with open(os.path.join(part, "_tmp-part-00000-torn.parquet"), "wb") as f:
            f.write(head)
    rows = _tiered_rows()
    df = spark.createDataFrame(rows, "id long, data binary").repartition(2)
    _write(df, sink_store, hkeys_out=str(tmp_path / "hk"))
    hk = {r["id"]: r["hkey"] for r in spark.read.parquet(str(tmp_path / "hk")).collect()}
    assert {i: sink_store.get(k) for i, k in hk.items()} == dict(rows)


def test_sink_honors_write_lease(spark, sink_store):
    """A held lease must fail the write (StoreBusy surfaces through Spark)."""
    import time

    lease = os.path.join(sink_store.path, "write.lease")
    with open(lease, "w") as f:
        json.dump({"pid": os.getpid(), "ts": time.time(), "op": "test"}, f)
    df = spark.createDataFrame([(1, b"x" * 2000)], "id long, data binary")
    try:
        with pytest.raises(Exception, match="write lease held"):
            _write(df, sink_store)
        assert sink_store.chunks().count() == 1  # sentinel only — nothing landed
    finally:
        os.unlink(lease)


def test_sink_rejects_overwrite_and_bad_schema(spark, sink_store):
    df = spark.createDataFrame([(1, b"x")], "id long, data binary")
    with pytest.raises(Exception, match="append-only"):
        df.write.format("pslake").option("path", sink_store.path).mode(
            "overwrite"
        ).save()
    bad = spark.createDataFrame([(1, "nope")], "id long, text string")
    with pytest.raises(Exception, match="needs columns"):
        bad.write.format("pslake").option("path", sink_store.path).mode(
            "append"
        ).save()


def test_sink_null_payload_fails_loudly(spark, sink_store):
    df = spark.createDataFrame([(1, b"ok" * 200), (2, None)], "id long, data binary")
    with pytest.raises(Exception, match="NULL 'data'"):
        _write(df, sink_store)


# -- pushFilters: the A7 point lookup at source-planning level ----------------


def test_pushdown_point_lookup_plans_one_prefix(spark, store):
    """WHERE hash = <h> must prune partition planning to the one bucket
    directory (A6/A7 as source planning) and return exactly that chunk."""
    some = store.chunks().select("hash", "size").orderBy("hash").head(3)
    target = some[0]["hash"]
    reader = PsLakeDataSource(options={"path": store.path}).reader(None)
    leftover = list(reader.pushFilters([EqualTo(("hash",), target)]))
    assert leftover == []  # fully consumed
    parts = reader.partitions()
    dir_files = [
        (f, p) for f, p in _list_chunk_files(_resolve_chunks_dir(store.path, 0))
        if p == target[:1]
    ]
    assert len(parts) == len(dir_files) >= 1
    hashes = [
        h
        for part in parts
        for b in reader.read(part)
        for h in b.column("hash").to_pylist()
    ]
    assert hashes == [target]

    df = _read(spark, store).where(F.col("hash") == target)
    got = df.collect()
    assert len(got) == 1 and got[0]["hash"] == target
    assert got[0]["size"] == some[0]["size"]


def test_pushdown_in_and_unsupported_filters(spark, store):
    hs = [r["hash"] for r in store.chunks().select("hash").orderBy("hash").collect()]
    picks = {hs[0], hs[-1]}
    reader = PsLakeDataSource(options={"path": store.path}).reader(None)
    unsupported = GreaterThan(("size",), 0)
    leftover = list(reader.pushFilters([In(("hash",), tuple(picks)), unsupported]))
    assert leftover == [unsupported]  # returned by reference
    prefixes = {h[:1] for h in picks}
    assert {p.prefix for p in reader.partitions()} <= prefixes
    got = {
        h
        for part in reader.partitions()
        for b in reader.read(part)
        for h in b.column("hash").to_pylist()
    }
    assert got == picks

    # end-to-end: mixed supported+unsupported conjunction stays correct
    df = _read(spark, store).where(F.col("hash").isin(*picks) & (F.col("size") > 0))
    assert {r["hash"] for r in df.collect()} == picks


def test_pushdown_prefix_filter_and_miss(spark, store):
    reader = PsLakeDataSource(options={"path": store.path}).reader(None)
    list(reader.pushFilters([EqualTo(("hash_prefix",), "0")]))
    assert all(p.prefix == "0" for p in reader.partitions())
    # a hash that exists nowhere plans (at most) one prefix and returns 0 rows
    df = _read(spark, store).where(F.col("hash") == "f" * 64)
    assert df.count() == 0


def test_stream_sink_microbatch_puts(spark, sink_store, tmp_path):
    """writeStream.format('pslake'): microbatch puts land in the store, and
    the content round-trips; a second identical stream run (fresh
    checkpoint — a full replay) dedups to a no-op (exactly-once in effect
    via content addressing, no sink-side log)."""
    src = tmp_path / "stream_src"
    df = spark.createDataFrame(
        [(i, bytes(f"stream-blob-{i}-".encode() * 300)) for i in range(8)],
        "id long, data binary",
    )
    df.write.parquet(str(src))

    def run(tag):
        q = (
            spark.readStream.schema("id long, data binary")
            .parquet(str(src))
            .writeStream.format("pslake")
            .option("path", sink_store.path)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("a")
    n1 = sink_store.chunks().count()
    assert n1 == 1 + 8  # sentinel + 8 distinct mid-tier blobs
    run("b")  # full replay from a fresh checkpoint — must dedup away
    assert sink_store.chunks().count() == n1
    assert sink_store.chunks().select("hash").distinct().count() == n1
    assert not [d for d in os.listdir(sink_store.path) if d.startswith("staging_")]


def test_sink_incremental_flush_bounded_memory(spark, sink_store, tmp_path):
    """staging_flush_bytes=1 forces a flush after EVERY stored chunk — the
    degenerate bound of the incremental-staging path (advisor r8: task
    memory must be O(flush threshold), not O(task's new data)).  The store
    contents must be byte-identical to an unbounded-buffer write, and a
    prefix may carry several part files from one task (commit handles the
    (prefix, file) list regardless of how many flushes produced it)."""
    rows = _tiered_rows()
    df = spark.createDataFrame(rows, "id long, data binary").coalesce(1)
    _write(df, sink_store, hkeys_out=str(tmp_path / "hk"), staging_flush_bytes=1)
    hk = {r["id"]: r["hkey"] for r in spark.read.parquet(str(tmp_path / "hk")).collect()}
    src = dict(rows)
    for i, key in hk.items():
        assert sink_store.get(key) == src[i]
    other = Store.create(spark, str(tmp_path / "unbuffered"), prefix_len=1)
    sdf = spark.createDataFrame(rows, "id long, data binary").coalesce(1)
    other_w = sdf.write.format("pslake").option("path", other.path)
    other_w.mode("append").save()
    assert {r["hash"] for r in sink_store.chunks().collect()} == {
        r["hash"] for r in other.chunks().collect()
    }
    # the single task flushed per-chunk: at least one prefix holds >1 part
    # file from the same task (same uuid, different flush seq)
    chunks_root = os.path.join(sink_store.path, "chunks")
    per_prefix = {}
    for d in os.listdir(chunks_root):
        if d.startswith("hash_prefix="):
            parts = [f for f in os.listdir(os.path.join(chunks_root, d))
                     if f.endswith(".parquet")]
            per_prefix[d] = parts
    assert any(len(v) > 1 for v in per_prefix.values()), per_prefix
    assert not [d for d in os.listdir(sink_store.path) if d.startswith("staging_")]


def test_stream_sink_hkeys_replay_overwrites(spark, sink_store, tmp_path):
    """hkeys_out has no content address to dedup on; the stream writer names
    its files by batchId so a replayed batch REPLACES the previous attempt's
    mapping rows instead of appending duplicates (advisor r8 item)."""
    src = tmp_path / "hk_stream_src"
    rows = [(i, bytes(f"hk-blob-{i}-".encode() * 300)) for i in range(6)]
    spark.createDataFrame(rows, "id long, data binary").write.parquet(str(src))
    hk_dir = str(tmp_path / "hk_out")

    def run(tag):
        q = (
            spark.readStream.schema("id long, data binary")
            .parquet(str(src))
            .writeStream.format("pslake")
            .option("path", sink_store.path)
            .option("hkeys_out", hk_dir)
            .option("checkpointLocation", str(tmp_path / f"hk_ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run("a")
    first = spark.read.parquet(hk_dir).collect()
    assert len(first) == 6
    run("b")  # fresh checkpoint = full replay of batch 0
    rep = spark.read.parquet(hk_dir).collect()
    assert len(rep) == 6, "replayed batch must overwrite, not append"
    assert {r["id"]: r["hkey"] for r in rep} == {r["id"]: r["hkey"] for r in first}
    assert all(f.startswith("batch-") for f in os.listdir(hk_dir)
               if f.endswith(".parquet"))


def test_reader_yields_arrow_batches_not_rows(spark, store):
    """The source read path must speak Arrow RecordBatches end-to-end (r8
    verdict: symmetric with the sink, no to_pylist + per-row yields on the
    bulk path).  Driving the reader directly pins the yield type; the
    filtered path (pushed hash lookup) must also stay batch-shaped."""
    import pyarrow as pa

    from ps_datalake_spark.sources.pslake_source import PsLakeReader

    reader = PsLakeReader({"path": store.path})
    parts = reader.partitions()
    assert parts, "store has chunk files"
    total = 0
    for p in parts:
        for out in reader.read(p):
            assert isinstance(out, pa.RecordBatch), type(out)
            assert out.schema.names == [
                "hash", "hash_prefix", "size", "enc", "stored_len", "hash_ok",
            ]
            assert out.num_rows > 0
            total += out.num_rows
    assert total == 21  # 20 blobs + sentinel

    # pushed point lookup: batch-shaped, one surviving row, verification on
    some_hash = None
    for p in parts:
        for out in PsLakeReader({"path": store.path}).read(p):
            some_hash = out.column("hash")[0].as_py()
            break
        break
    lk = PsLakeReader({"path": store.path})
    consumed = list(lk.pushFilters([EqualTo(("hash",), some_hash)]))
    assert consumed == []
    rows = 0
    for p in lk.partitions():
        for out in lk.read(p):
            assert isinstance(out, pa.RecordBatch)
            assert set(out.column("hash").to_pylist()) == {some_hash}
            assert out.column("hash_ok").to_pylist() == [1] * out.num_rows
            rows += out.num_rows
    assert rows == 1
