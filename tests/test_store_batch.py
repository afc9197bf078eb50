"""Distributed get_blobs + maintenance ops (compact, stats)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ps_datalake_spark.lake import Store
from ps_datalake_spark.lake.store import MAX_DECRYPTED_SIZE


def _blob(n: int) -> bytes:
    return bytes((i * 17 + n) % 256 for i in range(n))


def test_get_blobs_all_tiers(spark, tmp_path):
    store = Store.create(spark, str(tmp_path / "batch_store"), prefix_len=1)
    sizes = [0, 10, 128, 500, 5000, MAX_DECRYPTED_SIZE + 5000]
    blobs = {i: _blob(n) for i, n in enumerate(sizes)}
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in blobs.items()], "id long, data binary"
    )
    hkeys = store.put_blobs(df)
    back = store.get_blobs(hkeys)
    got = {r["id"]: bytes(r["data"]) if r["data"] is not None else None for r in back.collect()}
    assert set(got) == set(blobs)
    for i, b in blobs.items():
        assert got[i] == b, f"blob {i} (size {sizes[i]}) mismatched"


def test_duplicate_large_blobs_one_batch(spark, tmp_path):
    """Two identical tree-tier blobs in ONE batch must not duplicate manifest
    rows (regression: double-concatenated tree reads)."""
    store = Store.create(spark, str(tmp_path / "dup_tree_store"), prefix_len=1)
    big = _blob(MAX_DECRYPTED_SIZE + 4096)
    df = spark.createDataFrame(
        [(1, bytearray(big)), (2, bytearray(big))], "id long, data binary"
    )
    hkeys = {r["id"]: r["hkey"] for r in store.put_blobs(df).collect()}
    assert hkeys[1] == hkeys[2]
    n_kids = store.manifests().count()
    assert (
        store.manifests().select("root_hash", "seq").distinct().count() == n_kids
    ), "manifest rows must be unique per (root_hash, seq)"
    assert store.get(hkeys[1]) == big


def test_get_blobs_missing_tree_manifest_is_null(spark, tmp_path):
    store = Store.create(spark, str(tmp_path / "tree_miss_store"), prefix_len=1)
    df = spark.createDataFrame(
        [(9, "tree:" + "0" * 64 + ":123")], "id long, hkey string"
    )
    rows = store.get_blobs(df).collect()
    assert len(rows) == 1 and rows[0]["id"] == 9 and rows[0]["data"] is None


def test_open_detects_wrong_chunk_schema(spark, tmp_path):
    import os

    import pytest as _pytest

    from ps_datalake_spark.errors import Corrupted

    path = str(tmp_path / "schema_store")
    Store.create(spark, path, prefix_len=1)
    # clobber chunks/ with a wrong-typed dataset
    import shutil

    shutil.rmtree(os.path.join(path, "chunks"))
    spark.createDataFrame([("x", "not-a-long", "e", bytearray(b"d"), "p")],
        "hash string, size string, enc string, data binary, hash_prefix string"
    ).write.parquet(os.path.join(path, "chunks"))
    with _pytest.raises(Corrupted):
        Store.open(spark, path)


def test_get_blobs_missing_hash_is_null(spark, tmp_path):
    store = Store.create(spark, str(tmp_path / "miss_store"), prefix_len=1)
    df = spark.createDataFrame(
        [(1, "enc:" + "0" * 64 + ":" + "0" * 64 + ":10")], "id long, hkey string"
    )
    rows = store.get_blobs(df).collect()
    assert len(rows) == 1 and rows[0]["data"] is None


def test_vacuum_sweeps_unreachable(spark, tmp_path):
    store = Store.create(spark, str(tmp_path / "vac_store"), prefix_len=1)
    keep1 = _blob(500)
    keep2 = _blob(MAX_DECRYPTED_SIZE + 4096)  # tree tier
    drop1 = _blob(700)
    hk_keep1 = store.put_blob(keep1)
    hk_keep2 = store.put_blob(keep2)
    hk_drop = store.put_blob(drop1)
    roots = spark.createDataFrame([(hk_keep1,), (hk_keep2,)], "hkey string")
    removed = store.vacuum(roots)
    assert removed >= 1
    # kept blobs still read back; dropped one is gone
    assert store.get(hk_keep1) == keep1
    assert store.get(hk_keep2) == keep2
    import pytest as _pytest

    from ps_datalake_spark.errors import NotFound

    with _pytest.raises(NotFound):
        store.get(hk_drop)
    # vacuum is idempotent
    assert store.vacuum(roots) == 0


def test_compact_and_stats(spark, tmp_path):
    store = Store.create(spark, str(tmp_path / "compact_store"), prefix_len=1)
    # several appends → several files per partition
    for batch in range(3):
        df = spark.createDataFrame(
            [(batch * 10 + i, bytearray(_blob(300 + batch * 10 + i))) for i in range(8)],
            "id long, data binary",
        )
        store.put_blobs(df).count()
    before = store.stats()
    assert before["n_chunks"] == 25  # 24 blobs + sentinel
    n_files = store.compact(target_file_bytes=1 << 20)
    after = store.stats()
    assert after["n_chunks"] == before["n_chunks"], "compaction must not change content"
    assert after["plain_bytes"] == before["plain_bytes"]
    assert n_files <= after["n_partitions"] * 2
    # content still readable after compaction
    assert store.has(store.chunks().select("hash").head()["hash"])


def test_maintenance_is_atomic_for_readers(spark, tmp_path):
    """A reader that planned against the pre-compact generation keeps working
    through (and after) the compaction commit: maintenance publishes a new
    generation directory via an atomic manifest-pointer swap and retains the
    superseded generation (depth 1) instead of deleting the dataset in place
    (r2 verdict #5)."""
    import os

    store = Store.create(spark, str(tmp_path / "atomic_store"), prefix_len=1)
    df = spark.createDataFrame(
        [(i, bytearray(_blob(400 + i))) for i in range(10)], "id long, data binary"
    )
    store.put_blobs(df).count()

    reader = store.chunks()  # plan bound to the pre-compact generation
    n = reader.count()
    store.compact(target_file_bytes=1 << 20)
    # in-flight reader still sees a complete dataset (old generation retained)
    assert reader.count() == n
    # fresh plans resolve the new generation with identical content
    assert store.chunks().count() == n

    # writes after the swap land in the ACTIVE generation and are visible
    store.put_blobs(
        spark.createDataFrame([(99, bytearray(_blob(999)))], "id long, data binary")
    ).count()
    assert store.chunks().count() == n + 1

    # a second maintenance op retires the oldest generation: only the active
    # and its immediate predecessor remain on disk
    store.compact(target_file_bytes=1 << 20)
    gens = [d for d in os.listdir(store.path) if d.startswith("chunks")]
    assert len(gens) == 2
    assert store.chunks().count() == n + 1

    # reopening resolves the pointer from disk (persisted, not in-memory state)
    reopened = Store.open(spark, store.path)
    assert reopened.chunks().count() == n + 1


def test_put_blobs_null_payload_raises(spark, tmp_path):
    """The NULL-payload guard fails loudly, from the one aggregate over the
    routed rows that runs before any write."""
    import pytest

    store = Store.create(spark, str(tmp_path / "null_store"), prefix_len=1)
    df = spark.createDataFrame(
        [(1, bytearray(b"ok")), (2, None)], "id long, data binary"
    )
    with pytest.raises(ValueError, match="NULL 'data' for id 2"):
        store.put_blobs(df)
    # nothing must have been stored besides the create-time sentinel
    assert store.chunks().count() == 1


# -- get_blobs: the point reader in one map pass -----------------------------


def _plain_chunk(store, data: bytes) -> str:
    """Store ``data`` unencrypted, as the A12 fallback does, and return its
    hkey. Neither cipher expands a ciphertext past the AEAD allowance, so no
    put produces a plain chunk; this writes the chunk's file with pyarrow."""
    import hashlib
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ps_datalake_spark.lake.store import CHUNKS_ARROW_SCHEMA

    h = hashlib.sha256(data).hexdigest()
    part = os.path.join(store._active_path("chunks"), f"hash_prefix={h[: store.prefix_len]}")
    os.makedirs(part, exist_ok=True)
    row = {"hash": [h], "size": [len(data)], "enc": ["plain"], "data": [data]}
    pq.write_table(
        pa.table(row, schema=CHUNKS_ARROW_SCHEMA),
        os.path.join(part, f"part-00000-{uuid.uuid4().hex}.parquet"),
    )
    return f"plain:{h}:{len(data)}"


def _put_mixed(spark, store, salt: int = 0) -> dict[str, tuple[str, bytes]]:
    """name → (hkey, blob): a raw blob, ten enc blobs spread over the
    prefixes, and a tree."""
    sizes = {"raw": 60 + salt, "tree": MAX_DECRYPTED_SIZE + 5000 + salt}
    sizes.update({f"enc{i}": 300 + 97 * i + salt for i in range(10)})
    blobs = {k: _blob(n) for k, n in sizes.items()}
    names = list(blobs)
    df = spark.createDataFrame(
        [(i, bytearray(blobs[k])) for i, k in enumerate(names)], "id long, data binary"
    )
    hkeys = {r["id"]: r["hkey"] for r in store.put_blobs(df).collect()}
    return {k: (hkeys[i], blobs[k]) for i, k in enumerate(names)}


def _read_back(store, hkeys: list[str]) -> list:
    df = store.spark.createDataFrame(list(enumerate(hkeys)), "id long, hkey string")
    rows = store.get_blobs(df).collect()
    assert sorted(r["id"] for r in rows) == list(range(len(hkeys))), "one row per id"
    got = {r["id"]: r["data"] for r in rows}
    return [None if got[i] is None else bytes(got[i]) for i in range(len(hkeys))]


def test_put_job_counts(spark, tmp_path):
    """A put is one routing map pass, one aggregate, the chunk (and, for a
    tree, manifest) appends and the hkey checkpoint: at most 13 Spark jobs
    with a tree, at most 9 without."""
    from .test_point_read import _jobs

    store = Store.create(spark, str(tmp_path / "put_jobs"), prefix_len=1)
    out = {}
    assert _jobs(spark, lambda: out.update(mixed=_put_mixed(spark, store))) <= 13
    assert {hk.split(":")[0] for hk, _ in out["mixed"].values()} == {"raw", "enc", "tree"}
    df = spark.createDataFrame(
        [(0, bytearray(_blob(50))), (1, bytearray(_blob(4000)))], "id long, data binary"
    )
    assert _jobs(spark, lambda: out.update(flat=store.put_blobs(df).collect())) <= 9
    assert {r["hkey"].split(":")[0] for r in out["flat"]} == {"raw", "enc"}
    for hk, blob in out["mixed"].values():
        assert store.get(hk) == blob


def test_get_blobs_mixed_batch_in_at_most_two_jobs(spark, tmp_path):
    from ps_datalake_spark.lake import Hkey

    from .test_point_read import _jobs

    store = Store.create(spark, str(tmp_path / "mixed"), prefix_len=1)
    stored = _put_mixed(spark, store)
    plain = _blob(777)
    stored["plain"] = (_plain_chunk(store, plain), plain)
    prefixes = {Hkey.decode(hk).hash[:1] for hk, _ in stored.values() if not hk.startswith("raw:")}
    assert len(prefixes) >= 4, "the batch must span several prefixes"
    misses = [
        "enc:" + "ab" * 32 + ":" + "cd" * 32 + ":500",  # unknown hash
        "plain:" + "ef" * 32 + ":9",
        "tree:" + "0" * 64 + ":123",  # missing tree root
        "enc:../..:x:1",  # malformed
        "zzz:1",  # unknown kind
        None,
    ]
    hkeys = [hk for hk, _ in stored.values()] + misses
    out = {}
    assert _jobs(spark, lambda: out.update(got=_read_back(store, hkeys))) <= 2
    assert out["got"] == [b for _, b in stored.values()] + [None] * len(misses)


def test_get_blobs_after_compact_and_vacuum(spark, tmp_path):
    store = Store.create(spark, str(tmp_path / "gens"), prefix_len=1)
    first = _put_mixed(spark, store, salt=1)
    second = _put_mixed(spark, store, salt=2)
    both = [*first.values(), *second.values()]
    store.compact(target_file_bytes=1 << 20)
    assert _read_back(store, [hk for hk, _ in both]) == [b for _, b in both]
    roots = spark.createDataFrame([(hk,) for hk, _ in first.values()], "hkey string")
    assert store.vacuum(roots) > 0
    # raw keys store nothing, so they always read; every other dropped key is NULL
    want = [b for _, b in first.values()] + [
        b if hk.startswith("raw:") else None for hk, b in second.values()
    ]
    assert _read_back(store, [hk for hk, _ in both]) == want


def test_get_blobs_tree_length_mismatch_is_corrupted(spark, tmp_path):
    import pytest

    from ps_datalake_spark.errors import Corrupted

    store = Store.create(spark, str(tmp_path / "tree_len"), prefix_len=1)
    hk, blob = _put_mixed(spark, store)["tree"]
    kind, root, size = hk.split(":")
    lying = f"{kind}:{root}:{int(size) + 1}"
    with pytest.raises(Corrupted):
        store.get(lying)
    with pytest.raises(Exception, match="Corrupted"):
        _read_back(store, [hk, lying])
    assert _read_back(store, [hk]) == [blob]


def test_commit_generation_refuses_damaged_manifest(spark, tmp_path):
    import os

    import pytest

    from ps_datalake_spark.errors import Corrupted

    store = Store.create(spark, str(tmp_path / "mf_commit"), prefix_len=1)
    mf = os.path.join(store.path, "manifest.json")
    with open(mf, "w") as f:
        f.write('{"magic": "datalake/v1", "chunks_dir": ')
    with open(mf, "rb") as f:
        damaged = f.read()
    with pytest.raises(Corrupted):
        store.compact()
    with pytest.raises(Corrupted):
        store._commit_generation("chunks", "chunks_g00000000")
    with open(mf, "rb") as f:
        assert f.read() == damaged, "no pointer swap over a damaged manifest"


def test_stray_temporary_file_is_never_read(spark, tmp_path):
    """The sentinel is written under a `_tmp-` name and renamed into place;
    a torn temporary file left by a crash must not reach any reader."""
    import glob
    import os

    store = Store.create(spark, str(tmp_path / "torn"), prefix_len=1)
    chunks = store._active_path("chunks")
    assert not glob.glob(os.path.join(chunks, "*", "_tmp-*")), "the rename leaves no temporary"
    stored = _put_mixed(spark, store)
    n = store.chunks().count()
    victim = glob.glob(os.path.join(chunks, "hash_prefix=*", "*.parquet"))[0]
    with open(victim, "rb") as f:
        head = f.read(os.path.getsize(victim) // 2)
    for part in glob.glob(os.path.join(chunks, "hash_prefix=*")):
        with open(os.path.join(part, "_tmp-part-00000-torn.parquet"), "wb") as f:
            f.write(head)
    for hk, blob in stored.values():
        assert store.get(hk) == blob
    assert _read_back(store, [hk for hk, _ in stored.values()]) == [b for _, b in stored.values()]
    assert store.chunks().count() == n
