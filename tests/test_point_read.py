"""Point reads (`Store.get`, `Store.has`, `Lake.get`): a driver-side pyarrow
read of the one hash_prefix partition, with no Spark job.

Pins the job count at zero for every hkey kind, and checks the bytes across
generation swaps, across files written by pyarrow instead of Spark, and next
to Spark's `_SUCCESS`/`.crc` side files. Damage must read as Corrupted, and an
hkey whose hash is not a sha256 hex digest must never reach the filesystem."""

from __future__ import annotations

import glob
import hashlib
import os
import uuid

import pytest

from ps_datalake_spark.config import LakeConfig, StoreEntry
from ps_datalake_spark.errors import Corrupted, InvalidHkey, NotFound
from ps_datalake_spark.lake import Hkey, Lake, Store, crypto
from ps_datalake_spark.lake.store import (
    CHUNKS_ARROW_SCHEMA,
    CHUNKS_SCHEMA,
    MANIFESTS_ARROW_SCHEMA,
    MANIFESTS_SCHEMA,
    MAX_DECRYPTED_SIZE,
    SENTINEL,
    list_chunk_files,
)

UNKNOWN = "enc:" + "ab" * 32 + ":" + "cd" * 32 + ":500"


def _blob(n: int, salt: int = 0) -> bytes:
    return hashlib.shake_256(f"{salt}:{n}".encode()).digest(n)


# one blob per tier: raw inline, single encrypted chunks, a chunk tree
SIZES = {"raw": 60, "enc": 3000, "enc2": 20_000, "tree": MAX_DECRYPTED_SIZE + 5000}


def _put(spark, store, salt: int = 0) -> dict[str, tuple[str, bytes]]:
    blobs = {k: _blob(n, salt) for k, n in SIZES.items()}
    names = list(blobs)
    df = spark.createDataFrame(
        [(i, bytearray(blobs[k])) for i, k in enumerate(names)], "id long, data binary"
    )
    hkeys = {r["id"]: r["hkey"] for r in store.put_blobs(df).collect()}
    return {k: (hkeys[i], blobs[k]) for i, k in enumerate(names)}


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` ran, counted through its own job group."""
    sc = spark.sparkContext
    group = f"point-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "point read")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("point_read")
    cfg = LakeConfig(
        stores=(StoreEntry(filename=str(root / "a")), StoreEntry(filename=str(root / "b")))
    )
    lk = Lake.open(spark, cfg, prefix_len=1)
    in_b = _put(spark, lk.writable[1])
    return lk, in_b


def test_point_reads_run_no_spark_job(spark, lake):
    lk, in_b = lake
    store = lk.writable[1]
    assert _jobs(spark, lambda: spark.range(3).collect()) >= 1  # the counter counts
    for kind, (hk, blob) in in_b.items():
        out = {}
        assert _jobs(spark, lambda: out.update(s=store.get(hk))) == 0, kind
        # store A misses first, then B serves it: the waterfall is job-free too
        assert _jobs(spark, lambda: out.update(l=lk.get(hk))) == 0, kind
        assert out["s"] == out["l"] == blob, kind
    missed = []

    def _miss():
        for get in (store.get, lk.get):
            with pytest.raises(NotFound):
                get(UNKNOWN)
            missed.append(get)

    assert _jobs(spark, _miss) == 0
    assert len(missed) == 2
    enc_hash = Hkey.decode(in_b["enc"][0]).hash
    assert _jobs(spark, lambda: missed.append(store.has(enc_hash))) == 0
    assert missed[-1] is True and not lk.writable[0].has(enc_hash)


def test_point_read_skips_spark_side_files(lake):
    """Spark leaves `_SUCCESS` and `.crc` files beside the data; the point
    read must skip them as Spark's listing does, even when they are not
    Parquet at all."""
    lk, in_b = lake
    store = lk.writable[1]
    chunks = store._active_path("chunks")
    assert os.path.exists(os.path.join(chunks, "_SUCCESS"))
    assert glob.glob(os.path.join(chunks, "hash_prefix=*", ".*.crc"))
    h = Hkey.decode(in_b["enc"][0]).hash
    part = os.path.join(chunks, f"hash_prefix={h[:1]}")
    for junk in ("_SUCCESS", ".stray.parquet.crc", "_temporary"):
        with open(os.path.join(part, junk), "w") as f:
            f.write("not parquet")
    for hk, blob in in_b.values():
        assert store.get(hk) == blob
    assert all(not os.path.basename(f).startswith(("_", ".")) for f, _ in list_chunk_files(chunks))


def test_point_read_across_compact_and_vacuum(spark, tmp_path):
    store = Store.create(spark, str(tmp_path / "gen"), prefix_len=1)
    first = _put(spark, store, salt=1)
    second = _put(spark, store, salt=2)
    store.compact(target_file_bytes=1 << 20)
    for hk, blob in [*first.values(), *second.values()]:
        assert store.get(hk) == blob
    # keep `first`, drop `second` (raw keys store nothing, so they always read)
    roots = spark.createDataFrame([(hk,) for hk, _ in first.values()], "hkey string")
    assert store.vacuum(roots) > 0
    for hk, blob in first.values():
        assert store.get(hk) == blob
    for kind, (hk, _) in second.items():
        if kind != "raw":
            with pytest.raises(NotFound):
                store.get(hk)


def test_point_read_of_files_pyarrow_wrote(spark, tmp_path, tmp_path_factory):
    """The create-time sentinel and the `pslake` sink's output are written
    by pyarrow, not by Spark."""
    from ps_datalake_spark.sources import register_pslake

    store = Store.create(spark, str(tmp_path / "arrow"), prefix_len=1)
    plain = SENTINEL + b"\0" * store.inline_max
    key = crypto.convergent_key(plain)
    stored = crypto.encrypt_as(store.manifest["cipher"], plain, key)
    sentinel = Hkey(
        kind="enc", hash=hashlib.sha256(stored).hexdigest(), key=key.hex(), size=len(plain)
    ).encode()
    assert store.get(sentinel) == plain

    register_pslake(spark)
    blobs = {k: _blob(n, salt=3) for k, n in SIZES.items()}
    names = list(blobs)
    out = str(tmp_path_factory.mktemp("sink_hkeys"))
    (
        spark.createDataFrame(
            [(i, bytearray(blobs[k])) for i, k in enumerate(names)], "id long, data binary"
        )
        .write.format("pslake")
        .option("path", store.path)
        .option("hkeys_out", out)
        .mode("append")
        .save()
    )
    hkeys = {r["id"]: r["hkey"] for r in spark.read.parquet(out).collect()}
    assert len(hkeys) == len(names)
    for i, k in enumerate(names):
        assert store.get(hkeys[i]) == blobs[k], k


def test_truncated_chunk_file_reads_as_corrupted(spark, tmp_path):
    cfg = LakeConfig(stores=(StoreEntry(filename=str(tmp_path / "dmg")),))
    lk = Lake.open(spark, cfg, prefix_len=1)
    store = lk.writable[0]
    stored = _put(spark, store, salt=4)
    hk = stored["enc"][0]
    prefix = Hkey.decode(hk).hash[:1]
    victim = [f for f, p in list_chunk_files(store._active_path("chunks")) if p == prefix][0]
    with open(victim, "r+b") as f:
        f.truncate(os.path.getsize(victim) // 2)
    with pytest.raises(Corrupted):
        store.get(hk)
    with pytest.raises(Corrupted):
        lk.get(hk)  # damage is not a miss: the waterfall reports it
    other = stored["enc2"]
    assert Hkey.decode(other[0]).hash[:1] != prefix
    assert store.get(other[0]) == other[1]  # other partitions still read


def test_damaged_manifest_is_corrupted_not_empty(spark, tmp_path):
    store = Store.create(spark, str(tmp_path / "mf"), prefix_len=1)
    # absent dataset (no tree put yet) is the one case that reads as empty
    assert store.manifests().count() == 0
    with open(os.path.join(store.path, "manifest.json"), "w") as f:
        f.write('{"magic": ')
    with pytest.raises(Corrupted):
        store.chunks()
    with pytest.raises(Corrupted):
        store.get(UNKNOWN)


@pytest.mark.parametrize(
    "bad",
    [
        "plain:/../..:5",
        "tree:../../../etc:10",
        "enc:" + "AB" * 32 + ":" + "cd" * 32 + ":5",  # upper-case hex
        "enc:" + "ab" * 32 + ":../key:5",
        "plain:" + "ab" * 31 + ":5",  # 62 digits
    ],
)
def test_path_like_hash_is_an_invalid_hkey(bad):
    with pytest.raises(InvalidHkey):
        Hkey.decode(bad)


def test_store_rejects_path_like_hash(lake):
    lk, _ = lake
    store = lk.writable[1]
    with pytest.raises(InvalidHkey):
        store.get("plain:/../..:5")
    assert store.has("/../..") is False


def test_arrow_schemas_match_spark_schemas():
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    def plain(schema):
        return [(f.name, f.type) for f in schema]

    chunks = StructType([f for f in CHUNKS_SCHEMA.fields if f.name != "hash_prefix"])
    assert plain(to_arrow_schema(chunks)) == plain(CHUNKS_ARROW_SCHEMA)
    assert plain(to_arrow_schema(MANIFESTS_SCHEMA)) == plain(MANIFESTS_ARROW_SCHEMA)
