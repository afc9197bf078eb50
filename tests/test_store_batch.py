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
    """A put is one map pass that routes, probes and stages, its hkeys
    collected as Arrow in one Spark job; the driver reads the tasks' staged
    shares from the staging directory and commits without a job. With the
    caller's collect, at most 2 Spark jobs, with a tree or without."""
    from .test_point_read import _jobs

    store = Store.create(spark, str(tmp_path / "put_jobs"), prefix_len=1)
    out = {}
    assert _jobs(spark, lambda: out.update(mixed=_put_mixed(spark, store))) <= 2
    assert {hk.split(":")[0] for hk, _ in out["mixed"].values()} == {"raw", "enc", "tree"}
    df = spark.createDataFrame(
        [(0, bytearray(_blob(50))), (1, bytearray(_blob(4000)))], "id long, data binary"
    )
    assert _jobs(spark, lambda: out.update(flat=store.put_blobs(df).collect())) <= 2
    assert {r["hkey"].split(":")[0] for r in out["flat"]} == {"raw", "enc"}
    for hk, blob in out["mixed"].values():
        assert store.get(hk) == blob


def test_put_blob_runs_no_spark_job(spark, tmp_path):
    from .test_point_read import _jobs

    store = Store.create(spark, str(tmp_path / "put_one"), prefix_len=1)
    sizes = (60, 4000, MAX_DECRYPTED_SIZE + 5000, 4000)
    out = []
    for n in sizes:
        assert _jobs(spark, lambda: out.append(store.put_blob(_blob(n)))) == 0, n
    assert out[1] == out[3]
    assert [store.get(hk) for hk in out] == [_blob(n) for n in sizes]
    # the sentinel, one enc chunk and two distinct tree children: _blob
    # repeats every 256 bytes, so the tree's first four children are equal
    assert store.chunks().count() == 1 + 1 + 2


def test_vacuum_removing_nothing_links_every_file(spark, tmp_path):
    """A vacuum whose roots keep everything runs one Spark job, the read of
    the roots, and rewrites no data: every file of the new chunks and
    manifests generations is a hard link of its twin in the previous one,
    which still reads."""
    import glob
    import os

    from .test_point_read import _jobs

    store = Store.create(spark, str(tmp_path / "vac_links"), prefix_len=1)
    stored = _put_mixed(spark, store)
    extra = store.put_blob(_blob(9999))  # a second file in some partition
    roots = spark.createDataFrame(
        [(hk,) for hk, _ in stored.values()] + [(extra,)], "hkey string"
    )
    before = {sub: store._active_path(sub) for sub in ("chunks", "manifests")}
    n = store.chunks().count()
    out = {}
    assert _jobs(spark, lambda: out.update(removed=store.vacuum(roots))) <= 1
    assert out["removed"] == 0
    for sub, old in before.items():
        new = store._active_path(sub)
        assert new != old
        old_files = sorted(glob.glob(os.path.join(old, "**", "*.parquet"), recursive=True))
        new_files = sorted(glob.glob(os.path.join(new, "**", "*.parquet"), recursive=True))
        assert [os.path.relpath(f, new) for f in new_files] == [
            os.path.relpath(f, old) for f in old_files
        ]
        for a, b in zip(old_files, new_files):
            assert os.stat(a).st_ino == os.stat(b).st_ino, b
    assert store.chunks().count() == store.chunks_at(-1).count() == n
    for hk, blob in stored.values():
        assert store.get(hk) == blob


def test_vacuum_reads_roots_once(spark, tmp_path):
    """The caller's roots lineage is evaluated exactly once, however many
    times the sweep uses it."""
    import pandas as pd

    store = Store.create(spark, str(tmp_path / "vac_once"), prefix_len=1)
    stored = _put_mixed(spark, store)
    keys = [hk for hk, _ in stored.values()]
    seen = spark.sparkContext.accumulator(0)

    def _count(batches):
        for pdf in batches:
            seen.add(len(pdf))
            yield pdf

    roots = spark.createDataFrame(pd.DataFrame({"hkey": keys[:-1]})).mapInPandas(
        _count, "hkey string"
    )
    assert store.vacuum(roots) > 0
    assert seen.value == len(keys) - 1
    for hk, blob in list(stored.values())[:-1]:
        assert store.get(hk) == blob


def test_vacuum_parses_roots_as_spark_split_does(spark, tmp_path):
    """The vacuum parses each root on the driver as ``F.split(hkey, ':')``
    with item 0 for the kind and item 1 for the hash does. NULL, raw,
    malformed and duplicate roots give the same removed count and the same
    chunk set as that parse: only a plain/enc hash or a tree root in the
    manifests keeps anything. A key with no colon has no item 1 and keeps
    nothing (``getItem(1)`` would raise on it under ANSI mode; ``get`` gives
    NULL)."""
    from pyspark.sql import functions as F

    from ps_datalake_spark.lake.store import _sentinel

    store = Store.create(spark, str(tmp_path / "vac_parse"), prefix_len=1)
    stored = _put_mixed(spark, store)
    keys = {name: hk for name, (hk, _blob) in stored.items()}
    h = {name: hk.split(":")[1] for name, hk in keys.items()}
    roots = [
        None, "", "enc", "enc:", "zzz:1", "no colon", "enc:../..:x:1", keys["raw"],
        keys["tree"], keys["tree"], keys["enc0"], keys["enc0"],
        f"plain:{h['enc1']}",  # the kind need not match the stored enc
        f"enc:{h['enc2']}",  # two fields are enough
        f"tree:{h['enc3']}",  # a tree root with no manifests row
        f"enc:{h['enc4'].upper()}",
        f"enc:{h['enc5'][:1]}",  # a bare prefix
    ]
    df = spark.createDataFrame([(r,) for r in roots], "hkey string")
    parts = F.split("hkey", ":")
    parsed = df.select(parts.getItem(0).alias("kind"), F.get(parts, 1).alias("hash"))
    trees = parsed.where(F.col("kind") == "tree").select(F.col("hash").alias("root_hash"))
    direct = parsed.where(F.col("kind").isin("plain", "enc")).select("hash")
    kids = trees.join(store.manifests(), "root_hash").select("child_hash")
    live = {r[0] for r in direct.union(kids).collect()}
    live.add(_sentinel(store.manifest["cipher"], store.inline_max)[0])
    before = {r[0] for r in store.chunks().select("hash").collect()}
    want = before & live
    assert len(want) < len(before)
    assert store.vacuum(df) == len(before - want)
    assert sorted(r[0] for r in store.chunks().select("hash").collect()) == sorted(want)
    for name in ("tree", "enc0", "enc1", "enc2"):
        assert store.get(keys[name]) == stored[name][1]


def test_vacuum_keeps_exactly_the_live_trees_manifests_rows(spark, tmp_path):
    """A vacuum that kills no tree root links the manifests generation; one
    that kills a tree root rewrites it with exactly the live roots' rows."""
    import glob
    import os

    from ps_datalake_spark.lake.store import MANIFESTS_ARROW_SCHEMA, _data_files, _read_files

    def rows(d):
        t = _read_files(_data_files(d), MANIFESTS_ARROW_SCHEMA, MANIFESTS_ARROW_SCHEMA.names, None)
        return sorted(map(tuple, (r.values() for r in t.to_pylist())))

    def inodes(d):
        return sorted(os.stat(f).st_ino for f in glob.glob(os.path.join(d, "*.parquet")))

    store = Store.create(spark, str(tmp_path / "vac_trees"), prefix_len=1)
    blobs = {
        "keep_tree": _blob(MAX_DECRYPTED_SIZE + 3000),
        "drop_tree": _blob(MAX_DECRYPTED_SIZE + 9000),
        "keep_enc": _blob(3000),
        "drop_enc": _blob(7000),
    }
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(blobs.values())], "id long, data binary"
    ).coalesce(1)
    got = {r["id"]: r["hkey"] for r in store.put_blobs(df).collect()}
    hk = {name: got[i] for i, name in enumerate(blobs)}
    all_rows = rows(store._active_path("manifests"))
    keep_root = hk["keep_tree"].split(":")[1]
    assert {r[0] for r in all_rows} == {keep_root, hk["drop_tree"].split(":")[1]}

    def vacuum(names):
        before = store._active_path("manifests")
        roots = spark.createDataFrame([(hk[n],) for n in names], "hkey string")
        removed = store.vacuum(roots)
        return removed, before, store._active_path("manifests")

    removed, old, new = vacuum(["keep_tree", "drop_tree", "keep_enc"])
    assert removed == 1
    assert new != old and inodes(new) == inodes(old)
    assert rows(new) == all_rows

    removed, old, new = vacuum(["keep_tree", "keep_enc"])
    assert removed > 0
    assert rows(new) == [r for r in all_rows if r[0] == keep_root]
    assert not set(inodes(new)) & set(inodes(old)), "the manifests were rewritten"
    for name in ("keep_tree", "keep_enc"):
        assert store.get(hk[name]) == blobs[name]
    kids = {r[2] for r in rows(new)}
    assert kids <= set(r["hash"] for r in store.chunks().select("hash").collect())


def test_quota_rule_is_the_same_for_every_put_path(spark, tmp_path):
    """One rule: every routed chunk at its plaintext size, as if none
    deduplicated, plus the stored plaintext bytes, must fit the quota. It
    holds for put_blobs, put_blob and the pslake sink, and a refused put
    leaves nothing behind: no chunk and no staging directory."""
    import os

    import pytest

    from ps_datalake_spark.errors import StoreOutOfSpace
    from ps_datalake_spark.lake.store import MAX_SIZE_RAW, SENTINEL
    from ps_datalake_spark.sources import register_pslake

    register_pslake(spark)
    blobs = [_blob(3000), _blob(5000)]
    df = spark.createDataFrame([(i, bytearray(b)) for i, b in enumerate(blobs)], "id long, data binary")
    sentinel = len(SENTINEL) + MAX_SIZE_RAW
    for way in ("put_blobs", "put_blob", "sink"):
        # room for both blobs once, not for a second, deduplicated copy
        store = Store.create(
            spark, str(tmp_path / f"quota_{way}"), prefix_len=1, quota_bytes=sentinel + 8000 + 4999
        )

        def put():
            if way == "put_blobs":
                store.put_blobs(df).collect()
            elif way == "put_blob":
                for b in blobs:
                    store.put_blob(b)
            else:
                df.write.format("pslake").option("path", store.path).mode("append").save()

        put()
        assert store.chunks().count() == 3, way
        with pytest.raises(Exception, match="quota") as err:
            put()  # dedups to nothing, but is refused under the conservative rule
        if way != "sink":
            assert err.type is StoreOutOfSpace
        assert store.chunks().count() == 3, way
        assert not [d for d in os.listdir(store.path) if d.startswith("staging_")], way


def test_lake_waterfall_refusal_leaves_no_staging(spark, tmp_path):
    import os

    from ps_datalake_spark.lake import Lake

    full = Store.create(spark, str(tmp_path / "full"), prefix_len=1, quota_bytes=1)
    idle = Store.create(spark, str(tmp_path / "idle"), prefix_len=1)
    lake = Lake(spark, readable=[full, idle], writable=[full, idle])
    stored = _put_mixed(spark, lake)
    assert full.chunks().count() == 1
    assert not [d for d in os.listdir(full.path) if d.startswith("staging_")]
    for hk, blob in stored.values():
        assert idle.get(hk) == blob


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
