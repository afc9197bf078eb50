"""Crash at every write step of a put, a sink write and a vacuum.

A child process runs the operation with ``os.rename``, ``os.link``,
``os.replace``, ``pq.write_table`` and ``shutil.rmtree`` wrapped so that it
calls ``os._exit`` right after the N-th such step. A first run counts the
steps; then one run per step crashes a fresh copy of the same store there.
The parent asserts on every torn store:

- ``Store.open`` succeeds (it would raise ``Corrupted`` on damage, and no
  step leaves any);
- every hkey handed out before the crash still reads;
- no chunk is stored twice, and the chunks are between the store's content
  before and after the operation (for a vacuum: exactly one of the two);
- no manifests row names an absent chunk;

and that re-running the operation on the torn store completes it: the
chunk count is then the distinct contents plus the tree children plus one
sentinel.

These steps run no Spark job (``put_blob`` and the sink's ``write`` and
``commit`` run on the driver; the vacuum's sweep runs ``publish.sweep`` per
prefix, as its tasks do, then ``Store._swap_in``), so the child starts no
JVM.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pytest

from ps_datalake_spark.lake import Store
from ps_datalake_spark.lake.store import (
    CHUNKS_ARROW_SCHEMA,
    MANIFESTS_ARROW_SCHEMA,
    MAX_DECRYPTED_SIZE,
    _data_files,
    _read_files,
    _sentinel,
    list_chunk_files,
    route_blob,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, shutil, sys, uuid

import pyarrow as pa
import pyarrow.parquet as pq

from ps_datalake_spark.lake import publish
from ps_datalake_spark.lake.store import (
    MANIFESTS_ARROW_SCHEMA, Store, _data_files, _read_files, _sentinel, list_chunk_files,
)
from ps_datalake_spark.sources.pslake_sink import PsLakeWriter

op, path, kill_at = sys.argv[1], sys.argv[2], int(sys.argv[3])
arg = json.loads(sys.stdin.read())
steps = 0


def _step(fn):
    def wrapper(*a, **kw):
        global steps
        out = fn(*a, **kw)
        steps += 1
        if steps == kill_at:
            os._exit(17)
        return out
    return wrapper


for owner, name in ((os, "rename"), (os, "link"), (os, "replace"), (pq, "write_table"), (shutil, "rmtree")):
    setattr(owner, name, _step(getattr(owner, name)))

# put_blob and vacuum's file steps need no SparkSession
store = Store(None, path, False, publish.read_manifest(path))
if op == "put":
    for blob in arg:
        print(store.put_blob(bytes.fromhex(blob)), flush=True)
elif op == "sink":
    w = PsLakeWriter({"path": path, "hkeys_out": path + "_hkeys"}, False)
    batch = pa.RecordBatch.from_pydict(
        {"id": list(range(len(arg))), "data": [bytes.fromhex(b) for b in arg]}
    )
    w.commit([w.write(iter([batch]))])
else:  # vacuum, keeping the roots in arg
    kinds = [hk.split(":") for hk in arg]
    trees = {k[1] for k in kinds if k[0] == "tree"}
    rows = _read_files(
        _data_files(store._active_path("manifests")), MANIFESTS_ARROW_SCHEMA,
        ["root_hash", "child_hash"], None,
    ).to_pylist()
    live = {k[1] for k in kinds if k[0] in ("plain", "enc")}
    live |= {r["child_hash"] for r in rows if r["root_hash"] in trees}
    live.add(_sentinel(store.manifest["cipher"], store.inline_max)[0])
    old = store._active_path("chunks")
    new = f"chunks_g{uuid.uuid4().hex[:8]}"
    prefixes = {p for _f, p in list_chunk_files(old)}
    publish.sweep(old, os.path.join(path, new), {p: {h for h in live if h[: store.prefix_len] == p} for p in prefixes})
    store._swap_in(new, trees if any(r["root_hash"] not in trees for r in rows) else None)
print("steps", steps, flush=True)
"""


def _blob(n: int, salt: int) -> bytes:
    return hashlib.shake_256(f"kill:{salt}:{n}".encode()).digest(n)


def _run(op: str, path: str, kill_at: int, arg: list) -> tuple[int, list[str]]:
    env = dict(os.environ, PYTHONPATH=REPO)
    p = subprocess.run(
        [sys.executable, "-c", CHILD, op, path, str(kill_at)],
        input=json.dumps(arg),
        capture_output=True,
        text=True,
        env=env,
        timeout=120,
    )
    assert p.returncode in (0, 17), p.stderr
    return p.returncode, p.stdout.split()


def _chunk_hashes(store: Store) -> list[str]:
    files = [f for f, _p in list_chunk_files(store._active_path("chunks"))]
    return _read_files(files, CHUNKS_ARROW_SCHEMA, ["hash"], None).column(0).to_pylist()


def _hashes_of(store: Store, blobs: list[bytes]) -> set[str]:
    cipher = store.manifest["cipher"]
    return {c[0] for b in blobs for c in route_blob(b, cipher, store.inline_max)[1]}


def _check(spark, path: str, handed_out: list[str], blobs: dict[str, bytes], lo: set, hi: set):
    """The four assertions on one torn store; returns the open store."""
    store = Store.open(spark, path)
    for hk in handed_out:
        assert store.get(hk) == blobs[hk], hk
    hashes = _chunk_hashes(store)
    assert len(hashes) == len(set(hashes)), "a chunk is stored twice"
    assert lo <= set(hashes) <= hi
    kids = _read_files(
        _data_files(store._active_path("manifests")), MANIFESTS_ARROW_SCHEMA, ["child_hash"], None
    ).column(0).to_pylist()
    assert set(kids) <= set(hashes), "a manifests row names an absent chunk"
    return store


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """A store holding raw, enc and tree blobs, two enc blobs in one file."""
    root = tmp_path_factory.mktemp("kill")
    store = Store.create(spark, str(root / "base"), prefix_len=1)
    cipher = store.manifest["cipher"]
    by_prefix: dict[str, bytes] = {}
    for salt in range(64):  # two enc blobs whose chunks share a partition
        b = _blob(3000, salt)
        p = route_blob(b, cipher, store.inline_max)[1][0][0][:1]
        if p in by_prefix:
            pair = [by_prefix[p], b]
            break
        by_prefix[p] = b
    named = {
        "keep_enc": pair[0],
        "drop_enc": pair[1],
        "raw": _blob(50, 1),
        "keep_tree": _blob(MAX_DECRYPTED_SIZE + 3000, 2),
        "drop_tree": _blob(MAX_DECRYPTED_SIZE + 9000, 3),
        "enc": _blob(7000, 4),
    }
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(named.values())], "id long, data binary"
    ).coalesce(1)
    hk = {r["id"]: r["hkey"] for r in store.put_blobs(df).collect()}
    hkeys = {name: hk[i] for i, name in enumerate(named)}
    return root, store, named, hkeys


def _matrix(spark, base, op: str, arg: list, expect):
    """Crash ``op`` at each of its write steps on a copy of the base store.
    ``expect(path, stdout)`` gives the hkeys handed out before the crash,
    their blobs, the bounds of the torn chunk set and the final one."""
    root, store = base[:2]
    probe = str(root / f"{op}_probe")
    shutil.copytree(store.path, probe)
    code, out = _run(op, probe, 0, arg)
    assert code == 0 and out[-2] == "steps"
    n_steps = int(out[-1])
    assert n_steps >= 5

    def one(k: int):
        path = str(root / f"{op}_{k}")
        shutil.copytree(store.path, path)
        return k, path, _run(op, path, k, arg)

    with ThreadPoolExecutor(4) as pool:
        runs = list(pool.map(one, range(1, n_steps + 1)))
    for k, path, (code, out) in runs:
        assert code == 17, f"step {k} of {n_steps} did not crash"
        handed_out, blobs, lo, hi, final = expect(path, out)
        _check(spark, path, handed_out, blobs, lo, hi)
        code, _out = _run(op, path, 0, arg)  # the re-run completes the operation
        assert code == 0, k
        store = _check(spark, path, handed_out, blobs, final, final)
        assert len(_chunk_hashes(store)) == len(final)
        shutil.rmtree(path)
        shutil.rmtree(path + "_hkeys", ignore_errors=True)
    return n_steps


NEW = [_blob(5000, 10), _blob(MAX_DECRYPTED_SIZE + 5000, 11), _blob(60, 12), _blob(4000, 13)]


@pytest.mark.parametrize("op", ["put", "sink"])
def test_put_survives_a_crash_at_every_step(spark, base, op):
    _root, store, named, hkeys = base
    new = NEW + [named["keep_enc"]]  # one blob already stored
    blob_of = {hk: named[n] for n, hk in hkeys.items()}
    for b in new:
        blob_of[route_blob(b, store.manifest["cipher"], store.inline_max)[0]] = b
    before = _hashes_of(store, list(named.values())) | {_sentinel(store.manifest["cipher"], store.inline_max)[0]}
    after = before | _hashes_of(store, new)

    def expect(path, out):
        if op == "put":
            handed = [h for h in out if ":" in h]
        else:
            files = _data_files(path + "_hkeys")
            handed = _read_files(files, pa.schema([("hkey", pa.string())]), ["hkey"], None)
            handed = handed.column(0).to_pylist()
        return list(hkeys.values()) + handed, blob_of, before, after, after

    assert _matrix(spark, base, op, [b.hex() for b in new], expect) >= 8


def test_vacuum_survives_a_crash_at_every_step(spark, base):
    _root, store, named, hkeys = base
    kept = [n for n in named if not n.startswith("drop")]
    sentinel = _sentinel(store.manifest["cipher"], store.inline_max)[0]
    before = _hashes_of(store, list(named.values())) | {sentinel}
    after = _hashes_of(store, [named[n] for n in kept]) | {sentinel}
    assert after < before

    def expect(path, out):
        hashes = set(_chunk_hashes(Store.open(spark, path)))
        assert hashes in (before, after), "a vacuum publishes all of its sweep or none"
        blobs = {hkeys[n]: named[n] for n in kept}
        return list(blobs), blobs, hashes, hashes, after

    assert _matrix(spark, base, "vacuum", [hkeys[n] for n in kept], expect) >= 5
