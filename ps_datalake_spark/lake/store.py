"""Store: one content-addressed chunk store = a directory of partitioned
Parquet datasets + a JSON manifest.

reference ↔ Spark mapping (SURVEY.md §1.4):
  mmap'd file w/ header+index+pages      → chunks/ Parquet dataset partitioned
                                           by hash_prefix (+ manifest.json as
                                           the header: magic, version, layout)
  open-addressing hash index (A6/A7)     → list the one hash_prefix directory +
                                           Parquet min/max stats on hash
  bump allocator / pages (A10)           → staged parquet files renamed into the
                                           partition directory (lake/publish.py)
  8 load-time corruption checks (A4)     → manifest magic/version/layout checks
                                           + dataset schema assertion
  sentinel page 0 (store/mod.rs:231-235) → sentinel chunk written at create

Size routing (A11–A14, store/mod.rs:399-436), all in `route_blob`:
  ≤ MAX_SIZE_RAW        → inline raw hkey, nothing stored
  ≤ MAX_DECRYPTED_SIZE  → convergent-encrypt, store under sha256(ciphertext)
  else                  → split into TREE_CHUNK_SIZE chunks → child puts +
                          manifests rows keyed by sha256(plaintext)

Scale notes: mutations publish files, not rows (`lake/publish.py`). A put
is one map pass that routes each blob with `route_blob`, probes only the
hash_prefix directories its chunks touch and stages the new chunks inside
the store (A10's probe-then-write), then a driver-side commit that renames
the staged files into place under the write lease, up to one file per
task and touched prefix; the hkeys come back to the driver as Arrow, and
each task's staged share as a small JSON file. The `pslake` sink
runs the same stager and commit, and `put_blob` runs both on the driver with
no Spark job. A vacuum is one map pass over the live hashes repartitioned by
prefix that hard-links every file holding no dead hash into the new
generation and rewrites only the others. hash_prefix gives 16^n balanced
partitions (content hashes are uniform). A point read (`get`, `has`) runs
no Spark job: the driver lists the one hash_prefix directory and reads it
with pyarrow, and the filter on `hash` skips row groups by min/max stats, so
its cost follows the size of one partition, not of the store. A batch read
(`get_blobs`) runs the same reader (`read_blobs`) in one map pass over keys
repartitioned by hash prefix, so it reads only the partitions its keys
touch.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import uuid
from typing import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..errors import Corrupted, InvalidHkey, NotFound, StoreBusy, StoreReadOnly
from . import crypto
from .hkey import HASH_RE, Hkey

MAGIC = "datalake/v1"
SENTINEL = b"<< DATA SEGMENT BEGINS HERE >>"

# Default inline threshold. The reference's MAX_SIZE_RAW constant lives in
# its unvendored ps-hkey dependency (/root/reference/src/store/mod.rs:400,429;
# BASELINE.md), so the true value is unknowable from public source — hence a
# per-store CONFIG KNOB (`inline_max` in manifest.json, set at create) rather
# than a hard constant: a deployment matching a known reference value just
# sets it, and every routing decision plus the sentinel layout follows the
# recorded manifest value, not this default.
MAX_SIZE_RAW = 128
MAX_DECRYPTED_SIZE = 1 << 20  # single-chunk ceiling (reference: MAX_DECRYPTED_SIZE)
TREE_CHUNK_SIZE = 256 << 10  # chunk-tree split size
_AEAD_OVERHEAD = 16  # allowed ciphertext growth before the A12 plain fallback

CHUNKS_SCHEMA = StructType(
    [
        StructField("hash", StringType(), False),
        StructField("size", LongType(), False),
        StructField("enc", StringType(), False),  # 'plain' | cipher name
        StructField("data", BinaryType(), False),
        StructField("hash_prefix", StringType(), False),
    ]
)

MANIFESTS_SCHEMA = StructType(
    [
        StructField("root_hash", StringType(), False),
        StructField("seq", IntegerType(), False),
        StructField("child_hash", StringType(), False),
        StructField("child_key", StringType(), True),
        StructField("child_enc", StringType(), False),
        StructField("length", LongType(), False),
    ]
)

# The columns as each Parquet file holds them, for driver-side pyarrow reads
# and writes. A chunk file has no hash_prefix column: the partition directory
# carries it.
CHUNKS_ARROW_SCHEMA = pa.schema(
    [("hash", pa.string()), ("size", pa.int64()), ("enc", pa.string()), ("data", pa.binary())]
)
MANIFESTS_ARROW_SCHEMA = pa.schema(
    [
        ("root_hash", pa.string()),
        ("seq", pa.int32()),
        ("child_hash", pa.string()),
        ("child_key", pa.string()),
        ("child_enc", pa.string()),
        ("length", pa.int64()),
    ]
)


def _seal(cipher: str, plain: bytes, seq: int | None = None) -> tuple:
    """One stored chunk of ``plain``: (hash, size, enc, data, key, seq).

    Convergent-encrypts under ``cipher``, the store's manifest-recorded
    cipher, not the environment's pick: with the environment's default the
    same plaintext would hash differently once that default changes, and
    convergent dedup would break. The A12 guard stores the plaintext when
    the ciphertext expands beyond the AEAD allowance. ``hash`` is sha256 of
    the stored bytes and ``key`` is None for a plain chunk."""
    key = crypto.convergent_key(plain)
    stored = crypto.encrypt_as(cipher, plain, key)
    if len(stored) > len(plain) + _AEAD_OVERHEAD:
        stored, enc, key_hex = plain, "plain", None
    else:
        enc, key_hex = cipher, key.hex()
    return hashlib.sha256(stored).hexdigest(), len(plain), enc, stored, key_hex, seq


def route_blob(plain: bytes, cipher: str, inline_max: int) -> tuple[str, list[tuple]]:
    """The put's size routing (A11–A14, store/mod.rs:399-436): a blob's hkey
    and the chunks to store, each as :func:`_seal` returns it. Every put
    path calls it through ``publish.Stager``: ``Store.put_blobs``,
    ``Store.put_blob`` and the ``pslake`` sink, so all write the same bytes
    by construction.

    A blob of at most ``inline_max`` bytes is a raw hkey with no chunk; one
    of at most MAX_DECRYPTED_SIZE is one chunk; a larger one is a tree of
    TREE_CHUNK_SIZE children whose ``seq`` numbers their order, rooted at
    sha256(plaintext)."""
    if len(plain) <= inline_max:
        return Hkey("raw", inline=plain).encode(), []
    if len(plain) <= MAX_DECRYPTED_SIZE:
        chunk = _seal(cipher, plain)
        kind = "plain" if chunk[2] == "plain" else "enc"
        return Hkey(kind, hash=chunk[0], key=chunk[4], size=len(plain)).encode(), [chunk]
    kids = [
        _seal(cipher, plain[off : off + TREE_CHUNK_SIZE], seq)
        for seq, off in enumerate(range(0, len(plain), TREE_CHUNK_SIZE))
    ]
    root = hashlib.sha256(plain).hexdigest()
    return Hkey("tree", hash=root, size=len(plain)).encode(), kids


def _sentinel(cipher: str, inline_max: int) -> tuple:
    """The sentinel chunk, the reference's reserved page 0
    (store/mod.rs:231-235). Sealed directly rather than routed: with
    ``inline_max`` close to MAX_DECRYPTED_SIZE the router would make it a
    tree."""
    return _seal(cipher, SENTINEL + b"\0" * inline_max)


def _data_files(d: str) -> list[str]:
    """Data files of one dataset directory, sorted; [] if it is absent.
    Names starting with ``_`` or ``.`` are skipped as Spark's own listing
    skips them (``_SUCCESS``, ``_temporary``, ``.crc`` checksums)."""
    try:
        names = sorted(os.listdir(d))
    except FileNotFoundError:
        return []
    return [os.path.join(d, n) for n in names if not n.startswith(("_", "."))]


def list_chunk_files(chunks_dir: str, prefixes=None) -> list[tuple[str, str]]:
    """(file, hash_prefix) pairs of a chunks generation directory.

    The prefix is a DIRECTORY key (written via partitionBy), not a file
    column. With ``prefixes`` only those partition directories are listed,
    so a point read costs one directory listing. Needs no SparkSession: the
    ``pslake`` reader plans with it, and runs in plain Python workers."""
    if prefixes is None:
        try:
            entries = sorted(os.listdir(chunks_dir))
        except FileNotFoundError:
            return []
        prefixes = [e.split("=", 1)[1] for e in entries if e.startswith("hash_prefix=")]
    return [
        (f, p)
        for p in prefixes
        for f in _data_files(os.path.join(chunks_dir, f"hash_prefix={p}"))
    ]


def _read_files(files: list[str], schema: pa.Schema, columns: list[str], where) -> pa.Table:
    """Driver-side pyarrow read of ``files`` under an explicit ``schema``.
    A file pyarrow cannot read (truncated, wrong types) raises Corrupted."""
    if not files:
        return schema.empty_table().select(columns)
    try:
        return pads.dataset(files, schema=schema, format="parquet").to_table(
            columns=columns, filter=where
        )
    except pa.ArrowException as e:
        raise Corrupted(f"unreadable parquet in {os.path.dirname(files[0])}: {e}") from e


def _read_chunks(
    chunks_dir: str, prefix_len: int, hashes: list[str], columns: list[str]
) -> pa.Table:
    """Rows of a chunks generation whose hash is in ``hashes``.

    Lists only the hash_prefix directories of ``hashes``, each once, and the
    range part of the filter lets row-group min/max stats on ``hash`` skip
    the rest (pyarrow does not prune on ``isin`` alone)."""
    prefixes = sorted({h[:prefix_len] for h in hashes})
    files = [f for f, _ in list_chunk_files(chunks_dir, prefixes)]
    h = pads.field("hash")
    where = (h >= min(hashes)) & (h <= max(hashes)) & h.isin(hashes)
    return _read_files(files, CHUNKS_ARROW_SCHEMA, columns, where)


def read_blobs(
    chunks_dir: str, manifests_dir: str, prefix_len: int, hkeys: list[Hkey]
) -> list[bytes | None]:
    """The blob of each decoded hkey, or None where its chunk, tree or a tree
    child is absent. Needs no SparkSession: ``Store.get`` calls it on the
    driver, ``Store.get_blobs`` in its Python workers.

    Raw keys decode inline. Tree roots are looked up in the manifests with
    one read, then every stored chunk the batch needs (plain/enc hashes and
    tree children) is read with one more, over only its hash_prefix
    directories. Raises Corrupted on an unreadable file, an AEAD failure or
    a tree whose length disagrees with its hkey."""
    roots = sorted({hk.hash for hk in hkeys if hk.kind == "tree"})
    kids: dict[str, list[tuple[str, str | None, str]]] = {}  # root → (hash, key, cipher)
    if roots:
        rows = _read_files(
            _data_files(manifests_dir),
            MANIFESTS_ARROW_SCHEMA,
            ["root_hash", "seq", "child_hash", "child_key", "child_enc"],
            pads.field("root_hash").isin(roots),
        )
        for k in rows.sort_by([("root_hash", "ascending"), ("seq", "ascending")]).to_pylist():
            key = None if k["child_enc"] == "plain" else k["child_key"]
            kids.setdefault(k["root_hash"], []).append((k["child_hash"], key, k["child_enc"]))
    hashes = sorted(
        {hk.hash for hk in hkeys if hk.kind in ("plain", "enc")}
        | {kid[0] for ks in kids.values() for kid in ks}
    )
    stored: dict[str, tuple[str, bytes]] = {}
    if hashes:
        t = _read_chunks(chunks_dir, prefix_len, hashes, ["hash", "enc", "data"])
        stored = {
            h: (enc, data)
            for h, enc, data in zip(*(t.column(c).to_pylist() for c in ("hash", "enc", "data")))
        }

    def chunk(h: str, key: str | None, cipher: str | None = None) -> bytes | None:
        """Plaintext of chunk ``h``, None if it is absent: its stored bytes
        when ``key`` is None, else decrypted under ``cipher``, by default the
        one stored with the chunk."""
        row = stored.get(h)
        if row is None or key is None:
            return None if row is None else row[1]
        return crypto.decrypt_as(cipher or row[0], row[1], bytes.fromhex(key))

    out: list[bytes | None] = []
    for hk in hkeys:
        if hk.kind == "raw":
            out.append(hk.inline or b"")
        elif hk.kind in ("plain", "enc"):
            out.append(chunk(hk.hash, hk.key))
        else:  # tree: children in seq order → decrypt → concat (A13 read)
            parts = [chunk(*kid) for kid in kids.get(hk.hash, [])]
            if not parts or None in parts:
                out.append(None)
                continue
            blob = b"".join(parts)
            if len(blob) != hk.size:
                raise Corrupted(f"tree length mismatch for {hk.hash}: {len(blob)} != {hk.size}")
            out.append(blob)
    return out


def _decode_or_none(s: str | None) -> Hkey | None:
    """Hkey.decode for the batch read: a NULL or malformed hkey, or an
    unknown kind, is None."""
    try:
        return Hkey.decode(s) if s is not None else None
    except InvalidHkey:
        return None


def acquire_write_lease(path: str, op: str):
    """Module-level write-lease protocol (see Store._write_lease for the
    reference mapping).  Context manager; raises StoreBusy when contended.
    Shared by Store mutations AND the pslake sink's driver-side commit, which
    runs in a plain Python worker with no SparkSession."""
    import time as _time

    lease_path = os.path.join(path, "write.lease")

    @contextlib.contextmanager
    def _ctx():
        fd = None
        for attempt in (0, 1):
            try:
                fd = os.open(lease_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                stale_ino = Store._stale_lease_ino(lease_path)
                if stale_ino is None and not os.path.exists(lease_path):
                    continue  # holder released in between — retry create
                if attempt == 1 or stale_ino is None:
                    raise StoreBusy(
                        f"{path}: write lease held "
                        f"({Store._lease_holder(lease_path)}) for op {op!r}"
                    ) from None
                # Stale (dead pid / expired): break it BY IDENTITY, not
                # path — between the staleness judgment and the unlink a
                # competing writer may have broken the same stale lease
                # and created its own fresh one; unlinking blindly would
                # remove the successor's LIVE lease and let two writers
                # proceed (r4 advice, medium). The successor's file is a
                # different inode, so re-stat and only unlink the exact
                # file that was judged stale; on any mismatch treat the
                # store as contended (second loop iteration → StoreBusy).
                with contextlib.suppress(OSError):
                    if os.stat(lease_path).st_ino == stale_ino:
                        os.unlink(lease_path)
        if fd is None:
            # both attempts fell through via `continue` (holder released
            # and a new contender re-created the lease each time): the
            # store is contended — fail fast like any other lost race
            # (a bare loop exit here used to crash with UnboundLocalError)
            raise StoreBusy(f"{path}: write lease contended for op {op!r}")
        mine = {"pid": os.getpid(), "ts": _time.time(), "op": op}
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(mine, f)
            yield
        finally:
            Store._release_lease(lease_path, mine)

    return _ctx()


class Store:
    def __init__(self, spark: SparkSession, path: str, readonly: bool, manifest: dict):
        from ..session import configure

        configure(spark)  # UTC/nanos confs + ship package zip to Python workers
        self.spark = spark
        self.path = path
        self.readonly = readonly
        self.manifest = manifest
        self.prefix_len = int(manifest.get("prefix_len", 2))
        self.quota_bytes = manifest.get("quota_bytes")
        # per-store inline threshold (see MAX_SIZE_RAW comment): older
        # manifests without the field keep the historical default
        self.inline_max = int(manifest.get("inline_max", MAX_SIZE_RAW))

    # -- lifecycle (A1 / A4 / A5) -------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        prefix_len: int = 2,
        quota_bytes: int | None = None,
        inline_max: int = MAX_SIZE_RAW,
    ) -> "Store":
        if not 0 <= inline_max <= MAX_DECRYPTED_SIZE:
            raise ValueError(f"inline_max out of range: {inline_max}")
        # mirror Store.open's check: creating with an out-of-range prefix_len
        # would mint a store every subsequent open rejects as Corrupted
        if not isinstance(prefix_len, int) or not 1 <= prefix_len <= 8:
            raise ValueError(f"invalid prefix_len: {prefix_len!r}")
        os.makedirs(path, exist_ok=True)
        manifest = {
            "magic": MAGIC,
            "prefix_len": prefix_len,
            "cipher": crypto.cipher_name(),
            "quota_bytes": quota_bytes,
            "inline_max": inline_max,
        }
        # The sentinel is written directly with pyarrow, not by a Spark job,
        # into the chunks/hash_prefix=<p>/ layout partitionBy produces; every
        # reader supplies the schema, so nothing depends on writer metadata.
        # WRITE ORDER IS THE CRASH DISCIPLINE: the sentinel lands BEFORE
        # manifest.json is published, mirroring the reference's
        # publish-index-slot-last rule (store/mod.rs:348-362) — a create()
        # interrupted between the two steps leaves a directory that sniff()
        # rejects (no magic), so the next caller recreates it instead of
        # reusing a sentinel-less store. The file is written under a `_`
        # name, which every reader skips, and renamed into place, so a torn
        # write is never read.
        import pyarrow.parquet as pq

        h, size, enc, data, _key, _seq = _sentinel(manifest["cipher"], inline_max)
        part_dir = os.path.join(path, "chunks", f"hash_prefix={h[:prefix_len]}")
        os.makedirs(part_dir, exist_ok=True)
        table = pa.table(
            {"hash": [h], "size": [size], "enc": [enc], "data": [data]},
            schema=CHUNKS_ARROW_SCHEMA,
        )
        name = f"part-00000-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(part_dir, f"_tmp-{name}")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(part_dir, name))
        with open(os.path.join(path, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2)
        return cls(spark, path, readonly=False, manifest=manifest)

    @staticmethod
    def sniff(path: str) -> bool:
        """Magic sniff (A5, lake/util.rs:7-24): is this directory a store?"""
        mf = os.path.join(path, "manifest.json")
        if not os.path.exists(mf):
            return False
        try:
            with open(mf) as f:
                return json.load(f).get("magic") == MAGIC
        except (OSError, json.JSONDecodeError):
            return False

    @classmethod
    def open(cls, spark: SparkSession, path: str, readonly: bool = False) -> "Store":
        """Open + the corruption-check battery (A4, store/mod.rs:98-170 analog)."""
        mf_path = os.path.join(path, "manifest.json")
        if not os.path.isdir(path):
            raise Corrupted(f"store path missing: {path}")
        if not os.path.exists(mf_path):
            raise Corrupted("missing manifest.json")
        try:
            with open(mf_path) as f:
                manifest = json.load(f)
        except json.JSONDecodeError as e:
            raise Corrupted(f"manifest unparseable: {e}") from e
        if manifest.get("magic") != MAGIC:
            raise Corrupted(f"magic mismatch: {manifest.get('magic')!r}")
        prefix_len = manifest.get("prefix_len")
        if not isinstance(prefix_len, int) or not (1 <= prefix_len <= 8):
            raise Corrupted(f"invalid prefix_len: {prefix_len!r}")
        inline_max = manifest.get("inline_max", MAX_SIZE_RAW)
        if not isinstance(inline_max, int) or not (0 <= inline_max <= MAX_DECRYPTED_SIZE):
            raise Corrupted(f"invalid inline_max: {inline_max!r}")
        cipher = manifest.get("cipher")
        if cipher not in crypto.KNOWN_CIPHERS:
            raise Corrupted(f"unknown store cipher: {cipher!r}")
        if not crypto.cipher_available(cipher):
            # fail fast: the store's chunks are (overwhelmingly) this cipher,
            # so every get would raise — surface the environment problem at
            # open time instead of per-read
            raise Corrupted(
                f"store cipher {cipher!r} unavailable in this environment "
                "(install 'cryptography' for aes-gcm-siv)"
            )
        store = cls(spark, path, readonly=readonly, manifest=manifest)
        # schema check must read the ACTUAL file footers (chunks() imposes the
        # expected schema on read, which would make this check vacuous)
        chunks_path = store._active_path("chunks")
        if os.path.isdir(chunks_path):
            try:
                got = {f.name: f.dataType for f in spark.read.parquet(chunks_path).schema.fields}
            except Exception as e:
                raise Corrupted(f"chunks dataset unreadable: {e}") from e
            want = {f.name: f.dataType for f in CHUNKS_SCHEMA.fields}
            for name, dtype in want.items():
                # the partition column surfaces as string either way
                if name == "hash_prefix":
                    continue
                if got.get(name) != dtype:
                    raise Corrupted(f"chunks schema mismatch on {name!r}: {got.get(name)}")
        else:
            # a valid store ALWAYS has a committed chunks dataset (the
            # sentinel is written before the manifest publishes) — a
            # manifest with no chunks data is a torn create from a writer
            # that predates the manifest-last discipline, or lost data
            raise Corrupted("manifest present but chunks dataset missing (torn create)")
        return store

    # -- exclusive write lease (A20, src/store/atomic.rs:8-57) ---------------

    _LEASE_TTL_SEC = 3600.0  # a crashed writer's lease is breakable after this

    def _write_lease(self, op: str):
        """Exclusive write lease over the store directory.

        The reference serializes mutation behind an exclusive write guard
        (DataStoreWriteGuard, src/store/atomic.rs:8-57); without the analog,
        a put appending to the OLD chunks generation while a compact/vacuum
        writes the new one is silently dropped at the pointer swap. The lease
        is an O_CREAT|O_EXCL file (atomic on POSIX) holding pid/time/op; a
        second writer fails fast with StoreBusy (the federation router treats
        that like readonly and waterfalls to the next store). Leases of dead
        processes or older than _LEASE_TTL_SEC are broken — the poisoned-lock
        recovery analog (src/error.rs:71-75).

        The protocol itself lives in the module-level
        :func:`acquire_write_lease` so non-Store writers (the ``pslake``
        DataSource sink's driver-side commit, which has no SparkSession and
        therefore no Store handle) take the SAME lease file with the SAME
        staleness rules.
        """
        return acquire_write_lease(self.path, op)

    @staticmethod
    def _release_lease(lease_path: str, mine: dict) -> None:
        """Release only OUR lease. If this op outlived _LEASE_TTL_SEC another
        writer may have legitimately broken our lease and written its own —
        unlinking unconditionally would free the store under that live writer
        (r4 advice, medium). Re-read and compare pid+ts (both round-trip
        exactly through JSON); on mismatch or unreadable content leave the
        file alone — the TTL reaper will collect it if it is truly dead."""
        try:
            with open(lease_path) as f:
                held = json.load(f)
        except (OSError, json.JSONDecodeError):
            return
        if held.get("pid") == mine["pid"] and held.get("ts") == mine["ts"]:
            with contextlib.suppress(OSError):
                os.unlink(lease_path)

    @staticmethod
    def _lease_holder(lease_path: str) -> str:
        try:
            with open(lease_path) as f:
                return json.dumps(json.load(f))
        except (OSError, json.JSONDecodeError):
            return "unreadable lease"

    @classmethod
    def _stale_lease_ino(cls, lease_path: str) -> int | None:
        """Judge staleness and return the judged file's inode (None = live).

        The inode is captured BEFORE the content read: if the file is
        replaced in between, the content judged belongs to the newer file and
        the stat at break time will mismatch either way, so the caller falls
        back to StoreBusy rather than breaking the wrong lease."""
        import time as _time

        try:
            ino = os.stat(lease_path).st_ino
        except OSError:
            return None  # vanished — let the caller's O_EXCL retry race for it
        try:
            with open(lease_path) as f:
                lease = json.load(f)
        except (OSError, json.JSONDecodeError):
            # unreadable/half-written: only age can prove staleness
            try:
                age = _time.time() - os.path.getmtime(lease_path)
            except OSError:
                return None  # vanished meanwhile
            return ino if age > cls._LEASE_TTL_SEC else None
        if _time.time() - float(lease.get("ts", 0)) > cls._LEASE_TTL_SEC:
            return ino
        pid = lease.get("pid")
        if not isinstance(pid, int):
            return ino
        try:
            os.kill(pid, 0)  # signal 0: existence probe only
            return None
        except ProcessLookupError:
            return ino
        except PermissionError:
            return None  # exists, owned by another user

    # -- dataset accessors ---------------------------------------------------

    def _disk_manifest(self) -> dict | None:
        """manifest.json as it is on disk now, or None if it is absent. An
        unparseable manifest is damage, not absence: it raises Corrupted."""
        try:
            with open(os.path.join(self.path, "manifest.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return None
        except json.JSONDecodeError as e:
            raise Corrupted(f"manifest unparseable: {e}") from e

    def _active_path(self, sub: str) -> str:
        """Resolve the ACTIVE generation directory for a dataset.

        Maintenance ops (compact/vacuum) never replace a dataset directory in
        place — they write a new generation and atomically swap the pointer in
        manifest.json (single os.replace), so a concurrent reader always sees
        a complete dataset (r2 verdict #5: rmtree+replace had a
        missing-dataset window).  Re-reading manifest.json here lets
        long-lived Store handles follow pointer swaps."""
        on_disk = self._disk_manifest()
        gen = (self.manifest if on_disk is None else on_disk).get(f"{sub}_dir")
        return os.path.join(self.path, gen or sub)

    def _commit_generation(self, sub: str, new_dir: str) -> None:
        """Atomically publish ``new_dir`` as the active generation of ``sub``.

        The pointer swap is one os.replace of manifest.json (atomic on POSIX).
        The just-superseded generation is RETAINED so readers that resolved
        the old pointer keep working; generations older than that (and
        crashed half-written ones) are removed — retention depth 1, the
        minimum that makes maintenance non-disruptive for in-flight queries.
        """
        # Re-read the ON-DISK manifest first: the write lease serializes
        # maintenance ops but does not refresh THIS handle's memory — a
        # long-lived handle whose last read predates another process's
        # compact would otherwise derive `old` from a stale pointer (sweeping
        # the generation concurrent readers hold) and clobber every other
        # pointer that process committed (e.g. manifests_dir) when it dumps
        # its stale dict back to disk. Only an absent manifest.json keeps the
        # in-memory view (a fresh store mid-create); an unparseable one
        # raises Corrupted before the swap.
        on_disk = self._disk_manifest()
        if on_disk is not None:
            self.manifest = on_disk
        mf_path = os.path.join(self.path, "manifest.json")
        old = self.manifest.get(f"{sub}_dir") or sub
        self.manifest[f"{sub}_dir"] = new_dir
        # time-travel pointer: the retained generation stays addressable
        # (Store.chunks_at(-1)) until the NEXT maintenance op supersedes it —
        # retention depth 1, matching the sweep below
        self.manifest[f"{sub}_prev_dir"] = old
        tmp = mf_path + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=2)
        os.replace(tmp, mf_path)
        import re as _re

        keep = {new_dir, old}
        # precise generation-dir match: a sibling dataset whose name merely
        # shares the prefix (e.g. 'chunks_index' during 'chunks' maintenance)
        # must never be swept (ADVICE r3)
        gen_pat = _re.compile(rf"^{_re.escape(sub)}(_g[0-9a-f]{{8}})?$")
        for d in os.listdir(self.path):
            if gen_pat.match(d) and d not in keep:
                full = os.path.join(self.path, d)
                if os.path.isdir(full):
                    shutil.rmtree(full, ignore_errors=True)

    def _read_or_empty(self, sub: str, schema: StructType) -> DataFrame:
        """The active generation of ``sub``; empty only if it was never
        written (no tree put yet makes no manifests). Any other failure
        propagates rather than reading as an empty store."""
        p = self._active_path(sub)
        if not os.path.isdir(p):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(p)

    def chunks(self) -> DataFrame:
        return self._read_or_empty("chunks", CHUNKS_SCHEMA)

    def chunks_at(self, generation: int = 0) -> DataFrame:
        """Time-travel read of the chunks dataset.

        ``generation=0`` is the active generation (same as ``chunks()``);
        ``generation=-1`` is the snapshot superseded by the most recent
        maintenance op (compact/vacuum), which ``_commit_generation`` retains
        on disk with a ``chunks_prev_dir`` manifest pointer — the reader-side
        half of the copy-on-write generation swap, the same contract as a
        table format's snapshot read. Retention depth is 1: the next
        maintenance op supersedes (and sweeps) this snapshot.
        """
        if generation == 0:
            return self.chunks()
        if generation != -1:
            raise ValueError(f"only generations 0 and -1 are retained, got {generation}")
        on_disk = self._disk_manifest()
        prev = (self.manifest if on_disk is None else on_disk).get("chunks_prev_dir")
        if not prev:
            raise NotFound(
                "no previous chunks generation (no maintenance op has run)"
            )
        return self.spark.read.schema(CHUNKS_SCHEMA).parquet(
            os.path.join(self.path, prev)
        )

    def manifests(self) -> DataFrame:
        return self._read_or_empty("manifests", MANIFESTS_SCHEMA)

    # -- write path (A10–A14) ------------------------------------------------

    @contextlib.contextmanager
    def _staged_put(self, op: str):
        """Hold the write lease for a put and yield where its stagers
        write; the staging directory is removed on the way out, whether or
        not the put was committed."""
        if self.readonly:
            raise StoreReadOnly(self.path)
        with self._write_lease(op):
            staging = os.path.join(self.path, f"staging_{uuid.uuid4().hex[:12]}")
            try:
                yield self._active_path("chunks"), staging
            finally:
                shutil.rmtree(staging, ignore_errors=True)

    def put_blobs(self, df: DataFrame, id_col: str = "id", data_col: str = "data") -> DataFrame:
        """Distributed size-routed put. Returns (id, hkey) DataFrame.

        One map pass runs a :class:`~.publish.Stager` per task: it routes
        each blob with :func:`route_blob`, probes the hash_prefix
        directories its chunks touch and stages the new chunks as parquet
        inside the store. Each task leaves its staged share, with the ids of
        any NULL payloads, as a small JSON file in the staging directory.
        The driver reads those, raises the NULL-payload ValueError before
        anything is published, and publishes with :func:`~.publish.commit`
        under the write lease. The quota rule is stated in
        ``lake/publish.py``. Content addressing makes the put idempotent.

        The pass's (id, hkey) rows are collected as Arrow in the put's one
        Spark job and returned as a DataFrame over them (Spark keeps a small
        table as a local relation and parallelizes a large one), so the
        caller's actions run no put again. That costs the driver memory in
        proportion to the number of blobs: about 150 MB per million. (A
        local checkpoint kept them on the executors, but left the JVM
        compiling and collecting for a few hundred ms after each put, CPU
        that landed on the operations after it.)
        """
        from .publish import commit, read_shares, stage_batches_for

        src = df.select(F.col(id_col).cast("long").alias("id"), F.col(data_col).alias("data"))
        with self._staged_put("put_blobs") as (chunks_dir, staging):
            rows = src.mapInPandas(
                stage_batches_for(chunks_dir, staging, self.manifest), "id long, hkey string"
            ).toArrow()
            shares = read_shares(staging)
            nulls = [i for s in shares for i in s["nulls"]]
            if nulls:
                # a NULL blob has no hkey to return (get_blobs makes the
                # opposite guarantee: every input id appears in its output)
                raise ValueError(
                    f"put_blobs: NULL {data_col!r} for id {max(nulls)} — "
                    "blobs must be non-null bytes (use b'' for empty)"
                )
            commit(self.path, shares, self.quota_bytes)
        return self.spark.createDataFrame(rows)

    def put_blob(self, data: bytes) -> str:
        """Single-blob put (A14) on the driver, with no Spark job: the same
        stager and commit as ``put_blobs``."""
        from .publish import Stager, commit

        with self._staged_put("put_blob") as (chunks_dir, staging):
            stager = Stager(chunks_dir, staging, self.manifest)
            hkey = stager.put(bytes(data))
            commit(self.path, [stager.finish()], self.quota_bytes)
        return hkey

    # -- read path (A7/A8/A15 analog) ---------------------------------------

    def get(self, hkey_str: str) -> bytes:
        """Reconstruct a blob from its hkey: a point read of its hash_prefix
        partition on the driver, with no Spark job. Raises NotFound if the
        chunk or tree is absent, Corrupted if a file in the partition cannot
        be read or a tree's length disagrees with its hkey."""
        hk = Hkey.decode(hkey_str)
        (blob,) = read_blobs(
            self._active_path("chunks"), self._active_path("manifests"), self.prefix_len, [hk]
        )
        if blob is None:
            raise NotFound(hkey_str)
        return blob

    def has(self, hash_hex: str) -> bool:
        if not HASH_RE.fullmatch(hash_hex):
            return False  # not a chunk address, and never a directory name
        chunks_dir = self._active_path("chunks")
        return _read_chunks(chunks_dir, self.prefix_len, [hash_hex], ["hash"]).num_rows > 0

    def get_blobs(self, hkeys: DataFrame, id_col: str = "id", hkey_col: str = "hkey") -> DataFrame:
        """Distributed batch get: (id, hkey) → (id, data), one row per input row.

        The rows are repartitioned on the first ``prefix_len`` digits of the
        hkey's hash, so each task reads only the hash_prefix directories its
        own keys touch, with :func:`read_blobs` — the reader ``get`` uses.
        Only the key strings are shuffled. A missing chunk, tree or tree
        child, a malformed hkey or an unknown kind gives NULL data (the point
        read raises NotFound or InvalidHkey instead). Damage (an unreadable
        file, an AEAD failure, a tree length mismatch) raises Corrupted and
        fails the job."""
        src = hkeys.select(F.col(id_col).alias("id"), F.col(hkey_col).alias("hkey"))
        chunks_dir = self._active_path("chunks")
        manifests_dir = self._active_path("manifests")
        prefix_len = self.prefix_len

        def _read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                decoded = [_decode_or_none(s) for s in pdf["hkey"]]
                blobs = iter(
                    read_blobs(
                        chunks_dir, manifests_dir, prefix_len, [hk for hk in decoded if hk]
                    )
                )
                data = [next(blobs) if hk else None for hk in decoded]
                yield pd.DataFrame({"id": pdf["id"], "data": data})

        out_schema = StructType([src.schema["id"], StructField("data", BinaryType(), True)])
        return src.repartition(
            F.substring(F.split("hkey", ":").getItem(1), 1, prefix_len)
        ).mapInPandas(_read, out_schema)

    # -- maintenance (the file ops a 100 TB lake needs) ----------------------

    def compact(self, target_file_bytes: int = 128 << 20) -> int:
        """Rewrite the chunk dataset with size-targeted files per partition.

        Appends accumulate one file per partition per batch; compaction
        rewrites each hash_prefix partition into ceil(bytes/target) files and
        publishes the rewrite with an atomic manifest pointer swap
        (_commit_generation) — a concurrent reader never observes a missing
        or half-written dataset. Single-writer op, ENFORCED by the exclusive
        write lease (_write_lease): a put racing this rewrite would append to
        the superseded generation and be dropped at the swap."""
        import glob

        if self.readonly:
            raise StoreReadOnly(self.path)
        with self._write_lease("compact"):
            chunks_path = self._active_path("chunks")
            if not os.path.isdir(chunks_path):
                return 0
            df = self.chunks()
            total = df.agg(F.coalesce(F.sum("size"), F.lit(0))).head()[0] or 0
            n_files = max(1, int(total // target_file_bytes) + 1)
            new_dir = f"chunks_g{uuid.uuid4().hex[:8]}"
            (
                df.repartition(n_files, "hash_prefix")
                .write.mode("overwrite")
                .partitionBy("hash_prefix")
                .parquet(os.path.join(self.path, new_dir))
            )
            self._commit_generation("chunks", new_dir)
            return len(glob.glob(os.path.join(self.path, new_dir, "*", "*.parquet")))

    def vacuum(self, roots: DataFrame, hkey_col: str = "hkey") -> int:
        """Mark-and-sweep GC: keep only chunks reachable from the given root
        hkeys (plain/enc hashes + every tree child via manifests + sentinel).

        Content-addressed stores can't know liveness locally — the caller
        supplies the root set (e.g. a catalog of live hkeys). Returns the
        number of chunks removed. ``roots`` is read once, into a local
        checkpoint of its parsed (kind, hash). The live hashes, the children
        of live tree roots from a join with the manifests, the sentinel and
        one marker row per prefix directory are repartitioned by prefix into
        min(#prefixes, default parallelism) tasks, each running
        :func:`~.publish.sweep`: a file with no dead hash is hard-linked into
        the new generation, and only a file with one is rewritten. The new
        manifests generation links the old one's files unless a tree root
        died, and is published before the chunks generation, so no
        manifests row ever names an absent chunk. Single-writer op, enforced
        by the exclusive write lease (_write_lease).
        """
        if self.readonly:
            raise StoreReadOnly(self.path)
        with self._write_lease("vacuum"):
            return self._vacuum_inner(roots, hkey_col)

    def _vacuum_inner(self, roots: DataFrame, hkey_col: str) -> int:
        from .publish import sweep_batches_for

        old = self._active_path("chunks")
        prefixes = sorted({p for _f, p in list_chunk_files(old)})
        if not prefixes:
            return 0
        parts = F.split(F.col(hkey_col), ":")
        parsed = roots.select(
            parts.getItem(0).alias("kind"), parts.getItem(1).alias("hash")
        ).localCheckpoint(eager=True)
        trees = parsed.where(F.col("kind") == "tree").select(F.col("hash").alias("root_hash"))
        # a tree child row names its manifests row as "root:seq" in `kid`
        kids = trees.join(self.manifests(), "root_hash").select(
            F.col("child_hash").alias("hash"), F.concat_ws(":", "root_hash", "seq").alias("kid")
        )
        direct = parsed.where(F.col("kind").isin("plain", "enc")).select(
            "hash", F.lit(None).cast("string").alias("kid")
        )
        # the sentinel was written at create time under the cipher recorded in
        # the manifest; recomputing with the current environment's cipher
        # would mis-hash it and garbage-collect the reference page-0 analog
        sentinel = _sentinel(self.manifest["cipher"], self.inline_max)[0]
        pl = self.prefix_len
        fixed = self.spark.createDataFrame(
            [(sentinel[:pl], sentinel, None)] + [(p, None, None) for p in prefixes],
            "prefix string, hash string, kid string",
        )
        live = (
            direct.unionByName(kids)
            .select(F.substring("hash", 1, pl).alias("prefix"), "hash", "kid")
            .unionByName(fixed)
        )
        new_chunks = f"chunks_g{uuid.uuid4().hex[:8]}"
        os.makedirs(os.path.join(self.path, new_chunks))  # published even if nothing lives
        n = min(len(prefixes), self.spark.sparkContext.defaultParallelism)
        swept = (
            live.repartition(n, "prefix")
            .mapInPandas(
                sweep_batches_for(old, os.path.join(self.path, new_chunks)),
                "removed long, kids long",
            )
            .collect()
        )
        n_rows = _read_files(
            _data_files(self._active_path("manifests")),
            MANIFESTS_ARROW_SCHEMA,
            ["root_hash"],
            None,
        ).num_rows
        # every manifests row reached a task as a tree child unless a root died
        dead_tree = sum(r["kids"] for r in swept) != n_rows
        self._swap_in(new_chunks, {r[0] for r in trees.collect()} if dead_tree else None)
        return sum(r["removed"] for r in swept)

    def _swap_in(self, new_chunks: str, live_roots: set[str] | None) -> None:
        """Publish a vacuum's generations: a new manifests generation with
        the rows of ``live_roots`` (every row when None, each file
        hard-linked), then ``new_chunks``."""
        from .publish import publish_file

        manifests = self._active_path("manifests")
        if os.path.isdir(manifests):
            new = f"manifests_g{uuid.uuid4().hex[:8]}"
            os.makedirs(os.path.join(self.path, new))
            for f in _data_files(manifests):
                keep = None
                if live_roots is not None:
                    t = _read_files([f], MANIFESTS_ARROW_SCHEMA, ["root_hash"], None)
                    keep = [r in live_roots for r in t.column(0).to_pylist()]
                if keep is None or any(keep):
                    publish_file(f, os.path.join(self.path, new), keep, link=True)
            self._commit_generation("manifests", new)
        self._commit_generation("chunks", new_chunks)

    def stats(self) -> dict:
        """Store-level statistics (manifest-header analog of the reference's
        free_chunk/index accounting)."""
        row = (
            self.chunks()
            .agg(
                F.count("*").alias("n_chunks"),
                F.coalesce(F.sum("size"), F.lit(0)).alias("plain_bytes"),
                F.coalesce(F.sum(F.length("data")), F.lit(0)).alias("stored_bytes"),
                F.countDistinct("hash_prefix").alias("n_partitions"),
            )
            .head()
        )
        n_roots = self.manifests().select("root_hash").distinct().count()
        return {
            "n_chunks": int(row["n_chunks"]),
            "plain_bytes": int(row["plain_bytes"]),
            "stored_bytes": int(row["stored_bytes"]),
            "n_partitions": int(row["n_partitions"]),
            "n_tree_roots": int(n_roots),
            "prefix_len": self.prefix_len,
            "cipher": self.manifest.get("cipher"),
        }
