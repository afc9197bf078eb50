"""Lake-core queries: SURVEY.md §2B B38 — the reference's own operations
(content-addressed put/dedup/federation, §2A A10–A17) exercised end-to-end
through the Spark store and checked against a DuckDB oracle that recomputes
the expected content-addressing arithmetic from the documents table.

Scratch-store policy (r12 verdict #1): the BENCH-TIMED path (b38_put_dedup)
uses a FRESH per-run store — a reused store would let the timed puts dedup
against a previous run's appends and skip the encrypt+append work a cold run
pays, flattering the recorded number (cross-run precomputation, not
optimization).  Non-timed correctness paths keep `_stable_store` (keyed by
sf_dir, reused across invocations): content addressing makes puts idempotent,
so counts stay deterministic without a store rebuild per call.  The sentinel
chunk written at store create (reference page-0 analog) is accounted for
explicitly (+1 in the oracles).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import Corrupted
from ..lake import Lake, Store
from ..lake.store import MAX_SIZE_RAW
from ..registry import query
from ._util import T, scratch_dir


def _fresh_store(spark: SparkSession, name: str) -> Store:
    path = scratch_dir(name)
    shutil.rmtree(path, ignore_errors=True)
    return Store.create(spark, path, prefix_len=1)


def _stable_store(spark: SparkSession, name: str, sf_dir: str) -> Store:
    """Scratch store keyed by sf_dir, reused across invocations.

    Content addressing makes every put idempotent, so repeated driver/bench
    runs against the same sf_dir converge to identical chunk counts without
    paying a store rebuild; a different sf_dir gets its own store."""
    import hashlib

    token = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = scratch_dir(f"{name}_{token}")
    if Store.sniff(path):
        try:
            return Store.open(spark, path)
        except Corrupted:
            # a torn/damaged scratch store is disposable — rebuild it
            pass
    shutil.rmtree(path, ignore_errors=True)
    return Store.create(spark, path, prefix_len=1)


def _doc_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), F.col("text").cast("binary").alias("data")
    )


@query(
    "b38_put_dedup",
    oracle=f"""
    SELECT count(*) AS n_blobs,
           CAST(sum(CASE WHEN octet_length(encode(text)) <= {MAX_SIZE_RAW} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_raw,
           CAST(count(DISTINCT CASE WHEN octet_length(encode(text)) > {MAX_SIZE_RAW}
                THEN sha256(text) END) + 1 AS BIGINT) AS n_chunk_rows
    FROM documents
    """,
    tags=("B38", "lake"),
    doc="Content-addressed put with size routing + dedup: documents stored "
    "TWICE; chunk rows must equal distinct stored contents (+1 sentinel) — "
    "put idempotence (reference store/mod.rs:321-326).",
)
def b38_put_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    # FRESH store per invocation (r12 verdict #1): this is the bench-TIMED
    # put path, so every run must pay the full encrypt+append work — a store
    # reused across runs (the old sf_dir-keyed `_stable_store`) let every
    # run after the first dedup against the previous run's appends, skipping
    # the write work a cold run pays.  The UUID dir is removed in `finally`;
    # a hard-killed run's leftover is caught by sweep_stale_scratch (the
    # prefix is registered there).
    path = scratch_dir(f"q_store_dedup_run_{uuid.uuid4().hex[:12]}")
    store = Store.create(spark, path, prefix_len=1)
    try:
        blobs = _doc_blobs(spark, sf_dir)
        first = store.put_blobs(blobs)
        # put_blobs is eager (appends committed, result localCheckpointed), so
        # the second put needs no action of its own, and n_blobs/n_raw read
        # the checkpointed mapping in ONE aggregate — 3 serial driver jobs
        # fewer per run than the count()-per-statistic draft (r12
        # optimization; results identical by construction)
        store.put_blobs(blobs)  # idempotent second put (eager inside)
        stats = first.agg(
            F.count("*").alias("n_blobs"),
            F.sum(F.col("hkey").startswith("raw:").cast("long")).alias("n_raw"),
        ).head()
        n_blobs, n_raw = int(stats["n_blobs"]), int(stats["n_raw"] or 0)
        n_chunk_rows = store.chunks().count()
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        [(n_blobs, n_raw, n_chunk_rows)], "n_blobs bigint, n_raw bigint, n_chunk_rows bigint"
    )


@query(
    "b38_content_addressing",
    oracle=f"""
    SELECT CAST(count(DISTINCT CASE WHEN octet_length(encode(text)) > {MAX_SIZE_RAW}
                THEN sha256(text) END) + 1 AS BIGINT) AS n_chunks,
           0 AS hash_violations
    FROM documents
    """,
    tags=("B38", "lake"),
    doc="Stored-hash verification: every chunk's address must equal "
    "sha256 of its stored bytes (reference store/mod.rs:412-414 verify step).",
)
def b38_content_addressing(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _stable_store(spark, "q_store_addr", sf_dir)
    store.put_blobs(_doc_blobs(spark, sf_dir)).count()
    chunks = store.chunks()
    return chunks.agg(
        F.count("*").alias("n_chunks"),
        F.sum(
            F.when(F.sha2(F.col("data"), 256) != F.col("hash"), 1).otherwise(0)
        ).cast("int").alias("hash_violations"),
    )


@query(
    "b38_federation",
    oracle=f"""
    WITH d AS (SELECT doc_id, sha256(text) AS h, octet_length(encode(text)) AS n
               FROM documents)
    SELECT CAST((SELECT count(DISTINCT h) FROM d WHERE n > {MAX_SIZE_RAW} AND doc_id < 250) + 1
                AS BIGINT) AS from_primary,
           CAST((SELECT count(DISTINCT h) FROM d WHERE n > {MAX_SIZE_RAW} AND doc_id >= 250
                 AND h NOT IN (SELECT h FROM d WHERE n > {MAX_SIZE_RAW} AND doc_id < 250))
                AS BIGINT) AS from_secondary
    FROM (SELECT 1)
    """,
    tags=("B38", "lake"),
    doc="Federated read with priority: first 250 docs live in the primary "
    "store, ALL docs in the secondary; the federated chunk table must serve "
    "every duplicate hash from the primary (reference lake/mod.rs:54-68).",
)
def b38_federation(spark: SparkSession, sf_dir: str) -> DataFrame:
    sa = _stable_store(spark, "q_fed_a", sf_dir)
    sb = _stable_store(spark, "q_fed_b", sf_dir)
    blobs = _doc_blobs(spark, sf_dir)
    sa.put_blobs(blobs.where(F.col("id") < 250)).count()
    sb.put_blobs(blobs).count()
    lake = Lake(spark, readable=[sa, sb], writable=[sa, sb])
    fed = lake.chunks()
    return fed.agg(
        F.sum(F.when(F.col("store_priority") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("from_primary"),
        F.sum(F.when(F.col("store_priority") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("from_secondary"),
    )


@query(
    "b38_roundtrip",
    oracle="""
    SELECT count(*) AS n_blobs, 0 AS n_mismatch FROM documents
    """,
    tags=("B38", "lake"),
    doc="put → get round-trip integrity for every document blob through the "
    "real batch API: Store.put_blobs then Store.get_blobs, reconstructed "
    "plaintext compared by sha256 against the original.",
)
def b38_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _stable_store(spark, "q_store_rt", sf_dir)
    blobs = _doc_blobs(spark, sf_dir)
    hkeys = store.put_blobs(blobs)
    back = store.get_blobs(hkeys)
    orig = blobs.select("id", F.sha2("data", 256).alias("want_sha"))
    got = back.select("id", F.sha2("data", 256).alias("got_sha"))
    j = orig.join(got, "id", "left")
    return j.agg(
        F.count("*").alias("n_blobs"),
        F.sum(
            F.when(
                F.col("got_sha").isNull() | (F.col("got_sha") != F.col("want_sha")), 1
            ).otherwise(0)
        )
        .cast("int")
        .alias("n_mismatch"),
    )


@query(
    "b38_waterfall",
    oracle=f"""
    WITH d AS (SELECT doc_id, sha256(text) AS h, octet_length(encode(text)) AS n
               FROM documents)
    SELECT CAST((SELECT count(DISTINCT h) FROM d WHERE n > {MAX_SIZE_RAW} AND doc_id < 250) + 1
                AS BIGINT) AS a_chunks,
           CAST((SELECT count(DISTINCT h) FROM d WHERE n > {MAX_SIZE_RAW}) + 1 AS BIGINT)
             AS b_chunks,
           CAST(1 AS BIGINT) AS routed_to_b,
           CAST(1 AS BIGINT) AS out_of_stores
    FROM (SELECT 1)
    """,
    tags=("B38", "lake"),
    doc="Federated put waterfall under quota pressure (A16, reference "
    "lake/mod.rs:70-112): store A's quota admits exactly the first batch "
    "(docs < 250); the second batch (all docs) overflows A and must land "
    "wholly in store B; a third oversized put overflows BOTH stores and must "
    "surface OutOfStores. Quotas are derived from the batch byte sums so the "
    "admit/reject decisions are deterministic at any scale factor.",
)
def b38_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..errors import OutOfStores
    from ..lake.store import MAX_SIZE_RAW, SENTINEL

    blobs = _doc_blobs(spark, sf_dir).withColumn("_n", F.length("data"))
    sums = blobs.agg(
        F.coalesce(
            F.sum(F.when((F.col("_n") > MAX_SIZE_RAW) & (F.col("id") < 250), F.col("_n"))),
            F.lit(0),
        ).alias("s1"),
        F.coalesce(F.sum(F.when(F.col("_n") > MAX_SIZE_RAW, F.col("_n"))), F.lit(0)).alias(
            "sall"
        ),
    ).head()
    s1, sall = int(sums["s1"]), int(sums["sall"])
    sentinel_size = len(SENTINEL) + MAX_SIZE_RAW
    blobs = blobs.drop("_n")

    import uuid

    run = uuid.uuid4().hex[:8]  # fresh stores: quota state is per-invocation
    sa = Store.create(
        spark, scratch_dir(f"q_wf_a_{run}"), prefix_len=1,
        quota_bytes=sentinel_size + s1,
    )
    sb = Store.create(
        spark, scratch_dir(f"q_wf_b_{run}"), prefix_len=1,
        quota_bytes=sentinel_size + sall,
    )
    lake = Lake(spark, readable=[sa, sb], writable=[sa, sb])

    lake.put_blobs(blobs.where(F.col("id") < 250)).count()  # fits A exactly
    lake.put_blobs(blobs).count()  # overflows A → must land wholly in B
    a_chunks = sa.chunks().count()
    b_chunks = sb.chunks().count()
    routed_to_b = int(b_chunks > 1)

    # oversized put: admission must refuse on A AND B → OutOfStores (the
    # blob is as big as all storable docs combined, so no dedup slack in
    # either store can admit it)
    big = spark.createDataFrame(
        [(0, bytearray(b"\xab" * max(sall, MAX_SIZE_RAW + 1)))], "id long, data binary"
    )
    try:
        lake.put_blobs(big).count()
        out_of_stores = 0
    except OutOfStores:
        out_of_stores = 1

    import shutil as _sh

    for s in (sa, sb):
        _sh.rmtree(s.path, ignore_errors=True)
    return spark.createDataFrame(
        [(a_chunks, b_chunks, routed_to_b, out_of_stores)],
        "a_chunks bigint, b_chunks bigint, routed_to_b bigint, out_of_stores bigint",
    )


@query(
    "b38_compact_vacuum",
    oracle=f"""
    WITH d AS (SELECT doc_id, sha256(text) AS h, octet_length(encode(text)) AS n
               FROM documents)
    SELECT CAST((SELECT count(DISTINCT h) FROM d WHERE n > {MAX_SIZE_RAW}) + 1 AS BIGINT)
             AS n_chunks_after_compact,
           CAST((SELECT count(DISTINCT h) FROM d WHERE n > {MAX_SIZE_RAW} AND doc_id % 2 = 0) + 1
                AS BIGINT) AS n_chunks_after_vacuum,
           true AS roundtrip_ok
    FROM (SELECT 1)
    """,
    tags=("B38", "lake"),
    doc="Maintenance ops end-to-end: put all documents, compact (size-"
    "targeted partition rewrite — chunk count must be unchanged), then "
    "vacuum with only the even-doc hkeys as roots (mark-and-sweep GC must "
    "keep exactly the reachable chunks + sentinel) and prove a surviving "
    "blob still round-trips byte-identically. Fresh store per invocation "
    "because vacuum mutates reachability.",
)
def b38_compact_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _fresh_store(spark, "q_store_maint")
    blobs = _doc_blobs(spark, sf_dir)
    hkeys = store.put_blobs(blobs).persist()
    try:
        hkeys.count()
        store.compact(target_file_bytes=1 << 20)
        n_after_compact = store.chunks().count()

        roots = hkeys.where(F.col("id") % 2 == 0)
        store.vacuum(roots.select("hkey"))
        n_after_vacuum = store.chunks().count()

        # a kept blob must still read back byte-identically post-compact+vacuum
        sample = roots.where(~F.col("hkey").startswith("raw:")).orderBy("id").head(1)
        ok = True
        if sample:
            sid = sample[0]["id"]
            want = bytes(blobs.where(F.col("id") == sid).head(1)[0]["data"])
            ok = store.get(sample[0]["hkey"]) == want
    finally:
        hkeys.unpersist()
    return spark.createDataFrame(
        [(n_after_compact, n_after_vacuum, ok)],
        "n_chunks_after_compact bigint, n_chunks_after_vacuum bigint, roundtrip_ok boolean",
    )


@query(
    "b38_stream_ingest",
    oracle=f"""
    SELECT CAST(count(DISTINCT CASE WHEN octet_length(encode(text)) > {MAX_SIZE_RAW}
                THEN sha256(text) END) + 1 AS BIGINT) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_ingested
    FROM documents
    """,
    tags=("B38", "lake", "streaming"),
    doc="Streaming ingestion into the content-addressed lake: documents read "
    "as a stream, foreachBatch -> Store.put_blobs per microbatch, then the "
    "SAME documents re-put in batch (simulated at-least-once redelivery). "
    "Chunk count must equal distinct storable contents + sentinel — the "
    "dedup anti-join turns at-least-once delivery into exactly-once storage.",
)
def b38_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os

    from ..session import configure

    configure(spark)
    store = _fresh_store(spark, "q_store_stream_ingest")
    # stage documents.parquet into a stream-source dir (file source needs a dir)
    token = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    stage = scratch_dir(f"docs_stream_{token}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "documents.parquet")
    if not os.path.exists(link):
        try:
            os.symlink(f"{sf_dir}/documents.parquet", link)
        except OSError:
            import shutil as _sh

            _sh.copy2(f"{sf_dir}/documents.parquet", link)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = spark.readStream.schema(schema).parquet(stage).select(
        F.col("doc_id").alias("id"), F.col("text").cast("binary").alias("data")
    )

    def ingest(batch_df, batch_id):
        store.put_blobs(batch_df).count()

    # checkpoint must be fresh per invocation: the store is wiped each call
    # (_fresh_store), so a reused checkpoint would mark the staged file as
    # already processed and silently skip the streaming leg (ADVICE r2)
    import uuid

    cp = scratch_dir(f"docs_stream_cp_{token}_{uuid.uuid4().hex[:12]}")
    q = (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_ingested = store.put_blobs(_doc_blobs(spark, sf_dir)).count()  # redelivery
    n_chunks = store.chunks().count()
    return spark.createDataFrame(
        [(n_chunks, n_ingested)], "n_chunks bigint, n_ingested bigint"
    )


@query(
    "b38_time_travel",
    oracle=f"""
    WITH d AS (SELECT doc_id, sha256(text) AS h, octet_length(encode(text)) AS n
               FROM documents)
    SELECT CAST((SELECT count(DISTINCT h) FROM d WHERE n > {MAX_SIZE_RAW}
                 AND doc_id % 2 = 0) + 1 AS BIGINT) AS n_current,
           CAST((SELECT count(DISTINCT h) FROM d WHERE n > {MAX_SIZE_RAW}) + 1
                AS BIGINT) AS n_snapshot,
           true AS vacuumed_chunk_in_snapshot,
           false AS vacuumed_chunk_in_current
    FROM (SELECT 1)
    """,
    tags=("B38", "lake"),
    doc="Generation time travel: put all documents, vacuum with only the "
    "even-doc hkeys as roots (copy-on-write generation swap), then read "
    "BOTH the active generation and the retained snapshot via "
    "Store.chunks_at(-1). The snapshot must still hold every pre-vacuum "
    "chunk — including a specific vacuumed-away odd-doc hash that the "
    "active generation must no longer contain — the reader-side contract "
    "of the atomic generation swap (same semantics as a table format's "
    "snapshot read). Fresh store per invocation because vacuum mutates "
    "reachability.",
)
def b38_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _fresh_store(spark, "q_store_ttravel")
    blobs = _doc_blobs(spark, sf_dir)
    hkeys = store.put_blobs(blobs).persist()
    try:
        hkeys.count()
        roots = hkeys.where(F.col("id") % 2 == 0)
        store.vacuum(roots.select("hkey"))
        n_current = store.chunks().count()
        snapshot = store.chunks_at(-1)
        n_snapshot = snapshot.count()

        # a chunk vacuumed away (odd doc, non-inline, hash not shared with
        # any even doc) must exist in the snapshot but not the active gen
        gone = (
            hkeys.where((F.col("id") % 2 == 1) & ~F.col("hkey").startswith("raw:"))
            .join(
                roots.where(~F.col("hkey").startswith("raw:")).select("hkey"),
                "hkey",
                "left_anti",
            )
            .orderBy("id")
            .head(1)
        )
        in_snap = in_cur = None
        if gone:
            from ..lake.hkey import Hkey as _Hkey

            h = _Hkey.decode(gone[0]["hkey"]).hash
            in_snap = snapshot.where(F.col("hash") == h).count() > 0
            in_cur = store.chunks().where(F.col("hash") == h).count() > 0
    finally:
        hkeys.unpersist()
    return spark.createDataFrame(
        [(n_current, n_snapshot, bool(in_snap), bool(in_cur))],
        "n_current bigint, n_snapshot bigint, "
        "vacuumed_chunk_in_snapshot boolean, vacuumed_chunk_in_current boolean",
    )


# Sentinel chunk's recorded plaintext size: len(SENTINEL) + inline_max
# (Store.create writes SENTINEL + zero padding to inline_max; see
# lake/store.py create()).  Keep in sync with lake.store.
_SENTINEL_PLAIN_SIZE = 30 + MAX_SIZE_RAW


@query(
    "b78_pslake_source",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT sha256(text) AS h, octet_length(encode(text)) AS n
      FROM documents WHERE octet_length(encode(text)) > {MAX_SIZE_RAW}
    )
    SELECT CAST(count(*) + 1 AS BIGINT) AS n_chunks,
           CAST(sum(n) + {_SENTINEL_PLAIN_SIZE} AS BIGINT) AS plain_bytes,
           CAST(0 AS BIGINT) AS hash_violations
    FROM d
    """,
    tags=("B1", "B38", "lake"),
    doc="The chunk store as a first-class Spark data source (Python Data "
    "Source API, new in Spark 4): spark.read.format('pslake') plans one "
    "input partition per chunk parquet file (the store's hash_prefix "
    "fan-out becomes Spark's partition planning — per-file parallel, zero "
    "shuffle) and sha256-verifies every chunk's address in the reader (the "
    "reference's open-validation walk, store/mod.rs:412-414). Oracle "
    "predicts chunk count (+1 sentinel), recorded plaintext bytes, and "
    "zero hash violations from the documents table — convergent "
    "encryption makes distinct ciphertexts equal distinct plaintexts, and "
    "both ciphers are length-metadata-preserving on the recorded size "
    "column. Docs at fixture scale stay below the tree-split threshold, "
    "the same guard every b38 oracle relies on.",
)
def b78_pslake_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _stable_store(spark, "q_store_addr", sf_dir)
    store.put_blobs(_doc_blobs(spark, sf_dir)).count()

    from ..sources import register_pslake

    register_pslake(spark)
    df = (
        spark.read.format("pslake")
        .option("path", store.path)
        .option("verify", "true")
        .load()
    )
    return df.agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum("size").cast("bigint").alias("plain_bytes"),
        F.sum(1 - F.col("hash_ok")).cast("bigint").alias("hash_violations"),
    )


@query(
    "b78_pslake_stream",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT sha256(text) AS h, octet_length(encode(text)) AS n
      FROM documents WHERE octet_length(encode(text)) > {MAX_SIZE_RAW}
    )
    SELECT CAST(count(*) + 1 AS BIGINT) AS n_chunks,
           CAST(sum(n) + {_SENTINEL_PLAIN_SIZE} AS BIGINT) AS plain_bytes
    FROM d
    """,
    tags=("B1", "B38", "lake", "streaming"),
    doc="Streaming read FROM the lake (the complement of b38_stream_ingest): "
    "Spark's NATIVE file stream source over the store's active chunks "
    "generation — no custom stream reader; the file source's own tracking "
    "log handles append discovery, exactly the Spark-first answer for an "
    "append-only parquet layout. availableNow drains the current "
    "generation into a complete-mode aggregate; the oracle predicts chunk "
    "count and recorded plaintext bytes from documents, as "
    "b78_pslake_source does for the batch path.",
)
def b78_pslake_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake.store import CHUNKS_SCHEMA
    from ..sources.pslake_source import _resolve_chunks_dir
    from .event_windows import _run_to_memory

    store = _stable_store(spark, "q_store_addr", sf_dir)
    store.put_blobs(_doc_blobs(spark, sf_dir)).count()

    chunks_dir = _resolve_chunks_dir(store.path, 0)
    stream = spark.readStream.schema(CHUNKS_SCHEMA).parquet(chunks_dir)
    agg = stream.groupBy().agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum("size").cast("bigint").alias("plain_bytes"),
    )
    return _run_to_memory(agg, "complete")


@query(
    "b78_pslake_sink",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT sha256(text) AS h, octet_length(encode(text)) AS n
      FROM documents WHERE octet_length(encode(text)) > {MAX_SIZE_RAW}
    )
    SELECT CAST(count(*) + 1 AS BIGINT) AS n_chunks,
           CAST(sum(n) + {_SENTINEL_PLAIN_SIZE} AS BIGINT) AS plain_bytes,
           CAST(0 AS BIGINT) AS hash_violations
    FROM d
    """,
    tags=("B2", "B38", "lake"),
    doc="The put waterfall as a NATIVE Spark sink (Python Data Source "
    "writer, new in Spark 4): df.write.format('pslake') routes tiers "
    "(A11), convergent-encrypts, probes existing buckets per task (A7), "
    "and publishes under the store's exclusive write lease (A20) with "
    "metadata-only renames — see sources/pslake_sink.py. Documents are "
    "written TWICE through the sink: content addressing must make the "
    "second job a complete no-op (A10 put idempotence, reference "
    "store/mod.rs:321-326). Read back through the pslake SOURCE with "
    "reader-side sha256 verification, so the oracle's predicted chunk "
    "count (+1 sentinel), plaintext bytes, and zero violations witness "
    "the whole write->dedup->verify loop from the documents table alone.",
)
def b78_pslake_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import register_pslake

    store = _stable_store(spark, "q_store_sink", sf_dir)
    register_pslake(spark)
    blobs = _doc_blobs(spark, sf_dir)
    for _ in range(2):  # second write must dedup to a no-op
        (
            blobs.write.format("pslake")
            .option("path", store.path)
            .mode("append")
            .save()
        )
    df = (
        spark.read.format("pslake")
        .option("path", store.path)
        .option("verify", "true")
        .load()
    )
    return df.agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum("size").cast("bigint").alias("plain_bytes"),
        F.sum(1 - F.col("hash_ok")).cast("bigint").alias("hash_violations"),
    )


@query(
    "b78_pslake_lookup",
    oracle=f"""
    SELECT CAST(1 AS BIGINT) AS n_rows,
           CAST(octet_length(encode(text)) AS BIGINT) AS plain_size,
           CAST(1 AS BIGINT) AS verified
    FROM documents
    WHERE doc_id = (SELECT min(doc_id) FROM documents
                    WHERE octet_length(encode(text)) > {MAX_SIZE_RAW})
    """,
    tags=("B38", "lake"),
    doc="A7 point lookup AT THE SOURCE-PLANNING LAYER (Spark 4.1 "
    "pushFilters): a WHERE hash = <addr> read of the pslake source prunes "
    "partition planning to the one hash_prefix bucket directory — the "
    "reference's open-addressing index probe (store/mod.rs A6/A7) expressed "
    "as partition pruning instead of a catalog call (partition-count "
    "pinned in tests/test_pslake_source.py). The target address comes from "
    "the put's returned hkey for the smallest stored document (a bounded "
    "1-row scalar), and the oracle predicts the looked-up chunk's recorded "
    "plaintext size from the documents table — the size survives the "
    "encrypt/store/lookup round-trip byte-exactly.",
)
def b78_pslake_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake.hkey import Hkey
    from ..sources import register_pslake

    store = _stable_store(spark, "q_store_addr", sf_dir)
    hkeys = store.put_blobs(_doc_blobs(spark, sf_dir))
    register_pslake(spark)
    target_id = (
        T(spark, sf_dir, "documents")
        .where(F.length(F.col("text").cast("binary")) > MAX_SIZE_RAW)
        .agg(F.min("doc_id").alias("m"))
        .head()["m"]
    )
    hk = Hkey.decode(hkeys.where(F.col("id") == target_id).head()["hkey"])
    df = (
        spark.read.format("pslake")
        .option("path", store.path)
        .option("verify", "true")
        .load()
        .where(F.col("hash") == hk.hash)  # planned as ONE bucket directory
    )
    return df.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("size").cast("bigint").alias("plain_size"),
        F.sum("hash_ok").cast("bigint").alias("verified"),
    )


@query(
    "b78_pslake_sql",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT sha256(text) AS h, octet_length(encode(text)) AS n
      FROM documents WHERE octet_length(encode(text)) > {MAX_SIZE_RAW}
    ),
    t AS (
      SELECT octet_length(encode(text)) AS n FROM documents
      WHERE doc_id = (SELECT min(doc_id) FROM documents
                      WHERE octet_length(encode(text)) > {MAX_SIZE_RAW})
    )
    SELECT CAST(count(*) + 1 AS BIGINT) AS n_chunks,
           CAST(sum(n) + {_SENTINEL_PLAIN_SIZE} AS BIGINT) AS plain_bytes,
           CAST(0 AS BIGINT) AS hash_violations,
           CAST(1 AS BIGINT) AS lookup_hits,
           CAST((SELECT n FROM t) AS BIGINT) AS lookup_size
    FROM d
    """,
    tags=("B38", "B40", "lake", "sql"),
    doc="The chunk store driven through PURE SQL (r8 verdict #8, the "
    "catalog-completion stretch): register_store_sql names the store as "
    "catalog-resolvable views, then one spark.sql statement computes the "
    "full-store aggregate (over the default pushdown-safe view) and a "
    "WHERE hash = <literal> point lookup over a dedicated pushdown=true "
    "view, whose filter reaches the source's pushFilters through SQL and "
    "prunes planning to one bucket directory.  Two views because Spark "
    "4.1 caches post-pushdown read info per relation (a filtered and an "
    "unfiltered scan of ONE long-lived relation would cross-contaminate; "
    "measured, pinned in test_pslake_source.py).  Also measured: CREATE "
    "TABLE ... USING pslake parses and CREATEs, but Spark forwards "
    "neither OPTIONS nor LOCATION to a Python source's scan, and direct "
    "FROM pslake.`path` is UNSUPPORTED_DATASOURCE_FOR_DIRECT_QUERY — the "
    "named view is the complete SQL surface currently expressible "
    "(register_store_sql docstring; pinned by test_catalog.py).",
)
def b78_pslake_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..lake.hkey import Hkey
    from ..sources import register_store_sql

    store = _stable_store(spark, "q_store_addr", sf_dir)
    hkeys = store.put_blobs(_doc_blobs(spark, sf_dir))
    target_id = (
        T(spark, sf_dir, "documents")
        .where(F.length(F.col("text").cast("binary")) > MAX_SIZE_RAW)
        .agg(F.min("doc_id").alias("m"))
        .head()["m"]
    )
    hk = Hkey.decode(hkeys.where(F.col("id") == target_id).head()["hkey"])
    register_store_sql(spark, "pslake_sql_store", store.path, verify="true")
    register_store_sql(
        spark, "pslake_sql_lookup", store.path, verify="true", pushdown="true"
    )
    return spark.sql(
        f"""
        WITH agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_chunks,
                 CAST(sum(size) AS BIGINT) AS plain_bytes,
                 CAST(sum(1 - hash_ok) AS BIGINT) AS hash_violations
          FROM pslake_sql_store
        ),
        lk AS (
          SELECT CAST(count(*) AS BIGINT) AS lookup_hits,
                 CAST(sum(size) AS BIGINT) AS lookup_size
          FROM pslake_sql_lookup WHERE hash = '{hk.hash}'
        )
        SELECT n_chunks, plain_bytes, hash_violations, lookup_hits,
               lookup_size
        FROM agg CROSS JOIN lk
        """
    )


@query(
    "b78_pslake_stream_sink",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT sha256(text) AS h, octet_length(encode(text)) AS n
      FROM documents WHERE octet_length(encode(text)) > {MAX_SIZE_RAW}
    )
    SELECT CAST(count(*) + 1 AS BIGINT) AS n_chunks,
           CAST(sum(n) + {_SENTINEL_PLAIN_SIZE} AS BIGINT) AS plain_bytes,
           CAST(0 AS BIGINT) AS hash_violations
    FROM d
    """,
    tags=("B2", "B30", "B38", "lake", "streaming"),
    doc="Streaming write INTO the lake through the native sink "
    "(df.writeStream.format('pslake'), Spark 4 DataSourceStreamWriter): "
    "documents stream in via availableNow microbatches, each microbatch "
    "runs the put waterfall and publishes under the write lease, and the "
    "sink's exactly-once story is the store's own content addressing — a "
    "replayed batch dedups to a no-op with no sink-side commit log "
    "(pytest-pinned by a full fresh-checkpoint replay in "
    "test_pslake_source.py). A FRESH checkpoint every invocation makes "
    "this query itself a replay test: repeated driver/bench runs re-put "
    "the whole corpus and must converge to the same chunk count, read "
    "back through the verifying pslake source.",
)
def b78_pslake_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import uuid

    from ..sources import register_pslake

    store = _stable_store(spark, "q_store_stream_sink", sf_dir)
    register_pslake(spark)
    # the file stream source needs a DIRECTORY — stage the single-file
    # fixture behind a symlink dir, the established events-stream pattern
    import hashlib

    token = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    stage = scratch_dir(f"docs_stream_{token}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "documents.parquet")
    if not os.path.exists(link):
        try:
            os.symlink(os.path.join(sf_dir, "documents.parquet"), link)
        except OSError:
            shutil.copy2(os.path.join(sf_dir, "documents.parquet"), link)
    schema = T(spark, sf_dir, "documents").schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .select(F.col("doc_id").alias("id"), F.col("text").cast("binary").alias("data"))
    )
    ckpt = scratch_dir(f"ckpt_stream_sink_{uuid.uuid4().hex[:10]}")
    q = (
        stream.writeStream.format("pslake")
        .option("path", store.path)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    # availableNow terminates on its own; a hung query must FAIL loudly —
    # proceeding on timeout would rmtree the checkpoint under a live query
    # and verify a partially-written store (advisor r8 item).
    if not q.awaitTermination(300):
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        raise TimeoutError(
            "b78_pslake_stream_sink: stream did not converge within 300 s"
        )
    shutil.rmtree(ckpt, ignore_errors=True)
    df = (
        spark.read.format("pslake")
        .option("path", store.path)
        .option("verify", "true")
        .load()
    )
    return df.agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum("size").cast("bigint").alias("plain_bytes"),
        F.sum(1 - F.col("hash_ok")).cast("bigint").alias("hash_violations"),
    )
