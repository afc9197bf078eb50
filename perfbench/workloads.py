"""The workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned.

Every workload splits into set-up (session, inputs, stores, warm-up), a
fixed list of timed operations sized from ``--seconds``, and checks that run
after the timed part. Each operation's output is checked; an operation that
raises unexpectedly or returns a wrong result counts as failed.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np

from . import data
from .proc import tree_cpu_s
from .stats import geomean, percentile

# Nominal seconds of timed work, measured at the parent of this benchmark on
# a 4-core host. They size each workload's list of timed operations so that
# it takes about ``--seconds``; the list is then fixed, so both sides of a
# comparison do the same work.
_GETS_PER_CYCLE = 30
_CYCLE_S = 6.5  # one lake cycle: _GETS_PER_CYCLE gets and one put
_LAKE_TAIL_S = 6.0  # the get_blobs round trip and the vacuum
_QUERY_PASS_S = 15.0  # the 15 queries, each its first run
_BASE_BATCHES = 3
# One hex digit of hash prefix, as the repo's b38 store uses: 16 partition
# directories. With the default two digits a store passes 32 directories
# after a few puts, and from then on Spark lists it with a job of its own;
# a store crossing that line mid-run makes get latency bimodal, and the
# slower gets would leave too few samples per run for a steady median.
_PREFIX_LEN = 1

# bench.py's HEADLINE without the lake row b38_put_dedup, copied rather than
# imported so that an edit to bench.py cannot change this benchmark.
HEADLINE = [
    "b10_tpch_q1",
    "b04_tpch_q6",
    "b05_tpch_q5",
    "b05_join_inner_4way",
    "b16_window_frames",
    "b08_range_join",
    "b13_rollup",
    "b18_topk",
    "b30_tumbling_window",
    "b31_session_window",
    "b34_exact_dedup",
    "b35_minhash_lsh",
    "b36_cosine_topk",
    "b37_token_stats",
    "b42_llm_pipeline",
]
ANALYTICS_SCALE = 0.05  # x the sf0.1 row counts: lineitem 30,000 rows
# The stored content and the analytics tables are the same for every seed,
# as the fixtures are; the seed sets the order of the operations, the
# unknown keys and the roots a vacuum keeps. Per-seed content moved the
# median get by a quarter between seeds: whether the most popular keys sit
# in the first or a later file of their partition decides whether a get
# runs one Spark job or two.
DATA_SEED = 42


def sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()


class Run:
    """What one run records: outcomes, the wall and CPU time of set-up, of
    the timed list and of each foreground operation, and the named figures
    printed for reading."""

    def __init__(self, tracer, setup_start: tuple[float, float] | None = None):
        self.tracer = tracer
        # wall and tree CPU time when set-up began, before the session start
        self.setup_start = setup_start or (time.perf_counter(), tree_cpu_s())
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.fg_s: list[float] = []  # foreground operation latencies
        self.fg_cpu_s: list[float] = []  # and their CPU times
        self.work_s = 0.0
        self.work_cpu_s = 0.0
        self.setup_s = 0.0
        self.setup_cpu_s = 0.0
        self.named: dict[str, tuple[float, str]] = {}
        self.put_stats: list[dict] = []  # user bytes and chunk candidates per put
        self.n_ops = 0

    def end_setup(self) -> None:
        """Set-up is over: record its wall and CPU time, and start the timed
        list's from zero (set-up may run timed operations)."""
        t0, c0 = self.setup_start
        self.setup_s = time.perf_counter() - t0
        self.setup_cpu_s = tree_cpu_s() - c0
        self.work_s = self.work_cpu_s = 0.0

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok

    def timed(self, name: str, fn, *args, fg: bool = False):
        """Run one timed operation; returns (result, exception, seconds).
        Its wall and CPU time add to the timed list's; a foreground
        operation's are also kept one by one."""
        self.tracer.op_id = self.n_ops
        self.n_ops += 1
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                out, err = fn(*args), None
        except Exception as e:  # checked by the caller, counted as failed
            out, err = None, e
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        self.work_s += dt
        self.work_cpu_s += cpu
        if fg:
            self.fg_s.append(dt)
            self.fg_cpu_s.append(cpu)
        return out, err, dt


def _chunk_candidates(blobs: list[bytes]) -> int:
    n = 0
    for b in blobs:
        if data.RAW_MAX < len(b) <= data.MAX_SINGLE:
            n += 1
        elif len(b) > data.MAX_SINGLE:
            n += -(-len(b) // data.TREE_CHUNK)
    return n


def _put(run: Run, lake_or_store, spark, blobs: list[bytes], name: str, hkeys: dict):
    """Timed put of ``blobs``; checks one hkey per blob and that content put
    before keeps its hkey (convergent addressing)."""
    df = spark.createDataFrame([(i, bytearray(b)) for i, b in enumerate(blobs)], "id long, data binary")
    out, err, dt = run.timed(name, lambda: lake_or_store.put_blobs(df).collect())
    ok = err is None and len(out) == len(blobs)
    if ok:
        for r in out:
            h = sha(blobs[r["id"]])
            ok &= hkeys.setdefault(h, r["hkey"]) == r["hkey"]
    run.check(ok, f"{name}: {err!r}" if err else f"{name}: wrong hkeys")
    run.put_stats.append({"user_bytes": sum(map(len, blobs)), "candidates": _chunk_candidates(blobs)})
    return dt


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


# -- lake -------------------------------------------------------------------

# Popularity ranks cycle through key classes in this order: A hits, B-only
# keys (a miss in A first) and raw keys (inline, no store read). Tree keys,
# which cost several times a single-chunk get, sit from _TREE_RANK on, so a
# run reads a tree about once. The keys inside each class are shuffled
# once. The pattern keeps the mix of classes among the popular keys fixed,
# and with it the get latency distribution.
_RANK_PATTERN = ("A", "B", "A", "R", "A", "B")
_TREE_RANK = 20


def _kind(blob: bytes) -> str:
    if len(blob) <= data.RAW_MAX:
        return "raw"
    return "single" if len(blob) <= data.MAX_SINGLE else "tree"


def _popularity_order(rng, classes: dict[str, list[str]]) -> list[str]:
    queues = {c: rng.permutation(v).tolist() for c, v in classes.items() if c != "T"}
    order: list[str] = []
    i = 0
    while any(queues.values()):
        q = queues[_RANK_PATTERN[i % len(_RANK_PATTERN)]]
        i += 1
        if q:
            order.append(q.pop())
    return order[:_TREE_RANK] + rng.permutation(classes["T"]).tolist() + order[_TREE_RANK:]


def _unknown_hkey(rng) -> str:
    """A well-formed enc hkey of content no store holds."""
    return f"enc:{rng.bytes(32).hex()}:{rng.bytes(32).hex()}:{int(rng.integers(129, 4096))}"


def lake(spark, run_dir: str, seed: int, seconds: float, run: Run) -> None:
    """Two stores opened via Lake.open: A (priority) and B. Set-up puts the
    base content into B in one put (the warm-up), compacts B once, puts
    half of each size tier into A, and warms the read path with untimed
    gets of every kind. Timed, in cycles: Lake.get of
    Zipf-popular hkeys of every kind plus ~5% unknown hkeys, and one
    Lake.put_blobs per cycle, alternating a fresh batch with ~30% repeated
    content and a verbatim re-put of a batch put before; the get after a
    fresh put reads a blob it just wrote. Then one get_blobs round trip over
    every hkey in A and a vacuum of A keeping a seeded 90% of its roots. The
    content, the A/B split and the popularity ranks are the same for every
    seed (DATA_SEED)."""
    from ps_datalake_spark.config import LakeConfig, StoreEntry
    from ps_datalake_spark.errors import NotFound
    from ps_datalake_spark.lake.lake import Lake

    fixed, rng = np.random.default_rng(DATA_SEED), np.random.default_rng(seed)
    n_cycles = max(2, round((seconds - _LAKE_TAIL_S) / _CYCLE_S))
    n_fresh = (n_cycles + 1) // 2  # every second cycle re-puts
    batches = data.blob_batches(DATA_SEED, _BASE_BATCHES + n_fresh)
    base = {sha(b): b for batch in batches[:_BASE_BATCHES] for b in batch}
    shas = sorted(base)
    kind = {h: _kind(base[h]) for h in shas}
    in_a: set[str] = set()
    for k in ("raw", "single", "tree"):  # a seeded half of each tier
        members = fixed.permutation([h for h in shas if kind[h] == k]).tolist()
        in_a.update(members[: len(members) // 2])
    cfg = LakeConfig(stores=(StoreEntry(os.path.join(run_dir, "a")), StoreEntry(os.path.join(run_dir, "b"))))
    lk = Lake.open(spark, cfg, prefix_len=_PREFIX_LEN)
    store_a, store_b = lk.writable
    hkeys: dict[str, str] = {}  # sha256(plaintext) -> hkey
    _put(run, store_b, spark, [base[h] for h in shas], "setup.put_b", hkeys)  # the warm-up
    _out, err, compact_s = run.timed("setup.compact_b", store_b.compact)
    run.check(err is None, f"compact B: {err!r}")
    _put(run, store_a, spark, [base[h] for h in shas if h in in_a], "setup.put_a", hkeys)

    classes = {
        "A": [h for h in shas if kind[h] == "single" and h in in_a],
        "B": [h for h in shas if kind[h] == "single" and h not in in_a],
        "R": [h for h in shas if kind[h] == "raw"],
        "T": [h for h in shas if kind[h] == "tree"],
    }
    expect = {hkeys[h]: h for h in shas}

    def check_get(key: str, out, err) -> None:
        if key in expect:
            run.check(err is None and sha(out) == expect[key], f"get {key[:24]}: {err!r}")
        else:
            run.check(isinstance(err, NotFound), f"unknown hkey {key[:24]} gave {err!r}")

    # warm-up of the read path, which the puts above do not run: untimed
    # gets of every kind, so that the JVM compiles it before the timed gets
    warm = [hkeys[classes[c][int(rng.integers(len(classes[c])))]] for c in _RANK_PATTERN * 3 + ("T",)]
    for key in warm + [_unknown_hkey(rng)]:
        try:
            out, err = lk.get(key), None
        except Exception as e:  # checked below, counted as failed
            out, err = None, e
        check_get(key, out, err)
    run.end_setup()

    keys = [hkeys[h] for h in _popularity_order(fixed, classes)]
    in_a_blobs = {h: base[h] for h in in_a}
    n_gets = n_cycles * _GETS_PER_CYCLE
    n_unknown = max(1, round(0.05 * n_gets))
    plan = [keys[int(r)] for r in data.zipf_ranks(rng, len(keys), n_gets - n_unknown)]
    plan += [_unknown_hkey(rng) for _ in range(n_unknown)]
    plan = [plan[int(i)] for i in rng.permutation(len(plan))]
    put_s, reput_s, put_bytes = [], [], 0

    def get(key: str) -> None:
        out, err, _dt = run.timed("op.get", lk.get, key, fg=True)
        check_get(key, out, err)

    fresh = iter(batches[_BASE_BATCHES:])
    put_before: list[list[bytes]] = []  # batches Lake.put_blobs wrote to A
    half = _GETS_PER_CYCLE // 2
    for cycle in range(n_cycles):
        gets = plan[cycle * _GETS_PER_CYCLE : (cycle + 1) * _GETS_PER_CYCLE]
        for key in gets[:half]:
            get(key)
        if cycle % 2 == 1:  # a batch put before, verbatim
            blobs = put_before[int(rng.integers(0, len(put_before)))]
            reput_s.append(_put(run, lk, spark, blobs, "op.reput", hkeys))
        else:
            blobs = next(fresh)
            before = set(hkeys)
            put_s.append(_put(run, lk, spark, blobs, "op.put", hkeys))
            put_bytes += sum(map(len, blobs))
            put_before.append(blobs)
            in_a_blobs.update({sha(b): b for b in blobs})
            new = sorted(h for h in hkeys if h not in before and not hkeys[h].startswith("raw:"))
            expect.update({hkeys[h]: h for h in new})
            get(hkeys[new[0]])  # read back a blob the put just wrote
        for key in gets[half:]:
            get(key)

    # get_blobs round trip over every hkey in A
    items = sorted((h, hkeys[h]) for h in in_a_blobs)
    kdf = spark.createDataFrame([(i, k) for i, (_h, k) in enumerate(items)], "id long, hkey string")

    def get_blobs():
        with run.tracer.span("lake.store.get_blobs"):
            return store_a.get_blobs(kdf).collect()

    rows, err, get_blobs_s = run.timed("op.get_blobs", get_blobs)
    ok = err is None and len(rows) == len(items) and all(
        r["data"] is not None and sha(bytes(r["data"])) == items[r["id"]][0] for r in rows
    )
    run.check(ok, f"get_blobs: {err!r}" if err else "get_blobs: wrong bytes")

    keep_mask = rng.random(len(items)) < 0.9
    kept = [items[i] for i in range(len(items)) if keep_mask[i]]
    dropped = [items[i] for i in range(len(items)) if not keep_mask[i]]
    roots = spark.createDataFrame([(k,) for _h, k in kept], "hkey string")
    removed, err, vacuum_s = run.timed("op.vacuum", store_a.vacuum, roots)
    run.check(err is None, f"vacuum: {err!r}")

    # -- checks, untimed
    tracer_on, run.tracer.enabled = run.tracer.enabled, False
    try:
        want = data.expected_chunk_count([in_a_blobs[h] for h, _k in kept])
        got = store_a.chunks().count()
        run.check(got == want, f"chunk count of A after vacuum {got} != expected {want}")
        # before the vacuum A held expected_chunk_count(all of A's blobs)
        # rows; the vacuum must have removed exactly the dropped roots' ones
        want_removed = data.expected_chunk_count(list(in_a_blobs.values())) - want
        run.check(removed == want_removed, f"vacuum removed {removed}, expected {want_removed}")
        stored = [(h, k) for h, k in kept if not k.startswith("raw:")]
        trees = [(h, k) for h, k in stored if k.startswith("tree:")]
        for h, k in stored[:1] + trees[:1]:
            run.check(sha(store_a.get(k)) == h, f"kept root {k[:24]} reads wrong bytes")
        for _h, k in [(h, k) for h, k in dropped if not k.startswith("raw:")][:1]:
            try:
                store_a.get(k)
                run.check(False, f"dropped root {k[:24]} still reads")
            except NotFound:
                run.check(True, "")
        user = sum(len(b) for b in base.values()) + put_bytes
        disk = _dir_bytes(store_a.path) + _dir_bytes(store_b.path)
    finally:
        run.tracer.enabled = tracer_on
    get_s = run.fg_s
    beyond = sum(1 for x in get_s if x > percentile(get_s, 90))
    run.named.update(
        get_p50_ms=(percentile(get_s, 50) * 1e3, "ms"),
        get_p90_ms=(percentile(get_s, 90) * 1e3, f"ms,{beyond}_beyond,n={len(get_s)}"),
        put_p50_s=(percentile(put_s, 50), "s"),
        put_mb_s=(put_bytes / (1 << 20) / sum(put_s), "MB/s"),
        reput_p50_s=(percentile(reput_s, 50), "s"),
        batch_get_mb_s=(sum(len(in_a_blobs[h]) for h, _k in items) / (1 << 20) / get_blobs_s, "MB/s"),
        compact_s=(compact_s, "s"),
        vacuum_s=(vacuum_s, "s"),
        disk_bytes_per_user_byte=(disk / user, "ratio"),
    )


# -- analytics ----------------------------------------------------------------


def _warm_up(spark, sf_dir: str) -> None:
    """Warm the JVM and start the Python workers without running a timed
    query: scan every table, run a join with an aggregate, a window, and one
    mapInPandas pass on every core. A warm-up pass of the 15 queries
    themselves cost about 22 s a run, which the run budget cannot carry."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ps_datalake_spark.io import TABLES, load_table

    for name in TABLES:
        load_table(spark, sf_dir, name).count()
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy("o_orderstatus").agg(
        F.sum("l_extendedprice"), F.countDistinct("l_partkey")
    ).collect()
    w = Window.partitionBy("l_returnflag").orderBy("l_shipdate")
    li.select(F.sum("l_quantity").over(w).alias("q")).agg(F.max("q")).collect()
    docs = load_table(spark, sf_dir, "documents").repartition(spark.sparkContext.defaultParallelism)
    docs.mapInPandas(lambda it: (pdf[["doc_id"]] for pdf in it), "doc_id long").count()


def analytics(spark, run_dir: str, seed: int, seconds: float, run: Run) -> None:
    """The bench.py HEADLINE queries except b38_put_dedup, in a seeded order,
    on generated tables. Each timed query is its first run in the session,
    builder plus collect, after a warm-up that runs none of them; results
    are compared with the registry's DuckDB oracle after the timed part."""
    import oracle_harness as OH

    from ps_datalake_spark.registry import all_queries

    specs = all_queries()
    sf_dir = os.path.join(run_dir, "tables")
    data.write_tables(sf_dir, DATA_SEED, ANALYTICS_SCALE)
    _warm_up(spark, sf_dir)
    run.end_setup()

    rng = np.random.default_rng(seed)
    n_pass = max(1, round(seconds / _QUERY_PASS_S))
    results: dict[str, tuple] = {}
    per_query: dict[str, list[float]] = {n: [] for n in HEADLINE}
    for _p in range(n_pass):
        for name in rng.permutation(HEADLINE).tolist():

            def q(name=name):
                with run.tracer.span(f"queries.{name}"):
                    df = specs[name].build(spark, sf_dir)
                    return [tuple(r) for r in df.collect()], df.columns

            out, err, dt = run.timed("op.query", q, fg=True)
            spark.catalog.clearCache()
            per_query[name].append(dt)
            if run.check(err is None, f"{name}: {err!r}"):
                results[name] = out

    tracer_on, run.tracer.enabled = run.tracer.enabled, False
    try:
        con = OH.duck_connection(sf_dir)
        try:
            for name, (rows, cols) in results.items():
                o_rows, o_cols = OH.run_oracle(specs[name], con)
                same = OH.canon_rows(rows, cols) == OH.canon_rows(o_rows, o_cols)
                run.check(same, f"{name}: differs from its DuckDB oracle")
        finally:
            con.close()
    finally:
        run.tracer.enabled = tracer_on
    run.named["query_geomean_s"] = (
        geomean([percentile(v, 50) for v in per_query.values() if v]),
        "s",
    )


WORKLOADS = {"lake": lake, "analytics": analytics}
