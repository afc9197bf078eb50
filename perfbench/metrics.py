"""End-to-end metrics of an untraced run, per-layer metrics of a traced one.

Every workload reports every metric. A per-layer metric of a layer the
workload does not call reads 0 (no calls, no time).
"""

from __future__ import annotations

import time

from . import data
from .stats import percentile
from .workloads import HEADLINE


def end_to_end(run) -> dict:
    """The gated metrics, in CPU time of the benchmark's process tree,
    which CPU steal on a shared host stretches far less than wall time (see
    ``proc``). ``setup_s`` is set-up's: the session start, inputs, stores
    and warm-up. ``op_cpu_ms`` is the mean CPU time of a foreground
    operation (a ``Lake.get``, a query): single operations' CPU times
    spread widely, and the mean moved less between runs than the median.
    Wall times are ``wall``'s."""
    return {
        "setup_s": {"value": run.setup_cpu_s, "unit": "s"},
        "op_cpu_ms": {"value": op_cpu_s(run) * 1e3, "unit": "ms"},
        "work_cpu_s": {"value": run.work_cpu_s, "unit": "s"},
    }


def op_cpu_s(run) -> float:
    return sum(run.fg_cpu_s) / len(run.fg_cpu_s)


def wall(run) -> dict[str, tuple[float, str]]:
    """Wall times of set-up and the timed list, printed beside the gated
    metrics."""
    return {
        "setup_wall_s": (run.setup_s, "s"),
        "op_p50_ms": (percentile(run.fg_s, 50) * 1e3, "ms"),
        "work_s": (run.work_s, "s"),
    }


def _crypto_mb_s(seed: int) -> tuple[float, float]:
    """Driver-side encrypt_as/decrypt_as throughput on the lake workloads'
    single-chunk blobs."""
    from ps_datalake_spark.lake import crypto

    blobs = [
        b for batch in data.blob_batches(seed, 3) for b in batch if data.RAW_MAX < len(b) <= data.MAX_SINGLE
    ]
    cipher = crypto.cipher_name()
    keys = [crypto.convergent_key(b) for b in blobs]
    t0 = time.perf_counter()
    cts = [crypto.encrypt_as(cipher, b, k) for b, k in zip(blobs, keys)]
    t1 = time.perf_counter()
    for c, k in zip(cts, keys):
        crypto.decrypt_as(cipher, c, k)
    t2 = time.perf_counter()
    mb = sum(map(len, blobs)) / (1 << 20)
    return mb / (t1 - t0), mb / (t2 - t1)


def per_layer(tracer, run, seed: int, rss_mb: float) -> dict:
    spans = tracer.inclusive()
    by: dict[str, list[dict]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    def med(name, key="s"):
        xs = [s[key] for s in by.get(name, [])]
        return percentile(xs, 50) if xs else 0.0

    def mean(name, key):
        xs = [s[key] for s in by.get(name, [])]
        return sum(xs) / len(xs) if xs else 0.0

    def total(name, key):
        return sum(s["attrs"].get(key, 0) for s in by.get(name, []))

    def calls(name):
        return len(by.get(name, []))

    m: dict[str, tuple[float, str]] = {}
    put = "lake.store.put_blobs"
    user_bytes = sum(p["user_bytes"] for p in run.put_stats)
    candidates = sum(p["candidates"] for p in run.put_stats)
    m.update(
        {
            f"{put}.calls": (calls(put), "count"),
            f"{put}.s": (med(put), "s"),
            f"{put}.self_s": (med(put, "self_s"), "s"),
            f"{put}.jobs": (mean(put, "jobs"), "count"),
            f"{put}.stages": (mean(put, "stages"), "count"),
            f"{put}.tasks": (mean(put, "tasks"), "count"),
            f"{put}.files_written": (total(put, "files_written") / max(1, calls(put)), "count"),
            f"{put}.bytes_written_per_user_byte": (
                total(put, "bytes_written") / user_bytes if user_bytes else 0.0,
                "ratio",
            ),
            f"{put}.new_chunk_ratio": (
                total(put, "new_chunks") / candidates if candidates else 0.0,
                "ratio",
            ),
        }
    )
    get = "lake.store.get"
    m.update(
        {
            f"{get}.calls": (calls(get), "count"),
            f"{get}.s": (med(get), "s"),
            f"{get}.self_s": (med(get, "self_s"), "s"),
            f"{get}.jobs": (mean(get, "jobs"), "count"),
            "lake.store.files": (total(get, "files") / max(1, calls(get)), "count"),
        }
    )
    lget = "lake.lake.get"
    n_lget = calls(lget)
    store_gets_under = sum(1 for s in by.get(get, []) if s["parent"] is not None and spans[s["parent"]]["name"] == lget)
    m.update(
        {
            f"{lget}.calls": (n_lget, "count"),
            f"{lget}.s": (med(lget), "s"),
            f"{lget}.self_s": (med(lget, "self_s"), "s"),
            f"{lget}.store_gets_per_get": (store_gets_under / n_lget if n_lget else 0.0, "ratio"),
            f"{lget}.miss_ratio": (total(lget, "miss") / n_lget if n_lget else 0.0, "ratio"),
            "lake.lake.put_blobs.calls": (calls("lake.lake.put_blobs"), "count"),
            "lake.lake.put_blobs.s": (med("lake.lake.put_blobs"), "s"),
        }
    )
    gb = "lake.store.get_blobs"
    m.update(
        {
            f"{gb}.s": (med(gb), "s"),
            f"{gb}.jobs": (mean(gb, "jobs"), "count"),
            f"{gb}.tasks": (mean(gb, "tasks"), "count"),
        }
    )
    c = "lake.store.compact"
    m.update(
        {
            f"{c}.s": (med(c), "s"),
            f"{c}.jobs": (mean(c, "jobs"), "count"),
            f"{c}.files_before": (total(c, "files_before") / max(1, calls(c)), "count"),
            f"{c}.files_after": (total(c, "files_after") / max(1, calls(c)), "count"),
            f"{c}.bytes_rewritten": (total(c, "bytes_rewritten") / max(1, calls(c)), "bytes"),
        }
    )
    v = "lake.store.vacuum"
    m.update(
        {
            f"{v}.s": (med(v), "s"),
            f"{v}.jobs": (mean(v, "jobs"), "count"),
            f"{v}.chunks_removed": (total(v, "chunks_removed"), "count"),
        }
    )
    dec = "lake.crypto.decrypt_as"
    lake_workload = bool(run.put_stats)
    enc_mb_s, dec_mb_s = _crypto_mb_s(seed) if lake_workload else (0.0, 0.0)
    m.update(
        {
            "lake.crypto.encrypt_mb_s": (enc_mb_s, "MB/s"),
            "lake.crypto.decrypt_mb_s": (dec_mb_s, "MB/s"),
            f"{dec}.calls": (calls(dec), "count"),
            f"{dec}.s": (med(dec, "self_s"), "s"),
        }
    )
    ops = [s for s in spans if s["parent"] is None and s["name"].startswith("op.")]
    m.update(
        {
            "session.jobs": (sum(s["jobs"] for s in ops), "count"),
            "session.stages": (sum(s["stages"] for s in ops), "count"),
            "session.tasks": (sum(s["tasks"] for s in ops), "count"),
            "session.peak_rss_mb": (rss_mb, "MB"),
        }
    )
    for q in HEADLINE:
        m[f"queries.{q}.s"] = (med(f"queries.{q}"), "s")
        m[f"queries.{q}.jobs"] = (mean(f"queries.{q}", "jobs"), "count")
    m.update(
        {
            "trace.overhead_s": (tracer.overhead_s, "s"),
            "trace.overhead_share": (tracer.overhead_s / run.work_s if run.work_s else 0.0, "ratio"),
            "trace.op_cpu_ms": (op_cpu_s(run) * 1e3, "ms"),
            "trace.work_cpu_s": (run.work_cpu_s, "s"),
            "trace.op_p50_ms": (percentile(run.fg_s, 50) * 1e3, "ms"),
            "trace.work_s": (run.work_s, "s"),
        }
    )
    return {k: {"value": float(val), "unit": unit} for k, (val, unit) in m.items()}
