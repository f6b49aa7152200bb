"""Metric arithmetic for the layered benchmark: pure functions over the raw
observations the JVM driver writes (operation records, listener totals,
ladder counters, spans). run.py prints what these return."""

import math
import statistics

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dur(o):
    """Seconds of an operation (or set-up) with the CPU time the hypervisor
    stole removed: wall time times busy / (busy + steal), from the
    machine's /proc/stat jiffies over the same interval. On a shared host
    the stolen share swings by tens of percent within minutes; the work
    the program got to do in that time is what a change can move."""
    wall = o["t1"] - o["t0"] if "t1" in o else o["s"]
    busy, steal = o.get("busy", 0), o.get("steal", 0)
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


def steal_share(ops):
    busy = sum(o.get("busy", 0) for o in ops)
    steal = sum(o.get("steal", 0) for o in ops)
    return steal / (busy + steal) if busy + steal else 0.0


def nearest_rank(sorted_xs, p):
    """Nearest-rank percentile p (0-100] of an ascending list."""
    k = max(1, math.ceil(p / 100.0 * len(sorted_xs)))
    return sorted_xs[k - 1]


def tail(xs, need=10):
    """The highest of TAIL_PERCENTILES with at least `need` samples strictly
    beyond it. Returns (value, percentile, samples_beyond); with too few
    samples for any of them, the median and its (short) count."""
    s = sorted(xs)
    if not s:
        return 0.0, 50.0, 0
    for p in TAIL_PERCENTILES:
        v = nearest_rank(s, p)
        beyond = sum(1 for x in s if x > v)
        if beyond >= need:
            return v, p, beyond
    v = nearest_rank(s, 50.0)
    return v, 50.0, sum(1 for x in s if x > v)


def union_length(intervals, lo, hi):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time per span id: its duration minus the part of it that its
    children cover (overlapping children counted once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def self_time_by_layer(spans):
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def seconds(ops, cls):
    return [dur(o) for o in ops if o["cls"] == cls]


def typical(ops, classes):
    """Typical time of one pass spent in `classes`: for each (class, note)
    key, its occurrences per pass times its median latency, summed. Passes
    are those holding any op of `classes`. Medians per key keep one slow
    operation from moving the figure, and keys keep different operators of
    one class (the corpus list) apart."""
    passes = {o["pass"] for o in ops if o["cls"] in classes}
    by_key = {}
    for o in ops:
        if o["cls"] in classes:
            by_key.setdefault((o["cls"], o.get("note", "")), []).append(dur(o))
    return sum(len(v) / len(passes) * median(v) for v in by_key.values()) if passes else 0.0


def headline(ops, classes, light, heavy):
    """The end-to-end figures shared by every workload: the median latency
    of the light class, the typical per-pass time of the heavy class, and
    the typical time of a whole pass."""
    return {"light_s": median(seconds(ops, light)),
            "heavy_s": typical(ops, {heavy}),
            "pass_s": typical(ops, set(classes))}


def detail(workload, ops):
    """The workload's named figures (units in the key's suffix)."""
    d = {}
    if workload == "array":
        small = seconds(ops, "cutout_small")
        v, p, n = tail(small)
        d["cutout_small_p50_s"] = median(small)
        d["cutout_small_tail_s"] = v
        d["cutout_small_tail_pct"] = p
        d["cutout_small_tail_beyond"] = n
        d["cutout_large_mbps"] = _rate(ops, "cutout_large", "bytes")
        d["ingest_p50_s"] = median(seconds(ops, "ingest"))
        d["ingest_mbps"] = _rate(ops, "ingest", "bytes")
        d["scan_mvox_s"] = _rate(ops, "scan", "voxels")
        d["rechunk_mbps"] = _rate(ops, "rechunk", "bytes")
        d["mip_mvox_s"] = _rate(ops, "mip", "voxels")
    elif workload == "corpus_stream":
        d["corpus_cold_s"] = typical(ops, {"cold"})
        d["corpus_warm_s"] = typical(ops, {"warm"})
        d["stream_drives_s"] = typical(ops, {"drive"})
        d["drive_floor_s"] = median(seconds(ops, "floor"))
    return d


def _rate(ops, cls, field):
    """Millions of `field` (bytes or voxels) per second over a class's ops."""
    mine = [o for o in ops if o["cls"] == cls]
    t = sum(dur(o) for o in mine)
    return sum(o[field] for o in mine) / 1e6 / t if t > 0 else 0.0


def _ratio(a, b):
    return a / b if b else 0.0


def per_layer(raw, spans):
    """Per-layer metrics of a traced run (traced phase only)."""
    ops = [o for o in raw["ops"] if o["phase"] == "traced"]
    layer_of = {o["cls"]: o["layer"] for o in ops}
    lst = raw["listener"]
    lad = raw["ladder"]
    info = raw["info"]

    def lsum(key, layer=None):  # over traced operation classes only
        return sum(v[key] for c, v in lst.items()
                   if c in layer_of and (layer is None or layer_of[c] == layer))

    def dsum(key, layer=None):
        return sum(v[key] for c, v in lad.items() if layer is None or layer_of.get(c) == layer)

    def smsum(key):
        return sum(v["stream_ms"].get(key, 0) for c, v in lst.items()
                   if layer_of.get(c) == "stream") / 1e3

    st = self_times(spans)
    gap = {}
    for s in spans:
        if s["parent"] == -1 and s["layer"] in ("volume", "ops"):
            gap.setdefault(s["layer"], []).append(st[s["id"]])

    vol_ops = [o for o in ops if o["layer"] == "volume"]
    vol_wall = sum(o["t1"] - o["t0"] for o in vol_ops)
    scan_ops = [o for o in ops if o["layer"] == "voxelscan"]
    vops_vox = sum(o["voxels"] for o in ops if o["layer"] == "volumeops")
    decode_s, encode_s = dsum("decode_s"), dsum("encode_s")
    run_s = lsum("run_ms") / 1e3
    m = {
        "store.get_count": dsum("get_count"),
        "store.get_bytes": dsum("get_bytes"),
        "store.get_s": dsum("get_s"),
        "store.put_count": dsum("put_count"),
        "store.put_bytes": dsum("put_bytes"),
        "store.put_s": dsum("put_s"),
        "store.retries": info.get("store_retries", 0),
        "codec.decode_s": decode_s,
        "codec.decode_mbps": _ratio(dsum("decode_out") / 1e6, decode_s),
        "codec.encode_s": encode_s,
        "codec.encode_mbps": _ratio(dsum("encode_in") / 1e6, encode_s),
        "codec.ratio": _ratio(dsum("decode_out") + dsum("encode_in"), dsum("decode_in") + dsum("encode_out")),
        "buffer.slice_s": dsum("slice_s"),
        "buffer.blit_s": dsum("blit_s"),
        "volume.jobs_per_op": _ratio(lsum("jobs", "volume"), len(vol_ops)),
        "volume.tasks": lsum("tasks", "volume"),
        "volume.task_run_s": lsum("run_ms", "volume") / 1e3,
        "volume.result_bytes": lsum("result_bytes", "volume"),
        "volume.broadcast_bytes": lsum("broadcast_block_bytes", "volume"),
        "volume.getting_result_s": lsum("getting_result_ms", "volume") / 1e3,
        "volume.driver_gap_s": _ratio(sum(gap.get("volume", [])), len(gap.get("volume", []))),
        "volume.ladder_s": dsum("ladder_s", "volume"),
        "volume.outside_ladder_share": (1.0 - dsum("ladder_s", "volume") / vol_wall) if vol_wall else 0.0,
        "volume.read_amplification": _ratio(dsum("decode_out", "volume"), dsum("delivered_bytes", "volume")),
        "volume.rmw_chunks": dsum("rmw_chunks", "volume"),
        "voxelscan.rows": lsum("scan_rows", "voxelscan"),
        "voxelscan.chunks_fetched": lsum("scan_chunks", "voxelscan"),
        "voxelscan.bytes_fetched": lsum("scan_bytes", "voxelscan"),
        "voxelscan.task_run_s": lsum("run_ms", "voxelscan") / 1e3,
        "voxelscan.prune_ratio": _ratio(lsum("scan_chunks", "voxelscan"),
                                        len(scan_ops) * info.get("segmentation_chunks", 0)),
        "volumeops.task_run_s": lsum("run_ms", "volumeops") / 1e3,
        "volumeops.shuffle_write_bytes": lsum("shuffle_write", "volumeops"),
        "volumeops.shuffle_read_bytes": lsum("shuffle_read", "volumeops"),
        "volumeops.spill_bytes": lsum("spill", "volumeops"),
        "volumeops.shuffle_bytes_per_voxel": _ratio(lsum("shuffle_write", "volumeops"), vops_vox),
        "ops.analysis_s": lsum("analysis_ms", "ops") / 1e3,
        "ops.optimization_s": lsum("optimization_ms", "ops") / 1e3,
        "ops.planning_s": lsum("planning_ms", "ops") / 1e3,
        "ops.jobs": lsum("jobs", "ops"),
        "ops.stages": lsum("stages", "ops"),
        "ops.tasks": lsum("tasks", "ops"),
        "ops.task_run_s": lsum("run_ms", "ops") / 1e3,
        "ops.task_cpu_s": lsum("cpu_ns", "ops") / 1e9,
        "ops.shuffle_write_bytes": lsum("shuffle_write", "ops"),
        "ops.broadcast_bytes": lsum("sql_broadcast_bytes", "ops"),
        "ops.driver_gap_s": _ratio(sum(gap.get("ops", [])), len(gap.get("ops", []))),
        "registry.build_s": info.get("registry_build_s", 0.0),
        "registry.builds": info.get("registry_builds", 0),
        "stream.latest_offset_s": smsum("latestOffset"),
        "stream.get_batch_s": smsum("getBatch"),
        "stream.query_planning_s": smsum("queryPlanning"),
        "stream.add_batch_s": smsum("addBatch"),
        "stream.wal_commit_s": smsum("walCommit"),
        "stream.commit_offsets_s": smsum("commitOffsets"),
        "stream.batches": lsum("batches", "stream"),
        "stream.input_rows": lsum("input_rows", "stream"),
        "spark.gc_s": lsum("gc_ms") / 1e3,
        "spark.scheduler_delay_s": lsum("sched_delay_ms") / 1e3,
        "spark.cpu_to_run_ratio": _ratio(lsum("cpu_ns") / 1e9, run_s),
    }
    classes, light, heavy = raw["pass_classes"], raw["light"], raw["heavy"]
    plain = headline([o for o in raw["ops"] if o["phase"] == "plain"], classes, light, heavy)
    traced = headline(ops, classes, light, heavy)
    m["trace.overhead_s"] = traced["pass_s"] - plain["pass_s"]
    return m
