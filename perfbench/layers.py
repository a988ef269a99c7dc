"""The traced run (--trace 1): spans, layer probes and Spark's event log.

Spans are the benchmark's own: each records name, start, end, parent and
operation id, stays in memory and is folded into per-layer self times at
the end.  While a span is open its id is set as the Spark local property
``perfbench.span``, so every job and stage in the event log can be traced
back to the span (and so the layer) that started it.

Layer probes run after the timed window on the workload's own inputs and
time calls into each module's public functions.  A layer a workload does
not exercise reports 0 (for example ``snapshots.*`` on ``search``).
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

PROP = "perfbench.span"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None
        self.marks: dict[str, int] = {}
        self.t0 = time.perf_counter()

    def bind(self, spark) -> None:
        if self.enabled:
            self.sc = spark.sparkContext

    def _set_prop(self) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(PROP, str(self._stack[-1]) if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "parent": parent, "op": op,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_prop()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_prop()

    def under(self, pred) -> set[int]:
        """Ids of the spans matching ``pred`` and all their descendants."""
        ids = {s["id"] for s in self.spans if pred(s)}
        for s in self.spans:          # parents precede children
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def self_times(self) -> dict[str, float]:
        """Self time (span minus its children) per layer, plus
        ``unaccounted`` = wall since process start that no span covers."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            layer = layer_of(s["name"])
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child.get(s["id"], 0.0)
        top = sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)
        out["unaccounted"] = (time.perf_counter() - self.t0) - top
        return out


# layers reported as self times (the package modules the probes call, the
# Collection API the operations call, and the benchmark's own phases)
LAYERS = ("api", "collect", "check", "setup", "session", "codecs", "masks",
          "pipeline", "snapshots", "spatial_join", "stencil", "composite")


def layer_of(name: str) -> str:
    head = name.split(".", 1)[0]
    return head if head in LAYERS else "other"


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def _log_dir(work_dir: str) -> str:
    return os.path.join(work_dir, "eventlog", str(os.getpid()))


def event_log_conf(work_dir: str) -> dict:
    d = _log_dir(work_dir)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + d,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.logBlockUpdates.enabled": "true",
    }


def _accum(stage_info: dict, name: str) -> float:
    return sum(float(a.get("Value") or 0) for a in stage_info.get("Accumulables", [])
               if a.get("Name") == name)


class EventLog:
    """The parts of Spark's event log the layer metrics need, keyed by the
    span that was open when each stage was submitted."""

    def __init__(self, work_dir: str):
        d = _log_dir(work_dir)
        files = sorted(glob.glob(f"{d}/*"))
        self.stage_span: dict[int, int | None] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.job_last_stage: dict[int, int] = {}
        self.block_peak: dict[int | None, float] = {}
        blocks: dict[str, float] = {}
        cur_span = None
        for f in files:
            with open(f) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerStageSubmitted":
                        sid = ev["Stage Info"]["Stage ID"]
                        sp = (ev.get("Properties") or {}).get(PROP)
                        cur_span = int(sp) if sp is not None else None
                        self.stage_span[sid] = cur_span
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        self.stages[info["Stage ID"]] = info
                    elif kind == "SparkListenerTaskEnd":
                        self.tasks.setdefault(ev["Stage ID"], []).append(ev)
                    elif kind == "SparkListenerJobStart":
                        ids = ev.get("Stage IDs") or []
                        if ids:
                            self.job_last_stage[ev["Job ID"]] = max(ids)
                    elif kind == "SparkListenerBlockUpdated":
                        info = ev["Block Updated Info"]
                        bid = info["Block ID"]
                        if bid.startswith("rdd_"):
                            blocks[bid] = (info.get("Memory Size", 0) + info.get("Disk Size", 0))
                            total = sum(blocks.values())
                            self.block_peak[cur_span] = max(self.block_peak.get(cur_span, 0.0), total)
        shutil.rmtree(d, ignore_errors=True)

    def stage_ids(self, spans: set[int]) -> list[int]:
        return [s for s, sp in self.stage_span.items() if sp in spans and s in self.stages]

    def totals(self, spans: set[int]) -> dict[str, float]:
        t = dict(gc_s=0.0, in_bytes=0.0, in_rows=0.0, shuffle_w=0.0,
                 shuffle_w_rows=0.0, shuffle_r=0.0, spill=0.0, tasks=0,
                 py_worker_s=0.0, py_in=0.0, py_out=0.0, task_s=0.0)
        for sid in self.stage_ids(spans):
            info = self.stages[sid]
            t["py_worker_s"] += _accum(info, "time to run Python workers") / 1e3
            t["py_in"] += _accum(info, "data sent to Python workers")
            t["py_out"] += _accum(info, "data returned from Python workers")
            for ev in self.tasks.get(sid, []):
                m = ev.get("Task Metrics") or {}
                ti = ev["Task Info"]
                t["tasks"] += 1
                t["task_s"] += (ti["Finish Time"] - ti["Launch Time"]) / 1e3
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                im = m.get("Input Metrics", {})
                t["in_bytes"] += im.get("Bytes Read", 0)
                t["in_rows"] += im.get("Records Read", 0)
                sw = m.get("Shuffle Write Metrics", {})
                t["shuffle_w"] += sw.get("Shuffle Bytes Written", 0)
                t["shuffle_w_rows"] += sw.get("Shuffle Records Written", 0)
                sr = m.get("Shuffle Read Metrics", {})
                t["shuffle_r"] += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                t["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        return t

    def straggler_ratio(self, spans: set[int]) -> float:
        """Sum of max over sum of median task time, over the final (result)
        stage of every job the spans ran that had more than one task."""
        mine = set(self.stage_ids(spans))
        smax = smed = 0.0
        for stage in self.job_last_stage.values():
            if stage not in mine:
                continue
            d = [(e["Task Info"]["Finish Time"] - e["Task Info"]["Launch Time"])
                 for e in self.tasks.get(stage, [])]
            if len(d) > 1:
                smax += max(d)
                smed += statistics.median(d)
        return smax / smed if smed else 1.0

    def single_task_share(self, spans: set[int]) -> float:
        ids = self.stage_ids(spans)
        return sum(len(self.tasks.get(s, [])) == 1 for s in ids) / len(ids) if ids else 0.0


# ---------------------------------------------------------------------------
# layer probes
# ---------------------------------------------------------------------------

def _per_call_ms(fn, items, min_s: float = 0.05) -> float:
    """Mean ms per call of fn over items, repeating the pass until min_s."""
    if not items:
        return 0.0
    calls, t0 = 0, time.perf_counter()
    while True:
        for it in items:
            fn(it)
        calls += len(items)
        el = time.perf_counter() - t0
        if el >= min_s:
            return 1e3 * el / calls


def _sample_images(wl, n: int = 12) -> list[tuple]:
    """(collection, blob, time_start) of a fixed sample of the workload's
    images."""
    files = sorted(glob.glob(f"{wl.path}/images/*.parquet"))
    tbl = pq.read_table(files[0], columns=["collection", "bytes", "time_start"])
    rows = tbl.slice(0, n).to_pylist()
    # Spark hands the kernels naive UTC timestamps
    return [(r["collection"], r["bytes"], r["time_start"].replace(tzinfo=None))
            for r in rows]


def kernel_probes(wl, tracer: Tracer, tile: tuple[int, int] | None,
                  decimate: int, scale: float, max_cloud_dist: float) -> dict:
    from geedim_spark import codecs
    from geedim_spark.operators import masks

    out = {}
    sample = _sample_images(wl)
    with tracer.span("codecs.decode"):
        out["codecs.decode_ms"] = (_per_call_ms(lambda r: codecs.decode(r[1]), sample), "ms")
    imgs = [(c, codecs.decode(b), ts) for c, b, ts in sample]
    th, tw = tile or imgs[0][1].shape[1:]
    tiles = [np.ascontiguousarray(px[:, :th, :tw]) for _, px, _ in imgs]
    with tracer.span("codecs.encode_raw"):
        out["codecs.encode_ms"] = (_per_call_ms(codecs.encode_raw, tiles), "ms")

    def _masks(r):
        coll, px, ts = r
        names = masks.band_names_for(coll)
        return masks.masks_for(coll, {n: px[i] for i, n in enumerate(names)},
                               time_start=ts, scale=scale)
    with tracer.span("masks.masks_for"):
        out["masks.mask_ms"] = (_per_call_ms(_masks, imgs), "ms")
    ms = [_masks(r) for r in imgs]
    cloudy = [~m["CLOUDLESS_MASK"] & m["FILL_MASK"] for m in ms]
    morph = [c for c in cloudy if c.any()]
    out["masks.cloudy_share"] = (len(morph) / len(cloudy), "share")
    with tracer.span("masks.focal"):
        out["masks.morph_ms"] = (_per_call_ms(
            lambda c: masks.focal_max(masks.focal_min(c, 2), 5), morph), "ms")
    with tracer.span("masks.cloud_dist"):
        out["masks.edt_ms"] = (_per_call_ms(
            lambda m: masks.cloud_dist(m["CLOUDLESS_MASK"][::decimate, ::decimate],
                                       scale * decimate, max_cloud_dist,
                                       fill=m["FILL_MASK"][::decimate, ::decimate]),
            ms), "ms")
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer: Tracer, name: str, fn):
    with tracer.span(name):
        t0 = time.perf_counter()
        res = fn()
        return time.perf_counter() - t0, res


def join_probes(tracer: Tracer, images, rois) -> dict:
    from pyspark.sql import functions as F

    from geedim_spark.operators import masks
    from geedim_spark.operators import spatial_join as sj

    def candidates():
        ic = sj.cover_cells(images.select("image_id", "x0", "y0", "x1", "y1"),
                            "x0", "y0", "x1", "y1")
        rc = sj.cover_cells(rois, "rx0", "ry0", "rx1", "ry1")
        return ic.join(F.broadcast(rc), "cell").count()
    _, cand = _timed(tracer, "spatial_join.cover_cells", candidates)
    _, pairs = _timed(tracer, "spatial_join.filter_bounds",
                      lambda: sj.filter_bounds(images, rois).count())
    semi_s, _ = _timed(tracer, "spatial_join.filter_bounds_semi",
                       lambda: _noop(sj.filter_bounds_semi(images, rois).select("image_id")))
    matched = sj.filter_bounds_semi(images, rois)
    stats_s, _ = _timed(tracer, "masks.mask_stats",
                        lambda: _noop(masks.mask_stats(matched)))
    return {
        "spatial_join.candidate_pairs": (float(cand), "count"),
        "spatial_join.useful_ratio": (pairs / cand if cand else 0.0, "ratio"),
        "spatial_join.semi_s": (semi_s, "s"),
        "masks.stats_s": (stats_s, "s"),
    }


def pipeline_probe(tracer: Tracer, images, kwargs: dict) -> float:
    from geedim_spark.operators import pipeline

    t, _ = _timed(tracer, "pipeline.mask_and_tile",
                  lambda: _noop(pipeline.mask_and_tile(images, **kwargs)))
    return t


def snapshot_probe(tracer: Tracer, images, kwargs: dict, table_dir: str,
                   kernel_s: float) -> dict:
    from geedim_spark.operators import pipeline
    from geedim_spark.sources import snapshots

    tiles = pipeline.mask_and_tile(images, **kwargs).join(
        images.select("image_id", "collection"), "image_id")
    wall, _ = _timed(tracer, "snapshots.write_snapshot",
                     lambda: snapshots.write_snapshot(tiles, table_dir, "collection",
                                                      stats_cols=("fill_px",)))
    files = [f for f in glob.glob(f"{table_dir}/**/*", recursive=True) if os.path.isfile(f)]
    mb = sum(os.path.getsize(f) for f in files) / 2**20
    shutil.rmtree(table_dir, ignore_errors=True)
    return {"snapshots.write_s": (max(wall - kernel_s, 0.0), "s"),
            "snapshots.files": (float(len(files)), "count"),
            "snapshots.mb_written": (mb, "MB")}


def stencil_probe(tracer: Tracer, images, tile: int, scale: float,
                  max_cloud_dist: float) -> int:
    """halo_apply of the cloud-distance kernel over code tiles; returns the
    span id so the caller can read its shuffle rows from the event log."""
    from geedim_spark.operators import stencil

    tiles = stencil.mask_tiles(images, tile, tile, plane="code")
    halo = int(math.ceil(max_cloud_dist / scale))
    out = stencil.halo_apply(tiles, stencil.cloud_dist_code_kernel(scale, max_cloud_dist),
                             halo_px=halo, tile_h=tile, tile_w=tile, out_dtype="float64")
    with tracer.span("stencil.halo_apply"):
        sid = tracer.spans[-1]["id"]
        _noop(out)
    return sid


def skew_probe(spark, tracer: Tracer, seed: int, work_dir: str) -> dict:
    """One skew_join operation: the salt factors the library chose and how
    much they replicate the small side."""
    import gen
    from workloads import SkewJoin

    path, truth = gen.ensure("skew_join", seed, work_dir)
    swl = SkewJoin(spark, path, truth, work_dir)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        swl.register()
        res = swl.run(swl.requests[0], tracer)
        f = res[1]._salt_factors.toPandas().set_index("cell")["_n_salt"]
        swl.close(res)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    dcell = pq.read_table(f"{path}/dim", columns=["cell"]).column("cell").to_numpy()
    rep = f.reindex(dcell).fillna(1).sum() / len(dcell)
    return {"spatial_join.salt_max": (float(f.max()), "count"),
            "spatial_join.replication": (float(rep), "ratio")}


def per_layer_units() -> dict:
    """Name -> unit of every per-layer metric in BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def composite_probes(tracer: Tracer, cwl) -> None:
    """One composite_tiled q-mosaic (its persisted tile cache is read from
    the event log) and one stencil.halo_apply over the same stack."""
    req = cwl.requests[0]
    with tracer.span("composite.composite_tiled"):
        res = cwl.run(req, tracer)
    cwl.close(res)
    stack = cwl.coll.search(req["start"], req["end"]).df
    tracer.marks["stencil"] = stencil_probe(tracer, stack, cwl.tile, 10.0, cwl.mcd)
    tracer.marks["stencil_tiles"] = cwl.truth["size"]["depth"] * (cwl.px // cwl.tile) ** 2


def layer_metrics(spark, wl, tracer: Tracer, seed: int, work_dir: str) -> dict:
    """Run the probes that apply to ``wl`` (inside spans); metrics that need
    the event log are filled in by :func:`event_log_metrics` after the
    session stops.

    The exchange-heavy layers (stencil halo join, persisted composite
    tiles, salted join) are probed in the ``search`` and ``composite``
    traced runs, on the composite and skew_join inputs of the same seed."""
    from workloads import Composite

    out = {k: (0.0, u) for k, u in per_layer_units().items()}
    name = type(wl).__name__
    if name == "SkewJoin":
        out.update(skew_probe(spark, tracer, seed, work_dir))
        return out
    if name == "TileExport":
        kw = dict(wl.DOWNLOAD)
        out.update(kernel_probes(wl, tracer, (kw["max_tile_dim"],) * 2,
                                 kw["dist_decimate"], 10.0, 5000.0))
        out["tiler.tiles_per_image"] = (float(wl.tiles_per_image), "count")
    elif name == "Composite":
        out.update(kernel_probes(wl, tracer, (wl.tile, wl.tile), 1, 10.0, wl.mcd))
        out["tiler.tiles_per_image"] = (float((wl.px // wl.tile) ** 2), "count")
    else:
        out.update(kernel_probes(wl, tracer, None, 6, 10.0, 5000.0))

    req = wl.requests[0]
    if name in ("TileExport", "Search"):
        rois = wl.rois[0]
        window = wl.coll.search(req["start"], req["end"]).df
        out.update(join_probes(tracer, window, rois))
        matched = wl.coll.search(req["start"], req["end"], rois).df
    else:
        matched = wl.coll.search(req["start"], req["end"]).df
    kw = dict(getattr(wl, "DOWNLOAD", {}))
    kernel_s = pipeline_probe(tracer, matched, kw)
    out["pipeline.kernel_s"] = (kernel_s, "s")
    if name == "TileExport":
        out.update(snapshot_probe(tracer, matched, kw,
                                  os.path.join(work_dir, "out", f"probe{os.getpid()}"),
                                  kernel_s))
    if name in ("Search", "Composite"):
        import gen

        cwl = wl
        if name == "Search":
            path, truth = gen.ensure("composite", seed, work_dir)
            cwl = Composite(spark, path, truth, work_dir)
            cwl.register()
        composite_probes(tracer, cwl)
        out.update(skew_probe(spark, tracer, seed, work_dir))
    return out


def event_log_metrics(work_dir: str, cores: int, tracer: Tracer,
                      n_results: int, n_ops: int) -> dict:
    log = EventLog(work_dir)
    ops = tracer.under(lambda s: s["name"] == "op")
    t = log.totals(ops)
    op_wall = sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == "op")
    out = {
        "session.scan_mb": (t["in_bytes"] / 2**20 / max(n_ops, 1), "MB"),
        "session.shuffle_write_mb": (t["shuffle_w"] / 2**20 / max(n_ops, 1), "MB"),
        "session.shuffle_read_mb": (t["shuffle_r"] / 2**20 / max(n_ops, 1), "MB"),
        "session.spill_mb": (t["spill"] / 2**20 / max(n_ops, 1), "MB"),
        "session.core_util": (t["task_s"] / (op_wall * cores) if op_wall else 0.0, "ratio"),
        "session.straggler_ratio": (log.straggler_ratio(ops), "ratio"),
        "session.single_task_stage_share": (log.single_task_share(ops), "share"),
        "session.tasks": (t["tasks"] / max(n_ops, 1), "count"),
        "session.gc_s": (t["gc_s"] / max(n_ops, 1), "s"),
        "collection_ops.rows_scanned_per_result": (
            t["in_rows"] / n_results if n_results else 0.0, "ratio"),
        "collection_ops.mb_scanned_per_result": (
            t["in_bytes"] / 2**20 / n_results if n_results else 0.0, "MB"),
    }
    pipe = log.totals(tracer.under(lambda s: s["name"] == "pipeline.mask_and_tile"))
    out["pipeline.py_worker_s"] = (pipe["py_worker_s"], "s")
    out["pipeline.arrow_in_mb"] = (pipe["py_in"] / 2**20, "MB")
    out["pipeline.arrow_out_mb"] = (pipe["py_out"] / 2**20, "MB")
    if "stencil" in tracer.marks:
        comp = tracer.under(lambda s: s["name"] in ("composite.composite_tiled", "op"))
        peak = max((v for k, v in log.block_peak.items() if k in comp), default=0.0)
        out["composite.cache_mb"] = (peak / 2**20, "MB")
        st = log.totals({tracer.marks["stencil"]})
        out["stencil.halo_rows_per_tile"] = (
            st["shuffle_w_rows"] / tracer.marks["stencil_tiles"], "ratio")
    return out
