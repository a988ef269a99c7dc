"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (workload, seed, size).  Tables are
written as parquet under ``perfbench/.work/cache/<key>/`` together with the
generator's own ground truth (``truth.json``), so a second run with the same
seed and size reuses them and input generation never enters a timed or
set-up metric.

Pixel layout (the same strip idea as the library's synthetic universe, but
with seed-drawn parameters): every image has two uint16 bands,

    band 0 (B1)  a seeded texture >= 1, with nodata (0) in the left ``f``
                 columns                                  -> FILL strip
    band 1 (QA)  the family's cloud bit (QA_PIXEL bit 9 for Landsat/mock,
                 QA60 bit 10 for Sentinel-2) in the right ``c`` columns
                                                          -> CLOUD strip

so fill, cloud and cloudless pixel counts and cloud distances have closed
forms (see :func:`cloudy_cols`) that the correctness checks use.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FAMILIES = ("MOCK/CONST", "LANDSAT/LC09/C02/T1_L2", "COPERNICUS/S2_SR_HARMONIZED")
SCALE = 10.0          # metres per pixel
WORLD = 102400.0      # metres; the library's cell grid spans [0, WORLD)
EPOCH = datetime(2024, 3, 1, tzinfo=timezone.utc)  # QA60 valid from here on
HELD_OUT_SEED = 90017  # never used while tuning; later claims must pass on it
CACHE_KEEP = 4         # cached input sets kept per workload

# Sizes per workload.  Bumping a size changes the cache key.
SIZES = {
    "tile_export": dict(batches=4, per_batch=480, matched=320, px=192,
                        rois=3, roi_m=6000.0),
    "search": dict(images=6000, px=32, max_c=16, days=120, requests=48, rois=3,
                   roi_m=8000.0, window_days=(30, 30)),
    "composite": dict(stacks=6, depth=10, px=128, tile=32,
                      max_cloud_dist=200.0),
    "skew_join": dict(rows=1_200_000, cells=20000, hot=(0.45, 0.55)),
}


def cloudy_cols(family: str, c: int, morph: bool) -> int:
    """Closed-form width of the non-cloudless strip at the right edge.

    Mock images have no cloud support (cloudless == fill).  Sentinel-2's qa
    method always runs open(2 px) + dilate(5 px); Landsat does so only when
    the export pipeline's focal open/dilate (2, 5) is on (``morph``).  An
    erosion by a radius-2 disk removes 2 columns from the strip's inner
    edge (beyond-image counts as set), so strips narrower than 3 columns
    vanish; the radius-5 dilation then grows it by 5 columns."""
    if family == FAMILIES[0] or c == 0:
        return 0
    if family == FAMILIES[2] or morph:
        return c + 3 if c >= 3 else 0
    return c


def pixels(px: int, base: int, f: int, c: int, family: str) -> np.ndarray:
    """The (2, px, px) uint16 image of one row (see module docstring)."""
    rows = np.arange(px, dtype=np.uint32)[:, None]
    cols = np.arange(px, dtype=np.uint32)[None, :]
    img = np.zeros((2, px, px), dtype=np.uint16)
    img[0] = 1 + (base + rows * 7 + cols * 13) % 4000
    img[0, :, :f] = 0
    if c:
        img[1, :, px - c:] = 1 << (10 if family == FAMILIES[2] else 9)
    return img


def _ts(seconds: np.ndarray) -> pd.Series:
    return pd.Series(pd.Timestamp(EPOCH) + pd.to_timedelta(seconds, unit="s"))


def _image_table(meta: pd.DataFrame, px: int, n_files: int) -> list[pa.Table]:
    from geedim_spark import codecs

    blobs = [
        codecs.encode_raw(pixels(px, int(b), int(f), int(c), fam))
        for b, f, c, fam in zip(meta["base"], meta["f"], meta["c"], meta["collection"])
    ]
    t0 = (meta["t"] * 86400.0).round().astype("int64")
    tbl = pa.table({
        "image_id": pa.array(meta["image_id"], pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "w": pa.array(np.full(len(meta), px, np.int32)),
        "h": pa.array(np.full(len(meta), px, np.int32)),
        "fmt": pa.array(["raw"] * len(meta), pa.string()),
        "caption": pa.array(["caption-" + s for s in meta["image_id"]], pa.string()),
        "collection": pa.array(meta["collection"], pa.string()),
        "x0": pa.array(meta["x0"], pa.float64()),
        "y0": pa.array(meta["y0"], pa.float64()),
        "x1": pa.array(meta["x0"] + px * SCALE, pa.float64()),
        "y1": pa.array(meta["y0"] + px * SCALE, pa.float64()),
        "time_start": pa.array(_ts(t0.to_numpy()), pa.timestamp("us", tz="UTC")),
        "props": pa.array(
            [[("CLOUD_COVER", str(int(cc)))] for cc in meta["cloud_cover"]],
            pa.map_(pa.string(), pa.string()),
        ),
    })
    step = -(-len(meta) // n_files)
    return [tbl.slice(i, step) for i in range(0, len(meta), step)]


def _write(tables: list[pa.Table], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    for i, t in enumerate(tables):
        pq.write_table(t, f"{path}/part-{i:03d}.parquet", compression="none")


def _strips(rng, n: int, px: int, cloudy_p: float, max_c: int):
    fams = rng.integers(0, 3, n)
    f = rng.integers(0, px // 12 + 1, n)
    cloudy = rng.random(n) < cloudy_p
    c = np.where(cloudy, rng.integers(1, max_c + 1, n), 0)
    return np.array(FAMILIES, dtype=object)[fams], f, c


def _outside(rng, rois: np.ndarray, ext: float, n: int) -> np.ndarray:
    """n footprint origins whose ext-square footprints touch no ROI."""
    out = []
    while len(out) < n:
        x, y = rng.uniform(0, WORLD - ext, 2)
        hit = ((x <= rois[:, 2]) & (x + ext >= rois[:, 0])
               & (y <= rois[:, 3]) & (y + ext >= rois[:, 1])).any()
        if not hit:
            out.append((x, y))
    return np.array(out)


def _gen_tile_export(rng, s: dict, out: str) -> dict:
    px, ext = s["px"], s["px"] * SCALE
    cloudy_p = float(rng.uniform(0.4, 0.6))
    metas, requests = [], []
    for b in range(s["batches"]):
        lo = rng.uniform(0, WORLD - s["roi_m"], (s["rois"], 2))
        rois = np.column_stack([lo, lo + s["roi_m"]])
        # matched footprints: origin drawn so the footprint overlaps a ROI
        which = rng.integers(0, s["rois"], s["matched"])
        inside = np.clip(np.column_stack([
            rng.uniform(rois[which, 0] - ext + 1, rois[which, 2] - 1),
            rng.uniform(rois[which, 1] - ext + 1, rois[which, 3] - 1),
        ]), 0, WORLD - ext)
        origins = np.vstack([inside, _outside(rng, rois, ext, s["per_batch"] - s["matched"])])
        n = s["per_batch"]
        fam, f, c = _strips(rng, n, px, cloudy_p, px // 8)
        metas.append(pd.DataFrame({
            "image_id": [f"EXP/{b:02d}/{i:05d}" for i in range(n)],
            "collection": fam, "f": f, "c": c,
            "base": rng.integers(0, 4000, n),
            "x0": origins[:, 0], "y0": origins[:, 1],
            "t": b * 10 + rng.uniform(0.0, 9.0, n),
            "cloud_cover": rng.integers(0, 101, n),
            "matched": np.arange(n) < s["matched"],
        }))
        requests.append({
            "start": (EPOCH + timedelta(days=b * 10)).isoformat(),
            "end": (EPOCH + timedelta(days=b * 10 + 9.5)).isoformat(),
            "rois": rois.tolist(),
        })
    meta = pd.concat(metas, ignore_index=True)
    _write(_image_table(meta, px, 16), f"{out}/images")
    meta.to_parquet(f"{out}/meta.parquet")
    return {"requests": requests, "cloudy_p": cloudy_p}


def _gen_search(rng, s: dict, out: str) -> dict:
    n, px, ext = s["images"], s["px"], s["px"] * SCALE
    cloudy_p = float(rng.uniform(0.4, 0.6))
    # strips up to half the width spread cloudless portions over ~40-100 %,
    # so the cloudless_portion filter selects
    fam, f, c = _strips(rng, n, px, cloudy_p, s["max_c"])
    origin = rng.uniform(0, WORLD - ext, (n, 2))
    meta = pd.DataFrame({
        "image_id": [f"SRC/{i:06d}" for i in range(n)],
        "collection": fam, "f": f, "c": c,
        "base": rng.integers(0, 4000, n),
        "x0": origin[:, 0], "y0": origin[:, 1],
        "t": rng.uniform(0.0, s["days"], n),
        "cloud_cover": rng.integers(0, 101, n),
    })
    requests = []
    for _ in range(s["requests"]):
        lo = rng.uniform(0, WORLD - s["roi_m"], (s["rois"], 2))
        d0 = float(rng.uniform(0, s["days"] - s["window_days"][1]))
        span = float(rng.uniform(*s["window_days"]))
        requests.append({
            "start": (EPOCH + timedelta(days=d0)).isoformat(),
            "end": (EPOCH + timedelta(days=d0 + span)).isoformat(),
            "rois": np.column_stack([lo, lo + s["roi_m"]]).tolist(),
            "max_cloud_cover": int(rng.integers(30, 90)),
            "cloudless_portion": float(rng.choice([50.0, 70.0, 85.0])),
        })
    _write(_image_table(meta, px, 8), f"{out}/images")
    meta.to_parquet(f"{out}/meta.parquet")
    return {"requests": requests, "cloudy_p": cloudy_p}


def _gen_composite(rng, s: dict, out: str) -> dict:
    px, depth = s["px"], s["depth"]
    cloudy_p = float(rng.uniform(0.6, 0.8))
    metas = []
    for k in range(s["stacks"]):
        x0, y0 = rng.uniform(0, WORLD - px * SCALE, 2)
        fam, f, c = _strips(rng, depth, px, cloudy_p, px // 8)
        # a stack is one sensor family, like a real co-registered series
        fam[:] = FAMILIES[1 + k % 2]
        metas.append(pd.DataFrame({
            "image_id": [f"CMP/{k:02d}/{i:03d}" for i in range(depth)],
            "collection": fam, "f": f, "c": c,
            "base": rng.integers(0, 4000, depth),
            "x0": np.full(depth, x0), "y0": np.full(depth, y0),
            # distinct whole seconds: q-mosaic ties break on capture time
            "t": k * 30 + (np.arange(depth) + rng.permutation(depth) * 0.01),
            "cloud_cover": rng.integers(0, 101, depth),
            "stack": k,
        }))
    meta = pd.concat(metas, ignore_index=True)
    _write(_image_table(meta, px, 8), f"{out}/images")
    meta.to_parquet(f"{out}/meta.parquet")
    windows = [{
        "start": (EPOCH + timedelta(days=k * 30)).isoformat(),
        "end": (EPOCH + timedelta(days=k * 30 + 20)).isoformat(),
    } for k in range(s["stacks"])]
    return {"requests": windows, "cloudy_p": cloudy_p}


def _gen_skew(rng, s: dict, out: str) -> dict:
    n, cells = s["rows"], s["cells"]
    hot_share = float(rng.uniform(*s["hot"]))
    hot_cell = int(rng.integers(0, cells))
    cell = rng.integers(0, cells, n).astype(np.int32)
    cell[rng.random(n) < hot_share] = hot_cell
    v = rng.integers(1, 100, n).astype(np.int64)
    big = pa.table({"id": pa.array(np.arange(n, dtype=np.int64)),
                    "cell": pa.array(cell), "v": pa.array(v)})
    # the dim side carries two rows for a third of the cells (a cell table
    # keyed by cell + band, say), so the join multiplies rows
    dim_cells = np.arange(cells, dtype=np.int32)
    extra = dim_cells[rng.random(cells) < 1 / 3]
    dcell = np.concatenate([dim_cells, extra])
    weight = rng.integers(1, 10, len(dcell)).astype(np.int64)
    dim = pa.table({"cell": pa.array(dcell), "weight": pa.array(weight),
                    "label": pa.array([f"cell-{x:06d}" for x in dcell])})
    os.makedirs(out, exist_ok=True)
    step = -(-n // 8)
    _write([big.slice(i, step) for i in range(0, n, step)], f"{out}/big")
    _write([dim], f"{out}/dim")
    # plain-join truth in pandas (independent of Spark)
    w_by_cell = pd.DataFrame({"cell": dcell, "weight": weight}).groupby("cell")
    per = pd.DataFrame({"n": w_by_cell.size(), "wsum": w_by_cell["weight"].sum()})
    bigdf = pd.DataFrame({"cell": cell, "v": v}).join(per, on="cell", how="inner")
    return {
        "hot_share": hot_share, "hot_cell": hot_cell,
        "join_rows": int(bigdf["n"].sum()),
        "join_wsum": int((bigdf["v"] * bigdf["wsum"]).sum()),
        "big_rows": n, "dim_rows": int(len(dcell)),
    }


_GEN = {"tile_export": _gen_tile_export, "search": _gen_search,
        "composite": _gen_composite, "skew_join": _gen_skew}


def ensure(workload: str, seed: int, work_dir: str) -> tuple[str, dict]:
    """Generate (or reuse) the inputs of ``workload`` for ``seed``; returns
    (directory, truth dict)."""
    size = SIZES[workload]
    key = f"{workload}-s{seed}-" + "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    key = key.replace(" ", "").replace("(", "").replace(")", "").replace(",", "_")
    path = os.path.join(work_dir, "cache", key)
    if os.path.exists(f"{path}/truth.json"):
        with open(f"{path}/truth.json") as fh:
            return path, json.load(fh)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # one stream per workload: the same seed gives unrelated inputs to
    # different workloads
    rng = np.random.default_rng([seed, sorted(_GEN).index(workload)])
    truth = _GEN[workload](rng, size, tmp)
    truth["size"] = size
    with open(f"{tmp}/truth.json", "w") as fh:
        json.dump(truth, fh)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    # bound the cache: keep the newest CACHE_KEEP input sets per workload
    # (a seed sweep would otherwise leave gigabytes behind)
    old = sorted(glob.glob(os.path.join(work_dir, "cache", f"{workload}-s*")),
                 key=os.path.getmtime)
    for stale in old[:-CACHE_KEEP]:
        shutil.rmtree(stale, ignore_errors=True)
    # flush the new files now, so their write-back does not land in a timed
    # window later in the run
    os.sync()
    return path, truth
