"""The closed-loop workloads.

Each workload drives the library only through its public functions.  The
benchmark process is the single client: it starts the next operation only
after the previous one returned and was checked.

A workload object has

    register()            (re)read the cached inputs into fresh DataFrames
    requests              the seed-drawn operation list, cycled in order
    run(req, tr)          one operation; returns its raw result
    check(req, res, rng)  True when the result matches the generator's truth
    work()                work done by one operation, in ``work_unit``
    results(res)          result rows the operation produced
    close(res)            release what the operation left behind
    props                 input-property shares recorded in the output
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import numpy as np
import pandas as pd
import pyarrow.dataset as pads

import gen
from gen import FAMILIES, SCALE, cloudy_cols


def _roi_df(spark, rois):
    return spark.createDataFrame(
        [(f"R{i}", *map(float, r)) for i, r in enumerate(rois)],
        "roi_id string, rx0 double, ry0 double, rx1 double, ry1 double",
    )


def _bbox_hits(meta: pd.DataFrame, ext: float, rois) -> np.ndarray:
    hit = np.zeros(len(meta), bool)
    x0, y0 = meta["x0"].to_numpy(), meta["y0"].to_numpy()
    for rx0, ry0, rx1, ry1 in rois:
        hit |= (x0 <= rx1) & (x0 + ext >= rx0) & (y0 <= ry1) & (y0 + ext >= ry0)
    return hit


def _times(meta: pd.DataFrame) -> pd.Series:
    secs = (meta["t"] * 86400.0).round().astype("int64")
    return pd.Timestamp(gen.EPOCH) + pd.to_timedelta(secs, unit="s")


class TileExport:
    """Batches of Collection.search(date, rois).download(table_dir)."""

    work_unit = "Mpx"
    # export tiler settings: 64 px tiles, one band per tile, the headline's
    # coarse cloud distance and the open/dilate morphology
    DOWNLOAD = dict(max_tile_dim=64, max_tile_bands=1, dist_decimate=6,
                    focal_open_px=2, focal_dilate_px=5)

    def __init__(self, spark, path, truth, work_dir):
        from geedim_spark.operators import tiler

        self.spark, self.path, self.truth = spark, path, truth
        self.out_root = os.path.join(work_dir, "out")
        self.px = truth["size"]["px"]
        self.meta = pd.read_parquet(f"{path}/meta.parquet")
        self.meta["batch"] = self.meta["image_id"].str.slice(4, 6).astype(int)
        self.requests = [dict(r, batch=b) for b, r in enumerate(truth["requests"])]
        tshape = tiler.tile_shape(2, self.px, self.px, "uint16", 4,
                                  self.DOWNLOAD["max_tile_dim"],
                                  self.DOWNLOAD["max_tile_bands"])
        self.tiles_per_image = tiler.num_tiles(2, self.px, self.px, tshape)
        m = self.meta[self.meta["matched"]]
        self.props = {
            "cloudy_share": float((m["c"] > 0)[m["collection"] != FAMILIES[0]].mean()),
            "roi_selectivity": float(self.meta["matched"].mean()),
            "matched_per_batch": int(truth["size"]["matched"]),
        }

    def register(self):
        from geedim_spark.api import Collection

        self.coll = Collection.from_parquet(self.spark, f"{self.path}/images")
        self.rois = [_roi_df(self.spark, r["rois"]) for r in self.requests]

    def run(self, req, tr):
        table_dir = os.path.join(self.out_root, uuid.uuid4().hex)
        with tr.span("api.Collection.search"):
            found = self.coll.search(req["start"], req["end"], self.rois[req["batch"]])
        with tr.span("api.Collection.download"):
            found.download(table_dir, **self.DOWNLOAD)
        return table_dir

    def committed(self, table_dir):
        files = glob.glob(f"{table_dir}/data/**/*.parquet", recursive=True)
        ds = pads.dataset(files, format="parquet", partitioning="hive")
        return ds.to_table(columns=["image_id", "band_start", "row_start",
                                    "col_start", "fill_px", "cloudless_px",
                                    "tile_bytes"]).to_pandas()

    def check(self, req, table_dir, rng):
        from geedim_spark import codecs

        px = self.px
        exp = self.meta[(self.meta["batch"] == req["batch"]) & self.meta["matched"]]
        got = self.committed(table_dir)
        if len(got) != self.tiles_per_image * len(exp):
            return False
        b0 = got[got["band_start"] == 0].groupby("image_id")[["fill_px", "cloudless_px"]].sum()
        e = exp.set_index("image_id")
        if set(b0.index) != set(e.index):
            return False
        cc = np.array([cloudy_cols(fm, c, True) for fm, c in zip(e["collection"], e["c"])])
        fill = px * (px - e["f"].to_numpy())
        cloudless = px * (px - e["f"].to_numpy() - cc)
        b0 = b0.loc[e.index]
        if not (np.array_equal(b0["fill_px"].to_numpy(), fill)
                and np.array_equal(b0["cloudless_px"].to_numpy(), cloudless)):
            return False
        # sampled tiles decode to the masked source pixels
        for k in rng.choice(len(got), size=min(3, len(got)), replace=False):
            row = got.iloc[int(k)]
            src = e.loc[row["image_id"]]
            img = gen.pixels(px, int(src["base"]), int(src["f"]), int(src["c"]),
                             src["collection"])
            ccol = cloudy_cols(src["collection"], int(src["c"]), True)
            if ccol:
                img[0, :, px - ccol:] = 0
            b, r, c = int(row["band_start"]), int(row["row_start"]), int(row["col_start"])
            tile = codecs.decode(bytes(row["tile_bytes"]))
            want = img[b:b + tile.shape[0], r:r + tile.shape[1], c:c + tile.shape[2]]
            if not np.array_equal(tile, want):
                return False
        return True

    def out_bytes(self, table_dir):
        return sum(os.path.getsize(f) for f in
                   glob.glob(f"{table_dir}/**/*", recursive=True) if os.path.isfile(f))

    def work(self):
        return self.truth["size"]["matched"] * self.px * self.px * 2 / 1e6

    def results(self, table_dir):
        return self.tiles_per_image * self.truth["size"]["matched"]

    def in_bytes(self):
        """Input pixel bytes of one batch (uint16 pixels x 2 bands)."""
        return self.truth["size"]["matched"] * self.px * self.px * 2 * 2

    def close(self, table_dir):
        shutil.rmtree(table_dir, ignore_errors=True)


class Search:
    """Collection.search with date window, ROIs, a CLOUD_COVER filter and
    cloudless_portion; the result ids are collected."""

    work_unit = "requests"

    def __init__(self, spark, path, truth, work_dir):
        self.spark, self.path, self.truth = spark, path, truth
        self.px = truth["size"]["px"]
        self.meta = pd.read_parquet(f"{path}/meta.parquet")
        self.meta["time"] = _times(self.meta)
        self.requests = truth["requests"]
        self.expected = [self._brute_force(r) for r in self.requests]
        roi_hits = [_bbox_hits(self.meta, self.px * SCALE, r["rois"]).mean()
                    for r in self.requests]
        self.props = {
            "cloudy_share": float((self.meta["c"] > 0)[self.meta["collection"] != FAMILIES[0]].mean()),
            "roi_selectivity": float(np.mean(roi_hits)),
            "result_share": float(np.mean([len(e) for e in self.expected]) / len(self.meta)),
        }

    def _brute_force(self, r) -> set:
        m, px = self.meta, self.px
        keep = (m["time"] >= pd.Timestamp(r["start"])) & (m["time"] < pd.Timestamp(r["end"]))
        keep &= _bbox_hits(m, px * SCALE, r["rois"])
        keep &= m["cloud_cover"] <= r["max_cloud_cover"]
        cc = np.array([cloudy_cols(fm, c, False) for fm, c in zip(m["collection"], m["c"])])
        fill = px * (px - m["f"].to_numpy())
        cloudless = px * (px - m["f"].to_numpy() - cc)
        with np.errstate(divide="ignore", invalid="ignore"):
            portion = 100.0 * cloudless / fill
        keep &= (fill > 0) & (portion >= r["cloudless_portion"])
        return set(m.loc[keep, "image_id"])

    def register(self):
        from geedim_spark.api import Collection

        self.coll = Collection.from_parquet(self.spark, f"{self.path}/images")
        self.rois = [_roi_df(self.spark, r["rois"]) for r in self.requests]

    def run(self, req, tr):
        i = self.requests.index(req)
        with tr.span("api.Collection.search"):
            found = self.coll.search(
                req["start"], req["end"], self.rois[i],
                custom_filter=f"cast(props['CLOUD_COVER'] as double) <= {req['max_cloud_cover']}",
                cloudless_portion=req["cloudless_portion"],
            )
        with tr.span("collect"):
            return [r[0] for r in found.df.select("image_id").collect()]

    def check(self, req, ids, rng):
        return len(ids) == len(set(ids)) and set(ids) == self.expected[self.requests.index(req)]

    def work(self):
        return 1.0

    def results(self, ids):
        return len(ids)

    def close(self, res):
        pass


class Composite:
    """Collection.search(stack window).composite_tiled("q-mosaic")."""

    work_unit = "Mpx"

    def __init__(self, spark, path, truth, work_dir):
        self.spark, self.path, self.truth = spark, path, truth
        s = truth["size"]
        self.px, self.tile, self.mcd = s["px"], s["tile"], s["max_cloud_dist"]
        self.meta = pd.read_parquet(f"{path}/meta.parquet")
        self.requests = [dict(r, stack=k) for k, r in enumerate(truth["requests"])]
        self.oracle = {}
        halo = int(np.ceil(self.mcd / SCALE))
        self.props = {
            "cloudy_share": float((self.meta["c"] > 0).mean()),
            "halo_tile_ratio": halo / self.tile,
            "stack_depth": int(s["depth"]),
        }

    def qmosaic(self, k: int) -> np.ndarray:
        """Whole-image q-mosaic of stack k in numpy, from the closed-form
        masks and cloud distances of the generated strips."""
        if k in self.oracle:
            return self.oracle[k]
        px, mcd = self.px, self.mcd
        st = self.meta[self.meta["stack"] == k].copy()
        st["time"] = _times(st)
        st = st.sort_values(["time", "image_id"], ascending=[False, True])
        x = np.arange(px)
        stack, score = [], []
        for _, r in st.iterrows():
            stack.append(gen.pixels(px, int(r["base"]), int(r["f"]), int(r["c"]),
                                    r["collection"]).astype(np.float64))
            cc = cloudy_cols(r["collection"], int(r["c"]), False)
            valid = (x >= r["f"]) & (x < px - cc)
            dist = np.minimum(mcd, SCALE * (px - cc - x)) if cc else np.full(px, mcd)
            score.append(np.where(valid, np.floor(dist), -1.0))
        score = np.array(score)                 # (n, px): per column
        best = np.argmax(score, axis=0)
        comp = np.array(stack)[best, :, :, x].transpose(1, 2, 0)  # (bands, h, w)
        comp[:, :, score.max(axis=0) < 0] = np.nan
        self.oracle[k] = comp
        return comp

    def register(self):
        from geedim_spark.api import Collection

        self.coll = Collection.from_parquet(self.spark, f"{self.path}/images")

    def run(self, req, tr):
        with tr.span("api.Collection.search"):
            found = self.coll.search(req["start"], req["end"])
        with tr.span("api.Collection.composite_tiled"):
            out = found.composite_tiled("q-mosaic", tile_h=self.tile, tile_w=self.tile,
                                        scale=SCALE, max_cloud_dist=self.mcd)
        with tr.span("collect"):
            rows = out.collect()
        return rows, out

    def check(self, req, res, rng):
        from geedim_spark import codecs

        rows, _ = res
        t = self.tile
        want = self.qmosaic(req["stack"])
        if len(rows) != (self.px // t) ** 2:
            return False
        if any(r["n_inputs"] != self.truth["size"]["depth"] for r in rows):
            return False
        for r in rows:
            got = codecs.decode(bytes(r["bytes"]))
            exp = want[:, r["tr"] * t:(r["tr"] + 1) * t, r["tc"] * t:(r["tc"] + 1) * t]
            if not np.array_equal(got, exp, equal_nan=True):
                return False
        return True

    def work(self):
        return self.truth["size"]["depth"] * self.px * self.px * 2 / 1e6

    def results(self, res):
        return len(res[0])

    def close(self, res):
        res[1]._tile_cache.unpersist()


class SkewJoin:
    """spatial_join.adaptive_salted_join of a planted hot-cell table against
    a cell table the session may not broadcast; aggregated to (rows, sum)."""

    work_unit = "Mrows"

    def __init__(self, spark, path, truth, work_dir):
        self.spark, self.path, self.truth = spark, path, truth
        self.requests = [{"op": i} for i in range(8)]
        self.props = {"hot_key_share": truth["hot_share"],
                      "dim_rows": truth["dim_rows"]}

    def register(self):
        # the cell table stands in for one too big to broadcast
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        self.big = self.spark.read.parquet(f"{self.path}/big")
        self.dim = self.spark.read.parquet(f"{self.path}/dim")

    def run(self, req, tr):
        from pyspark.sql import functions as F

        from geedim_spark.operators import spatial_join as sj

        with tr.span("spatial_join.adaptive_salted_join"):
            j = sj.adaptive_salted_join(self.big, self.dim, "cell")
        with tr.span("collect"):
            row = j.agg(F.count(F.lit(1)).alias("n"),
                        F.sum(F.col("v") * F.col("weight")).alias("wsum")).first()
        return row, j

    def check(self, req, res, rng):
        row, _ = res
        return (row["n"] == self.truth["join_rows"]
                and row["wsum"] == self.truth["join_wsum"])

    def work(self):
        return self.truth["big_rows"] / 1e6

    def results(self, res):
        return 1

    def close(self, res):
        res[1]._salt_factors.unpersist()


WORKLOADS = {"tile_export": TileExport, "search": Search,
             "composite": Composite, "skew_join": SkewJoin}
