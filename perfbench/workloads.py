"""The benchmark's two workloads, each a closed-loop mix of requests that
drive the engine's public functions.

``raster`` (item: one source image): every job takes one parquet batch of
synthetic images through three products, each from its own scan — the
flagship (zone, tile) count plan, a GeoTIFF tile cut written to a fresh tile
store, and zonal statistics against the hot-zone fixture.

``dedup`` (item: one candidate document): every job admits one batch
through ``incremental_dedup`` against a persisted signature store, then
compacts the store.  A batch holds fresh documents, copies of resident
documents and copies of its own documents, so one admission loads both the
store probe and the batch self-join (LSH pairs, connected components,
survivor selection).  The store is restored from its set-up snapshot between
jobs so every admission sees the same store.

Each workload generates its inputs from the seed at set-up, computes an
independent NumPy/Python reference for every request, and checks every
request's output against it.  ``trace_targets`` lists the engine functions
a traced job wraps in spans; ``layer_metrics`` turns the spans of traced
jobs into per-layer numbers.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geo_raster_spark import codecs, geometry, synth, tiff
from geo_raster_spark.grid import RasterInfo, TileGrid, tile_tag
from geo_raster_spark.kernels import rasterize as rz
from geo_raster_spark.kernels import warp as warp_k
from geo_raster_spark.operators import components, dedup, footprint, mosaic
from geo_raster_spark.operators import pip_join, tile_assign, zonal
from geo_raster_spark.partitioning import grouped_stream
from geo_raster_spark.plans import flagship
from geo_raster_spark.sources import tile_store

from tracing import materialize

MAX_BUCKET = 200          # minhash_lsh / incremental_dedup default


class CheckFailed(Exception):
    """A request's output differs from the set-up reference."""


def _expect(cond: bool, msg: str):
    if not cond:
        raise CheckFailed(msg)


class Request:
    """One closed-loop job: ``run()`` calls the engine and returns its
    collected result; ``check(result)`` compares it with the reference and
    returns observed stats."""

    def __init__(self, name, items, run, check):
        self.name, self.items, self.run, self.check = name, items, run, check


def _dir_stats(path: str, suffix: str = "") -> tuple:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(suffix) and not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _rate(num, den) -> float:
    return float(num) / float(den) if den else 0.0


class Workload:
    """A seeded input set and the job run on it.  Subclasses provide
    ``prepare`` (inputs and references), ``request`` (the next job),
    ``trace_targets`` and the span tables below; this class wraps engine
    functions in spans and aggregates them."""

    name = ""
    job_s = 1.0               # nominal steady job time: sets jobs per run

    def __init__(self, spark, work: str, seed: int, tiny: bool):
        self.spark, self.work, self.seed, self.tiny = spark, work, seed, tiny
        self.cores = spark.sparkContext.defaultParallelism
        self.setup_layers: dict = {}

    def wrap(self, tracer, held, name, fn, probe=None, inject=None):
        """``fn`` inside span ``name``; a DataFrame result is materialized
        inside the span; ``probe(span, out, args, kwargs)`` runs after the
        traced job (untimed); ``inject(kwargs)`` may add keyword arguments
        (e.g. a stats dict)."""
        def traced(*args, **kwargs):
            if inject is not None:
                inject(kwargs)
            with tracer.span(name) as span:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = materialize(out, tracer, held)
            if probe is not None and span is not None:
                tracer.after_job(lambda: probe(span, out, args, kwargs))
            return out
        return traced

    # per-layer metrics from the spans of traced jobs, each the median
    # over traced jobs of a per-job value:
    SELF: dict = {}      # metric -> span name: summed self time
    COUNT: dict = {}     # metric -> (span name, count key): summed count
    RATIO: dict = {}     # metric -> (span name, numerator, denominator)

    def reset(self):
        """Restore state a job changed (untimed, after every job)."""

    def layer_metrics(self, jobs: list, selfs: dict, stats: list) -> dict:
        """``jobs``: the spans of each traced job; ``stats``: what the
        output checks of the traced jobs read back."""
        def per_job(fn):
            return _median(fn(spans) for spans in jobs)

        def cnt(spans, name, key):
            return sum(s.counts.get(key, 0.0) for s in spans
                       if s.name == name)

        out = {m: per_job(lambda sp, n=name: sum(
                   selfs[s.id] for s in sp if s.name == n))
               for m, name in self.SELF.items()}
        out.update({m: per_job(lambda sp, n=name, k=key: cnt(sp, n, k))
                    for m, (name, key) in self.COUNT.items()})
        out.update({m: per_job(lambda sp, n=name, a=num, b=den: _rate(
                        cnt(sp, n, a), cnt(sp, n, b)))
                    for m, (name, num, den) in self.RATIO.items()})
        out.update(self.check_metrics([s for s in stats if s]))
        out.update(self.setup_layers)
        return out

    def check_metrics(self, stats: list) -> dict:
        """Per-layer numbers read back by the output checks."""
        return {}


# ---------------------------------------------------------------------------
# raster: flagship plan + tile cut/store + zonal stats over one image batch
# ---------------------------------------------------------------------------

class Raster(Workload):
    name = "raster"
    job_s = 6.5               # one steady job, 4-core machine
    SELF = {
        "footprint.with_footprint_s": "footprint.with_footprint",
        "pip_join.pip_join_s": "pip_join.pip_join",
        "tile_assign.assign_tiles_s": "tile_assign.assign_tiles",
        "flagship.aggregate_self_s": "flagship.flagship",
        "partitioning.grouped_stream_noop_s":
            "partitioning.grouped_stream_noop",
        "mosaic.tile_cut_s": "mosaic.tile_cut",
        "tile_store.write_tile_files_s": "tile_store.write_tile_files",
        "tile_store.read_tile_files_s": "tile_store.read_tile_files",
        "zonal.zonal_partials_s": "zonal.zonal_partials",
        "zonal.zonal_combine_s": "zonal.zonal_combine",
    }
    COUNT = {
        "flagship.result_rows": ("flagship.flagship", "rows_out"),
        "mosaic.tiles_out": ("mosaic.tile_cut", "rows_out"),
        "zonal.partial_rows": ("zonal.zonal_partials", "rows_out"),
    }
    RATIO = {
        "pip_join.keep_ratio": ("pip_join.pip_join", "rows_out", "rows_in"),
        "tile_assign.fanout":
            ("tile_assign.assign_tiles", "rows_out", "rows_in"),
        "zonal.counted_px_frac":
            ("zonal.zonal_partials", "counted_px", "decoded_px"),
    }

    def prepare(self):
        n = 9 if self.tiny else 48
        self.n = n
        start = int(synth.splitmix64(np.array([self.seed], np.uint64))[0]
                    % np.uint64(10 ** 9))
        pdf = synth.images_pandas(n, start=start)
        self.images_pdf = pdf
        self.img_path = f"{self.work}/inputs/images"
        (self.spark.createDataFrame(pdf, schema=synth.IMAGES_SCHEMA)
             .coalesce(self.cores).write.parquet(self.img_path))
        self.zones = synth.zones_pandas(64, hot=False, seed=self.seed)
        self.hot_zones = synth.zones_pandas(64, hot=True, seed=self.seed)
        self.grid = TileGrid()
        self.meta = synth.image_meta(np.arange(start, start + n))
        self.tiles_dir = f"{self.work}/tiles"
        os.makedirs(self.tiles_dir)
        self._tile_seq = 0
        self._reference()

    # -- independent references -------------------------------------------
    @staticmethod
    def _inside(ring, xs, ys):
        """Even-odd containment allowing for a ring that crosses ±180°."""
        return (geometry.points_in_ring(ring, xs, ys)
                | geometry.points_in_ring(ring, xs + 360.0, ys)
                | geometry.points_in_ring(ring, xs - 360.0, ys))

    def _reference(self):
        m, g = self.meta, self.grid
        boxes = list(zip(m["minx"], m["miny"], m["maxx"], m["maxy"]))
        self.image_tiles = [list(g.list_tiles(b)) for b in boxes]
        per_tile = Counter(tile_tag(c, r) for ts in self.image_tiles
                           for c, r in ts)
        self.ref_tiles = dict(per_tile)

        fl = Counter()
        for _, z in self.zones.iterrows():
            ring = geometry.wkb_to_ring(z["geometry"])
            inside = self._inside(ring, m["lon"], m["lat"])
            for k in np.nonzero(inside)[0]:
                for c, r in self.image_tiles[k]:
                    fl[(int(z["zone_id"]), tile_tag(c, r))] += 1
        self.ref_flagship = dict(fl)

        cell = synth.CELL_SIZE
        zs = {}
        self.zonal_pairs = []          # (image k, zone ring) with pixels in
        for _, z in self.hot_zones.iterrows():
            ring = geometry.wkb_to_ring(z["geometry"])
            zx0, zy0, zx1, zy1 = geometry.ring_bbox(ring)
            px = imgs = 0
            for k in range(self.n):
                if (m["miny"][k] > zy1 or m["maxy"][k] < zy0
                        or not any(m["minx"][k] + s <= zx1
                                   and m["maxx"][k] + s >= zx0
                                   for s in (0.0, 360.0, -360.0))):
                    continue
                w, h = int(m["w"][k]), int(m["h"][k])
                xs = m["minx"][k] + (np.arange(w) + 0.5) * cell
                ys = m["maxy"][k] - (np.arange(h) + 0.5) * cell
                X, Y = np.meshgrid(xs, ys)
                c = int(self._inside(ring, X, Y).sum())
                if c:
                    px, imgs = px + c, imgs + 1
                    self.zonal_pairs.append((k, ring))
            if imgs:
                zs[int(z["zone_id"])] = (px, imgs)
        self.ref_zonal = zs

    # -- requests ------------------------------------------------------------
    def _images(self):
        return self.spark.read.parquet(self.img_path)

    def request(self) -> Request:
        return Request("batch", self.n, self._run, self._check)

    def _run(self):
        """The batch through all three products, each from its own scan."""
        self._tile_seq += 1
        d_out = f"{self.tiles_dir}/{self._tile_seq}"
        counts = flagship.flagship(self._images(), self.zones).collect()
        tiles = mosaic.tile_cut(footprint.with_footprint(self._images()),
                                out_fmt="tif")
        written = tile_store.write_tile_files(tiles, d_out)
        stats = zonal.zonal_stats(footprint.with_footprint(self._images()),
                                  self.hot_zones).collect()
        return counts, (d_out, written), stats

    def _check(self, res):
        counts, tiles, stats = res
        out = self._check_tiles(tiles)
        self._check_flagship(counts)
        self._check_zonal(stats)
        return out

    def _check_flagship(self, rows):
        got = {(r["zone_id"], r["tile_tag"]): r["n_images"] for r in rows}
        _expect(got == self.ref_flagship,
                f"flagship counts differ: {len(got)} keys vs "
                f"{len(self.ref_flagship)} expected")

    def _check_tiles(self, res):
        d_out, counts = res
        try:
            _expect(counts == {"written": len(self.ref_tiles),
                               "skipped": 0},
                    f"write_tile_files returned {counts}, expected "
                    f"{len(self.ref_tiles)} written")
            mets = {}
            painted = px = 0
            for root, _dirs, files in os.walk(d_out):
                for f in files:
                    if f.endswith(".met"):
                        with open(os.path.join(root, f)) as fh:
                            met = json.load(fh)
                        mets[met["tile"]] = met["n_images"]
                        painted += met["painted"]
                        px += met["width"] * met["height"]
            _expect(mets == self.ref_tiles,
                    f"tile store holds {len(mets)} tiles, expected "
                    f"{len(self.ref_tiles)} (or n_images differ)")
            _, tif_bytes = _dir_stats(d_out, ".tif")
            n_all, all_bytes = _dir_stats(d_out)
            return {"tiles": len(mets), "sources": sum(mets.values()),
                    "painted": painted, "tile_px": px, "files": n_all,
                    "bytes": all_bytes, "payload_bytes": tif_bytes}
        finally:
            shutil.rmtree(d_out, ignore_errors=True)

    def _check_zonal(self, rows):
        got = {int(r["zone_id"]): (int(r["n_pixels"]), int(r["n_images"]))
               for r in rows}
        diff = sorted(set(got.items()) ^ set(self.ref_zonal.items()))
        _expect(not diff, f"zonal n_pixels/n_images differ on {diff[:4]}")

    # -- tracing -------------------------------------------------------------
    def trace_targets(self, tracer, held) -> list:
        w = self.wrap
        spark = self.spark

        def rows_in(span, out, args, kwargs):
            span.counts["rows_in"] = float(args[0].count())

        def noop_stream(df, group_cols, fn, schema, *a, **k):
            def noop(_key, _pdf):
                return None
            with tracer.span("partitioning.grouped_stream_noop"):
                grouped_stream(df, group_cols, noop, schema, *a, **k) \
                    .count()
            return grouped_stream(df, group_cols, fn, schema, *a, **k)

        def zonal_probe(span, out, args, kwargs):
            wh = dict(zip(self.images_pdf["image_id"],
                          self.images_pdf["w"] * self.images_pdf["h"]))
            r = out.agg(F.sum("pcount").alias("px"),
                        F.collect_set("image_id").alias("ids")).collect()[0]
            span.counts["counted_px"] = float(r["px"] or 0)
            span.counts["decoded_px"] = float(sum(wh[i] for i in r["ids"]))

        orig_write = tile_store.write_tile_files

        def write_then_read(tiles, d_out, *a, **k):
            with tracer.span("tile_store.write_tile_files"):
                res = orig_write(tiles, d_out, *a, **k)
            with tracer.span("tile_store.read_tile_files"):
                tracer.count("rows_out", tile_store.read_tile_files(
                    spark, d_out).count())
            return res

        fp = w(tracer, held, "footprint.with_footprint",
               footprint.with_footprint)
        assign = w(tracer, held, "tile_assign.assign_tiles",
                   tile_assign.assign_tiles, probe=rows_in)
        return [
            (footprint, "with_footprint", fp),
            (pip_join, "pip_join", w(tracer, held, "pip_join.pip_join",
                                     pip_join.pip_join, probe=rows_in)),
            (tile_assign, "assign_tiles", assign),
            (mosaic, "assign_tiles", assign),
            (flagship, "flagship", w(tracer, held, "flagship.flagship",
                                     flagship.flagship)),
            (mosaic, "grouped_stream", noop_stream),
            (mosaic, "tile_cut", w(tracer, held, "mosaic.tile_cut",
                                   mosaic.tile_cut)),
            (tile_store, "write_tile_files", write_then_read),
            (zonal, "zonal_stats", w(tracer, held, "zonal.zonal_stats",
                                     zonal.zonal_stats)),
            (zonal, "zonal_partials", w(tracer, held, "zonal.zonal_partials",
                                        zonal.zonal_partials,
                                        probe=zonal_probe)),
            (zonal, "zonal_combine", w(tracer, held, "zonal.zonal_combine",
                                       zonal.zonal_combine)),
        ]

    def check_metrics(self, stats: list) -> dict:
        return {
            "mosaic.sources_per_tile":
                _median(_rate(s["sources"], s["tiles"]) for s in stats),
            "mosaic.painted_frac":
                _median(_rate(s["painted"], s["tile_px"]) for s in stats),
            "tile_store.bytes_per_payload_byte":
                _median(_rate(s["bytes"], s["payload_bytes"]) for s in stats),
            "tile_store.files_per_tile":
                _median(_rate(s["files"], s["tiles"]) for s in stats),
        }

    # -- single-thread kernels on the driver ---------------------------------
    def kernel_metrics(self, budget_s: float = 0.3) -> dict:
        """Mpixel/s of the per-pixel kernels over this batch's own payloads
        and tiles, each repeated for at least ``budget_s``."""
        def rate(fn, mpix):
            reps, t0 = 0, time.perf_counter()
            while True:
                fn()
                reps += 1
                dt = time.perf_counter() - t0
                if dt >= budget_s:
                    return mpix * reps / dt

        pdf, out = self.images_pdf, {}
        for fmt in ("png", "jpeg", "npy"):
            sel = pdf[pdf["fmt"] == fmt]
            mpix = float((sel["w"] * sel["h"]).sum()) / 1e6
            out[f"codecs.decode_{fmt}_mpix_per_s"] = rate(
                lambda s=sel: [codecs.decode(b, f) for b, f
                               in zip(s["bytes"], s["fmt"])], mpix)

        m, g = self.meta, self.grid
        decoded = [codecs.decode(b, f).astype(np.float64)
                   for b, f in zip(pdf["bytes"], pdf["fmt"])]
        infos = [RasterInfo((m["minx"][k], synth.CELL_SIZE, 0.0,
                             m["maxy"][k], 0.0, -synth.CELL_SIZE),
                            int(m["w"][k]), int(m["h"][k]), g.crs)
                 for k in range(self.n)]
        by_tile: dict = {}
        for k, ts in enumerate(self.image_tiles):
            for c, r in ts:
                by_tile.setdefault((c, r), []).append(k)
        tiles = sorted(by_tile.items())[:12]
        tile_mpix = sum(g.tile_info(c, r).width * g.tile_info(c, r).height
                        for (c, r), _ in tiles) / 1e6

        def paint():
            return [warp_k.mosaic(((decoded[k], infos[k]) for k in ks),
                                  g.tile_info(c, r), nodata=0.0,
                                  dtype=np.float64)
                    for (c, r), ks in tiles]
        out["kernels.warp.mosaic_mpix_per_s"] = rate(paint, tile_mpix)
        # the LZW encoder is pure Python: a few tiles give a stable rate
        enc = tiles[:3]
        bands = [np.clip(a, 0, 255).astype(np.uint8) for a in paint()][:3]
        gts = [g.tile_info(c, r).gt for (c, r), _ in enc]
        out["tiff.encode_tiff_mpix_per_s"] = rate(
            lambda: [tiff.encode_tiff(b, gt=gt, crs=g.crs)
                     for b, gt in zip(bands, gts)],
            sum(b.size for b in bands) / 1e6)
        pairs = self.zonal_pairs[:64]
        rz_mpix = sum(infos[k].width * infos[k].height
                      for k, _ in pairs) / 1e6
        out["kernels.rasterize.mpix_per_s"] = rate(
            lambda: [rz.rasterize([ring, ring + [360.0, 0.0],
                                   ring - [360.0, 0.0]], infos[k])
                     for k, ring in pairs], rz_mpix)
        return out


# ---------------------------------------------------------------------------
# dedup: admission against a persisted store (with the batch's own LSH
# self-join and components inside), then compaction
# ---------------------------------------------------------------------------

_BASE_WORDS = ["batch", "part", "spark", "line", "column", "order", "small",
               "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
               "filter", "query", "big", "key", "window", "row", "table",
               "stream", "merge", "data", "join", "cache", "shuffle", "plan",
               "stage"]
VOCAB = [f"{w}{i}" for w in _BASE_WORDS for i in range(10)]   # 300 tokens
WORDS_PER_DOC = 50
NEAR = " nearcopy"


_PFS = "dedup.minhash_pairs_from_sig"


class Dedup(Workload):
    name = "dedup"
    job_s = 10.0              # one steady job, 4-core machine
    SELF = {
        "dedup.minhash_signatures_np_s": "dedup.minhash_signatures_np",
        "dedup.minhash_pairs_from_sig_s": _PFS,
        "components.connected_components_s":
            "components.connected_components",
        "components.dedup_corpus_s": "components.dedup_corpus",
        "dedup.incremental_minhash_pairs_s":
            "dedup.incremental_minhash_pairs",
        "dedup.incremental_dedup_s": "dedup.incremental_dedup",
        "dedup.compact_store_s": "dedup.compact_store",
    }
    COUNT = {
        "dedup.band_rows": (_PFS, "band_rows"),
        "dedup.hot_bucket_rows": (_PFS, "hot_rows"),
        "dedup.candidate_pairs": (_PFS, "candidates"),
        "components.rounds": ("components.connected_components", "rounds"),
        "components.edges": ("components.connected_components", "edges"),
        "dedup.store_files": ("dedup.compact_store", "store_files"),
        "dedup.compact_files_after": ("dedup.compact_store", "files_after"),
    }
    RATIO = {
        "dedup.singleton_band_frac": (_PFS, "singleton_rows", "band_rows"),
        "dedup.pair_yield": (_PFS, "rows_out", "candidates"),
        "dedup.admit_ratio": ("dedup.incremental_dedup", "rows_out",
                              "rows_in"),
        "dedup.append_bytes_per_accepted_doc":
            ("dedup.append_to_minhash_store", "append_bytes",
             "appended_rows"),
        "dedup.store_bytes_per_live_row":
            ("dedup.compact_store", "store_bytes", "live_rows"),
    }

    def prepare(self):
        tiny = self.tiny
        self.n_resident = 300 if tiny else 3000
        fresh, near_r, exact_r, near_w, exact_w = \
            (30, 6, 6, 4, 4) if tiny else (300, 60, 60, 40, 40)
        rng = np.random.default_rng(self.seed)
        vocab = np.array(VOCAB)

        def texts(n):
            idx = rng.integers(0, len(vocab), size=(n, WORDS_PER_DOC))
            return [" ".join(row) for row in vocab[idx]]

        # resident store
        resident = texts(self.n_resident)
        self.store = f"{self.work}/store"
        self.snapshot = f"{self.work}/store_snapshot"
        res_path = self._write("resident", range(self.n_resident), resident)
        t0 = time.perf_counter()
        dedup.build_minhash_store(self.spark.read.parquet(res_path),
                                  self.store)
        self.setup_layers["dedup.build_minhash_store_s"] = \
            time.perf_counter() - t0
        shutil.copytree(self.store, self.snapshot)

        # admission batches: fresh docs, copies of resident docs, and
        # copies of the batch's own fresh docs (ids above their originals)
        self.batches = []
        for b in range(2):
            base = 1_000_000 * (b + 1)
            ids, txt = [], []
            f_txt = texts(fresh)
            ids += [base + j for j in range(fresh)]
            txt += f_txt
            pick = rng.choice(self.n_resident, near_r + exact_r,
                              replace=False)
            ids += [base + 100_000 + j for j in range(near_r + exact_r)]
            txt += ([resident[i] + NEAR for i in pick[:near_r]]
                    + [resident[i] for i in pick[near_r:]])
            own = rng.choice(fresh, near_w + exact_w, replace=False)
            ids += [base + 200_000 + j for j in range(near_w + exact_w)]
            txt += ([f_txt[i] + NEAR for i in own[:near_w]]
                    + [f_txt[i] for i in own[near_w:]])
            self.batches.append({
                "path": self._write(f"batch{b}", ids, txt),
                "n": len(ids),
                "accept": set(range(base, base + fresh))})
        self._batch_seq = 0

    def _write(self, name, ids, texts) -> str:
        path = f"{self.work}/inputs/{name}"
        pdf = pd.DataFrame({"doc_id": np.asarray(list(ids), np.int64),
                            "text": texts})
        (self.spark.createDataFrame(pdf, schema="doc_id long, text string")
             .coalesce(self.cores).write.parquet(path))
        return path

    def request(self) -> Request:
        b = self.batches[self._batch_seq % len(self.batches)]
        self._batch_seq += 1
        return Request("ingest", b["n"], lambda: self._run_ingest(b),
                       lambda res: self._check_ingest(b, res))

    def _run_ingest(self, b):
        new_docs = self.spark.read.parquet(b["path"])
        acc = dedup.incremental_dedup(self.spark, self.store, new_docs)
        ids = {r[0] for r in acc.select("doc_id").collect()}
        return ids, dedup.compact_store(self.spark, self.store)

    def _check_ingest(self, b, res):
        ids, comp = res
        _expect(ids == b["accept"],
                f"admitted {len(ids)} docs, expected {len(b['accept'])} "
                f"({len(ids - b['accept'])} wrongly admitted, "
                f"{len(b['accept'] - ids)} wrongly rejected)")
        live = self.n_resident + len(b["accept"])
        _expect(comp["rows_after"] == live,
                f"compaction kept {comp['rows_after']} rows, expected {live}")
        return {}

    def reset(self):
        shutil.rmtree(self.store)
        shutil.copytree(self.snapshot, self.store)

    # -- tracing -------------------------------------------------------------
    def trace_targets(self, tracer, held) -> list:
        w = self.wrap
        spark = self.spark

        def band_probe(span, out, args, kwargs):
            sig = args[0]
            hist = (dedup.band_table(sig).groupBy("band_id", "band_hash")
                    .count().groupBy("count").count().collect())
            rows = sing = hot = cand = 0
            for r in hist:
                size, n_buckets = int(r[0]), int(r[1])
                rows += size * n_buckets
                if size == 1:
                    sing += n_buckets
                if size > MAX_BUCKET:
                    hot += size * n_buckets
                else:
                    cand += n_buckets * size * (size - 1) // 2
            span.counts.update(band_rows=rows, singleton_rows=sing,
                               hot_rows=hot, candidates=cand)

        def cc_stats(kwargs):
            kwargs.setdefault("stats", {})

        def cc_probe(span, out, args, kwargs):
            st = kwargs.get("stats") or {}
            span.counts["rounds"] = float(st.get("iterations", 0))
            span.counts["edges"] = float(st.get("edges", 0))

        def batch_probe(span, out, args, kwargs):
            span.counts["rows_in"] = float(args[2].count())

        orig_append = dedup.append_to_minhash_store

        def append(spark_, path, *a, **k):
            before = _dir_stats(path, ".parquet")[1]
            with tracer.span("dedup.append_to_minhash_store") as span:
                n = orig_append(spark_, path, *a, **k)
            if span is not None:
                span.counts["append_bytes"] = float(
                    _dir_stats(path, ".parquet")[1] - before)
                span.counts["appended_rows"] = float(n)
            return n

        orig_compact = dedup.compact_store

        def compact(spark_, path, *a, **k):
            files, size = _dir_stats(path, ".parquet")
            with tracer.span("dedup.compact_store") as span:
                res = orig_compact(spark_, path, *a, **k)
            if span is not None:
                span.counts.update(store_files=float(files),
                                   store_bytes=float(size),
                                   live_rows=float(res["rows_after"]),
                                   files_after=float(res["files_after"]))
            return res

        return [
            (dedup, "minhash_signatures_np",
             w(tracer, held, "dedup.minhash_signatures_np",
               dedup.minhash_signatures_np)),
            (dedup, "minhash_pairs_from_sig",
             w(tracer, held, "dedup.minhash_pairs_from_sig",
               dedup.minhash_pairs_from_sig, probe=band_probe)),
            (components, "connected_components",
             w(tracer, held, "components.connected_components",
               components.connected_components, inject=cc_stats,
               probe=cc_probe)),
            (components, "dedup_corpus",
             w(tracer, held, "components.dedup_corpus",
               components.dedup_corpus)),
            (dedup, "incremental_minhash_pairs",
             w(tracer, held, "dedup.incremental_minhash_pairs",
               dedup.incremental_minhash_pairs)),
            (dedup, "incremental_dedup",
             w(tracer, held, "dedup.incremental_dedup",
               dedup.incremental_dedup, probe=batch_probe)),
            (dedup, "append_to_minhash_store", append),
            (dedup, "compact_store", compact),
        ]


WORKLOADS = {w.name: w for w in (Raster, Dedup)}
