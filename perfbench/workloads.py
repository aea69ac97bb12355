"""The benchmark's workloads. Each one makes its inputs from the seed
(without Spark), runs one closed-loop repetition through the engine's public
entry points, and checks a repetition's output against an independent
replay.

- ``pipeline``: ``pipeline.run_pipeline`` on synthetic image rows (the
  flagship job: index + PIP + color in one Python crossing, chunked
  parquet writes, catalog and snapshot commits).
- ``scene``: ``sources.tiff_bridge.color_correct_tiff`` on one tiled,
  deflate-compressed GeoTIFF (``rio color in.tif out.tif``).

:class:`Queries` is not a timed workload: the per-op queries of
``__spark_entry__.queries()`` on seeded tables, checked against their DuckDB
oracles, run as a leg of traced ``scene`` runs (see ``run.py``).
"""

from __future__ import annotations

import os
import time

import numpy as np

#: the engine's flagship color chain (rio-color README example)
OPS = "gamma b 1.85, gamma rg 1.95, sigmoidal rgb 35 0.13, saturation 1.15"


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, name))
    return total


def replay_chain(arr: np.ndarray) -> np.ndarray:
    """The color chain applied to one (bands, h, w) array with plain NumPy:
    decode-scale, the DSL chain, rescale to the input dtype."""
    from rio_color_spark.functions.utils import scale_dtype, to_math_type
    from rio_color_spark.plans.dsl import compile_chain

    return scale_dtype(compile_chain(OPS)(to_math_type(arr)), arr.dtype)


class Pipeline:
    """``run_pipeline`` over ``n_rows`` synthetic images in ``n_files``
    parquet files; the seed picks the row-index range."""

    name = "pipeline"
    unit = "images"
    #: set-ups per run (session start + first repetition); setup_s is
    #: their median
    setups = 2

    n_rows = items = 4000
    n_files = 8
    n_polys = 40
    n_chunks = 4
    #: rows whose pixels the check replays
    sample = 64

    def prepare(self, work: str, seed: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from rio_color_spark.sources.images import generate_pandas
        from rio_color_spark.sources.polygons import packed_polygons

        self.seed = seed
        # rows 0 and 1 are the engine's golden fixtures: start past them
        self.first = 2 + (seed % 1_000_000) * self.n_rows
        self.src = os.path.join(work, "images")
        os.makedirs(self.src)
        idx = np.arange(self.first, self.first + self.n_rows)
        for k, part in enumerate(np.array_split(idx, self.n_files)):
            table = pa.Table.from_pandas(generate_pandas(part), preserve_index=False)
            pq.write_table(
                table, os.path.join(self.src, f"part-{k:05d}.parquet"),
                compression="lz4",
            )
        self.in_bytes = _dir_bytes(self.src)
        self.packed = packed_polygons(self.n_polys)

    def rep(self, spark, out: str) -> None:
        from rio_color_spark.pipeline import run_pipeline

        self.writer = run_pipeline(
            spark, self.src, os.path.join(out, "table"), self.packed, OPS,
            n_chunks=self.n_chunks, snapshot_base=os.path.join(out, "snapshot"),
        )

    def out_bytes(self, out: str) -> int:
        return _dir_bytes(os.path.join(out, "table"))

    def check(self, spark, out: str) -> list[str]:
        """Row counts, pixel replay of a seeded sample, and poly_ids against
        an all-pairs ray cast (no bbox prefilter)."""
        import pyarrow.parquet as pq

        from rio_color_spark.functions.pip import pip_pairs
        from rio_color_spark.sources import codec
        from rio_color_spark.sources.images import generate_pandas, lonlat_from_phash

        errors = []
        done = self.writer.committed()
        n_images = sum(r["counts"]["images"] for r in done.values())
        n_assign = sum(r["counts"]["assignments"] for r in done.values())
        if len(done) != self.n_chunks or n_images != self.n_rows:
            errors.append(f"committed {len(done)} chunks / {n_images} rows")
        table = pq.read_table(os.path.join(out, "table", "images")).to_pandas()
        table = table.sort_values("image_id").reset_index(drop=True)
        want_ids = [f"img{n:08d}" for n in range(self.first, self.first + self.n_rows)]
        if table["image_id"].tolist() != want_ids:
            errors.append("image ids differ from the input range")
            return errors

        lon, lat = lonlat_from_phash(table["phash"].to_numpy())
        n_poly = len(self.packed.poly_ids)
        pts = np.repeat(np.arange(len(table)), n_poly)
        polys = np.tile(np.arange(n_poly), len(table))
        inside = pip_pairs(lon[pts], lat[pts], polys, self.packed).reshape(-1, n_poly)
        want = [
            {self.packed.poly_ids[p] for p in np.nonzero(row)[0]} for row in inside
        ]
        got = [set(ids) for ids in table["poly_ids"]]
        if got != want:
            bad = sum(g != w for g, w in zip(got, want))
            errors.append(f"poly_ids differ from the all-pairs ray cast on {bad} rows")
        if n_assign != sum(len(w) for w in want):
            errors.append(f"{n_assign} assignment rows, want {sum(len(w) for w in want)}")

        rng = np.random.default_rng([self.seed, 1])
        rows = rng.choice(len(table), size=min(self.sample, len(table)), replace=False)
        src = generate_pandas(self.first + rows)
        for k, i in enumerate(rows):
            s = src.iloc[k]
            arr = codec.decode(s["bytes"], int(s["w"]), int(s["h"]), s["fmt"])
            o = table.iloc[i]
            got_px = codec.decode(o["bytes"], int(o["w"]), int(o["h"]), o["fmt"])
            if not np.array_equal(got_px, replay_chain(arr)):
                errors.append(f"pixels of {o['image_id']} differ from the replay")
                break
        return errors


class Scene:
    """``color_correct_tiff`` on one ``size``×``size`` RGB uint8 GeoTIFF
    with 256×256 deflate tiles; the seed picks the raster content."""

    name = "scene"
    unit = "tiles"
    setups = 2

    size = 1536
    tile = 256
    items = (size // tile) ** 2

    def prepare(self, work: str, seed: int) -> None:
        from rio_color_spark.sources import tiff as T

        rng = np.random.default_rng(seed)
        yy, xx = np.mgrid[0 : self.size, 0 : self.size]
        arr = np.empty((3, self.size, self.size), dtype=np.uint8)
        for b in range(3):
            fx, fy, phase = rng.uniform(0.002, 0.02, 2).tolist() + [rng.uniform(0, 6)]
            smooth = 127 + 100 * np.sin(xx * fx + phase) * np.cos(yy * fy)
            noise = rng.integers(-24, 25, (self.size, self.size))
            arr[b] = np.clip(smooth + noise, 0, 255).astype(np.uint8)
        os.makedirs(work)
        self.src = os.path.join(work, "scene.tif")
        prof = T.TiffProfile(
            width=self.size, height=self.size, count=3, dtype="uint8",
            compression=T.COMPRESSION_DEFLATE, tiled=True,
            tile_width=self.tile, tile_height=self.tile,
        )
        T.write_tiff(self.src, arr, prof)
        self.in_bytes = os.path.getsize(self.src)

    def rep(self, spark, out: str) -> None:
        from rio_color_spark.sources.tiff_bridge import color_correct_tiff

        os.makedirs(out, exist_ok=True)
        color_correct_tiff(spark, self.src, os.path.join(out, "out.tif"), OPS)

    def out_bytes(self, out: str) -> int:
        return os.path.getsize(os.path.join(out, "out.tif"))

    def check(self, spark, out: str) -> list[str]:
        from rio_color_spark.sources.tiff import read_tiff

        src, _ = read_tiff(self.src)
        got, _ = read_tiff(os.path.join(out, "out.tif"))
        if got.shape != src.shape or got.dtype != src.dtype:
            return [f"output raster {got.shape} {got.dtype}, want {src.shape} {src.dtype}"]
        for r in range(0, self.size, self.tile):
            if not np.array_equal(got[:, r : r + self.tile], replay_chain(src[:, r : r + self.tile])):
                return [f"pixels of rows {r}..{r + self.tile} differ from the replay"]
        return []


#: the per-op queries: bench.py's BENCH_QUERIES without tiff_ingest, which
#: needs TIFF fixtures that are not in the repository
QUERIES = (
    "gamma", "dsl_chain", "saturation", "tile_encode", "cell_encode",
    "pip_join", "knn_geo", "dedup_exact", "minhash_sig", "lsh_pairs",
    "simhash", "token_count", "quality", "ann_topk", "ann_lsh",
    "cosine_neardup", "band_stats", "tpch_q1", "events_window", "frames_y4m",
)


class Queries:
    """One pass over :data:`QUERIES` in a seeded order, each executed into
    the noop sink; a collecting pass keeps the results instead, and those
    are checked against the DuckDB oracles."""

    name = "queries"

    def prepare(self, work: str, seed: int) -> None:
        from querydata import write_tables

        self.sf = os.path.join(work, "sf")
        self.in_bytes = write_tables(self.sf, seed)
        order = np.random.default_rng(seed).permutation(len(QUERIES))
        self.order = [QUERIES[i] for i in order]
        self.results: dict = {}
        self.last_pass: list[tuple[str, float, float]] = []

    def rep(self, spark, out: str, collect: bool = False, after_query=None) -> None:
        """One pass; ``last_pass`` then holds (query, build s, execute s)."""
        import __spark_entry__ as E

        qs = E.queries()
        self.last_pass = []
        for name in self.order:
            t0 = time.perf_counter()
            df = qs[name](spark, self.sf)
            t1 = time.perf_counter()
            if collect:
                self.results[name] = df.toPandas()
            else:
                df.write.mode("overwrite").format("noop").save()
            self.last_pass.append((name, t1 - t0, time.perf_counter() - t1))
            if after_query is not None:
                after_query(name)

    def check(self, spark, out: str) -> list[str]:
        import duckdb

        import __spark_entry__ as E
        from scripts.check_oracles import compare_query

        # the TIFF golden reads a fixture outside the repository; tiff_ingest
        # is not part of this workload, so its oracle is not needed
        E._golden_tiff_values = lambda: ""
        oracles = E.oracle_sql()
        errors = []
        with duckdb.connect() as con:
            con.execute("SET enable_progress_bar = false")
            for t in ("lineitem", "documents", "embeddings", "events"):
                path = os.path.join(self.sf, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for name in QUERIES:
                if name not in self.results:
                    errors.append(f"{name}: no collected result")
                    continue
                if name not in oracles:
                    errors.append(f"{name}: no oracle")
                    continue
                diff = compare_query(self.results[name], con.execute(oracles[name]).df())
                if diff:
                    errors.append(f"{name}: {' | '.join(diff)}")
        return errors


WORKLOADS = {"pipeline": Pipeline, "scene": Scene}
