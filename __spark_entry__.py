"""Driver contract for the spark-graft builder (PySpark target).

Each queries() entry runs a REAL engine operator (rio_color_spark) and each
oracle_sql() entry is its DuckDB twin generated from the same constants
(rio_color_spark/plans/sql_oracles.py). Float discipline per-query is
documented in that module; integer/string outputs are exact.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from rio_color_spark.functions import texthash as TH
from rio_color_spark.functions.operations import gamma, sigmoidal, simple_atmo
from rio_color_spark.functions.utils import scale_dtype, to_math_type
from rio_color_spark.operators import ann as ANN
from rio_color_spark.operators import dedup as DD
from rio_color_spark.operators import textops as TO
from rio_color_spark.operators.knn import knn_join
from rio_color_spark.operators.spatial import cell_udf, with_tiles
from rio_color_spark.operators.spatial_join import point_in_polygon_join
from rio_color_spark.plans import sql_oracles as SQL
from rio_color_spark.plans.dsl import compile_chain
from rio_color_spark.functions.pip import pack_polygons

EMB_DIM = 64

# fixed PIP fixture polygons (lon/lat) spanning the doc-point domain
PIP_POLYS = [
    ("tri", [(-120.0, -40.0), (-40.0, -45.0), (-80.0, 45.0)]),
    ("sq", [(-10.0, -30.0), (60.0, -30.0), (60.0, 35.0), (-10.0, 35.0)]),
    ("hex", [(90.0, -10.0), (120.0, -35.0), (160.0, -25.0), (170.0, 20.0), (130.0, 45.0), (95.0, 25.0)]),
]

FLAGSHIP = "gamma b 1.85 gamma rg 1.95 sigmoidal rgb 35 0.13 saturation 1.15"


#: (sf_dir, table) → inferred StructType. Schema inference costs ~75-115 ms
#: of driver time per reader call (InMemoryFileIndex + footer read);
#: passing the once-inferred schema back cuts repeat reads to ~16 ms.
#: Metadata-only (never rows): every execution still scans the parquet.
#: Spark's own inference is cached (not a pyarrow footer read) because the
#: arrow conversion maps timestamps to TimestampType where Spark infers
#: TIMESTAMP_NTZ for these fixtures — the values must stay bit-identical.
_SCHEMA_CACHE: dict[tuple[str, str], object] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    key = (sf_dir, name)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    return spark.read.schema(schema).parquet(path)


# -- native [0,1] channel derivations (exact rationals, mirror SQL.PX_*) ------


def _px_cols(df: DataFrame) -> DataFrame:
    return df.select(
        "l_orderkey",
        "l_linenumber",
        (((F.col("l_partkey") * 7 + F.col("l_suppkey")) % 997) / F.lit(996.0)).alias("px_r"),
        (((F.col("l_orderkey") * 13 + F.col("l_linenumber")) % 991) / F.lit(990.0)).alias("px_g"),
        (((F.col("l_partkey") * 3 + F.col("l_orderkey")) % 983) / F.lit(982.0)).alias("px_b"),
    )


def _doc_lonlat(df: DataFrame) -> DataFrame:
    lon = ((F.col("doc_id") * 7919) % 35000) / F.lit(100.0) - F.lit(175.0) + F.lit(0.005)
    lat = ((F.col("doc_id") * 104729) % 16000) / F.lit(100.0) - F.lit(80.0) + F.lit(0.005)
    return df.select("doc_id", lon.alias("lon"), lat.alias("lat"))


def _kernel1(fn, digits: int):
    """pandas UDF applying a 1-channel NumPy kernel, rounded."""

    @pandas_udf("double")
    def _u(s: pd.Series) -> pd.Series:
        return pd.Series(np.round(fn(s.to_numpy()), digits))

    return _u


def _kernel3(fn, digits: int, names=("out_r", "out_g", "out_b")):
    """pandas UDF applying a (3,N,1)-array kernel to three channels."""
    schema = ", ".join(f"{n} double" for n in names)

    @pandas_udf(schema)
    def _u(r: pd.Series, g: pd.Series, b: pd.Series) -> pd.DataFrame:
        arr = np.stack([r.to_numpy(), g.to_numpy(), b.to_numpy()])[:, :, None]
        out = fn(arr)
        return pd.DataFrame(
            {names[0]: np.round(out[0, :, 0], digits),
             names[1]: np.round(out[1, :, 0], digits),
             names[2]: np.round(out[2, :, 0], digits)}
        )

    return _u


# -- pixel-math queries -------------------------------------------------------


def q_gamma(spark, sf_dir):
    u = _kernel1(lambda a: gamma(a, 0.95), 7)
    return _px_cols(_t(spark, sf_dir, "lineitem")).select(
        "l_orderkey", "l_linenumber", u(F.col("px_r")).alias("gamma_r")
    )


def q_sigmoidal(spark, sf_dir):
    u = _kernel1(lambda a: sigmoidal(a, 10, 0.15), 7)
    return _px_cols(_t(spark, sf_dir, "lineitem")).select(
        "l_orderkey", "l_linenumber", u(F.col("px_r")).alias("sig_r")
    )


def q_sigmoidal_inverse(spark, sf_dir):
    u = _kernel1(lambda a: sigmoidal(a, -10, 0.15), 7)
    return _px_cols(_t(spark, sf_dir, "lineitem")).select(
        "l_orderkey", "l_linenumber", u(F.col("px_r")).alias("inv_r")
    )


def q_atmo(spark, sf_dir):
    u = _kernel3(lambda a: simple_atmo(a, 0.03, 10, 0.15), 7)
    df = _px_cols(_t(spark, sf_dir, "lineitem"))
    out = u(F.col("px_r"), F.col("px_g"), F.col("px_b"))
    return df.select("l_orderkey", "l_linenumber", out["out_r"].alias("atmo_r"),
                     out["out_g"].alias("atmo_g"), out["out_b"].alias("atmo_b"))


def q_saturation(spark, sf_dir):
    from rio_color_spark.functions.colorspace import saturate_rgb

    u = _kernel3(lambda a: saturate_rgb(a, 1.25), 6, ("sat_r", "sat_g", "sat_b"))
    df = _px_cols(_t(spark, sf_dir, "lineitem")).filter(F.col("l_linenumber") == 1)
    out = u(F.col("px_r"), F.col("px_g"), F.col("px_b"))
    return df.select("l_orderkey", out["sat_r"].alias("sat_r"),
                     out["sat_g"].alias("sat_g"), out["sat_b"].alias("sat_b"))


def q_dsl_chain(spark, sf_dir):
    fused = compile_chain(FLAGSHIP)
    u = _kernel3(fused, 6, ("c_r", "c_g", "c_b"))
    df = _px_cols(_t(spark, sf_dir, "lineitem")).filter(F.col("l_linenumber") == 1)
    out = u(F.col("px_r"), F.col("px_g"), F.col("px_b"))
    return df.select("l_orderkey", out["c_r"].alias("c_r"),
                     out["c_g"].alias("c_g"), out["c_b"].alias("c_b"))


def q_scale_dtype(spark, sf_dir):
    @pandas_udf("long")
    def u(s: pd.Series) -> pd.Series:
        px8 = scale_dtype(s.to_numpy(), np.uint8)  # truncating quantize
        out16 = scale_dtype(to_math_type(px8), np.uint16)
        return pd.Series(out16.astype(np.int64))

    return _px_cols(_t(spark, sf_dir, "lineitem")).select(
        "l_orderkey", "l_linenumber", u(F.col("px_r")).alias("px16")
    )


def q_colorspace_lch(spark, sf_dir):
    """convert_arr rgb→lch through the real vectorized routing."""
    from rio_color_spark.functions.colorspace import ColorSpace, convert_arr

    u = _kernel3(
        lambda a: convert_arr(a, ColorSpace.rgb, ColorSpace.lch), 6, ("l_", "c_", "h_")
    )
    df = _px_cols(_t(spark, sf_dir, "lineitem")).filter(F.col("l_linenumber") == 1)
    out = u(F.col("px_r"), F.col("px_g"), F.col("px_b"))
    return df.select(
        "l_orderkey", out["l_"].alias("l_"), out["c_"].alias("c_"), out["h_"].alias("h_")
    )


def q_colorspace_luv(spark, sf_dir):
    """convert_arr rgb→luv through the real vectorized routing
    (reference colorspace.pyx:432-453)."""
    from rio_color_spark.functions.colorspace import ColorSpace, convert_arr

    u = _kernel3(
        lambda a: convert_arr(a, ColorSpace.rgb, ColorSpace.luv), 6, ("l_", "u_", "v_")
    )
    df = _px_cols(_t(spark, sf_dir, "lineitem")).filter(F.col("l_linenumber") == 1)
    out = u(F.col("px_r"), F.col("px_g"), F.col("px_b"))
    return df.select(
        "l_orderkey", out["l_"].alias("l_"), out["u_"].alias("u_"), out["v_"].alias("v_")
    )


def q_luv_roundtrip(spark, sf_dir):
    """rgb→luv→rgb roundtrip through the real routing — drives _luv_to_xyz
    incl. its L==0 pin (reference colorspace.pyx:456-480)."""
    from rio_color_spark.functions.colorspace import ColorSpace, convert_arr

    u = _kernel3(
        lambda a: convert_arr(
            convert_arr(a, ColorSpace.rgb, ColorSpace.luv), ColorSpace.luv, ColorSpace.rgb
        ),
        6,
        ("rt_r", "rt_g", "rt_b"),
    )
    df = _px_cols(_t(spark, sf_dir, "lineitem")).filter(F.col("l_linenumber") == 1)
    out = u(F.col("px_r"), F.col("px_g"), F.col("px_b"))
    return df.select(
        "l_orderkey", out["rt_r"].alias("rt_r"),
        out["rt_g"].alias("rt_g"), out["rt_b"].alias("rt_b"),
    )


MAGICK_GOLDEN_IN = (
    "-channel B -sigmoidal-contrast 4 -gamma 0.95 "
    "-channel r -gamma 1.10 "
    "-channel rgb -sigmoidal-contrast 1x55% "
    "-channel G -gamma 0.9 -modulate 100,125 "
    "+channel -sigmoidal-contrast 3,40% -modulate 222,135"
)
MAGICK_GOLDEN_OUT = (
    "sigmoidal B 4 0.5 gamma B 0.95 gamma R 1.10 sigmoidal RGB 1 0.55 "
    "gamma G 0.9 saturation 1.25 sigmoidal RGB 3 0.4 saturation 1.35"
)


def q_magick_to_rio(spark, sf_dir):
    """driver-side string translator — output pinned against the golden."""
    from rio_color_spark.functions.utils import magick_to_rio

    return spark.createDataFrame([(magick_to_rio(MAGICK_GOLDEN_IN),)], "rio_ops string")


def q_atmo_opstring(spark, sf_dir):
    from rio_color_spark.functions.operations import simple_atmo_opstring

    return spark.createDataFrame(
        [(simple_atmo_opstring(0.03, 10, 0.15),)], "atmo_ops string"
    )


# -- spatial queries ----------------------------------------------------------


def q_tile_encode(spark, sf_dir):
    pts = _doc_lonlat(_t(spark, sf_dir, "documents"))
    return with_tiles(pts, zoom=12).select("doc_id", "tile_x", "tile_y")


def q_cell_encode(spark, sf_dir):
    pts = _doc_lonlat(_t(spark, sf_dir, "documents"))
    return pts.select(
        "doc_id", cell_udf(8)(F.col("lon"), F.col("lat")).alias("cell_id")
    )


def q_pip_join(spark, sf_dir):
    pts = with_tiles(_doc_lonlat(_t(spark, sf_dir, "documents")), zoom=8)
    packed = pack_polygons([(pid, np.array(ring)) for pid, ring in PIP_POLYS])
    out = point_in_polygon_join(pts, packed, zoom=8, pip_zoom=4)
    return out.select("doc_id", "poly_id")


def q_knn_geo(spark, sf_dir):
    # oracle: full SQL twin incl. the ring candidates with off-face
    # re-projection (plans/sql_oracles.knn_geo_query)
    pts = _doc_lonlat(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("image_id"), "lon", "lat"
    )
    pts = pts.withColumn("cell_id", cell_udf(3)(F.col("lon"), F.col("lat")))
    return knn_join(pts, k=3, level=3).select(
        F.col("image_id").alias("doc_id"),
        "neighbor_id",
        F.round(F.col("dist_km"), 6).alias("dist_km"),
        "rank",
    )


# -- dedup / text queries -----------------------------------------------------


def _docs_doubled(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.unionAll(d.select((F.col("doc_id") + 100000).alias("doc_id"), "text"))


def q_dedup_exact(spark, sf_dir):
    return DD.exact_dedup(_docs_doubled(spark, sf_dir)).select(
        "content_md5", "n_dups", "canonical_id"
    )


def q_minhash_sig(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    sig = DD.with_minhash(d)
    return sig.select("doc_id", *[f"mh{j}" for j in range(TH.N_MINHASH)])


def q_lsh_pairs(spark, sf_dir):
    return DD.minhash_lsh_pairs(
        _docs_doubled(spark, sf_dir), jaccard_threshold=0.5
    ).select("id_a", "id_b", "jaccard")


def q_simhash(spark, sf_dir):
    return DD.with_simhash(_t(spark, sf_dir, "documents")).select(
        F.col("id").alias("doc_id"), "simhash"
    )


def q_ngram_jaccard(spark, sf_dir):
    # threshold 0.01 so the gate hash-matches PAIR rows (179 at sf0.01),
    # not a near-empty aggregate (VERDICT r2 #7: the 0.05 gate passed on a
    # single row)
    d = _t(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(d, group_col="source", threshold=0.01).select(
        "id_a", "id_b", "jaccard"
    )


def q_lang_id(spark, sf_dir):
    return TO.with_lang_id(_t(spark, sf_dir, "documents")).select(
        "doc_id", "lang_pred"
    )


def q_quality(spark, sf_dir):
    return TO.with_quality(_t(spark, sf_dir, "documents")).select(
        "doc_id", "len_score", "punct_ratio", "mean_tok_len", "quality_score"
    )


def q_token_count(spark, sf_dir):
    return TO.with_token_count(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "bpe_est"
    )


def q_fingerprint(spark, sf_dir):
    return TO.with_fingerprint(_t(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


# -- embedding / ANN queries --------------------------------------------------


def q_ann_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    out = ANN.brute_force_topk(e, k=3, query_filter=F.col("id") < 50)
    return out.select(
        "query_id", "neighbor_id", F.round(F.col("cosine"), 6).alias("cosine"), "rank"
    )


def q_ann_lsh(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    out = ANN.lsh_bucket_topk(e, k=3, dim=EMB_DIM, query_filter=F.col("id") < 50)
    return out.select(
        "query_id", "bucket", "neighbor_id",
        F.round(F.col("cosine"), 6).alias("cosine"), "rank",
    )


def q_ann_lsh_multi(spark, sf_dir):
    """Multi-table OR-amplified LSH ANN (the 100-TB recall path)."""
    e = _t(spark, sf_dir, "embeddings")
    out = ANN.lsh_bucket_topk(
        e, k=3, dim=EMB_DIM, query_filter=F.col("id") < 50, n_tables=3
    )
    return out.select(
        "query_id", "neighbor_id", F.round(F.col("cosine"), 6).alias("cosine"), "rank"
    )


def q_cosine_neardup(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    out = ANN.cosine_neardup_pairs(e, threshold=0.35, dim=EMB_DIM)
    return out.select("id_a", "id_b", F.round(F.col("cosine"), 6).alias("cosine"))


# -- image-table operators (synthesized input; rows-only checks) --------------


def _synth_images(spark, sf_dir, n=400):
    from rio_color_spark.sources.images import images_df

    return images_df(spark, n)


def q_rasterize_points(spark, sf_dir):
    from rio_color_spark.operators.rasterize import rasterize_points
    from rio_color_spark.operators.spatial import with_spatial_index

    idx = with_spatial_index(_synth_images(spark, sf_dir).drop("bytes"), zoom=4, level=6)
    out = rasterize_points(idx, resolution=16, salt_n=4)
    return out.select(
        "tile_xyz", "tile_x", "tile_y", "tile_z", "n_points",
        F.md5("grid").alias("grid_md5"),
    )


def q_resize_images(spark, sf_dir):
    from rio_color_spark.operators.media import resize_images

    out = resize_images(_synth_images(spark, sf_dir), 8, 8)
    return out.select(
        "image_id", "w", "h", "fmt",
        F.length("bytes").alias("n_bytes"),
        F.md5("bytes").alias("bytes_md5"),
    )


def q_band_stats(spark, sf_dir):
    from rio_color_spark.operators.media import with_band_stats

    out = with_band_stats(_synth_images(spark, sf_dir))
    return out.select(
        "image_id", "band",
        F.round(F.col("mean"), 6).alias("mean"),
        F.round(F.col("std"), 6).alias("std"),
    )


def _golden_media_values() -> tuple[str, str]:
    """Pinned-golden VALUES tables for band_stats and resize_images.

    Computed here with an INDEPENDENT NumPy path (plain frombuffer /
    fancy-index math — no operators/media import), over the deterministic
    synthetic table definition (sources/images.generate_pandas). Full-
    precision float reprs are emitted; DuckDB applies the same round(…, 6)
    the Spark query applies, so both engines round the identical float64.
    """
    import hashlib

    from rio_color_spark.sources import codec
    from rio_color_spark.sources.images import generate_pandas

    pdf = generate_pandas(np.arange(400))
    stats_rows = []
    resize_rows = []
    for r in pdf.itertuples(index=False):
        info = codec.format_info(r.fmt)
        arr = np.frombuffer(r.bytes, dtype=info.dtype).reshape(
            info.bands, r.h, r.w
        )
        scaled = arr.astype(np.float64) / np.iinfo(info.dtype).max
        flat = scaled.reshape(info.bands, -1)
        for b in range(info.bands):
            stats_rows.append(
                f"('{r.image_id}', {b}, {float(flat[b].mean())!r}, {float(flat[b].std())!r})"
            )
        ri = np.minimum(((np.arange(8) + 0.5) * r.h / 8).astype(np.int64), r.h - 1)
        ci = np.minimum(((np.arange(8) + 0.5) * r.w / 8).astype(np.int64), r.w - 1)
        resized = np.ascontiguousarray(arr[:, ri[:, None], ci[None, :]])
        payload = resized.tobytes()
        md5 = hashlib.md5(payload).hexdigest()
        resize_rows.append(
            f"('{r.image_id}', 8, 8, '{r.fmt}', {len(payload)}, '{md5}')"
        )
    stats = (
        "SELECT image_id, band, round(mean_raw, 6) AS mean, round(std_raw, 6) AS std "
        "FROM (VALUES " + ", ".join(stats_rows)
        + ") AS g(image_id, band, mean_raw, std_raw)"
    )
    resize = (
        "SELECT * FROM (VALUES " + ", ".join(resize_rows)
        + ") AS g(image_id, w, h, fmt, n_bytes, bytes_md5)"
    )
    return stats, resize


def _fixture_points(spark, n=500):
    """The deterministic doc-point formula over a FIXED 500-id range, so
    the rasterize goldens are sf-independent (the documents table's row
    count varies with sf; the point formula does not)."""
    return _doc_lonlat(spark.range(n).select(F.col("id").alias("doc_id")))


def _fixture_masks(spark):
    from rio_color_spark.operators.rasterize import rasterize_polygons
    from rio_color_spark.operators.spatial import with_tiles

    pts = with_tiles(_fixture_points(spark), zoom=8)
    packed = pack_polygons([(pid, np.array(ring)) for pid, ring in PIP_POLYS])
    pairs = point_in_polygon_join(pts, packed, zoom=8, pip_zoom=4)
    return rasterize_polygons(pairs.select("tile_xyz", "poly_id"), packed, resolution=8)


def q_rasterize_polygons(spark, sf_dir):
    """Vector→raster: per-tile coverage masks of the PIP fixture polygons
    (mask payload gated by md5)."""
    out = _fixture_masks(spark)
    return out.select(
        "tile_xyz", "tile_x", "tile_y", "tile_z", F.md5("mask").alias("mask_md5")
    )


def q_vectorize_mask(spark, sf_dir):
    """Raster→vector: set pixels of the coverage masks back to lon/lat +
    cell ids (the inverse path)."""
    from rio_color_spark.operators.rasterize import vectorize_mask

    out = vectorize_mask(_fixture_masks(spark), resolution=8, level=6)
    # round(12): coarser than the ULP noise DuckDB's DECIMAL literal
    # inference adds to the golden, finer than any decimal tie (pixel lons
    # are exact dyadic decimals at 8 digits — rounding them at 12 is the
    # identity; 8-digit rounding would hit exact .5 ties where Spark and
    # DuckDB disagree on direction)
    return out.select(
        "tile_xyz",
        F.round(F.col("lon"), 12).alias("lon"),
        F.round(F.col("lat"), 12).alias("lat"),
        "cell_id",
    )


def _golden_raster_vector_values() -> tuple[str, str]:
    """Pinned goldens for rasterize_polygons / vectorize_mask, computed
    with a single-pass driver-side derivation (no Spark, no applyInPandas
    grouping): doc points → tiles → PIP membership → per-tile pixel-grid
    ray cast → masks (+ the set-pixel inverse)."""
    import hashlib

    from rio_color_spark.functions import cells as cellmod
    from rio_color_spark.functions import tiles as tilemod
    from rio_color_spark.functions.pip import pip_multi
    from rio_color_spark.functions.pip import pack_polygons as _pack

    res, zoom, level = 8, 8, 6
    n_docs = 500
    doc_id = np.arange(n_docs)
    lon = ((doc_id * 7919) % 35000) / 100.0 - 175.0 + 0.005
    lat = ((doc_id * 104729) % 16000) / 100.0 - 80.0 + 0.005
    packed = _pack([(pid, np.array(ring)) for pid, ring in PIP_POLYS])
    tx, ty = tilemod.tile_xy(lon, lat, zoom)
    txyz = tilemod.pack_tile(tx, ty, zoom)
    members = pip_multi(lon, lat, packed)
    tile_polys: dict[int, set[str]] = {}
    for k in range(n_docs):
        for pid in members[k]:
            tile_polys.setdefault(int(txyz[k]), set()).add(pid)
    idx_of = {pid: i for i, pid in enumerate(packed.poly_ids)}

    mask_rows = []
    vec_rows = []
    for t in sorted(tile_polys):
        x = int((t >> 29) & ((1 << 29) - 1))
        y = int(t & ((1 << 29) - 1))
        glon, glat = tilemod.tile_pixel_lonlat(x, y, zoom, res)
        mlon, mlat = np.meshgrid(glon, glat)
        mask = np.zeros(res * res, dtype=bool)
        from rio_color_spark.functions.pip import pip_pairs

        for pid in tile_polys[t]:
            mask |= pip_pairs(
                mlon.ravel(), mlat.ravel(),
                np.full(res * res, idx_of[pid]), packed,
            )
        md5 = hashlib.md5(mask.astype(np.uint8).tobytes()).hexdigest()
        mask_rows.append(f"({t}, {x}, {y}, {zoom}, '{md5}')")
        ridx, cidx = np.nonzero(mask.reshape(res, res))
        if len(ridx):
            plon, plat = glon[cidx], glat[ridx]
            cells = cellmod.encode_cell(plon, plat, level)
            for a, b, c in zip(plon, plat, cells):
                vec_rows.append(f"({t}, {float(a)!r}, {float(b)!r}, {int(c)})")
    masks_sql = (
        "SELECT * FROM (VALUES " + ", ".join(mask_rows)
        + ") AS g(tile_xyz, tile_x, tile_y, tile_z, mask_md5)"
    )
    vec_sql = (
        "SELECT tile_xyz, round(lon_raw::DOUBLE, 12) AS lon, "
        "round(lat_raw::DOUBLE, 12) AS lat, cell_id "
        "FROM (VALUES " + ", ".join(vec_rows)
        + ") AS g(tile_xyz, lon_raw, lat_raw, cell_id)"
    )
    return masks_sql, vec_sql


def q_sample_frames(spark, sf_dir):
    """Frame sampling over real multi-frame npyseq8 clips (every_k=2);
    still rows pass through as 1-frame clips. Payloads gated by md5."""
    from rio_color_spark.operators.media import sample_frames
    from rio_color_spark.sources.images import clips_df

    out = sample_frames(clips_df(spark, 96), every_k=2)
    return out.select(
        "image_id", "frame", "w", "h", "fmt",
        F.length("bytes").alias("n_bytes"),
        F.md5("bytes").alias("bytes_md5"),
    )


def _golden_frames_values() -> str:
    """Pinned golden for sample_frames: independent slicing arithmetic
    (plain bytes[f*fsize:(f+1)*fsize] over the deterministic clip table —
    no operators/media import)."""
    import hashlib

    from rio_color_spark.sources.images import generate_clips_pandas

    rows = []
    for r in generate_clips_pandas(np.arange(96)).itertuples(index=False):
        if r.fmt == "npyseq8":
            fsize = 3 * r.h * r.w
            for f in range(0, len(r.bytes) // fsize, 2):
                p = r.bytes[f * fsize : (f + 1) * fsize]
                rows.append(
                    f"('{r.image_id}', {f}, {r.w}, {r.h}, 'npy8', {len(p)}, "
                    f"'{hashlib.md5(p).hexdigest()}')"
                )
        else:
            rows.append(
                f"('{r.image_id}', 0, {r.w}, {r.h}, '{r.fmt}', {len(r.bytes)}, "
                f"'{hashlib.md5(r.bytes).hexdigest()}')"
            )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") AS g(image_id, frame, w, h, fmt, n_bytes, bytes_md5)"
    )


#: the in-repo parity raster (written by scripts/make_tiff_fixtures.py); the
#: golden's ``rgb8:`` image ids come from its file stem
REF_TIF = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures", "rgb8.tif"
)


def _png_gate_rows():
    """Deterministic (image_id, arr, fmt, w, h) rows for the png_decode
    gate — a fixed arithmetic pixel recipe (no RNG, no files), covering
    RGB/RGBA uint8 and RGB uint16 payloads at varied shapes."""
    from rio_color_spark.sources import codec

    rows = []
    for i in range(12):
        fmt = ("png", "pnga", "png16")[i % 3]
        info = codec.format_info(fmt)
        h, w = 16 + (i % 4) * 8, 12 + (i % 3) * 10
        peak = int(np.iinfo(info.dtype).max) + 1
        base = np.arange(info.bands * h * w, dtype=np.int64) * (2 * i + 3) + 7 * i
        arr = (base % peak).astype(info.dtype).reshape(info.bands, h, w)
        rows.append((f"png:{i:03d}", arr, fmt, w, h))
    return rows


def q_png_decode(spark, sf_dir):
    """Real PNG payload columns: encode deterministic rasters to PNG on
    the driver, then DISTRIBUTED decode→raw transcode through the codec
    chokepoint (operators/media.py transcode_images → sources/png.py).
    The oracle twin hashes the pre-encode arrays — zero shared code with
    the PNG decode path."""
    from rio_color_spark.operators.media import transcode_images
    from rio_color_spark.sources import codec

    data = [
        (iid, bytearray(codec.encode(arr, fmt)), w, h, fmt)
        for iid, arr, fmt, w, h in _png_gate_rows()
    ]
    df = spark.createDataFrame(
        data, "image_id string, bytes binary, w int, h int, fmt string"
    )
    out = transcode_images(
        df, {"png": "npy8", "pnga": "npy8a", "png16": "npy16"}
    )
    return out.select(
        "image_id", "w", "h", "fmt",
        F.length("bytes").alias("n_bytes"),
        F.md5("bytes").alias("bytes_md5"),
    )


def _golden_png_values() -> str:
    """Golden twin for png_decode: raw tobytes + md5 of the SOURCE arrays
    (the PNG codec never runs here)."""
    import hashlib

    raw_fmt = {"png": "npy8", "pnga": "npy8a", "png16": "npy16"}
    rows = []
    for iid, arr, fmt, w, h in _png_gate_rows():
        payload = np.ascontiguousarray(arr).tobytes()
        rows.append(
            f"('{iid}', {w}, {h}, '{raw_fmt[fmt]}', {len(payload)}, "
            f"'{hashlib.md5(payload).hexdigest()}')"
        )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") AS g(image_id, w, h, fmt, n_bytes, bytes_md5)"
    )


def q_tiff_ingest(spark, sf_dir):
    """Distributed GeoTIFF ingest of the parity raster (tests/fixtures/rgb8.tif:
    the reference's 438x500, 32x32-LZW-tile shape, written by the engine's
    own encoder): driver parses only the header, executors decode disjoint
    LZW tile ranges into image-table rows (sources/tiff_bridge.py)."""
    from rio_color_spark.sources import tiff_bridge as TB

    return TB.tiff_rows(spark, REF_TIF)[0].select(
        "image_id", "w", "h", "fmt",
        F.length("bytes").alias("n_bytes"),
        F.md5("bytes").alias("bytes_md5"),
    )


def _golden_tiff_values() -> str:
    """Golden twin for tiff_ingest: whole-raster read + plain NumPy grid
    slicing on the driver — none of the Spark bridge's chunk-range /
    mapInPandas / per-tile-decode plumbing is shared. The raster is
    engine-written, so this pins the bridge against the codec, not the
    codec against libtiff; that interop is checked only by
    tests/test_tiff.py::test_lzw_matches_libtiff_ratio, where the
    reference's libtiff-written rasters exist."""
    import hashlib

    from rio_color_spark.sources.tiff import read_tiff

    arr, prof = read_tiff(REF_TIF)
    rows = []
    across = -(-prof.width // prof.tile_width)
    down = -(-prof.height // prof.tile_height)
    for idx in range(across * down):
        r, c = divmod(idx, across)
        tile = arr[
            :,
            r * prof.tile_height : (r + 1) * prof.tile_height,
            c * prof.tile_width : (c + 1) * prof.tile_width,
        ]
        payload = np.ascontiguousarray(tile).tobytes()
        rows.append(
            f"('rgb8:{idx:06d}', {tile.shape[2]}, {tile.shape[1]}, 'npy8', "
            f"{len(payload)}, '{hashlib.md5(payload).hexdigest()}')"
        )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") AS g(image_id, w, h, fmt, n_bytes, bytes_md5)"
    )


def q_frames_y4m(spark, sf_dir):
    """Frame sampling through the REAL video container path: clips are
    wrapped into YUV4MPEG2 streams executor-side, then decoded by the
    registry decoder (operators/media.CLIP_DECODERS) and sampled."""
    from rio_color_spark.operators.media import sample_frames
    from rio_color_spark.sources.images import CLIPS_SCHEMA, clips_df

    def to_y4m(batches):
        from rio_color_spark.sources import y4m

        for pdf in batches:
            out = pdf.copy()
            bufs, fmts = [], []
            for r in pdf.itertuples(index=False):
                if r.fmt == "npyseq8":
                    clip = np.frombuffer(r.bytes, np.uint8).reshape(
                        -1, 3, r.h, r.w
                    )
                    bufs.append(y4m.encode(clip, chroma="444"))
                    fmts.append("y4m")
                else:
                    bufs.append(r.bytes)
                    fmts.append(r.fmt)
            out["bytes"] = bufs
            out["fmt"] = fmts
            yield out

    wrapped = clips_df(spark, 48).mapInPandas(to_y4m, schema=CLIPS_SCHEMA)
    out = sample_frames(wrapped, every_k=3)
    return out.select(
        "image_id", "frame", "w", "h", "fmt",
        F.length("bytes").alias("n_bytes"),
        F.md5("bytes").alias("bytes_md5"),
    )


def _golden_y4m_values() -> str:
    """Golden twin for frames_y4m: driver-side encode → decode → stride
    slice (no operators/media plumbing; the codec math is pinned against
    hand-built YUV streams by tests/test_y4m.py)."""
    import hashlib

    from rio_color_spark.sources import y4m
    from rio_color_spark.sources.images import generate_clips_pandas

    rows = []
    for r in generate_clips_pandas(np.arange(48)).itertuples(index=False):
        if r.fmt == "npyseq8":
            clip = np.frombuffer(r.bytes, np.uint8).reshape(-1, 3, r.h, r.w)
            decoded = y4m.decode(y4m.encode(clip, chroma="444"))
            for f in range(0, decoded.shape[0], 3):
                p = np.ascontiguousarray(decoded[f]).tobytes()
                rows.append(
                    f"('{r.image_id}', {f}, {r.w}, {r.h}, 'npy8', {len(p)}, "
                    f"'{hashlib.md5(p).hexdigest()}')"
                )
        else:
            rows.append(
                f"('{r.image_id}', 0, {r.w}, {r.h}, '{r.fmt}', "
                f"{len(r.bytes)}, '{hashlib.md5(r.bytes).hexdigest()}')"
            )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") AS g(image_id, frame, w, h, fmt, n_bytes, bytes_md5)"
    )


def q_frames_mjpeg(spark, sf_dir):
    """Frame sampling through the COMPRESSED video container path:
    clips wrap into MJPEG AVI (every frame an independent baseline JPEG,
    sources/avi.py) executor-side, then the registry decoder
    (operators/media.CLIP_DECODERS['avi']) decodes and samples."""
    from rio_color_spark.operators.media import sample_frames
    from rio_color_spark.sources.images import CLIPS_SCHEMA, clips_df

    def to_avi(batches):
        from rio_color_spark.sources import avi

        for pdf in batches:
            out = pdf.copy()
            bufs, fmts = [], []
            for r in pdf.itertuples(index=False):
                if r.fmt == "npyseq8":
                    clip = np.frombuffer(r.bytes, np.uint8).reshape(
                        -1, 3, r.h, r.w
                    )
                    bufs.append(avi.encode_avi(clip))
                    fmts.append("avi")
                else:
                    bufs.append(r.bytes)
                    fmts.append(r.fmt)
            out["bytes"] = bufs
            out["fmt"] = fmts
            yield out

    wrapped = clips_df(spark, 32).mapInPandas(to_avi, schema=CLIPS_SCHEMA)
    out = sample_frames(wrapped, every_k=2)
    return out.select(
        "image_id", "frame", "w", "h", "fmt",
        F.length("bytes").alias("n_bytes"),
        F.md5("bytes").alias("bytes_md5"),
    )


def _golden_mjpeg_values() -> str:
    """Golden twin for frames_mjpeg: driver-side encode → decode → stride
    slice (no operators/media plumbing; the container structure and JPEG
    math are pinned by tests/test_avi.py / test_tiff.py)."""
    import hashlib

    from rio_color_spark.sources import avi
    from rio_color_spark.sources.images import generate_clips_pandas

    rows = []
    for r in generate_clips_pandas(np.arange(32)).itertuples(index=False):
        if r.fmt == "npyseq8":
            clip = np.frombuffer(r.bytes, np.uint8).reshape(-1, 3, r.h, r.w)
            decoded = avi.decode_avi(avi.encode_avi(clip))
            for f in range(0, decoded.shape[0], 2):
                p = np.ascontiguousarray(decoded[f]).tobytes()
                rows.append(
                    f"('{r.image_id}', {f}, {r.w}, {r.h}, 'npy8', {len(p)}, "
                    f"'{hashlib.md5(p).hexdigest()}')"
                )
        else:
            rows.append(
                f"('{r.image_id}', 0, {r.w}, {r.h}, '{r.fmt}', "
                f"{len(r.bytes)}, '{hashlib.md5(r.bytes).hexdigest()}')"
            )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") AS g(image_id, frame, w, h, fmt, n_bytes, bytes_md5)"
    )


def q_snapshot_rowops(spark, sf_dir):
    """Row-level DELETE + UPDATE on a snapshot table (copy-on-write,
    Iceberg semantics, sources/snapshots.py): delete a residue class,
    then update a language cohort — the final read must equal plain SQL
    DELETE/UPDATE over the same source rows."""
    import tempfile

    from rio_color_spark.sources.snapshots import SnapshotTable

    base = tempfile.mkdtemp(prefix="rcs_gate_rowops_") + "/t"
    t = SnapshotTable.create(base, "doc_id bigint, lang string, n_chars bigint")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    # two appends so the delete rewrites some files and keeps others
    t.append(docs.filter("doc_id % 2 = 0"))
    t.append(docs.filter("doc_id % 2 = 1"))
    t.delete_where(spark, "n_chars % 10 = 3")
    t.update_where(spark, "lang = 'de'", {"n_chars": "n_chars + 1000"})
    return t.read(spark)


def q_snapshot_merge(spark, sf_dir):
    """MERGE INTO (copy-on-write upsert, sources/snapshots.py): update a
    residue-class cohort from a source frame and insert brand-new keys,
    in ONE snapshot — the final read must equal plain SQL upsert
    semantics over the same rows."""
    import tempfile

    from rio_color_spark.sources.snapshots import SnapshotTable

    base = tempfile.mkdtemp(prefix="rcs_gate_merge_") + "/t"
    t = SnapshotTable.create(base, "doc_id bigint, lang string, n_chars bigint")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    t.append(docs)
    src = docs.filter("doc_id % 3 = 0").selectExpr(
        "doc_id", "'xx' AS lang", "n_chars + 5000 AS n_chars"
    ).union(
        docs.filter("doc_id % 5 = 0").selectExpr(
            "doc_id + 10000000 AS doc_id", "lang", "n_chars + 7 AS n_chars"
        )
    )
    t.merge_into(spark, src, on="doc_id")
    return t.read(spark)


def q_snapshot_time_travel(spark, sf_dir):
    """Iceberg-facade snapshot semantics (sources/snapshots.py) through
    the hash gate: three appends — the third AFTER an add_column schema
    evolution — then the current read unioned with a VERSION-AS-OF read
    of the first snapshot. Old files surface the evolved column as NULL
    (id-based projection); the v1 read proves time travel sees the
    pre-append, pre-evolution state."""
    import tempfile

    from rio_color_spark.sources.snapshots import SnapshotTable

    base = tempfile.mkdtemp(prefix="rcs_gate_snap_") + "/t"
    t = SnapshotTable.create(base, "doc_id bigint, lang string, n_chars bigint")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    t.append(docs.filter("doc_id % 3 = 0"))
    sid1 = t.metadata()["current_snapshot_id"]
    t.append(docs.filter("doc_id % 3 = 1"))
    t.add_column("flag", "bigint")
    t.append(
        docs.filter("doc_id % 3 = 2").withColumn("flag", F.expr("doc_id % 7"))
    )
    cur = t.read(spark).withColumn("view", F.lit("current"))
    v1 = (
        t.read(spark, snapshot_id=sid1)
        .withColumn("flag", F.lit(None).cast("bigint"))
        .withColumn("view", F.lit("v1"))
    )
    return cur.unionByName(v1)


def q_snapshot_prune(spark, sf_dir):
    """Manifest min/max file pruning (Iceberg's metadata-level scan
    planning): three single-file appends with disjoint doc_id thirds,
    then a bounded read that must plan exactly ONE of the three files.
    The planning report rides on the result as literal columns so the
    oracle hash-pins the pruning decision itself, not just row values."""
    import tempfile

    from rio_color_spark.sources.snapshots import SnapshotTable

    base = tempfile.mkdtemp(prefix="rcs_gate_prune_") + "/t"
    t = SnapshotTable.create(base, "doc_id bigint, lang string, n_chars bigint")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    n = docs.count()
    lo, hi = n // 3, 2 * n // 3
    for pred in (
        f"doc_id < {lo}",
        f"doc_id >= {lo} AND doc_id < {hi}",
        f"doc_id >= {hi}",
    ):
        t.append(docs.filter(pred).coalesce(1))
    _, report = t.plan_files(predicates={"doc_id": (lo, hi - 1)})
    out = t.read(spark, predicates={"doc_id": (lo, hi - 1)})
    return out.select(
        "doc_id",
        "lang",
        "n_chars",
        F.lit(report["files_total"]).alias("files_total"),
        F.lit(report["files_scanned"]).alias("files_scanned"),
    )


#: pinned golden for the optimize_color e2e gate (seed=0, steps=40,
#: even/odd phash split of the 120-row synthetic table — deterministic:
#: the sample is every pixel of every src image, energies are
#: order-invariant histograms, the annealer is seeded)
OPTIMIZE_GOLDEN = {
    "ops": "gamma r 1.10, gamma g 1.10, gamma b 1.04, sigmoidal rgb 8.55 0.5",
    "score": 18.186437,
    "initial_score": 26.150938,
}


def q_optimize_color(spark, sf_dir):
    """End-to-end simulated annealing (reference scripts/optimize_color.py
    :50-191): distributed histograms + bounded pixel sample, driver-side
    annealing loop; emits the found ops string + scores."""
    from rio_color_spark.operators.optimize import optimize_color
    from rio_color_spark.sources.images import images_df

    imgs = images_df(spark, 120)
    src = imgs.filter(F.col("phash") % 2 == 0)
    ref = imgs.filter(F.col("phash") % 2 != 0)
    res = optimize_color(src, ref, steps=40, seed=0, max_pixels=100_000)
    return spark.createDataFrame(
        [(res["ops"], round(res["score"], 6), round(res["initial_score"], 6))],
        "ops string, score double, initial_score double",
    )


def q_stream_drain(spark, sf_dir):
    """The streaming lane's oracle gate: availableNow drain of the events
    table through readStream → windowed agg → memory sink; the drained
    result must hash-match the batch twin (events_window's oracle)."""
    from rio_color_spark.streaming.pipeline import drain_windowed_agg

    out = drain_windowed_agg(spark, f"{sf_dir}/events.parquet")
    return out.select(
        F.date_format(F.col("win")["start"], "yyyy-MM-dd HH:mm:ss").alias("minute"),
        "event_type",
        "n",
        F.round(F.col("sum_value"), 4).alias("sum_value"),
    )


def q_band_histogram(spark, sf_dir):
    """Distributed exact 10-bin per-band histogram (the optimize_color
    building block, reference scripts/optimize_color.py:168-191)."""
    from rio_color_spark.operators.optimize import histogram_df

    return histogram_df(_synth_images(spark, sf_dir)).select("band", "bin", "n")


def _golden_histogram_values() -> str:
    """Pinned golden: single-pass NumPy histogram over the 400 synthetic
    images — gates the distributed partial+merge plan."""
    import numpy as np

    from rio_color_spark.sources import codec
    from rio_color_spark.sources.images import generate_pandas

    edges = [x / 10 for x in range(11)]
    counts = np.zeros((3, 10), dtype=np.int64)
    for r in generate_pandas(np.arange(400)).itertuples(index=False):
        info = codec.format_info(r.fmt)
        arr = np.frombuffer(r.bytes, dtype=info.dtype).reshape(info.bands, r.h, r.w)
        scaled = arr.astype(np.float64) / np.iinfo(info.dtype).max
        for b in range(3):
            counts[b] += np.histogram(scaled[b], bins=edges)[0]
    rows = [
        f"({b}, {k}, {int(counts[b, k])})" for b in range(3) for k in range(10)
    ]
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows) + ") AS g(band, bin, n)"
    )


def _golden_rasterize_values() -> str:
    """Pinned golden for rasterize_points: the per-tile density grids of the
    400 synthetic points, computed GLOBALLY (no salting, no Spark) — so the
    driver gate proves the salted two-level aggregation merges to the same
    grids a single-pass computation produces."""
    import hashlib

    import numpy as np

    from rio_color_spark.functions import tiles as tilemod
    from rio_color_spark.sources.images import lonlat_from_phash, phash_for

    zoom, res = 4, 16
    lon, lat = lonlat_from_phash(phash_for(np.arange(400)))
    tx, ty = tilemod.tile_xy(lon, lat, zoom)
    txyz = tilemod.pack_tile(tx, ty, zoom)
    n = 1 << zoom
    rows = []
    for t in np.unique(txyz):
        sel = txyz == t
        x, y = int(tx[sel][0]), int(ty[sel][0])
        fx = (lon[sel] + 180.0) / 360.0 * n - x
        fy = tilemod.mercator_y_frac(lat[sel]) * n - y
        col = np.clip((fx * res).astype(np.int64), 0, res - 1)
        row = np.clip((fy * res).astype(np.int64), 0, res - 1)
        grid = np.zeros(res * res, dtype=np.int64)
        np.add.at(grid, row * res + col, 1)
        md5 = hashlib.md5(grid.tobytes()).hexdigest()
        rows.append(
            f"({int(t)}, {x}, {y}, {zoom}, {int(sel.sum())}, '{md5}')"
        )
    return (
        "SELECT * FROM (VALUES " + ", ".join(rows)
        + ") AS g(tile_xyz, tile_x, tile_y, tile_z, n_points, grid_md5)"
    )


# -- relational / streaming-adjacent showcases --------------------------------


def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_events_window(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(
                F.window(F.col("ts"), "1 minute")["start"], "yyyy-MM-dd HH:mm:ss"
            ).alias("minute"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


# ==============================================================================


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize the images table deterministically from the
    sf0.001 documents rows, run index → PIP → fused color-correct, return
    the colored+indexed result (stable schema, >0 rows)."""
    from rio_color_spark.operators.color import index_and_color
    from rio_color_spark.sources.images import images_df
    from rio_color_spark.pipeline import FLAGSHIP_OPS

    n = _t(spark, "/root/testdata/sf0.001", "documents").count()
    images = images_df(spark, int(n))
    colored = index_and_color(images, FLAGSHIP_OPS)
    return colored.select(
        "image_id", "caption", "fmt", "w", "h", "tile_x", "tile_y", "cell_id"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "gamma": q_gamma,
        "sigmoidal": q_sigmoidal,
        "sigmoidal_inverse": q_sigmoidal_inverse,
        "simple_atmo": q_atmo,
        "saturation": q_saturation,
        "dsl_chain": q_dsl_chain,
        "scale_dtype": q_scale_dtype,
        "colorspace_lch": q_colorspace_lch,
        "colorspace_luv": q_colorspace_luv,
        "luv_roundtrip": q_luv_roundtrip,
        "magick_to_rio": q_magick_to_rio,
        "atmo_opstring": q_atmo_opstring,
        "tile_encode": q_tile_encode,
        "cell_encode": q_cell_encode,
        "pip_join": q_pip_join,
        "knn_geo": q_knn_geo,
        "dedup_exact": q_dedup_exact,
        "minhash_sig": q_minhash_sig,
        "lsh_pairs": q_lsh_pairs,
        "simhash": q_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "lang_id": q_lang_id,
        "quality": q_quality,
        "token_count": q_token_count,
        "fingerprint": q_fingerprint,
        "ann_topk": q_ann_topk,
        "ann_lsh": q_ann_lsh,
        "ann_lsh_multi": q_ann_lsh_multi,
        "cosine_neardup": q_cosine_neardup,
        "sample_frames": q_sample_frames,
        "optimize_color": q_optimize_color,
        "stream_drain": q_stream_drain,
        "rasterize_points": q_rasterize_points,
        "rasterize_polygons": q_rasterize_polygons,
        "vectorize_mask": q_vectorize_mask,
        "band_histogram": q_band_histogram,
        "resize_images": q_resize_images,
        "band_stats": q_band_stats,
        "tpch_q1": q_tpch_q1,
        "events_window": q_events_window,
        "tiff_ingest": q_tiff_ingest,
        "png_decode": q_png_decode,
        "frames_y4m": q_frames_y4m,
        "frames_mjpeg": q_frames_mjpeg,
        "snapshot_rowops": q_snapshot_rowops,
        "snapshot_merge": q_snapshot_merge,
        "snapshot_time_travel": q_snapshot_time_travel,
        "snapshot_prune": q_snapshot_prune,
    }


def _golden_gates(golden, *names: str) -> dict[str, str]:
    """Oracle SQL for the gate(s) one ``_golden_*`` function feeds (one
    that feeds several gates returns one SQL text per name, in order). A
    golden that raises — e.g. on a missing fixture file — fails only its
    own gates: each becomes a DuckDB ``error()`` call carrying the reason."""
    try:
        sql = golden()
    except Exception as ex:
        reason = f"{type(ex).__name__}: {ex}".replace("'", "''")
        return {n: f"SELECT error('{n} golden unavailable: {reason}')" for n in names}
    return dict(zip(names, (sql,) if len(names) == 1 else sql))


def oracle_sql() -> dict[str, str]:
    S = SQL
    px = f"SELECT l_orderkey, l_linenumber, {S.PX_R} AS px_r, {S.PX_G} AS px_g, {S.PX_B} AS px_b FROM lineitem"
    doc_pts = f"SELECT doc_id, {S.DOC_LON} AS lon, {S.DOC_LAT} AS lat FROM documents"

    # saturation / chain share the _pix CTE convention
    sat_cte = S.saturate_rgb_sql("px_r", "px_g", "px_b", 1.25)

    # flagship chain: gamma b 1.85; gamma rg 1.95; sigmoidal rgb 35 0.13; saturation 1.15
    g_r = S.gamma_sql("px_r", 1.95)
    g_g = S.gamma_sql("px_g", 1.95)
    g_b = S.gamma_sql("px_b", 1.85)
    s_r = S.sigmoidal_sql(g_r, 35, 0.13)
    s_g = S.sigmoidal_sql(g_g, 35, 0.13)
    s_b = S.sigmoidal_sql(g_b, 35, 0.13)

    tx, ty = S.tile_xy_sql("lon", "lat", 12)

    mh_cols = ", ".join(
        f"{S.minhash_sql('sh', j)} AS mh{j}" for j in range(TH.N_MINHASH)
    )

    edges = S.pip_edges_values_sql(PIP_POLYS)

    emb = "SELECT vec_id, embedding AS v FROM embeddings"
    cos_ab = S.cosine_sql("a.v", "b.v", EMB_DIM)
    bucket = S.bucket_sql("v", EMB_DIM)

    return {
        "gamma": f"WITH _p AS ({px}) SELECT l_orderkey, l_linenumber, round({S.gamma_sql('px_r', 0.95)}, 7) AS gamma_r FROM _p",
        "sigmoidal": f"WITH _p AS ({px}) SELECT l_orderkey, l_linenumber, round({S.sigmoidal_sql('px_r', 10, 0.15)}, 7) AS sig_r FROM _p",
        "sigmoidal_inverse": f"WITH _p AS ({px}) SELECT l_orderkey, l_linenumber, round({S.sigmoidal_sql('px_r', -10, 0.15)}, 7) AS inv_r FROM _p",
        "simple_atmo": (
            f"WITH _p AS ({px}) SELECT l_orderkey, l_linenumber, "
            f"round({S.sigmoidal_sql('px_r', 10, 0.15)}, 7) AS atmo_r, "
            f"round({S.sigmoidal_sql(S.gamma_sql('px_g', 1 - 0.03 / 3.0), 10, 0.15)}, 7) AS atmo_g, "
            f"round({S.sigmoidal_sql(S.gamma_sql('px_b', 1 - 0.03), 10, 0.15)}, 7) AS atmo_b FROM _p"
        ),
        "saturation": (
            f"WITH _pix AS (SELECT * FROM ({px}) WHERE l_linenumber = 1),\n{sat_cte}"
            "SELECT l_orderkey, round(sat_r, 6) AS sat_r, round(sat_g, 6) AS sat_g, round(sat_b, 6) AS sat_b FROM _out"
        ),
        "dsl_chain": (
            f"WITH _p0 AS (SELECT * FROM ({px}) WHERE l_linenumber = 1),\n"
            f"_pix AS (SELECT l_orderkey, {s_r} AS px_r, {s_g} AS px_g, {s_b} AS px_b FROM _p0),\n"
            + S.saturate_rgb_sql("px_r", "px_g", "px_b", 1.15)
            + "SELECT l_orderkey, round(sat_r, 6) AS c_r, round(sat_g, 6) AS c_g, round(sat_b, 6) AS c_b FROM _out"
        ),
        "scale_dtype": (
            f"WITH _p AS ({px}) SELECT l_orderkey, l_linenumber, "
            "CAST(floor(floor(px_r * 255) / 255.0 * 65535) AS BIGINT) AS px16 FROM _p"
        ),
        "colorspace_lch": (
            f"WITH _pix AS (SELECT * FROM ({px}) WHERE l_linenumber = 1),\n"
            + S.rgb_to_lch_sql("px_r", "px_g", "px_b")
            + "SELECT l_orderkey, round(l_, 6) AS l_, round(c_, 6) AS c_, round(h_, 6) AS h_ FROM _lchout"
        ),
        "colorspace_luv": (
            f"WITH _pix AS (SELECT * FROM ({px}) WHERE l_linenumber = 1),\n"
            + S.rgb_to_luv_sql("px_r", "px_g", "px_b")
            + "SELECT l_orderkey, round(l_, 6) AS l_, round(u_, 6) AS u_, round(v_, 6) AS v_ FROM _luvout"
        ),
        "luv_roundtrip": (
            f"WITH _pix AS (SELECT * FROM ({px}) WHERE l_linenumber = 1),\n"
            + S.luv_roundtrip_sql("px_r", "px_g", "px_b")
            + "SELECT l_orderkey, round(rt_r, 6) AS rt_r, round(rt_g, 6) AS rt_g, round(rt_b, 6) AS rt_b FROM _out"
        ),
        "magick_to_rio": f"SELECT '{MAGICK_GOLDEN_OUT}' AS rio_ops",
        "atmo_opstring": (
            "SELECT 'gamma g 0.99, gamma b 0.97, sigmoidal rgb 10 0.15' AS atmo_ops"
        ),
        "tile_encode": f"WITH _d AS ({doc_pts}) SELECT doc_id, {tx} AS tile_x, {ty} AS tile_y FROM _d",
        "cell_encode": S.cell_encode_query(doc_pts, "doc_id", 8),
        "knn_geo": S.knn_geo_query(
            f"SELECT doc_id::VARCHAR AS doc_id, {S.DOC_LON} AS lon, {S.DOC_LAT} AS lat FROM documents",
            "doc_id",
            level=3,
            k=3,
        ),
        "pip_join": (
            f"WITH _d AS ({doc_pts}) "
            f"SELECT d.doc_id, edges.poly_id FROM _d d, {edges} "
            "GROUP BY d.doc_id, edges.poly_id "
            "HAVING sum(CASE WHEN (edges.ey0 > d.lat) != (edges.ey1 > d.lat) "
            "AND d.lon < (edges.ex1 - edges.ex0) * (d.lat - edges.ey0) / (edges.ey1 - edges.ey0) + edges.ex0 "
            "THEN 1 ELSE 0 END) % 2 = 1"
        ),
        "dedup_exact": (
            "WITH _all AS (SELECT doc_id, text FROM documents "
            "UNION ALL SELECT doc_id + 100000, text FROM documents) "
            "SELECT md5(text) AS content_md5, count(*) AS n_dups, min(doc_id) AS canonical_id "
            "FROM _all GROUP BY 1 HAVING count(*) >= 2"
        ),
        "minhash_sig": (
            f"WITH _s AS (SELECT doc_id, {S.SHINGLE_HASHES_SQL} AS sh FROM documents) "
            f"SELECT doc_id, {mh_cols} FROM _s"
        ),
        "lsh_pairs": (
            "WITH _all AS (SELECT doc_id, text FROM documents "
            "UNION ALL SELECT doc_id + 100000, text FROM documents),\n"
            f"_s AS (SELECT doc_id, {S.SHINGLES_SQL} AS sh, {S.SHINGLE_HASHES_SQL} AS shh FROM _all),\n"
            "_sig AS (SELECT doc_id, sh, "
            + ", ".join(f"{S.minhash_sql('shh', j)} AS mh{j}" for j in range(TH.N_MINHASH))
            + " FROM _s),\n"
            "_band AS ("
            + " UNION ALL ".join(
                f"SELECT doc_id, sh, {b} AS band, "
                f"concat_ws('-', mh{4 * b}, mh{4 * b + 1}, mh{4 * b + 2}, mh{4 * b + 3}) AS band_sig FROM _sig"
                for b in range(TH.LSH_BANDS)
            )
            + "),\n"
            "_cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b "
            "FROM _band a JOIN _band b ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id) "
            "SELECT id_a, id_b, CASE WHEN len(list_distinct(list_concat(sh_a, sh_b))) > 0 "
            "THEN len(list_intersect(list_distinct(sh_a), list_distinct(sh_b)))::DOUBLE / len(list_distinct(list_concat(sh_a, sh_b)))::DOUBLE "
            "ELSE 0.0 END AS jaccard FROM _cand "
            "WHERE CASE WHEN len(list_distinct(list_concat(sh_a, sh_b))) > 0 "
            "THEN len(list_intersect(list_distinct(sh_a), list_distinct(sh_b)))::DOUBLE / len(list_distinct(list_concat(sh_a, sh_b)))::DOUBLE "
            "ELSE 0.0 END >= 0.5"
        ),
        "simhash": (
            f"WITH _h AS (SELECT doc_id, {S.TOKEN_HASHES_SQL} AS th FROM documents) "
            f"SELECT doc_id, {S.simhash_sql('th')} AS simhash FROM _h"
        ),
        "ngram_jaccard": (
            f"WITH _s AS (SELECT source, doc_id, list_distinct({S.SHINGLES_SQL}) AS sh FROM documents) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0 "
            "THEN len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE ELSE 0.0 END AS jaccard "
            "FROM _s a JOIN _s b ON a.source = b.source AND a.doc_id < b.doc_id "
            "WHERE CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0 "
            "THEN len(list_intersect(a.sh, b.sh))::DOUBLE / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE ELSE 0.0 END >= 0.01"
        ),
        "lang_id": f"SELECT doc_id, {S.lang_id_sql()} AS lang_pred FROM documents",
        "quality": (
            f"WITH _q AS (SELECT doc_id, len({S.TOKENS_SQL}) AS n_tok, length(text) AS n_chars, "
            r"length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct, "
            r"length(regexp_replace(text, '[ \t\n\r\f\x0b]+', '', 'g')) AS chars_ns FROM documents) "
            "SELECT doc_id, least(n_tok / 64.0, 1.0) AS len_score, "
            "CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars::DOUBLE ELSE 0.0 END AS punct_ratio, "
            "CASE WHEN n_tok > 0 THEN chars_ns::DOUBLE / n_tok::DOUBLE ELSE 0.0 END AS mean_tok_len, "
            "0.5 * least(n_tok / 64.0, 1.0) "
            "+ 0.3 * (1.0 - CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars::DOUBLE ELSE 0.0 END) "
            "+ 0.2 * least((CASE WHEN n_tok > 0 THEN chars_ns::DOUBLE / n_tok::DOUBLE ELSE 0.0 END) / 8.0, 1.0) AS quality_score "
            "FROM _q"
        ),
        "token_count": (
            f"SELECT doc_id, len({S.TOKENS_SQL}) AS n_tokens, "
            r"ceil(length(regexp_replace(text, '[ \t\n\r\f\x0b]+', '', 'g')) / 4.0)::BIGINT AS bpe_est FROM documents"
        ),
        "fingerprint": (
            r"SELECT doc_id, md5(regexp_replace(trim(lower(text)), '[ \t\n\r\f\x0b]+', ' ', 'g')) AS fingerprint FROM documents"
        ),
        "ann_topk": (
            f"WITH _e AS ({emb}), _p AS ("
            f"SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {cos_ab} AS cosine "
            "FROM _e a JOIN _e b ON a.vec_id < 50 AND a.vec_id != b.vec_id) "
            "SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank FROM ("
            "SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM _p) "
            "WHERE rank <= 3"
        ),
        "ann_lsh": (
            f"WITH _e AS (SELECT vec_id, v, {bucket} AS bucket FROM ({emb})), _p AS ("
            f"SELECT a.vec_id AS query_id, a.bucket, b.vec_id AS neighbor_id, {cos_ab} AS cosine "
            "FROM _e a JOIN _e b ON a.bucket = b.bucket AND a.vec_id < 50 AND a.vec_id != b.vec_id) "
            "SELECT query_id, bucket, neighbor_id, round(cosine, 6) AS cosine, rank FROM ("
            "SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM _p) "
            "WHERE rank <= 3"
        ),
        "ann_lsh_multi": (
            f"WITH _e AS ({emb}),\n_t AS ("
            + " UNION ALL ".join(
                f"SELECT vec_id, v, {t} AS tbl, {S.bucket_sql('v', EMB_DIM, seed=t)} AS bkt FROM _e"
                for t in range(3)
            )
            + "),\n_cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id "
            "FROM _t a JOIN _t b ON a.tbl = b.tbl AND a.bkt = b.bkt "
            "AND a.vec_id < 50 AND a.vec_id != b.vec_id),\n"
            f"_p AS (SELECT query_id, neighbor_id, {S.cosine_sql('ea.v', 'eb.v', EMB_DIM)} AS cosine "
            "FROM _cand JOIN _e ea ON ea.vec_id = query_id JOIN _e eb ON eb.vec_id = neighbor_id) "
            "SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank FROM ("
            "SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM _p) "
            "WHERE rank <= 3"
        ),
        "cosine_neardup": (
            # mirrors the engine's multi-table LSH candidates exactly:
            # same seeded hyperplanes, same buckets, same verify threshold
            f"WITH _e AS ({emb}),\n_t AS ("
            + " UNION ALL ".join(
                f"SELECT vec_id, {t} AS tbl, {S.bucket_sql('v', EMB_DIM, seed=t)} AS bkt FROM _e"
                for t in range(3)
            )
            + "),\n_cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b "
            "FROM _t a JOIN _t b ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id) "
            f"SELECT id_a, id_b, round({S.cosine_sql('ea.v', 'eb.v', EMB_DIM)}, 6) AS cosine "
            "FROM _cand JOIN _e ea ON ea.vec_id = id_a JOIN _e eb ON eb.vec_id = id_b "
            f"WHERE {S.cosine_sql('ea.v', 'eb.v', EMB_DIM)} >= 0.35"
        ),
        **_golden_gates(_golden_media_values, "band_stats", "resize_images"),
        **_golden_gates(_golden_frames_values, "sample_frames"),
        **_golden_gates(_golden_tiff_values, "tiff_ingest"),
        **_golden_gates(_golden_png_values, "png_decode"),
        **_golden_gates(_golden_y4m_values, "frames_y4m"),
        **_golden_gates(_golden_mjpeg_values, "frames_mjpeg"),
        "snapshot_rowops": (
            "SELECT doc_id, lang, "
            "CASE WHEN lang = 'de' THEN n_chars + 1000 ELSE n_chars END "
            "AS n_chars FROM documents WHERE NOT (n_chars % 10 = 3)"
        ),
        "snapshot_merge": (
            "SELECT doc_id, "
            "CASE WHEN doc_id % 3 = 0 THEN 'xx' ELSE lang END AS lang, "
            "CASE WHEN doc_id % 3 = 0 THEN n_chars + 5000 ELSE n_chars END "
            "AS n_chars FROM documents "
            "UNION ALL "
            "SELECT doc_id + 10000000 AS doc_id, lang, n_chars + 7 AS n_chars "
            "FROM documents WHERE doc_id % 5 = 0"
        ),
        "optimize_color": (
            "SELECT '{ops}' AS ops, {score} AS score, "
            "{initial_score} AS initial_score".format(**OPTIMIZE_GOLDEN)
            if OPTIMIZE_GOLDEN
            else "SELECT 1 AS unpinned"
        ),
        **_golden_gates(_golden_rasterize_values, "rasterize_points"),
        **_golden_gates(
            _golden_raster_vector_values, "rasterize_polygons", "vectorize_mask"
        ),
        **_golden_gates(_golden_histogram_values, "band_histogram"),
        "tpch_q1": (
            "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_base_price, "
            "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
            "count(*) AS count_order FROM lineitem "
            "WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "events_window": (
            "SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute, "
            "event_type, count(*) AS n, round(sum(value), 4) AS sum_value "
            "FROM events GROUP BY 1, 2"
        ),
        # snapshot facade: current ∪ VERSION-AS-OF(v1); the evolved
        # column is NULL everywhere except the post-evolution append
        "snapshot_time_travel": (
            "SELECT doc_id, lang, n_chars, "
            "CASE WHEN doc_id % 3 = 2 THEN doc_id % 7 END AS flag, "
            "'current' AS view FROM documents "
            "UNION ALL "
            "SELECT doc_id, lang, n_chars, CAST(NULL AS BIGINT) AS flag, "
            "'v1' AS view FROM documents WHERE doc_id % 3 = 0"
        ),
        # pruning gate: the middle third survives; the report literals
        # (3 files planned, 1 scanned) are part of the hashed result
        "snapshot_prune": (
            "WITH b AS (SELECT count(*) AS n FROM documents) "
            "SELECT d.doc_id, d.lang, d.n_chars, "
            "3 AS files_total, 1 AS files_scanned "
            "FROM documents d, b "
            "WHERE d.doc_id >= b.n // 3 AND d.doc_id < 2 * b.n // 3"
        ),
        # the streaming drain must reproduce the batch twin exactly
        "stream_drain": (
            "SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute, "
            "event_type, count(*) AS n, round(sum(value), 4) AS sum_value "
            "FROM events GROUP BY 1, 2"
        ),
    }
