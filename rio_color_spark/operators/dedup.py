"""Deduplication operators for large-scale training-data pipelines.

All four families over a generic (id, text) DataFrame:

- **exact** — md5 groupBy (one shuffle on the 16-byte digest)
- **MinHash + LSH** — shingle → 16 MinHashes → 4×4 banding → candidate
  pairs via band equi-join → exact-Jaccard verification. The band join is
  the canonical big-data near-dup plan: no cross join ever materializes.
- **SimHash** — 32-bit majority-vote fingerprint per document
- **n-gram Jaccard** — exact 3-shingle Jaccard on candidate pairs

Every hash primitive comes from functions/texthash.py and has a DuckDB
twin, so the driver's oracle comparison covers these operators exactly.
All hashing runs JVM-side (md5 + conv SQL expressions over a
Generate-materialized token array) — there are no Python crossings in this
module's execution paths. The NumPy reference twins the tests compare
against live in tests/twins.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rio_color_spark.functions import texthash as TH

#: md5-prefix hashes of the 3-word shingles of the materialized ``_toks``
_SHINGLE_HASHES_SQL = (
    f"transform({TH.shingles3_sql('_toks')}, s -> {TH.token_hash_sql('s')})"
)


def _materialize(df: DataFrame, cols: dict) -> DataFrame:
    """Append computed columns behind a Generate barrier.

    ``explode`` of a single-element array is a per-row no-op, but the
    Generate node it plans blocks ``CollapseProject``: downstream
    projections reference the computed values as plain attributes instead
    of inlining the defining expressions once per reference. That is what
    makes the JVM MinHash/SimHash formulation viable — the 16 (or 32)
    per-hash Column expressions each read a materialized ``array<long>``
    attribute rather than re-evaluating the deep tokenize→md5 pipeline
    (the round-2 codegen blowup: 55.8 s for 500 rows when inlined 16×).
    """
    m = F.explode(F.array(F.struct(*[c.alias(n) for n, c in cols.items()])))
    out = df.select("*", m.alias("_m"))
    return out.select("*", *[F.col(f"_m.{n}").alias(n) for n in cols]).drop("_m")


def _scan_splits(spark, sizes: list[int]) -> int:
    """How many scan partitions Spark plans for files of ``sizes`` bytes.

    Spark's own rule (``FilePartition``): the split size is
    ``min(maxPartitionBytes, max(openCostInBytes, Σ(size + openCost) /
    parallelism))``, every file is cut into splits of at most that size,
    and the splits, largest first, are packed next-fit with the open cost
    charged per split. The byte settings are Spark's own parse of the conf
    values ("128m", "1gb", ...).
    """
    jss = spark._jsparkSession
    conf = jss.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    min_parts = conf.filesMinPartitionNum()
    parallelism = min_parts.get() if min_parts.isDefined() else jss.leafNodeDefaultParallelism()
    total = sum(size + open_cost for size in sizes)
    split = min(conf.filesMaxPartitionBytes(), max(open_cost, total // parallelism))
    n, current = 0, 0
    for length in sorted(
        (min(split, size - off) for size in sizes for off in range(0, size, split)),
        reverse=True,
    ):
        if current and current + length > split:
            n, current = n + 1, 0
        current += length + open_cost
    return n + (current > 0)


def _spread(df: DataFrame) -> DataFrame:
    """Parallelism guard for heavy per-row map stages.

    A scan that plans fewer partitions than the session's shuffle
    parallelism (a single-file table — parquet can't split below a file —
    or many tiny files that Spark packs into a few splits) is re-spread
    with a round-robin repartition so the tokenize/hash map stage uses
    every core. A well-split table — the 100-TB case, where the scan plans
    thousands of splits — passes through untouched: no shuffle is ever
    added at scale.

    The probe reads driver metadata only (the scan's file list, local file
    sizes and :func:`_scan_splits`) instead of ``df.rdd.getNumPartitions()``
    (a full physical planning + RDD conversion per query build); the RDD
    probe remains the fallback for tables without local files.
    """
    spark = df.sparkSession
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    try:
        sizes = [os.path.getsize("/" + f.removeprefix("file:").lstrip("/")) for f in files]
    except OSError:
        sizes = []  # non-local paths: fall back to the RDD probe
    n = _scan_splits(spark, sizes) if sizes else df.rdd.getNumPartitions()
    return df.repartition(target) if n < target else df


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Duplicate groups by exact content hash.

    Output: (content_md5, n_dups, canonical_id) for groups with ≥2 members.
    """
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col).cast("binary")).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("id").alias("canonical_id"),
        )
        .filter(F.col("n_dups") >= 2)
    )


def with_minhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach mh0..mh15 MinHash signature columns — pure JVM, no Python.

    The shingle hashes (tokenize → 3-shingle → md5-prefix int64) are
    materialized ONCE behind a Generate barrier; the 16 per-hash Column
    expressions then scan that shallow ``array<long>`` attribute. This
    keeps the whole signature inside the JVM (zero Python crossings) while
    avoiding the 16×-inlined-pipeline codegen blowup that sank the naive
    Column formulation in round 2 (see _materialize).
    """
    base = _materialize(_spread(df), {"_toks": TH.tokens_col(F.col(text_col))})
    base = _materialize(base, {"_shh": F.expr(_SHINGLE_HASHES_SQL)})
    return base.select(
        "*",
        *[
            F.expr(TH.minhash_sql("_shh", j)).alias(f"mh{j}")
            for j in range(TH.N_MINHASH)
        ],
    ).drop("_toks", "_shh")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified by exact Jaccard.

    Output: (id_a, id_b, jaccard) with id_a < id_b, deduped across bands.

    Plan shape (100-TB discipline — the shuffles carry NO payload):

    1. Shingles, then their md5-prefix hashes, are materialized behind
       Generate barriers (all JVM — zero Python crossings; see
       _materialize for why the barrier and not a plain projection).
    2. Bands come from ``posexplode`` of the per-band signature array and
       carry ONLY (id, band, band_sig) — the shingle arrays never enter
       the band exchange (they used to dominate it: each document's full
       shingle set was shuffled once per band per side).
    3. Candidates dedupe on the narrow (id_a, id_b).
    4. Shingles are fetched by joining the surviving candidate ids back to
       the pre-hash shingle table — a recompute of the map-side tokenize
       (NOT the md5 pass), which at scale is far cheaper than shuffling
       every shingle array 2×4 bands wide (and with an Iceberg/persisted
       enriched table it is a plain column read).
    """
    # tokenize BELOW the (conditional) respread exchange: when _spread
    # fires (under-split local scan) the exchange then caps the tokenize
    # subtree, so AQE stage reuse evaluates the regex split ONCE for all
    # three consumers (band leg + the two shingle-refetch legs) instead of
    # three times; at scale _spread is a no-op and the plan is unchanged.
    # The exchange ships token arrays instead of raw text — same bytes.
    toked = _spread(
        _materialize(
            df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text")),
            {"_toks": TH.tokens_col(F.col("_text"))},
        ).select("id", "_toks")
    )
    sh_expr = F.expr(TH.shingles3_sql("_toks"))
    enriched = _materialize(toked, {"_shh": F.expr(_SHINGLE_HASHES_SQL)}).select(
        "id", "_shh"
    )

    band_sigs = F.expr(
        "array("
        + ", ".join(
            "concat_ws('-', "
            + ", ".join(
                TH.minhash_sql("_shh", b * TH.LSH_ROWS + r)
                for r in range(TH.LSH_ROWS)
            )
            + ")"
            for b in range(TH.LSH_BANDS)
        )
        + ")"
    )
    # the band rows are hash-partitioned by the join key BEFORE the self-
    # join forks its two legs: both legs then sit over byte-identical
    # Exchange subtrees, which Spark's ReuseExchange (AQE stage reuse)
    # computes ONCE — without it the whole tokenize→md5→minhash subtree is
    # evaluated twice, once per side (measured in the round-7 before-plan:
    # two full Generate+minhash chains). The exchange still carries only
    # (id, band, band_sig) — the same narrow bytes the band join shuffles
    # anyway at scale — so this trades a duplicate full compute pass for
    # zero extra payload movement (guide §2.4: share one exchange).
    banded = enriched.select(
        "id", F.posexplode(band_sigs).alias("band", "band_sig")
    ).repartition("band", "band_sig")

    left = banded.select("band", "band_sig", F.col("id").alias("id_a"))
    right = banded.select("band", "band_sig", F.col("id").alias("id_b"))
    cand = (
        left.join(right, ["band", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    # refetch recomputes shingles from the materialized token attribute —
    # a linear rebuild, no md5 pass, and no shingle payload in the band join
    sh_a = toked.select(F.col("id").alias("id_a"), sh_expr.alias("sh_a"))
    sh_b = toked.select(F.col("id").alias("id_b"), sh_expr.alias("sh_b"))
    pairs = cand.join(sh_a, "id_a").join(sh_b, "id_b")

    inter = F.size(F.array_intersect(F.array_distinct("sh_a"), F.array_distinct("sh_b")))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.withColumn(
            "jaccard",
            F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
                F.lit(0.0)
            ),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def with_simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash) — 32-bit majority-vote fingerprint per document.

    Pure JVM: the tokens are materialized once behind a Generate barrier
    (see _materialize); the single-pass aggregate fingerprint
    (texthash.simhash_agg_sql) then hashes and folds them, and the token
    count is the size of the same array — one tokenize per row."""
    base = _materialize(
        _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text"))),
        {"_toks": TH.tokens_col(F.col("_text"))},
    )
    hashes = f"transform(_toks, t -> {TH.token_hash_sql('t')})"
    return base.select(
        "id", F.expr(TH.simhash_agg_sql(hashes, "size(_toks)")).alias("simhash")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
    threshold: float = 0.1,
    max_group: int = 10_000,
) -> DataFrame:
    """Exact 3-gram Jaccard for pairs within a blocking group.

    ``group_col`` bounds the pair space (block join); None falls back to the
    LSH candidate pairs. Output: (id_a, id_b, jaccard).

    **Blocked-join contract**: within-group pairing is O(g²), so a hot
    blocking key is a scale-killer (10⁶-doc group → 5·10¹¹ pairs). The
    plan embeds a fail-fast bound: any group larger than ``max_group``
    raises inside the tasks (``raise_error`` woven into the join key, so
    column pruning can't drop it) instead of silently grinding. Callers
    with genuinely hot groups should sub-block them (e.g. route through
    the LSH path) or consciously raise ``max_group``.
    """
    if group_col is None:
        return minhash_lsh_pairs(df, id_col, text_col, threshold)
    from pyspark.sql import Window
    base = _materialize(
        _spread(
            df.select(
                F.col(group_col).alias("grp"),
                F.col(id_col).alias("id"),
                F.col(text_col).alias("_text"),
            )
        ),
        {"_toks": TH.tokens_col(F.col("_text"))},
    ).select(
        "grp",
        "id",
        F.array_distinct(F.expr(TH.shingles3_sql("_toks"))).alias("sh"),
    )
    # fail-fast group-size guard: the window count shares the grp-keyed
    # exchange the self-join needs anyway; the guard rides the id column so
    # it cannot be pruned out of the executed plan
    gn = F.count("*").over(Window.partitionBy("grp"))
    guarded_id = F.when(
        gn > F.lit(max_group),
        F.raise_error(
            F.concat(
                F.lit("ngram_jaccard_pairs: blocking group "),
                F.col("grp").cast("string"),
                F.lit(
                    f" exceeds max_group={max_group} (within-group pairing is "
                    "O(g^2)); sub-block the group or raise max_group"
                ),
            )
        ).cast(base.schema["id"].dataType),
    ).otherwise(F.col("id"))
    base = base.select("grp", guarded_id.alias("id"), "sh")
    left = base.select("grp", F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    right = base.select("grp", F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        left.join(right, "grp")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "jaccard",
            F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
                F.lit(0.0)
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
