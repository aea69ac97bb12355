"""Plan-shape guards for the scale-critical dedup/ANN operators:

- the MinHash-LSH band exchange must carry NO shingle payload (ids only)
- cosine_neardup_pairs must contain no cartesian/cross join
- brute_force_topk must refuse an unbounded query side and broadcast the
  bounded one

Value correctness for these operators is covered by the DuckDB oracles
(tests/test_oracle_parity.py); these tests pin the PHYSICAL plan
properties that make them viable at 100 TB.
"""

import re

import pytest
from pyspark.sql import functions as F

import twins
from rio_color_spark.operators import ann as ANN
from rio_color_spark.operators import dedup as DD

DIM = 8


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"doc {i} the quick brown fox jumps over lazy dog number {i % 7}")
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def embs(spark):
    import numpy as np

    rng_base = np.arange(40, dtype=np.uint64)
    from rio_color_spark.sources.images import splitmix64

    rows = []
    for i in range(40):
        u = splitmix64(rng_base + np.uint64(i * 1000 + 1))
        v = ((u >> np.uint64(11)).astype(float) / 2.0**53)[:DIM] * 2 - 1
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_lsh_band_exchange_is_narrow(docs):
    out = DD.minhash_lsh_pairs(docs, jaccard_threshold=0.0)
    plan = _plan(out)
    # every hash-partitioning exchange on the band key must not carry
    # shingles; formatted plans print the partitioning expression inline
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)[^\n]*", plan):
        line = m.group(0)
        if "band" in line:
            assert "sh#" not in line and "shingles" not in line, line
    # the only shingle-bearing exchanges are the id-keyed fetch joins
    assert "CartesianProduct" not in plan


def test_cosine_neardup_has_no_cross_join(embs):
    out = ANN.cosine_neardup_pairs(embs, threshold=0.2, dim=DIM)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    out.collect()  # executes


def test_cosine_neardup_verifies_exact_cosine(embs):
    """Every emitted pair's cosine is the exact float64 value and passes
    the threshold; every emitted pair shares an LSH bucket by construction
    (subset of the exact all-pairs result)."""
    import numpy as np

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in embs.collect()}
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in ANN.cosine_neardup_pairs(embs, threshold=0.2, dim=DIM).collect()
    }
    exact = {}
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            c = float(
                vecs[a] @ vecs[b] / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
            )
            if c >= 0.2:
                exact[(a, b)] = c
    assert set(got) <= set(exact)  # LSH recall ⊆ exact
    assert len(got) > 0
    for k, v in got.items():
        assert v == pytest.approx(exact[k], abs=1e-9)


@pytest.mark.parametrize("n_tables", [1, 3])
def test_lsh_bucket_exchange_is_narrow(embs, n_tables):
    """The (tbl, bucket) candidate exchange must carry ids only — the
    embedding vectors are fetched by id-join AFTER candidate generation
    (at 100 TB the vectors dwarf the keys)."""
    out = ANN.lsh_bucket_topk(
        embs, k=3, dim=DIM, query_filter=F.col("id") < 10, n_tables=n_tables
    )
    plan = _plan(out)
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)[^\n]*", plan):
        line = m.group(0)
        if "bucket" in line or "tbl" in line:
            assert "embedding" not in line and "qv" not in line and "cv" not in line, line
    assert "CartesianProduct" not in plan
    assert out.count() > 0


def test_brute_force_topk_requires_bounded_queries(embs):
    with pytest.raises(ValueError, match="bounded query side"):
        ANN.brute_force_topk(embs, k=3, query_filter=None)
    out = ANN.brute_force_topk(embs, k=3, query_filter=F.col("id") < 5)
    assert "BroadcastNestedLoopJoin" in _plan(out)
    assert out.count() == 5 * 3


def test_jvm_hashing_matches_python_twins(spark):
    """The JVM MinHash/SimHash (the execution path — zero Python
    crossings) matches the NumPy reference twins value-for-value, including
    the whitespace edge cases where Python .strip() and SQL trim diverge
    (trim removes ONLY spaces — the oracle contract)."""
    rows = [
        (0, ""),
        (1, "  one two  "),
        (2, "a b c d e f g"),
        (3, "\tx\ny z  w "),
        (4, "Ünïcode tökens ärê fine too yes indeed truly"),
        (5, " \t "),
        (6, "solo"),
        (7, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mh = {r["doc_id"]: [r[f"mh{j}"] for j in range(16)] for r in DD.with_minhash(df).collect()}
    for i, t in rows:
        assert mh[i] == twins.minhash_sig_py(t), (i, t)
    sh = {r["id"]: r["simhash"] for r in DD.with_simhash(df).collect()}
    for i, t in rows:
        assert sh[i] == twins.simhash_py(t), (i, t)


def test_dedup_paths_have_no_python_stage(docs):
    """No Arrow/BatchEvalPython node anywhere in the dedup family — the
    hashing is entirely JVM-side (verdict r3 item 1)."""
    for out in (
        DD.with_minhash(docs),
        DD.with_simhash(docs),
        DD.minhash_lsh_pairs(docs, jaccard_threshold=0.0),
        DD.ngram_jaccard_pairs(docs.withColumn("grp", F.col("doc_id") % 5), group_col="grp"),
    ):
        plan = _plan(out)
        assert "EvalPython" not in plan, plan[:2000]


def test_ngram_jaccard_hot_group_fails_fast(spark, docs):
    """The blocked-join contract: a group over max_group raises inside the
    plan instead of silently running O(g^2) pairing; bounded groups pass
    and the guard does not change results."""
    blocked = docs.withColumn("grp", F.lit("hot"))
    with pytest.raises(Exception, match="exceeds max_group"):
        DD.ngram_jaccard_pairs(blocked, group_col="grp", max_group=10).collect()

    fine = docs.withColumn("grp", F.col("doc_id") % 7)
    a = sorted(
        map(tuple, DD.ngram_jaccard_pairs(fine, group_col="grp", max_group=10_000)
            .collect())
    )
    b = sorted(
        map(tuple, DD.ngram_jaccard_pairs(fine, group_col="grp", max_group=60)
            .collect())
    )
    assert a == b and len(a) > 0


def test_simhash_agg_equals_reference_column(spark, docs):
    """The single-pass aggregate SimHash (the SQL-text engine form) equals
    the 32-pass reference Column formulation value-for-value on the same
    token hashes."""
    from rio_color_spark.functions import texthash as TH

    base = docs.select(
        "doc_id", TH.tokens_col(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        F.expr(f"transform(toks, t -> {TH.token_hash_sql('t')})").alias("th"),
        F.size("toks").alias("n"),
    )
    out = base.select(
        "doc_id",
        F.expr(TH.simhash_agg_sql("th", "n")).alias("one_pass"),
        twins.simhash_col(F.col("th")).alias("ref"),
    ).collect()
    assert len(out) > 0
    for r in out:
        assert r["one_pass"] == r["ref"], r["doc_id"]


@pytest.mark.parametrize("mpb", ["128mb", "1gb"])
def test_spread_accepts_spark_byte_strings(spark, tmp_path, mpb):
    """``_spread`` sizes splits from Spark's own parse of
    ``maxPartitionBytes``, so any valid Spark byte string works; a
    one-file table is still re-spread across the shuffle parallelism."""
    src = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(src)
    df = spark.read.parquet(src)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, mpb)
    try:
        out = DD._spread(df)
    finally:
        spark.conf.set(key, old)
    assert "Repartition" in out._jdf.queryExecution().logical().toString()


def test_spread_sees_small_file_packing(spark, tmp_path):
    """Spark packs many tiny files into a few scan splits (64 files plan 4
    at ``local[4]``), so the file count alone says nothing: ``_spread``
    still re-spreads the table across the shuffle parallelism."""
    src = str(tmp_path / "tiny")
    spark.range(640).repartition(64).write.parquet(src)
    df = spark.read.parquet(src)
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(df.inputFiles()) == 64
    assert DD._spread(df).rdd.getNumPartitions() >= target
