"""IVF ANN operator: exhaustive-probe equivalence, recall, determinism.

Reference analogue: the coarse-index + refine pattern of the quadtree
cover-and-refine joins (SURVEY.md §2.3 J9-J12) applied to embedding space;
no direct reference op (training-pipeline extension).
"""

from typing import Iterator

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from osmquadtree_rust_bindings_spark.operators import similarity as SIM

SF = "/root/testdata/sf0.001"
DIM = 64


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))


def cosine_near_dup_pairs(embeddings: DataFrame, threshold_num: int = 3,
                          threshold_den: int = 10, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Exact oracle for the near-dup operators: (id_a < id_b) with
    cos(a, b) >= threshold_num / threshold_den, by the same integer test
    (dot > 0 AND dot^2 * den^2 >= num^2 * |a|^2 * |b|^2 on QUANT-quantized
    ints).  Collects the whole embedding side to the driver, broadcasts
    it and runs one int64 matmul per Arrow batch — fine at test scale,
    never a production path.  Output: (id_a, id_b, dot)."""
    spark = embeddings.sparkSession
    side = embeddings.select(
        F.col(id_col).alias("id"),
        SIM._quantized(F.col(vec_col)).alias("v")).toPandas()
    ids_all = side["id"].to_numpy(np.int64)
    m = np.stack(side["v"].to_numpy()).astype(np.int64)
    norms_all = (m * m).sum(axis=1)
    bc = spark.sparkContext.broadcast((ids_all, m, norms_all))
    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_b, mat, norms = bc.value
        for b in batches:
            if not len(b):
                continue
            a = np.stack(b["v"].to_numpy()).astype(np.int64)
            ida = b["id"].to_numpy(np.int64)
            dots = a @ mat.T
            na = (a * a).sum(axis=1)
            keep = ((ida[:, None] < ids_b[None, :]) & (dots > 0)
                    & (dots * dots * den2
                       >= num2 * na[:, None] * norms[None, :]))
            r, c = np.nonzero(keep)
            yield pd.DataFrame({"id_a": ida[r], "id_b": ids_b[c],
                                "dot": dots[r, c]})

    return embeddings.select(
        F.col(id_col).alias("id"),
        SIM._quantized(F.col(vec_col)).alias("v")).mapInPandas(
        fn, schema="id_a long, id_b long, dot long")


def ann_lsh_topk(embeddings: DataFrame, queries: DataFrame, dim: int,
                 k: int = 10, planes: int = 8) -> DataFrame:
    """Single-bucket LSH top-k oracle: both sides bucketed by the data-side
    form of with_lsh_bucket, exact integer-L2 re-rank inside the query's
    own bucket.  Output: (qid, rank, vec_id, dist2)."""
    e = SIM.with_lsh_bucket(embeddings, dim, planes).select(
        "vec_id", SIM._quantized(F.col("embedding")).alias("__v"), "bucket")
    q = SIM.with_lsh_bucket(queries, dim, planes, "qvec").select(
        "qid", SIM._quantized(F.col("qvec")).alias("__q"), "bucket")
    cand = e.join(F.broadcast(q), "bucket").withColumn(
        "dist2",
        F.aggregate(F.zip_with(F.col("__v"), F.col("__q"),
                               lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("long"), lambda acc, v: acc + v),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("dist2").asc(), F.col("vec_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "vec_id", "dist2")
    )


def _norm(pdf):
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        pdf[c] = pdf[c].astype(np.int64)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_cell_assignment_total_and_deterministic(emb):
    cells = SIM.with_ivf_cell(emb, DIM, cells=8).select("vec_id", "cell")
    pdf = cells.toPandas()
    assert len(pdf) == emb.count()
    assert pdf["cell"].between(0, 7).all()
    # cell is a pure function of the vector: re-run assigns identically
    pdf2 = SIM.with_ivf_cell(emb, DIM, cells=8) \
        .select("vec_id", "cell").toPandas()
    assert pdf.sort_values("vec_id").reset_index(drop=True).equals(
        pdf2.sort_values("vec_id").reset_index(drop=True))


def test_exhaustive_probe_equals_brute_force(emb, queries):
    ivf = _norm(SIM.ann_ivf_topk(emb, queries, DIM, k=10, cells=8,
                                 nprobe=8).toPandas())
    brute = _norm(SIM.l2_topk(emb, queries, k=10).toPandas())
    pd.testing.assert_frame_equal(ivf, brute, check_dtype=False)


def test_partial_probe_is_subset_with_high_recall(emb, queries):
    ivf = SIM.ann_ivf_topk(emb, queries, DIM, k=10, cells=8,
                           nprobe=2).toPandas()
    brute = SIM.l2_topk(emb, queries, k=10).toPandas()
    got = set(zip(ivf.qid, ivf.vec_id))
    exact = set(zip(brute.qid, brute.vec_id))
    # every probed result is a true vector with its exact distance
    merged = ivf.merge(
        SIM.l2_topk(emb, queries, k=10_000).toPandas(),
        on=["qid", "vec_id"], suffixes=("", "_exact"))
    assert (merged.dist2 == merged.dist2_exact).all()
    # nprobe=2/8 on this corpus keeps recall useful (tracked, not tuned)
    recall = len(got & exact) / len(exact)
    assert recall >= 0.3, recall


def test_multiprobe_nprobe1_equals_single_bucket(emb, queries):
    single = _norm(ann_lsh_topk(emb, queries, DIM, k=10,
                                planes=8).toPandas())
    multi = _norm(SIM.ann_lsh_multiprobe_topk(emb, queries, DIM, k=10,
                                              planes=8, nprobe=1).toPandas())
    pd.testing.assert_frame_equal(single, multi, check_dtype=False)


def test_data_side_forms_equal_query_side_forms(emb):
    # multiprobe and IVF probing key queries by the Column form (it keeps
    # the per-plane dots / per-cell distances) and data by the Arrow
    # matmul form: the two must assign every vector identically
    def rows(df, col):
        return sorted(map(tuple, df.select("vec_id", F.col(col).cast("long"))
                          .collect()))

    data = rows(SIM.with_lsh_bucket(emb, DIM, 8), "bucket")
    query = rows(SIM.with_lsh_bucket(emb, DIM, 8, _keep_dots=True), "bucket")
    assert data == query and len(data) == emb.count()
    assert len({b for _, b in data}) > 1
    data = rows(SIM.with_ivf_cell(emb, DIM, 8), "cell")
    query = rows(SIM.with_ivf_cell(emb, DIM, 8, _keep_dists=True), "cell")
    assert data == query and len(data) == emb.count()
    assert len({c for _, c in data}) > 1


def test_blocked_near_dup_equals_broadcast_twin(emb):
    exact = _norm(cosine_near_dup_pairs(emb, 3, 10).toPandas())
    blocked = _norm(SIM.cosine_near_dup_pairs_blocked(
        emb, 3, 10, num_blocks=8).toPandas())
    pd.testing.assert_frame_equal(blocked, exact, check_dtype=False)
    # block count must not change the pair set (tiling is exact, not approx)
    blocked3 = _norm(SIM.cosine_near_dup_pairs_blocked(
        emb, 3, 10, num_blocks=3).toPandas())
    pd.testing.assert_frame_equal(blocked3, exact, check_dtype=False)


def test_lsh_near_dup_subset_and_verified(emb):
    exact = cosine_near_dup_pairs(emb, 3, 10).toPandas()
    lsh = SIM.cosine_near_dup_pairs_lsh(
        emb, DIM, 3, 10, planes_per_band=3, bands=12).toPandas()
    exact_set = set(zip(exact.id_a, exact.id_b))
    lsh_set = set(zip(lsh.id_a, lsh.id_b))
    # every emitted pair passed the exact predicate (subset, no false hits)
    assert lsh_set <= exact_set
    # dots agree with the exact twin on shared pairs
    merged = lsh.merge(exact, on=["id_a", "id_b"], suffixes=("", "_ex"))
    assert (merged["dot"] == merged["dot_ex"]).all()  # .dot is the method!
    assert len(lsh_set) / max(len(exact_set), 1) >= 0.9


def test_lsh_near_dup_prunes_at_production_threshold(spark):
    """Planted-dup fixture: at a real near-dup threshold (cos >= 0.8) the
    banded-LSH candidates prune hard while keeping the planted pairs —
    the 10^12-scale behavior the marginal test corpus can't show."""
    rng = np.random.default_rng(99)
    base = rng.normal(size=(120, DIM))
    dup = base[:40] + rng.normal(scale=0.08, size=(40, DIM))  # cos ~ 0.97
    vecs = np.concatenate([base, dup]).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": np.arange(len(vecs), dtype=np.int64),
                        "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf)
    exact = cosine_near_dup_pairs(df, 8, 10).toPandas()
    lsh = SIM.cosine_near_dup_pairs_lsh(df, DIM, 8, 10,
                                        planes_per_band=6, bands=4)
    got = set(zip(*(lsh.toPandas()[c] for c in ("id_a", "id_b"))))
    want = set(zip(exact.id_a, exact.id_b))
    assert len(want) >= 30  # the fixture really contains planted dups
    assert len(got & want) / len(want) >= 0.9
    # candidate pruning: the band join inspects far fewer than N^2/2 pairs
    keyed = SIM.with_lsh_band_keys(df, DIM, 6, 4)
    flat = keyed.select("vec_id", F.explode("bkeys").alias("bkey"))
    a = flat.selectExpr("vec_id AS id_a", "bkey")
    b = flat.selectExpr("vec_id AS id_b", "bkey")
    ncand = (a.join(b, "bkey").filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").distinct().count())
    npairs = len(vecs) * (len(vecs) - 1) // 2
    assert ncand <= npairs * 0.25, (ncand, npairs)


def test_multiprobe_recall_monotone(emb, queries):
    brute = SIM.l2_topk(emb, queries, k=10).toPandas()
    exact = set(zip(brute.qid, brute.vec_id))

    def recall(nprobe):
        got = SIM.ann_lsh_multiprobe_topk(
            emb, queries, DIM, k=10, planes=8, nprobe=nprobe).toPandas()
        return len(set(zip(got.qid, got.vec_id)) & exact) / len(exact)

    r1, r3, r5 = recall(1), recall(3), recall(5)
    assert r1 <= r3 <= r5
    assert r5 > r1  # extra probes actually add candidates on this corpus


def test_lsh_near_dup_max_bucket_cap(spark):
    import numpy as np
    import pandas as pd
    from osmquadtree_rust_bindings_spark.operators import similarity as SIM

    # 60 identical vectors (one mega-bucket) + 2 planted near-dups with
    # distinct directions: the cap drops the hot bucket's pairs but keeps
    # the planted pair that lands in a small bucket
    rng = np.random.default_rng(5)
    base = rng.integers(-900, 900, 64) / 1000.0
    other = rng.integers(-900, 900, 64) / 1000.0
    rows = [(i, list(base.astype("float32"))) for i in range(60)]
    rows += [(100, list(other.astype("float32"))),
             (101, list((other * 0.999).astype("float32")))]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    uncapped = SIM.cosine_near_dup_pairs_lsh(
        df, dim=64, threshold_num=9, threshold_den=10,
        planes_per_band=6, bands=4)
    capped = SIM.cosine_near_dup_pairs_lsh(
        df, dim=64, threshold_num=9, threshold_den=10,
        planes_per_band=6, bands=4, max_bucket=10)
    assert uncapped.count() >= 60 * 59 // 2      # hot clique present
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got                     # small-bucket pair kept
    assert len(got) < 60                         # clique pairs dropped


def test_ivf_prebuilt_matches_and_prunes(spark, tmp_path):
    import io
    import contextlib
    import pandas as pd
    from pyspark.sql import functions as F
    from osmquadtree_rust_bindings_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "ivf_idx")
    SIM.ivf_write_index(emb, idx, dim=64, cells=8)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    live = SIM.ann_ivf_topk(emb, q, dim=64, k=5, cells=8, nprobe=2)
    pre = SIM.ann_ivf_prebuilt(spark, idx, q, dim=64, k=5, cells=8,
                               nprobe=2)
    a = live.toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    b = pre.toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # the probed-partition scan must be dynamically pruned
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pre.explain()
    assert "dynamicpruning" in buf.getvalue()
