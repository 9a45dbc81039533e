"""Similarity search over embedding columns (array<float>).

- Brute-force top-k (L2 and cosine): broadcast the query set, score with
  sequential-fold Column math (F.aggregate/zip_with — JVM-side, no Python),
  window re-rank.  The L2 variant quantizes to integers first so results
  are exactly reproducible across engines (no float-sum ordering issues).
- LSH-bucketed ANN (the scale path): random-hyperplane signs with integer
  plane coefficients -> exact bucket ids; candidates probe only matching
  buckets (equi-join), then exact re-rank.  At 10^12 rows the bucket join
  replaces the O(N*Q) scan with O(candidates).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

QUANT = 1000  # fixed-point scale for exact integer scoring


def _quantized(col):
    """array<float> -> array<long>, e -> floor(e * QUANT)."""
    return F.transform(col, lambda e: F.floor(
        e.cast("double") * QUANT).cast("long"))


def _quantized_checked(col, dim: int):
    """_quantized with a fail-fast width check: a vector whose size
    differs from the declared ``dim`` raises at execution instead of
    silently null-padding through zip_with (which would send every
    mismatched vector to bucket/cell 0)."""
    return F.when(F.size(col) == dim, _quantized(col)).otherwise(
        F.raise_error(F.concat(
            F.lit(f"embedding dim mismatch: expected {dim}, got "),
            F.size(col).cast("string"))))


def _dot_int(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, v: acc + v)


def l2_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10,
            id_col: str = "vec_id", vec_col: str = "embedding",
            qid_col: str = "qid", qvec_col: str = "qvec") -> DataFrame:
    """Exact top-k by squared L2 distance on QUANT-quantized vectors.
    Integer math end to end -> identical ranks on any engine.
    Output: (qid, rank, vec_id, dist2)."""
    e = embeddings.select(F.col(id_col),
                          _quantized(F.col(vec_col)).alias("__v"))
    q = queries.select(F.col(qid_col),
                       _quantized(F.col(qvec_col)).alias("__q"))
    scored = e.crossJoin(F.broadcast(q)).withColumn(
        "dist2",
        F.aggregate(F.zip_with(F.col("__v"), F.col("__q"),
                               lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("long"), lambda acc, v: acc + v),
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("dist2").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", id_col, "dist2")
    )


def cosine_topk_exact(embeddings: DataFrame, queries: DataFrame, k: int = 10,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      qid_col: str = "qid", qvec_col: str = "qvec"
                      ) -> DataFrame:
    """Brute-force cosine top-k with an engine-exact score.

    score = sign(dot) * floor(1e6 * dot^2 / (|v|^2 |q|^2)) over
    QUANT-quantized vectors — strictly monotone in cosine (sign splits the
    halves; cos^2 is monotone within each), and every intermediate double
    is an exactly-representable integer < 2^53, so the IEEE division and
    floor produce bit-identical scores on any engine.  Ties break by id.
    Output: (qid, rank, vec_id, score)."""
    e = embeddings.select(F.col(id_col),
                          _quantized(F.col(vec_col)).alias("__v"))
    q = queries.select(F.col(qid_col),
                       _quantized(F.col(qvec_col)).alias("__q"))
    scored = e.crossJoin(F.broadcast(q)).withColumns({
        "__dot": _dot_int(F.col("__v"), F.col("__q")),
        "__na": _dot_int(F.col("__v"), F.col("__v")),
        "__nb": _dot_int(F.col("__q"), F.col("__q")),
    }).withColumn(
        "score",
        (F.signum("__dot").cast("long")
         * F.floor(F.lit(1e6) * F.col("__dot").cast("double")
                   * F.col("__dot").cast("double")
                   / (F.col("__na").cast("double")
                      * F.col("__nb").cast("double")))).cast("long"))
    w = Window.partitionBy(qid_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", id_col, "score")
    )


def cosine_near_dup_pairs_blocked(embeddings: DataFrame,
                                  threshold_num: int = 3,
                                  threshold_den: int = 10,
                                  id_col: str = "vec_id",
                                  vec_col: str = "embedding",
                                  num_blocks: int = 8) -> DataFrame:
    """Exact cosine near-dup pairs with NO driver materialization: the
    triangular block self-join.

    Pairs (id_a < id_b) with cos(a, b) >= threshold_num / threshold_den,
    tested exactly as dot > 0 AND dot^2*den^2 >= num^2*|a|^2*|b|^2 on
    QUANT-quantized ints (no float-sum ordering can flip a boundary pair;
    |q_i| <= QUANT, dim <= 64 keeps dot^2 * den^2 < 2^63 for den <= 10).
    Distributed: each vector is hashed to one of B blocks and replicated
    to the B block-pair groups it participates in (diagonal group once), so
    the B*(B+1)/2 groups tile the pair triangle exactly once.  Each group
    runs ONE int64 matmul over its two sub-blocks inside applyInPandas —
    task memory is O(2N/B * dim), never the whole table, and no collect()
    ever touches the driver.  Scale note: exact all-pairs is inherently
    O(N^2) dot products — size B so N/B fits a task (B ~ N / 1e6) and the
    shuffle is B*N rows; at true corpus scale use
    :func:`cosine_near_dup_pairs_lsh`, which bounds candidates instead.
    Output: (id_a, id_b, dot)."""
    B = num_blocks
    q = embeddings.select(
        F.col(id_col).alias("id"),
        _quantized(F.col(vec_col)).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("blk"))
    # group id g = min(blk, i) * B + max(blk, i) over i in 0..B-1; the
    # diagonal (i == blk) appears exactly once in the sequence -> each
    # unordered block pair is materialized exactly once per vector
    groups = F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.lit(B - 1)),
        lambda i: (F.least(i, F.col("blk")) * B
                   + F.greatest(i, F.col("blk"))).cast("int")))
    parts = q.withColumn("g", F.explode(groups))
    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(key[0])
        r, c = g // B, g % B
        left = pdf[pdf["blk"] == r]
        right = pdf[pdf["blk"] == c]
        if not len(left) or not len(right):
            return pd.DataFrame({"id_a": pd.Series([], dtype=np.int64),
                                 "id_b": pd.Series([], dtype=np.int64),
                                 "dot": pd.Series([], dtype=np.int64)})
        la = np.stack(left["v"].to_numpy()).astype(np.int64)
        ra = np.stack(right["v"].to_numpy()).astype(np.int64)
        ida = left["id"].to_numpy(np.int64)
        idb = right["id"].to_numpy(np.int64)
        dots = la @ ra.T
        na = (la * la).sum(axis=1)
        nb = (ra * ra).sum(axis=1)
        keep = ((dots > 0)
                & (dots * dots * den2 >= num2 * na[:, None] * nb[None, :]))
        if r == c:
            # one orientation per pair inside the diagonal block
            keep &= ida[:, None] < idb[None, :]
        i, j = np.nonzero(keep)
        # cross-block pairs can have the smaller id on either side
        lo = np.minimum(ida[i], idb[j])
        hi = np.maximum(ida[i], idb[j])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "dot": dots[i, j]})

    return parts.groupBy("g").applyInPandas(
        fn, schema="id_a long, id_b long, dot long")


def with_lsh_band_keys(df: DataFrame, dim: int, planes_per_band: int = 3,
                       bands: int = 12, vec_col: str = "embedding",
                       out: str = "bkeys") -> DataFrame:
    """Banded hyperplane LSH keys: ``bands`` independent tables, each keyed
    by ``planes_per_band`` sign bits (plane j = band*ppb + r reuses the
    deterministic integer coefficients of :func:`with_lsh_bucket`).  Key =
    band * 2^ppb + bits, so keys from different bands never collide.

    One int64 ``Q @ P.T`` + sign-pack per Arrow batch in place of bands x
    ppb interpreted HOF fold dots per row (HOFs never enter whole-stage
    codegen) — the same bit-exact rewrite as the IVF assignment (perf log
    rules 8/12); the SQL oracle replays the identical integer math."""
    return _with_signs_arrow(df, dim, vec_col, out,
                             planes=bands * planes_per_band,
                             ppb=planes_per_band, bands=bands)


def _with_signs_arrow(df: DataFrame, dim: int, vec_col: str, out: str,
                      planes: int, ppb: int | None = None,
                      bands: int | None = None) -> DataFrame:
    """Arrow-batched hyperplane signs: one int64 Q @ P.T per batch, bit j
    = (dot_j > 0), packed either into one long bucket (ppb is None) or
    into ``bands`` band keys of ``ppb`` bits each (band b key = b * 2^ppb
    + bits).  Bit-identical to the Column fold form: same _plane_coeff
    matrix, same floor(double * QUANT) quantization, same strict > 0."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    banded = ppb is not None
    if out in df.columns:
        df = df.drop(out)
    P = np.array([[_plane_coeff(j, d) for d in range(dim)]
                  for j in range(planes)], dtype=np.int64)
    pt = P.T.copy()
    out_type = ArrayType(LongType(), False) if banded else LongType()
    schema = StructType(list(df.schema.fields)
                        + [StructField(out, out_type, False)])

    def keys_fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                pdf[out] = ([] if banded
                            else np.array([], dtype=np.int64))
                yield pdf
                continue
            V = np.stack(pdf[vec_col].to_numpy())
            if V.ndim != 2 or V.shape[1] != dim:
                raise ValueError(
                    f"embedding dim mismatch: expected {dim}, got "
                    f"{V.shape[1] if V.ndim == 2 else 'ragged'}")
            Q = np.floor(V.astype(np.float64) * QUANT).astype(np.int64)
            S = (Q @ pt) > 0
            if banded:
                w = (1 << np.arange(ppb, dtype=np.int64))
                keys = np.empty((len(pdf), bands), dtype=np.int64)
                for b in range(bands):
                    keys[:, b] = (b << ppb) + S[:, b*ppb:(b+1)*ppb] @ w
                pdf[out] = list(keys)
            else:
                w = (1 << np.arange(planes, dtype=np.int64))
                pdf[out] = S @ w
            yield pdf

    return df.mapInPandas(keys_fn, schema)


def cosine_near_dup_pairs_lsh(embeddings: DataFrame, dim: int,
                              threshold_num: int = 3,
                              threshold_den: int = 10,
                              planes_per_band: int = 3, bands: int = 12,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              max_bucket: int | None = None) -> DataFrame:
    """The 10^12-scale near-dup path: banded-LSH candidate generation +
    the exact integer cosine predicate applied to candidates only.

    Candidates = pairs colliding in ANY of ``bands`` hyperplane sign
    buckets — an equi-join on the band key, never a cross join; the
    verification is two narrow joins back to the quantized vectors and one
    zip_with fold per candidate.  Fully deterministic (integer plane
    coefficients), so the DuckDB oracle replays the identical pipeline and
    the output is hash-exact by construction.

    SIZE ``planes_per_band`` TO THE CORPUS: bucket count per band is
    2^ppb, so candidates scale ~ N^2 / 2^ppb per band.  A fixed ppb means
    constant collision PROBABILITY, i.e. quadratic candidate growth —
    measured: 200k vectors at ppb=6 (64 buckets) emitted ~1.25B candidate
    rows and filled the shuffle disk.  Pick ppb for an OCCUPANCY target
    of ~2-5 vectors/bucket, ppb ≈ log2(N / 4): candidate pairs per
    bucket scale with occupancy^2, so a 50/bucket target admits ~150x
    more pairs than 4/bucket at the same N (measured: 1M vectors at
    ppb=14 = 61/bucket -> ~120M candidates, 312s; ppb=18 = 4/bucket ->
    identical output in 37s — high-cos pairs keep per-band collision
    ~0.97 even at 18 planes).  And/or set ``max_bucket``: band keys
    holding more than that many vectors are dropped before the self-join
    (the analogue of ngram dedup's hot-shingle cap) — a too-dense bucket
    carries ~zero selectivity anyway, and the cap makes worst-case
    candidates O(N * max_bucket * bands) by construction.

    Recall is the LSH collision curve: per-plane P(agree) = 1 - theta/pi.
    At production near-dup thresholds (cos >= 0.8) a (ppb=6, bands=4)
    config prunes candidates ~16x with >95% recall (pinned by
    tests/test_similarity.py's planted-dup fixture); at the test corpus's
    marginal threshold (0.3) pruning is necessarily weak — the operator's
    value is the plan SHAPE: candidate count, not N^2, bounds the work.
    Output: (id_a, id_b, dot) — a deterministic subset of the exact form.
    """
    keyed = with_lsh_band_keys(embeddings, dim, planes_per_band, bands,
                               vec_col).select(
        F.col(id_col).alias("id"), _quantized(F.col(vec_col)).alias("v"),
        F.col("bkeys")).cache()
    flat = keyed.select("id", F.explode("bkeys").alias("bkey"))
    if max_bucket is not None:
        from osmquadtree_rust_bindings_spark.operators.dedup import (
            drop_hot_keys,
        )

        flat = drop_hot_keys(flat, "bkey", max_bucket)
    a = flat.select(F.col("id").alias("id_a"), "bkey")
    b = flat.select(F.col("id").alias("id_b"), "bkey")
    cand = (a.join(b, "bkey").filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    va = keyed.select(F.col("id").alias("id_a"), F.col("v").alias("__va"))
    vb = keyed.select(F.col("id").alias("id_b"), F.col("v").alias("__vb"))
    num2 = threshold_num * threshold_num
    den2 = threshold_den * threshold_den
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumns({
            "dot": _dot_int(F.col("__va"), F.col("__vb")),
            "__na": _dot_int(F.col("__va"), F.col("__va")),
            "__nb": _dot_int(F.col("__vb"), F.col("__vb")),
        })
        .filter((F.col("dot") > 0)
                & (F.col("dot") * F.col("dot") * den2
                   >= num2 * F.col("__na") * F.col("__nb")))
        .select("id_a", "id_b", "dot")
    )


def _centroid_coeff(c: int, d: int) -> int:
    """Deterministic integer centroid component, QUANT scale, in
    [-QUANT, QUANT].  Pure positive-integer arithmetic so the identical
    value is reproducible in any SQL engine (no RNG, no floats)."""
    return ((c * 2654435761 + d * 40503 + ((c + 1) * (d + 1)) % 101)
            % (2 * QUANT + 1)) - QUANT


def centroids(cells: int, dim: int) -> list[list[int]]:
    return [[_centroid_coeff(c, d) for d in range(dim)] for c in range(cells)]


def with_ivf_cell(df: DataFrame, dim: int, cells: int = 8,
                  vec_col: str = "embedding", out: str = "cell",
                  _keep_dists: bool = False) -> DataFrame:
    """IVF coarse quantizer: assign each vector to its nearest centroid
    (integer squared-L2, ties -> lowest cell id).

    What the caller needs picks the form; both give the same cell:

    - **data side**: one int64 ``Q @ C.T`` per Arrow batch against the
      centroid matrix (:func:`_with_ivf_cell_arrow`).  The Column form
      evaluates ``cells`` interpreted HOF folds per row (higher-order
      functions are excluded from whole-stage codegen, perf log rule 8);
      on 4 vCPUs the two tie at 2,000 vectors and the matmul is 4.6x
      faster at 10^6 x 64 (README perf rule 13).  argmin's first-minimum
      rule matches array_position's tie-break (lowest cell id);
      quantization replays floor(double * QUANT) bit-exactly in float64.
    - **query side** (``_keep_dists``, the per-cell distances the probe
      order needs, kept as ``__ds``): pure Column projection, no Python
      worker.

    Writing/partitioning by ``cell`` afterwards gives the inverted-file
    layout that makes probes a pruned equi-join at 10^12 rows."""
    if not _keep_dists:
        return _with_ivf_cell_arrow(df, dim, cells, vec_col, out)
    df = df.withColumn("__vq", _quantized_checked(F.col(vec_col), dim))
    dists = []
    for c, cent in enumerate(centroids(cells, dim)):
        lit = F.array(*[F.lit(x) for x in cent])
        dists.append(
            F.aggregate(F.zip_with(F.col("__vq"), lit,
                                   lambda x, y: (x - y) * (x - y)),
                        F.lit(0).cast("long"), lambda acc, v: acc + v))
    df = df.withColumn("__ds", F.array(*dists)).withColumn(
        out, (F.array_position(F.col("__ds"), F.array_min(F.col("__ds")))
              - 1).cast("int"))
    return df.drop("__vq")


def _with_ivf_cell_arrow(df: DataFrame, dim: int, cells: int,
                         vec_col: str, out: str) -> DataFrame:
    """Arrow-batched centroid assignment: dist2 = |q|^2 - 2 q.c + |c|^2;
    |q|^2 is constant per row, so argmin over (|c|^2 - 2 Q @ C.T) equals
    the full squared-L2 argmin.  All-integer (int64) so the result is
    bit-identical to the Column form and to the SQL oracle."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    if out in df.columns:
        df = df.drop(out)
    C = np.array(centroids(cells, dim), dtype=np.int64)
    c_norm2 = np.einsum("cd,cd->c", C, C)
    schema = StructType(list(df.schema.fields)
                        + [StructField(out, IntegerType(), False)])
    ct = C.T.copy()

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                pdf[out] = np.array([], dtype=np.int32)
                yield pdf
                continue
            V = np.stack(pdf[vec_col].to_numpy())
            if V.ndim != 2 or V.shape[1] != dim:
                raise ValueError(
                    f"embedding dim mismatch: expected {dim}, got "
                    f"{V.shape[1] if V.ndim == 2 else 'ragged'}")
            Q = np.floor(V.astype(np.float64) * QUANT).astype(np.int64)
            d = c_norm2 - 2 * (Q @ ct)
            pdf[out] = np.argmin(d, axis=1).astype(np.int32)
            yield pdf

    return df.mapInPandas(assign, schema)


def ann_ivf_topk(embeddings: DataFrame, queries: DataFrame, dim: int,
                 k: int = 10, cells: int = 8, nprobe: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 qid_col: str = "qid", qvec_col: str = "qvec") -> DataFrame:
    """IVF ANN: search only the ``nprobe`` cells whose centroids are
    closest to the query, exact integer-L2 re-rank inside them.

    Scale path: vectors carry a precomputed ``cell`` (with_ivf_cell) and
    live in cell-partitioned storage; each query explodes into nprobe
    (cell, query) probe rows and the candidate set is a broadcast equi-join
    on cell — the O(N*Q) brute-force scan becomes O(N*Q*nprobe/cells).
    Probe order is encoded as dist2*cells + cell so tie-breaking (equal
    centroid distance -> lower cell id) is integer-exact in any engine.
    With nprobe == cells this is exhaustive and equals l2_topk exactly.
    Output: (qid, rank, vec_id, dist2)."""
    e = with_ivf_cell(embeddings, dim, cells, vec_col).select(
        F.col(id_col), _quantized(F.col(vec_col)).alias("__v"), "cell")
    return _ivf_probe_topk(e, queries, dim, k, cells, nprobe,
                           id_col, qid_col, qvec_col)


def _ivf_probe_topk(e: DataFrame, queries: DataFrame, dim: int, k: int,
                    cells: int, nprobe: int, id_col: str, qid_col: str,
                    qvec_col: str) -> DataFrame:
    """Shared IVF probe/score/rank core: ``e`` is the candidate frame
    (id, __v quantized, cell); queries explode into their nprobe closest
    cells (probe order = dist2*cells + cell, integer-exact tie-break),
    candidates come from the broadcast equi-join on cell, exact integer
    L2 re-rank with (dist2, id) window ordering."""
    q = with_ivf_cell(queries, dim, cells, qvec_col, _keep_dists=True)
    keys = F.transform(
        F.col("__ds"),
        lambda d, i: d * cells + i.cast("long"))
    probes = F.transform(F.slice(F.sort_array(keys), 1, nprobe),
                         lambda x: (x % cells).cast("int"))
    q = q.select(F.col(qid_col), _quantized(F.col(qvec_col)).alias("__q"),
                 F.explode(probes).alias("cell"))
    cand = e.join(F.broadcast(q), "cell").withColumn(
        "dist2",
        F.aggregate(F.zip_with(F.col("__v"), F.col("__q"),
                               lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("long"), lambda acc, v: acc + v),
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("dist2").asc(), F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", id_col, "dist2")
    )


def _manifest_fs(spark, index_path: str):
    """(FileSystem, Path) for the index's _manifest.json via the Hadoop FS
    API — the manifest must live on the SAME filesystem as the index
    (hdfs://, s3a://, file:/...), not on the driver's local disk."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(index_path, "_manifest.json")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p


def ivf_write_index(embeddings: DataFrame, path: str, dim: int,
                    cells: int = 8, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Build the inverted-file layout once: assign cells (pure projection,
    same scan that reads the vectors) and write parquet PARTITIONED BY
    cell, plus a _manifest.json recording (dim, cells) so queries can
    fail fast on mismatched parameters.  At corpus scale this is the
    ingest-time step that turns every subsequent ANN query into a pruned
    scan.  The manifest is written through the Hadoop FS API so it lands
    next to the data on ANY filesystem the index itself supports."""
    import json

    (with_ivf_cell(embeddings, dim, cells, vec_col)
     .select(id_col, vec_col, "cell")
     .write.mode("overwrite").partitionBy("cell").parquet(path))
    fs, p = _manifest_fs(embeddings.sparkSession, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps({"dim": dim, "cells": cells})
                            .encode("utf-8")))
    finally:
        out.close()


def ann_ivf_prebuilt(spark, index_path: str, queries: DataFrame, dim: int,
                     k: int = 10, cells: int = 8, nprobe: int = 2,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     qid_col: str = "qid",
                     qvec_col: str = "qvec") -> DataFrame:
    """IVF ANN over a prebuilt cell-partitioned index: identical results
    to :func:`ann_ivf_topk`, but the scan only reads the probed
    partitions.  The pruning is DECLARATIVE — the broadcast equi-join on
    the partition column triggers Spark's dynamic partition pruning
    (``PartitionFilters: [dynamicpruning#...]`` in ``.explain``), so no
    driver-side probe collection is needed and the physical read is
    nprobe/cells of the index no matter the corpus size.

    The (dim, cells) manifest is MANDATORY: it is read through the
    Hadoop FS API (same filesystem as the index — hdfs://, s3a://,
    file:/...) and a missing manifest raises rather than silently
    skipping validation, because probing wrong cells returns wrong
    neighbors, not an error."""
    import json

    fs, p = _manifest_fs(spark, index_path)
    if not fs.exists(p):
        raise ValueError(
            f"no _manifest.json at {index_path}: not an ivf_write_index "
            f"layout (validation of dim/cells is mandatory — a mismatch "
            f"probes wrong cells and silently returns wrong neighbors)")
    stream = fs.open(p)
    try:
        # read fully via the JVM-side utility (py4j streams have no .read)
        man = json.loads(bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        ).decode("utf-8"))
    finally:
        stream.close()
    if man.get("dim") != dim or man.get("cells") != cells:
        raise ValueError(
            f"index at {index_path} was built with "
            f"dim={man.get('dim')}, cells={man.get('cells')}; "
            f"queried with dim={dim}, cells={cells}")
    e = spark.read.parquet(index_path).select(
        F.col(id_col), _quantized(F.col(vec_col)).alias("__v"),
        F.col("cell").cast("int").alias("cell"))
    return _ivf_probe_topk(e, queries, dim, k, cells, nprobe,
                           id_col, qid_col, qvec_col)


def _plane_coeff(j: int, d: int) -> int:
    """Deterministic integer hyperplane coefficients in [-3, 3]."""
    return ((j * 31 + d * 17 + (j * d) % 11) % 7) - 3


def with_lsh_bucket(df: DataFrame, dim: int, planes: int = 8,
                    vec_col: str = "embedding",
                    out: str = "bucket",
                    _keep_dots: bool = False) -> DataFrame:
    """Random-hyperplane LSH bucket: bit j = sign of <v_int, plane_j>.
    Integer dot products -> exact, portable bucket ids.  The data side is
    the Arrow sign-matmul (:func:`_with_signs_arrow`); with ``_keep_dots``
    (the query side of multi-probe, which uses |dot| as the flip margin)
    it is a pure Column projection that also keeps the per-plane dots as
    array column ``__pd``.  Both forms give the same bucket."""
    if not _keep_dots:
        return _with_signs_arrow(df, dim, vec_col, out, planes=planes)
    df = df.withColumn("__vq", _quantized_checked(F.col(vec_col), dim))
    dots = []
    bucket = F.lit(0)
    for j in range(planes):
        coeffs = F.array(*[F.lit(_plane_coeff(j, d)) for d in range(dim)])
        dot = _dot_int(F.col("__vq"), coeffs)
        dots.append(dot)
        bucket = bucket + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return df.withColumns({out: bucket, "__pd": F.array(*dots)}).drop("__vq")


def ann_lsh_multiprobe_topk(embeddings: DataFrame, queries: DataFrame,
                            dim: int, k: int = 10, planes: int = 8,
                            nprobe: int = 3, id_col: str = "vec_id",
                            vec_col: str = "embedding", qid_col: str = "qid",
                            qvec_col: str = "qvec") -> DataFrame:
    """Multi-probe LSH ANN: besides the query's own bucket, probe the
    buckets reached by flipping the (nprobe-1) planes with the smallest
    |margin| (|<q, plane>|) — the classic multi-probe sequence, fully
    deterministic (margin ties break on lower plane index via the
    margin*planes+j encoding, same trick as the IVF probe order).

    Pure Column algebra: the probe list is sort_array over encoded margins,
    the flip is an XOR with 2^j (exact double -> long for j < 53); the
    candidate set stays a broadcast equi-join on bucket.  nprobe=1 probes
    the query's own bucket only.  Output: (qid, rank, vec_id, dist2)."""
    e = with_lsh_bucket(embeddings, dim, planes, vec_col).select(
        F.col(id_col), _quantized(F.col(vec_col)).alias("__v"), "bucket")
    q = with_lsh_bucket(
        queries.withColumnRenamed(qvec_col, "__qv"), dim, planes, "__qv",
        _keep_dots=True)
    margins = F.transform(
        F.col("__pd"),
        lambda d, i: F.abs(d) * planes + i.cast("long"))
    flips = F.transform(
        F.slice(F.sort_array(margins), 1, nprobe - 1),
        lambda x: F.col("bucket").bitwiseXOR(
            F.pow(F.lit(2.0), (x % planes).cast("double")).cast("long")))
    probes = F.array_union(F.array(F.col("bucket")), flips)
    q = q.select(F.col(qid_col), _quantized(F.col("__qv")).alias("__q"),
                 F.explode(probes).alias("bucket"))
    cand = e.join(F.broadcast(q), "bucket").withColumn(
        "dist2",
        F.aggregate(F.zip_with(F.col("__v"), F.col("__q"),
                               lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("long"), lambda acc, v: acc + v),
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("dist2").asc(), F.col(id_col).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", id_col, "dist2")
    )
