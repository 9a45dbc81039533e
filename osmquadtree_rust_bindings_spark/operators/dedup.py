"""Deduplication operators for large-scale corpus pipelines.

Exact (hash groupBy), n-gram Jaccard (inverted shingle index), MinHash+LSH
(band buckets), SimHash, and embedding near-dup — each expressed as shuffle-
lean DataFrame plans:

- shingling is explode + window(lead), no Python;
- minhash minima are one Arrow pass per doc (md5 word hashes -> min per
  hash), so nothing is shuffled before the band join;
- LSH candidate generation is an equi-join on (band, bucket) — never a
  cross join;
- verification joins candidates back to signatures/shingle sets.

All hashes are md5-derived 60-bit ints (portable: identical in Spark and
DuckDB, so the correctness oracle can replay the exact pipeline in SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# md5-hex -> 60-bit int, identical value obtainable in DuckDB via
# cast(('0x' || substring(md5(x),1,15)) as bigint)
WORD_HASH = "cast(conv(substring(md5({col}),1,15),16,10) as bigint)"
# Minhash modulus: 2^31-1, matching the domain the shingle hash is
# reduced to.  NOT 2^61-1: with h, a < 2^31 the product a*h < 2^62 wraps
# a 61-bit modulus at most once, so for ~85% of (shingle, hash) pairs
# (a*h + b) mod P is order-preserving in h — every such "hash" selects
# the same argmin shingle and the minhashes are massively correlated
# (measured: pair recall at banding (160, 16) for J=0.90 was 0.906 where
# the S-curve predicts 0.999; simulation of this exact hash family
# reproduces 0.906, and 0.999 with the 31-bit modulus).  With mod 2^31-1
# the product wraps ~2^31 times, the family behaves as independent
# permutations, and banded recall matches theory.  Still int64-safe in
# Spark and DuckDB: a*h + b < 2^62.
MERSENNE_P = (1 << 31) - 1

# Input size (Catalyst estimate) at which minhash_lsh_pairs switches from
# the small plan shape (fan the input out, no caches, no candidate-id
# restriction) to the big one (cached band stream, persisted candidates,
# restricted set build); _spread_small fans out below the same size.
# Measured on 4 vCPUs, identical outputs in every cell (README perf rule
# 13): 0.6 MB (sf0.1) small 1.15s vs big 1.64s; 34 MB (200k docs in 4
# files) small 9.17s vs big 5.66s; 169 MB (1M docs) small 44.29s vs big
# 24.32s.  The crossover lies between 0.6 and 34 MB; 64 MiB is the value
# tuned on local[32] and picks the small shape at 34 MB, so it is due a
# re-tune — which must also see the partition count: on the same 34 MB
# as ONE file the big shape scans one partition and takes 11.63s.
BIG_PLAN_MIN_BYTES = 64 << 20


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df`` (parquet file bytes reach this
    through the relation stats).  None when the estimate is unavailable —
    callers must then pick the scale-safe branch."""
    try:
        return int(str(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return None


def _spread_small(df: DataFrame) -> DataFrame:
    """Fan a small input across the cluster before the shingle projection.

    The gram-set expression is built on ``transform``/``array_join`` —
    higher-order functions are evaluated interpreted (excluded from
    whole-stage codegen), ~5µs per gram — and a small corpus often arrives
    as ONE parquet file = ONE partition (maxPartitionBytes never splits a
    sub-128MB file), so the whole projection runs on a single core
    (measured 2.9s for 270k grams on local[32]; 0.4s after the spread).
    Only fires when the input is small enough for the round-robin
    shuffle to be noise (sub-BIG_PLAN_MIN_BYTES — at worst a pointless
    <64MB shuffle when the input is already well-partitioned); a corpus
    at scale is untouched."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if (_plan_size_bytes(df) or BIG_PLAN_MIN_BYTES) < BIG_PLAN_MIN_BYTES:
        return df.repartition(p)
    return df


def _materialize_release(out: DataFrame, held: list[DataFrame]) -> DataFrame:
    """``cleanup=True`` tail shared by the pair operators: eagerly
    localCheckpoint the result (computes it once and pins its partitions
    executor-side, severing lineage to the internal cached streams), then
    unpersist every internal cache so a long-lived session doesn't
    accumulate multi-GB band/candidate tables across invocations.  The
    checkpoint blocks are released by the ContextCleaner when the
    returned DataFrame is garbage-collected (or explicitly via
    ``.unpersist()``).  Local checkpoints are not recomputable after
    executor loss — resumable cluster jobs should keep ``cleanup=False``
    and own the lifecycle (materialize → ``spark.catalog.clearCache()``),
    as the corpus bench does."""
    out = out.localCheckpoint(eager=True)
    for c in held:
        c.unpersist()
    return out


def drop_hot_keys(df: DataFrame, key: str, cap: int) -> DataFrame:
    """The shared hot-key guard for every candidate generator (ngram
    shingles, MinHash/banded-LSH buckets, SimHash chunks): drop rows whose
    ``key`` value occurs more than ``cap`` times, BEFORE a self-join on
    that key.  A key with frequency f otherwise emits f^2 join rows —
    quadratic growth concentrated on single keys that AQE skew-split
    cannot fix (it rebalances partitions, not row counts).  The hot set is
    at most total_rows / cap distinct values, so it broadcasts; the
    anti-join bounds worst-case candidates at O(N x cap) per table."""
    hot = (df.groupBy(key).agg(F.count(F.lit(1)).alias("__n"))
           .filter(F.col("__n") > cap).select(key))
    return df.join(F.broadcast(hot), key, "left_anti")


def exact_dedup(df: DataFrame, text: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on content hash: one group per md5(text), keeper = min id.
    Output: (content_md5, keep_id, dups)."""
    return (
        df.select(F.md5(F.col(text)).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dups"))
    )


def shingles(df: DataFrame, text: str = "text", id_col: str = "doc_id",
             n: int = 2) -> DataFrame:
    """Word n-gram shingles: (id, shingle) distinct.

    Pure array algebra — split → transform(sequence)/slice/array_join →
    array_distinct → explode — so shingling runs inside whole-stage
    codegen with ZERO shuffle (the earlier lead()-window formulation
    shuffled the whole corpus by doc_id before the minhash agg even
    started; at 100 TB that shuffle dwarfs the agg itself).

    Dedup is per-doc ``array_distinct`` BEFORE the explode, not a global
    ``.distinct()`` after it: the two are equivalent ((id, shingle) pairs
    are unique across docs by construction), but the global distinct
    shuffles the whole stream hash-partitioned by (id, shingle), which
    destroys doc locality — every downstream groupBy(id) then gets ~zero
    map-side reduction and re-shuffles the full stream with its agg
    buffers attached (measured as a ~100 GB shuffle write at 10M docs:
    one partial-agg row per (task, doc) x 33 columns).  With per-doc
    dedup the stream stays in source order, each doc's shingles sit in
    one input partition, and the signature/set groupBys combine down to
    one row per doc before their shuffle.
    """
    return df.select(
        F.col(id_col),
        F.explode(gram_set_col(F.col(text), n)).alias("shingle"))


def gram_set_col(text_col, n: int = 2):
    """The per-doc distinct word-n-gram set as an array Column — the
    shared building block of :func:`shingles` (explode of it) and the
    verify-stage set build (used directly, no explode + collect_set round
    trip)."""
    ws = F.split(text_col, " ")
    grams = F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (n - 1)),
            lambda i: F.array_join(F.slice(ws, i, n), " ")),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.4,
                        text: str = "text", id_col: str = "doc_id",
                        n: int = 2, max_df: int | None = None,
                        cleanup: bool = False) -> DataFrame:
    """All-pairs n-gram Jaccard >= threshold via an inverted shingle index.

    |A ∩ B| from the self-join of the distinct shingle stream; |A ∪ B| =
    nA + nB - inter.  Threshold comparison done as integer cross-multiply
    (10*inter >= thr*10*union) to keep the output float-free.
    Output: (id_a, id_b, inter, union_sz) with id_a < id_b.

    ``max_df`` is the hot-shingle guard: shingles appearing in more than
    ``max_df`` documents are dropped from the index BEFORE the self-join
    (standard stopword-shingle practice).  Without it a shingle with
    document frequency f emits f^2 join rows — at corpus scale a stopword
    bigram ("of the") is a quadratic blowup concentrated on one key that
    AQE skew-split cannot fix (it rebalances partitions, not O(f^2) row
    counts).  With the cap, per-key fan-out is bounded by max_df^2 and
    total candidates by |shingles| * max_df^2.  The hot set itself is tiny
    (<= total_postings / max_df distinct shingles), so it broadcasts.
    Jaccard is then computed on the capped shingle space (sizes AND
    intersections) — deterministic and replayable in SQL.
    """
    df = _spread_small(df)
    sh = shingles(df, text, id_col, n)
    if max_df is not None:
        sh = drop_hot_keys(sh, "shingle", max_df)
    sh = sh.cache()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("nsh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("inter"))
    )
    thr_num = int(round(threshold * 1000))
    out = (
        inter
        .join(sizes.withColumnRenamed(id_col, "id_a")
              .withColumnRenamed("nsh", "na"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b")
              .withColumnRenamed("nsh", "nb"), "id_b")
        .withColumn("union_sz", F.col("na") + F.col("nb") - F.col("inter"))
        .filter(F.col("inter") * 1000 >= F.lit(thr_num) * F.col("union_sz"))
        .select("id_a", "id_b", "inter", "union_sz")
    )
    return _materialize_release(out, [sh]) if cleanup else out


def _hash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash family, both < 2^31
    so (h % 2^31-1) * a + b stays inside int64 in every engine."""
    m = 2147483647
    return [(((2 * i + 1) * 0x9E3779B1 + 12289) % m,
             ((i * i + 1) * 0x85EBCA77 + 1) % m)
            for i in range(num_hashes)]


def _minhash_minima(df: DataFrame, num_hashes: int,
                    text: str, id_col: str, n: int) -> DataFrame:
    """One Arrow pass per doc: text -> distinct n-gram shingles -> md5
    word hashes -> ``num_hashes`` universal-hash minima.  Bit-identical
    to the exploded-stream groupBy the SQL oracle replays (same md5-hex-15
    word hash — computed as ``digest()[:8] >> 4``, the integer equal of
    ``int(hexdigest()[:15], 16)`` without the hex round trip — same
    (h*a+b) mod M minima), but with ZERO shuffle before the candidate
    join: a groupBy over the exploded shingle stream wrote a 13 GB
    signature shuffle with 11.6 GB of hash-agg spill at 10M docs.
    Band-key hashing is NOT done here: md5 over the N x bands key
    strings is whole-stage-codegen work (:func:`_band_key_cols` applies
    it to ``mins``), and keeping it JVM-side removed a 160M-iteration
    Python string+md5 loop measured at ~1/3 of this kernel's wall at 10M
    docs.  Docs with no shingles (null text included) emit no row: they
    have no signature.
    Output: (id_col, mins array<long>[num_hashes])."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    params = _hash_params(num_hashes)
    A = np.array([a for a, _ in params], dtype=np.int64)
    B = np.array([b for _, b in params], dtype=np.int64)
    M = 2147483647
    schema = StructType([df.schema[id_col],
                         StructField("mins", ArrayType(LongType(), False),
                                     False)])
    # chunk so the (hashes x num_hashes) int64 intermediate stays small
    max_h = max(1, (48 << 20) // (8 * num_hashes))
    md5 = hashlib.md5
    ibytes = int.from_bytes

    def keys_fn(batches):
        for pdf in batches:
            ids_all, hs_all, offs = [], [], [0]
            for i, t in zip(pdf[id_col], pdf[text]):
                if t is None:
                    continue  # null text -> empty gram set
                wsl = t.split(" ")
                if len(wsl) < n:
                    continue
                gr = dict.fromkeys(
                    " ".join(wsl[j:j + n]) for j in range(len(wsl) - n + 1))
                # digest()[:8] big-endian >> 4 == first 15 hex digits
                hs = [(ibytes(md5(g.encode("utf-8")).digest()[:8],
                              "big") >> 4) % M for g in gr]
                ids_all.append(i)
                hs_all.extend(hs)
                offs.append(len(hs_all))
            if not ids_all:
                continue
            H = np.array(hs_all, dtype=np.int64)
            starts = np.array(offs[:-1])
            mins = np.empty((len(ids_all), num_hashes), dtype=np.int64)
            lo = 0
            while lo < len(starts):
                hi = lo
                while hi < len(starts) and offs[hi + 1] - offs[lo] <= max_h:
                    hi += 1
                hi = max(hi, lo + 1)
                P = (H[offs[lo]:offs[hi], None] * A + B) % M
                mins[lo:hi] = np.minimum.reduceat(
                    P, starts[lo:hi] - offs[lo], axis=0)
                lo = hi
            yield pd.DataFrame({id_col: ids_all, "mins": list(mins)})

    return df.mapInPandas(keys_fn, schema)


def _band_key_cols(bands: int, rows: int) -> list:
    """The ``bands`` band-key Columns over the per-doc ``mins`` array:
    60-bit md5 of '{band}_{mh}_{mh}...', run in whole-stage codegen."""
    out = []
    for b in range(bands):
        cols = [F.col("mins")[b * rows + r] for r in range(rows)]
        concat = F.concat_ws("_", F.lit(str(b)),
                             *[c.cast("string") for c in cols])
        out.append(F.conv(F.substring(F.md5(concat), 1, 15), 16, 10)
                   .cast("long"))
    return out


def minhash_lsh_pairs(df: DataFrame, num_hashes: int = 16, bands: int = 4,
                      text: str = "text", id_col: str = "doc_id",
                      n: int = 2, verify_threshold: float | None = 0.4,
                      max_bucket: int | None = None,
                      cleanup: bool = False) -> DataFrame:
    """LSH candidate pairs: docs sharing any band bucket.  Buckets are the
    md5 of the band's concatenated signature slice.  With
    verify_threshold set, candidates are verified with true Jaccard via the
    shingle index (cover-and-refine, like the spatial joins).
    Output: (id_a, id_b[, inter, union_sz]).

    Size rows-per-band (num_hashes / bands) to the corpus: on a repetitive
    vocabulary, 4-minhash buckets collide broadly (measured 63M candidate
    pairs on a 1M-doc synthetic corpus — verification then dominates).
    ``max_bucket`` is the hot-bucket guard (same as SimHash / banded-LSH):
    band keys holding more than the cap are dropped before the self-join,
    bounding candidates at O(N x cap x bands).

    The per-doc minhash minima come from one Arrow kernel
    (:func:`_minhash_minima`, zero shuffle before the candidate join);
    the band keys are codegen md5 expressions over them
    (:func:`_band_key_cols`).  The plan shape picks by input size:
    below ``BIG_PLAN_MIN_BYTES`` the input is fanned out and nothing is
    cached or restricted; at or above it (or when Catalyst has no
    estimate) the big shape below runs — measurements at the
    constant's definition.

    Cache ownership: on the big path the band stream is ``.cache()``d
    (both self-join sides read it) and the candidate table is persisted
    MEMORY_AND_DISK (verify join + id restriction read it).  With the
    default ``cleanup=False`` the returned DataFrame is lazy and CALLERS
    running many invocations in one long-lived session own the cleanup
    (``spark.catalog.clearCache()`` after materializing, as the corpus
    bench does).  ``cleanup=True`` moves that into the operator: the
    result is eagerly materialized (localCheckpoint) and every internal
    cache unpersisted before returning — see
    :func:`_materialize_release` for the cluster-resume caveat."""
    rows = num_hashes // bands
    # scale-safe when the estimate is unknown: treat as big
    big = (_plan_size_bytes(df) or BIG_PLAN_MIN_BYTES) >= BIG_PLAN_MIN_BYTES
    if not big:
        df = _spread_small(df)  # single-file inputs: use every core
    # Band keys are the 60-bit md5 hash of the band's concatenated slice,
    # not the concat string itself: with production banding (10+ rows per
    # band x 19-digit hashes) the string key is ~200B, and the banded
    # stream is N x bands rows — at 10M docs the string-keyed stream was
    # a multi-10GB shuffle where the hashed form is 16B/row.  Equal
    # slices hash equal, so candidate semantics are unchanged (a 2^-60
    # collision could only add a candidate, which exact verification then
    # filters by the same rule the oracle replays).
    keyed = _minhash_minima(df, num_hashes, text, id_col, n)
    # all band keys in ONE pass: explode of an array projection instead
    # of a bands-way union (which scanned the signature table per band)
    stacked = keyed.select(
        F.col(id_col),
        F.explode(F.array(*_band_key_cols(bands, rows))).alias("bucket"))
    held: list[DataFrame] = []  # internal caches for cleanup=True
    if big:
        # both self-join sides + the candidate-id restriction read this
        # one pass; below the threshold recomputation is cheaper than the
        # cache-materialization barrier (one fewer sequential job)
        stacked = stacked.cache()
        held.append(stacked)
    if max_bucket is not None:
        stacked = drop_hot_keys(stacked, "bucket", max_bucket)
    a = stacked.select(F.col(id_col).alias("id_a"), "bucket")
    bb = stacked.select(F.col(id_col).alias("id_b"), "bucket")
    cand = (
        a.join(bb, "bucket").filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
    )
    if verify_threshold is None:
        return _materialize_release(cand, held) if cleanup else cand
    if big:
        # the candidate table is read twice below (verify join + the id
        # restriction); persisting it stops the bucket self-join from
        # re-running in the restriction branch.  MEMORY_AND_DISK: size
        # is hot-capped at O(N x max_bucket x bands) pairs, spill-safe.
        from pyspark import StorageLevel
        cand = cand.persist(StorageLevel.MEMORY_AND_DISK)
        held.append(cand)
    # verify ONLY the candidates (never the all-pairs join): per-doc
    # shingle-SET arrays + array_intersect, so the verify join carries
    # O(candidates) rows instead of the O(candidates x doc_len) postings
    # explosion of a join-on-shingle formulation (measured 2.5x on the
    # bench corpus; at 100 TB the postings intermediate is the largest
    # shuffle of the whole pipeline).  Identical (inter, union) values
    # either way, so the SQL oracle's postings replay matches hash-exact.
    #
    # Restrict the set build to docs that actually appear in a candidate
    # pair: candidates reference only a fraction of the corpus, and the
    # full-corpus set build shuffled every doc's gram array (measured
    # disk-full at 10M docs in the collect_set formulation).  The id set
    # comes from the PERSISTED candidate table itself — explode + distinct
    # over O(pairs) rows.  The earlier bucket-occupancy derivation
    # (groupBy bucket having count>=2, then a semi-join back) computed the
    # identical set but paid two more full passes over the N x bands band
    # stream — at 10M docs those two 160M-row jobs (the groupBy's keys are
    # mostly unique, so map-side combine removed nothing) were the bulk of
    # a 225s verify phase.  The id set is bounded by the capped pair count
    # x 2, so it broadcasts.  The gram set is computable per doc straight
    # from the text (same gram_set_col the shingle stream explodes) — no
    # explode + collect_set round trip, just a projection.  Grams are
    # hashed to the 60-bit md5 word-hash ints the signatures already use:
    # array_intersect on fixed-width longs instead of ~12-char strings
    # (equal grams hash equal; an intra-doc collision — the only event
    # that could change an (inter, union) value — needs two of a doc's
    # ~40 grams to share 60 bits, P ~ 2^-50 per corpus, and the SQL
    # oracle replays the same hashed formulation).  Below the size
    # threshold the candidate restriction is skipped: its sequential
    # broadcast jobs cost more than projecting every doc's gram set, and
    # non-candidate set rows simply never match the verify join.
    if big:
        cand_ids = (cand.select(F.explode(F.array("id_a", "id_b"))
                                .alias(id_col)).distinct())
        sets = df.join(F.broadcast(cand_ids), id_col, "left_semi")
    else:
        sets = df
    sets = sets.select(
        F.col(id_col),
        F.transform(
            gram_set_col(F.col(text), n),
            lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10)
            .cast("long")).alias("__ss"))
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("__ss").alias("__sa"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("__ss").alias("__sb"))
    thr_num = int(round(verify_threshold * 1000))
    out = (
        cand.join(sa, "id_a").join(sb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("__sa", "__sb")))
        .withColumn("union_sz",
                    F.size("__sa") + F.size("__sb") - F.col("inter"))
        .filter(F.col("inter") * 1000 >= F.lit(thr_num) * F.col("union_sz"))
        .select("id_a", "id_b", "inter", "union_sz")
    )
    return _materialize_release(out, held) if cleanup else out


def simhash_signatures(df: DataFrame, bits: int = 16, text: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """SimHash over word hashes: bit b of the signature is set iff
    sum over words of (bit b of hash ? +1 : -1) > 0.  Pure SQL aggregation
    (one sum per bit, map-side combinable).  Output: (id, simhash)."""
    words = df.select(
        F.col(id_col), F.explode(F.split(F.col(text), " ")).alias("w"))
    words = words.withColumn("h", F.expr(WORD_HASH.format(col="w")))
    aggs = [
        F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
        .alias(f"s{b}")
        for b in range(bits)
    ]
    sums = words.groupBy(id_col).agg(*aggs)
    sig = F.lit(0)
    for b in range(bits):
        sig = sig + F.when(F.col(f"s{b}") > 0,
                           F.lit(1 << b)).otherwise(F.lit(0))
    return sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_dup_pairs(df: DataFrame, bits: int = 16, max_hamming: int = 2,
                      text: str = "text", id_col: str = "doc_id",
                      max_bucket: int | None = None,
                      chunks: int | None = None,
                      cleanup: bool = False) -> DataFrame:
    """Near-dup pairs by SimHash: band the signature into ``chunks`` pieces
    (default max_hamming+1) and equi-join on chunk-combination keys, verify
    hamming via bit_count.  Output: (id_a, id_b, hamming).

    Pigeonhole with k chunks: <= max_hamming differing bits hit <=
    max_hamming chunks, so >= k - max_hamming chunks match exactly — every
    qualifying pair shares one of the C(k, k - max_hamming) combination
    keys.  With the default k = max_hamming + 1 the combinations are the
    single chunks (the classic form; keys are xxhash64 of the same
    (combo, masked-chunk) tuples the pre-``chunks`` version keyed as
    strings — identical candidate semantics).  k ABOVE the minimum is
    the multi-index form (Manku et al., WWW'07): key width grows from
    bits/k to (k-h)·bits/k, so bucket occupancy falls from N/2^(bits/k)
    to N/2^((k-h)·bits/k) at the cost of C(k, k-h) keys per doc.  The
    occupancy term is what goes super-linear on a growing corpus: at 20M
    docs / 60-bit signatures the 3-chunk form (20-bit buckets, ~19
    docs/bucket) emitted ~570M candidate rows = 43 GB of join spill for
    2.5M real pairs, where 4 chunks / 6 pair-keys (30-bit buckets,
    occupancy ~0.02) emit ~no background candidates at all.

    ``max_bucket`` is the hot-chunk guard (same rationale as the ngram
    hot-shingle cap and the LSH max_bucket): a chunk value shared by f
    docs emits f^2 candidate rows; chunks over the cap are dropped before
    the self-join, bounding candidates at O(N * max_bucket * chunks) at
    the cost of the pigeonhole guarantee for pairs inside dropped chunks
    (which carry ~no selectivity anyway)."""
    from itertools import combinations

    # NOTE (measured negative result, 40M docs): unlike minhash, the
    # signature agg here is NOT worth replacing with a row-local Arrow
    # kernel.  The exploded groupBy's 60 int sums map-side-combine to
    # ONE row per doc per task before the shuffle (17s at 40M docs),
    # while a per-doc Python-md5 kernel pays for every token (296s at
    # 40M even with per-batch distinct-word memoization).  The minhash
    # kernel wins there because its 160-column signature shuffle has no
    # such reduction and md5 is per distinct shingle, not per token.
    sig = simhash_signatures(df, bits, text, id_col).cache()
    k = chunks if chunks is not None else max_hamming + 1
    if k <= max_hamming:
        raise ValueError(f"chunks={k} must exceed max_hamming={max_hamming}")
    step = bits // k
    if step == 0:
        # k > bits would make every chunk mask 0: all docs share every
        # combination key and the self-join degenerates to N^2 candidates
        raise ValueError(f"chunks={k} must not exceed bits={bits}")

    def chunk_val(c: int):
        return F.col("simhash").bitwiseAND(
            F.lit(((1 << step) - 1) << (c * step)))

    # 8-byte xxhash64 keys, not concat strings: the banded stream is
    # N x C(k, k-h) rows and a two-chunk string key is ~45B — 11 GB at
    # 40M docs, shuffled three times (hot-key agg + both self-join
    # sides) — where the hashed key is 8B.  Equal (combo, chunk values)
    # tuples hash equal, so candidate semantics are unchanged; a 2^-64
    # collision could only ADD a candidate, which the exact hamming
    # verification then filters.  Same rationale as the minhash band-key
    # hashing.
    combos = list(combinations(range(k), k - max_hamming))
    chunk_cols = [
        F.xxhash64(F.lit(ci), *[chunk_val(c) for c in combo])
        for ci, combo in enumerate(combos)
    ]
    # one pass: explode of the chunk-key array instead of a chunks-way
    # union over the cached signature table
    stacked = sig.select(F.col(id_col),
                         F.explode(F.array(*chunk_cols)).alias("chunk"))
    if max_bucket is not None:
        stacked = drop_hot_keys(stacked, "chunk", max_bucket)
    a = stacked.select(F.col(id_col).alias("id_a"), "chunk")
    b = stacked.select(F.col(id_col).alias("id_b"), "chunk")
    cand = (a.join(b, "chunk").filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("ha"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("hb"))
    out = (
        cand.join(sa, "id_a").join(sb, "id_b")
        .withColumn("hamming", F.bit_count(
            F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    return _materialize_release(out, [sig]) if cleanup else out
