"""Dedup operators: the hot-shingle (stopword) cap in ngram Jaccard.

Skewed fixture: every doc shares one stopword bigram; without the cap the
inverted-index self-join emits O(N^2) rows concentrated on that one key —
with the cap, pair counts are bounded by the genuinely-similar docs.
"""

import pytest
from pyspark.sql import functions as F

from osmquadtree_rust_bindings_spark.operators import dedup as DD


N_DOCS = 60


@pytest.fixture(scope="module")
def skewed_docs(spark):
    # every doc starts "of the" (hot shingle, df == N_DOCS); docs 2k/2k+1
    # then share 3 rare bigrams (a planted near-dup pair); the rest of each
    # doc is unique filler
    rows = []
    for i in range(N_DOCS):
        pair = i // 2
        shared = f"p{pair}a p{pair}b p{pair}c p{pair}d"
        filler = f"u{i}x u{i}y u{i}z"
        rows.append((i, f"of the {shared} {filler}"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cap_bounds_candidate_pairs(skewed_docs):
    # threshold low enough that ONE common shingle qualifies a pair:
    # uncapped, the hot "of the" shingle alone links every doc pair
    uncapped = DD.ngram_jaccard_pairs(skewed_docs, threshold=0.01)
    assert uncapped.count() == N_DOCS * (N_DOCS - 1) // 2

    # capped (max_df < N_DOCS drops the hot shingle): only the planted
    # pairs remain — quadratic blowup gone, candidates bounded by real dups
    capped = DD.ngram_jaccard_pairs(skewed_docs, threshold=0.01,
                                    max_df=N_DOCS - 1)
    got = sorted(tuple(r) for r in
                 capped.select("id_a", "id_b").collect())
    assert got == [(2 * k, 2 * k + 1) for k in range(N_DOCS // 2)]


def test_cap_keeps_jaccard_on_capped_space(skewed_docs):
    # sizes must be computed on the CAPPED shingle space: each doc has 8
    # bigrams, 1 hot ("of the") -> 7 kept; a planted pair shares the 4
    # bigrams of its common run incl. the "the pKa" bridge, so inter=4 and
    # union = 7 + 7 - 4 = 10
    capped = DD.ngram_jaccard_pairs(skewed_docs, threshold=0.01,
                                    max_df=N_DOCS - 1)
    row = capped.filter((F.col("id_a") == 0) & (F.col("id_b") == 1)) \
        .collect()[0]
    assert row.inter == 4
    assert row.union_sz == 10


def test_no_cap_is_default_identity(skewed_docs):
    # max_df=None must reproduce the original (uncapped) semantics
    a = DD.ngram_jaccard_pairs(skewed_docs, threshold=0.5)
    b = DD.ngram_jaccard_pairs(skewed_docs, threshold=0.5,
                               max_df=10 ** 9)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_simhash_max_bucket_cap(spark):
    # one 40-doc identical-text clique + a planted near-dup pair: the cap
    # drops the clique's chunk buckets, keeps the small-bucket pair
    rows = [(i, "same text repeated here for everyone") for i in range(40)]
    rows += [(100, "a quite different document body entirely"),
             (101, "a quite different document body entirely")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = DD.simhash_dup_pairs(docs, bits=32, max_hamming=2)
    capped = DD.simhash_dup_pairs(docs, bits=32, max_hamming=2,
                                  max_bucket=10)
    assert uncapped.count() >= 40 * 39 // 2
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got
    assert len(got) < 40


def test_simhash_multi_index_equals_classic(spark):
    # the multi-index pigeonhole (chunks=4 -> C(4,2)=6 two-chunk keys)
    # must produce the IDENTICAL verified-pair set as the classic
    # 3-chunk form: both candidate schemes are complete for
    # hamming <= max_hamming and verification is exact either way
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    kw = dict(bits=60, max_hamming=2)
    classic = sorted(map(tuple,
                         DD.simhash_dup_pairs(docs, **kw).collect()))
    multi = sorted(map(tuple,
                       DD.simhash_dup_pairs(docs, chunks=4,
                                            **kw).collect()))
    assert classic == multi and len(classic) > 0


def test_minhash_null_text_row_adds_no_pairs(spark):
    # a null-text doc has an empty gram set, hence no minhash signature
    # and no band keys: adding one must leave every verified pair
    # (inter/union included) exactly as the docs alone give them
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    null_row = spark.range(1).select(
        F.lit(999999).cast("long").alias("doc_id"),
        *[F.lit(None).cast(docs.schema[c].dataType).alias(c)
          for c in docs.columns if c != "doc_id"])
    with_null = docs.unionByName(null_row.select(*docs.columns))
    kw = dict(num_hashes=8, bands=4, verify_threshold=0.2)
    a = sorted(map(tuple, DD.minhash_lsh_pairs(docs, **kw).collect()))
    b = sorted(map(tuple, DD.minhash_lsh_pairs(with_null, **kw).collect()))
    assert a == b and len(a) > 0


def test_minhash_big_shape_equals_small_shape(spark, monkeypatch):
    # the sf0.01 table is far below BIG_PLAN_MIN_BYTES, so the default
    # runs the small plan shape (fanned-out input, no caches, unrestricted
    # set build); a 0 threshold forces the big one (cached band stream,
    # persisted candidates, candidate-id restricted sets).  Plan shape
    # must never change the pairs, with or without verification.
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert (DD._plan_size_bytes(docs) or 0) < DD.BIG_PLAN_MIN_BYTES
    for kw in (dict(num_hashes=8, bands=4, verify_threshold=0.2),
               dict(num_hashes=8, bands=4, verify_threshold=None)):
        small = sorted(map(tuple, DD.minhash_lsh_pairs(docs, **kw)
                           .collect()))
        monkeypatch.setattr(DD, "BIG_PLAN_MIN_BYTES", 0)
        big = sorted(map(tuple, DD.minhash_lsh_pairs(docs, **kw).collect()))
        monkeypatch.undo()
        spark.catalog.clearCache()
        assert big == small and len(small) > 0


def _sql_cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cleanup_releases_caches(spark, monkeypatch):
    # cleanup=True must (a) return the same pairs as the default path and
    # (b) leave the SQL cache manager EMPTY — the internal band/candidate/
    # shingle caches are the operator's own, and a long-lived session
    # running many invocations must not accumulate them (VERDICT r04
    # item 4; the lifecycle note in minhash_lsh_pairs' docstring).
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    spark.catalog.clearCache()

    # minhash big path (both caches engage): force via the size gate
    monkeypatch.setattr(DD, "BIG_PLAN_MIN_BYTES", 0)
    kw = dict(num_hashes=8, bands=4, verify_threshold=0.2)
    base = sorted(map(tuple, DD.minhash_lsh_pairs(docs, **kw).collect()))
    assert not _sql_cache_empty(spark)  # default path: caches linger
    spark.catalog.clearCache()
    got = sorted(map(tuple,
                     DD.minhash_lsh_pairs(docs, cleanup=True, **kw)
                     .collect()))
    assert got == base and len(got) > 0
    assert _sql_cache_empty(spark)

    # candidates-only return point (verify_threshold=None)
    DD.minhash_lsh_pairs(docs, num_hashes=8, bands=4,
                         verify_threshold=None, cleanup=True).collect()
    assert _sql_cache_empty(spark)
    monkeypatch.setattr(DD, "BIG_PLAN_MIN_BYTES", 64 * 1024 * 1024)

    # ngram (shingle-stream cache is unconditional)
    base = sorted(map(tuple, DD.ngram_jaccard_pairs(
        docs, threshold=0.2).collect()))
    spark.catalog.clearCache()
    got = sorted(map(tuple, DD.ngram_jaccard_pairs(
        docs, threshold=0.2, cleanup=True).collect()))
    assert got == base and len(got) > 0
    assert _sql_cache_empty(spark)

    # simhash (signature cache is unconditional)
    base = sorted(map(tuple, DD.simhash_dup_pairs(
        docs, bits=16, max_hamming=3).collect()))
    spark.catalog.clearCache()
    got = sorted(map(tuple, DD.simhash_dup_pairs(
        docs, bits=16, max_hamming=3, cleanup=True).collect()))
    assert got == base and len(got) > 0
    assert _sql_cache_empty(spark)
