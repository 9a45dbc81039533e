"""Corpus-scale soak for the training-data-pipeline operators.

The contract tables cap at 5k documents / 2k embeddings — three orders
below anything interesting.  This job generates a deterministic synthetic
corpus IN SPARK (no driver materialization: sequence + codegen text
assembly), then runs the dedup / text / ANN operators at a scale where
their shuffle structure, not constant overhead, dominates:

- documents: N docs, ~40 words each from a power-law vocabulary;
  10% exact duplicates (same text, different id) and 5% near-duplicates
  (one word substituted) are planted deterministically.
- embeddings: M vectors, dim 64, deterministic integer pattern with
  planted near-duplicate pairs.

Execution shape: ONE spark-submit --py-files JVM PER STAGE (the
production deployment shape — each stage gets a fresh heap sized to its
own working set).  The shared-JVM form this replaced produced measured
2-3x swings on identical code (old-gen aging + the previous pass's async
shuffle-file deletion landing inside the next pass's clock: simhash 81.5s
standalone vs 299-349s mid-suite at 20M docs) and forced a one-size heap
that helped minhash (~2x) while costing simhash ~2x.

Per-stage heap (the working-set story, measured at 20M docs):
- minhash caches the N x bands band stream and shuffles alongside it:
  870s at 16g vs 516s at 48g, identical output — pure GC.  48g at >=10M.
- simhash/text/exact are streaming aggregations: 16g is FASTER than 48g
  (81.5s vs 175.4s — bigger old gen = longer pauses).  16g always.

Prints one JSON line (RESULT ...) with per-stage wall times + row counts;
BENCH/corpus.json is written by the caller redirect if wanted.

Usage: python jobs/run_corpus_bench.py [--docs N] [--vecs M]
       python jobs/run_corpus_bench.py --stage minhash --docs N  (one JVM)
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DOCS_PATH = "/tmp/osmqt_corpus/documents_v2"
VECS_PATH = "/tmp/osmqt_corpus/embeddings"

STAGES = ["gen", "exact_dedup_groups", "minhash_lsh_pairs", "simhash_pairs",
          "text_quality_kept", "ann_ivf_topk", "cosine_near_dup_lsh"]


def gen_documents(spark, n: int):
    """N docs of ~40 words, all codegen (sequence/transform/concat):
    word w of doc i = 'w' || (xxhash64(src, w) % (10000 + 2000 * w));
    docs with i % 10 == 9 repeat doc i - 9's text exactly (exact dups);
    i % 20 == 7 copies i - 7 with one word changed (near dup).

    Word values are hash-mixed, not a linear-congruential pattern: the v1
    generator's (src * 31 + src % (w + 3)) % smallV words gave the corpus
    a degenerate shingle vocabulary (~3.8M distinct bigrams across 390M
    occurrences at 10M docs, position-clustered), so minhash argmins
    concentrated on corpus-common shingles and band buckets reached 27k
    docs at ANY banding — 10^8+ candidate pairs that no real corpus
    produces (natural vocabularies give mostly doc-rare shingles, so
    non-dup docs almost never share 10 argmins).  Hash-mixing restores
    that: bigram pools are ~10^8, background Jaccard ~0, and candidates
    collapse to the planted dup structure.  The v1 run remains a useful
    adversarial datapoint: the hot-bucket caps bounded the blowup to the
    documented O(N x cap x bands) envelope (measured 165M pairs at cap
    200, banding (32, 4)) instead of the uncapped ~10^12."""
    from pyspark.sql import functions as F

    base = spark.range(n).withColumn(
        "src",
        F.when(F.col("id") % 10 == 9, F.col("id") - 9)
        .when(F.col("id") % 20 == 7, F.col("id") - 7)
        .otherwise(F.col("id")))
    words = F.transform(
        F.sequence(F.lit(0), F.lit(39)),
        lambda w: F.when(w == 0, F.lit("the")).when(w == 5, F.lit("and"))
        .otherwise(F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("src"), w),
                   w.cast("long") * 2000 + 10000).cast("string"))))
    # near dup: replace word 20 with a doc-unique token
    words = F.when(
        F.col("id") % 20 == 7,
        F.concat(F.slice(words, 1, 20),
                 F.array(F.concat(F.lit("u"), F.col("id").cast("string"))),
                 F.slice(words, 22, 19))).otherwise(words)
    return base.select(F.col("id").alias("doc_id"),
                       F.array_join(words, " ").alias("text"))


def gen_embeddings(spark, m: int, dim: int = 64):
    """M deterministic vectors; vec i with i % 7 == 6 is vec i-6 plus a
    tiny perturbation (planted near-dup)."""
    from pyspark.sql import functions as F

    base = spark.range(m).withColumn(
        "src", F.when(F.col("id") % 7 == 6, F.col("id") - 6)
        .otherwise(F.col("id")))
    # xxhash64 mixing per (src, d): properly decorrelated components, so
    # near-dup counts reflect the planted pairs instead of mod-lattice
    # artifacts (an additive pattern made neighbors spuriously similar)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: ((F.xxhash64(F.col("src"), d) % 2003) / 1000.0
                   + F.when((F.col("id") % 7 == 6) & (d == 0),
                            F.lit(0.003)).otherwise(F.lit(0.0)))
        .cast("float"))
    return base.select(F.col("id").alias("vec_id"), vec.alias("embedding"))


def _auto_ppb(vecs: int) -> int:
    import math
    # Occupancy target ~4, NOT ~50: candidate PAIRS per bucket scale
    # with occupancy^2, so 50/bucket admits ~25x more pairs than
    # 10/bucket at the same N (measured: 1M vectors at ppb=14 = 61/bucket
    # produced ~120M candidate pairs and a 312s verify; ppb=18 = 4/bucket
    # gave the identical 142,857-pair output in 37s).  Planted near-dups
    # sit at cos ~0.999 where per-band collision stays ~0.97 even at 18
    # planes, so recall is unaffected.
    return max(8, round(math.log2(max(vecs, 1024) / 4)))


def _stage_df(spark, stage: str, args):
    """The DataFrame a named stage materializes (count() drives it)."""
    from pyspark.sql import functions as F

    from osmquadtree_rust_bindings_spark.operators import dedup as DD
    from osmquadtree_rust_bindings_spark.operators import similarity as SIM
    from osmquadtree_rust_bindings_spark.operators import text as TX

    docs = spark.read.parquet(DOCS_PATH + f"_{args.docs}")
    vecs = spark.read.parquet(VECS_PATH + f"_{args.vecs}")
    if stage == "exact_dedup_groups":
        return DD.exact_dedup(docs).filter(F.col("dups") > 1)
    if stage == "minhash_lsh_pairs":
        # Banding sized by the S-curve, not a constant: with rows-per-band
        # r, a pair at Jaccard J collides per band with prob J^r.  The 1M
        # run used (32, 4) = r 8; at 10M docs that r admitted 165M
        # candidate pairs (measured via the band-bucket histogram: J~0.5
        # background pairs collide at 0.4%/band and grow with corpus
        # size), and the exact-verify attach of per-doc shingle arrays
        # onto 165M rows was a ~100GB sort.  r=10 / 16 bands keeps
        # planted J~0.9 recall at 99.9% (1 - (1 - 0.9^10)^16) while
        # background J<=0.6 collision drops to 0.6%/band.
        mh_hashes, mh_bands = (160, 16) if args.docs > 2_000_000 else (32, 4)
        return DD.minhash_lsh_pairs(docs, num_hashes=mh_hashes,
                                    bands=mh_bands, verify_threshold=0.6,
                                    max_bucket=200)
    if stage == "simhash_pairs":
        # Pigeonhole chunk width must track corpus size: with hamming <= 2
        # the signature splits into 3 chunks of bits/3, and expected
        # bucket occupancy is N / 2^(bits/3).  32 bits -> 10-bit chunks
        # (1024 values) puts every bucket over the hot cap at 10M docs;
        # 48 bits -> 16-bit chunks still collect ~150 docs/bucket = ~2.3B
        # candidate pairs (measured as a disk-filling join at 10M).  60
        # bits (the full word-hash width) -> 20-bit chunks, ~10
        # docs/bucket, candidates O(N x occupancy).
        sh_bits = 60 if args.docs > 2_000_000 else 32
        # Chunk COUNT must also track corpus size, not just signature
        # width: 60 bits is the word-hash ceiling, so beyond ~10M docs the
        # 3-chunk 20-bit buckets double occupancy with every corpus
        # doubling (measured: 94s at 10M -> 618s + 43 GB join spill at
        # 20M for ~570M background candidates).  chunks=4 switches to the
        # multi-index pigeonhole (6 two-chunk 30-bit keys/doc): occupancy
        # N/2^30, identical verified pairs.  The crossover is already
        # BELOW 10M: fresh-JVM A/B at 10M docs, alternating runs, gives
        # multi 89.9s vs classic 142.9/157.9s with the identical
        # 1,261,556 pairs, so the switch sits at >=10M (the measured
        # point; 2M-10M classic occupancy <=10/bucket is benign and
        # unmeasured for multi, so classic is retained there).
        sh_chunks = 4 if args.docs >= 10_000_000 else None
        return DD.simhash_dup_pairs(docs, bits=sh_bits, max_hamming=2,
                                    max_bucket=500, chunks=sh_chunks)
    if stage == "text_quality_kept":
        return TX.with_quality(docs).filter(F.col("is_quality"))
    if stage == "ann_ivf_topk":
        return SIM.ann_ivf_topk(
            vecs, vecs.filter(F.col("vec_id") < 8).select(
                F.col("vec_id").alias("qid"),
                F.col("embedding").alias("qvec")),
            dim=64, k=10, cells=64, nprobe=4)
    if stage == "cosine_near_dup_lsh":
        # ppb auto-sized to ~4 vecs/bucket (log2(vecs/4): 2^16 at 200k,
        # 2^18 at 1M) — see the occupancy note at _auto_ppb
        ppb = args.ppb or _auto_ppb(args.vecs)
        return SIM.cosine_near_dup_pairs_lsh(vecs, dim=64, threshold_num=9,
                                             threshold_den=10,
                                             planes_per_band=ppb, bands=4,
                                             max_bucket=500)
    raise ValueError(f"unknown stage {stage!r}")


class _LineProgress:
    """Line-oriented ProgressPercent for subprocess logs: one PROGRESS
    line per >=5-point advance on stderr (flushed), instead of the
    default \\r bar that pipes would swallow."""

    def __init__(self, message: str):
        self.message = message
        self._last = -5.0

    def set_message(self, new_message: str) -> None:
        self.message = new_message

    def progress_percent(self, percent: float) -> None:
        if percent - self._last >= 5.0 or percent >= 100.0 > self._last:
            self._last = percent
            print(f"PROGRESS {self.message} {percent:5.1f}%",
                  file=sys.stderr, flush=True)

    def finish(self) -> None:
        print(f"PROGRESS {self.message} done", file=sys.stderr, flush=True)


def _line_messenger():
    """Messenger whose percent sink is the line-oriented one above
    (reference operator UX, __init__.py:68-94, adapted to logs)."""
    from osmquadtree_rust_bindings_spark import progress as PR

    m = PR.Messenger()
    m.start_progress_percent = _LineProgress
    return m


def run_stage(args) -> None:
    """Run ONE stage in THIS process (fresh JVM when invoked per-stage by
    the orchestrator / spark-submit) and print STAGE_RESULT json.  Work
    runs under the Messenger/StatusTracker bridge (progress.job_progress)
    so long soaks emit live PROGRESS lines the orchestrator forwards."""
    from osmquadtree_rust_bindings_spark.progress import job_progress
    from osmquadtree_rust_bindings_spark.session import get_spark

    # rdd.compress: the 10M-doc minhash pass caches a ~400M-row shingle
    # stream; uncompressed disk-spilled cache blocks + two concurrent
    # full-width shuffles overran a 59GB /tmp (measured).  Compressing
    # cached blocks keeps the soak inside commodity local-disk headroom.
    spark = get_spark(extra_conf={"spark.rdd.compress": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    msngr = _line_messenger()
    if args.stage == "gen":
        t0 = time.time()
        if not os.path.exists(DOCS_PATH + f"_{args.docs}/_SUCCESS"):
            with job_progress(spark, f"gen documents {args.docs}", msngr):
                gen_documents(spark, args.docs).write.mode("overwrite") \
                    .parquet(DOCS_PATH + f"_{args.docs}")
        if not os.path.exists(VECS_PATH + f"_{args.vecs}/_SUCCESS"):
            with job_progress(spark, f"gen embeddings {args.vecs}", msngr):
                gen_embeddings(spark, args.vecs).write.mode("overwrite") \
                    .parquet(VECS_PATH + f"_{args.vecs}")
        out = {"stage": "gen", "rows": args.docs + args.vecs,
               "sec": round(time.time() - t0, 2)}
    else:
        df = _stage_df(spark, args.stage, args)
        t0 = time.time()
        with job_progress(spark, f"{args.stage} {args.docs}", msngr):
            n = df.count()
        out = {"stage": args.stage, "rows": n,
               "sec": round(time.time() - t0, 2)}
    print("STAGE_RESULT " + json.dumps(out), flush=True)
    spark.stop()


# --------------------------------------------------------------- orchestrator

def _spark_submit_bin() -> str:
    import shutil

    import pyspark
    found = shutil.which("spark-submit")
    if found:
        return found
    return os.path.join(os.path.dirname(pyspark.__file__), "bin",
                        "spark-submit")


def _stage_mem(stage: str, docs: int) -> str:
    """Per-stage heap.  One size (16g) fits every stage since the minhash
    band-key split (commit 8059530): the pre-split operator needed 48g at
    >=10M docs (16g GC-thrashed 870s vs 516s at 20M — the Python band-key
    kernel's 160M string allocations plus two extra band-stream passes in
    verify), but post-split the same fresh-JVM A/B INVERTS: 16g is linear
    10M->20M (377s -> 785s) and 48g is the unstable choice (618-794s
    variance at 10M, 688s at 20M — within 1.14x of 16g).  G1 with a heap
    far above the working set defers old-gen collection into storms; the
    16g contract a cluster user should size to is
    ~(docs x bands x 8B band-key stream / cores) + shuffle buffers.
    SPARK_MINHASH_MEM remains an override for re-probing.

    The candidate-join stages OUTGROW 16g as the corpus doubles, and a
    heap that completed a run once is NOT evidence it is safe: minhash
    at 40M finished the ladder run at 16g then OOM'd a re-run, and
    simhash at 80M finished the standalone run at 16g (672.6s,
    commit 96ea223) then died mid-suite with SparkExitCode.OOM=52 —
    whose shutdown hooks delete the blockmgr under still-running task
    threads, so the log shows temp_shuffle FileNotFound noise, not the
    OOM itself.  Local mode runs spark.task.maxFailures=1, so one
    marginal task is fatal where a cluster would retry.  Doubling the
    heap one corpus-doubling BEFORE the measured boundary keeps margin:
    minhash >=40M docs -> 32g, simhash >=80M docs -> 32g.

    The doubling policy has a CEILING: the heap competes with the OS
    page cache for the shuffle working set, which is heap-independent
    (80M minhash peak scratch 57.3GB at 64g vs 58.1GB at 32g).  The
    same-window 80M A/B measured 64g 1.83x WORSE than 32g (2652.1s vs
    1447.1s, bit-identical pairs) because beside a 64g JVM the ~71GB
    scratch+corpus working set no longer fits page cache — at 32g the
    whole pass did 0.37GB of actual storage reads and cancelled 51% of
    its shuffle writes before they hit the platter (/proc/<jvm>/io).
    So: grow the heap only on OOM evidence (the exit-52 signature
    above), never by extrapolation; prefer shrinking shuffle bytes
    (zstd codec, hashed keys) first.  BENCH/BASELINE.md "80M heap
    inversion" has the full table.

    Disk exhaustion has its OWN distinct signature — do not treat it as
    heap: `SparkOutOfMemoryError: [SPILL_OUT_OF_MEMORY] ... No space
    left on device` in an executor task (the spill WRITE failed, not an
    allocation).  Measured at simhash 160M docs / 32g / zstd: the SMJ
    sort spill outgrew the box's 55GB free scratch (peak 56.8GB
    observed at death, /proc io read_bytes still 0 — page cache was
    fine; the platter simply filled).  A bigger heap would not have
    saved it and a cluster absorbs it by scaling executors-with-disks
    alongside the data.

    Resolution (round 5): the 160M rung COMPLETES with bounded build
    concurrency — 16 task slots + 256 shuffle partitions
    (SPARK_GRAFT_SHUFFLE_PARTITIONS) + SHJ 512m + zstd at 32g — because
    task-level join memory is the shared execution pool divided by
    concurrent tasks: 16 x 512MB builds fit where 32 exhausted the
    pool.  Cap per-executor task slots for the marginal stage instead
    of growing the heap (corpus.json simhash_160m_bounded_concurrency;
    BASELINE.md round-5 boundary paragraph)."""
    if stage == "minhash_lsh_pairs" and "SPARK_MINHASH_MEM" in os.environ:
        return os.environ["SPARK_MINHASH_MEM"]
    base = os.environ.get("SPARK_DRIVER_MEM", "16g")
    if base == "16g":  # scale the default; an explicit override wins
        if stage == "minhash_lsh_pairs" and docs >= 40_000_000:
            return "32g"
        if stage == "simhash_pairs" and docs >= 80_000_000:
            return "32g"
    return base


def _scratch_bytes() -> int:
    import glob
    tot = 0
    for d in glob.glob("/tmp/blockmgr-*") + glob.glob("/tmp/spark-*"):
        for root, _dirs, files in os.walk(d):
            for f in files:
                try:
                    tot += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return tot


def _wait_scratch_stable() -> None:
    """Wait for the previous JVM's scratch cleanup to finish so its disk
    I/O attributes to the gap between stages, not the next stage's
    clock (JVM shutdown removes blockmgr/spark temp dirs; on a loaded
    disk those unlinks take tens of seconds at 20M-doc scale)."""
    prev = _scratch_bytes()
    for _ in range(40):
        time.sleep(3)
        cur = _scratch_bytes()
        if cur >= prev:
            break
        prev = cur


def run_orchestrated(args) -> dict:
    """One spark-submit --py-files JVM per stage (north-rule deployment
    shape), per-stage heap, fresh page-cache-friendly sequencing."""
    from osmquadtree_rust_bindings_spark.session import (
        build_pyfiles_zip, default_cpus)

    zp = build_pyfiles_zip()
    cpus = default_cpus()
    res: dict = {"docs": args.docs, "vecs": args.vecs, "isolated": True,
                 "cpus": cpus}
    # --only X = the heap/codec probe shape: one fresh spark-submit JVM
    # running exactly one measured stage (gen is prepended — idempotent,
    # it no-ops on an existing _SUCCESS corpus).  This is the invocation
    # every A/B in BENCH/BASELINE.md's heap-marginality tables uses,
    # combined with SPARK_MINHASH_MEM / SPARK_DRIVER_MEM and
    # OSMQT_STAGE_CONF (e.g. spark.io.compression.codec=zstd).
    # --only gen is a valid probe (time corpus generation alone) — don't
    # prepend a second gen pass, and DO record its timing below since it
    # is the only stage the probe ran.
    if args.only == "gen":
        stages = ["gen"]
    elif args.only:
        stages = ["gen", args.only]
    else:
        stages = STAGES
    for stage in stages:
        mem = _stage_mem(stage, args.docs)
        cmd = [
            _spark_submit_bin(), "--master", f"local[{cpus}]",
            "--driver-memory", mem,
            # JVM-start-time flags get_spark can't set post-hoc:
            "--conf",
            "spark.driver.extraJavaOptions=-XX:-DontCompileHugeMethods",
        ]
        # OSMQT_STAGE_CONF="k=v;k2=v2" forwards session-level Spark confs
        # (e.g. spark.io.compression.codec=zstd when shuffle scratch must
        # fit a small local disk) to every stage JVM.  Must precede the
        # script path — anything after it is an application arg, not a
        # spark-submit option.  Recorded in the BENCH/corpus.json note
        # whenever a sweep uses it.
        for kv in filter(None, os.environ.get(
                "OSMQT_STAGE_CONF", "").split(";")):
            cmd += ["--conf", kv.strip()]
        cmd += [
            "--py-files", zp,
            os.path.abspath(__file__), "--stage", stage,
            "--docs", str(args.docs), "--vecs", str(args.vecs),
        ]
        if args.ppb:
            cmd += ["--ppb", str(args.ppb)]
        print(f"PASS {stage} start (heap {mem}, fresh JVM)", flush=True)
        t0 = time.time()
        env = dict(os.environ)
        env["SPARK_DRIVER_MEM"] = mem  # get_spark mirror (harmless here)
        # Popen + stderr pump instead of capture_output: the stage's
        # Messenger bridge emits PROGRESS lines on stderr, which are
        # forwarded live (the soak's stage UX); everything else on
        # stderr is ring-buffered for the failure message.
        import collections
        import threading

        p = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                             stderr=subprocess.PIPE, text=True, env=env)
        err_tail: collections.deque[str] = collections.deque(maxlen=400)

        def _pump(pipe=p.stderr):
            for ln in pipe:
                err_tail.append(ln)

        th = threading.Thread(target=_pump, daemon=True)
        th.start()
        # spark-submit merges the python app's stderr onto its stdout, so
        # the PROGRESS lines arrive here — forward them live (spark's \r
        # console bar can share a \n-line with the marker; take the text
        # from the last marker on) and keep everything for STAGE_RESULT.
        out_lines = []
        for ln in p.stdout:
            out_lines.append(ln)
            if "PROGRESS " in ln:
                print(ln[ln.rindex("PROGRESS "):], end="", flush=True)
        stdout = "".join(out_lines)
        rc = p.wait()
        th.join(timeout=10)
        proc_sec = round(time.time() - t0, 2)
        lines = [ln for ln in stdout.splitlines()
                 if ln.startswith("STAGE_RESULT ")]
        if rc != 0 or not lines:
            raise RuntimeError(
                f"stage {stage} failed rc={rc}:\n"
                f"{stdout[-2000:]}\n{''.join(err_tail)[-4000:]}")
        out = json.loads(lines[-1][len("STAGE_RESULT "):])
        # sec = the stage's own measured query wall (comparable with the
        # standalone numbers); proc_sec adds JVM startup + data load
        out["proc_sec"] = proc_sec
        if stage != "gen" or stages == ["gen"]:
            res[stage] = out
        print(f"PASS {stage} done {out}", flush=True)
        _wait_scratch_stable()
    return res


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--vecs", type=int, default=200_000)
    ap.add_argument("--ppb", type=int, default=None,
                    help="LSH planes per band; default auto-sizes to "
                         "~4 vectors/bucket: round(log2(vecs/4))")
    ap.add_argument("--stage", choices=STAGES, default=None,
                    help="run ONE stage in this process (fresh JVM)")
    ap.add_argument("--only", choices=STAGES, default=None,
                    help="orchestrate ONE stage (gen prepended) in the "
                         "fresh-spark-submit-JVM probe shape; honors "
                         "SPARK_*_MEM + OSMQT_STAGE_CONF")
    args = ap.parse_args()

    if args.stage and args.only:
        ap.error("--stage runs ONE stage in-process; --only orchestrates "
                 "— they are mutually exclusive")
    if args.stage:
        run_stage(args)
        return
    res = run_orchestrated(args)

    if args.only:  # single-stage probe: no cross-stage planted checks
        print("RESULT " + json.dumps(res))
        return

    # planted-set recall: generators plant exact dups at docs/10 and
    # embedding near-dup pairs at vecs/7 deterministically.  minhash
    # expectation: docs/10 exact pairs (J=1, every band collides) plus
    # 2 x docs/20 near pairs at J~0.9 — each near-dup doc i (i%20==7)
    # pairs with its source i-7 AND with i+2, the exact copy of i-7 —
    # times the banding's S-curve recall at J=0.9 (99.9% at (160,16),
    # ~90% at (32,4)).
    mh_expected = args.docs // 10 + 2 * (args.docs // 20)
    res["planted"] = {
        "exact_dedup_expected": args.docs // 10,
        "exact_recall":
            res["exact_dedup_groups"]["rows"] == args.docs // 10,
        "minhash_pairs_expected": mh_expected,
        "minhash_recall": round(
            res["minhash_lsh_pairs"]["rows"] / mh_expected, 4),
        "cosine_pairs_expected": args.vecs // 7,
        "cosine_recall":
            res["cosine_near_dup_lsh"]["rows"] == args.vecs // 7,
    }
    res["total_sec"] = round(sum(v["sec"] for v in res.values()
                                 if isinstance(v, dict) and "sec" in v), 2)
    print("RESULT " + json.dumps(res))


if __name__ == "__main__":
    main()
