"""Static guard (SURVEY.md §7 risk 6): no per-row Python, no RDDs, and
driver-side materialization only where the data is plan-sized by design.
"""

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "osmquadtree_rust_bindings_spark")

# file -> allowed count of driver-side materializations (each is a
# plan/metrics-sized dataset, documented at the call site)
DRIVER_SIDE_ALLOWED = {
    "plans/pipeline.py": 1,      # tile-group plan (O(groups))
    "operators/spatial_join.py": 1,  # kNN cell histogram (O(4^COVER_DEPTH))
    "operators/tiling.py": 2,    # depth-choice agg row + cell histogram
    "driver_queries.py": 1,      # s2_header bbox agg (one metadata row)
}


def _sources():
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(root, f)
                yield os.path.relpath(full, PKG), open(full).read()


def test_no_rdd_api():
    for rel, src in _sources():
        assert ".rdd" not in src, f"{rel} uses the RDD API"


def test_no_row_at_a_time_udf():
    # pandas_udf / mapInPandas / applyInPandas are the only UDF surfaces
    pat = re.compile(r"(?<!pandas_)\budf\(")
    for rel, src in _sources():
        assert not pat.search(src), f"{rel} declares a row-at-a-time udf"


def test_driver_side_materialization_is_bounded():
    pat = re.compile(r"\.collect\(\)|\.toPandas\(\)")
    for rel, src in _sources():
        n = len(pat.findall(src))
        allowed = DRIVER_SIDE_ALLOWED.get(rel, 0)
        assert n <= allowed, (
            f"{rel}: {n} driver-side materializations (allowed {allowed}) — "
            "big-path operators must stay distributed")


def test_tile_assignment_has_no_python_kernel():
    # one assignment path: the broadcast cell join, no Arrow round trip
    src = dict(_sources())["operators/tiling.py"]
    assert "mapInPandas" not in src


def test_spatial_join_python_boundaries():
    # the bbox/PIP cover, the PIP ray-crossing refine and the kNN ring
    # cells are Column algebra; only the kNN ring radii for DataFrame
    # queries cross into Python, and nothing is broadcast by hand
    src = dict(_sources())["operators/spatial_join.py"]
    assert len(re.findall(r"\.mapInPandas\(", src)) == 1
    assert "sparkContext.broadcast" not in src


def test_operators_read_no_env_and_pin_python_boundaries():
    # operator behaviour is set by arguments alone, never by an env
    # variable; dedup keeps one Arrow kernel (the minhash minima) and
    # similarity three (LSH signs, IVF cells, the blocked near-dup
    # matmul)
    srcs = dict(_sources())
    for rel, src in srcs.items():
        if rel.startswith("operators/"):
            assert "os.environ" not in src and "getenv" not in src, (
                f"{rel} reads the environment")
    pat = re.compile(r"\.(mapInPandas|applyInPandas)\(")
    assert len(pat.findall(srcs["operators/dedup.py"])) == 1
    assert len(pat.findall(srcs["operators/similarity.py"])) == 3
