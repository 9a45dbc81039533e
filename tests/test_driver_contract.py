"""T3: replicate the driver's correctness gate — run every queries() entry
and compare row-count + sorted values against its DuckDB oracle at sf0.001.
"""

import glob
import os
import subprocess
import sys
import textwrap

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object and len(pdf) and \
                isinstance(pdf[c].iloc[0], (bool, np.bool_)):
            pdf[c] = pdf[c].astype(bool)
        elif str(pdf[c].dtype).startswith(("int", "uint", "Int")):
            pdf[c] = pdf[c].astype(np.int64)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


@pytest.mark.parametrize("raw,want", [
    ("128MB", 128 << 20), ("64m", 64 << 20), ("1g", 1 << 30),
    ("134217728", 134217728),
])
def test_conf_bytes_units(raw, want):
    from osmquadtree_rust_bindings_spark.driver_queries import _conf_bytes
    assert _conf_bytes(raw) == want


def test_a4_split_ceiling_multi_row_group(spark, tmp_path):
    # a 50-row-group file scanned with a small open cost splits across the
    # default parallelism, so it reads as several blocks although it is far
    # below maxPartitionBytes: the ceiling must follow Spark's split size,
    # not bytes / maxPartitionBytes (which gives 1 here)
    import pyarrow as pa
    import pyarrow.parquet as pq

    from osmquadtree_rust_bindings_spark import driver_queries as DQ
    from osmquadtree_rust_bindings_spark.operators import count as CNT

    pq.write_table(pa.table({"l_orderkey": np.arange(50_000)}),
                   str(tmp_path / "lineitem.parquet"),
                   row_group_size=1_000, compression="none")
    key = "spark.sql.files.openCostInBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        blocks = CNT.num_blocks(spark.read.parquet(
            str(tmp_path / "lineitem.parquet"))).first()[0]
        row = DQ.q_a4_num_blocks(spark, str(tmp_path)).first()
    finally:
        spark.conf.set(key, saved)
    assert blocks > 1
    assert row.asDict() == {"num_blocks_ge_1": True,
                            "num_blocks_le_rows": True,
                            "num_blocks_le_split_ceiling": True}


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


def test_every_oracle_key_has_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    got = _normalize(QUERIES[name](spark, SF_DIR).toPandas())
    assert len(got) > 0, f"{name} returned no rows"
    if name not in ORACLES:
        pytest.skip(f"{name} is engine-only (rows-only check)")
    exp = _normalize(duck.sql(ORACLES[name]).df())
    assert list(got.columns) == list(exp.columns), \
        f"{name} columns {list(got.columns)} vs {list(exp.columns)}"
    assert len(got) == len(exp), f"{name} rows {len(got)} vs {len(exp)}"
    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                  check_exact=True)


def test_gate_temp_dirs_removed_at_exit(tmp_path):
    # x4 writes a qts copy per call; after two calls in a fresh process
    # and its exit, the process temp dir must hold none of them
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import SparkSession
        from osmquadtree_rust_bindings_spark import driver_queries as DQ
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.ui.enabled", "false").getOrCreate())
        for _ in range(2):
            print("num", DQ.q_x4_prefix_range_count(
                spark, {SF_DIR!r}).collect()[0]["num"])
        print("root", DQ._gate_root())
        spark.stop()
    """)
    env = dict(os.environ, TMPDIR=str(tmp))
    r = subprocess.run([sys.executable, "-c", script], env=env,
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-4000:]
    out = r.stdout.splitlines()
    assert sum(ln.startswith("num ") for ln in out) == 2
    root = [ln.split(" ", 1)[1] for ln in out if ln.startswith("root ")][0]
    assert root.startswith(str(tmp))
    assert not os.path.exists(root)
    assert glob.glob(str(tmp / "**" / "x4_qts_*"), recursive=True) == []
