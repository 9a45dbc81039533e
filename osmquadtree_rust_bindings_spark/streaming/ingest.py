"""Incremental ingest via Structured Streaming.

The reference is batch-only but incremental: base file + ordered change
files <= timestamp, with an osmosis replication cursor
(/root/reference/src/readpbf.rs:234-242) — i.e. stream offsets.  SURVEY.md
§2.8 maps that to snapshots + MERGE for parity; this module adds the
streaming-native form on top:

- ``stream_calcqts``: file-source stream -> qt/cell assignment (pure Column
  kernels are stateless, so they run unchanged in streaming) -> parquet
  sink.  Spark's streaming checkpoint IS the replication cursor: a
  restarted stream resumes exactly after the last committed file batch.
- ``stream_cdc_apply``: foreachBatch CDC merge of changetype rows into a
  catalog table (apply_change semantics, src/elements.rs:1022-1027).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from osmquadtree_rust_bindings_spark.operators import calcqts as CQ


def stream_calcqts(spark: SparkSession, input_path: str, schema: str,
                   out_path: str, checkpoint: str):
    """Incremental calc_qts over a growing parquet directory.  Returns the
    StreamingQuery (availableNow: drains pending files then stops)."""
    src = (
        spark.readStream.schema(schema).format("parquet").load(input_path)
    )
    keyed = CQ.run_calcqts(src.drop("bytes"))
    return (
        keyed.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_cdc_apply(spark: SparkSession, changes_path: str, schema: str,
                     catalog, table: str, key: list[str],
                     checkpoint: str):
    """foreachBatch CDC: each micro-batch of change rows is merged into the
    catalog table with apply_change semantics (delete/remove drop,
    create/modify replace)."""
    from osmquadtree_rust_bindings_spark.operators.diff import apply_changes

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if catalog.exists(table):
            base = catalog.read(batch_df.sparkSession, table)
        else:
            base = batch_df.limit(0)
        merged = apply_changes(base, batch_df, key)
        catalog.write(merged, table, mode="overwrite")

    src = spark.readStream.schema(schema).format("parquet").load(changes_path)
    return (
        src.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_first_seen(stream_df: DataFrame, key_col: str = "image_id",
                      group_col: str = "tile",
                      timeout_ms: int | None = 3_600_000,
                      state_mode: str = "exact",
                      bloom_bits: int = 1 << 20,
                      bloom_hashes: int = 7) -> DataFrame:
    """Cross-micro-batch first-seen dedup, stateful per tile group
    (applyInPandasWithState).  Emits each (group, key) the first time it
    is seen WITHIN THE STATE HORIZON: re-deliveries are suppressed while
    the group's state lives.  The default 1h timeout bounds state, so a
    key re-delivered to a group idle for longer than the timeout is
    emitted again — pass ``timeout_ms=None`` for the lossless
    emit-once-ever contract (state then grows with the key universe; only
    safe for short-lived drains).

    State is BOUNDED two ways:
    - a processing-time timeout (default 1h) ages out idle groups — a
      timed-out group's state is REMOVED, so an unbounded tile universe
      cannot accrete state forever.  Pass ``timeout_ms=None`` only for
      short-lived drains.
    - ``state_mode="bloom"`` replaces the exact id set with a fixed-size
      Bloom filter (``bloom_bits`` bits, ``bloom_hashes`` probes): state
      per group is a constant ``bloom_bits/8`` bytes no matter how many
      keys stream through.  Tradeoff: false positives suppress a
      first-seen event with probability ~(1-e^{-kn/m})^k (~0.8% at
      n=100k, m=2^20, k=7); use "exact" where emission must be lossless.

    Scale shape: state is partitioned BY TILE (the same key the batch
    engine shuffles on), so each exact-mode state partition holds one
    tile's id set — bounded by tile weight, which the A10 planner already
    caps at the group target.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if state_mode not in ("exact", "bloom"):
        raise ValueError(f"state_mode must be exact|bloom, got {state_mode}")
    m, k = int(bloom_bits), int(bloom_hashes)
    if m < 8 or m % 8 != 0 or m & (m - 1) != 0:
        raise ValueError(f"bloom_bits must be a power of two >= 8, got {m}")
    if k < 1:
        raise ValueError(f"bloom_hashes must be >= 1, got {k}")

    def _emit(key, ids):
        return pd.DataFrame({group_col: key[0], key_col: ids})

    def fn_exact(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            yield _emit(key, pd.Series([], dtype=object))
            return
        seen = set(state.get[0]) if state.exists else set()
        out = []
        for pdf in pdfs:
            fresh = pdf.loc[~pdf[key_col].isin(seen), key_col]
            if len(fresh):
                uniq = fresh.drop_duplicates()
                seen.update(uniq)
                out.append(uniq)
        state.update((sorted(seen),))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        ids = pd.concat(out) if out else pd.Series([], dtype=object)
        yield _emit(key, ids)

    def fn_bloom(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            yield _emit(key, pd.Series([], dtype=object))
            return
        arr = (np.frombuffer(state.get[0], dtype=np.uint8).copy()
               if state.exists else np.zeros(m // 8, dtype=np.uint8))
        probes = np.arange(k, dtype=np.uint64)
        out = []
        for pdf in pdfs:
            u = pdf[key_col].drop_duplicates()
            if not len(u):
                continue
            # double hashing from the deterministic 64-bit pandas hash
            # (fixed hash key -> identical across executors/restarts)
            h = pd.util.hash_pandas_object(u, index=False) \
                .to_numpy(np.uint64)
            pos = ((h & np.uint64(0xFFFFFFFF))[:, None]
                   + probes[None, :] * (h >> np.uint64(32))[:, None]) \
                % np.uint64(m)
            byte, bit = (pos >> np.uint64(3)).astype(np.int64), pos & np.uint64(7)
            present = ((arr[byte] >> bit) & 1).all(axis=1)
            fresh_byte = byte[~present].ravel()
            fresh_bit = bit[~present].ravel()
            np.bitwise_or.at(arr, fresh_byte,
                             (np.uint8(1) << fresh_bit.astype(np.uint8)))
            fresh = u[~present]
            if len(fresh):
                out.append(fresh)
        state.update((arr.tobytes(),))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        ids = pd.concat(out) if out else pd.Series([], dtype=object)
        yield _emit(key, ids)

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if timeout_ms is not None else GroupStateTimeout.NoTimeout)
    return stream_df.groupBy(group_col).applyInPandasWithState(
        fn_exact if state_mode == "exact" else fn_bloom,
        outputStructType=f"{group_col} long, {key_col} string",
        stateStructType=("seen array<string>" if state_mode == "exact"
                         else "bloom binary"),
        outputMode="append",
        timeoutConf=timeout,
    )
