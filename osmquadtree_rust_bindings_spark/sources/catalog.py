"""Storage seam: the parquet-directory catalog.

``Catalog`` stores each table as parquet directories with a tiny JSON
snapshot log, which keeps the semantics the engine relies on: named
tables, append/overwrite snapshots and read-as-of-snapshot.  These mirror
Iceberg's (snapshots = the reference's base+change file sets, manifests =
the per-cell header index /root/reference/src/readpbf.rs:222-243, time
travel = the timestamp filter F7), but ``Catalog`` has no Iceberg branch.
``_iceberg_available`` only probes whether the Iceberg runtime is on the
classpath; ``test_iceberg_probe_documented`` uses it to run the same
semantics against a real Iceberg catalog when one is present.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass


def _iceberg_available(spark) -> bool:
    # conf presence alone is not evidence: Spark 4.1 resolves
    # spark.sql.catalog.spark_catalog to a default V2 session catalog even
    # with no Iceberg on the classpath, so probe the runtime class itself.
    # Utils.classForName consults Spark's session classloader, which sees
    # jars added via --packages/spark.jars (a MutableURLClassLoader that a
    # plain java.lang.Class.forName on py4j's loader misses — that probe
    # silently reported Iceberg absent when it was usable).
    try:
        spark._jvm.org.apache.spark.util.Utils.classForName(
            "org.apache.iceberg.spark.SparkCatalog", True, False)
        return True
    except Exception:
        return False


@dataclass
class Catalog:
    """Parquet-directory catalog with a snapshot log per table."""

    root: str

    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _log(self, name: str) -> str:
        return os.path.join(self._dir(name), "_snapshots.json")

    def snapshots(self, name: str) -> list[dict]:
        try:
            with open(self._log(name)) as f:
                return json.load(f)
        except FileNotFoundError:
            return []

    def write(self, df, name: str, mode: str = "overwrite",
              partition_by: list[str] | None = None,
              header: dict | None = None) -> dict:
        # snapshot ids are monotonic even across overwrites so a lazy plan
        # reading the current snapshot stays valid while the next one is
        # written (read-modify-write never clobbers the files it reads)
        prev = self.snapshots(name)
        snap_id = (max((s["id"] for s in prev), default=-1)) + 1
        snaps = prev if mode == "append" else []
        path = os.path.join(self._dir(name), f"snap={snap_id}")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        rec = {"id": snap_id, "ts": time.time(), "path": path, "mode": mode}
        if header:
            rec["header"] = dict(header)
        snaps.append(rec)
        os.makedirs(self._dir(name), exist_ok=True)
        with open(self._log(name), "w") as f:
            json.dump(snaps, f)
        return snaps[-1]

    # ------------------------------------------------- S2 header metadata

    def get_header(self, name: str) -> dict:
        """S2 ``get_header`` (reference HeaderBlock getters,
        /root/reference/src/readpbf.rs:200-243): the merged file-level
        metadata view over all snapshots of a table —

        - ``bbox``: [minlon, minlat, maxlon, maxlat] union of per-snapshot
          bboxes (reference bbox field);
        - ``writingprogram`` / ``source`` / ``required_features`` /
          ``optional_features``: latest-snapshot values (feature lists
          unioned, order-preserving);
        - ``osmosis_replication_timestamp`` / ``_sequence_number`` /
          ``_base_url``: the replication cursor = the MAX over snapshots
          carrying one (the stream offset the next change pull resumes
          from);
        - ``index``: per-file entries (location, length, snapshot id,
          is_change) — the Spark analogue of the per-cell block index that
          makes the reference's .pbf seekable.
        """
        snaps = self.snapshots(name)
        if not snaps:
            raise FileNotFoundError(f"table {name} has no snapshots")
        bbox = None
        feats_req: list = []
        feats_opt: list = []
        out: dict = {"writingprogram": None, "source": None,
                     "osmosis_replication_timestamp": None,
                     "osmosis_replication_sequence_number": None,
                     "osmosis_replication_base_url": None}
        index = []
        for s in snaps:
            h = s.get("header", {})
            if h.get("bbox") is not None:
                b = [int(v) for v in h["bbox"]]
                bbox = b if bbox is None else [
                    min(bbox[0], b[0]), min(bbox[1], b[1]),
                    max(bbox[2], b[2]), max(bbox[3], b[3])]
            for k, acc in (("required_features", feats_req),
                           ("optional_features", feats_opt)):
                for f in h.get(k, []):
                    if f not in acc:
                        acc.append(f)
            for k in ("writingprogram", "source",
                      "osmosis_replication_base_url"):
                if h.get(k) is not None:
                    out[k] = h[k]
            for k in ("osmosis_replication_timestamp",
                      "osmosis_replication_sequence_number"):
                if h.get(k) is not None:
                    out[k] = (h[k] if out[k] is None
                              else max(out[k], h[k]))
            is_change = s["mode"] == "append" and s["id"] > snaps[0]["id"]
            # sort dirs in place so the walk (hence the index order) is
            # deterministic for partitioned layouts
            for root, dirs, files in os.walk(s["path"]):
                dirs.sort()
                for f in sorted(files):
                    if not f.endswith(".parquet"):
                        continue
                    fp = os.path.join(root, f)
                    index.append({"location": fp,
                                  "length": os.path.getsize(fp),
                                  "snapshot": s["id"],
                                  "is_change": is_change})
        out.update({"bbox": bbox, "required_features": feats_req,
                    "optional_features": feats_opt, "index": index,
                    "num_blocks": len(index)})
        return out

    # ---------------------------------------------- S12 write_merged sink

    def write_merged(self, spark, name: str, out_name: str,
                     key: list[str], version: str = "version",
                     ids=None, id_col: str | None = None,
                     bbox: tuple[int, int, int, int] | None = None,
                     lon_col: str = "lon", lat_col: str = "lat",
                     sort: bool = False, header: dict | None = None) -> dict:
        """S12/S13 ``write_merged[_sort]`` (reference
        /root/reference/src/readpbf.rs:675-700): merge all snapshots of
        ``name`` latest-wins, keep only rows whose id is in ``ids`` (an
        IdSet: DataFrame or Python iterable — broadcast semi-join, F8/F9)
        and inside ``bbox``, and write the result as one new snapshot of
        ``out_name``.  ``sort=True`` adds the reference's id-order
        guarantee via a range repartition + within-partition sort (S13) —
        no global single-partition sort.  Returns the snapshot record.
        """
        from pyspark.sql import functions as F

        from osmquadtree_rust_bindings_spark.operators.diff import (
            merge_latest,
        )

        df = merge_latest(self.read(spark, name), key, version)
        if bbox is not None:
            minlon, minlat, maxlon, maxlat = bbox
            df = df.filter(F.col(lon_col).between(minlon, maxlon)
                           & F.col(lat_col).between(minlat, maxlat))
        if ids is not None:
            idc = id_col or key[0]
            if not hasattr(ids, "sparkSession"):
                ids = spark.createDataFrame(
                    [(int(i),) for i in ids], f"{idc} long")
            df = df.join(F.broadcast(ids.select(idc).distinct()),
                         idc, "left_semi")
        if sort:
            df = df.repartitionByRange(*key).sortWithinPartitions(*key)
        return self.write(df, out_name, mode="overwrite", header=header)

    def read(self, spark, name: str, as_of: int | None = None,
             timestamp: float | None = None):
        """Read the union of snapshots <= as_of/timestamp (the reference's
        'change files <= tstamp' selection, src/readpbf.rs:585-590)."""
        snaps = self.snapshots(name)
        if not snaps:
            raise FileNotFoundError(f"table {name} has no snapshots")
        if as_of is not None:
            snaps = [s for s in snaps if s["id"] <= as_of]
        if timestamp is not None:
            snaps = [s for s in snaps if s["ts"] <= timestamp]
        paths = [s["path"] for s in snaps]
        return spark.read.parquet(*paths)

    def exists(self, name: str) -> bool:
        return bool(self.snapshots(name))
