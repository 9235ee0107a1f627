"""Storage seam: partitioned-Parquet tables with JSON manifests.

The north rule targets Iceberg tables; this sandbox has no Iceberg
runtime jar, so ``TableIO`` abstracts the two behind one seam (SURVEY.md
§7.3): a *table* is a directory of parquet plus a ``_manifest.json``
recording schema, row count, and arbitrary metadata — enough for the
engine's checkpoint/resume contract (data written first, then the
manifest committed atomically by rename; a checkpoint without a manifest
is incomplete and ignored on resume, mirroring Iceberg's snapshot-commit
semantics).

Checkpoint layout (replaces Tarantool ``box.snapshot()``,
``pregel/master.lua:101-103`` / ``pregel/worker.lua:61-63`` — but
per-superstep and resumable, which the reference is not):

    <root>/<run_id>/superstep=<k>/state/   parquet + _manifest.json
    <root>/<run_id>/superstep=<k>/msgs/    parquet + _manifest.json
    <root>/<run_id>/metrics/               appended parquet rows
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_manifest.json"


def write_table(
    df: DataFrame,
    path: str,
    meta: dict | None = None,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> dict:
    """Write df as a table; returns the manifest dict.

    ``fmt='parquet'`` (default): parquet + ``_manifest.json``.
    ``fmt='iceberg'``: a path-based (HadoopTables) Iceberg table via
    the DataSource API — requires the ``iceberg-spark-runtime`` jar
    (``--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13``
    on a real deployment). CAVEAT: the v1 ``save(path)`` route writes
    into an EXISTING Iceberg table; creating a brand-new table needs
    either a catalog-configured session (``df.writeTo(tbl).create()``)
    or a one-time ``HadoopTables.create`` — both live behind the same
    jar, so this seam stays a thin adapter rather than reimplementing
    table creation. No side manifest is written because Iceberg's own
    snapshot metadata subsumes it (the returned dict is still produced
    for the caller). Exercised by ``tests/test_iceberg.py``, which
    skips ONLY when the data source itself is absent (this
    container) — any other Iceberg error fails loudly."""
    w = df.write.mode(mode)
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if fmt == "parquet":
        w.parquet(path)
    elif fmt == "iceberg":
        w.format("iceberg").save(path)
    else:
        raise ValueError(f"fmt must be 'parquet' or 'iceberg': {fmt}")
    man = {
        "schema": df.schema.jsonValue(),
        "meta": meta or {},
    }
    if fmt == "parquet":
        _write_manifest(path, man)
    return man


def _write_manifest(dir_path: str, obj: dict) -> None:
    """Commit ``obj`` as ``dir_path/_manifest.json`` atomically: write a
    temp file in the same directory, then ``os.replace`` it into place.
    A crash mid-write leaves no manifest (the table or step reads as
    incomplete) rather than a torn one; the leading underscore keeps
    the temp file out of Spark's parquet listing."""
    final = os.path.join(dir_path, MANIFEST)
    tmp = final + ".tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, final)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def read_table(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(path)
    if fmt != "parquet":  # same validation as write_table — a typo'd
        # fmt must not silently read parquet files out of an Iceberg
        # tree behind the snapshot metadata's back
        raise ValueError(f"fmt must be 'parquet' or 'iceberg': {fmt}")
    return spark.read.parquet(path)


def read_manifest(path: str) -> dict | None:
    p = os.path.join(path, MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


class CheckpointManager:
    """Per-superstep checkpoint writer/reader for the BSP loop."""

    def __init__(self, root: str, run_id: str):
        self.root = root
        self.run_id = run_id
        self.run_dir = os.path.join(root, run_id)
        os.makedirs(self.run_dir, exist_ok=True)

    def _step_dir(self, superstep: int) -> str:
        return os.path.join(self.run_dir, f"superstep={superstep}")

    def save(
        self,
        superstep: int,
        state: DataFrame,
        msgs: DataFrame | None = None,
        meta: dict | None = None,
    ) -> None:
        d = self._step_dir(superstep)
        if os.path.exists(d):
            shutil.rmtree(d)
        write_table(state, os.path.join(d, "state"), meta=meta)
        if msgs is not None:
            write_table(msgs, os.path.join(d, "msgs"), meta=meta)
        # step-level manifest LAST -> commit point
        _write_manifest(
            d, {"superstep": superstep, "meta": meta or {}, "has_msgs": msgs is not None}
        )

    def completed_supersteps(self) -> list[int]:
        out = []
        if not os.path.isdir(self.run_dir):
            return out
        for name in os.listdir(self.run_dir):
            m = re.fullmatch(r"superstep=(\d+)", name)
            if m and os.path.exists(os.path.join(self.run_dir, name, MANIFEST)):
                out.append(int(m.group(1)))
        return sorted(out)

    def latest(self) -> int | None:
        steps = self.completed_supersteps()
        return steps[-1] if steps else None

    def load(self, spark: SparkSession, superstep: int) -> tuple[DataFrame, DataFrame | None, dict]:
        d = self._step_dir(superstep)
        with open(os.path.join(d, MANIFEST)) as f:
            man = json.load(f)
        state = read_table(spark, os.path.join(d, "state"))
        msgs = None
        if man.get("has_msgs"):
            msgs = read_table(spark, os.path.join(d, "msgs"))
        return state, msgs, man.get("meta", {})

    def append_metrics(self, spark: SparkSession, rows: list[dict]) -> None:
        if not rows:
            return
        import pandas as pd

        df = spark.createDataFrame(pd.DataFrame(rows))
        df.coalesce(1).write.mode("append").parquet(os.path.join(self.run_dir, "metrics"))

    def read_metrics(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.run_dir, "metrics"))

    def append_partition_metrics(self, spark: SparkSession, rows: list[dict]) -> None:
        """Per-(superstep, partition) rows — the reference's per-worker
        superstep log (``pregel/master.lua:60-63``, ``pregel/mpool.lua:
        22-27``) as a queryable table: (run_id, superstep, partition_id,
        rows, ...). Skew shows up as a wide rows-distribution within a
        superstep."""
        if not rows:
            return
        import pandas as pd

        df = spark.createDataFrame(pd.DataFrame(rows))
        df.coalesce(1).write.mode("append").parquet(
            os.path.join(self.run_dir, "partition_metrics")
        )

    def read_partition_metrics(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(os.path.join(self.run_dir, "partition_metrics"))
