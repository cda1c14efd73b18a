"""The closed-loop workloads, driven through the public task and
pipeline entry points, each with its oracle.

A workload object is built from a generated manifest and offers:

- ``setup()``: target preload, outside the timed loop;
- ``step()``: the next closed-loop operation (the next starts only
  after this one has committed). It returns a record with its wall time,
  row count and the batch latencies it observed;
- ``check_step()``: per-operation oracle work, outside the timing;
- ``exhausted()``: true when the generated inputs are used up;
- ``verify()``: the final oracle, returning ``(attempted, failed, notes)``.

Oracles compare against the generator's model only: target digests are
computed by ``gen.table_digest`` over the written parquet files, read with
pyarrow, and check logs are read as plain JSON lines. No Spark job runs
for an oracle.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pyarrow.parquet as pq

import gen
from tracing import version_dir
from ape_dts_spark.config.task_config import TaskConfig
from ape_dts_spark.operators import merge
from ape_dts_spark.sinks.parquet_table import ParquetTable
from ape_dts_spark.sources import binlog_file
from ape_dts_spark.streaming import cdc
from ape_dts_spark import task
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAYLOAD = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("k", T.LongType()),
        T.StructField("c", T.StringType()),
        T.StructField("pad", T.StringType()),
    ]
)
KEYS = ["id"]


def digest(path: str) -> list[int]:
    """[count, crc sum] of the rows in the parquet files under ``path``."""
    return gen.table_digest(pq.read_table(path, columns=["id", "k", "c", "pad"]))


def preload(spark, path: str, initial_dir: str) -> ParquetTable:
    """Bulk-load a target as one insert epoch, the first step of the
    repository's snapshot-then-CDC flow."""
    shutil.rmtree(path, ignore_errors=True)
    table = ParquetTable(spark, path, PAYLOAD)
    rows = spark.read.parquet(initial_dir)
    inserts = rows.select(
        F.lit(gen.SCHEMA).alias("schema"),
        F.lit("preload").alias("tb"),
        F.lit("insert").alias("row_type"),
        F.lit(None).cast(PAYLOAD).alias("before"),
        F.struct(*[F.col(f.name) for f in PAYLOAD.fields]).alias("after"),
        F.lit(0).cast("long").alias("seq"),
    )
    compacted, spilled = merge.compact_changes(inserts, KEYS)
    table.merge_apply(compacted, spilled, KEYS, stream_id="snapshot", batch_id=0)
    return table


class MigrateVerify:
    """snapshot (where-filter + route rename) -> check against a replica
    with planted miss/diff/extra keys -> revise from the check log."""

    def __init__(self, spark, manifest: dict, work: str):
        self.spark, self.m, self.work = spark, manifest, work
        self.passes = 0
        self.attempted = self.failed = 0
        self.notes: list[str] = []

    def setup(self) -> None:
        pass

    def _ini(self, out: str) -> dict[str, str]:
        m = self.m
        db, tables = m["schema"], ",".join(m["tables"])
        registry = "\n".join(f"{tb}=id" for tb in m["tables"])
        where = json.dumps(
            [{"db": db, "tb": tb, "condition": cond} for tb, cond in m["where"].items()]
        )
        route = ",".join(f"{db}.{a}:{db}.{b}" for a, b in m["route"].items())
        inis = {
            "snapshot": f"""
[extractor]
extract_type=snapshot
url={m['source']}
db={db}
tables={tables}
[sinker]
sink_type=parquet
url={out}/snapshot
[filter]
where_conditions=json:{where}
[router]
tb_map={route}
""",
            "check": f"""
[extractor]
extract_type=check
url={m['source']}
db={db}
tables={tables}
[sinker]
sink_type=check_log
url={out}/check
compare_url={m['replica']}
[registry]
{registry}
""",
        }
        for tb in m["revise"]:
            inis[f"revise:{tb}"] = f"""
[extractor]
extract_type=check_log
url={m['source']}
db={db}
tb={tb}
check_log_dir={out}/check/check_{tb}
[sinker]
sink_type=parquet
url={out}/revised
[registry]
{registry}
"""
        return inis

    def exhausted(self) -> bool:
        return False

    def step(self) -> dict:
        """One snapshot -> check -> revise pass into a fresh output tree."""
        self.passes += 1
        out = self._out = os.path.join(self.work, f"mv_pass{self.passes}")
        shutil.rmtree(out, ignore_errors=True)
        phases: dict[str, float] = {}
        t_op = time.perf_counter()
        for name, ini in self._ini(out).items():
            t0 = time.perf_counter()
            task.run_task(self.spark, TaskConfig.from_string(ini))
            phase = name.split(":")[0]
            phases[phase] = phases.get(phase, 0.0) + time.perf_counter() - t0
        wall = time.perf_counter() - t_op
        return {"wall_s": wall, "rows": self.m["source_rows"], "latencies": [wall], "phases": phases}

    def check_step(self) -> None:
        """Oracle for the pass just run, then drop its output."""
        out = self._out
        exp = self.m["expect"]
        for routed, want in exp["snapshot"].items():
            self._expect(f"snapshot {routed}", digest(f"{out}/snapshot/{routed}.parquet"), want)
        for tb, want in exp["check"].items():
            got = {"miss": [], "diff": [], "extra": []}
            for p in glob.glob(f"{out}/check/check_{tb}/check_class=*/*.txt"):
                with open(p) as f:
                    for line in f:
                        if line.strip():
                            r = json.loads(line)
                            got[r["log_type"]].append(r["id_col_values"]["id"])
            self._expect(f"check {tb}", {c: sorted(v) for c, v in got.items()}, want)
        for tb, want in exp["revise"].items():
            self._expect(f"revise {tb}", digest(version_dir(f"{out}/revised/{tb}")), want)
        shutil.rmtree(out, ignore_errors=True)

    def _expect(self, what: str, got, want) -> None:
        self.attempted += 1
        if got != want:
            self.failed += 1
            self.notes.append(f"{what}: mismatch")

    def verify(self) -> tuple[int, int, list[str]]:
        return self.attempted, self.failed, self.notes

    def check_rows(self) -> int:
        """Rows read by one check pass: the source plus the replica."""
        exp = self.m["expect"]["check"]
        n = self.m["scale"]["rows"]
        return sum(2 * n - len(e["miss"]) + len(e["extra"]) for e in exp.values())


class CdcBinlogBulk:
    """One batch directory (a plain and a zstd binlog file) per batch:
    read_binlog_files -> fluid_to_typed -> CdcPipeline.apply_batch into a
    large preloaded ParquetTable."""

    def __init__(self, spark, manifest: dict, work: str):
        self.spark, self.m, self.work = spark, manifest, work
        self.tables = {(manifest["schema"], manifest["tb"]): gen.binlog_table(manifest["tb"], 101)}
        self.target_path = os.path.join(work, "bulk_target")
        self.applied = 0
        self.attempted = self.failed = 0
        self.notes: list[str] = []

    def setup(self) -> None:
        self.table = preload(self.spark, self.target_path, self.m["initial"])
        self.pipe = cdc.CdcPipeline(self.spark, self.table, KEYS, stream_id="binlog")

    def exhausted(self) -> bool:
        return self.applied >= len(self.m["batches"])

    def check_step(self) -> None:
        pass

    def step(self) -> dict:
        """Decode and apply the next batch directory."""
        i = self.applied
        t0 = time.perf_counter()
        changes = binlog_file.read_binlog_files(self.spark, self.m["batches"][i], self.tables)
        batch = cdc.fluid_to_typed(
            changes.filter(F.col("row_type").isin("insert", "update", "delete")).select(
                "schema", "tb", "row_type", "before", "after", "seq",
                F.col("ts").cast("timestamp").alias("ts"),
            ),
            PAYLOAD,
        )
        self.pipe.apply_batch(batch, i)
        self.attempted += 1
        self.applied = i + 1
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "rows": self.m["after_batch"][i]["n_events"], "latencies": [wall]}

    def verify(self) -> tuple[int, int, list[str]]:
        if self.applied:
            want = self.m["after_batch"][self.applied - 1]["digest"]
            got = digest(version_dir(self.target_path))
            if got != want:
                # the final state cannot say which batch went wrong
                self.failed = self.attempted
                self.notes.append(f"target digest {got} != model {want} after {self.applied} batches")
        return self.attempted, self.failed, self.notes


WORKLOADS = {
    "migrate_verify": MigrateVerify,
    "cdc_binlog_bulk": CdcBinlogBulk,
}
