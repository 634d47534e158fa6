"""graph_ingest: the write path — one writer, closed loop, micro-batches
of graph upserts and deletes through
``streaming.ingest.StreamingChangelogWriter.process_batch``, with
``compact()`` every few batches inside the timed loop.

Caching and SPARQL are idle here, so a read-side change that costs
writes shows up on this workload. Its traced run also probes the other
write path, the knowledge-graph build (kgprobe.py)."""

from __future__ import annotations

import os
import shutil
import time

import gen
from harness import dir_stats, fingerprint, median

SIZES = {
    "full": {"batch": 1000, "compact_every": 3},
    "tiny": {"batch": 40, "compact_every": 2},
}
OPS = ("commit", "compact", "build")
PROBES = 2
UPDATES_DDL = "graph_id string, ts string, op string, payload string, format string"
# a current-state row, for the order-insensitive state fingerprint
STATE_KEY = ("graph_id", "op", "content_hash")


def _rows_under(path: str) -> int:
    import pyarrow.parquet as pq

    n = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, name)).metadata.num_rows
    return n


class Workload:
    name = "graph_ingest"
    min_ops = SIZES["full"]["compact_every"]  # at least one compaction
    nominal_op_s = 3.0  # a batch's typical wall on a 4-core host

    def __init__(self, work_dir: str, seed: int, size: str):
        self.dir = work_dir
        self.seed = seed
        self.size = SIZES[size]
        self.size_name = size
        self.props: dict[str, float] = {}
        self.expect_wrong = False  # test hook: corrupt one expected answer
        self._n_tables = 0

    # -- setup ---------------------------------------------------------------
    def open(self, spark, tracer) -> None:
        """A fresh writer on an empty table, fed from the start of the
        seeded stream."""
        from rdf_diff_store_spark.streaming.ingest import StreamingChangelogWriter

        self.spark = spark
        self.tracer = tracer
        if self._n_tables:
            shutil.rmtree(self.table, ignore_errors=True)
            shutil.rmtree(self.table + "__state", ignore_errors=True)
        self._n_tables += 1
        self.table = os.path.join(self.dir, f"table{self._n_tables}")
        self.writer = StreamingChangelogWriter(spark, self.table)
        self.stream = gen.IngestStream(self.seed, self.size["batch"])
        self.submitted: list[tuple] = []
        self.batch_id = 0
        self.appended = 0
        self.compact_walls: list[float] = []
        self.commit_walls: list[float] = []
        self.deltas: list[tuple[int, int, int]] = []  # (table bytes, state bytes, files) per batch

    def warm_up(self):
        """One compaction (the set-up passes committed a batch each); the
        loop's counters start after it."""
        self.writer.compact()
        self.commit_walls, self.compact_walls, self.deltas = [], [], []
        return []

    # -- the loop ------------------------------------------------------------
    def _sizes(self):
        tb, tf = dir_stats(self.table)
        sb, sf = dir_stats(self.table + "__state")
        return tb, sb, tf + sf

    def _commit(self, req: int):
        from pyspark.sql import functions as F

        rows, expected = self.stream.next_batch()
        if self.expect_wrong and req == 0:
            expected += 1
        df = self.spark.createDataFrame(rows, UPDATES_DDL).withColumn("ts", F.col("ts").cast("timestamp"))
        before_dirs = set(os.listdir(self.table)) if os.path.isdir(self.table) else set()
        before = self._sizes()
        t0 = time.perf_counter()
        with self.tracer.span("commit", request=req):
            self.writer.process_batch(df, self.batch_id)
        wall = time.perf_counter() - t0
        self.batch_id += 1
        self.submitted.extend(rows)
        after = self._sizes()
        self.deltas.append(tuple(a - b for a, b in zip(after, before)))
        new_dirs = [d for d in os.listdir(self.table) if d.startswith("batch-s") and d not in before_dirs]
        got = sum(_rows_under(os.path.join(self.table, d)) for d in new_dirs)
        self.appended += got
        ok = got == expected
        return wall, ok, "" if ok else f"batch {self.batch_id - 1}: {got} rows appended, expected {expected}"

    def step(self, req: int):
        wall, ok, why = self._commit(req)
        self.commit_walls.append(wall)
        if (req + 1) % self.size["compact_every"] == 0:
            t0 = time.perf_counter()
            with self.tracer.span("compact", request=req):
                self.writer.compact()
            self.compact_walls.append(time.perf_counter() - t0)
        return "commit", wall, ok, why

    def final_checks(self):
        """The table's current state against (a) the generator's final
        state and (b) one append_updates fold of every submitted update."""
        from pyspark.sql import functions as F

        from rdf_diff_store_spark.operators.versioned import append_updates, current_state
        from rdf_diff_store_spark.schemas import CHANGELOG

        self.stored_bytes = self._sizes()[0] + self._sizes()[1]
        got = fingerprint(current_state(self.writer.read_changelog()), STATE_KEY)
        exp_rows = [
            (gid, "delete" if h is None else "add", h or "") for gid, h in self.stream.final.items()
        ]
        expected = (
            len(exp_rows),
            sum(gen.md5_60("\x1f".join(r)) for r in exp_rows),
        )
        updates = self.spark.createDataFrame(self.submitted, UPDATES_DDL).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        empty = self.spark.createDataFrame([], CHANGELOG)
        fold = fingerprint(current_state(append_updates(empty, updates)), STATE_KEY)
        self.props = self.stream.props()
        self.props["input.batches"] = float(self.batch_id)
        return [
            (got == expected, f"current state {got} != generator's {expected}"),
            (got == fold, f"current state {got} != append_updates fold {fold}"),
        ]

    # -- metrics -------------------------------------------------------------
    def summary(self, clock, timed_s: float) -> dict[str, tuple[float, str]]:
        # submitted updates over the timed loop's wall, compactions included
        rate = len(self.commit_walls) * self.size["batch"] / timed_s
        commit_ms = median(self.commit_walls) * 1000
        return {
            "throughput_per_s": (rate, "1/s"),
            "latency_ms": (commit_ms, "ms"),
            "updates_per_s": (rate, "1/s"),
            "commit_p50_ms": (commit_ms, "ms"),
            "stored_bytes_per_user_byte": (self.stored_bytes / self.stream.payload_bytes, "ratio"),
        }

    def layer_metrics(self) -> dict[str, float]:
        return {
            "ingest.survivor_share": self.appended / max(len(self.submitted), 1),
            "ingest.table_bytes_per_batch": median([d[0] for d in self.deltas]),
            "ingest.state_bytes_rewritten_per_batch": median([d[1] for d in self.deltas]),
            "ingest.files_per_batch": median([d[2] for d in self.deltas]),
            "ingest.compact_ms": median(self.compact_walls) * 1000,
            "ingest.stored_bytes_per_user_byte": self.stored_bytes / self.stream.payload_bytes,
        }

    def probes(self, tracer, clock) -> dict[str, float]:
        """Forced canonicalization of batches, a forced current_state over
        the written table, and the KG build probe (traced run only)."""
        from kgprobe import KgProbe

        from pyspark.sql import functions as F

        from rdf_diff_store_spark.operators.versioned import canonical_changelog_row, current_state

        stream = gen.IngestStream(self.seed + 1, self.size["batch"])
        canon, state = [], []
        for n in range(PROBES):
            rows, _ = stream.next_batch()
            df = self.spark.createDataFrame(rows, UPDATES_DDL).withColumn("ts", F.col("ts").cast("timestamp"))
            t0 = time.perf_counter()
            with tracer.span("probe.canonicalize"):
                canonical_changelog_row(df).write.format("noop").mode("overwrite").save()
            canon.append((time.perf_counter() - t0) * 1000)
            t0 = time.perf_counter()
            with tracer.span("probe.current_state"):
                current_state(self.writer.read_changelog()).write.format("noop").mode("overwrite").save()
            state.append((time.perf_counter() - t0) * 1000)
        out = {"turtle.canonicalize_ms": median(canon), "versioned.current_state_ms": median(state)}
        out.update(KgProbe(self.seed, self.size_name).run(self.spark, tracer, clock))
        return out

    def spark_layer_metrics(self, per_op):
        out = {f"spark.{op}.{k}": v for op, m in per_op.items() if op in OPS for k, v in m.items()}
        out["ingest.jobs_per_batch"] = per_op.get("commit", {}).get("jobs", 0.0)
        out["kg.jobs_per_build"] = per_op.get("build", {}).get("jobs", 0.0)
        return out
