"""token_store and doc_lookup phases: the engine's Spark entry points.

The store phase times ``encode_table`` and ``decode_table``; the decode
feeds an order-insensitive checksum, which must equal the input's. The
traced run splits the same job into the stages the engine runs, through
its public pieces (``plan_partitions``, ``make_encode_fn``,
``make_decode_fn``, ``ManifestStore``), so each layer gets a wall time;
in-task busy time comes from accumulators around the kernels.

The lookup phase sends single-key and 8-key IN lookups, one at a time,
through ``format("pgs").option("pushdown", "true")`` and compares each
answer with the stored rows, which the benchmark generated from
``sources.synth`` and keeps in memory.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from parquet_go_spark import chunk
from parquet_go_spark.operators.decode_job import decode_table, make_decode_fn
from parquet_go_spark.operators.encode_job import encode_table, make_encode_fn
from parquet_go_spark.operators.store import BLOB_SCHEMA, ManifestStore
from parquet_go_spark.plans.partitioner import plan_partitions
from parquet_go_spark.sources.synth import SCHEMA

from .inputs import Corpus, expected
from .spec import COLUMNS

LOOKUP_IN_KEYS = 8
# A lookup scans every partition of the store today (~1.5 s at 12
# partitions on 4 cores), so a run affords only this many.
MIN_LOOKUPS = 8


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def checksum(df) -> tuple:
    """Order-insensitive (row count, sum of row hashes) of a token table."""
    r = df.select(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*COLUMNS).cast("decimal(38,0)")),
    ).collect()[0]
    return int(r[0]), int(r[1] or 0)


def _timed(fn, acc):
    def run(table):
        t0 = time.perf_counter()
        out = fn(table)
        acc.add(time.perf_counter() - t0)
        return out
    return run


def _identity(acc_bytes, acc_batches):
    def run(table):
        acc_bytes.add(table.nbytes)
        acc_batches.add(len(table.to_batches()))
        return table
    return run


class StorePhase:
    """Closed loop, one job at a time: encode the input, then decode it."""

    def __init__(self, spark, tr, input_dir: str, info: dict, work: str,
                 target_tokens: int):
        self.spark, self.tr, self.info = spark, tr, info
        self.target = target_tokens
        self.out = os.path.join(work, "store")
        self.df = spark.read.parquet(input_dir)
        self.expect = checksum(self.df)
        self.attempted = self.failed = 0
        self.samples: dict[str, list[float]] = {}

    def _sample(self, name: str, v: float) -> None:
        self.samples.setdefault(name, []).append(v)

    def _decoded(self):
        return decode_table(self.spark, self.out, list(COLUMNS), SCHEMA)

    def iteration(self) -> None:
        """One timed encode + decode, each output checked."""
        shutil.rmtree(self.out, ignore_errors=True)
        tr = self.tr
        with tr.span("store.encode_table"):
            t0 = time.perf_counter()
            store, plan = encode_table(self.spark, self.df, self.out,
                                       target_tokens=self.target,
                                       resume=False)
            enc_s = time.perf_counter() - t0
        # the decode's consumer is the output check itself: an
        # order-insensitive checksum over every decoded column
        with tr.span("decode_job.decode_table"):
            t0 = time.perf_counter()
            got = checksum(self._decoded())
            dec_s = time.perf_counter() - t0
        tokens = self.info["tokens"]
        self._sample("encode_tok_per_s", tokens / enc_s)
        self._sample("decode_tok_per_s", tokens / dec_s)
        m = store.manifest(self.spark).agg(
            F.sum(F.when(F.col("col") == "doc_id", F.col("count"))),
            F.sum("encoded_size"),
        ).collect()[0]
        self._sample("store_bytes_per_raw_byte",
                     dir_bytes(self.out) / self.info["raw_bytes"])
        self._sample("size_vs_pyarrow_zstd",
                     int(m[1]) / self.info["pyarrow_zstd_bytes"])
        self.partitions = plan.num_partitions
        self.attempted += 2
        self.failed += int(m[0] or 0) != self.info["rows"]
        self.failed += got != self.expect

    def metrics(self) -> dict:
        """Throughput of the fastest iteration: on a shared host, bursts
        of load from other tenants slow whole jobs at 4 cores (a run's
        median swung 1.5x between runs on a 4-core VM) and never speed
        one up. The byte ratios barely vary; their median."""
        return {k: (max(v) if k.endswith("_per_s") else statistics.median(v))
                for k, v in self.samples.items()}

    def layer_iteration(self) -> None:
        """The job split into its stages, each into a noop sink."""
        sc, tr, spark = self.spark.sparkContext, self.tr, self.spark
        with tr.span("partitioner.plan_partitions"):
            planned, _plan = plan_partitions(self.df,
                                             target_tokens=self.target)
        with tr.span("encode_job.scan"):
            noop(planned)
        nbytes, nbatch = sc.accumulator(0), sc.accumulator(0)
        with tr.span("encode_job.handoff"):
            noop(planned.groupBy("part_id").applyInArrow(
                _identity(nbytes, nbatch), schema=planned.schema))
        tr.count("encode_job.handoff_bytes", nbytes.value)
        tr.count("encode_job.batches", nbatch.value)
        busy = sc.accumulator(0.0)
        with tr.span("encode_job.stage"):
            noop(planned.groupBy("part_id").applyInArrow(
                _timed(make_encode_fn(), busy), schema=BLOB_SCHEMA))
        tr.count("encode_job.encode_group_busy_s", busy.value)
        shutil.rmtree(self.out, ignore_errors=True)
        with tr.span("store.encode_table"):
            store, plan = encode_table(spark, self.df, self.out,
                                       target_tokens=self.target,
                                       resume=False)
        self.partitions = plan.num_partitions
        with tr.span("store.write_manifest_snapshot"):
            store.write_manifest_snapshot(spark)
        tr.count("store.blob_bytes", dir_bytes(store.blobs_dir))
        tr.count("store.snapshot_bytes", dir_bytes(store.manifest_dir))
        blobs = store.blobs(spark).filter(F.col("col").isin(list(COLUMNS)))
        with tr.span("decode_job.scan"):
            noop(blobs)
        with tr.span("decode_job.handoff"):
            noop(blobs.groupBy("part_id").applyInArrow(
                _identity(sc.accumulator(0), sc.accumulator(0)),
                schema=blobs.schema))
        busy = sc.accumulator(0.0)
        with tr.span("decode_job.stage"):
            noop(blobs.groupBy("part_id").applyInArrow(
                _timed(make_decode_fn(list(COLUMNS), SCHEMA), busy),
                schema=SCHEMA))
        tr.count("decode_job.decode_group_busy_s", busy.value)
        self.attempted += 1
        self.failed += checksum(self._decoded()) != self.expect

    def layer_metrics(self) -> dict:
        tr = self.tr
        med = tr.median
        cnt = lambda k: statistics.median(tr.counts[k])
        stage = med("encode_job.stage")
        return {
            "partitioner.plan_s": med("partitioner.plan_partitions"),
            "encode_job.scan_s": med("encode_job.scan"),
            "encode_job.handoff_s": med("encode_job.handoff")
            - med("encode_job.scan"),
            "encode_job.handoff_bytes": cnt("encode_job.handoff_bytes"),
            "encode_job.batches": cnt("encode_job.batches"),
            "encode_job.stage_s": stage,
            "encode_job.encode_group_busy_s":
                cnt("encode_job.encode_group_busy_s"),
            "store.commit_s": med("store.encode_table")
            - med("partitioner.plan_partitions") - stage,
            "store.snapshot_s": med("store.write_manifest_snapshot"),
            "store.blob_bytes": cnt("store.blob_bytes"),
            "store.snapshot_bytes": cnt("store.snapshot_bytes"),
            "decode_job.scan_s": med("decode_job.scan"),
            "decode_job.handoff_s": med("decode_job.handoff")
            - med("decode_job.scan"),
            "decode_job.decode_group_busy_s":
                cnt("decode_job.decode_group_busy_s"),
        }


class LookupPhase:
    """Closed loop, one client: 75% ``doc_id = k``, 25% ``doc_id IN (8
    keys)``, 10% of keys absent from the store."""

    def __init__(self, spark, tr, input_dir: str, rows, work: str,
                 target_tokens: int, corpus: Corpus, seed: int):
        self.spark, self.tr, self.corpus = spark, tr, corpus
        self.rows = rows  # the stored rows, which answer every lookup
        self.out = os.path.join(work, "lookup_store")
        shutil.rmtree(self.out, ignore_errors=True)
        _store, plan = encode_table(
            spark, spark.read.parquet(input_dir), self.out,
            target_tokens=target_tokens, resume=False,
            bloom_cols={"doc_id"}, page_rows=256)
        self.partitions = plan.num_partitions
        self.rng = np.random.default_rng(seed)
        self.attempted = self.failed = 0
        self.part_of: dict[str, int] | None = None

    def map_parts(self) -> None:
        """doc_id -> part_id from the store's doc_id chunks (traced run)."""
        blobs = ManifestStore(self.out).blobs(self.spark)
        self.part_of = {}
        for r in blobs.filter(F.col("col") == "doc_id").select(
                "part_id", "blob").collect():
            for d in chunk.decode_chunk(r["blob"]).to_pylist():
                self.part_of[d] = r["part_id"]

    def lookup(self) -> float:
        """One checked lookup; returns its latency in seconds."""
        k = LOOKUP_IN_KEYS if self.rng.random() < 0.25 else 1
        keys = self.corpus.sample_keys(self.rng, self.rows.num_rows, k)
        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("pgs.load"):
            df = (self.spark.read.format("pgs").option("pushdown", "true")
                  .load(self.out))
        col = F.col("doc_id")
        q = df.filter(col == keys[0] if len(keys) == 1 else col.isin(keys))
        if self.part_of is not None:
            with tr.span("pgs.plan"):
                tr.count("pgs.parts_scanned", q.rdd.getNumPartitions())
            tr.count("pgs.parts_needed", len(
                {self.part_of[k] for k in keys if k in self.part_of}))
        with tr.span("pgs.scan"):
            got = q.collect()
        wall = time.perf_counter() - t0
        want = expected(self.rows, keys)
        as_tuple = lambda r: (r["doc_id"], tuple(r["tokens"]), r["n_tok"],
                              r["source"])
        ok = sorted(map(as_tuple, want)) == sorted(
            as_tuple(r.asDict()) for r in got)
        self.attempted += 1
        self.failed += not ok
        return wall

    @staticmethod
    def metrics(latency: list[float]) -> dict:
        return {"lookup_p50_s": statistics.median(latency),
                "lookup_p75_s": statistics.quantiles(latency, n=4)[2]}

    def layer_metrics(self) -> dict:
        tr = self.tr
        scanned = tr.counts["pgs.parts_scanned"]
        needed = tr.counts["pgs.parts_needed"]
        return {
            "pgs.load_s": tr.median("pgs.load"),
            "pgs.plan_s": tr.median("pgs.plan"),
            "pgs.scan_s": tr.median("pgs.scan"),
            "pgs.parts_scanned": statistics.mean(scanned),
            "pgs.parts_needed": statistics.mean(needed),
            "pgs.useful_ratio": sum(needed) / max(sum(scanned), 1),
        }
