"""n_tok-weighted, salted, skew-aware partition planning.

The reference is single-process and has no partitioning layer (SURVEY.md
§2.11); at 10^12-sequence scale the north rule makes it explicit. Strategy
(scales to 1000 executors — no global sort of the data, no driver loop):

  * one cheap aggregate scan computes total and heavy-row token counts
    (column-pruned to n_tok, so the parquet scan reads one column);
  * P = ceil(normal_tokens / target) buckets; normal rows are salted by
    xxhash64(doc_id) % P — with millions of light rows per bucket the law
    of large numbers equalizes token mass;
  * rows with n_tok >= skew_threshold (default target/4) get **weighted
    first-fit packing**, not hashing: ordered by (xxhash64, doc_id), a
    running token sum assigns bucket floor(prefix/target), so every heavy
    bucket carries <= target + max_doc tokens. Hash salting here would be
    balls-into-bins over few, huge balls — measured 3.3x-target outliers.
    The packing window runs over ONLY the heavy subset, whose row count
    is bounded by total_tokens/thr <= 4 * num_partitions (each heavy row
    carries >= target/4 tokens), i.e. metadata scale — the single-reducer
    window is ~2M skinny rows at 10^12 tokens, not a data-scale sort.

The resulting part_id is stable across runs (pure function of doc_id
hashes and n_tok).

Callers: ``encode_table`` does not plan; it cuts parts at a running n_tok
sum inside its scan tasks, which gives the same target + max_doc bound
with no planner job and no shuffle (operators/encode_job.py). This
planner stays for a caller that wants hash-salted part ids before the
encode, fed to ``encode_blobs_df``; today that is perfbench's traced
layer split. ``partspec``, ``pruned`` and stream ingest assign their own
co-located part ids and call ``encode_blobs_df`` directly.
``DEFAULT_TARGET_TOKENS`` is the target both paths default to.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Row-group sizing at the design scale. The reference writes 128 MiB row
# groups (/root/reference/common/common.go:11-12); at ~1 byte/token
# encoded that is ~10^8 tokens, but a Python task buffers several int64
# copies of the chunk while encoding (~20x the raw int32 bytes at peak),
# so 16M tokens (~64 MiB raw, ~1-2 GiB peak per task) is the largest
# group a 4-8 GiB executor core handles comfortably. At 10^12 sequences
# (~2.5e14 tokens) this yields ~15M partitions — committed in waves, no
# single Spark stage needs more than one wave's tasks. Tests and the
# sandbox bench pass smaller explicit targets to get per-core
# parallelism on toy inputs; the default is the cluster-scale choice.
DEFAULT_TARGET_TOKENS = 16_000_000


@dataclass
class PartitionPlan:
    n_normal: int
    n_heavy: int
    target_tokens: int
    skew_threshold: int
    total_tokens: int

    @property
    def num_partitions(self) -> int:
        return self.n_normal + self.n_heavy


def plan_partitions(
    df: DataFrame,
    target_tokens: int = DEFAULT_TARGET_TOKENS,
    skew_threshold: int | None = None,
) -> tuple[DataFrame, PartitionPlan]:
    """Attach a stable ``part_id`` column; returns (df_with_part_id, plan)."""
    thr = skew_threshold or max(target_tokens // 4, 1)
    agg = df.select(
        F.sum("n_tok").alias("total"),
        F.sum(F.when(F.col("n_tok") >= thr, F.col("n_tok")).otherwise(0)).alias(
            "heavy"
        ),
    ).collect()[0]
    total = int(agg["total"] or 0)
    heavy = int(agg["heavy"] or 0)
    normal = total - heavy
    n_normal = max(-(-normal // target_tokens), 1)
    # +1: first-fit start-offset packing can open one extra bucket
    n_heavy = (max(-(-heavy // target_tokens), 1) + 1) if heavy else 0
    salt = F.xxhash64(F.col("doc_id"))

    normal_df = df.filter(F.col("n_tok") < thr).withColumn(
        "part_id", F.pmod(salt, F.lit(n_normal)).cast("int")
    )
    if heavy == 0:
        out = normal_df
    else:
        w = Window.orderBy(F.xxhash64(F.col("doc_id")), F.col("doc_id")).rowsBetween(
            Window.unboundedPreceding, 0
        )
        heavy_df = (
            df.filter(F.col("n_tok") >= thr)
            .withColumn("_cum", F.sum("n_tok").over(w))
            .withColumn(
                "part_id",
                (
                    F.lit(n_normal)
                    + F.floor(
                        (F.col("_cum") - F.col("n_tok")) / F.lit(target_tokens)
                    )
                ).cast("int"),
            )
            .drop("_cum")
        )
        out = normal_df.unionByName(heavy_df)
    return out, PartitionPlan(
        n_normal=n_normal,
        n_heavy=n_heavy,
        target_tokens=target_tokens,
        skew_threshold=thr,
        total_tokens=total,
    )
