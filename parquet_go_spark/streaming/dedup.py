"""Streaming deduplication in front of the encode sink.

A 10^12-sequence corpus that *arrives* continuously should be deduped
before tokens hit the encoder — re-encoding a duplicate wastes encode
CPU and store bytes forever. Two operators:

  * `dedup_stream` — exact streaming dedup on a content key
    (xxhash64 over the token array + length: JVM-side, no Python).
    With an event-time column it uses watermarked state
    (`dropDuplicatesWithinWatermark`): state is bounded by the watermark
    horizon, the contract a forever-running job needs. Without one it
    falls back to full-history `dropDuplicates` (state grows with unique
    keys — fine for bounded drains, documented as such).
  * `source_stats_stream` — custom stateful operator
    (`applyInPandasWithState`, GroupStateTimeout-free running totals):
    per-`source` document/token/duplicate counts maintained across
    micro-batches. This is the lineage/metrics surface the batch
    manifest provides, kept live for a stream; built-in streaming aggs
    could track sums but not the dedup-aware composite this emits.

`dedup_encode_stream` composes dedup -> the same salted-partition encode
kernel the batch path uses (`encode_blobs_df`), with the streaming
checkpoint + manifest anti-join giving exactly-once appends exactly like
`ingest.stream_encode`.

Scale shape: the dedup state lives in the state store keyed by
content_key (hash-partitioned across executors, RocksDB-backed on a real
cluster); the only added shuffle is the state-key exchange, which any
streaming dedup needs. No driver-side state anywhere.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.store import ManifestStore
from .ingest import drain_into_store, read_drop_dir

def content_key() -> F.Column:
    """xxhash64 over the token array + length: JVM-side, array-aware.
    Built lazily — executors import this module to unpickle the stateful
    kernel, where no SparkContext exists for Column construction."""
    return F.xxhash64("tokens", "n_tok")


def dedup_stream(stream: DataFrame, ts_col: str | None = None,
                 horizon: str = "10 minutes") -> DataFrame:
    """Drop duplicate token sequences from a stream by content key.

    ts_col given: watermark on it and keep per-key state only within
    `horizon` — bounded state, late duplicates beyond the horizon pass
    through (the standard streaming-dedup trade). ts_col None: exact
    full-history dedup; state grows with unique keys, so reserve it for
    bounded (availableNow) drains."""
    keyed = stream.withColumn("content_key", content_key())
    if ts_col is not None:
        deduped = keyed.withWatermark(ts_col, horizon) \
            .dropDuplicatesWithinWatermark(["content_key"])
    else:
        deduped = keyed.dropDuplicates(["content_key"])
    return deduped.drop("content_key")


_STATS_STATE = "docs long, toks long"
_STATS_OUT = "source string, docs long, toks long, batch_docs long"


def _stats_fn(
    key: Tuple[Any, ...],
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    docs, toks = state.get if state.exists else (0, 0)
    batch_docs = 0
    for pdf in pdfs:
        batch_docs += len(pdf)
        docs += len(pdf)
        toks += int(pdf["n_tok"].sum())
    state.update((docs, toks))
    yield pd.DataFrame(
        {"source": [key[0]], "docs": [docs], "toks": [toks],
         "batch_docs": [batch_docs]}
    )


def source_stats_stream(stream: DataFrame) -> DataFrame:
    """Running per-source totals across micro-batches (custom stateful
    operator). Emits one row per source per batch with the cumulative
    document/token counts after that batch — the live twin of the batch
    manifest's per-partition metrics rollup."""
    return (
        stream.select("source", "n_tok")
        .groupBy("source")
        .applyInPandasWithState(
            _stats_fn, _STATS_OUT, _STATS_STATE,
            "append", GroupStateTimeout.NoTimeout,
        )
    )


def dedup_encode_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_tokens: int = 500_000,
    compression: str | None = "zstd",
    timeout_sec: int = 300,
) -> ManifestStore:
    """Drain ``in_dir`` into the blob store, deduping token sequences
    before they reach the encoder. Same exactly-once contract as
    `ingest.stream_encode`: checkpointed batch ids + manifest anti-join;
    the dedup state itself rides the same streaming checkpoint."""
    return drain_into_store(dedup_stream(read_drop_dir(spark, in_dir)),
                            out_dir, target_tokens, compression, timeout_sec)
