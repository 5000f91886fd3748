"""Custom stateful streaming operators (applyInPandasWithState).

The batch crawl engine keeps its seen-set and politeness schedule in catalog
tables because exact-order fixture reproduction demands round-based batch
(SURVEY.md §2.9). These operators are the *continuous* forms of the same two
pieces of state, for a deployment that ingests URL discoveries as a stream:

- :func:`first_seen_stream` — streaming seen-set dedup: the first row per
  key passes, every later row (same micro-batch or any later one) is
  dropped. State per key is a single boolean; at 10^10 keys the state store
  is RocksDB-backed and keys are the shuffle partition key, so state is
  partitioned exactly like the batch `seen` table's buckets.
- :func:`politeness_slots_stream` — per-host politeness pacing: each host's
  URLs receive monotonically increasing fetch slots ``delay_ms`` apart,
  continuing across micro-batches (state = next free slot). The streaming
  twin of the batch rank-x-delay window (engine.run_round W5).

Both are driven by deterministic file-source tests (one file per
micro-batch) against sequential Python oracles in tests/test_stateful.py.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

FIRST_SEEN_OUT = "url_canon string, host string, discovery_ts long"
FIRST_SEEN_STATE = "seen boolean"

SLOTS_OUT = "url_canon string, host string, discovery_ts long, slot_ms long"
SLOTS_STATE = "next_slot long"


def _first_seen_fn(
    key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit the earliest-discovered row for an unseen url_canon key; drop
    everything else. Deterministic: within a chunk ties break by
    (discovery_ts, host); across chunks the comparison is on discovery_ts
    alone — host is constant per key (it is derived from url_canon, the
    group key), so no cross-chunk host tie-break is ever needed."""
    if state.exists:
        for _ in pdfs:
            pass
        return
    best = None
    for pdf in pdfs:
        pdf = pdf.sort_values(["discovery_ts", "host"]).head(1)
        if len(pdf) and (best is None or pdf.iloc[0]["discovery_ts"] < best.iloc[0]["discovery_ts"]):
            best = pdf
    if best is not None:
        state.update((True,))
        yield best[["url_canon", "host", "discovery_ts"]]


def first_seen_stream(discoveries: DataFrame) -> DataFrame:
    """Streaming exact seen-set: url_canon-keyed stateful dedup."""
    return discoveries.groupBy("url_canon").applyInPandasWithState(
        _first_seen_fn,
        outputStructType=FIRST_SEEN_OUT,
        stateStructType=FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def politeness_slots_fn_factory(delay_ms: int):
    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (next_slot,) = state.get if state.exists else (0,)
        batch = pd.concat(list(pdfs), ignore_index=True)
        if not len(batch):
            return
        # deterministic within-batch order: the same keys the batch engine
        # schedules by (priority column optional in the stream shape)
        batch = batch.sort_values(["discovery_ts", "url_canon"]).reset_index(drop=True)
        batch["slot_ms"] = next_slot + batch.index.to_numpy() * delay_ms
        state.update((int(next_slot + len(batch) * delay_ms),))
        yield batch[["url_canon", "host", "discovery_ts", "slot_ms"]]

    return fn


def politeness_slots_stream(frontier: DataFrame, delay_ms: int = 100) -> DataFrame:
    """Per-host politeness pacing with cross-batch state (host-keyed)."""
    return frontier.groupBy("host").applyInPandasWithState(
        politeness_slots_fn_factory(delay_ms),
        outputStructType=SLOTS_OUT,
        stateStructType=SLOTS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SHARD_OUT = "image_id string, host string, n_bytes long, arrival_ts long, shard_id long"
SHARD_STATE = "offset long"


def shard_pack_fn_factory(shard_bytes: int):
    """Greedy sequential byte-budget packer with cross-batch state: each
    record's shard is determined by the running byte offset of its host's
    stream at the moment it arrives (state = offset after the last record).
    The streaming twin of the batch mm_shard_pack window — identical
    packing decision, but the 'window' extends across micro-batches.

    Skew bound: a hot host's work per trigger is one vectorized pandas
    cumsum over ITS ROWS IN THAT MICRO-BATCH — the bound is the source's
    admission limit (maxOffsetsPerTrigger / maxFilesPerTrigger), not the
    corpus. Sequential state per host is inherent to the packing semantics
    (shard n+1's offset depends on shard n); the batch-side packer
    (operators/multimodal.py:mm_shard_pack) defuses the same skew with the
    two-level prefix sum in functions/skew.py:skewed_running_sum."""

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (offset,) = state.get if state.exists else (0,)
        batch = pd.concat(list(pdfs), ignore_index=True)
        if not len(batch):
            return
        batch = batch.sort_values(["arrival_ts", "image_id"]).reset_index(drop=True)
        starts = offset + batch["n_bytes"].cumsum() - batch["n_bytes"]
        batch["shard_id"] = (starts // shard_bytes).astype("int64")
        state.update((int(offset + batch["n_bytes"].sum()),))
        yield batch[["image_id", "host", "n_bytes", "arrival_ts", "shard_id"]]

    return fn


def shard_pack_stream(images: DataFrame, shard_bytes: int = 7500) -> DataFrame:
    """Continuous WebDataset-style shard assignment for an image+caption
    ingest stream, host-keyed (each host's shards fill independently, so
    the operator parallelizes exactly like the batch per-host window)."""
    return images.groupBy("host").applyInPandasWithState(
        shard_pack_fn_factory(shard_bytes),
        outputStructType=SHARD_OUT,
        stateStructType=SHARD_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
