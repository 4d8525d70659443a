"""Engine configuration + codec profiles.

Re-expresses ``/root/reference/zcollection/config.py:18-55`` (global config
with an ``override`` context manager) and the codec profiles of
``codecs/defaults.py:133-156``.  On Spark, a codec profile maps to the
parquet codec and level, and to the zarr layout's shard budget
(``shard_target_bytes``).  Parquet file sizing does not come from the
profile: the axis dimension's ``chunks`` becomes the writer's
``maxRecordsPerFile`` (``Collection._write_tree``).
"""

from __future__ import annotations

import contextlib
import dataclasses
from typing import Any, Iterator


@dataclasses.dataclass(frozen=True)
class CodecProfile:
    """Write-side codec policy and zarr shard budget."""
    name: str
    compression: str            # parquet codec
    level: int | None           # codec level (zstd)
    shard_target_bytes: int | None = None   # zarr shard budget, None = off

    def writer_options(self) -> dict[str, str]:
        opts = {"compression": self.compression}
        if self.level is not None:
            opts["parquet.compression.codec.zstd.level"] = str(self.level)
        return opts


#: parity with the reference's three profiles (codecs/defaults.py:133-156):
#: local-fast is unsharded; the cloud profiles shard at 128/512 MiB
PROFILES: dict[str, CodecProfile] = {
    "local-fast": CodecProfile("local-fast", "zstd", 3),
    "cloud-balanced": CodecProfile("cloud-balanced", "zstd", 3, 128 << 20),
    "cloud-cold": CodecProfile("cloud-cold", "zstd", 9, 512 << 20),
}

_DEFAULTS: dict[str, Any] = {
    "codec.profile": "cloud-balanced",   # reference default
    # hard caps on the documented driver-side collects (r12 verdict):
    # exceeding one raises DriverBoundExceededError instead of OOMing
    # the driver.  Each names a cardinality, never a byte volume.
    "similarity.broadcast_query_cap": 200_000,   # brute_force_topk queries
    "similarity.broadcast_rows_cap": 1_000_000,  # dup-pairs method="broadcast"
    "insert.partition_key_cap": 100_000,         # distinct keys per insert
    "retrieval.broadcast_terms_cap": 1_000_000,  # bm25 (query, term) rows
    # tfidf_topk pins its corpus tf table (persist) when the corpus'
    # optimizer-estimated scan size reaches this many bytes — same
    # crossover-gated device as text.pin_tokens_min_input_bytes
    # (measured: pin loses 1.08->1.32 s best at sf0.1, wins
    # 4.95->3.78 s at the synthetic sf1 tier).  None disables.
    "retrieval.pin_tf_min_input_bytes": 4 << 20,
    # importance_resample's final rank stage sorts the k survivors in
    # ONE task (correct and cheap for sampling-sized k); the cap makes
    # that single-task bound loud instead of silently degrading when a
    # caller asks for a corpus-sized k
    "sampling.gumbel_topk_cap": 5_000_000,
    # unigram_stats pins its token expansion (persist) when the
    # input's optimizer-estimated scan size reaches this many bytes;
    # below it the two explode passes recompute in parallel (measured
    # crossover: pin loses 0.77->1.34 s at sf0.1 (~100 k docs,
    # ~0.6 MB), wins 3.86->3.35 s at the synthetic sf1 tier (~1 M
    # docs, ~6.7 MB) - the 4 MiB default sits between the tiers, far
    # from both).  None disables the pin unconditionally.
    "text.pin_tokens_min_input_bytes": 4 << 20,
    # wide dedup-family intermediates (shingle/band/span expansions):
    # None -> persist() (single-job default); a path -> write-once
    # parquet tables under it, read back, DELETED on release (the
    # multi-job / executor-loss-resilient posture for 100-TB runs)
    "dedup.materialize_dir": None,
}

_config: dict[str, Any] = dict(_DEFAULTS)


def get(key: str) -> Any:
    try:
        return _config[key]
    except KeyError:
        raise KeyError(f"unknown config key {key!r}; known: "
                       f"{sorted(_DEFAULTS)}") from None


def set_option(key: str, value: Any) -> None:
    get(key)  # validate key
    _config[key] = value


def profile() -> CodecProfile:
    return PROFILES[get("codec.profile")]


@contextlib.contextmanager
def override(**options: Any) -> Iterator[None]:
    """Temporarily override config keys (``config.py:40-55``)."""
    saved = {k: _config[k] for k in options}
    for key, value in options.items():
        set_option(key, value)
    try:
        yield
    finally:
        _config.update(saved)
