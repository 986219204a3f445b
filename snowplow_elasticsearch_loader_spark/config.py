"""Engine configuration (analog of the reference's layered HOCON config,
``core/Config.scala:111-167`` + ``core/src/main/resources/reference.conf``).

The reference loads HOCON with three layers of defaults and validates
fields (e.g. the sharding ``dateField`` whitelist,
``core/Config.scala:130-145``). We keep the same shape — a typed config
object, defaults-first, overridable from a JSON file or a dict — with
plain dataclasses so the engine stays dependency-free.
"""

from __future__ import annotations

import dataclasses
import json
from dataclasses import dataclass, field
from typing import Any


@dataclass(frozen=True)
class BM25Config:
    """Lucene-default BM25 parameters (BASELINE.json: k1=1.2, b=0.75).

    ``quantize_doclen`` enables Lucene-style lossy norm quantization
    (SmallFloat analog): doclen is floor-truncated to a 4-bit mantissa
    (dl >> s << s with s = max(bit_width(dl) - 4, 0)) before scoring —
    monotone, at most ~6% relative error, and exactly expressible in
    Spark, numpy, and the DuckDB oracle (integer shifts on bin-length,
    no floating log). Off by default: exact doclen."""

    k1: float = 1.2
    b: float = 0.75
    quantize_doclen: bool = False


@dataclass(frozen=True)
class IndexConfig:
    """Physical index-build knobs.

    ``block_size`` is the postings-per-block cap (Lucene uses 128-doc
    blocks); ``docs_per_range`` is the doc-id range width used to split
    hot terms' postings across groups (the data-driven "salting" of
    SURVEY §4.1 — deterministic because it keys on doc_id, not on
    partition placement); ``term_buckets`` is the on-disk partition
    count of the blocks table (query-side partition pruning, the analog
    of ES date-sharded index routing, reference
    core/Processing.scala:162-171).
    """

    block_size: int = 128
    docs_per_range: int = 1 << 20
    term_buckets: int = 32
    # store positional postings (token index per occurrence, delta+
    # varint) — powers match_phrase from the index instead of a corpus
    # rescan; costs ~30-40% extra block bytes. Lucene stores positions
    # by default for text fields; so do we.
    store_positions: bool = True
    # floor on the number of doc ranges a BUILD splits into. At 10^12
    # turns ``docs_per_range`` yields ~10^6 ranges and this knob is
    # inert; on a small corpus the fixed width would yield fewer ranges
    # than a cluster has task slots, and because the block stage runs
    # one task per range the stage time quantizes to whole WAVES: the
    # 5.76M-turn bench corpus at the 1M default is 6 tasks — 3 packed
    # waves at 2 cores but a single 6-of-8 wave at 8 cores, a built-in
    # ~0.75 scaling ceiling no code inside the task can beat. The
    # effective width (see ``effective_docs_per_range``) is a pure
    # function of (cfg, n_docs) — never of the session's core count —
    # so the produced index is byte-identical at any parallelism and
    # resume re-derives the same ranges from the persisted corpus size.
    # The width is floored at ``block_size * term_buckets`` docs (4,096
    # at the defaults): one range is one task that writes up to
    # ``term_buckets`` block files, so narrower ranges multiply tiny
    # files and per-task cost without adding work (a ~7.8k-doc build
    # wrote 1,024 files before the floor, 64 after). The floor is inert
    # above ``block_size * term_buckets * min_build_ranges`` docs
    # (131,072 at the defaults).
    min_build_ranges: int = 32

    def effective_docs_per_range(self, n_docs: int) -> int:
        """Range width actually used when building ``n_docs`` docs:
        the configured width, shrunk (never grown) so the build has at
        least ``min_build_ranges`` one-task ranges, but never below
        ``block_size * term_buckets`` docs. Each range is one task that
        writes up to ``term_buckets`` files, so a range narrower than
        that floor buys parallelism with files and per-task overhead
        instead of work; the floor keeps a small build at a few ranges
        and leaves a large one at ``min_build_ranges``."""
        if self.min_build_ranges <= 1 or n_docs <= 0:
            return self.docs_per_range
        w = -(-n_docs // self.min_build_ranges)  # ceil
        return min(self.docs_per_range, max(self.block_size * self.term_buckets, w))


@dataclass(frozen=True)
class LimitsConfig:
    """Dead-letter limits, mirroring the reference's guards.

    - ``max_text_bytes``: analog of output.bad.maxRecordSize=1MB
      (config/config.aws.reference.hocon:120, core/BadRowsSerializer.scala:32-40).
    - ``max_tokens_per_turn``: analog of ES index.mapping.total_fields.limit
      (it/TestHelpers.scala:218) — exceeding it routes the row to
      ``_badrows`` with a limit-error counter
      (core/ElasticsearchSink.scala:162-164,195-198).
    """

    max_text_bytes: int = 1_000_000
    max_tokens_per_turn: int = 100_000


@dataclass(frozen=True)
class EngineConfig:
    bm25: BM25Config = field(default_factory=BM25Config)
    index: IndexConfig = field(default_factory=IndexConfig)
    limits: LimitsConfig = field(default_factory=LimitsConfig)
    shard_date_format: str = "yyyy-MM-dd"

    @staticmethod
    def from_dict(d: dict[str, Any]) -> "EngineConfig":
        def build(cls, sub: dict[str, Any]):
            names = {f.name for f in dataclasses.fields(cls)}
            unknown = set(sub) - names
            if unknown:
                raise ValueError(f"unknown config keys for {cls.__name__}: {sorted(unknown)}")
            return cls(**sub)

        nested = {"bm25": BM25Config, "index": IndexConfig, "limits": LimitsConfig}
        kwargs: dict[str, Any] = {}
        for name, value in d.items():
            kwargs[name] = build(nested[name], value) if name in nested else value
        return build(EngineConfig, kwargs)

    @staticmethod
    def from_json(path: str) -> "EngineConfig":
        with open(path) as fh:
            return EngineConfig.from_dict(json.load(fh))

    def validate(self) -> "EngineConfig":
        if self.bm25.k1 <= 0 or not (0.0 <= self.bm25.b <= 1.0):
            raise ValueError("bm25: k1>0 and 0<=b<=1 required")
        if self.index.block_size < 2:
            raise ValueError("index.block_size must be >= 2")
        if self.index.docs_per_range < self.index.block_size:
            raise ValueError("index.docs_per_range must be >= block_size")
        return self


DEFAULT_CONFIG = EngineConfig()
