"""Pipeline configuration.

Mirrors the reference's global static config parameter-for-parameter
(/root/reference/src/main/java/com/utils/Conf.java:13-39) but as a frozen,
explicit dataclass — no mutable global state.

Notable divergences (all documented in SURVEY.md §2.8):
* ``seed`` replaces the reference's unseeded ``SecureRandom`` sampling
  (DurstenfeldShuffle.java:10); determinism is a hard requirement here.
* ``bloom_m`` is the *live* filter size ``bloomFilterSize * M_N_RATIO = 3000``
  (BloomAlgorithms.java:29); the reference's ``BLOOM_FILTER_SIZE=900`` is dead
  config (Conf.java:33).
* ``purge_max_block_size`` adds meta-blocking block purging (north-star
  requirement; the reference has none — hot blocks land on a single task).
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict
import hashlib
import json
import math


@dataclass(frozen=True)
class PPRLConfig:
    # --- blocking attributes (Conf.java:13-24) ---
    blocking_attrs: tuple[str, ...] = ("surname", "name", "city")
    id_col: str = "id"

    # --- reference-set blocking (Conf.java:26-34) ---
    rs_fraction: float = 0.001          # RS_SIZE = rs_fraction * db_size
    num_search_chars: int = 1           # NUM_OF_BINARY_SEARCH_CHARS (+1 if len>1)
    num_samples: int = 4                # NUM_OF_SAMPLES
    window_size: int = 10               # WINDOW_SIZE (sorted-neighborhood)

    # --- bloom / matching (Conf.java:31-39) ---
    matching_threshold: float = 0.5     # MATCHING_THRESHOLD (Dice)
    matches_to_accept: int = 3          # MATCHES_TO_ACCEPT (of 3 attrs)
    hash_functions: int = 4             # HASH_FUNCTIONS (MD5 words)
    ngram_size: int = 2                 # nGramSize (bigrams)
    bloom_m: int = 150 * 20             # live filter size = 3000 bits

    # --- determinism / scale knobs (ours) ---
    seed: int = 42
    # corpus-level fractional sample applied AT LOAD (the reference keeps
    # this dormant: `.sample(f, 4)` commented out, SQLData.java:21-27).
    # Ours is live and seeded — a cheap way to dry-run the full pipeline
    # on p% of a web-scale corpus before committing the full job.
    sample_fraction: float | None = None
    rs_size_override: int | None = None          # explicit RS_SIZE, else fraction
    purge_max_block_size: int | None = 500       # drop blocks with more elements
    # hint the two pairs×blooms attach-joins to broadcast the bloom side.
    # Correct ONLY when the encoded party tables fit an executor (single-
    # node / bench scale); at cluster scale leave False — the blooms are
    # petabytes there and the join must stay a shuffled (bucketed) join.
    # AQE cannot infer this itself: the pandas-UDF encoder hides the size.
    broadcast_blooms: bool = False
    # CLK wire format for the Dice pair stream: "dense" ships each filter
    # as ceil(m/64) packed int64 words (fixed 376 B at m=3000, ~85% zero
    # bytes for short attributes); "sparse" ships the sorted SET-BIT
    # POSITIONS as array<smallint> (2 B per set bit — typically 30-150
    # bits for name-like attributes, so 3-6x fewer raw bytes per pair on
    # the engine's dominant shuffle). Dice semantics are IDENTICAL:
    # |a AND b| = size(array_intersect(positions)), cardinality =
    # size(positions) — same integers, same match set (equivalence
    # property test in tests/test_bloom.py; HLSH keys dispatch on the
    # column type, so both layouts work everywhere).
    # Default = dense, decided by FULL-PIPELINE interleaved trials at
    # three parallelism levels (BENCH/BASELINE.md round-5 section) after
    # the isolated-stage A/B briefly flipped this to sparse. The full
    # evidence: sparse carries 1.64x fewer shuffle bytes (lz4 already
    # squeezes the dense zero bytes, so the raw 3-6x shrinks to 1.64x)
    # and won the isolated attach+score stage 1.8-2.0x at local[32] on
    # the pre-reboot host; but end-to-end, interleaved same-session
    # trials show dense equal at 2 cores and ahead by min-stat at 8 and
    # 32 cores (97.5 vs 105.1 s; 47.9 vs 68.2 s at inflate 32). The
    # structural difference: size(array_intersect(p1, p2)) allocates a
    # hash set AND a result array per pair per attribute (~50M
    # allocations at inflate 32) while the dense path is allocation-free
    # zip_with/bit_count codegen over primitive longs. Sparse remains
    # one flag away for deployments whose scoring stage is provably
    # interconnect-bound (network-shuffle clusters — the regime the
    # isolated A/B models); both layouts are semantically identical
    # (equivalence property test in tests/test_bloom.py; HLSH keys and
    # score_joined dispatch on the column type, so either works
    # everywhere).
    bloom_representation: str = "dense"
    # meta-blocking edge pruning (north-star; reference has none):
    # keep a candidate pair only if it co-occurs in >= min_cbs_weight blocks
    # (CBS) and, if set, its sum of 1/|block| >= min_arcs_weight (ARCS)
    min_cbs_weight: int = 1
    min_arcs_weight: float | None = None

    @property
    def num_attrs(self) -> int:
        return len(self.blocking_attrs)

    @property
    def bloom_words(self) -> int:
        """Number of 64-bit words per filter (array<long> layout)."""
        return math.ceil(self.bloom_m / 64)

    def rs_size(self, db_size: int) -> int:
        """RS_SIZE semantics of Conf.java:28,57 (int truncation)."""
        if self.rs_size_override is not None:
            return self.rs_size_override
        return int(self.rs_fraction * db_size)

    def params_hash(self) -> str:
        """Stable hash of the config — used for checkpoint invalidation."""
        blob = json.dumps(asdict(self), sort_keys=True, default=str)
        return hashlib.sha256(blob.encode("utf-8")).hexdigest()[:16]


DEFAULT_CONFIG = PPRLConfig()
