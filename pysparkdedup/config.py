"""Pipeline configuration + fingerprint.

Mirrors the reference's ``Config`` TypedDict (ref cli.py:571-638) and the cache
settings-fingerprint that invalidates stale signatures when dedup semantics
change (ref cache.py:55-61, 103-109): for us the fingerprint covers exactly the
settings that change signatures — normalization flags, shingle size, MinHash
permutations/bands (SimHash is fixed at 64 bits).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, asdict


# Body/content hashing modes, mirroring BodyHasher (ref deduplicate.py:164-178):
# raw/normalized append the body hash to the key; SKIP keys on metadata only
# (the reference's header-only hash, ref deduplicate.py:167,175 — our web rows
# have no headers, so SKIP keys on lang + UTC day + normalized first line).
CONTENT_HASH_RAW = "raw"
CONTENT_HASH_NORMALIZED = "normalized"
CONTENT_HASH_SKIP = "skip"

DEFAULT_SIZE_THRESHOLD = 512  # bytes, ref cli.py:439-450
DEFAULT_CONTENT_THRESHOLD = 768  # bytes, ref cli.py:451-464

# Version of the checkpoint stale-key formula (checkpoint.stale_key_col).
# Folded into signature_fingerprint so a formula change EXPLICITLY wipes
# pre-existing checkpoints instead of silently missing every (url, stale_key)
# join key — the silent path would look like a full cache miss (correct but
# unobservable); the wipe is the reference's settings-change semantics
# (ref cache.py:232-246). Bump on any change to stale_key_col.
STALE_KEY_VERSION = 2


@dataclass(frozen=True)
class DedupConfig:
    """All knobs of one deduplication run."""

    # --- exact-dup hashing (ref mail.py:409-439) -------------------------
    content_hash_mode: str = CONTENT_HASH_NORMALIZED  # raw|normalized
    hash_bits: int = 256  # sha2 width; reference uses SHA-224 (mail.py:419),
    # we default to 256 so the DuckDB oracle (no sha224) can replay it; grouping
    # semantics are identical for any collision-free width.

    # --- guards (ref deduplicate.py:270-359, cli.py:439-464) -------------
    size_threshold: int = DEFAULT_SIZE_THRESHOLD  # -1 disables
    content_threshold: int = DEFAULT_CONTENT_THRESHOLD  # -1 disables
    max_eviction_group: int = 5000  # guard-failing clusters above this are
    # SKIP-accounted whole (guard_skip_kind set, nothing evicted, nothing
    # truncated — guards.MAX_EVICTION_GROUP), bounding the O(m^2) pairwise
    # diff; mirrors the reference's set-level short-circuit posture

    # --- selection (ref strategy.py:196-273) ------------------------------
    strategies: tuple[str, ...] = ("select-newest",)
    regexp: str | None = None  # required iff a *matching-path strategy is used

    # --- near-dup: shingling + MinHash-LSH --------------------------------
    shingle_size: int = 5  # words per shingle
    num_perm: int = 64  # MinHash permutations (b=16 x r=4: P[detect J=0.9]
    # = 1-(1-0.9^4)^16 ~ 1-4e-8; halves signature bandwidth vs 128)
    lsh_bands: int = 16  # b bands of r = num_perm // b rows
    jaccard_threshold: float = 0.8  # candidate-verify cutoff
    max_bucket_size: int = 256  # salted-skew guard: buckets above this are
    # degraded (pairs against bucket leader only), with a logged metric —
    # the scale analog of the reference's set-level short-circuit
    # (deduplicate.py:292-301): mega-clusters cost O(n), never O(n^2).

    # --- near-dup: SimHash (fixed at 64 bits) -----------------------------
    hamming_threshold: int = 3  # max Hamming distance for candidates

    # --- misc --------------------------------------------------------------
    min_text_chars: int = 1  # reject floor (ref TooFewHeaders, mail.py:490-496)
    stale_key_full: bool = False  # checkpoint change detection: False = cheap
    # (length + edge-sample crc + warc_ts — the reference's size+mtime analog,
    # ref cache.py:64-69, with its documented interior-same-length-edit blind
    # spot); True = full sha2 of the text (no blind spot, costs one full-text
    # hash per row per run)
    ts_col: str = "warc_ts"  # timestamp column for time strategies — the
    # --time-source analog (ref TimeSource mail.py:51-64: date-header vs
    # ctime becomes 'which timestamp column of the table')
    seed: int = 42
    dry_run: bool = False

    def signature_fingerprint(self) -> str:
        """Hash of every setting that invalidates cached signatures.

        Reference analog: ``cache.py:103-109`` wipes the cache when
        (hash_headers, hash_body, time_source) change; ours is the set of
        settings that change content_hash/minhash/simhash values.
        """
        relevant = {
            "content_hash_mode": self.content_hash_mode,
            "hash_bits": self.hash_bits,
            "shingle_size": self.shingle_size,
            "num_perm": self.num_perm,
            "seed": self.seed,
            "min_text_chars": self.min_text_chars,
            # stale-key semantics: either change makes old (url, stale_key)
            # rows unmatchable — wipe instead of silently full-missing
            "stale_key_version": STALE_KEY_VERSION,
            "stale_key_full": self.stale_key_full,
        }
        blob = json.dumps(relevant, sort_keys=True).encode()
        return hashlib.sha256(blob).hexdigest()

    def to_dict(self) -> dict:
        return asdict(self)

    @property
    def lsh_rows(self) -> int:
        if self.num_perm % self.lsh_bands:
            raise ValueError(
                f"num_perm={self.num_perm} not divisible by lsh_bands={self.lsh_bands}"
            )
        return self.num_perm // self.lsh_bands
