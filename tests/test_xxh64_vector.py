"""The vectorized XXH64 kernel against the published seed-0 vectors and
against its per-spec scalar reference ``xxh64_scalar``."""

from __future__ import annotations

import numpy as np
import pytest

from iceberg_metadata_pipeline_spark.llmops.xxh64_vector import xxh64, xxh64_scalar


def _vector_hashes(strings: list[bytes], seed: int) -> list[int]:
    """Hash through the kernel's padded-matrix contract (width =
    max_len + 32, rows zero-padded)."""
    lengths = np.array([len(s) for s in strings], dtype=np.int64)
    mat = np.zeros((len(strings), int(lengths.max(initial=0)) + 32), np.uint8)
    for row, s in enumerate(strings):
        mat[row, : len(s)] = np.frombuffer(s, np.uint8)
    return [int(h) for h in xxh64(mat, lengths, seed=seed)]


PUBLISHED_SEED0 = {
    b"": 0xEF46DB3751D8E999,
    b"a": 0xD24EC4F1A98C6E5B,
    b"abc": 0x44BC2CF5AD770999,
}


def test_xxh64_published_seed0_vectors():
    strings = list(PUBLISHED_SEED0)
    want = list(PUBLISHED_SEED0.values())
    assert [xxh64_scalar(s, seed=0) for s in strings] == want
    assert _vector_hashes(strings, seed=0) == want


@pytest.mark.parametrize("rng_seed", [7, 20261017])
@pytest.mark.parametrize("hash_seed", [0, 42])
def test_xxh64_vector_matches_scalar_random(rng_seed, hash_seed):
    # lengths 0-100 cover the byte, 4-byte and 8-byte tails, and 1-3
    # full 32-byte stripes, in one ragged batch
    rng = np.random.default_rng(rng_seed)
    strings = [
        rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        for n in list(range(101)) + list(rng.integers(0, 101, 200))
    ]
    got = _vector_hashes(strings, seed=hash_seed)
    assert got == [xxh64_scalar(s, seed=hash_seed) for s in strings]
