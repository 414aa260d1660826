"""Property-based tests (hypothesis) for the engine's pure functions:
container-header decode round-trips and the assignment solver against
brute force.  No SparkSession — these run in milliseconds."""

import struct
import zlib
from itertools import permutations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from neleval_spark.measures.clustering import (
    max_weight_assignment_total, min_cost_assignment)
from neleval_spark.functions.multimodal import decode_headers


@given(w=st.integers(1, 2**31 - 1), h=st.integers(1, 2**31 - 1))
def test_png_roundtrip(w, h):
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + ihdr + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr)))
    assert decode_headers(data) == {"format": "png", "width": w,
                                    "height": h}


@given(w=st.integers(1, 65535), h=st.integers(1, 65535))
def test_gif_roundtrip(w, h):
    data = b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 6
    assert decode_headers(data) == {"format": "gif", "width": w,
                                    "height": h}


@given(rate=st.sampled_from([8000, 16000, 44100, 48000]),
       channels=st.integers(1, 2), bits=st.sampled_from([8, 16]),
       n_samples=st.integers(1, 10**6))
def test_wav_roundtrip(rate, channels, bits, n_samples):
    size = n_samples * channels * bits // 8
    data = (b"RIFF" + struct.pack("<I", 36 + size) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16)
            + struct.pack("<HHIIHH", 1, channels, rate,
                          rate * channels * bits // 8,
                          channels * bits // 8, bits)
            + b"data" + struct.pack("<I", size))
    meta = decode_headers(data)
    assert meta["format"] == "wav"
    assert meta["channels"] == channels
    assert meta["sample_rate_hz"] == rate
    want_ms = int(round(1000 * size / (channels * rate * bits / 8)))
    assert abs(meta["duration_ms"] - want_ms) <= 1


@settings(max_examples=200, deadline=None)
@given(st.integers(1, 5).flatmap(lambda n: st.lists(
    st.lists(st.integers(0, 100), min_size=n, max_size=n),
    min_size=n, max_size=n)))
def test_assignment_matches_brute_force(rows):
    """The shortest-augmenting-path solver equals exhaustive search on
    every square matrix up to 5x5."""
    cost = np.array(rows, dtype=float)
    n = cost.shape[0]
    r, c = min_cost_assignment(cost)
    got = cost[r, c].sum()
    best = min(sum(cost[i, p[i]] for i in range(n))
               for p in permutations(range(n)))
    assert got == best
    # and the max-weight wrapper agrees on the complementary problem
    assert max_weight_assignment_total(-cost) == -best


# --- round 3: session merging (pure parts) --------------------------------

@given(
    ts=st.lists(st.integers(0, 100_000), max_size=40),
    gap=st.integers(1, 5_000),
    pending=st.lists(
        st.tuples(st.integers(0, 100_000), st.integers(0, 100_000),
                  st.integers(1, 50)).map(
            lambda t: (min(t[0], t[1]), max(t[0], t[1]), t[2])),
        max_size=5),
)
def test_merge_sessions_invariants(ts, gap, pending):
    """Count conservation; sessions ordered and separated by > gap;
    every session well-formed; merging is idempotent."""
    from neleval_spark.streaming.sessions import (_merge_sessions,
                                                  _split_final)

    ts = sorted(ts)
    sessions = _merge_sessions(ts, gap, pending)
    total_in = len(ts) + sum(p[2] for p in pending)
    assert sum(s[2] for s in sessions) == total_in
    if not sessions:
        assert not ts and not pending
        return
    for s in sessions:
        assert s[0] <= s[1] and s[2] >= 1
    for a, b in zip(sessions, sessions[1:]):
        assert b[0] - a[1] > gap  # separated, in order
    # idempotence: refeeding nothing changes nothing
    assert _merge_sessions([], gap, sessions) == sessions
    # finality split partitions the list and preserves order
    for wm in (0, sessions[0][1] + gap, sessions[-1][1] + gap):
        final, keep = _split_final(sessions, gap, wm)
        assert final + keep == sessions
        assert all(s[1] + gap <= wm for s in final)
        assert all(s[1] + gap > wm for s in keep)
