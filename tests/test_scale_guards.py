"""Round-6 scale-guard mechanics: the hour-bucket membership cap
(DESIGN.md #37) and the vectorized CDC kernel (DESIGN.md #36).

Value-level correctness of the queries that USE these is covered by the
oracle-parity suite; these tests pin the guard BEHAVIOR the fixtures
cannot exercise — the cap binding on a bucket wider than the fixture
ever produces, and the CDC kernel's boundary/edge semantics.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from kuibadb_spark.operators.graph import _HOUR_CAP, _hour_users_capped
from kuibadb_spark.operators.multimodal import (
    _CDC_M,
    _CDC_MASK,
    _CDC_POW,
    _cdc_chunk_batches,
)


def test_hour_cap_binds_on_dense_bucket(spark):
    """A bucket denser than _HOUR_CAP is capped to exactly _HOUR_CAP
    members; a sparse bucket is untouched; selection is deterministic
    (same input → same member set)."""
    dense = [(u, "2024-01-01 10:00:00") for u in range(_HOUR_CAP + 100)]
    sparse = [(u, "2024-01-01 11:00:00") for u in range(5)]
    ev = spark.createDataFrame(
        dense + sparse, "user_id INT, ts_s STRING"
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    got = _hour_users_capped(ev)
    by_h = got.groupBy("h").count().collect()
    sizes = {r["h"].hour: r["count"] for r in by_h}
    assert sizes[10] == _HOUR_CAP
    assert sizes[11] == 5
    # determinism: a second evaluation picks the identical member set
    a = sorted(r["user_id"] for r in got.filter("hour(h) = 10").collect())
    b = sorted(r["user_id"] for r in got.filter("hour(h) = 10").collect())
    assert a == b
    # the rank rule is md5-of-user-id: independent of input order
    ev_rev = spark.createDataFrame(
        list(reversed(dense)) + sparse, "user_id INT, ts_s STRING"
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    c = sorted(
        r["user_id"]
        for r in _hour_users_capped(ev_rev).filter("hour(h) = 10").collect()
    )
    assert a == c


def _run_kernel(payloads: list[bytes]) -> pd.DataFrame:
    pdf = pd.DataFrame(
        {"fmt": ["bin"] * len(payloads), "payload": payloads}
    )
    return pd.concat(list(_cdc_chunk_batches(iter([pdf]))))


def _fingerprint(hx: str, i: int) -> int:
    """Reference (scalar) spelling of the window fingerprint at byte
    position i (1-based), matching the oracle SQL exactly."""
    window = hx[2 * i - 16:2 * i]
    return sum(ord(c) * p for c, p in zip(window, _CDC_POW)) % _CDC_M


def test_cdc_kernel_matches_scalar_reference():
    """Kernel boundaries == the scalar closed-form rule the oracle runs;
    chunk hashes are md5 of the uppercase-hex chunk substring; chunk
    lengths tile the payload exactly."""
    payload = bytes(range(256)) * 3  # 768 bytes, all byte values
    out = _run_kernel([payload])
    hx = payload.hex().upper()
    n = len(payload)
    cuts = [i for i in range(8, n + 1)
            if i == n or _fingerprint(hx, i) % _CDC_MASK == 0]
    assert out["chunk_len"].tolist() == [
        c - p for p, c in zip([0] + cuts[:-1], cuts)
    ]
    expect = [hashlib.md5(hx[2 * a:2 * c].encode()).hexdigest()
              for a, c in zip([0] + cuts[:-1], cuts)]
    assert out["chunk_hash"].tolist() == expect
    assert int(out["chunk_len"].sum()) == n


def test_cdc_kernel_minimum_payload_single_chunk():
    """An 8-byte payload (the filter's lower bound) is exactly one chunk
    covering the whole payload."""
    out = _run_kernel([b"\x00" * 8])
    assert out["chunk_len"].tolist() == [8]


def test_cdc_boundaries_are_content_defined():
    """The CDC property the whole operator exists for: prepending bytes
    shifts early chunks but the boundary positions RE-SYNCHRONIZE, so
    the tail chunks of the shifted payload hash identically to the
    original's — unlike fixed-size chunking, where one inserted byte
    changes every later chunk."""
    base = bytes((i * 37 + 11) % 251 for i in range(4096))
    shifted = b"XYZ" + base
    h0 = _run_kernel([base])["chunk_hash"].tolist()
    h1 = _run_kernel([shifted])["chunk_hash"].tolist()
    # the window fingerprint is content-pure, so boundaries land at the
    # same CONTENT positions: only the chunk containing the insertion
    # differs — everything after it is hash-identical
    assert len(h0) == len(h1)
    assert h0[0] != h1[0]
    assert h0[1:] == h1[1:]
