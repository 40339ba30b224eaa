from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

import pytest

from splade_spark.functions.codec import (
    GAP_CODECS,
    encode_blocks,
    encode_posting_blocks,
    quantize,
    vbyte_decode,
    vbyte_encode,
)

STRIDE = 1 << 24  # block_id = salt * STRIDE + seq, as finalize assigns it


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_vbyte_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert list(vbyte_decode(vbyte_encode(arr), len(arr))) == values


def test_vbyte_known_bytes():
    # 0 -> 0x00; 127 -> 0x7F; 128 -> 0x80 0x01; 300 -> 0xAC 0x02
    assert vbyte_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert vbyte_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert vbyte_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert vbyte_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**12),
            st.integers(min_value=1, max_value=1000),
            st.floats(min_value=0.0, max_value=50.0, allow_nan=False),
        ),
        min_size=1,
        max_size=700,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=50, deadline=None)
def test_posting_block_roundtrip(postings):
    doc_ids = np.array([p[0] for p in postings], dtype=np.int64)
    tfs = np.array([p[1] for p in postings], dtype=np.int64)
    ws = np.array([p[2] for p in postings], dtype=np.float64)
    order = np.argsort(doc_ids)
    blocks = list(encode_posting_blocks(doc_ids, tfs, ws, block_size=128))
    got_ids, got_ws, got_tfs = [], [], []
    for b in blocks:
        d = b["first_doc_id"] + np.cumsum(vbyte_decode(b["doc_gap_bytes"], b["n"]))
        w = np.frombuffer(b["impact_bytes"], dtype=np.float64)
        assert b["block_max"] == w.max()
        assert np.array_equal(
            np.frombuffer(b["quant_bytes"], dtype=np.uint8), quantize(w)
        )
        got_ids.append(d)
        got_ws.append(w)
        got_tfs.append(vbyte_decode(b["tf_bytes"], b["n"]))
    got_ids = np.concatenate(got_ids)
    assert np.array_equal(got_ids, doc_ids[order])
    assert np.array_equal(np.concatenate(got_ws), ws[order])
    assert np.array_equal(np.concatenate(got_tfs), tfs[order])
    assert np.all(np.diff(got_ids) > 0)  # strictly ascending docids


def test_quantize_matches_reference_semantics():
    w = np.array([0.0, 0.004, 0.005, 1.0, 2.549, 2.551, 100.0])
    # np.clip(np.rint(w*100), 0, 255) — banker's rounding via rint
    expect = np.clip(np.rint(w * 100), 0, 255).astype(np.uint8)
    assert np.array_equal(quantize(w), expect)


def _kernel_rows(runs, block_size, gap_codec, store_impacts):
    """encode_blocks over the concatenated runs, as dict rows."""
    lens = [len(r[0]) for r in runs]
    starts, cols = encode_blocks(
        np.cumsum([0] + lens[:-1]),
        np.concatenate([r[0] for r in runs]),
        np.concatenate([r[1] for r in runs]),
        np.concatenate([r[2] for r in runs]),
        np.array([r[3] * STRIDE for r in runs]),
        block_size,
        gap_codec,
        store_impacts,
    )
    rows = [dict(zip(cols, row)) for row in zip(*(c.to_pylist() for c in cols.values()))]
    return starts, rows


def _ref_bytes(gap_codec, values):
    """Value-at-a-time reference of one block's VByte / bit-packed bytes."""
    vals = [int(v) for v in values]
    if gap_codec == "vbyte":
        out = bytearray()
        for v in vals:
            while v >= 0x80:
                out.append(v & 0x7F | 0x80)
                v >>= 7
            out.append(v)
        return bytes(out)
    w = max(1, max(vals).bit_length())
    bits = "".join(format(v, f"0{w}b")[::-1] for v in vals)  # LSB first
    bits += "0" * (-len(bits) % 8)
    return bytes([w] + [int(bits[i : i + 8][::-1], 2) for i in range(0, len(bits), 8)])


@st.composite
def posting_runs(draw):
    block_size = draw(st.sampled_from([1, 3, 128]))
    runs = []
    for _ in range(draw(st.integers(1, 5))):
        n = draw(
            st.one_of(
                st.just(1),
                st.integers(1, 3).map(lambda m: m * block_size),
                st.integers(1, 300),
            )
        )
        gaps = draw(
            st.lists(
                st.one_of(st.integers(1, 200), st.integers(2**35, 2**40)),
                min_size=n,
                max_size=n,
            )
        )
        doc_ids = np.cumsum(gaps, dtype=np.int64) + draw(st.integers(0, 2**40))
        tfs = np.array(
            draw(st.lists(st.integers(1, 2**20), min_size=n, max_size=n)), dtype=np.int64
        )
        ws = np.array(
            draw(st.lists(st.floats(0.0, 50.0), min_size=n, max_size=n)), dtype=np.float64
        )
        runs.append((doc_ids, tfs, ws, draw(st.integers(0, 300))))
    return block_size, runs


@given(posting_runs(), st.sampled_from(sorted(GAP_CODECS)), st.booleans())
@settings(max_examples=50, deadline=None)
def test_kernel_matches_per_run_encoder_and_decodes(case, gap_codec, store_impacts):
    block_size, runs = case
    starts, got = _kernel_rows(runs, block_size, gap_codec, store_impacts)
    want = [
        b
        for d, t, w, salt in runs
        for b in encode_posting_blocks(
            d, t, w, block_size, salt * STRIDE, gap_codec, store_impacts
        )
    ]
    assert got == want
    assert [b["first_doc_id"] for b in got] == np.concatenate([r[0] for r in runs])[
        starts
    ].tolist()
    dec = GAP_CODECS[gap_codec][1]
    blocks = iter(got)
    for d, t, w, salt in runs:
        ids, tfs, ws = [], [], []
        for seq in range(-(-len(d) // block_size)):
            b = next(blocks)
            at = slice(seq * block_size, seq * block_size + b["n"])
            assert b["block_id"] == salt * STRIDE + seq
            assert b["doc_gap_bytes"] == _ref_bytes(gap_codec, np.diff(d[at], prepend=d[at][0]))
            assert b["tf_bytes"] == _ref_bytes(gap_codec, t[at])
            assert b["block_max"] == w[at].max()
            assert b["quant_bytes"] == quantize(w[at]).tobytes()
            ids.append(b["first_doc_id"] + np.cumsum(dec(b["doc_gap_bytes"], b["n"])))
            tfs.append(dec(b["tf_bytes"], b["n"]))
            ws.append(np.frombuffer(b["impact_bytes"], dtype=np.float64))
        assert np.array_equal(np.concatenate(ids).astype(np.int64), d)
        assert np.array_equal(np.concatenate(tfs).astype(np.int64), t)
        assert np.array_equal(np.concatenate(ws), w if store_impacts else w[:0])


# Two runs, block_size 2: run 0 (salt 0) is docs 3, 5 | 300, run 1 (salt
# 1) is doc 7. Hand-encoded: VByte 130 = 0x82 0x01; bit-packed blocks
# are a width byte then LSB-first bits, so gaps (0, 2) at width 2 pack
# to 0b1000 and tfs (1, 2) to 0b1001, tf 4 at width 3 to 0b100.
GOLDEN_RUNS = [
    (np.array([3, 5, 300]), np.array([1, 2, 130]), np.array([0.5, 1.25, 2.0]), 0),
    (np.array([7]), np.array([4]), np.array([3.0]), 1),
]
GOLDEN_GAPS = {
    "vbyte": ([b"\x00\x02", b"\x00", b"\x00"], [b"\x01\x02", b"\x82\x01", b"\x04"]),
    "bitpack": (
        [b"\x02\x08", b"\x01\x00", b"\x01\x00"],
        [b"\x02\x09", b"\x08\x82", b"\x03\x04"],
    ),
}


@pytest.mark.parametrize("gap_codec", sorted(GOLDEN_GAPS))
def test_golden_block_bytes(gap_codec):
    starts, rows = _kernel_rows(GOLDEN_RUNS, 2, gap_codec, True)
    gap_bytes, tf_bytes = GOLDEN_GAPS[gap_codec]
    f64 = [
        b"\x00\x00\x00\x00\x00\x00\xe0\x3f" b"\x00\x00\x00\x00\x00\x00\xf4\x3f",  # 0.5, 1.25
        b"\x00\x00\x00\x00\x00\x00\x00\x40",  # 2.0
        b"\x00\x00\x00\x00\x00\x00\x08\x40",  # 3.0
    ]
    assert starts.tolist() == [0, 2, 3]
    assert rows == [
        {
            "block_id": block_id,
            "first_doc_id": first,
            "last_doc_id": last,
            "n": n,
            "doc_gap_bytes": g,
            "tf_bytes": t,
            "impact_bytes": w,
            "quant_bytes": q,
            "block_max": m,
        }
        for block_id, first, last, n, g, t, w, q, m in zip(
            [0, 1, STRIDE],
            [3, 300, 7],
            [5, 300, 7],
            [2, 1, 1],
            gap_bytes,
            tf_bytes,
            f64,
            [b"\x32\x7d", b"\xc8", b"\xff"],  # rint(100 w), 300 clipped to 255
            [1.25, 2.0, 3.0],
        )
    ]
    _, no_impacts = _kernel_rows(GOLDEN_RUNS, 2, gap_codec, False)
    assert [r.pop("impact_bytes") for r in no_impacts] == [b""] * 3
    assert no_impacts == [{k: v for k, v in r.items() if k != "impact_bytes"} for r in rows]
