"""Degenerate but legal inputs match the oracle or fail loudly: FLAC
empty Rice partitions and fixed-predictor overflow, and knn_loo_accuracy
on zero-norm vectors and a one-vector corpus."""

import hashlib
import os
import struct

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_jlp_spark.multimodal.containers import encode_flac_streaminfo
from etl_jlp_spark.multimodal.flac import (
    _BitReader,
    _BitWriter,
    _crc8,
    _crc16,
    _read_subframe,
    _rice_read,
    _rice_write,
    _utf8_coded_number,
    decode_flac_samples,
)
from tests.conftest import SF_SMALL
from tools.parity import table_hash

# ---------------------------------------------------------------------------
# FLAC
# ---------------------------------------------------------------------------


def test_flac_empty_first_partition_coded():
    # blocksize 8, order 2, partition order 2: part_len == order, so the
    # first partition holds no residuals (spec-legal when nparts > 1)
    residual = np.array([3, -1, 0, 7, -4, 2], dtype=np.int64)
    bw = _BitWriter()
    _rice_write(bw, residual, 2, 8, partition_order=2)
    bw.align()
    got = _rice_read(_BitReader(bw.bytes()), 2, 8)
    assert got.tolist() == residual.tolist()


def test_flac_empty_first_partition_escaped():
    residual = [5, -6, -128, 127, 0, 1]
    bw = _BitWriter()
    bw.write(0, 2)  # method 0: 4-bit rice parameters
    bw.write(2, 4)  # partition order 2
    for p in range(4):
        bw.write(15, 4)  # escape code: raw signed values
        bw.write(8, 5)  # 8 bits each
        for v in residual[2 * p - 2 : 2 * p] if p else []:
            bw.write_signed(v, 8)
    bw.align()
    assert _rice_read(_BitReader(bw.bytes()), 2, 8).tolist() == residual


def test_flac_partition_shorter_than_order_rejected():
    bw = _BitWriter()
    bw.write(0, 2)
    bw.write(2, 4)  # part_len 2 < order 3
    bw.align()
    with pytest.raises(ValueError, match="no samples"):
        _rice_read(_BitReader(bw.bytes() + bytes(8)), 3, 8)


def _write_fixed_subframe(bw, order: int, residual: list[int], bps: int = 16) -> None:
    """FIXED(order) subframe, ``bps``-bit zero warm-up, one Rice(k=30)
    partition holding ``residual``."""
    bw.write(0, 1)
    bw.write(8 + order, 6)
    bw.write(0, 1)
    for _ in range(order):
        bw.write_signed(0, bps)
    bw.write(1, 2)  # method 1: 5-bit rice parameters
    bw.write(0, 4)  # one partition
    k = 30
    bw.write(k, 5)
    for v in residual:
        u = v << 1 if v >= 0 else ((-v) << 1) - 1
        bw.write_unary(u >> k)
        bw.write(u & ((1 << k) - 1), k)


def _fixed_subframe(order: int, residual: list[int], bps: int = 16) -> bytes:
    bw = _BitWriter()
    _write_fixed_subframe(bw, order, residual, bps)
    bw.align()
    return bw.bytes()


def _spike(big: int, blocksize: int, order: int) -> list[int]:
    return [big] + [0] * (blocksize - order - 1)


def test_flac_fixed_overflow_bound_accounts_for_blocksize():
    # a residual just under the old flat 2^48 limit: integrated twice
    # over a 65536-sample block it leaves int64
    big = (1 << 48) - (1 << 40)
    data = _fixed_subframe(2, _spike(big, 65536, 2))
    with pytest.raises(ValueError, match="overflow"):
        _read_subframe(_BitReader(data), 65536, 16)


def test_flac_fixed_large_residual_in_range_decodes_exactly():
    # residuals of ±2^30 over a 65536-sample block: far inside the
    # overflow bound, and the samples fit 32 bits
    big = 1 << 30
    residual = [big, -big] * ((65536 - 1) // 2) + [big]
    out = _read_subframe(_BitReader(_fixed_subframe(1, residual, 32)), 65536, 32)
    assert out[0] == 0
    assert (out[1::2] == big).all()
    assert (out[2::2] == 0).all()


def test_flac_fixed_sample_outside_bps_rejected():
    # in the overflow bound, but 2^20 does not fit a 16-bit subframe
    data = _fixed_subframe(1, _spike(1 << 20, 64, 1))
    with pytest.raises(ValueError, match="16-bit range"):
        _read_subframe(_BitReader(data), 64, 16)


def test_flac_mid_side_crafted_stream_rejected():
    # a CRC-valid mid-side frame whose mid subframe integrates a ~2^46
    # residual to just over 2^62: inside int64, so only the bps check
    # stops ``mid << 1`` from wrapping into a silent wrong sample
    n = 65535
    hdr = bytearray([0xFF, 0xF8, 0x70, (10 << 4) | (0x04 << 1)])
    hdr += _utf8_coded_number(0) + struct.pack(">H", n - 1)
    hdr.append(_crc8(bytes(hdr)))
    bw = _BitWriter()
    _write_fixed_subframe(bw, 2, _spike((1 << 46) + (1 << 33), n, 2))  # mid, 16 bits
    bw.write(0, 1)
    bw.write(0, 6)  # side: CONSTANT 0, 17 bits
    bw.write(0, 1)
    bw.write_signed(0, 17)
    bw.align()
    frame = bytes(hdr) + bw.bytes()
    payload = encode_flac_streaminfo(
        sample_rate=8000, channels=2, bits=16, total_samples=n, min_block=n, max_block=n
    ) + frame + struct.pack(">H", _crc16(frame))
    with pytest.raises(ValueError, match="16-bit range"):
        decode_flac_samples(payload)


# ---------------------------------------------------------------------------
# knn_loo_accuracy
# ---------------------------------------------------------------------------


def _sampled(vid: int) -> bool:
    from etl_jlp_spark.operators.embeddings import KNN_EVAL_SAMPLE_HEX

    return hashlib.md5(str(vid).encode()).hexdigest()[0] < KNN_EVAL_SAMPLE_HEX


def _knn_vs_oracle(spark, sf_dir):
    from etl_jlp_spark.registry import ORACLES, QUERIES

    import __spark_entry__  # noqa: F401  (populates the registry)

    sdf = QUERIES["knn_loo_accuracy"](spark, sf_dir)
    got = table_hash(sdf.columns, [tuple(r) for r in sdf.collect()])
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'")
    res = con.sql(ORACLES["knn_loo_accuracy"])
    want = table_hash(res.columns, res.fetchall())
    return got, want


def _write_embeddings(sf_dir, table):
    pq.write_table(table, os.path.join(sf_dir, "embeddings.parquet"))


def test_knn_loo_zero_norm_vectors_match_oracle(spark, tmp_path):
    t = pq.read_table(os.path.join(SF_SMALL, "embeddings.parquet"))
    ids = t.column("vec_id").to_pylist()
    emb = t.column("embedding").to_pylist()
    dim = len(emb[0])
    # one zero-norm query vector and one zero-norm corpus-only vector
    q0 = next(i for i, v in enumerate(ids) if _sampled(v))
    c0 = next(i for i, v in enumerate(ids) if not _sampled(v))
    emb[q0] = [0.0] * dim
    emb[c0] = [0.0] * dim
    t = t.set_column(
        t.schema.get_field_index("embedding"),
        "embedding",
        pa.array(emb, t.schema.field("embedding").type),
    )
    _write_embeddings(str(tmp_path), t)
    got, want = _knn_vs_oracle(spark, str(tmp_path))
    assert got[0] > 0
    assert got == want


def test_knn_loo_single_vector_corpus_is_empty(spark, tmp_path):
    vid = next(v for v in range(100) if _sampled(v))
    t = pa.table(
        {
            "vec_id": pa.array([vid], pa.int64()),
            "embedding": pa.array([[1.0, 2.0, 3.0]], pa.list_(pa.float32())),
            "label": pa.array([1], pa.int32()),
        }
    )
    _write_embeddings(str(tmp_path), t)
    got, want = _knn_vs_oracle(spark, str(tmp_path))
    assert got == want
    assert got[0] == 0
