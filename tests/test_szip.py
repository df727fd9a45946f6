"""szip / CCSDS 121.0-B-2 codec (sources/szip.py) — hand-worked
bit-level pins, round-trip properties, and the HDF5 integration
(VERDICT r10 #6: the last natively-undecodable NetCDF-4 filter)."""

import struct

import numpy as np
import pytest

from adcirctime2cogs_spark.sources import hdf5
from adcirctime2cogs_spark.sources.szip import (
    SZ_EC,
    SZ_LSB,
    SZ_MSB,
    SZ_NN,
    SZ_RAW,
    SzipError,
    decode_szip,
    encode_szip,
)


def bits(s: str) -> bytes:
    """Pack a hand-written bit string (MSB-first) into bytes."""
    s = s.replace(" ", "")
    s += "0" * (-len(s) % 8)
    return bytes(
        int(s[i:i + 8], 2) for i in range(0, len(s), 8)
    )


def test_ec_ksplit_block_bit_exact():
    """Hand-worked EC-mode block, n=8 (idlen 3), J=8, one scanline:
    samples [3,1,0,2,7,0,1,2]. Cheapest option is k=1 (cost 22 bits <
    k=0's 24): id '010', FS of v>>1 = [1,0,0,1,3,0,0,1] ->
    01 1 1 01 0001 1 1 01, then the k low bits 1,1,0,0,1,0,1,0."""
    data = bytes([3, 1, 0, 2, 7, 0, 1, 2])
    enc = encode_szip(data, SZ_EC | SZ_LSB | SZ_RAW, 8, 8, 8)
    expect = bits("010" "01 1 1 01 0001 1 1 01" "1 1 0 0 1 0 1 0")
    assert enc == expect
    assert decode_szip(enc, 8, SZ_EC | SZ_LSB | SZ_RAW, 8, 8, 8) == data


def test_ec_no_compression_block_bit_exact():
    """Incompressible samples must take the all-ones id and raw n-bit
    bodies: [255,0,255,0,255,0,255,0] at n=8 costs 64 raw vs >= 129
    FS — id '111' then the literal bytes."""
    data = bytes([255, 0] * 4)
    enc = encode_szip(data, SZ_EC | SZ_LSB | SZ_RAW, 8, 8, 8)
    expect = bits("111" + "".join(f"{b:08b}" for b in data))
    assert enc == expect
    assert decode_szip(enc, 8, SZ_EC | SZ_LSB | SZ_RAW, 8, 8, 8) == data


def test_nn_preprocessor_mapping_hand_example():
    """NN scanline [5,7,4,4], n=8: reference 5 raw after the prefix,
    mapped deltas [4,5,0] (delta +2 with theta 5 -> 2*2; delta -3
    with theta 7 -> 2*3-1; delta 0 -> 0). k=1 wins (cost 11: FS of
    [2,2,0] is 3+3+1 bits, + 3 low bits + 3-bit id, vs k=0's 12):
    id '010', ref 00000101, FS 001 001 1, then low bits 0,1,0."""
    data = bytes([5, 7, 4, 4])
    enc = encode_szip(data, SZ_NN | SZ_LSB | SZ_RAW, 8, 4, 4)
    expect = bits("010" "00000101" "001 001 1" "0 1 0")
    assert enc == expect
    assert decode_szip(enc, 4, SZ_NN | SZ_LSB | SZ_RAW, 8, 4, 4) == data


def test_zero_block_ros_bit_exact():
    """A constant NN scanline (64 samples, J=8 -> 8 blocks) is one
    zero-block code: prefix '0000', reference raw, then ROS (FS 4 =
    '00001') because the 8-block run reaches the segment end."""
    data = bytes([42] * 64)
    enc = encode_szip(data, SZ_NN | SZ_LSB | SZ_RAW, 8, 8, 64)
    expect = bits("0000" "00101010" "00001")
    assert enc == expect
    assert decode_szip(enc, 64, SZ_NN | SZ_LSB | SZ_RAW, 8, 8, 64) == data


def test_zero_run_short_and_long_forms():
    """Zero runs NOT reaching the segment end use FS(run-1) for
    run <= 4 and FS(run) for run >= 5 — pinned by decoding hand-built
    streams (EC mode, n=8, J=8, 4-block scanline: 2 zero blocks then
    a k=0 block of ones... and a 12-block line with a 6-block run)."""
    opts = SZ_EC | SZ_LSB | SZ_RAW
    # scanline of 32 samples = 4 blocks: blocks 0-1 zero, 2-3 data
    one_block = "001" + "01" * 8  # k=0, FS(1) x8 -> all ones
    stream = bits("0000" "01" + one_block + one_block)
    out = decode_szip(stream, 32, opts, 8, 8, 32)
    assert out == bytes(16) + bytes([1] * 16)
    # 12-block scanline: 6 zero blocks (FS 6: '0000001'), 6 one-blocks
    stream2 = bits("0000" "0000001" + one_block * 6)
    out2 = decode_szip(stream2, 96, opts, 8, 8, 96)
    assert out2 == bytes(48) + bytes([1] * 48)


def test_second_extension_decode_hand_built():
    """SE block (id '000'+'1'), n=8, J=8: pairs (1,0),(0,0),(2,1),
    (0,3) -> m = s(s+1)/2 + v2 with s = v1+v2: [1,0,7,9] -> FS codes
    01 1 00000001 0000000001."""
    stream = bits("000 1" "01 1 00000001 0000000001")
    out = decode_szip(stream, 8, SZ_EC | SZ_LSB | SZ_RAW, 8, 8, 8)
    assert out == bytes([1, 0, 0, 0, 2, 1, 0, 3])


def test_second_extension_on_reference_block_is_typed_out_of_subset():
    """The one convention-ambiguous construct (SE pairs an odd sample
    count on a reference block) must raise SzipError, never guess."""
    stream = bits("000 1" "00000101" "01 1 1 1")
    with pytest.raises(SzipError, match="second-extension"):
        decode_szip(stream, 8, SZ_NN | SZ_LSB | SZ_RAW, 8, 8, 8)


def test_out_of_subset_parameters_raise_typed():
    with pytest.raises(SzipError, match="bits_per_pixel"):
        encode_szip(bytes(8), SZ_EC | SZ_RAW, 24, 8, 8)
    with pytest.raises(SzipError, match="pixels_per_block"):
        decode_szip(bytes(8), 8, SZ_EC | SZ_RAW, 8, 7, 8)
    with pytest.raises(SzipError, match="pixels_per_scanline"):
        decode_szip(bytes(8), 8, SZ_EC | SZ_RAW, 8, 8, 4)
    with pytest.raises(SzipError, match="truncated"):
        decode_szip(b"", 64, SZ_EC | SZ_RAW, 8, 8, 8)


@pytest.mark.parametrize("n,dt", [(8, "u1"), (16, "u2"), (32, "u4")])
@pytest.mark.parametrize("mode", [SZ_EC, SZ_NN])
@pytest.mark.parametrize("order", [SZ_LSB, SZ_MSB])
def test_roundtrip_property_grid(n, dt, mode, order):
    """Round-trip across sample widths, preprocessing, byte order,
    block/scanline geometry (incl. short tails), and data shapes that
    drive every coding option (random, constant, ramps, zeros,
    spikes)."""
    rng = np.random.default_rng(n * 100 + mode + order)
    opts = mode | order | SZ_RAW
    full = np.dtype(("<" if order == SZ_LSB else ">") + dt)
    for j, scan, total in ((8, 64, 256), (16, 64, 250), (32, 60, 250),
                           (10, 10, 7)):
        for pat in range(5):
            if pat == 0:
                a = rng.integers(0, 1 << min(n, 31), total)
            elif pat == 1:
                a = np.full(total, 37)
            elif pat == 2:
                a = np.arange(total) % 251
            elif pat == 3:
                a = np.zeros(total, "i8")
            else:
                a = np.zeros(total, "i8")
                a[::17] = (1 << n) - 1
            data = a.astype(full).tobytes()
            enc = encode_szip(data, opts, n, j, scan)
            assert decode_szip(enc, len(data), opts, n, j, scan) == data


def test_netcdf4_szip_end_to_end(tmp_path):
    """A szip-compressed NetCDF-4 file (real CCSDS-121 chunk payloads
    with the H5Zszip 4-byte size prefix) now reads natively —
    byte-exact float64 recovery through the 32-bit-sample bit-pattern
    path netcdf-c/HDF5 use for doubles."""
    rng = np.random.default_rng(3)
    zeta = rng.normal(size=(3, 7)).astype("f8")
    p = str(tmp_path / "szip.nc")
    # canonical H5Zszip client data: options, bits_per_pixel,
    # pixels_per_block, pixels_per_scanline. One (1, 7) f8 chunk =
    # 14 32-bit samples per scanline.
    hdf5.write_netcdf4(
        p, dims={"time": None, "node": 7},
        variables={
            "time": (("time",), np.arange(3.0), {}),
            "zeta": (("time", "node"), zeta, {}),
        },
        compress=None,
        extra_filter=(hdf5.FILTER_SZIP,
                      (SZ_NN | SZ_LSB | SZ_RAW, 32, 8, 14)),
    )
    got = hdf5.NC4File(p).read_var("zeta")
    assert np.array_equal(got, zeta)
    # and through the scan's range decoder, one planned split at a time
    from adcirctime2cogs_spark.sources.netcdf import (
        _default_range_decoder,
        _default_splitter,
    )

    splits = _default_splitter(p, 0, "zeta")
    assert sorted(t for t, _, _ in splits) == [0, 1, 2]
    for t, off, nb in splits:
        _, node_ids, values = _default_range_decoder(p, "zeta", t, off, nb)
        assert list(node_ids) == list(range(7))
        assert np.array_equal(values, zeta[t])


def test_netcdf4_szip_out_of_subset_params_raise_typed(tmp_path):
    """A szip file whose client data is outside the codec's subset
    (bits_per_pixel 24, patched into an otherwise-valid file) must
    raise the TYPED UnsupportedHDF5Feature with the offline-convert
    guidance — never a silent wrong answer (VERDICT r09 #5 contract,
    carried over to the real decoder)."""
    rng = np.random.default_rng(4)
    zeta = rng.normal(size=(3, 7)).astype("f8")
    p = str(tmp_path / "szip24.nc")
    cv = (SZ_NN | SZ_LSB | SZ_RAW, 32, 8, 14)
    hdf5.write_netcdf4(
        p, dims={"time": None, "node": 7},
        variables={
            "time": (("time",), np.arange(3.0), {}),
            "zeta": (("time", "node"), zeta, {}),
        },
        compress=None,
        extra_filter=(hdf5.FILTER_SZIP, cv),
    )
    raw = open(p, "rb").read()
    needle = struct.pack("<HHHH", hdf5.FILTER_SZIP, 0, 1, 4)
    needle += struct.pack("<IIII", *cv)
    patched = struct.pack("<HHHH", hdf5.FILTER_SZIP, 0, 1, 4)
    patched += struct.pack("<IIII", cv[0], 24, cv[2], cv[3])
    # the pipeline message can appear in more than one header copy;
    # patch every occurrence (they all describe the same dataset)
    assert raw.count(needle) >= 1
    open(p, "wb").write(raw.replace(needle, patched))
    with pytest.raises(hdf5.UnsupportedHDF5Feature,
                       match="szip.*bits_per_pixel"):
        hdf5.NC4File(p).read_var("zeta")


def test_corrupt_szip_chunk_is_hdf5error_not_unsupported(tmp_path):
    """Review r11: a TRUNCATED szip chunk is data corruption, not an
    out-of-scope feature — it must surface as HDF5Error ('corrupt
    szip chunk'), never as UnsupportedHDF5Feature with offline-convert
    guidance that cannot help a damaged file."""
    rng = np.random.default_rng(5)
    zeta = rng.normal(size=(1, 7)).astype("f8")
    p = str(tmp_path / "szip_trunc.nc")
    hdf5.write_netcdf4(
        p, dims={"time": None, "node": 7},
        variables={
            "time": (("time",), np.arange(1.0), {}),
            "zeta": (("time", "node"), zeta, {}),
        },
        compress=None,
        extra_filter=(hdf5.FILTER_SZIP,
                      (SZ_NN | SZ_LSB | SZ_RAW, 32, 8, 14)),
    )
    raw = bytearray(open(p, "rb").read())
    # zero the tail of the szip bitstream so the reader runs dry
    # mid-chunk: find the chunk via the stored-size prefix (56 LE)
    # followed by a nonzero stream byte
    needle = struct.pack("<I", 56)
    i = raw.rindex(needle)
    raw[i + 6:i + 40] = bytes(34)
    open(p, "wb").write(bytes(raw))
    with pytest.raises(hdf5.HDF5Error, match="corrupt szip") as ei:
        hdf5.NC4File(p).read_var("zeta")
    assert not isinstance(ei.value, hdf5.UnsupportedHDF5Feature)


def test_szip_cannot_follow_deflate_in_writer(tmp_path):
    """Review r11: deflate output is rarely sample-aligned, so the
    fixture writer refuses the combination up front instead of dying
    mid-write with an opaque alignment error."""
    with pytest.raises(ValueError, match="szip.*deflate"):
        hdf5.write_netcdf4(
            str(tmp_path / "x.nc"), dims={"time": None, "node": 7},
            variables={
                "time": (("time",), np.arange(1.0), {}),
                "zeta": (("time", "node"),
                         np.zeros((1, 7)), {}),
            },
            compress=6,
            extra_filter=(hdf5.FILTER_SZIP,
                          (SZ_NN | SZ_LSB | SZ_RAW, 32, 8, 14)),
        )


def test_szip_with_fletcher32_and_shuffle_roundtrips(tmp_path):
    """fletcher32 (+4 bytes) and shuffle (a permutation) both keep
    sample alignment for 8/16/32-bit samples, so the full
    fletcher+shuffle+szip pipeline round-trips."""
    rng = np.random.default_rng(6)
    zeta = rng.normal(size=(3, 7)).astype("f8")
    p = str(tmp_path / "szip_pipe.nc")
    hdf5.write_netcdf4(
        p, dims={"time": None, "node": 7},
        variables={
            "time": (("time",), np.arange(3.0), {}),
            "zeta": (("time", "node"), zeta, {}),
        },
        compress=None, fletcher32=True, shuffle=True,
        extra_filter=(hdf5.FILTER_SZIP,
                      (SZ_NN | SZ_LSB | SZ_RAW, 32, 8, 15)),
    )
    assert np.array_equal(hdf5.NC4File(p).read_var("zeta"), zeta)


def test_unknown_filter_still_raises_typed(tmp_path):
    """The generic unsupported-filter gate (user-registered ids) is
    unchanged by the szip decoder."""
    p = str(tmp_path / "userfilter.nc")
    hdf5.write_netcdf4(
        p, dims={"time": None, "node": 7},
        variables={
            "time": (("time",), np.arange(3.0), {}),
            "zeta": (("time", "node"),
                     np.zeros((3, 7)), {}),
        },
        compress=None,
        extra_filter=(307, (1, 2)),
    )
    with pytest.raises(hdf5.UnsupportedHDF5Feature, match="307"):
        hdf5.NC4File(p).read_var("zeta")


def test_decoder_total_on_hostile_input():
    """The decoder must raise SzipError (or produce bytes) on ANY
    input — never a foreign exception class — because chunk payloads
    arrive from untrusted files. Deterministic corrupt-stream fuzz:
    truncations, bit flips, and random bytes across geometries
    (hypothesis-free so the corpus is stable in CI)."""
    import random

    rng = random.Random(11)
    opts = SZ_NN | SZ_LSB | SZ_RAW
    base = bytes(range(256)) * 4
    enc = encode_szip(base, opts, 8, 16, 64)
    cases = []
    # truncations
    cases += [enc[:k] for k in range(0, len(enc), 7)]
    # single bit flips
    for _ in range(120):
        i = rng.randrange(len(enc))
        b = bytearray(enc)
        b[i] ^= 1 << rng.randrange(8)
        cases.append(bytes(b))
    # pure noise
    cases += [bytes(rng.randrange(256) for _ in range(n))
              for n in (1, 5, 33, 257)]
    for payload in cases:
        try:
            out = decode_szip(payload, len(base), opts, 8, 16, 64)
            assert len(out) == len(base)
        except SzipError:
            pass  # the typed error is the contract
