"""The BGZF deflate codec: libdeflate where the system has it, zlib as the
fallback.

- Interop: libdeflate-written blocks inflate through ``zlib``, and
  zlib-written blocks (``tests/textgen`` and the benchmark generator's
  writer) inflate through libdeflate to the same payload; a Spark
  ``write_bam(..., index_bai=True)`` output passes the zlib-based
  ``bgzf_bam_validator``.
- Fallback: with ``SPARK_GRAFT_NO_NATIVE=1``, or when the library does not
  load, ``compress_block`` gives exactly zlib's level-6 bytes and
  ``codec()`` says ``"zlib"``.
- Malformed input: every inflate error is a ``ValueError``; an ISIZE above
  the 64 KiB block limit is refused; a deflate that returns no bytes
  raises.
- Threads: concurrent writers each get their own libdeflate handles.
"""

import importlib.util
import io
import os
import random
import struct
import subprocess
import sys
import textwrap
import threading
import zlib

import pytest

from hadoop_bam_spark.formats import bgzf

from tests import textgen

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_libdeflate = pytest.mark.skipif(
    bgzf.codec() != "libdeflate", reason="libdeflate not engaged")


@pytest.fixture(params=["libdeflate", "zlib"])
def codec(request, monkeypatch):
    """Run the test under each codec (libdeflate only where it loads)."""
    if request.param == "zlib":
        monkeypatch.setattr(bgzf, "_load", lambda: None)
    elif bgzf.codec() != "libdeflate":
        pytest.skip("libdeflate not engaged")
    assert bgzf.codec() == request.param
    return request.param


def _raw_block(body: bytes, crc: int, isize: int) -> bytes:
    head = b"\x1f\x8b\x08\x04" + struct.pack("<IBBH", 0, 0, 0xFF, 6) + \
        b"BC" + struct.pack("<HH", 2, len(body) + 25)
    return head + body + struct.pack("<II", crc, isize)


def _zlib_block(payload: bytes) -> bytes:
    """The block the zlib writer has always produced, built here from the
    stdlib alone."""
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    body = co.compress(payload) + co.flush()
    return _raw_block(body, zlib.crc32(payload), len(payload))


def _letters(rng, alphabet: bytes, n: int) -> bytes:
    """n seeded bytes drawn from ``alphabet``."""
    table = bytes(alphabet[i % len(alphabet)] for i in range(256))
    return rng.randbytes(n).translate(table)


def _payloads():
    rng = random.Random("bgzf-codec")
    dna = _letters(rng, b"ACGT", bgzf.MAX_BLOCK_PAYLOAD)
    return {
        "empty": b"",
        "one": b"x",
        "dna": dna,
        "runs": bytes(range(256)) * 255,
        "random": rng.randbytes(bgzf.MAX_BLOCK_PAYLOAD),
        "max": dna[:4096] * 15 + dna[:0xFFFF - 4096 * 15],
    }


def _body(block: bytes) -> bytes:
    xlen = struct.unpack_from("<H", block, 10)[0]
    return block[12 + xlen:-8]


def test_bytes_like_buffers_accepted(codec):
    """Both codecs take any bytes-like buffer, as the zlib path always
    did."""
    payload = _payloads()["dna"]
    block = bgzf.compress_block(payload)
    for kind in (bytearray, memoryview):
        assert bgzf.compress_block(kind(payload)) == block
        assert bgzf.decompress_block(kind(block)) == (payload, len(block))


def test_codec_is_libdeflate_when_it_loads():
    want = "zlib" if os.environ.get("SPARK_GRAFT_NO_NATIVE") else "libdeflate"
    if bgzf._open_libdeflate() is None:
        want = "zlib"
    assert bgzf.codec() == want


# ---------------------------------------------------------------------------
# Interop
# ---------------------------------------------------------------------------

@needs_libdeflate
@pytest.mark.parametrize("name", sorted(_payloads()))
def test_libdeflate_blocks_inflate_through_zlib(name):
    payload = _payloads()[name]
    block = bgzf.compress_block(payload)
    assert bgzf.block_size_at(block) == len(block)
    assert zlib.decompress(_body(block), -15) == payload
    crc, isize = struct.unpack("<II", block[-8:])
    assert (crc, isize) == (zlib.crc32(payload), len(payload))
    assert bgzf.decompress_block(block) == (payload, len(block))


@needs_libdeflate
def test_zlib_blocks_inflate_through_libdeflate(tmp_path):
    # incompressible payloads are left out: 64 KiB of them cannot fit one
    # zlib-written block
    data = b"".join(p for k, p in _payloads().items() if k != "random") * 3
    spec = importlib.util.spec_from_file_location(
        "perfbench_gen", os.path.join(REPO, "perfbench", "gen.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    gen.write_bgzf(str(tmp_path / "gen.bgz"), data, threads=2)
    written = {
        "textgen": textgen.bgzf_compress(data),
        "textgen-ffff": textgen.bgzf_compress(data, block_payload=0xFFFF),
        "perfbench-gen": (tmp_path / "gen.bgz").read_bytes(),
    }
    for label, blob in written.items():
        blocks = list(bgzf.iter_blocks(io.BytesIO(blob)))
        assert b"".join(p for _, p in blocks) == data, label
        assert bgzf.codec() == "libdeflate"


def test_write_bam_passes_validator(spark, tmp_path):
    """A Spark write_bam with .bai and .sbi, deflated by the workers'
    engaged codec, is spec-valid to the zlib-based validator and reads
    back to the same rows."""
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats import bam
    from hadoop_bam_spark.formats.sam import SAM_SCHEMA, parse_header
    from hadoop_bam_spark.tools import bgzf_bam_validator

    r = bgzf.BGZFReader(io.BytesIO(
        textgen.bam_file(textgen.gen_bam_records(3000, seed=5))))
    _, refs, start = bam.read_header(r)
    rows = list(bam.iter_records(r, refs, start))
    hdr = parse_header(textgen.gen_bam_header_text().splitlines())
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
                               SAM_SCHEMA)
    path = str(tmp_path / "out.bam")
    sinks.write_bam(df, path, hdr, index_granularity=64, index_bai=True)
    assert bgzf_bam_validator.validate_file(path) == []
    assert os.path.getsize(path + ".bai") > 0
    with open(path, "rb") as fh:
        back = bgzf.BGZFReader(fh)
        _, refs2, start2 = bam.read_header(back)
        assert list(bam.iter_records(back, refs2, start2)) == rows
    workers = spark.sparkContext.parallelize(range(2), 2).map(
        lambda _: bgzf.codec()).collect()
    assert set(workers) == {bgzf.codec()}


# ---------------------------------------------------------------------------
# Fallback
# ---------------------------------------------------------------------------

def test_no_native_env_writes_zlib_bytes():
    """A fresh interpreter with SPARK_GRAFT_NO_NATIVE=1 engages zlib and
    writes exactly the stdlib's level-6 blocks."""
    script = textwrap.dedent("""
        from hadoop_bam_spark.formats import bgzf
        from tests.test_bgzf_codec import _payloads, _zlib_block
        assert bgzf.codec() == "zlib", bgzf.codec()
        for name, p in _payloads().items():
            assert bgzf.compress_block(p) == _zlib_block(p), name
        print("ZLIB-OK")
    """)
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_NO_NATIVE="1")
    r = subprocess.run([sys.executable, "-c", script], cwd=REPO, env=env,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr
    assert "ZLIB-OK" in r.stdout


def test_failed_load_falls_back_to_zlib_once(monkeypatch):
    monkeypatch.setattr(bgzf, "_LIBDEFLATE", "libdeflate-missing.so.0")
    monkeypatch.setattr(bgzf, "_lib", None)
    monkeypatch.setattr(bgzf, "_failed", False)
    assert bgzf.codec() == "zlib"
    assert bgzf._failed

    def no_retry():
        raise AssertionError("a failed load must not be retried")

    monkeypatch.setattr(bgzf, "_open_libdeflate", no_retry)
    for payload in _payloads().values():
        assert bgzf.compress_block(payload) == _zlib_block(payload)


# ---------------------------------------------------------------------------
# Malformed input
# ---------------------------------------------------------------------------

def _with_isize(block: bytes, isize: int) -> bytes:
    return block[:-4] + struct.pack("<I", isize)


def test_isize_over_block_limit_refused(codec):
    block = bgzf.compress_block(b"ACGT" * 100)
    for isize in (bgzf.MAX_BLOCK_SIZE + 1, 0xFFFFFFFF):
        with pytest.raises(ValueError, match="ISIZE"):
            bgzf.decompress_block(_with_isize(block, isize))


def test_isize_that_lies_is_a_mismatch(codec):
    payload = _payloads()["dna"]
    block = bgzf.compress_block(payload)
    for isize in (0, 10, len(payload) - 1, len(payload) + 1,
                  bgzf.MAX_BLOCK_SIZE):
        with pytest.raises(ValueError, match="CRC/ISIZE"):
            bgzf.decompress_block(_with_isize(block, isize))


def test_body_inflating_past_block_limit_refused(codec):
    """A deflate body that inflates to more than any BGZF block holds is an
    error, whatever its header claims."""
    big = bytes(bgzf.MAX_BLOCK_SIZE + 1000)
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    body = co.compress(big) + co.flush()
    with pytest.raises(ValueError):
        bgzf.decompress_block(_raw_block(body, zlib.crc32(big), 1000))


def test_bad_deflate_data_is_value_error(codec):
    block = _raw_block(b"\xff" * 40, 0, 10)
    with pytest.raises(ValueError, match="does not inflate"):
        bgzf.decompress_block(block)


def test_guesser_skips_block_that_does_not_inflate(codec):
    """The split guesser catches ValueError only: a false-positive header
    whose body is not deflate must raise that, under either codec, so the
    scan moves on to the real block."""
    real = bgzf.compress_block(b"ACGT" * 1000)
    fake = _raw_block(b"\xff" * 40, 0, 10)
    buf = b"junk" + fake + real
    assert bgzf.guess_next_block_start(buf) == 4 + len(fake)


class _StubLib:
    """libdeflate with its result codes forced, for the error mapping."""

    def __init__(self, lib, rc=0, compressed=None):
        self._lib, self._rc, self._compressed = lib, rc, compressed

    def libdeflate_deflate_decompress(self, *args):
        return self._rc

    def libdeflate_deflate_compress(self, *args):
        return self._compressed

    def __getattr__(self, name):
        return getattr(self._lib, name)


def _stub(monkeypatch, **kw):
    """Engage a stub library, with handles of its own for this test."""
    stub = _StubLib(bgzf._open_libdeflate(), **kw)
    monkeypatch.setattr(bgzf, "_load", lambda: stub)
    monkeypatch.setattr(bgzf, "_local", threading.local())


@needs_libdeflate
@pytest.mark.parametrize("rc,name", [(1, "BAD_DATA"), (2, "SHORT_OUTPUT"),
                                     (3, "INSUFFICIENT_SPACE")])
def test_every_libdeflate_error_is_value_error(monkeypatch, rc, name):
    block = bgzf.compress_block(b"ACGT" * 100)
    _stub(monkeypatch, rc=rc)
    with pytest.raises(ValueError, match=name):
        bgzf.decompress_block(block)


@needs_libdeflate
def test_empty_deflate_raises(monkeypatch):
    _stub(monkeypatch, compressed=0)
    with pytest.raises(ValueError, match="could not fit"):
        bgzf.compress_block(b"ACGT" * 100)


def test_block_that_cannot_fit_raises(codec):
    """65,535 incompressible bytes deflate to more than one block holds."""
    with pytest.raises(ValueError):
        bgzf.compress_block(random.Random(9).randbytes(0xFFFF))


# ---------------------------------------------------------------------------
# Threads
# ---------------------------------------------------------------------------

def _write(payload: bytes) -> bytes:
    buf = io.BytesIO()
    w = bgzf.BGZFWriter(buf)
    for i in range(0, len(payload), 10_000):
        w.write(payload[i:i + 10_000])
    w.close()
    return buf.getvalue()


def test_concurrent_writers_match_serial():
    rng = random.Random("bgzf-threads")
    alphabet = [b"ACGT", b"ACGTN", bytes(range(32, 127)), b"\x00\x01"]
    payloads = [_letters(rng, a, 5 << 20) for a in alphabet]
    serial = [_write(p) for p in payloads]
    out = [None] * len(payloads)
    start = threading.Barrier(len(payloads))

    def run(i):
        start.wait()
        out[i] = _write(payloads[i])

    threads = [threading.Thread(target=run, args=(i,))
               for i in range(len(payloads))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert out == serial
    for p, blob in zip(payloads, serial):
        assert b"".join(b for _, b in bgzf.iter_blocks(io.BytesIO(blob))) == p
