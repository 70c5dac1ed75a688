"""Property-based (hypothesis) tests for the pure Python/numpy kernels.

These are the engine's correctness-critical leaf functions — the batch
kernels MUST be bit-identical to their scalar references for ANY input,
not just the frozen goldens, because signature mismatches silently cost
recall rather than raising. No SparkSession involved: all properties
run on the executors' kernel code directly, so thousands of examples
stay cheap.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from dedup_spark.functions.hashing import fnv1a64_batch, fnv1a64_py
from dedup_spark.functions.lcs import containment_score, longest_common_substring_len
from dedup_spark.functions.shingles import (
    MinHasher,
    batch_minhash_simhash,
    doc_fingerprint,
    normalize_text,
    shingle_set,
    simhash64,
)

SETTINGS = settings(max_examples=200, deadline=None)


def _lcs_dp(a: str, b: str) -> int:
    """Independent O(n·m) dynamic-programming LCS reference."""
    if not a or not b:
        return 0
    prev = [0] * (len(b) + 1)
    best = 0
    for ca in a:
        cur = [0] * (len(b) + 1)
        for j, cb in enumerate(b, 1):
            if ca == cb:
                cur[j] = prev[j - 1] + 1
                if cur[j] > best:
                    best = cur[j]
        prev = cur
    return best


short_text = st.text(alphabet="abcx ", max_size=40)


@SETTINGS
@given(short_text, short_text)
def test_lcs_matches_dp_reference(a, b):
    assert longest_common_substring_len(a, b) == _lcs_dp(a, b)


@SETTINGS
@given(short_text, short_text)
def test_lcs_symmetric_and_bounded(a, b):
    got = longest_common_substring_len(a, b)
    assert got == longest_common_substring_len(b, a)
    assert 0 <= got <= min(len(a), len(b))


@SETTINGS
@given(st.text(alphabet="abcx", min_size=1, max_size=30), st.text(alphabet="abcx", max_size=10))
def test_containment_of_substring_is_one(a, suffix):
    # the shorter string IS a substring of the longer → containment 1.0
    assert containment_score(a, suffix + a) == 1.0
    assert containment_score(a, a) == 1.0


@SETTINGS
@given(st.lists(st.binary(max_size=200), max_size=30), st.integers(min_value=64, max_value=4096))
def test_fnv1a_batch_matches_scalar(docs, chunk_cells):
    # small chunk_cells forces the length-sorted chunking paths
    got = fnv1a64_batch(docs, chunk_cells=chunk_cells)
    assert [int(h) for h in got] == [fnv1a64_py(d) for d in docs]


@SETTINGS
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=60).map(
            lambda xs: np.unique(np.array(xs, dtype=np.uint64))
        ),
        max_size=12,
    ),
    st.integers(min_value=1, max_value=64),
)
def test_batch_minhash_simhash_matches_scalar(shingle_sets, chunk):
    """The Arrow-batch segment-reduction kernel must be bit-identical
    to the per-doc path for ANY shingle sets and ANY chunk boundary."""
    hasher = MinHasher(16)
    sigs, sims = batch_minhash_simhash(shingle_sets, hasher, chunk_shingles=chunk)
    for s, sig, sim in zip(shingle_sets, sigs, sims):
        ref_sig = hasher.signature(s)
        ref_sim = simhash64(s)
        if ref_sig is None:
            assert sig is None and sim is None
        else:
            assert np.array_equal(np.asarray(sig), ref_sig)
            assert sim == ref_sim


@SETTINGS
@given(st.text(alphabet="ab cd\t\n", max_size=80), st.integers(min_value=1, max_value=6))
def test_shingle_set_count_bound_and_ws_invariance(text, k):
    sh = shingle_set(text, k)
    n_tok = len(normalize_text(text).split())
    # distinct k-shingles of an n-token doc: at most n-k+1 (0 if short)
    assert sh.shape[0] <= max(0, n_tok - k + 1)
    # whitespace shape must not matter under normalization
    mangled = text.replace(" ", "   ").replace("\t", " \n ")
    assert np.array_equal(np.sort(sh), np.sort(shingle_set(mangled, k)))


@SETTINGS
@given(st.text(alphabet="abc \n", max_size=120), st.integers(min_value=1, max_value=12))
def test_doc_fingerprint_deterministic_and_ws_normal(text, window):
    fp = doc_fingerprint(text, window)
    assert fp == doc_fingerprint(text, window)  # pure
    assert -(1 << 63) <= fp < (1 << 63)  # Spark LongType range
    if not text.split():
        assert fp == 0


@SETTINGS
@given(
    st.lists(st.text(alphabet="abcdef", min_size=1, max_size=6), min_size=1, max_size=30),
    st.integers(min_value=1, max_value=10),
)
def test_span_hashes_position_independent(tokens, window):
    """The hash of a k-token span depends only on its tokens, never on
    where in the document it sits — the invariant cross-document span
    matching (operators/spans.py) relies on."""
    from dedup_spark.functions.shingles import doc_span_hashes

    doc = " ".join(tokens)
    spans = doc_span_hashes(doc, window)
    k = min(window, len(tokens))
    assert spans.shape[0] == len(tokens) - k + 1
    for i in range(spans.shape[0]):
        alone = doc_span_hashes(" ".join(tokens[i : i + k]), window)
        assert alone.shape[0] == 1
        assert spans[i] == alone[0]


@SETTINGS
@given(
    st.lists(st.text(alphabet="abcdef", min_size=1, max_size=6), min_size=1, max_size=30),
    st.integers(min_value=1, max_value=10),
)
def test_span_hashes_whitespace_run_invariant(tokens, window):
    """Token separators are maximal whitespace runs — the run's shape
    (spaces, tabs, newlines, repeats) must not change any span hash."""
    from dedup_spark.functions.shingles import doc_span_hashes

    a = doc_span_hashes(" ".join(tokens), window)
    b = doc_span_hashes("\t \n".join(tokens) + " \n", window)
    assert np.array_equal(a, b)


@SETTINGS
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(st.text(alphabet="abcdef", min_size=1, max_size=4), max_size=60).map(" ".join),
        ),
        max_size=8,
    ),
    st.integers(min_value=1, max_value=8),
)
def test_cdc_chunk_batch_matches_per_chunk_loop(texts, modulus):
    """The column-wise chunk inventory equals the per-chunk loop it
    replaced, row for row (empty and null docs yield no rows)."""
    import pandas as pd

    from dedup_spark.functions.shingles import cdc_chunk_hashes
    from dedup_spark.operators.cdc import chunk_batch

    ids = [7 * i + 3 for i in range(len(texts))]
    ref = []
    for fid, text in zip(ids, texts):
        h, n_tok = cdc_chunk_hashes(text or "", modulus)
        for k in range(h.shape[0]):
            ref.append((fid, k, int(n_tok[k]), int(h[k].astype("int64"))))
    got = chunk_batch(pd.Series(ids, dtype="int64"), pd.Series(texts, dtype=object), modulus)
    assert list(got.columns) == ["file_id", "chunk_idx", "n_tokens", "chunk_hash"]
    assert [tuple(int(v) for v in row) for row in got.itertuples(index=False)] == ref


# ---- PII redaction invariants (third-engine re proxy) ---------------------
# The Spark/Java and DuckDB/RE2 engines are pinned equal by the
# pii_redact value oracle; Python re is a third engine over the SAME
# pattern constants, letting hypothesis drive generated inputs cheaply.

import re

from dedup_spark.operators.codestats import PII_PATTERNS, REDACTION_ORDER


def _redact_py(text: str) -> str:
    for name in REDACTION_ORDER:
        pattern, placeholder = PII_PATTERNS[name]
        text = re.sub(pattern, placeholder, text)
    return text


_WORD = st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=8)
_EMAIL = st.builds(
    lambda a, b, c: f"{a}@{b}.{c}",
    _WORD, _WORD, st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=2, max_size=4),
)
_IP = st.builds(
    lambda a, b, c, d: f"{a}.{b}.{c}.{d}", *[st.integers(0, 255)] * 4
)
_AWS = st.text(alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789", min_size=16, max_size=16).map(
    lambda s: "AKIA" + s
)
_HEX = st.text(alphabet="0123456789abcdef", min_size=32, max_size=40)
_TOKEN = st.one_of(_WORD, _EMAIL, _IP, _AWS, _HEX)


@SETTINGS
@given(st.lists(_TOKEN, min_size=0, max_size=30))
def test_redaction_preserves_token_positions(tokens):
    """Patterns never match whitespace and placeholders contain none,
    so redaction is a per-token map: same token count, and every
    generated PII token becomes exactly its typed placeholder."""
    text = " ".join(tokens)
    out = _redact_py(text)
    out_tokens = out.split(" ") if text else []
    assert len(out_tokens) == len(tokens)
    for i, tok in enumerate(tokens):
        for name in REDACTION_ORDER:
            pattern, placeholder = PII_PATTERNS[name]
            if re.fullmatch(pattern, tok):
                assert out_tokens[i] == placeholder
                break
        else:
            assert out_tokens[i] == tok


@SETTINGS
@given(st.lists(_TOKEN, min_size=0, max_size=30))
def test_redaction_removes_all_standalone_pii(tokens):
    out = _redact_py(" ".join(tokens))
    for probe in ("aws_key", "hex_secret", "ipv4"):
        pattern, _ = PII_PATTERNS[probe]
        assert not any(re.fullmatch(pattern, t) for t in out.split(" ") if t)


# ---- media codec round trips (imagecodec / audiocodec / videocodec) ------

_img_arrays = st.tuples(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**32 - 1),
).map(
    lambda t: np.random.default_rng(t[2]).integers(
        0, 256, size=(t[0], t[1]), dtype=np.uint8
    )
)


@SETTINGS
@given(_img_arrays)
def test_png_roundtrip_property(img):
    from dedup_spark.functions.imagecodec import decode_png, encode_png_gray8

    gray, w, h = decode_png(encode_png_gray8(img))
    assert (h, w) == img.shape
    assert (gray == img).all()


@SETTINGS
@given(_img_arrays)
def test_bmp_roundtrip_property(img):
    from dedup_spark.functions.imagecodec import decode_bmp, encode_bmp_gray8

    gray, w, h = decode_bmp(encode_bmp_gray8(img))
    assert (h, w) == img.shape
    assert (gray == img).all()


@SETTINGS
@given(st.binary(min_size=0, max_size=300))
def test_image_decoders_never_leak_raw_errors(payload):
    """Arbitrary bytes must either decode or raise the typed
    ImageDecodeError — never ValueError/struct.error (the stub-policy
    catch in decode_pixels depends on it)."""
    from dedup_spark.functions.imagecodec import (
        ImageDecodeError,
        decode_bmp,
        decode_png,
    )

    for dec, magic in ((decode_png, b"\x89PNG\r\n\x1a\n"), (decode_bmp, b"BM")):
        try:
            dec(magic + payload)
        except ImageDecodeError:
            pass


@SETTINGS
@given(
    st.integers(min_value=1, max_value=5000),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_wav_roundtrip_property(n, channels, seed):
    from dedup_spark.functions.audiocodec import decode_wav, encode_wav_pcm16

    x = np.random.default_rng(seed).uniform(-1, 1, size=n * channels)
    dec, rate = decode_wav(encode_wav_pcm16(x, 8000, channels=channels))
    assert rate == 8000 and dec.shape[0] == n
    expect = x.reshape(n, channels).mean(axis=1)
    # per-channel quantization 2**-15 + scale mismatch |x|/32768
    assert np.max(np.abs(dec - expect)) < 1e-4


@SETTINGS
@given(st.binary(min_size=0, max_size=300))
def test_wav_decoder_never_leaks_raw_errors(payload):
    from dedup_spark.functions.audiocodec import AudioDecodeError, decode_wav

    try:
        decode_wav(b"RIFF\x28\x00\x00\x00WAVE" + payload)
    except AudioDecodeError:
        pass


@SETTINGS
@given(
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=12),   # half-dims (C420 needs even)
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_y4m_roundtrip_property(n, hw, hh, seed):
    from dedup_spark.functions.videocodec import decode_y4m, encode_y4m

    frames = np.random.default_rng(seed).integers(
        0, 256, size=(n, 2 * hh, 2 * hw), dtype=np.uint8
    )
    dec, fps = decode_y4m(encode_y4m(frames, fps=30))
    assert fps == 30.0
    assert (dec == frames).all()


@SETTINGS
@given(st.binary(min_size=0, max_size=300))
def test_y4m_decoder_never_leaks_raw_errors(payload):
    from dedup_spark.functions.videocodec import VideoDecodeError, decode_y4m

    try:
        decode_y4m(b"YUV4MPEG2 " + payload)
    except VideoDecodeError:
        pass


@SETTINGS
@given(_img_arrays, st.integers(min_value=50, max_value=95))
def test_jpeg_roundtrip_property(img, quality):
    """JPEG loss is EXACTLY the quantization: the decoded image must
    equal IDCT(round(DCT(img-128)/Q)*Q)+128 per 8x8 block, computed
    here with the test's own DCT/quality math, to within clipping and
    two float-rounding levels (the encoder's einsum and the test's
    matmul differ in summation order by ulps, so the final round() of
    a pixel sitting on a .5 boundary can flip once per stage). (Dims padded to 8 | N with edge
    replication, matching the encoder.)"""
    from dedup_spark.functions.jpegcodec import (
        _quant_table,
        decode_jpeg,
        encode_jpeg_gray8,
    )

    dec, w, h = decode_jpeg(encode_jpeg_gray8(img, quality=quality))
    assert (h, w) == img.shape

    k = np.arange(8)[:, None].astype(float)
    x = np.arange(8)[None, :].astype(float)
    D = 0.5 * np.cos((2 * x + 1) * k * np.pi / 16)
    D[0] *= 1 / np.sqrt(2)
    qt = _quant_table(quality).reshape(8, 8).astype(float)

    hh, ww = img.shape
    H, W = (hh + 7) // 8 * 8, (ww + 7) // 8 * 8
    pad = np.empty((H, W), dtype=float)
    pad[:hh, :ww] = img
    pad[hh:, :ww] = img[-1:, :]
    pad[:, ww:] = pad[:, ww - 1 : ww]
    pad -= 128.0
    expect = np.empty_like(pad)
    tie_free = np.ones((H // 8, W // 8), dtype=bool)
    for by in range(H // 8):
        for bx in range(W // 8):
            blk = pad[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            c = (D @ blk @ D.T) / qt
            # DC (and other low coefs) can land EXACTLY on .5 for
            # integer inputs; summation-order ulps then flip np.round a
            # whole quantization level between the encoder's einsum and
            # this matmul. Skip blocks containing near-ties — the
            # comparison is only meaningful where rounding is stable.
            if np.any(np.abs(np.abs(c - np.round(c)) - 0.5) < 1e-9):
                tie_free[by, bx] = False
            q = np.round(c) * qt
            expect[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = D.T @ q @ D
    expect = np.clip(np.round(expect + 128.0), 0, 255)
    diff = np.abs(dec.astype(int) - expect[:hh, :ww].astype(int))
    for by in range(H // 8):
        for bx in range(W // 8):
            if tie_free[by, bx]:
                d = diff[by * 8 : min(by * 8 + 8, hh), bx * 8 : min(bx * 8 + 8, ww)]
                assert d.size == 0 or d.max() <= 2


@SETTINGS
@given(
    _img_arrays,
    st.integers(min_value=50, max_value=95),
    st.sampled_from(["gray", "444"]),
    st.integers(min_value=0, max_value=5),
)
def test_progressive_jpeg_equals_baseline_property(img, quality, sub, ri):
    """Cross-mode pin: a progressive file carries the same quantized
    coefficients as the baseline file of the same image/quality, so
    the two DECODERS (which share no scan logic) must produce
    bit-identical planes — over random dims, qualities, subsampling
    and restart intervals."""
    from dedup_spark.functions.jpegcodec import (
        decode_jpeg,
        encode_jpeg_gray8,
        encode_jpeg_progressive_gray8,
    )

    base, w, h = decode_jpeg(encode_jpeg_gray8(img, quality=quality))
    prog, pw, ph = decode_jpeg(
        encode_jpeg_progressive_gray8(
            img, quality=quality, subsampling=sub, restart_interval=ri
        )
    )
    assert (w, h) == (pw, ph)
    assert (base == prog).all()


_PROG_FILE = None


def _prog_file() -> bytes:
    global _PROG_FILE
    if _PROG_FILE is None:
        from dedup_spark.functions.jpegcodec import encode_jpeg_progressive_gray8

        img = np.random.default_rng(17).integers(0, 256, (24, 24), dtype=np.uint8)
        _PROG_FILE = encode_jpeg_progressive_gray8(img, quality=80)
    return _PROG_FILE


@SETTINGS
@given(st.integers(min_value=2, max_value=10**9), st.integers(min_value=0, max_value=255))
def test_progressive_mutation_never_leaks_raw_errors(pos, byte):
    """Single-byte mutations of a valid progressive file (marker
    soup, corrupted scan headers, truncated-looking entropy) must
    decode or raise the typed error — nothing else escapes to kill a
    Spark task."""
    from dedup_spark.functions.imagecodec import ImageDecodeError
    from dedup_spark.functions.jpegcodec import decode_jpeg

    p = bytearray(_prog_file())
    p[2 + pos % (len(p) - 2)] = byte
    try:
        decode_jpeg(bytes(p))
    except ImageDecodeError:
        pass


@SETTINGS
@given(st.binary(min_size=0, max_size=300))
def test_flac_decoder_never_leaks_raw_errors(payload):
    from dedup_spark.functions.audiocodec import AudioDecodeError, decode_flac

    try:
        decode_flac(b"fLaC" + payload)
    except AudioDecodeError:
        pass


@SETTINGS
@given(st.binary(min_size=0, max_size=300))
def test_gif_decoder_never_leaks_raw_errors(payload):
    from dedup_spark.functions.imagecodec import ImageDecodeError, decode_gif

    try:
        decode_gif(b"GIF89a" + payload)
    except ImageDecodeError:
        pass


@SETTINGS
@given(st.binary(min_size=0, max_size=300))
def test_jpeg_decoder_never_leaks_raw_errors(payload):
    from dedup_spark.functions.imagecodec import ImageDecodeError
    from dedup_spark.functions.jpegcodec import decode_jpeg

    try:
        decode_jpeg(b"\xff\xd8" + payload)
    except ImageDecodeError:
        pass


@SETTINGS
@given(st.binary(min_size=0, max_size=300))
def test_avi_decoder_never_leaks_raw_errors(payload):
    from dedup_spark.functions.videocodec import VideoDecodeError, decode_avi_mjpeg

    try:
        decode_avi_mjpeg(b"RIFF\x00\x01\x00\x00AVI " + payload)
    except VideoDecodeError:
        pass
