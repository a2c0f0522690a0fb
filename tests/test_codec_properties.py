"""Property-based tests (hypothesis, derandomized) for the pure-stdlib
media codec layer and the perceptual fingerprints built on it. These
run entirely driver-side — the batch operators wrapping these
functions are covered in test_textops.py — and pin the algebraic
invariants the oracle queries rely on: lossless codec roundtrips,
fingerprint gain/channel invariance, and cross-container dHash
equality (the same pixels must hash identically regardless of which
container carried them)."""
from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from json_schema_spark.textops.multimodal import (
    _wav_first_channel,
    audio_fingerprint,
    decode_bmp_gray,
    decode_gif_frames,
    decode_png_gray,
    decode_wav_pcm,
    encode_gif_gray,
    encode_gif_gray_frames,
    encode_png_gray,
    encode_wav_pcm,
    image_dhash,
)
from tests.harness import encode_bmp_gray

SETTINGS = settings(max_examples=40, deadline=None, derandomize=True)

grids = st.integers(2, 12).flatmap(
    lambda w: st.integers(2, 10).flatmap(
        lambda h: st.lists(
            st.lists(st.integers(0, 255), min_size=w, max_size=w),
            min_size=h, max_size=h)))

pcm16 = st.lists(st.integers(-32768, 32767), min_size=1, max_size=400)


@SETTINGS
@given(grids)
def test_png_roundtrip_lossless(grid):
    w, h, rows = decode_png_gray(encode_png_gray(grid))
    assert (w, h) == (len(grid[0]), len(grid))
    assert rows == grid


@SETTINGS
@given(grids)
def test_bmp_roundtrip_lossless(grid):
    w, h, rows = decode_bmp_gray(encode_bmp_gray(grid))
    assert (w, h) == (len(grid[0]), len(grid))
    assert rows == grid


@SETTINGS
@given(grids, st.booleans())
def test_gif_roundtrip_lossless(grid, interlaced):
    frames = decode_gif_frames(encode_gif_gray(grid,
                                               interlaced=interlaced))
    assert [f[2] for f in frames] == [grid]


@SETTINGS
@given(st.integers(2, 9).flatmap(
    lambda w: st.integers(2, 8).flatmap(
        lambda h: st.lists(
            st.lists(st.lists(st.integers(0, 255),
                              min_size=w, max_size=w),
                     min_size=h, max_size=h),
            min_size=1, max_size=4))))
def test_animated_gif_roundtrip_lossless(frames):
    decoded = decode_gif_frames(encode_gif_gray_frames(frames))
    assert [f[2] for f in decoded] == frames


@SETTINGS
@given(grids)
def test_dhash_container_independent(grid):
    """The SAME pixels hash identically from PNG, BMP, and GIF — the
    property that lets the image_dedup oracle share one SQL replay
    across codec variants."""
    png = image_dhash(encode_png_gray(grid))
    assert png is not None
    assert image_dhash(encode_bmp_gray(grid)) == png
    assert image_dhash(encode_gif_gray(grid)) == png
    assert image_dhash(encode_gif_gray(grid, interlaced=True)) == png


@SETTINGS
@given(pcm16, st.sampled_from([8, 16, 24, 32]),
       st.integers(1, 3))
def test_wav_roundtrip_and_fast_path(samples, bits, channels):
    if bits == 8:
        samples = [s % 120 for s in samples]
    blob = encode_wav_pcm(samples, bits=bits, channels=channels)
    ref = decode_wav_pcm(blob)
    assert ref is not None and ref[2] == samples
    fast = _wav_first_channel(blob)
    assert fast is not None and fast.tolist() == samples


@SETTINGS
@given(st.lists(st.integers(-9000, 9000), min_size=65, max_size=300),
       st.integers(1, 3))
def test_audio_fingerprint_gain_invariant(samples, gain):
    """Scaling every sample by a positive constant preserves every
    window-energy comparison, hence the fingerprint — the invariance
    audio_near_duplicates' docstring promises."""
    base = audio_fingerprint(encode_wav_pcm(samples))
    scaled = audio_fingerprint(
        encode_wav_pcm([gain * s for s in samples]))
    assert base is not None
    assert scaled == base


@SETTINGS
@given(st.lists(st.integers(-32768, 32767), min_size=65, max_size=300))
def test_audio_fingerprint_channel_invariant(samples):
    """encode_wav_pcm replicates the first channel, and the
    fingerprint reads only the first channel — stereo and mono
    encodings of the same signal fingerprint identically."""
    mono = audio_fingerprint(encode_wav_pcm(samples, channels=1))
    stereo = audio_fingerprint(encode_wav_pcm(samples, channels=2))
    assert mono is not None and mono == stereo


def test_gif_poster_honors_first_frame_transparency():
    """A transparency index on the FIRST frame must show the black
    initial canvas in the gray poster decode — identical to frame 0 of
    the animated compositing path, so the poster dHash always equals
    the first sampled frame's."""
    from json_schema_spark.textops.multimodal import (
        _gif_image_block, decode_gif_frames, decode_gif_gray)

    # hand-assemble: 2x2 frame of palette index 200, GCE marking 200
    # transparent on frame 0 (encode_gif_gray_frames deliberately only
    # marks later frames, so build the bytes directly)
    frame = [[200, 200], [200, 200]]
    out = bytearray(b"GIF89a")
    out += (2).to_bytes(2, "little") + (2).to_bytes(2, "little")
    out += bytes([0xF7, 0, 0])
    for i in range(256):
        out += bytes([i, i, i])
    out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, 200, 0])  # transparent=200
    out += _gif_image_block(frame, 2, 2, interlaced=False)
    out += b"\x3b"
    blob = bytes(out)

    poster = decode_gif_gray(blob)
    assert poster is not None and poster[2] == [[0, 0], [0, 0]]
    frames = decode_gif_frames(blob)
    assert frames is not None
    assert poster[2] == frames[0][2], \
        "poster must equal composited frame 0"


def test_video_frame_hashes_match_png_roundtrip_path(spark):
    """The fused decode->dhash path must equal the PNG-roundtrip
    composition (sample_frames_table + image_perceptual_hashes) —
    the lossless-codec guarantee that let the fusion happen."""
    from json_schema_spark.textops.multimodal import (
        encode_gif_gray_frames, image_perceptual_hashes,
        sample_frames_table, video_frame_hashes)

    def frame(i, f):
        return [[(i * 11 + x * 13 + y * 31 + f * 41) % 251
                 for x in range(9)] for y in range(8)]

    rows = [(i, encode_gif_gray_frames([frame(i, f) for f in range(4)]))
            for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    fused = {(r.doc_id, r.frame_idx): r.dhash
             for r in video_frame_hashes(df, "blob", every_n=2).collect()}
    frames = sample_frames_table(df, "blob", every_n=2)
    composed = {(r.doc_id, r.frame_idx): r.dhash
                for r in image_perceptual_hashes(
                    frames, "frame_png", carry_cols=["frame_idx"])
                .collect()}
    assert fused == composed and len(fused) == 24


@SETTINGS
@given(grids)
def test_progressive_jpeg_detected_and_refused(grid):
    """VERDICT r4 #7: a progressive JPEG (SOF2 frame header) must be
    classified by the scan-marker sniff, refused by the baseline
    decoder (None, not an exception), keep its header-parsed
    dimensions, and raise the documented PIL-gated stub error with a
    message that names the progressive gap."""
    import pytest

    from json_schema_spark.textops.multimodal import (
        decode_jpeg_gray, encode_jpeg_gray, jpeg_is_progressive,
        parse_image_dimensions)

    baseline = encode_jpeg_gray(grid)
    assert jpeg_is_progressive(baseline) is False
    assert jpeg_is_progressive(encode_png_gray(grid)) is None
    assert jpeg_is_progressive(None) is None

    prog = baseline.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert jpeg_is_progressive(prog) is True
    assert decode_jpeg_gray(prog) is None
    assert parse_image_dimensions(prog) \
        == (len(grid[0]), len(grid))  # dims survive the decode gap
    try:
        import PIL  # type: ignore # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="progressive"):
            image_dhash(prog)


def test_progressive_jpeg_nulls_on_batch_paths(spark):
    """A progressive blob inside a corpus must not kill the job on ANY
    batch path: perceptual hashing yields a NULL hash for it (real
    hashes for its baseline neighbors), and feature extraction still
    reports sniffed type + header dimensions."""
    from json_schema_spark.textops.multimodal import (
        encode_jpeg_gray, extract_media_features,
        image_perceptual_hashes)

    grid = [[(x * 13 + y * 31) % 251 for x in range(16)]
            for y in range(16)]
    base = encode_jpeg_gray(grid)
    prog = base.replace(b"\xff\xc0", b"\xff\xc2", 1)
    df = spark.createDataFrame([(1, base), (2, prog)],
                               "doc_id long, blob binary")

    rows = image_perceptual_hashes(df, "blob").collect()
    hashes = {r.doc_id: r.dhash for r in rows}
    assert hashes.get(1) is not None
    # the progressive blob is downgraded (NULL hash -> dropped row),
    # never raised — the job survives
    assert hashes.get(2) is None

    feats = {r.id: r for r in
             extract_media_features(df, "blob", "doc_id").collect()}
    assert feats["2"].media_type == "image/jpeg"
    assert (feats["2"].width, feats["2"].height) == (16, 16)
