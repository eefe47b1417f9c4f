"""Multimodal plumbing tests: schema, batch shape, stub behavior."""

import pytest

from k_means_in_mapreduce_spark import registry
from k_means_in_mapreduce_spark.operators.multimodal import (
    _CODECS,
    fake_decode,
    media_blob_table,
)

from .conftest import SF001

# the decoder the registry's UDFs ship to executors
decode = _CODECS["decode"]


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        decode(b"\x89PNG", "image")


def test_fake_decode_deterministic():
    assert fake_decode(b"abcd" * 10, "image") == fake_decode(b"abcd" * 10, "image")
    assert fake_decode(b"abcd" * 10, "audio")["n_frames"] == 10


def test_blob_table_schema(spark):
    m = media_blob_table(spark, SF001)
    assert dict(m.dtypes)["blob"] == "binary"
    assert dict(m.dtypes)["meta"].startswith("struct<n_bytes")
    row = m.first()
    assert row["meta"]["n_bytes"] == len(row["blob"])


def test_decode_meta_consistency(spark):
    out = registry.QUERIES["multimodal_decode_meta"](spark, SF001).toPandas()
    assert len(out) == 500
    assert set(out.media_type) == {"image", "audio", "video"}
    # fake decode is pure: n_frames for audio == n_bytes // 4
    audio = out[out.media_type == "audio"]
    assert (audio.n_frames == audio.n_bytes // 4).all()


def test_frame_sample_fanout(spark):
    out = registry.QUERIES["multimodal_frame_sample"](spark, SF001).toPandas()
    assert (out.frame_idx % 8 == 0).all()
    assert (out.frame_idx <= 24).all()
    per_doc = out.groupby("doc_id").frame_idx.count()
    assert per_doc.max() <= 4


def test_real_codec_round_trips():
    """encode->decode inverts exactly for all three codec-free containers;
    unrecognized magic raises (PIL-gated fallback absent in container)."""
    c = _CODECS
    assert decode(c["encode_ppm"](12, 9, 77)) == {
        "width": 12, "height": 9, "n_frames": 1,
        "sample_rate": 0, "n_channels": 3, "mean_level": 77.0,
    }
    assert decode(c["encode_wav"](11000, 2, 130, -512)) == {
        "width": 0, "height": 0, "n_frames": 130,
        "sample_rate": 11000, "n_channels": 2, "mean_level": -512.0,
    }
    # frame f's fill is (200 + f) % 256 -> mean over 3 frames = 201.0
    assert decode(c["encode_y4m"](20, 18, 3, 200)) == {
        "width": 20, "height": 18, "n_frames": 3,
        "sample_rate": 0, "n_channels": 3, "mean_level": 201.0,
    }
    # per-frame means from the frame-walking decoder
    fm = c["decode_y4m"](c["encode_y4m"](20, 18, 3, 254))["frame_means"]
    assert fm == [254.0, 255.0, 0.0]  # wraps mod 256


def test_ppm_decoder_handles_comments_and_p5():
    blob = b"P6\n# a netpbm comment\n4 2\n255\n" + bytes([10]) * 24
    assert decode(blob)["width"] == 4
    grey = b"P5\n3 3\n255\n" + bytes([9]) * 9
    d = decode(grey)
    assert d["n_channels"] == 1 and d["mean_level"] == 9.0


def test_unknown_container_raises_not_implemented():
    with pytest.raises(NotImplementedError):
        decode(b"\x89PNG\r\n\x1a\n----")


def test_real_codec_round_trip_properties():
    """Property: encode->decode inverts header fields and mean level for
    arbitrary valid parameters across all three containers."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    c = _CODECS

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 64), h=st.integers(1, 48), fill=st.integers(0, 255)
    )
    def ppm_prop(w, h, fill):
        d = decode(c["encode_ppm"](w, h, fill))
        assert (d["width"], d["height"], d["mean_level"]) == (w, h, float(fill))

    @settings(max_examples=60, deadline=None)
    @given(
        sr=st.integers(1000, 96000),
        ch=st.integers(1, 4),
        n=st.integers(1, 500),
        val=st.integers(-32768, 32767),
    )
    def wav_prop(sr, ch, n, val):
        d = decode(c["encode_wav"](sr, ch, n, val))
        assert (d["sample_rate"], d["n_channels"], d["n_frames"]) == (sr, ch, n)
        assert d["mean_level"] == float(val)

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 32).map(lambda x: 2 * x),
        h=st.integers(1, 32).map(lambda x: 2 * x),
        nf=st.integers(1, 6),
        fill=st.integers(0, 255),
    )
    def y4m_prop(w, h, nf, fill):
        d = decode(c["encode_y4m"](w, h, nf, fill))
        assert (d["width"], d["height"], d["n_frames"]) == (w, h, nf)
        want = sum((fill + f) % 256 for f in range(nf)) / nf
        assert abs(d["mean_level"] - want) < 1e-12

    ppm_prop()
    wav_prop()
    y4m_prop()
