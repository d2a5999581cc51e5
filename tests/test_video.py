"""Video binary-column operators: Y4M codec round-trip, distributed
stats/features vs a local numpy oracle, frame sampling into the image
pipeline, quarantine-on-corrupt."""

import numpy as np
import pytest

from loc2vec_spark.operators import images as img_ops
from loc2vec_spark.operators import video as V
from loc2vec_spark.png_codec import decode_png

N_CLIPS = 20
N_CORRUPT = sum(1 for i in range(N_CLIPS) if i % 13 == 7)


@pytest.fixture(scope="module")
def video_df(spark):
    return spark.createDataFrame(V.synth_video_pdf(N_CLIPS)).cache()


def test_y4m_roundtrip_bit_exact():
    rng = np.random.default_rng(3)
    fr = rng.integers(0, 256, (5, 16, 20), dtype=np.uint8)
    fps, back = V.decode_y4m(V.encode_y4m(fr, fps=12))
    assert fps == 12.0
    assert np.array_equal(back, fr)


def test_decode_rejects_garbage():
    with pytest.raises(ValueError):
        V.decode_y4m(b"not a video")
    # truncated payload must raise, not silently return short frames
    good = V.encode_y4m(np.zeros((3, 8, 8), dtype=np.uint8))
    with pytest.raises(ValueError):
        V.decode_y4m(good[:-10])


def test_video_stats_match_local_decode(spark, video_df):
    got = {r["video_id"]: r for r in V.video_stats(video_df).collect()}
    assert len(got) == N_CLIPS
    pdf = V.synth_video_pdf(N_CLIPS)
    n_bad = 0
    for row in pdf.itertuples():
        g = got[row.video_id]
        try:
            fps, fr = V.decode_y4m(bytes(row.bytes))
        except Exception:
            assert g["ok"] is False  # quarantined, not dropped
            n_bad += 1
            continue
        assert g["ok"] and g["n_frames"] == fr.shape[0]
        assert (g["w"], g["h"]) == (fr.shape[2], fr.shape[1])
        assert g["mean_luma"] == pytest.approx(float(fr.mean()), abs=1e-5)
    assert n_bad == N_CORRUPT >= 1


def test_motion_separates_static_from_moving(spark, video_df):
    rows = V.video_stats(video_df).filter("ok").collect()
    by_id = {r["video_id"]: r["motion"] for r in rows}
    static = [m for vid, m in by_id.items()
              if int(vid.split("_")[1]) % 9 == 4]
    moving = [m for vid, m in by_id.items()
              if int(vid.split("_")[1]) % 9 != 4]
    assert static and moving
    # noise floor only on static clips; real motion well above it
    assert max(static) < min(moving)


def test_frame_sample_feeds_image_pipeline(spark, video_df):
    frames = V.frame_sample(video_df, every_s=0.3, max_frames=4)
    out = frames.cache()
    n = out.count()
    assert 0 < n <= (N_CLIPS - N_CORRUPT) * 4
    # provenance columns survive
    r = out.first()
    assert r["image_id"] == f"{r['video_id']}#{r['frame_no']}"
    # sampled frames are real PNGs the image operators accept
    stats = img_ops.decode_stats(out).cache()
    assert stats.filter("NOT ok").count() == 0
    assert stats.count() == n
    feats = img_ops.image_features(out)
    assert len(feats.first()["embedding"]) == img_ops.FEATURE_DIM
    # and decode back to the exact sampled luma frame
    pdf = V.synth_video_pdf(N_CLIPS)
    src = {row.video_id: bytes(row.bytes) for row in pdf.itertuples()}
    arr = decode_png(bytes(r["bytes"]))
    _, fr = V.decode_y4m(src[r["video_id"]])
    assert np.array_equal(arr, fr[r["frame_no"]])
    out.unpersist()


def test_video_features_fixed_dim_deterministic(spark, video_df):
    out1 = {r["video_id"]: r["embedding"]
            for r in V.video_features(video_df).collect()}
    out2 = {r["video_id"]: r["embedding"]
            for r in V.video_features(video_df).collect()}
    assert out1 == out2
    assert all(len(v) == V.FEATURE_DIM for v in out1.values())
    assert len(out1) == N_CLIPS - N_CORRUPT


def test_decode_av_dispatches_video(spark, video_df):
    out = img_ops.decode_av(video_df, kind="video")
    assert out.filter("ok").count() == N_CLIPS - N_CORRUPT
    with pytest.raises(NotImplementedError):
        img_ops.decode_av(video_df, kind="mp4")


def test_zero_fps_header_rejected_at_decode():
    """F0:1 would 'decode' and then ZeroDivisionError in every fps
    consumer outside the quarantine try-blocks (review finding r2) —
    it must raise at the decode boundary instead."""
    good = V.encode_y4m(np.zeros((2, 8, 8), dtype=np.uint8), fps=10)
    bad = good.replace(b"F10:1", b"F0:1", 1)
    with pytest.raises(ValueError):
        V.decode_y4m(bad)


def test_zero_fps_denominator_rejected_at_decode():
    """F10:0 divided by zero inside the header parse; the media kernel
    quarantines only ValueError, so it must raise that instead."""
    good = V.encode_y4m(np.zeros((2, 8, 8), dtype=np.uint8), fps=10)
    with pytest.raises(ValueError, match="zero denominator"):
        V.decode_y4m(good.replace(b"F10:1", b"F10:0", 1))
