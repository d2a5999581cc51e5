"""WebP container probe: header parses across all three variants,
animation counting, the validating decode stub, quarantine, and the
operator face."""

import struct

import numpy as np
import pytest

from loc2vec_spark.operators.webp import (decode_webp, parse_webp,
                                          synth_webp_bytes, webp_probe)


def test_lossy_header():
    m = parse_webp(synth_webp_bytes(variant="lossy", w=320, h=240))
    assert (m["variant"], m["w"], m["h"]) == ("lossy", 320, 240)
    assert not m["alpha"] and not m["animated"]
    assert m["n_frames"] == 1


def test_lossless_header_and_alpha_hint():
    m = parse_webp(synth_webp_bytes(variant="lossless", w=1, h=1))
    assert (m["variant"], m["w"], m["h"]) == ("lossless", 1, 1)
    m = parse_webp(synth_webp_bytes(variant="lossless", w=16383,
                                    h=16383, alpha=True))
    assert (m["w"], m["h"], m["alpha"]) == (16383, 16383, True)


def test_extended_animation_frames():
    m = parse_webp(synth_webp_bytes(variant="extended", w=800, h=600,
                                    alpha=True, n_frames=7))
    assert (m["variant"], m["w"], m["h"]) == ("extended", 800, 600)
    assert m["alpha"] and m["animated"] and m["n_frames"] == 7
    # extended without animation still carries its VP8 payload chunk
    m = parse_webp(synth_webp_bytes(variant="extended", w=8, h=8))
    assert not m["animated"] and "VP8 " in m["chunks"]


def test_decode_stub_names_the_missing_piece():
    good = synth_webp_bytes()
    with pytest.raises(NotImplementedError, match="bitstream decoder"):
        decode_webp(good)
    # the stub validates FIRST: corrupt input is quarantine, never
    # "valid-but-undecodable"
    with pytest.raises(ValueError):
        decode_webp(good[:16])


def test_corrupt_containers_quarantine():
    good = synth_webp_bytes()
    cases = [
        b"",
        b"RIFF" + b"\x00" * 20,                      # not WEBP
        good[:11],                                    # truncated header
        good[:20],                                    # mid-chunk cut
        good[:12],                                    # no payload chunk
    ]
    for bad in cases:
        with pytest.raises(ValueError):
            parse_webp(bad)
    # interframe-first VP8 payload is not a valid still
    inter = bytearray(good)
    at = good.index(b"VP8 ") + 8
    inter[at] |= 1
    with pytest.raises(ValueError, match="interframe"):
        parse_webp(bytes(inter))
    # bad start code
    sc = bytearray(good)
    sc[at + 3] = 0x00
    with pytest.raises(ValueError, match="start code"):
        parse_webp(bytes(sc))


def test_webp_probe_operator(spark):
    rows = [
        ("still", bytearray(synth_webp_bytes(w=100, h=50))),
        ("anim", bytearray(synth_webp_bytes(variant="extended", w=10,
                                            h=10, n_frames=3))),
        ("bad", bytearray(b"RIFFxxxxWEBPgarbage")),
    ]
    df = spark.createDataFrame(rows, "image_id STRING, bytes BINARY")
    out = {r["image_id"]: r for r in webp_probe(df).collect()}
    assert out["still"]["ok"] and (out["still"]["w"],
                                   out["still"]["h"]) == (100, 50)
    assert out["anim"]["animated"] and out["anim"]["n_frames"] == 3
    assert not out["bad"]["ok"]


def test_webp_quarantines_from_decode_stats(spark):
    """Through decode_image's sniff a WebP row lands ok=false (the
    named stub raises NotImplementedError, which the media kernel
    quarantines like the codec ValueError), never a crash."""
    from loc2vec_spark.operators.images import decode_stats
    rows = [("w0", bytearray(synth_webp_bytes()))]
    df = spark.createDataFrame(rows, "image_id STRING, bytes BINARY")
    out = decode_stats(df).collect()
    assert len(out) == 1 and not out[0]["ok"]


def test_fuzz_webp_probe_contract():
    import tests.test_fuzz_media as F
    for seed, make in [
        (97, lambda: synth_webp_bytes()),
        (98, lambda: synth_webp_bytes(variant="lossless", w=33, h=7)),
        (99, lambda: synth_webp_bytes(variant="extended", n_frames=2)),
    ]:
        for blob in F._mutations(make(), seed):
            try:
                parse_webp(blob)
            except ValueError:
                pass
