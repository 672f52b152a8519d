"""Byte-level parity pins for the JPEG codecs.

Every encoder's output bytes, every decoder's output array and the
multimodal router's feature dict are pinned by sha256 (first 16 hex
digits) over fixed seeded inputs: gray and 4:4:4 / 4:2:2 / 4:2:0 colour,
restart interval 0 and 3, sizes 1x1 to 64x48, progressive gray and
colour (both DC scan layouts), arithmetic gray and colour (default and
non-default DAC conditioning, with restarts), APP14 transform=0 streams
and streams padded with 0xFF fill bytes before every marker. A refactor
of the shared pipeline stages must leave every digest unchanged.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from mergermetrics_lakehouse_pipeline_spark.operators.jpeg import (
    jpeg_color_decode,
    jpeg_color_encode,
    jpeg_gray_decode,
    jpeg_gray_encode,
)
from mergermetrics_lakehouse_pipeline_spark.operators.jpeg_arith import (
    jpeg_arith_decode,
    jpeg_color_encode_arith,
    jpeg_gray_encode_arith,
)
from mergermetrics_lakehouse_pipeline_spark.operators.jpeg_progressive import (
    jpeg_progressive_decode,
    jpeg_progressive_encode,
)
from mergermetrics_lakehouse_pipeline_spark.operators.multimodal import (
    _decode_jpeg,
)

SIZES = [(1, 1), (7, 9), (17, 33), (64, 48)]
SUBS = ["444", "422", "420"]


def _image(h: int, w: int, color: bool) -> np.ndarray:
    """A ramp plus seeded noise: smooth enough for long zero runs, noisy
    enough for large AC magnitudes and stuffed 0xFF bytes."""
    rng = np.random.default_rng(h * 1000 + w * 10 + color)
    shape = (h, w, 3) if color else (h, w)
    ramp = 3 * np.arange(w)[None, :] + 5 * np.arange(h)[:, None]
    if color:
        ramp = ramp[..., None] + np.array([0, 60, 120])
    return ((ramp + rng.integers(0, 96, size=shape)) % 256).astype(np.uint8)


def _app14(payload: bytes, transform: int) -> bytes:
    body = b"Adobe\x00\x64\x00\x00\x00\x00" + bytes([transform])
    return payload[:2] + struct.pack(">HH", 0xFFEE, len(body) + 2) + body + payload[2:]


def _fill_padded(payload: bytes) -> bytes:
    """Insert two 0xFF fill bytes (T.81 B.1.1.2) before every marker
    segment between SOI and EOI; entropy data (and the RSTn markers
    inside it) is copied as is."""
    out = bytearray(payload[:2])
    pos = 2
    while pos < len(payload):
        marker = payload[pos + 1]
        if marker == 0xD9:
            out += payload[pos:]
            break
        out += b"\xff\xff" + payload[pos:pos + 2]
        (length,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        out += payload[pos + 2:pos + 2 + length]
        pos += 2 + length
        if marker == 0xDA:
            end = pos
            while not (
                payload[end] == 0xFF
                and payload[end + 1] != 0x00
                and not 0xD0 <= payload[end + 1] <= 0xD7
            ):
                end += 1
            out += payload[pos:end]
            pos = end
    return bytes(out)


def _h(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()[:16]


def _cases() -> dict[str, tuple]:
    """case id -> (encode thunk, decoder)."""
    cases: dict[str, tuple] = {}
    for h, w in SIZES:
        for ri in (0, 3):
            g = _image(h, w, False)
            cases[f"gray-{h}x{w}-ri{ri}"] = (
                lambda g=g, ri=ri: jpeg_gray_encode(g, restart_interval=ri),
                jpeg_gray_decode,
            )
            for sub in SUBS:
                c = _image(h, w, True)
                cases[f"color-{sub}-{h}x{w}-ri{ri}"] = (
                    lambda c=c, sub=sub, ri=ri: jpeg_color_encode(
                        c, sub, restart_interval=ri
                    ),
                    jpeg_color_decode,
                )
        for dc in ("interleaved", "per-component"):
            g = _image(h, w, False)
            cases[f"prog-gray-{h}x{w}-{dc}"] = (
                lambda g=g, dc=dc: jpeg_progressive_encode(g, dc_scans=dc),
                jpeg_progressive_decode,
            )
            for sub in SUBS:
                c = _image(h, w, True)
                cases[f"prog-{sub}-{h}x{w}-{dc}"] = (
                    lambda c=c, sub=sub, dc=dc: jpeg_progressive_encode(
                        c, sub, dc_scans=dc
                    ),
                    jpeg_progressive_decode,
                )
        g = _image(h, w, False)
        cases[f"arith-gray-{h}x{w}"] = (
            lambda g=g: jpeg_gray_encode_arith(g),
            jpeg_arith_decode,
        )
        cases[f"arith-gray-{h}x{w}-dac-ri3"] = (
            lambda g=g: jpeg_gray_encode_arith(
                g, dc_l=1, dc_u=3, kx=20, restart_interval=3
            ),
            jpeg_arith_decode,
        )
        for ri in (0, 3):
            for sub in SUBS:
                c = _image(h, w, True)
                cases[f"arith-{sub}-{h}x{w}-ri{ri}"] = (
                    lambda c=c, sub=sub, ri=ri: jpeg_color_encode_arith(
                        c, sub, restart_interval=ri
                    ),
                    jpeg_arith_decode,
                )
    c = _image(17, 33, True)
    g = _image(17, 33, False)
    for sub in ("444", "420"):
        cases[f"app14-rgb-{sub}"] = (
            lambda sub=sub: _app14(jpeg_color_encode(c, sub), 0),
            jpeg_color_decode,
        )
    cases["app14-rgb-prog"] = (
        lambda: _app14(jpeg_progressive_encode(c, "422"), 0),
        jpeg_progressive_decode,
    )
    cases["app14-rgb-arith"] = (
        lambda: _app14(jpeg_color_encode_arith(c, "420", restart_interval=3), 0),
        jpeg_arith_decode,
    )
    cases["fill-gray-ri3"] = (
        lambda: _fill_padded(jpeg_gray_encode(g, restart_interval=3)),
        jpeg_gray_decode,
    )
    cases["fill-color-420-ri3"] = (
        lambda: _fill_padded(jpeg_color_encode(c, "420", restart_interval=3)),
        jpeg_color_decode,
    )
    cases["fill-prog-422"] = (
        lambda: _fill_padded(jpeg_progressive_encode(c, "422")),
        jpeg_progressive_decode,
    )
    cases["fill-arith-gray-ri3"] = (
        lambda: _fill_padded(jpeg_gray_encode_arith(g, restart_interval=3)),
        jpeg_arith_decode,
    )
    return cases


CASES = _cases()


def _digests(case: str) -> str:
    encode, decode = CASES[case]
    payload = encode()
    w, h, arr = decode(payload)
    arr = np.ascontiguousarray(arr)
    decoded = f"{w}x{h}:{arr.shape}:{arr.dtype}:".encode() + arr.tobytes()
    routed = repr(sorted(_decode_jpeg(payload).items())).encode()
    return ":".join((_h(payload), _h(decoded), _h(routed)))


#: encoded bytes : decoded array : router features, per case
PINNED = {
    "app14-rgb-420": "b06b025d67fc899a:e280f5961a12afea:14038aa29fc5fe61",
    "app14-rgb-444": "67e0d9cbd6225e48:a68b44396c716993:836e803b730a3dc9",
    "app14-rgb-arith": "6b26282797e13701:e280f5961a12afea:14038aa29fc5fe61",
    "app14-rgb-prog": "8a62aa700e2780d6:b78c7185b2582928:42be15941ac818b6",
    "arith-420-17x33-ri0": "7c0c2628b3bb132c:6b6d730cb643203d:de6e6c63507dcb61",
    "arith-420-17x33-ri3": "ddacb2f01a7a9142:6b6d730cb643203d:de6e6c63507dcb61",
    "arith-420-1x1-ri0": "87d85b1cb7664256:07e9b754154bb55d:e9c11f3e1d45a22b",
    "arith-420-1x1-ri3": "5cea1de54e7670fd:07e9b754154bb55d:e9c11f3e1d45a22b",
    "arith-420-64x48-ri0": "fd36411506be471f:2e15462249aab0fb:e14cf476904fbefd",
    "arith-420-64x48-ri3": "43650f276e4ba93d:2e15462249aab0fb:e14cf476904fbefd",
    "arith-420-7x9-ri0": "dcdaf4d23f6a95bd:eec1f9283ff61087:a93f20e0992dc334",
    "arith-420-7x9-ri3": "a4d85a14971b2531:eec1f9283ff61087:a93f20e0992dc334",
    "arith-422-17x33-ri0": "df152541d68c1c74:e7878e59fe50df58:75a8d1f7e4e47c59",
    "arith-422-17x33-ri3": "097f2d4ed8c12335:e7878e59fe50df58:75a8d1f7e4e47c59",
    "arith-422-1x1-ri0": "5f1356526a3ce21d:07e9b754154bb55d:e9c11f3e1d45a22b",
    "arith-422-1x1-ri3": "434327c2059676c7:07e9b754154bb55d:e9c11f3e1d45a22b",
    "arith-422-64x48-ri0": "0ed1ee2d90ac6089:d2923a80a99dda30:81cbf0532a6f6e08",
    "arith-422-64x48-ri3": "0379adf14c45ef52:d2923a80a99dda30:81cbf0532a6f6e08",
    "arith-422-7x9-ri0": "631131f88dd91550:02cd91fa08dd536e:d5c6c62728c72887",
    "arith-422-7x9-ri3": "6dc7d4ebedf2d49e:02cd91fa08dd536e:d5c6c62728c72887",
    "arith-444-17x33-ri0": "6f21862799062092:5c826e4f4a4ef210:2da0c99a29050332",
    "arith-444-17x33-ri3": "9abd3a953a43702a:5c826e4f4a4ef210:2da0c99a29050332",
    "arith-444-1x1-ri0": "01954d02d96b2893:07e9b754154bb55d:e9c11f3e1d45a22b",
    "arith-444-1x1-ri3": "281b96fe35c287ef:07e9b754154bb55d:e9c11f3e1d45a22b",
    "arith-444-64x48-ri0": "ceaf28de837ff017:65ecb895375b00dc:3ab213b14f3d669e",
    "arith-444-64x48-ri3": "c03c1b5365a738a2:65ecb895375b00dc:3ab213b14f3d669e",
    "arith-444-7x9-ri0": "2299f3cd114cfac2:00a925ac597f992b:55fbc62f7cd6a9ea",
    "arith-444-7x9-ri3": "db2a9cec5c42bced:00a925ac597f992b:55fbc62f7cd6a9ea",
    "arith-gray-17x33": "0fabce9802939a6c:5b5bcb136486f7e0:b10db7a44c179ac7",
    "arith-gray-17x33-dac-ri3": "8659394a26d9bd65:5b5bcb136486f7e0:b10db7a44c179ac7",
    "arith-gray-1x1": "5e8f6a82706ec378:b00a289d69de1175:1ca235c94c041803",
    "arith-gray-1x1-dac-ri3": "befbd4781cc7a3dd:b00a289d69de1175:1ca235c94c041803",
    "arith-gray-64x48": "b38b34b4ca7d940d:f6d7ebb0a5b126df:f3fadb72e6a230c6",
    "arith-gray-64x48-dac-ri3": "0249590743b72d75:f6d7ebb0a5b126df:f3fadb72e6a230c6",
    "arith-gray-7x9": "44e4b0dd9e11eb76:3f44f1c1da97246a:46cfc2e30d83b094",
    "arith-gray-7x9-dac-ri3": "6b4fbec7f2216c85:3f44f1c1da97246a:46cfc2e30d83b094",
    "color-420-17x33-ri0": "55bdedacb098c8be:6b6d730cb643203d:de6e6c63507dcb61",
    "color-420-17x33-ri3": "54422a2923b97ea2:6b6d730cb643203d:de6e6c63507dcb61",
    "color-420-1x1-ri0": "e7fe6ab9204801ff:07e9b754154bb55d:e9c11f3e1d45a22b",
    "color-420-1x1-ri3": "332ffe1030a89dcd:07e9b754154bb55d:e9c11f3e1d45a22b",
    "color-420-64x48-ri0": "8d79ec2baba2e767:2e15462249aab0fb:e14cf476904fbefd",
    "color-420-64x48-ri3": "00f488df68f3d5d6:2e15462249aab0fb:e14cf476904fbefd",
    "color-420-7x9-ri0": "c1fb3937e56071d4:eec1f9283ff61087:a93f20e0992dc334",
    "color-420-7x9-ri3": "d8c93e4c8adbc97c:eec1f9283ff61087:a93f20e0992dc334",
    "color-422-17x33-ri0": "527975a8118bd512:e7878e59fe50df58:75a8d1f7e4e47c59",
    "color-422-17x33-ri3": "8caf24f10060b9f9:e7878e59fe50df58:75a8d1f7e4e47c59",
    "color-422-1x1-ri0": "c46a68bcada4e89b:07e9b754154bb55d:e9c11f3e1d45a22b",
    "color-422-1x1-ri3": "a1e0a2c750529d6c:07e9b754154bb55d:e9c11f3e1d45a22b",
    "color-422-64x48-ri0": "3f6cd06881b89d95:d2923a80a99dda30:81cbf0532a6f6e08",
    "color-422-64x48-ri3": "02b61b70c9d2be2d:d2923a80a99dda30:81cbf0532a6f6e08",
    "color-422-7x9-ri0": "f05306ee4ffa98dd:02cd91fa08dd536e:d5c6c62728c72887",
    "color-422-7x9-ri3": "b9a1a59092268795:02cd91fa08dd536e:d5c6c62728c72887",
    "color-444-17x33-ri0": "ceca6e2dcc7b7c29:5c826e4f4a4ef210:2da0c99a29050332",
    "color-444-17x33-ri3": "bebeb1928598dc44:5c826e4f4a4ef210:2da0c99a29050332",
    "color-444-1x1-ri0": "8ae3924232698ddf:07e9b754154bb55d:e9c11f3e1d45a22b",
    "color-444-1x1-ri3": "d204a71dce1c31b4:07e9b754154bb55d:e9c11f3e1d45a22b",
    "color-444-64x48-ri0": "ecad159e8018b28e:65ecb895375b00dc:3ab213b14f3d669e",
    "color-444-64x48-ri3": "8ad9d87285d84be8:65ecb895375b00dc:3ab213b14f3d669e",
    "color-444-7x9-ri0": "03d1f49b539c7f90:00a925ac597f992b:55fbc62f7cd6a9ea",
    "color-444-7x9-ri3": "c5ff54f6e699a611:00a925ac597f992b:55fbc62f7cd6a9ea",
    "fill-arith-gray-ri3": "e4d0ee1f74179664:5b5bcb136486f7e0:b10db7a44c179ac7",
    "fill-color-420-ri3": "6eae312f1c525ad9:6b6d730cb643203d:de6e6c63507dcb61",
    "fill-gray-ri3": "9941e5c31dea46eb:5b5bcb136486f7e0:b10db7a44c179ac7",
    "fill-prog-422": "8b888798e54befe5:e7878e59fe50df58:75a8d1f7e4e47c59",
    "gray-17x33-ri0": "4d68958d660e2dec:5b5bcb136486f7e0:b10db7a44c179ac7",
    "gray-17x33-ri3": "1997f0666ecd7fcc:5b5bcb136486f7e0:b10db7a44c179ac7",
    "gray-1x1-ri0": "8e4bd7743155468d:b00a289d69de1175:1ca235c94c041803",
    "gray-1x1-ri3": "555f1aeab57b53ab:b00a289d69de1175:1ca235c94c041803",
    "gray-64x48-ri0": "c0fd7ab721352532:f6d7ebb0a5b126df:f3fadb72e6a230c6",
    "gray-64x48-ri3": "a30fb2a4a93a79f8:f6d7ebb0a5b126df:f3fadb72e6a230c6",
    "gray-7x9-ri0": "c995228a80a742e5:3f44f1c1da97246a:46cfc2e30d83b094",
    "gray-7x9-ri3": "16a3533a7727c0f4:3f44f1c1da97246a:46cfc2e30d83b094",
    "prog-420-17x33-interleaved": "dd181eab348cfa41:6b6d730cb643203d:de6e6c63507dcb61",
    "prog-420-17x33-per-component": "53bb2e13075e31b6:6b6d730cb643203d:de6e6c63507dcb61",
    "prog-420-1x1-interleaved": "76c72941a564b3fc:07e9b754154bb55d:e9c11f3e1d45a22b",
    "prog-420-1x1-per-component": "9ccdda9c3fee85c4:07e9b754154bb55d:e9c11f3e1d45a22b",
    "prog-420-64x48-interleaved": "185acabe9d1f4112:2e15462249aab0fb:e14cf476904fbefd",
    "prog-420-64x48-per-component": "8f0ab4b282a95f73:2e15462249aab0fb:e14cf476904fbefd",
    "prog-420-7x9-interleaved": "abb7dba8808e1163:eec1f9283ff61087:a93f20e0992dc334",
    "prog-420-7x9-per-component": "8ea8515c3027a542:eec1f9283ff61087:a93f20e0992dc334",
    "prog-422-17x33-interleaved": "164605cfaa155dba:e7878e59fe50df58:75a8d1f7e4e47c59",
    "prog-422-17x33-per-component": "e5bbabd6a8502227:e7878e59fe50df58:75a8d1f7e4e47c59",
    "prog-422-1x1-interleaved": "8f9981c36724e62e:07e9b754154bb55d:e9c11f3e1d45a22b",
    "prog-422-1x1-per-component": "69d2f82176f8ad5a:07e9b754154bb55d:e9c11f3e1d45a22b",
    "prog-422-64x48-interleaved": "dc2e53539794674a:d2923a80a99dda30:81cbf0532a6f6e08",
    "prog-422-64x48-per-component": "f6bc57687488f14a:d2923a80a99dda30:81cbf0532a6f6e08",
    "prog-422-7x9-interleaved": "5a3be1c3bceda8a8:02cd91fa08dd536e:d5c6c62728c72887",
    "prog-422-7x9-per-component": "8e82b5150ce5cb4c:02cd91fa08dd536e:d5c6c62728c72887",
    "prog-444-17x33-interleaved": "0d3e7d9edbb1a13f:5c826e4f4a4ef210:2da0c99a29050332",
    "prog-444-17x33-per-component": "345ba307d6266c20:5c826e4f4a4ef210:2da0c99a29050332",
    "prog-444-1x1-interleaved": "da86cf489924d9b2:07e9b754154bb55d:e9c11f3e1d45a22b",
    "prog-444-1x1-per-component": "6851b8efe21c9402:07e9b754154bb55d:e9c11f3e1d45a22b",
    "prog-444-64x48-interleaved": "edb14f00e1ce8932:65ecb895375b00dc:3ab213b14f3d669e",
    "prog-444-64x48-per-component": "6a630dee27fd7cd9:65ecb895375b00dc:3ab213b14f3d669e",
    "prog-444-7x9-interleaved": "25a3b818c7080d21:00a925ac597f992b:55fbc62f7cd6a9ea",
    "prog-444-7x9-per-component": "9132bb4797345c12:00a925ac597f992b:55fbc62f7cd6a9ea",
    "prog-gray-17x33-interleaved": "83aa1532b162482f:5b5bcb136486f7e0:b10db7a44c179ac7",
    "prog-gray-17x33-per-component": "83aa1532b162482f:5b5bcb136486f7e0:b10db7a44c179ac7",
    "prog-gray-1x1-interleaved": "685e1dedce82004c:b00a289d69de1175:1ca235c94c041803",
    "prog-gray-1x1-per-component": "685e1dedce82004c:b00a289d69de1175:1ca235c94c041803",
    "prog-gray-64x48-interleaved": "5804120ead8e9846:f6d7ebb0a5b126df:f3fadb72e6a230c6",
    "prog-gray-64x48-per-component": "5804120ead8e9846:f6d7ebb0a5b126df:f3fadb72e6a230c6",
    "prog-gray-7x9-interleaved": "fe63484ebae31903:3f44f1c1da97246a:46cfc2e30d83b094",
    "prog-gray-7x9-per-component": "fe63484ebae31903:3f44f1c1da97246a:46cfc2e30d83b094",
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_jpeg_parity(case):
    assert _digests(case) == PINNED[case]

