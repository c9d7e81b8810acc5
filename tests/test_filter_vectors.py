"""The reference's filter/crypto regression vectors
(tests/test_pdfminer_crypto.py there) asserted against our
implementations — ascii85/hex edge forms, RC4, LZW, RLE, AES unpadding
including false-padding robustness."""

import base64
import binascii
import random

import pytest

from pdfminer_six_spark.core.crypto import _unpad_aes, rc4
from pdfminer_six_spark.core.filters import (
    _a85_fast,
    ascii85decode,
    asciihexdecode,
    lzwdecode,
    rldecode,
)


def test_ascii85():
    assert ascii85decode(b"9jqo^BlbD-BleB1DJ+*+F(f,q") == b"Man is distinguished"
    assert ascii85decode(b"E,9)oF*2M7/c~>") == b"pleasure."
    assert ascii85decode(b"zE,9)oF*2M7/c~>") == b"\0\0\0\0pleasure."
    assert ascii85decode(b"E,9)oF*2M7/c") == b"pleasure."
    assert ascii85decode(b"E,9)oF*2M7/c~") == b"pleasure."
    assert ascii85decode(b"<~E,9)oF*2M7/c~") == b"pleasure."
    assert ascii85decode(b"<~E,9)oF*2M7/c~\n>") == b"pleasure."
    assert (
        ascii85decode(b"<^BVT:K:=9<E)pd;BS_1:/aSV;ag~>") == b"VARIOUS UTTER NONSENSE"
    )
    assert (
        ascii85decode(b"<~<^BVT:K:=9<E)pd;BS_1:/aSV;ag~>")
        == b"VARIOUS UTTER NONSENSE"
    )
    assert (
        ascii85decode(b"<^BVT:K:=9<E)pd;BS_1:/aSV;ag~") == b"VARIOUS UTTER NONSENSE"
    )


def _a85_vectors():
    """pytest params (framed stream, stripped body, takes the fast path).
    Every body is long enough (>= 512 bytes) for ``ascii85decode`` to try
    the vectorized decode."""
    rng = random.Random(85)

    def payload(n_bytes, zero_runs=0):
        data = b"".join(
            rng.randbytes(4 * rng.randint(1, 40)) + b"\0" * 4 * rng.randint(1, 6)
            for _ in range(zero_runs)
        )
        return data + rng.randbytes(n_bytes)

    def spaced(body):
        out = bytearray()
        for c in body:
            if rng.random() < 0.08:
                out += rng.choice([b" ", b"\n", b"\r\n", b"\t", b"\x0b"])
            out.append(c)
        return bytes(out)

    vecs = []

    def add(name, body, fast, framed=None):
        vecs.append(pytest.param(framed or body, body, fast, id=name))

    for tail in (1, 2, 3, 4):  # bytes in the last 4-byte group
        add(f"tail{tail}", base64.a85encode(payload(600 + tail)), True)
        body = base64.a85encode(payload(400 + tail, zero_runs=8))
        assert b"z" in body
        add(f"z_runs_tail{tail}", body, True)
    body = spaced(base64.a85encode(payload(700, zero_runs=5)))
    add("whitespace", body, True)
    add("framed", body, True, b"<~" + body + b"~>")
    add("framed_spaced", body, True, b" <~\n" + body + b"\n~ >\n")
    add("framed_open_tail", body, True, b"<~" + body + b"~")
    wrapped = base64.a85encode(payload(650), wrapcol=72)
    add("wrapcol", wrapped, True, b"<~" + wrapped + b"~>")

    # inputs only stdlib can judge: the fast path must decline them
    plain = base64.a85encode(payload(800))
    add("mid_group_z", plain[:302] + b"z" + plain[302:], False)
    add("one_char_tail", plain + b"!", False)
    for bad in (b"{", b"v", b"~", b"\x00"):
        add(f"invalid_{bad!r}", plain[:300] + bad + plain[300:], False)
    for big in (b"uuuuu", b's8W-"'):  # 85**5 - 1 and 2**32
        add(f"overflow_{big.decode()}", plain[:100] + big + plain[100:], False)
    add("max_group", plain[:100] + b"s8W-!" + plain[100:], True)  # 2**32 - 1
    return vecs


@pytest.mark.parametrize("framed,body,fast", _a85_vectors())
def test_ascii85_fast_path_matches_stdlib(framed, body, fast):
    """The vectorized decode gives stdlib's bytes, and each input it
    declines falls back to stdlib's exact exception."""
    assert len(body) >= 512
    assert (_a85_fast(body) is not None) == fast
    try:
        want = base64.a85decode(body)
    except Exception as e:
        with pytest.raises(type(e)) as got:
            ascii85decode(framed)
        assert str(got.value) == str(e)
    else:
        assert ascii85decode(framed) == want


def test_asciihex():
    assert asciihexdecode(b"61 62 2e6364   65") == b"ab.cde"
    assert asciihexdecode(b"61 62 2e6364   657>") == b"ab.cdep"
    assert asciihexdecode(b"7>") == b"p"


def test_rc4():
    assert binascii.hexlify(rc4(b"Key", b"Plaintext")) == b"bbf316e8d940af0ad3"
    assert binascii.hexlify(rc4(b"Wiki", b"pedia")) == b"1021bf0420"
    assert (
        binascii.hexlify(rc4(b"Secret", b"Attack at dawn"))
        == b"45a01f645fc35b383552544b9bf5"
    )


def test_lzw():
    assert (
        lzwdecode(b"\x80\x0b\x60\x50\x22\x0c\x0c\x85\x01")
        == b"\x2d\x2d\x2d\x2d\x2d\x41\x2d\x2d\x2d\x42"
    )


def test_rle():
    assert rldecode(b"\x05123456\xfa7\x04abcde\x80junk") == b"1234567777777abcde"


def test_unpad_aes():
    assert _unpad_aes(b"\x10" * 16) == b""
    assert _unpad_aes(b"0123456789abcdef" + b"\x10" * 16) == b"0123456789abcdef"
    assert _unpad_aes(b"0123456789abc\x03\x03\x03") == b"0123456789abc"
    assert (
        _unpad_aes(b"0123456789abcdef0123456789abc\x03\x03\x03")
        == b"0123456789abcdef0123456789abc"
    )
    assert _unpad_aes(b"foo\x01bar\x01bazquux\x01") == b"foo\x01bar\x01bazquux"
    # robust to false padding bytes (not valid pad runs)
    assert _unpad_aes(b"0123456789abc\x02\x03\x04") == b"0123456789abc\x02\x03\x04"
    assert _unpad_aes(b"0123456789abc\x05\x05\x05") == b"0123456789abc\x05\x05\x05"
