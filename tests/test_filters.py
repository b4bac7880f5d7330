"""Beyond-reference filter extensions: ASCII85Decode, RunLengthDecode,
FlateDecode PNG/TIFF predictors (/DecodeParms).

The reference rejects all of these (filtering.rs:50-53) and no reference
fixture uses them, so support cannot break byte-identity; these vectors
pin the extension semantics (PDF 32000-1 7.4.2-7.4.5)."""

import zlib

import pytest

from livre_spark.pdf.errors import ParseError
from livre_spark.pdf.filters import (
    apply_predictor, ascii85_decode, ascii85_encode, decode_chain,
    png_predict_encode, runlength_decode, runlength_encode,
)
from livre_spark.pdf.objects import parse_stream


# -- ASCII85 ---------------------------------------------------------------

@pytest.mark.parametrize("raw, expected", [
    (b"ARTY*~>", b"easy"),                      # full + partial group
    (b"F*2M7+C\\bgGl~>", b"sure baby"),
    (b"z~>", b"\x00\x00\x00\x00"),              # z shortcut
    (b"zz~>", b"\x00" * 8),
    (b"AR TY\n*~>junk-after-eod", b"easy"),     # ws skipped, EOD stops
    (b"s8W-!~>", b"\xff\xff\xff\xff"),          # exactly 2^32-1
    (b"", b""),
    (b"~>", b""),
])
def test_ascii85_decode(raw, expected):
    assert ascii85_decode(raw) == expected


@pytest.mark.parametrize("payload", [
    b"", b"a", b"ab", b"abc", b"abcd", b"abcde",
    b"\x00\x00\x00\x00", b"\xff\xff\xff\xff", bytes(range(256)) * 3,
])
def test_ascii85_roundtrip(payload):
    import base64
    enc = ascii85_encode(payload)
    assert ascii85_decode(enc) == payload
    # stdlib oracle: same wire format (adobe framing)
    assert base64.a85decode(enc, adobe=True) == payload
    assert ascii85_decode(base64.a85encode(payload) + b"~>") == payload


@pytest.mark.parametrize("raw", [
    b"v~>",        # out-of-range char
    b"a~>",        # 1-char final group
    b"uuuuu~>",    # group value > 2^32-1
    b"zaz~>",      # 'z' inside a group
])
def test_ascii85_errors(raw):
    with pytest.raises(ParseError):
        ascii85_decode(raw)


# -- RunLength -------------------------------------------------------------

@pytest.mark.parametrize("raw, expected", [
    (b"\x02abc\x80", b"abc"),                 # literal run
    (b"\xfeX\x80", b"XXX"),                   # 257-254=3 repeats
    (b"\x00a\xffb\x80", b"a" + b"b" * 2),     # mixed
    (b"\x80", b""),
    (b"\x80trailing-ignored", b""),
])
def test_runlength_decode(raw, expected):
    assert runlength_decode(raw) == expected


@pytest.mark.parametrize("payload", [b"", b"x", b"hello world" * 40])
def test_runlength_roundtrip(payload):
    assert runlength_decode(runlength_encode(payload)) == payload


@pytest.mark.parametrize("raw", [b"\x05ab", b"\xfe"])
def test_runlength_truncated(raw):
    with pytest.raises(ParseError):
        runlength_decode(raw)


# -- LZW ---------------------------------------------------------------------

def test_lzw_spec_example():
    """PDF 32000-1 7.4.4.2 Example 2: the published encoded bytes for the
    decimal input 45 45 45 45 45 65 45 45 45 66."""
    from livre_spark.pdf.filters import lzw_decode, lzw_encode

    raw = bytes([45, 45, 45, 45, 45, 65, 45, 45, 45, 66])
    enc = bytes.fromhex("800B6050220C0C8501")
    assert lzw_decode(enc) == raw
    assert lzw_encode(raw) == enc  # same code sequence + packing


@pytest.mark.parametrize("payload", [
    b"", b"x", b"aaaaaaa", b"to be or not to be " * 7,
    bytes(range(256)) * 2,
    # crosses the 511 and 1023 width boundaries (many distinct bigrams)
    bytes((i * 7 + (i >> 3)) & 0xFF for i in range(6000)),
    # crosses 2047 -> 12 bits and the 4093 table-full clear
    bytes(((i * 131) ^ (i >> 2)) & 0xFF for i in range(60000)),
])
def test_lzw_roundtrip(payload):
    from livre_spark.pdf.filters import lzw_decode, lzw_encode

    assert lzw_decode(lzw_encode(payload)) == payload


def test_lzw_early_change_zero():
    from livre_spark.pdf.filters import lzw_decode, lzw_encode

    payload = bytes((i * 13 + 5) & 0xFF for i in range(4000))
    enc = lzw_encode(payload, early_change=0)
    assert lzw_decode(enc, early_change=0) == payload
    # the two conventions genuinely diverge once the table crosses 511:
    # wrong-width decode either garbles or hits an undefined code
    try:
        assert lzw_decode(enc, early_change=1) != payload
    except ParseError:
        pass


def test_lzw_bad_code():
    from livre_spark.pdf.filters import lzw_decode

    # first code after clear cannot reference an undefined entry
    bits = (256 << 9) | 300  # 9-bit 256, then 9-bit 300 (> table)
    enc = bits.to_bytes(3, "big")  # 18 bits -> needs padding
    with pytest.raises(ParseError):
        lzw_decode((bits << 6).to_bytes(3, "big"))


def test_stream_lzw_with_early_change_parms():
    from livre_spark.pdf.filters import lzw_encode

    data = b"lorem ipsum dolor sit amet " * 40
    payload = lzw_encode(data, early_change=0)
    raw = _stream_bytes(
        payload,
        b"/Filter/LZWDecode/DecodeParms<</EarlyChange 0>>")
    stream, _ = parse_stream(raw, 0)
    assert stream.content == data


# -- predictors ------------------------------------------------------------

@pytest.mark.parametrize("ft", [0, 1, 2, 4])
@pytest.mark.parametrize("columns, colors, bpc", [
    (7, 1, 8), (4, 3, 8), (16, 1, 8), (3, 2, 8),
])
def test_png_predictor_roundtrip(ft, columns, colors, bpc):
    row_len = (colors * bpc * columns + 7) // 8
    data = bytes((i * 37 + 11) & 0xFF for i in range(row_len * 5))
    enc = png_predict_encode(data, columns=columns, colors=colors,
                             bpc=bpc, filter_type=ft)
    assert apply_predictor(enc, 10 + ft, colors=colors, bpc=bpc,
                           columns=columns) == data


def test_png_average_filter():
    # hand vector: columns=2, rows encoded with Average (type 3)
    # row1 raw [10, 20]: avg pred (0+0)/2=0 -> 10; (10+0)/2=5 -> 15
    # row2 raw [30, 40]: (0+10)/2=5 -> 25; (30+20)/2=25 -> 15
    enc = bytes([3, 10, 15, 3, 25, 15])
    assert apply_predictor(enc, 12, columns=2) == bytes([10, 20, 30, 40])


def test_tiff_predictor():
    # horizontal differencing, colors=1: cumulative sums per row
    data = bytes([1, 1, 1, 1]) + bytes([5, 250, 10, 0])
    out = apply_predictor(data, 2, colors=1, bpc=8, columns=4)
    assert out == bytes([1, 2, 3, 4]) + bytes([5, 255, 9, 9])


@pytest.mark.parametrize("predictor", [3, 9])
def test_unknown_predictor_rejected(predictor):
    with pytest.raises(ParseError):
        apply_predictor(b"\x00\x00", predictor, columns=1)


def test_png_bad_filter_type_rejected():
    with pytest.raises(ParseError):
        apply_predictor(bytes([7, 1, 2]), 12, columns=2)


def test_png_truncated_row_rejected():
    with pytest.raises(ParseError):
        apply_predictor(bytes([0, 1]), 12, columns=4)


# -- DecodeParms through the stream parser ----------------------------------

def _stream_bytes(payload: bytes, dict_extra: bytes) -> bytes:
    return (b"<</Length " + str(len(payload)).encode() + dict_extra
            + b">>stream\n" + payload + b"\nendstream")


def test_stream_with_predictor_parms():
    data = bytes(range(64))
    payload = zlib.compress(png_predict_encode(data, columns=8,
                                               filter_type=2))
    raw = _stream_bytes(
        payload,
        b"/Filter/FlateDecode/DecodeParms<</Predictor 12/Columns 8>>")
    stream, _ = parse_stream(raw, 0)
    assert stream.content == data


def test_stream_parms_array_aligned_with_chain():
    data = bytes(range(48))
    inner = zlib.compress(png_predict_encode(data, columns=12,
                                             filter_type=1))
    payload = inner.hex().encode().upper() + b">"
    raw = _stream_bytes(
        payload,
        b"/Filter[/ASCIIHexDecode/FlateDecode]"
        b"/DecodeParms[null <</Predictor 11/Columns 12>>]")
    stream, _ = parse_stream(raw, 0)
    assert stream.content == data


def test_stream_bad_parms_contained():
    # indirect-ref Columns -> contained ParseError, not a crash
    payload = zlib.compress(b"\x00abc")
    raw = _stream_bytes(
        payload,
        b"/Filter/FlateDecode/DecodeParms<</Predictor 12/Columns 3 0 R>>")
    with pytest.raises(ParseError):
        parse_stream(raw, 0)


def test_decode_chain_a85_flate():
    data = b"the quick brown fox" * 9
    enc = ascii85_encode(zlib.compress(data))
    assert decode_chain([b"ASCII85Decode", b"FlateDecode"], enc) == data


def test_decode_chain_runlength():
    data = b"aaaabbbbccccd" * 11
    assert decode_chain([b"RunLengthDecode"], runlength_encode(data)) == data


# -- RC4 / standard security handler ------------------------------------------

def test_rc4_known_vectors():
    """Classic RC4 test vectors (RFC 6229 lineage / original Usenet set)."""
    from livre_spark.pdf.crypt import rc4

    assert rc4(b"Key", b"Plaintext") == bytes.fromhex("bbf316e8d940af0ad3")
    assert rc4(b"Wiki", b"pedia") == bytes.fromhex("1021bf0420")
    assert rc4(b"Secret", b"Attack at dawn") == bytes.fromhex(
        "45a01f645fc35b383552544b9bf5")


def test_object_key_truncation():
    from livre_spark.pdf.crypt import object_key

    # 5-byte file key -> 10-byte object key; 16-byte -> capped at 16
    assert len(object_key(b"\x01" * 5, 7, 0)) == 10
    assert len(object_key(b"\x01" * 16, 7, 0)) == 16


def test_decryptor_roundtrip_and_wrong_password():
    from livre_spark.pdf.crypt import (
        StandardDecryptor, compute_file_key, compute_u, object_key, rc4,
    )

    o = bytes(range(32))
    id0 = b"\xde\xad\xbe\xef"
    for r, bits in ((2, 40), (3, 128)):
        key = compute_file_key(o, -44, id0, r, bits)
        u = compute_u(key, id0, r)
        # U is self-consistent: deriving again matches
        assert compute_u(compute_file_key(o, -44, id0, r, bits), id0, r) == u
        dec = StandardDecryptor(key)
        payload = b"BT /F1 12 Tf (secret) Tj ET" * 3
        enc = rc4(object_key(key, 5, 0), payload)
        assert dec.decrypt(5, 0, enc) == payload
        assert dec.decrypt(6, 0, enc) != payload  # per-object keys differ
        # a non-empty password derives a different file key
        other = compute_file_key(o, -44, id0, r, bits, password=b"hunter2")
        assert other != key


def test_aes_fips197_vector():
    """FIPS-197 Appendix B: the canonical AES-128 block vector."""
    from livre_spark.pdf.crypt import (
        _aes_decrypt_block_fast, _aes_encrypt_block_fast, _expand_key,
        _rk_words, _rk_words_dec,
    )

    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
    rk = _expand_key(key)
    assert _aes_encrypt_block_fast(_rk_words(rk), pt) == ct
    assert _aes_decrypt_block_fast(_rk_words_dec(rk), ct) == pt


def test_aes_cbc_roundtrip_and_padding():
    from livre_spark.pdf.crypt import aes128_cbc_decrypt, aes128_cbc_encrypt
    from livre_spark.pdf.errors import CutError

    key = bytes(range(16))
    iv = bytes(reversed(range(16)))
    for payload in (b"", b"x", b"0123456789abcdef", b"BT (s) Tj ET" * 33):
        enc = aes128_cbc_encrypt(key, iv, payload)
        assert len(enc) % 16 == 0 and enc[:16] == iv
        assert aes128_cbc_decrypt(key, enc) == payload
    with pytest.raises(CutError):
        aes128_cbc_decrypt(key, b"\x00" * 17)  # not block-aligned
    with pytest.raises(CutError):
        aes128_cbc_decrypt(key, b"\x00" * 32)  # garbage padding


def test_aes256_fips197_vector():
    """FIPS-197 Appendix C.3: the canonical AES-256 block vector."""
    from livre_spark.pdf.crypt import (
        _aes_decrypt_block_fast, _aes_encrypt_block_fast, _expand_key,
        _rk_words, _rk_words_dec,
    )

    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f"
                        "101112131415161718191a1b1c1d1e1f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
    rk = _expand_key(key)
    assert _aes_encrypt_block_fast(_rk_words(rk), pt) == ct
    assert _aes_decrypt_block_fast(_rk_words_dec(rk), ct) == pt


def test_r6_key_unwrap_roundtrip():
    from livre_spark.pdf.crypt import (
        _aes_cbc_encrypt_nopad, hash_2b, r6_file_key,
    )
    from livre_spark.pdf.errors import CutError

    file_key = bytes(range(32))
    vsalt, ksalt = b"vsalt678", b"ksalt678"
    u = hash_2b(b"", vsalt) + vsalt + ksalt
    ue = _aes_cbc_encrypt_nopad(hash_2b(b"", ksalt), b"\x00" * 16, file_key)
    assert r6_file_key(u, ue) == file_key
    with pytest.raises(CutError):
        r6_file_key(b"\x00" * 48, ue)  # corrupted hash = wrong password
    # a non-empty password hashes differently
    assert hash_2b(b"hunter2", vsalt) != u[:32]


def test_build_decryptor_unsigned_p():
    """Many writers store /P as the unsigned 32-bit twin of the signed
    permission flags (e.g. 4294967252 for -44); the key derivation must
    mask rather than raise struct.error."""
    from livre_spark.pdf.crypt import (
        build_decryptor, compute_file_key, compute_u,
    )

    id0 = b"\xde\xad\xbe\xef"
    o = bytes(range(32))
    key = compute_file_key(o, -44, id0, 3, 128)
    u = compute_u(key, id0, 3)
    enc = (b"<</Filter/Standard/V 2/R 3/Length 128"
           b"/O <" + o.hex().encode() + b">"
           b"/U <" + u.hex().encode() + b">"
           b"/P 4294967252>>")
    dec = build_decryptor(enc, 0, {}, (id0,))
    assert dec.file_key == key and dec.mode == "rc4"
    # and the two /P spellings derive the SAME key
    assert compute_file_key(o, 4294967252, id0, 3, 128) == key


def test_build_decryptor_cf_length_fallback():
    """V4 permits the key length to live only in /CF /StdCF /Length
    (bytes); without the fallback a 5-byte default key fails /U."""
    from livre_spark.pdf.crypt import (
        build_decryptor, compute_file_key, compute_u,
    )

    id0 = b"\xde\xad\xbe\xef"
    o = bytes(range(32))
    key = compute_file_key(o, -44, id0, 4, 128)
    u = compute_u(key, id0, 4)
    enc = (b"<</Filter/Standard/V 4/R 4"
           b"/CF<</StdCF<</CFM/AESV2/Length 16>>>>/StmF/StdCF"
           b"/O <" + o.hex().encode() + b">"
           b"/U <" + u.hex().encode() + b">"
           b"/P -44>>")
    dec = build_decryptor(enc, 0, {}, (id0,))
    assert dec.mode == "aesv2" and dec.file_key == key


def test_build_decryptor_cf_length_40_means_bits():
    """/CF /StdCF /Length 40 is AMBIGUOUS on its face, but 40 bytes
    (320 bits) is never a valid key length while 40 bits (RC4) is - so
    40 must be read as bits, yielding a 5-byte key."""
    from livre_spark.pdf.crypt import (
        build_decryptor, compute_file_key, compute_u,
    )

    id0 = b"\xde\xad\xbe\xef"
    o = bytes(range(32))
    key = compute_file_key(o, -44, id0, 4, 40)
    assert len(key) == 5
    u = compute_u(key, id0, 4)
    enc = (b"<</Filter/Standard/V 4/R 4"
           b"/CF<</StdCF<</CFM/V2/Length 40>>>>/StmF/StdCF"
           b"/O <" + o.hex().encode() + b">"
           b"/U <" + u.hex().encode() + b">"
           b"/P -44>>")
    dec = build_decryptor(enc, 0, {}, (id0,))
    assert dec.mode == "rc4" and dec.file_key == key


ENCRYPT_SCHEMES = ["rc4-40", "rc4-128", "rc4-128-owner", "aes-128",
                   "aes-256", "aes-256-owner"]


@pytest.mark.parametrize("scheme", ENCRYPT_SCHEMES)
def test_encrypted_extraction_matches_plaintext_twin(scheme):
    """End-to-end: an encrypted fixture extracts BYTE-IDENTICAL text to
    its unencrypted twin, for every supported scheme (RC4 40/128, AES-128
    V4, AES-256 R6) on both the empty-user and empty-owner password
    paths."""
    from livre_spark.pdf.api import extract_text
    from livre_spark.pdf.genpdf import build_pdf

    contents = [b"BT /F1 12 Tf (encrypted page one) Tj ET",
                b"BT /F1 12 Tf (seite zwei) Tj T* (line) Tj ET"]
    plain = extract_text(build_pdf(contents, flate=True))
    enc = extract_text(build_pdf(contents, flate=True, encrypt=scheme))
    assert enc["text"] == plain["text"]
    assert enc["error"] == plain["error"]
    assert enc["n_pages"] == plain["n_pages"]


@pytest.mark.parametrize("scheme", [None] + ENCRYPT_SCHEMES)
def test_info_strings_decrypted(scheme):
    """Document.info() golden: /Info strings come back decrypted and
    decoded (Latin-1 and UTF-16BE paths) for every scheme; the ciphertext
    never leaks.  Extraction defaults stay unchanged - extract_text never
    touches /Info."""
    from livre_spark.pdf.document import open_document
    from livre_spark.pdf.genpdf import build_pdf

    info = {"Title": "Annual Report (final)", "Author": "Anaïs",
            "Subject": "日本語 title"}
    pdf = build_pdf([b"BT (x) Tj ET"], flate=True, encrypt=scheme,
                    info=info)
    got = open_document(pdf).info()
    assert got == info
    if scheme is not None:
        # the plaintext title must not appear in the file bytes
        assert b"Annual Report" not in pdf


def test_info_absent_and_objstm_variant():
    from livre_spark.pdf.document import open_document
    from livre_spark.pdf.genpdf import build_pdf

    assert open_document(build_pdf([b"BT (x) Tj ET"])).info() is None
    info = {"Title": "compressed-xref doc"}
    pdf = build_pdf([b"BT (x) Tj ET"], xref="stream", use_objstm=True,
                    encrypt="aes-128", info=info)
    assert open_document(pdf).info() == info


def test_strf_identity_strings_plaintext():
    """/StrF /Identity: streams encrypted, strings passed through."""
    from livre_spark.pdf.crypt import (
        build_decryptor, compute_file_key, compute_u,
    )

    id0 = b"\xde\xad\xbe\xef"
    o = bytes(range(32))
    key = compute_file_key(o, -44, id0, 4, 128)
    u = compute_u(key, id0, 4)
    enc = (b"<</Filter/Standard/V 4/R 4/Length 128"
           b"/CF<</StdCF<</CFM/AESV2/Length 16>>>>"
           b"/StmF/StdCF/StrF/Identity"
           b"/O <" + o.hex().encode() + b">"
           b"/U <" + u.hex().encode() + b">"
           b"/P -44>>")
    dec = build_decryptor(enc, 0, {}, (id0,))
    assert dec.mode == "aesv2" and dec.string_mode == "identity"
    assert dec.decrypt_string(7, 0, b"already plain") == b"already plain"


@pytest.mark.parametrize("scheme", ["rc4-128", "aes-128"])
def test_info_indirect_then_inline_decrypts_both(scheme):
    """Regression: a nested build (indirect /Info value) must RESTORE
    the outer object's decryption context, not clear it - otherwise the
    inline string parsed after it silently skips /StrF decryption and
    info() returns ciphertext."""
    from livre_spark.pdf.document import open_document
    from livre_spark.pdf.genpdf import build_pdf

    info = {"Author": ("indirect", "Anaïs (indirect)"),
            "Title": "inline after the nested build"}
    pdf = build_pdf([b"BT (x) Tj ET"], encrypt=scheme, info=info)
    got = open_document(pdf).info()
    assert got == {"Author": "Anaïs (indirect)",
                   "Title": "inline after the nested build"}


def test_aes_evp_matches_pure_python():
    """The optional libcrypto EVP path must be byte-identical to the
    pure-Python AES reference implementation (both key sizes, both
    directions), and must decline inputs it cannot represent (odd key
    size, non-block-aligned data) so the caller falls back."""
    import random

    from livre_spark.pdf import crypt

    if crypt._LIBCRYPTO is None:
        pytest.skip("system libcrypto unavailable")

    def py_enc(key, iv, data):
        rkw = crypt._rk_words(crypt._expand_key(key))
        out = bytearray()
        prev = int.from_bytes(iv, "big")
        for i in range(0, len(data), 16):
            b = (int.from_bytes(data[i:i + 16], "big") ^ prev).to_bytes(
                16, "big")
            e = crypt._aes_encrypt_block_fast(rkw, b)
            prev = int.from_bytes(e, "big")
            out += e
        return bytes(out)

    def py_dec(key, iv, data):
        rkw = crypt._rk_words_dec(crypt._expand_key(key))
        out = bytearray()
        prev = int.from_bytes(iv, "big")
        for i in range(0, len(data), 16):
            b = data[i:i + 16]
            p = crypt._aes_decrypt_block_fast(rkw, b)
            out += (int.from_bytes(p, "big") ^ prev).to_bytes(16, "big")
            prev = int.from_bytes(b, "big")
        return bytes(out)

    rnd = random.Random(1291)
    for _ in range(40):
        key = bytes(rnd.randrange(256)
                    for _ in range(rnd.choice([16, 32])))
        iv = bytes(rnd.randrange(256) for _ in range(16))
        data = bytes(rnd.randrange(256)
                     for _ in range(16 * rnd.randrange(0, 20)))
        assert crypt._evp_aes_cbc_nopad(key, iv, data, True) == \
            py_enc(key, iv, data)
        assert crypt._evp_aes_cbc_nopad(key, iv, data, False) == \
            py_dec(key, iv, data)
    # unsupported shapes decline rather than guess
    assert crypt._evp_aes_cbc_nopad(b"k" * 24, b"i" * 16, b"d" * 16,
                                    False) is None
    assert crypt._evp_aes_cbc_nopad(b"k" * 16, b"i" * 16, b"d" * 15,
                                    False) is None


def test_asciihex_decode_matches_per_byte_reference():
    """The vectorized ASCIIHexDecode must match a per-byte reference
    scan exactly - output bytes AND error arguments (first offending
    byte) - across a seeded sweep of valid/invalid mixes."""
    import random

    from livre_spark.pdf.filters import _HEX, _PDF_WS, asciihex_decode

    def ref(data):
        out = bytearray()
        hi = None
        for c in data:
            if c in _PDF_WS:
                continue
            if c == 0x3E:
                break
            v = _HEX.get(c)
            if v is None:
                raise ParseError("AsciiHexDecodeError", None, f"0x{c:02x}")
            if hi is None:
                hi = v
            else:
                out.append((hi << 4) | v)
                hi = None
        if hi is not None:
            out.append(hi << 4)
        return bytes(out)

    rnd = random.Random(77)
    good = b"0123456789abcdefABCDEF \t\n\r\x00\x0c>"
    bad = good + b"gzq-/."
    for t in range(800):
        alpha = good if t % 2 else bad
        data = bytes(rnd.choice(alpha)
                     for _ in range(rnd.randrange(0, 80)))
        try:
            want, want_err = ref(data), None
        except ParseError as e:
            want, want_err = None, e.args
        try:
            got, got_err = asciihex_decode(data), None
        except ParseError as e:
            got, got_err = None, e.args
        assert want == got and want_err == got_err, data


def test_rc4_evp_matches_pure_python():
    """The optional libcrypto legacy-provider RC4 path must match the
    pure-Python reference byte-for-byte across key sizes (PDF uses
    5-16 byte keys; sweep 1-32) and payload sizes including empty."""
    import random

    from livre_spark.pdf import crypt

    if crypt._EVP_RC4 is None:
        pytest.skip("libcrypto legacy RC4 unavailable")

    def ref(key, data):
        s = list(range(256))
        j = 0
        klen = len(key)
        for i in range(256):
            j = (j + s[i] + key[i % klen]) & 0xFF
            s[i], s[j] = s[j], s[i]
        out = bytearray(len(data))
        i = j = 0
        for n, ch in enumerate(data):
            i = (i + 1) & 0xFF
            j = (j + s[i]) & 0xFF
            s[i], s[j] = s[j], s[i]
            out[n] = ch ^ s[(s[i] + s[j]) & 0xFF]
        return bytes(out)

    rnd = random.Random(9)
    for _ in range(120):
        key = bytes(rnd.randrange(256)
                    for _ in range(rnd.randrange(1, 33)))
        data = bytes(rnd.randrange(256)
                     for _ in range(rnd.randrange(0, 200)))
        assert crypt.rc4(key, data) == ref(key, data)
    assert crypt.rc4(b"Key", b"Plaintext") == \
        bytes.fromhex("bbf316e8d940af0ad3")
