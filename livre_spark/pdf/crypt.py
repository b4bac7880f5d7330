"""Standard security handler decryption (beyond-reference extension).

The reference rejects encrypted documents outright (no ``/Encrypt``
handling anywhere; the ``Crypt`` stream filter is in its rejection list,
filtering.rs:50-53).  A meaningful fraction of crawl PDFs is encrypted
with an EMPTY user password - readable by any viewer - so this module
implements the standard security handler (PDF 32000-1 7.6.3): RC4
/V 1-2 /R 2-3 (40-128-bit keys), AESV2 (/V 4 /R 4, AES-128-CBC) and
AESV3 (/V 5 /R 6, AES-256 with Algorithm 2.A/2.B key unwrap), each for
an empty USER or empty OWNER password.  Other schemes and documents
where both passwords are non-empty raise a contained ``CutError`` and
the document lands in the error column, like the reference's rejection.

Scope: stream payloads are decrypted (the text-extraction path), and
string objects are decrypted on the surfaces that read them -
``Document.info()`` routes every /Info string through
``decrypt_string`` (the /StrF filter; /Identity honored) so metadata
queries never silently read ciphertext.  XRef streams and the /Encrypt
dictionary itself are never encrypted per spec and are parsed before
the handler exists.
"""

from __future__ import annotations

import hashlib
import struct

from . import objects as ob
from .errors import CutError, ParseError

# Algorithm 2 padding string (PDF 32000-1 Table 7.6.3.3)
PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (symmetric - also used by the genpdf fixture writer).

    Routes through libcrypto's legacy-provider RC4 when available (the
    256-step key schedule dominates the many small payloads PDF object
    decryption makes); the pure-Python path below stays the reference
    implementation and the fallback, equality pinned by tests."""
    fast = _evp_rc4(key, data)
    if fast is not None:
        return fast
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def compute_file_key(o: bytes, p: int, id0: bytes, r: int,
                     length_bits: int = 40,
                     password: bytes = b"",
                     encrypt_metadata: bool = True) -> bytes:
    """Algorithm 2: password -> file encryption key."""
    n = 5 if r == 2 else max(5, min(16, length_bits // 8))
    padded = (password + PAD)[:32]
    h = hashlib.md5()
    h.update(padded)
    h.update(o[:32])
    # /P is signed 32-bit in the spec but many writers store it as the
    # unsigned equivalent (e.g. 4294967292 for -4); mask before packing -
    # two's-complement bytes are identical for negative p
    h.update(struct.pack("<I", p & 0xFFFFFFFF))
    h.update(id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def compute_u(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / 5 (R3+): the /U verification string."""
    if r == 2:
        return rc4(key, PAD)
    digest = hashlib.md5(PAD + id0).digest()
    enc = rc4(key, digest)
    for i in range(1, 20):
        step_key = bytes(b ^ i for b in key)
        enc = rc4(step_key, enc)
    return enc + b"\x00" * 16  # arbitrary 16-byte pad per spec


def object_key(file_key: bytes, num: int, gen: int) -> bytes:
    """Algorithm 1: per-object RC4 key."""
    h = hashlib.md5()
    h.update(file_key)
    h.update(struct.pack("<i", num)[:3])
    h.update(struct.pack("<i", gen)[:2])
    return h.digest()[: min(len(file_key) + 5, 16)]


# --- pure-Python AES-128 (FIPS-197) for /V 4 /AESV2 --------------------------
#
# The S-box is generated, not transcribed (typo-proof); the whole cipher
# is pinned by the FIPS-197 Appendix B vector in tests/test_filters.py.


def _gen_sbox() -> tuple[list[int], list[int]]:
    sbox = [0] * 256
    p = q = 1
    while True:
        # p := p * 3 in GF(2^8)
        p = (p ^ (p << 1) ^ (0x1B if p & 0x80 else 0)) & 0xFF
        # q := q / 3 (multiply by inverse of 3)
        q ^= (q << 1) & 0xFF
        q ^= (q << 2) & 0xFF
        q ^= (q << 4) & 0xFF
        q &= 0xFF
        if q & 0x80:
            q ^= 0x09
        rot = lambda x, n: ((x << n) | (x >> (8 - n))) & 0xFF
        sbox[p] = (q ^ rot(q, 1) ^ rot(q, 2) ^ rot(q, 3) ^ rot(q, 4)
                   ^ 0x63)
        if p == 1:
            break
    sbox[0] = 0x63
    inv = [0] * 256
    for i, v in enumerate(sbox):
        inv[v] = i
    return sbox, inv


_SBOX, _INV_SBOX = _gen_sbox()


def _xtime(a: int) -> int:
    return ((a << 1) ^ 0x1B) & 0xFF if a & 0x80 else a << 1


def _gmul(a: int, b: int) -> int:
    out = 0
    while b:
        if b & 1:
            out ^= a
        a = _xtime(a)
        b >>= 1
    return out


def _expand_key(key: bytes) -> list[list[int]]:
    """AES key schedule for 128- or 256-bit keys: Nr+1 round keys."""
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[i : i + 4]) for i in range(0, len(key), 4)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= rcon
            rcon = _xtime(rcon)
        elif nk > 6 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    return [sum(w[r * 4 : r * 4 + 4], []) for r in range(nr + 1)]


# T-table AES: one 32-bit word lookup per state byte instead of per-byte
# GF arithmetic (~10x in pure Python - the Algorithm 2.B KDF runs ~16k
# block encryptions per password check, and 2% of the crawl corpus pays
# CBC decryption per stream).  Pinned by the FIPS-197 vectors in
# tests/test_filters.py; libcrypto's EVP AES (below) runs first when
# present, and these two functions are its fallback.


def _rotr32(x: int, n: int) -> int:
    return ((x >> n) | (x << (32 - n))) & 0xFFFFFFFF


def _gen_tables():
    te0, td0 = [], []
    for x in range(256):
        s = _SBOX[x]
        te0.append(((_gmul(s, 2) << 24) | (s << 16) | (s << 8)
                    | _gmul(s, 3)) & 0xFFFFFFFF)
        si = _INV_SBOX[x]
        td0.append(((_gmul(si, 14) << 24) | (_gmul(si, 9) << 16)
                    | (_gmul(si, 13) << 8) | _gmul(si, 11)) & 0xFFFFFFFF)
    te = [te0] + [[_rotr32(v, 8 * i) for v in te0] for i in range(1, 4)]
    td = [td0] + [[_rotr32(v, 8 * i) for v in td0] for i in range(1, 4)]
    return te, td


(_TE0, _TE1, _TE2, _TE3), (_TD0, _TD1, _TD2, _TD3) = _gen_tables()


def _rk_words(rk: list[list[int]]) -> list[list[int]]:
    """Round keys as 4 big-endian column words each."""
    return [[(k[4 * j] << 24) | (k[4 * j + 1] << 16)
             | (k[4 * j + 2] << 8) | k[4 * j + 3] for j in range(4)]
            for k in rk]


def _aes_encrypt_block_fast(rkw: list[list[int]], block: bytes) -> bytes:
    nr = len(rkw) - 1
    t0, t1, t2, t3, sb = _TE0, _TE1, _TE2, _TE3, _SBOX
    k = rkw[0]
    w0 = int.from_bytes(block[0:4], "big") ^ k[0]
    w1 = int.from_bytes(block[4:8], "big") ^ k[1]
    w2 = int.from_bytes(block[8:12], "big") ^ k[2]
    w3 = int.from_bytes(block[12:16], "big") ^ k[3]
    for rnd in range(1, nr):
        k = rkw[rnd]
        n0 = (t0[w0 >> 24] ^ t1[(w1 >> 16) & 0xFF]
              ^ t2[(w2 >> 8) & 0xFF] ^ t3[w3 & 0xFF] ^ k[0])
        n1 = (t0[w1 >> 24] ^ t1[(w2 >> 16) & 0xFF]
              ^ t2[(w3 >> 8) & 0xFF] ^ t3[w0 & 0xFF] ^ k[1])
        n2 = (t0[w2 >> 24] ^ t1[(w3 >> 16) & 0xFF]
              ^ t2[(w0 >> 8) & 0xFF] ^ t3[w1 & 0xFF] ^ k[2])
        n3 = (t0[w3 >> 24] ^ t1[(w0 >> 16) & 0xFF]
              ^ t2[(w1 >> 8) & 0xFF] ^ t3[w2 & 0xFF] ^ k[3])
        w0, w1, w2, w3 = n0, n1, n2, n3
    k = rkw[nr]
    v0 = ((sb[w0 >> 24] << 24) | (sb[(w1 >> 16) & 0xFF] << 16)
          | (sb[(w2 >> 8) & 0xFF] << 8) | sb[w3 & 0xFF]) ^ k[0]
    v1 = ((sb[w1 >> 24] << 24) | (sb[(w2 >> 16) & 0xFF] << 16)
          | (sb[(w3 >> 8) & 0xFF] << 8) | sb[w0 & 0xFF]) ^ k[1]
    v2 = ((sb[w2 >> 24] << 24) | (sb[(w3 >> 16) & 0xFF] << 16)
          | (sb[(w0 >> 8) & 0xFF] << 8) | sb[w1 & 0xFF]) ^ k[2]
    v3 = ((sb[w3 >> 24] << 24) | (sb[(w0 >> 16) & 0xFF] << 16)
          | (sb[(w1 >> 8) & 0xFF] << 8) | sb[w2 & 0xFF]) ^ k[3]
    return ((v0 << 96) | (v1 << 64) | (v2 << 32) | v3).to_bytes(16, "big")


def _inv_mix_word(v: int) -> int:
    b = [(v >> 24) & 0xFF, (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF]
    return ((_gmul(b[0], 14) ^ _gmul(b[1], 11) ^ _gmul(b[2], 13)
             ^ _gmul(b[3], 9)) << 24 \
        | (_gmul(b[0], 9) ^ _gmul(b[1], 14) ^ _gmul(b[2], 11)
           ^ _gmul(b[3], 13)) << 16 \
        | (_gmul(b[0], 13) ^ _gmul(b[1], 9) ^ _gmul(b[2], 14)
           ^ _gmul(b[3], 11)) << 8 \
        | (_gmul(b[0], 11) ^ _gmul(b[1], 13) ^ _gmul(b[2], 9)
           ^ _gmul(b[3], 14))) & 0xFFFFFFFF


def _rk_words_dec(rk: list[list[int]]) -> list[list[int]]:
    """Equivalent-inverse-cipher keys: InvMixColumns on the middle rounds."""
    rkw = _rk_words(rk)
    nr = len(rkw) - 1
    return [rkw[0]] + [[_inv_mix_word(v) for v in rkw[r]]
                       for r in range(1, nr)] + [rkw[nr]]


def _aes_decrypt_block_fast(rkw_dec: list[list[int]], block: bytes) -> bytes:
    nr = len(rkw_dec) - 1
    t0, t1, t2, t3, sb = _TD0, _TD1, _TD2, _TD3, _INV_SBOX
    k = rkw_dec[nr]
    w0 = int.from_bytes(block[0:4], "big") ^ k[0]
    w1 = int.from_bytes(block[4:8], "big") ^ k[1]
    w2 = int.from_bytes(block[8:12], "big") ^ k[2]
    w3 = int.from_bytes(block[12:16], "big") ^ k[3]
    for rnd in range(nr - 1, 0, -1):
        k = rkw_dec[rnd]
        n0 = (t0[w0 >> 24] ^ t1[(w3 >> 16) & 0xFF]
              ^ t2[(w2 >> 8) & 0xFF] ^ t3[w1 & 0xFF] ^ k[0])
        n1 = (t0[w1 >> 24] ^ t1[(w0 >> 16) & 0xFF]
              ^ t2[(w3 >> 8) & 0xFF] ^ t3[w2 & 0xFF] ^ k[1])
        n2 = (t0[w2 >> 24] ^ t1[(w1 >> 16) & 0xFF]
              ^ t2[(w0 >> 8) & 0xFF] ^ t3[w3 & 0xFF] ^ k[2])
        n3 = (t0[w3 >> 24] ^ t1[(w2 >> 16) & 0xFF]
              ^ t2[(w1 >> 8) & 0xFF] ^ t3[w0 & 0xFF] ^ k[3])
        w0, w1, w2, w3 = n0, n1, n2, n3
    k = rkw_dec[0]
    v0 = ((sb[w0 >> 24] << 24) | (sb[(w3 >> 16) & 0xFF] << 16)
          | (sb[(w2 >> 8) & 0xFF] << 8) | sb[w1 & 0xFF]) ^ k[0]
    v1 = ((sb[w1 >> 24] << 24) | (sb[(w0 >> 16) & 0xFF] << 16)
          | (sb[(w3 >> 8) & 0xFF] << 8) | sb[w2 & 0xFF]) ^ k[1]
    v2 = ((sb[w2 >> 24] << 24) | (sb[(w1 >> 16) & 0xFF] << 16)
          | (sb[(w0 >> 8) & 0xFF] << 8) | sb[w3 & 0xFF]) ^ k[2]
    v3 = ((sb[w3 >> 24] << 24) | (sb[(w2 >> 16) & 0xFF] << 16)
          | (sb[(w1 >> 8) & 0xFF] << 8) | sb[w0 & 0xFF]) ^ k[3]
    return ((v0 << 96) | (v1 << 64) | (v2 << 32) | v3).to_bytes(16, "big")


def _evp_one_shot(lib, setup, data: bytes) -> bytes | None:
    """One libcrypto cipher pass over ``data``: a fresh context, the
    cipher's ``setup(ctx)`` (cipher, key, iv, padding; falsy = failed),
    then Update + Final.  None when any step fails."""
    import ctypes

    ctx = lib.EVP_CIPHER_CTX_new()
    if not ctx:
        return None
    try:
        if not setup(ctx):
            return None
        out = ctypes.create_string_buffer(len(data) + 16)
        outl = ctypes.c_int(0)
        if not lib.EVP_CipherUpdate(ctx, out, ctypes.byref(outl),
                                    data, len(data)):
            return None
        n = outl.value
        fin = ctypes.c_int(0)
        if not lib.EVP_CipherFinal_ex(
                ctx, ctypes.cast(ctypes.byref(out, n), ctypes.c_char_p),
                ctypes.byref(fin)):
            return None
        return out.raw[: n + fin.value]
    finally:
        lib.EVP_CIPHER_CTX_free(ctx)


def _load_libcrypto():
    """Optional AES-CBC acceleration over the system OpenSSL libcrypto
    (the same library hashlib already links).  Returns a configured
    ctypes handle or None; the pure-Python AES above stays the reference
    implementation and the fallback, and tests pin byte-equality of the
    two paths.  No Python-package dependency is introduced."""
    try:
        import ctypes
        import ctypes.util

        name = ctypes.util.find_library("crypto")
        if not name:
            return None
        lib = ctypes.CDLL(name)
        P = ctypes.c_void_p
        lib.EVP_CIPHER_CTX_new.restype = P
        lib.EVP_CIPHER_CTX_free.argtypes = [P]
        lib.EVP_aes_128_cbc.restype = P
        lib.EVP_aes_256_cbc.restype = P
        lib.EVP_CipherInit_ex.restype = ctypes.c_int
        lib.EVP_CipherInit_ex.argtypes = [
            P, P, P, ctypes.c_char_p, ctypes.c_char_p, ctypes.c_int]
        lib.EVP_CIPHER_CTX_set_padding.restype = ctypes.c_int
        lib.EVP_CIPHER_CTX_set_padding.argtypes = [P, ctypes.c_int]
        lib.EVP_CipherUpdate.restype = ctypes.c_int
        lib.EVP_CipherUpdate.argtypes = [
            P, ctypes.c_char_p, ctypes.POINTER(ctypes.c_int),
            ctypes.c_char_p, ctypes.c_int]
        lib.EVP_CipherFinal_ex.restype = ctypes.c_int
        lib.EVP_CipherFinal_ex.argtypes = [
            P, ctypes.c_char_p, ctypes.POINTER(ctypes.c_int)]
        # smoke-test one known AES-128 vector (FIPS-197 C.1) before
        # trusting the handle for real work
        got = _evp_one_shot(lib, lambda ctx: (
            lib.EVP_CipherInit_ex(ctx, lib.EVP_aes_128_cbc(), None,
                                  bytes(range(16)), b"\x00" * 16, 1)
            and lib.EVP_CIPHER_CTX_set_padding(ctx, 0)),
            bytes.fromhex("00112233445566778899aabbccddeeff"))
        if got != bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a"):
            return None
        return lib
    except Exception:
        return None


_LIBCRYPTO = _load_libcrypto()


def _fetch_rc4():
    """RC4 lives in OpenSSL 3's legacy provider; fetch it once (the
    provider handle is module-held so it stays loaded).  Returns the
    EVP cipher handle or None, smoke-tested against the canonical
    'Key'/'Plaintext' vector before being trusted."""
    lib = _LIBCRYPTO
    if lib is None:
        return None
    try:
        import ctypes

        lib.OSSL_PROVIDER_load.restype = ctypes.c_void_p
        lib.OSSL_PROVIDER_load.argtypes = [ctypes.c_void_p,
                                           ctypes.c_char_p]
        lib.EVP_CIPHER_fetch.restype = ctypes.c_void_p
        lib.EVP_CIPHER_fetch.argtypes = [
            ctypes.c_void_p, ctypes.c_char_p, ctypes.c_char_p]
        lib.EVP_CIPHER_CTX_set_key_length.restype = ctypes.c_int
        lib.EVP_CIPHER_CTX_set_key_length.argtypes = [
            ctypes.c_void_p, ctypes.c_int]
        global _LEGACY_PROVIDER
        _LEGACY_PROVIDER = lib.OSSL_PROVIDER_load(None, b"legacy")
        if not _LEGACY_PROVIDER:
            return None
        cipher = lib.EVP_CIPHER_fetch(None, b"RC4", None)
        if not cipher:
            return None
        got = _evp_rc4_raw(lib, cipher, b"Key", b"Plaintext")
        if got != bytes.fromhex("bbf316e8d940af0ad3"):
            return None
        return cipher
    except Exception:
        return None


def _evp_rc4_raw(lib, cipher, key: bytes, data: bytes) -> bytes | None:
    # RC4 is variable-key: init without a key, size it, then key it
    return _evp_one_shot(lib, lambda ctx: (
        lib.EVP_CipherInit_ex(ctx, cipher, None, None, None, 1)
        and lib.EVP_CIPHER_CTX_set_key_length(ctx, len(key))
        and lib.EVP_CipherInit_ex(ctx, None, None, key, None, 1)), data)


_LEGACY_PROVIDER = None
_EVP_RC4 = _fetch_rc4()


def _evp_rc4(key: bytes, data: bytes) -> bytes | None:
    """One-shot RC4 through libcrypto; None = use the pure-Python path
    (unavailable, or a key the provider rejects)."""
    if _EVP_RC4 is None or not key:
        return None
    return _evp_rc4_raw(_LIBCRYPTO, _EVP_RC4, key, data)


def _evp_aes_cbc_nopad(key: bytes, iv: bytes, data: bytes,
                       enc: bool) -> bytes | None:
    """One-shot AES-CBC (no padding) through libcrypto; None = caller
    must use the pure-Python path (unavailable, unusual key size, or a
    length EVP's nopad mode rejects)."""
    lib = _LIBCRYPTO
    if lib is None or len(key) not in (16, 32) or len(data) % 16:
        return None
    cipher = (lib.EVP_aes_128_cbc() if len(key) == 16
              else lib.EVP_aes_256_cbc())
    return _evp_one_shot(lib, lambda ctx: (
        lib.EVP_CipherInit_ex(ctx, cipher, None, key, iv, 1 if enc else 0)
        and lib.EVP_CIPHER_CTX_set_padding(ctx, 0)), data)


def _aes_cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC encrypt, no padding, no IV prefix (Algorithm 2.B step)."""
    fast = _evp_aes_cbc_nopad(key, iv, data, enc=True)
    if fast is not None:
        return fast
    rkw = _rk_words(_expand_key(key))
    out = bytearray()
    prev_i = int.from_bytes(iv, "big")
    for i in range(0, len(data), 16):
        block = (int.from_bytes(data[i : i + 16], "big")
                 ^ prev_i).to_bytes(16, "big")
        enc = _aes_encrypt_block_fast(rkw, block)
        prev_i = int.from_bytes(enc, "big")
        out += enc
    return bytes(out)


def _aes_cbc_decrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    fast = _evp_aes_cbc_nopad(key, iv, data, enc=False)
    if fast is not None:
        return fast
    rkw_dec = _rk_words_dec(_expand_key(key))
    out = bytearray()
    prev_i = int.from_bytes(iv, "big")
    for i in range(0, len(data), 16):
        block = data[i : i + 16]
        plain = _aes_decrypt_block_fast(rkw_dec, block)
        out += (int.from_bytes(plain, "big") ^ prev_i).to_bytes(16, "big")
        prev_i = int.from_bytes(block, "big")
    return bytes(out)


def aes128_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """PDF AESV2/AESV3 stream layout: 16-byte IV prefix + CBC ciphertext
    with PKCS#5 padding (PDF 32000-1 7.6.2); key may be 16 or 32 bytes."""
    if len(data) < 32 or len(data) % 16 != 0:
        raise CutError("EncryptedDocument", None, "bad AES payload length")
    out = bytearray(_aes_cbc_decrypt_nopad(key, data[:16], data[16:]))
    pad = out[-1]
    if not (1 <= pad <= 16) or out[-pad:] != bytes([pad]) * pad:
        raise CutError("EncryptedDocument", None, "bad AES padding")
    return bytes(out[:-pad])


def aes128_cbc_encrypt(key: bytes, iv: bytes, plain: bytes) -> bytes:
    """Fixture-writer counterpart (deterministic IV supplied by caller)."""
    pad = 16 - (len(plain) % 16)
    plain = plain + bytes([pad]) * pad
    return iv + _aes_cbc_encrypt_nopad(key, iv, plain)


def object_key_aes(file_key: bytes, num: int, gen: int) -> bytes:
    """Algorithm 1 AES variant: the extra 'sAlT' word."""
    h = hashlib.md5()
    h.update(file_key)
    h.update(struct.pack("<i", num)[:3])
    h.update(struct.pack("<i", gen)[:2])
    h.update(b"sAlT")
    return h.digest()[: min(len(file_key) + 5, 16)]


def owner_key_rc4(owner_password: bytes, r: int,
                  length_bits: int = 40) -> bytes:
    """Algorithm 3 steps a-d: the RC4 key derived from the owner password
    (used both to create /O and to unwind it back to the user password)."""
    n = 5 if r == 2 else max(5, min(16, length_bits // 8))
    key = hashlib.md5((owner_password + PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    return key[:n]


def compute_o(user_password: bytes, owner_password: bytes, r: int,
              length_bits: int = 40) -> bytes:
    """Algorithm 3: the /O entry (RC4-wrapped padded user password)."""
    okey = owner_key_rc4(owner_password, r, length_bits)
    data = (user_password + PAD)[:32]
    rounds = 20 if r >= 3 else 1
    for i in range(rounds):
        data = rc4(bytes(b ^ i for b in okey), data)
    return data


def recover_user_password(o: bytes, owner_password: bytes, r: int,
                          length_bits: int = 40) -> bytes:
    """Algorithm 7 steps a-b: unwind /O with the owner password to the
    padded user password."""
    okey = owner_key_rc4(owner_password, r, length_bits)
    data = o[:32]
    if r >= 3:
        for i in range(19, -1, -1):
            data = rc4(bytes(b ^ i for b in okey), data)
    else:
        data = rc4(okey, data)
    return data


def hash_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """PDF 2.0 Algorithm 2.B (R6): the iterated SHA-2 / AES-CBC hash."""
    k = hashlib.sha256(password + salt + udata).digest()
    rnd = 0
    while True:
        k1 = (password + k + udata) * 64
        e = _aes_cbc_encrypt_nopad(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        rnd += 1
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


def r6_owner_file_key(o: bytes, oe: bytes, u: bytes,
                      password: bytes = b"") -> bytes:
    """Algorithm 2.A owner-password path (R6): /O carries
    hash(32)+validation salt(8)+key salt(8), both hashes salted with the
    48-byte /U; /OE wraps the file key under the owner intermediate."""
    if len(o) < 48 or len(oe) < 32 or len(u) < 48:
        raise CutError("EncryptedDocument", None, "bad O/OE/U length")
    vsalt, ksalt = o[32:40], o[40:48]
    if hash_2b(password, vsalt, u[:48]) != o[:32]:
        raise CutError("EncryptedDocument", None,
                       "non-empty owner password")
    intermediate = hash_2b(password, ksalt, u[:48])
    return _aes_cbc_decrypt_nopad(intermediate, b"\x00" * 16, oe[:32])


def r6_file_key(u: bytes, ue: bytes, password: bytes = b"") -> bytes:
    """Algorithm 2.A user-password path (R6): verify /U, unwrap /UE.

    /U = 48 bytes: hash(32) + validation salt(8) + key salt(8);
    /UE = the file key AES-256-CBC-wrapped (zero IV, no padding) under
    the intermediate key derived from the key salt.
    """
    if len(u) < 48 or len(ue) < 32:
        raise CutError("EncryptedDocument", None, "bad U/UE length")
    vsalt, ksalt = u[32:40], u[40:48]
    if hash_2b(password, vsalt) != u[:32]:
        raise CutError("EncryptedDocument", None,
                       "non-empty user password")
    intermediate = hash_2b(password, ksalt)
    return _aes_cbc_decrypt_nopad(intermediate, b"\x00" * 16, ue[:32])


class StandardDecryptor:
    """Empty-user-password decryptor for one document.

    ``mode``: ``"rc4"`` (V1-2), ``"aesv2"`` (V4, per-object MD5+sAlT
    keys), or ``"aesv3"`` (V5/R6, the 32-byte file key used directly).

    ``string_mode`` is the /StrF crypt filter's algorithm for V4/V5
    documents (``"identity"`` = strings stay plaintext while streams are
    encrypted, a combination some writers use for searchability); None
    means strings use the same algorithm as streams - the V<4 behavior
    and the overwhelmingly common V4/V5 case (/StrF /StdCF)."""

    def __init__(self, file_key: bytes, mode: str = "rc4",
                 string_mode: str | None = None):
        self.file_key = file_key
        self.mode = mode
        self.string_mode = mode if string_mode is None else string_mode

    def _apply(self, mode: str, num: int, gen: int, data: bytes) -> bytes:
        if mode == "identity":
            return data
        if mode == "aesv3":
            return aes128_cbc_decrypt(self.file_key, data)
        if mode == "aesv2":
            return aes128_cbc_decrypt(
                object_key_aes(self.file_key, num, gen), data)
        return rc4(object_key(self.file_key, num, gen), data)

    def decrypt(self, num: int, gen: int, data: bytes) -> bytes:
        """Stream payload decryption (the /StmF filter)."""
        return self._apply(self.mode, num, gen, data)

    def decrypt_string(self, num: int, gen: int, data: bytes) -> bytes:
        """String-object decryption (the /StrF filter).

        Same per-object key derivation as streams (PDF 32000-1 7.6.2
        applies Algorithm 1 to both); only the filter *selection* can
        differ (/StrF vs /StmF).  ``data`` is the already-unescaped
        literal/hex string payload - ciphertext in an encrypted doc."""
        return self._apply(self.string_mode, num, gen, data)


def _parse_encrypt_dict(buf: bytes, pos: int, xrefs: dict) -> ob.RawDict:
    """The trailer's /Encrypt value: usually an indirect ref, occasionally
    inline.  Parsed WITHOUT the decrypt hooks (never encrypted per spec)."""
    try:
        ref, _ = ob.parse_reference(buf, pos)
    except ParseError:
        raw, _ = ob.parse_raw_dict(buf, pos)
        return raw
    loc = xrefs.get(ref.id)
    if loc is None or loc[0] != "plain":
        raise CutError("EncryptedDocument", None, "encrypt dict unresolvable")
    _, raw, _ = ob.parse_indirect(
        buf, loc[1], lambda b, p: ob.parse_raw_dict(b, p))
    return raw


def build_decryptor(buf: bytes, encrypt_pos: int, xrefs: dict,
                    file_id) -> StandardDecryptor:
    """Construct the decryptor for an /Encrypt-bearing trailer, verifying
    the EMPTY user password; anything unsupported is a contained cut."""
    raw = _parse_encrypt_dict(buf, encrypt_pos, xrefs)
    filt = raw.pop_and_parse(b"Filter", ob.parse_name)
    if filt is None or bytes(filt) != b"Standard":
        raise CutError("EncryptedDocument", None,
                       f"security handler {bytes(filt or b'?')!r}")
    v = raw.pop_and_parse(b"V", ob.parse_unsigned) or 0
    r = raw.pop_and_parse(b"R", ob.parse_unsigned) or 0
    mode = "rc4"
    string_mode = None
    cf_length = None
    if v in (4, 5):
        # crypt-filter container: /CF <</StdCF <</CFM ...>>>> + /StmF
        cf = raw.pop_and_parse(b"CF", ob.parse_dict_object) or {}
        stmf = raw.pop_and_parse(b"StmF", ob.parse_name)
        if stmf is not None and bytes(stmf) != b"StdCF":
            raise CutError("EncryptedDocument", None,
                           f"StmF {bytes(stmf)!r}")
        # /StrF selects the STRING filter independently; /Identity means
        # strings are plaintext while streams are encrypted.  Anything
        # other than Identity/StdCF is an unsupported custom filter.
        strf = raw.pop_and_parse(b"StrF", ob.parse_name)
        if strf is not None and bytes(strf) == b"Identity":
            string_mode = "identity"
        elif strf is not None and bytes(strf) != b"StdCF":
            raise CutError("EncryptedDocument", None,
                           f"StrF {bytes(strf)!r}")
        stdcf = cf.get(b"StdCF") if isinstance(cf, dict) else None
        cfm = stdcf.get(b"CFM") if isinstance(stdcf, dict) else None
        cfm = bytes(cfm) if cfm is not None else b"?"
        # spec permits the key length to live only inside /CF /StdCF for
        # V4 (bytes there, bits at top level; some writers put bits in
        # both places).  Disambiguation: 40 is the ONLY legal bits value
        # at or below 40 (40-bit RC4), and 40 bytes (320 bits) is never
        # valid - so 40 means bits; values <= 16 (128 bits) are bytes.
        cf_len = stdcf.get(b"Length") if isinstance(stdcf, dict) else None
        if isinstance(cf_len, int):
            cf_length = cf_len * 8 if cf_len <= 16 else cf_len
        else:
            cf_length = None
        if v == 5 and r == 6:
            # PDF 2.0 AES-256 (Algorithm 2.A/2.B): the file key comes
            # from /UE, no per-object derivation
            if cfm not in (b"AESV3", b"?"):
                raise CutError("EncryptedDocument", None, f"CFM {cfm!r}")
            u5 = raw.pop_and_parse(b"U", ob.parse_string)
            ue = raw.pop_and_parse(b"UE", ob.parse_string)
            o5 = raw.pop_and_parse(b"O", ob.parse_string)
            oe = raw.pop_and_parse(b"OE", ob.parse_string)
            if u5 is None or ue is None:
                raise CutError("EncryptedDocument", None, "missing U/UE")
            try:
                return StandardDecryptor(
                    r6_file_key(bytes(u5), bytes(ue)), mode="aesv3",
                    string_mode=string_mode)
            except CutError:
                # user password set but OWNER password empty: unwrap /OE
                if o5 is None or oe is None:
                    raise
                return StandardDecryptor(
                    r6_owner_file_key(bytes(o5), bytes(oe), bytes(u5)),
                    mode="aesv3", string_mode=string_mode)
        if v == 4 and r == 4:
            if cfm == b"AESV2":
                mode = "aesv2"
            elif cfm != b"V2":  # V2 = RC4 inside the V4 container
                raise CutError("EncryptedDocument", None, f"CFM {cfm!r}")
        else:
            raise CutError("EncryptedDocument", None, f"V={v} R={r}")
    elif v not in (1, 2) or r not in (2, 3):
        raise CutError("EncryptedDocument", None, f"V={v} R={r}")
    length = raw.pop_and_parse(b"Length", ob.parse_unsigned) or cf_length or 40
    o = raw.pop_and_parse(b"O", ob.parse_string)
    u = raw.pop_and_parse(b"U", ob.parse_string)
    p = raw.pop_and_parse(b"P", ob.parse_signed)
    if o is None or u is None or p is None:
        raise CutError("EncryptedDocument", None, "missing O/U/P")
    enc_meta = raw.pop_and_parse(b"EncryptMetadata", ob.parse_bool)
    id0 = file_id[0] if file_id else b""
    key = compute_file_key(bytes(o), p, id0, r, length,
                           encrypt_metadata=enc_meta is not False)
    expected_u = compute_u(key, id0, r)
    got_u = bytes(u)
    match = (got_u[:16] == expected_u[:16] if r >= 3
             else got_u[:32] == expected_u[:32])
    if not match:
        # owner path (Algorithm 7): an empty OWNER password unwinds /O
        # to the real padded user password, which re-derives the key
        recovered = recover_user_password(bytes(o), b"", r, length)
        key = compute_file_key(bytes(o), p, id0, r, length,
                               password=recovered,
                               encrypt_metadata=enc_meta is not False)
        expected_u = compute_u(key, id0, r)
        match = (got_u[:16] == expected_u[:16] if r >= 3
                 else got_u[:32] == expected_u[:32])
    if not match:
        raise CutError("EncryptedDocument", None,
                       "user and owner passwords both non-empty")
    return StandardDecryptor(key, mode=mode, string_mode=string_mode)
