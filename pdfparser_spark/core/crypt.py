"""Standard security handler — RC4 V1/V2 (R 2/3), AESV2 (V4/R4) and
AESV3 (V5/R6), with both user- and owner-password authentication
(ISO 32000 §7.6; ISO 32000-2 §7.6.4 for the AES-256/SHA-2 KDF).

The reference rejects encrypted input outright (the unsupported /Crypt
filter stance, /root/reference/src/pdf_doc/pdf_file/decode.rs:46,83-87);
this module implements the real-world handlers on top of that seam:
RC4 and AES-CBC stream/string decryption, Algorithm 2 key derivation,
Algorithms 4-7 password verification (user AND owner paths), and the
R6 iterated-hash KDF.  Only genuinely unknown CFMs or wrong passwords
surface as error rows.

Deterministic; AES comes from the `cryptography` package and RC4 is pure
Python.  Also used by the synthetic corpus builder to produce genuinely
encrypted fixtures.
"""

from __future__ import annotations

import hashlib
import struct
from functools import lru_cache

from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

# the 32-byte padding string of Algorithm 2 (ISO 32000 §7.6.3.3)
PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 stream cipher (symmetric: encrypt == decrypt)."""
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[k] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _pad_password(pwd: bytes) -> bytes:
    return (pwd + PAD)[:32]


def compute_file_key(
    o_entry: bytes,
    p: int,
    id0: bytes,
    user_pwd: bytes = b"",
    n: int = 5,
    r: int = 2,
    encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2: the file encryption key from the /O entry, /P flags and
    the first document ID string.  ``/EncryptMetadata false`` (R >= 4)
    appends 0xFFFFFFFF to the hash input — omitting it derives the wrong
    key for common Acrobat V4 output."""
    h = hashlib.md5()
    h.update(_pad_password(user_pwd))
    h.update(o_entry[:32])
    h.update(struct.pack("<i", p))
    h.update(id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    digest = h.digest()
    if r >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest[:n]).digest()
    return digest[:n]


def compute_o_entry(owner_pwd: bytes, user_pwd: bytes = b"", n: int = 5, r: int = 2) -> bytes:
    """Algorithm 3: the /O dictionary entry (writer side — used by the
    synthetic corpus builder)."""
    digest = hashlib.md5(_pad_password(owner_pwd)).digest()
    if r >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest).digest()
    key = digest[:n]
    out = rc4(key, _pad_password(user_pwd))
    if r >= 3:
        for i in range(1, 20):
            out = rc4(bytes(b ^ i for b in key), out)
    return out


def compute_u_entry(file_key: bytes, id0: bytes = b"", r: int = 2) -> bytes:
    """Algorithm 4 (R2) / 5 (R3): the /U entry used to validate the empty
    user password."""
    if r == 2:
        return rc4(file_key, PAD)
    h = hashlib.md5()
    h.update(PAD)
    h.update(id0)
    out = rc4(file_key, h.digest())
    for i in range(1, 20):
        out = rc4(bytes(b ^ i for b in file_key), out)
    return out + b"\x00" * 16  # arbitrary 16-byte pad per spec


def recover_user_password_from_owner(
    owner_pwd: bytes, o_entry: bytes, n: int = 5, r: int = 2
) -> bytes:
    """Algorithm 7 steps a-b (R2/3/4): derive the RC4 key from the owner
    password (Algorithm 3 steps a-d) and decrypt /O with it, recovering
    the PADDED user password — which then feeds Algorithm 2 as usual.
    Validity is established downstream by ``check_user_password``."""
    digest = hashlib.md5(_pad_password(owner_pwd)).digest()
    if r >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest).digest()
    key = digest[:n]
    out = (o_entry or b"")[:32]
    if r == 2:
        return rc4(key, out)
    for i in range(19, -1, -1):  # undo the 20 chained RC4 passes
        out = rc4(bytes(b ^ i for b in key), out)
    return out


def check_user_password(file_key: bytes, u_entry: bytes, id0: bytes = b"", r: int = 2) -> bool:
    expect = compute_u_entry(file_key, id0, r)
    cmp_len = 32 if r == 2 else 16
    return expect[:cmp_len] == (u_entry or b"")[:cmp_len]


def object_key(file_key: bytes, obj_id: int, gen: int, aes: bool = False) -> bytes:
    """Algorithm 1 step b-c: per-object key (max 16 bytes).  AESV2 appends
    the spec's 4-byte salt ``sAlT`` before hashing."""
    h = hashlib.md5()
    h.update(file_key)
    # low-order bytes per Algorithm 1 (object numbers >= 2^24 are legal;
    # a bare to_bytes(3) would raise OverflowError and lose the document)
    h.update((obj_id & 0xFFFFFF).to_bytes(3, "little"))
    h.update((gen & 0xFFFF).to_bytes(2, "little"))
    if aes:
        h.update(b"sAlT")
    return h.digest()[: min(len(file_key) + 5, 16)]


# ---------------------------------------------------------------------------
# AES for the AESV2/AESV3 crypt filters (ISO 32000 §7.6.2): CBC mode,
# 16-byte IV prefix, PKCS#7 padding.  The one cipher is the compiled one
# from the `cryptography` package; RC4 above stays pure Python because
# that package's ARC4 rejects the 11-15-byte object keys PDF allows.
# ---------------------------------------------------------------------------


def _cbc(key: bytes, data: bytes, iv: bytes, encrypt: bool) -> bytes:
    """Raw AES-CBC, no padding, no IV prefix.  Raises ValueError on a key
    that is not 16, 24 or 32 bytes, or on data that is not whole blocks."""
    cipher = Cipher(algorithms.AES(key), modes.CBC(iv))
    ctx = cipher.encryptor() if encrypt else cipher.decryptor()
    return ctx.update(data) + ctx.finalize()


def aes_cbc_encrypt(key: bytes, data: bytes, iv: bytes) -> bytes:
    """IV-prefixed AES-CBC with PKCS#7 padding (the AESV2 stream layout;
    writer side, used by the synthetic corpus builder)."""
    pad = 16 - len(data) % 16
    return iv + _cbc(key, data + bytes([pad]) * pad, iv, encrypt=True)


def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """Inverse of :func:`aes_cbc_encrypt`; lenient on damaged padding
    (returns the unpadded tail rather than raising)."""
    if len(data) < 32 or len(data) % 16:
        return b""
    out = _cbc(key, data[16:], data[:16], encrypt=False)
    pad = out[-1]
    return out[:-pad] if 1 <= pad <= 16 else out


# ---------------------------------------------------------------------------
# V5 / R6 (ISO 32000-2 §7.6.4, "AESV3"): AES-256, SHA-2 based KDF.
# The file key is random (not password-derived); /U validates the password
# and /UE wraps the key.  No per-object keys — the file key is used directly.
# ---------------------------------------------------------------------------


@lru_cache(maxsize=256)
def hash_2b(pwd: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """Algorithm 2.B (R6): iterated SHA-256/384/512 + AES-128-CBC mixing.
    Deterministic per (pwd, salt, udata); memoized per process, because a
    corpus shares salts and each call runs 64+ AES-CBC passes."""
    k = hashlib.sha256(pwd + salt + udata).digest()
    i = 0
    while True:
        k1 = (pwd + k + udata) * 64
        e = _cbc(k[:16], k1, k[16:32], encrypt=True)
        mod = sum(e[:16]) % 3
        if mod == 0:
            k = hashlib.sha256(e).digest()
        elif mod == 1:
            k = hashlib.sha384(e).digest()
        else:
            k = hashlib.sha512(e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            break
    return k[:32]


def v5_entries(file_key: bytes, vsalt: bytes, ksalt: bytes, user_pwd: bytes = b"", udata: bytes = b""):
    """Writer side (Algorithm 8 / 9): the /U+/UE (or, with ``udata`` set to
    the 48-byte /U string, the /O+/OE) entries wrapping ``file_key`` —
    Algorithm 9 hashes the owner password WITH the /U entry as udata."""
    u = hash_2b(user_pwd, vsalt, udata) + vsalt + ksalt
    ue = _cbc(hash_2b(user_pwd, ksalt, udata), file_key, bytes(16), encrypt=True)
    return u, ue


def v5_recover_key(u_entry: bytes, ue_entry: bytes, user_pwd: bytes = b""):
    """Algorithm 2.A (user-password path): validate ``user_pwd`` against /U
    and unwrap the file key from /UE.  Returns None if the password does
    not validate."""
    if len(u_entry) < 48 or len(ue_entry) < 32:
        return None
    vsalt, ksalt = u_entry[32:40], u_entry[40:48]
    if hash_2b(user_pwd, vsalt) != u_entry[:32]:
        return None
    ikey = hash_2b(user_pwd, ksalt)
    return _cbc(ikey, ue_entry[:32], bytes(16), encrypt=False)


def v5_recover_key_owner(u_entry: bytes, o_entry: bytes, oe_entry: bytes, owner_pwd: bytes):
    """Algorithm 2.A owner path (R6): the owner password validates against
    /O with the 48-byte /U string as udata (Algorithm 12's check), and /OE
    unwraps the file key.  Returns None if the password does not
    validate."""
    if len(u_entry) < 48 or len(o_entry or b"") < 48 or len(oe_entry or b"") < 32:
        return None
    vsalt, ksalt = o_entry[32:40], o_entry[40:48]
    udata = u_entry[:48]
    if hash_2b(owner_pwd, vsalt, udata) != o_entry[:32]:
        return None
    ikey = hash_2b(owner_pwd, ksalt, udata)
    return _cbc(ikey, oe_entry[:32], bytes(16), encrypt=False)


class StandardDecryptor:
    """Bound decryption state for one document: the derived file key plus
    the stream/string cipher selection.  Built before object parsing so
    ObjStm containers can be decrypted *before* expansion (modern writers
    combine encryption with object streams)."""

    def __init__(self, key: bytes, stm_mode: str | None, str_mode: str | None, enc_obj=None):
        self.key = key
        self.stm_mode = stm_mode  # 'rc4' | 'aes' | None (Identity)
        self.str_mode = str_mode
        self.enc_obj = enc_obj  # (obj_id, gen) of the /Encrypt dict, if indirect

    def _apply(self, mode: str | None, obj_id: int, gen: int, data: bytes) -> bytes:
        if mode == "aes":
            return aes_cbc_decrypt(object_key(self.key, obj_id, gen, aes=True), data)
        if mode == "aes256":  # V5: the file key is used directly, no per-object key
            return aes_cbc_decrypt(self.key, data)
        if mode == "rc4":
            return rc4(object_key(self.key, obj_id, gen), data)
        return data

    def decrypt_stream(self, obj_id: int, gen: int, data: bytes) -> bytes:
        return self._apply(self.stm_mode, obj_id, gen, data)

    def decrypt_string(self, obj_id: int, gen: int, data: bytes) -> bytes:
        return self._apply(self.str_mode, obj_id, gen, data)
