"""Public-key security handler (ISO 32000 §7.6.4, /Adobe.PubSec).

Certificate-based encryption: instead of password-derived keys, each
recipient of the document holds a CMS ``EnvelopedData`` (RFC 5652 §6)
in the crypt filter's ``/Recipients`` array.  The enveloped plaintext is
24 bytes — a 20-byte seed plus 4 permission bytes — and the file
encryption key is (§7.6.4.3):

    SHA-1( seed || Recipients[0] || Recipients[1] || ...
           [ || 0xFFFFFFFF when /EncryptMetadata false ] )[:n]

after which object keys and stream/string decryption proceed exactly as
in the standard handler (the AESV2 crypt-filter algebra in crypt.py).

This module implements, from the public RFCs/ISO spec only:

  - the EnvelopedData WRITER the synth family uses (KeyTransRecipientInfo
    with RSAES-PKCS1-v1_5 key transport, AES-128-CBC content encryption,
    PKCS#7 padding),
  - the READER: DER walk (reusing core/signature.py's TLV helpers), RSA
    key-transport decryption with the recipient PRIVATE key, content
    decryption, seed/perms extraction,
  - the §7.6.4.3 file-key derivation.

The recipient keypair is the deterministic corpus RSA key (the same key
the §12.8 signature tier uses — synth.py re-exports it from here).  A
real deployment would register its own keys in ``PRIVATE_KEYS`` the way
it passes ``password`` for the standard handler.  The reference has no
public-key handler (its /Encrypt stance is unsupported-Crypt,
decode.rs:46).
"""

from __future__ import annotations

import hashlib

from .signature import _children, _decode_oid, _tlv

# Deterministic 512-bit primes (SHA-256 counter-mode candidates, fixed
# seeds "pdfspark-sig-p"/"-q", Miller-Rabin verified offline).  Single
# source of the corpus keypair; synth.SIG_P/SIG_Q alias these.
CORPUS_P = int(
    "e6f2f4bed13bd21a789a37a88237eb2bb68d0065c2b73d6e7e4bf022504a3971"
    "cf06c95f8059e9b13c59a442bceed59ac1fe2373bb75bcc2025bafedc8fd156b", 16
)
CORPUS_Q = int(
    "e83e41f135724e5d6fa16f48f747d2ef54f5f2beee8a1f2948b28da7ec64583f"
    "5be9893dd0ad40a90bc5a1780804e97fcca8fbd62a843cf8f194829dc3d9779b", 16
)
CORPUS_N = CORPUS_P * CORPUS_Q
CORPUS_E = 65537
CORPUS_D = pow(CORPUS_E, -1, (CORPUS_P - 1) * (CORPUS_Q - 1))

# (n, d) pairs tried against incoming KeyTransRecipientInfos — the
# deployment hook (register your org's decryption keys here)
PRIVATE_KEYS: list[tuple[int, int]] = [(CORPUS_N, CORPUS_D)]

OID_ENVELOPED = "1.2.840.113549.1.7.3"
OID_DATA_RAW = bytes.fromhex("06092a864886f70d010701")
OID_ENVELOPED_RAW = bytes.fromhex("06092a864886f70d010703")
OID_RSA_RAW = bytes.fromhex("06092a864886f70d010101")
OID_AES128_CBC_RAW = bytes.fromhex("0609608648016503040102")
OID_AES128_CBC = "2.16.840.1.101.3.4.1.2"
OID_CN_RAW = bytes.fromhex("0603550403")


def _der(tag: int, content: bytes) -> bytes:
    n = len(content)
    if n < 0x80:
        return bytes((tag, n)) + content
    lb = n.to_bytes((n.bit_length() + 7) // 8, "big")
    return bytes((tag, 0x80 | len(lb))) + lb + content


def _der_int(v: int) -> bytes:
    b = v.to_bytes((v.bit_length() + 8) // 8, "big") if v else b"\x00"
    return _der(0x02, b)


def _issuer(cn: str) -> bytes:
    atv = _der(0x30, OID_CN_RAW + _der(0x13, cn.encode("ascii")))
    return _der(0x30, _der(0x31, atv))


def _pkcs7_pad(data: bytes) -> bytes:
    k = 16 - len(data) % 16
    return data + bytes((k,)) * k


def _pkcs7_unpad(data: bytes) -> bytes:
    if not data or len(data) % 16:
        raise ValueError("PubSec: bad CBC plaintext length")
    k = data[-1]
    if not 1 <= k <= 16 or data[-k:] != bytes((k,)) * k:
        raise ValueError("PubSec: bad PKCS#7 padding")
    return data[:-k]


def build_recipient_cms(
    seed: bytes,
    perms: int,
    rsa_n: int,
    rsa_e: int,
    cek: bytes,
    iv: bytes,
    pad_stream: bytes,
    serial: int = 7,
) -> bytes:
    """One EnvelopedData blob for the /Recipients array (the synth
    writer).  ``cek``/``iv`` are the 16-byte content key and IV;
    ``pad_stream`` supplies the deterministic nonzero PS bytes for the
    RSAES-PKCS1-v1_5 encryption block (type 2)."""
    from . import crypt

    if len(seed) != 20 or len(cek) != 16 or len(iv) != 16:
        raise ValueError("PubSec: bad seed/cek/iv length")
    plain = seed + (perms & 0xFFFFFFFF).to_bytes(4, "big")
    enc_content = crypt._cbc(cek, _pkcs7_pad(plain), iv, encrypt=True)
    k = (rsa_n.bit_length() + 7) // 8
    ps_len = k - 3 - len(cek)
    ps = bytes(b or 1 for b in pad_stream[:ps_len])  # nonzero PS bytes
    if len(ps) < ps_len or ps_len < 8:
        raise ValueError("PubSec: pad stream short")
    em = b"\x00\x02" + ps + b"\x00" + cek
    enc_key = pow(int.from_bytes(em, "big"), rsa_e, rsa_n).to_bytes(k, "big")
    rid = _der(0x30, _issuer("pdfspark test CA") + _der_int(serial))
    ktri = _der(
        0x30,
        _der_int(0)
        + rid
        + _der(0x30, OID_RSA_RAW + b"\x05\x00")
        + _der(0x04, enc_key),
    )
    eci = _der(
        0x30,
        OID_DATA_RAW
        + _der(0x30, OID_AES128_CBC_RAW + _der(0x04, iv))
        + _der(0x80, enc_content),  # [0] IMPLICIT primitive
    )
    ed = _der(0x30, _der_int(0) + _der(0x31, ktri) + eci)
    return _der(0x30, OID_ENVELOPED_RAW + _der(0xA0, ed))


def recover_seed(recipients: list[bytes], keys=None) -> tuple[bytes, int]:
    """Walk the /Recipients EnvelopedData blobs; RSA-decrypt the first
    key-transport envelope one of our ``keys`` opens -> (seed, perms).
    Raises ValueError when no envelope opens (the no-credential path)."""
    from . import crypt

    keys = PRIVATE_KEYS if keys is None else keys
    last_err = "no recipient envelopes"
    for blob in recipients:
        try:
            top = _tlv(blob, 0)
            if top[0] != 0x30:
                raise ValueError("PubSec: not a ContentInfo")
            ci = _children(blob, top[1], top[2])
            if len(ci) != 2 or ci[0][0] != 0x06:
                raise ValueError("PubSec: ContentInfo shape")
            if _decode_oid(blob, ci[0][1], ci[0][2]) != OID_ENVELOPED:
                raise ValueError("PubSec: not envelopedData")
            ed_wrap = _children(blob, ci[1][1], ci[1][2])
            if not ed_wrap or ed_wrap[0][0] != 0x30:
                raise ValueError("PubSec: EnvelopedData shape")
            ed = _children(blob, ed_wrap[0][1], ed_wrap[0][2])
            if len(ed) < 3 or ed[1][0] != 0x31:
                raise ValueError("PubSec: recipientInfos missing")
            eci = ed[2]
            ek = None
            for ri in _children(blob, ed[1][1], ed[1][2]):
                if ri[0] != 0x30:
                    continue
                kids = _children(blob, ri[1], ri[2])
                if len(kids) < 4 or kids[3][0] != 0x04:
                    continue
                ek = blob[kids[3][1] : kids[3][2]]
                break
            if ek is None:
                raise ValueError("PubSec: no key-transport recipient")
            cek = None
            for n, d in keys:
                k = (n.bit_length() + 7) // 8
                if len(ek) != k:
                    continue
                em = pow(int.from_bytes(ek, "big"), d, n).to_bytes(k, "big")
                if em[:2] == b"\x00\x02":
                    sep = em.find(b"\x00", 2)
                    if sep >= 10:  # >= 8 PS bytes per RFC 8017
                        cek = em[sep + 1 :]
                        break
            if cek is None:
                raise ValueError("PubSec: no registered key opens the envelope")
            ekids = _children(blob, eci[1], eci[2])
            if (
                len(ekids) < 3
                or ekids[0][0] != 0x06
                or _alg_is_aes128(blob, ekids[1]) is False
            ):
                raise ValueError("PubSec: encryptedContentInfo shape")
            iv = _aes_iv(blob, ekids[1])
            if ekids[2][0] not in (0x80, 0xA0, 0x04):
                raise ValueError("PubSec: encryptedContent shape")
            enc = blob[ekids[2][1] : ekids[2][2]]
            plain = _pkcs7_unpad(crypt._cbc(cek, enc, iv, encrypt=False))
            if len(plain) != 24:
                raise ValueError("PubSec: enveloped payload is not seed+perms")
            return plain[:20], int.from_bytes(plain[20:24], "big")
        except ValueError as e:
            last_err = str(e)
    raise ValueError(last_err)


def _alg_is_aes128(blob: bytes, node) -> bool:
    if node[0] != 0x30:
        return False
    kids = _children(blob, node[1], node[2])
    return bool(kids) and kids[0][0] == 0x06 and _decode_oid(
        blob, kids[0][1], kids[0][2]
    ) == OID_AES128_CBC


def _aes_iv(blob: bytes, node) -> bytes:
    kids = _children(blob, node[1], node[2])
    if len(kids) != 2 or kids[1][0] != 0x04 or kids[1][2] - kids[1][1] != 16:
        raise ValueError("PubSec: AES parameter IV missing")
    return blob[kids[1][1] : kids[1][2]]


def file_key(
    seed: bytes, recipients: list[bytes], n_bytes: int, encrypt_metadata: bool = True
) -> bytes:
    """§7.6.4.3 step f: the file encryption key."""
    h = hashlib.sha1(
        seed
        + b"".join(recipients)
        + (b"" if encrypt_metadata else b"\xff\xff\xff\xff")
    )
    return h.digest()[:n_bytes]
