"""Font CMap / ToUnicode glyph-to-text mapping (ISO 32000 §9.10.3, §9.7.6.2).

Absent from the reference entirely (SURVEY.md §2.7: "no font code at all");
required by BASELINE.json:6.  Supports:

  - ``begincodespacerange`` with MIXED code widths (real CID fonts declare
    e.g. a 1-byte ASCII range alongside 2-byte CJK ranges; a code matches a
    range iff each byte lies within the corresponding lo/hi byte, per
    §9.7.6.2's byte-wise containment rule),
  - ``beginbfchar`` pairs ``<src> <dst>``,
  - ``beginbfrange`` runs ``<lo> <hi> <dst>`` and ``<lo> <hi> [<d0> ...]``,
  - UTF-16BE destination strings (surrogate-safe),
  - fallback simple encodings: WinAnsiEncoding = cp1252, MacRomanEncoding =
    mac_roman, else latin-1 (ISO 32000 annex D).

Mappings are keyed by the raw code BYTES (not an integer) so a 1-byte code
``<41>`` and a 2-byte code ``<0041>`` stay distinct.  core/extract.py
builds one decoder per font spec and applies it to raw Tj/TJ operands.
"""

from __future__ import annotations

import re

_HEX = re.compile(rb"<([0-9A-Fa-f\s]*)>")
_TOKEN = re.compile(
    rb"beginbfchar(.*?)endbfchar|beginbfrange(.*?)endbfrange|begincodespacerange(.*?)endcodespacerange",
    re.S,
)


def _hexbytes(s: bytes) -> bytes:
    s = re.sub(rb"\s+", b"", s)
    if len(s) % 2:
        s += b"0"
    return bytes.fromhex(s.decode("ascii"))


def _utf16be(b: bytes) -> str:
    try:
        return b.decode("utf-16-be")
    except UnicodeDecodeError:
        return b.decode("utf-16-be", errors="replace")


_PARSE_CACHE: dict[bytes, "CMap"] = {}


def _in_range(chunk: bytes, lo: bytes, hi: bytes) -> bool:
    """Byte-wise codespace containment (§9.7.6.2): every byte of the code
    must lie within the corresponding byte of [lo, hi] — NOT plain integer
    comparison (e.g. range <8140> <9FFC> excludes <8200>: the second byte
    0x00 is below 0x40 even though 0x8140 <= 0x8200 <= 0x9FFC as ints)."""
    return all(lo[k] <= chunk[k] <= hi[k] for k in range(len(lo)))


class CMap:
    """byte-code -> unicode mapping with (possibly mixed-width) codespaces."""

    def __init__(self) -> None:
        self.width = 1  # fallback width when no codespace is declared
        self.map: dict[bytes, str] = {}
        self.ranges: list[tuple[bytes, bytes]] = []  # codespace (lo, hi)

    @classmethod
    def parse(cls, cmap_bytes: bytes) -> "CMap":
        """Parse (memoized): fonts repeat across documents of a corpus, so
        the parsed CMap is cached globally by payload bytes (bounded)."""
        hit = _PARSE_CACHE.get(cmap_bytes)
        if hit is not None:
            return hit
        cm = cls._parse(cmap_bytes)
        if len(_PARSE_CACHE) > 4096:
            _PARSE_CACHE.clear()
        _PARSE_CACHE[cmap_bytes] = cm
        return cm

    @classmethod
    def _parse(cls, cmap_bytes: bytes) -> "CMap":
        cm = cls()
        for m in _TOKEN.finditer(cmap_bytes):
            bfchar, bfrange, codespace = m.group(1), m.group(2), m.group(3)
            if codespace:
                hexes = _HEX.findall(codespace)
                for i in range(0, len(hexes) - 1, 2):
                    lo = _hexbytes(hexes[i])
                    hi = _hexbytes(hexes[i + 1])
                    if lo and len(lo) == len(hi):
                        cm.ranges.append((lo, hi))
                        cm.width = max(cm.width, len(lo))
            elif bfchar:
                hexes = _HEX.findall(bfchar)
                for i in range(0, len(hexes) - 1, 2):
                    src = _hexbytes(hexes[i])
                    dst = _hexbytes(hexes[i + 1])
                    cm.width = max(cm.width, len(src))
                    cm.map[src] = _utf16be(dst)
            elif bfrange:
                cm._parse_bfrange(bfrange)
        # deterministic match order: shorter codes probe first, then by lo
        cm.ranges.sort(key=lambda r: (len(r[0]), r[0]))
        return cm

    def _parse_bfrange(self, body: bytes) -> None:
        # entries: <lo> <hi> <dst>   |   <lo> <hi> [<d0> <d1> ...]
        pos = 0
        pat_hex = re.compile(rb"\s*<([0-9A-Fa-f\s]*)>")
        pat_arr = re.compile(rb"\s*\[((?:\s*<[0-9A-Fa-f\s]*>)*)\s*\]")
        while True:
            m1 = pat_hex.match(body, pos)
            if not m1:
                break
            m2 = pat_hex.match(body, m1.end())
            if not m2:
                break
            lo = _hexbytes(m1.group(1))
            hi = _hexbytes(m2.group(1))
            w = len(lo)
            self.width = max(self.width, w)
            lo_i = int.from_bytes(lo, "big")
            hi_i = int.from_bytes(hi, "big")
            marr = pat_arr.match(body, m2.end())
            if marr:
                dsts = _HEX.findall(marr.group(1))
                for k, d in enumerate(dsts):
                    if lo_i + k <= hi_i:
                        self.map[(lo_i + k).to_bytes(w, "big")] = _utf16be(_hexbytes(d))
                pos = marr.end()
            else:
                m3 = pat_hex.match(body, m2.end())
                if not m3:
                    break
                base = _hexbytes(m3.group(1))
                base_i = int.from_bytes(base, "big")
                blen = len(base)
                # a run that outgrows its destination's byte width stops
                # at the last code whose destination fits; later codes
                # stay unmapped (lenient, like malformed /Differences)
                fits = (1 << (8 * blen)) - base_i
                for k in range(min(hi_i - lo_i + 1, fits)):
                    self.map[(lo_i + k).to_bytes(w, "big")] = _utf16be(
                        (base_i + k).to_bytes(blen, "big")
                    )
                pos = m3.end()

    def decode(self, raw: bytes) -> str:
        out = []
        i = 0
        n = len(raw)
        if not self.ranges:
            # no codespace declared: single fixed width (max src length)
            w = self.width
            while i + w <= n:
                out.append(self.map.get(raw[i : i + w], "�"))
                i += w
            return "".join(out)
        min_w = len(self.ranges[0][0])
        while i < n:
            for lo, hi in self.ranges:
                k = len(lo)
                chunk = raw[i : i + k]
                if len(chunk) == k and _in_range(chunk, lo, hi):
                    out.append(self.map.get(chunk, "�"))
                    i += k
                    break
            else:
                # no codespace matched: emit replacement, consume the
                # shortest declared width (§9.7.6.3 partial-match handling)
                out.append("�")
                i += min_w
        return "".join(out)


def _simple_codec(encoding_name: str | None) -> str:
    """The Python codec of a simple font's base encoding (WinAnsi == cp1252
    per ISO 32000 D.2); latin-1 for none or any other."""
    if encoding_name == "WinAnsiEncoding":
        return "cp1252"
    if encoding_name == "MacRomanEncoding":
        return "mac_roman"
    return "latin-1"


def simple_decode(raw: bytes, encoding_name: str | None) -> str:
    """Fallback single-byte decode when the font has no /ToUnicode
    (reference has no equivalent)."""
    return raw.decode(_simple_codec(encoding_name), errors="replace")


# ---------------------------------------------------------------------------
# /Encoding dictionaries with /Differences (ISO 32000 §9.6.5.1 table 114)
# ---------------------------------------------------------------------------

# Adobe Glyph List subset (public AGL 2.0): the names real PDF writers put
# in /Differences arrays for Latin-script text.  Letters/digits map to
# themselves through the identity arm below; this table carries the
# non-identity names (punctuation, accented Latin-1, common symbols, a few
# Greek).  Unlisted names fall through the uniXXXX / 'g<NN>' conventions,
# then to U+FFFD — never an exception.
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "florin": "ƒ", "fraction": "⁄", "perthousand": "‰",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "guillemotleft": "«", "guillemotright": "»",
    "fi": "ﬁ", "fl": "ﬂ", "trademark": "™",
    "copyright": "©", "registered": "®", "degree": "°",
    "plusminus": "±", "multiply": "×", "divide": "÷",
    "cent": "¢", "sterling": "£", "yen": "¥",
    "Euro": "€", "currency": "¤", "section": "§",
    "paragraph": "¶", "periodcentered": "·",
    "exclamdown": "¡", "questiondown": "¿",
    "Agrave": "À", "Aacute": "Á", "Acircumflex": "Â",
    "Atilde": "Ã", "Adieresis": "Ä", "Aring": "Å",
    "AE": "Æ", "Ccedilla": "Ç", "Egrave": "È",
    "Eacute": "É", "Ecircumflex": "Ê", "Edieresis": "Ë",
    "Igrave": "Ì", "Iacute": "Í", "Icircumflex": "Î",
    "Idieresis": "Ï", "Eth": "Ð", "Ntilde": "Ñ",
    "Ograve": "Ò", "Oacute": "Ó", "Ocircumflex": "Ô",
    "Otilde": "Õ", "Odieresis": "Ö", "Oslash": "Ø",
    "Ugrave": "Ù", "Uacute": "Ú", "Ucircumflex": "Û",
    "Udieresis": "Ü", "Yacute": "Ý", "Thorn": "Þ",
    "germandbls": "ß",
    "agrave": "à", "aacute": "á", "acircumflex": "â",
    "atilde": "ã", "adieresis": "ä", "aring": "å",
    "ae": "æ", "ccedilla": "ç", "egrave": "è",
    "eacute": "é", "ecircumflex": "ê", "edieresis": "ë",
    "igrave": "ì", "iacute": "í", "icircumflex": "î",
    "idieresis": "ï", "eth": "ð", "ntilde": "ñ",
    "ograve": "ò", "oacute": "ó", "ocircumflex": "ô",
    "otilde": "õ", "odieresis": "ö", "oslash": "ø",
    "ugrave": "ù", "uacute": "ú", "ucircumflex": "û",
    "udieresis": "ü", "yacute": "ý", "thorn": "þ",
    "ydieresis": "ÿ",
    "alpha": "α", "beta": "β", "gamma": "γ",
    "delta": "δ", "epsilon": "ε", "pi": "π",
    "sigma": "σ", "mu": "μ", "Omega": "Ω",
    "lambda": "λ", "theta": "θ", "omega": "ω",
}


def glyph_to_char(name: str) -> str:
    """One glyph name -> one unicode string (AGL conventions): single
    ASCII letters map to themselves; the AGL table above; ``uniXXXX`` /
    ``uXXXX[XX]`` hex forms; ``gNN`` and anything else -> U+FFFD."""
    if len(name) == 1:
        return name
    hit = _AGL.get(name)
    if hit is not None:
        return hit
    if name.startswith("uni") and len(name) == 7:
        try:
            return chr(int(name[3:], 16))
        except ValueError:
            return "�"
    if name.startswith("u") and len(name) in (5, 7) and name[1:].isalnum():
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return "�"
    return "�"


def pdf_text_string(raw: bytes) -> str:
    """A PDF TEXT STRING (ISO 32000 §7.9.2.2) — used by /ActualText,
    /Title, /T etc. — decodes WITHOUT any font: UTF-16BE when it opens
    with the FE FF BOM, UTF-8 when it opens with the EF BB BF BOM (the
    PDF 2.0 addition), else PDFDocEncoding (byte-identical to Latin-1
    over the printable range this corpus uses — the handful of divergent
    control-range code points are not modeled; documented)."""
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", errors="replace")
    if raw[:3] == b"\xef\xbb\xbf":
        return raw[3:].decode("utf-8", errors="replace")
    return raw.decode("latin-1")


def differences_remap(differences) -> list[tuple[int, str]]:
    """A §9.6.5.1 /Differences array as ``(code, glyph name)`` pairs: an
    integer sets the current code, each following name remaps that code
    (auto-incrementing).  Malformed entries and codes outside one byte
    are skipped, never fatal (lenient stance)."""
    out: list[tuple[int, str]] = []
    code = 0
    for item in differences if isinstance(differences, list) else []:
        if isinstance(item, (int, float)):
            code = int(item)
        elif isinstance(item, str):
            if 0 <= code <= 255:
                out.append((code, str(item)))
            code += 1
    return out


def remap_decoder(base_encoding: str | None, remap):
    """Decoder for an /Encoding DICTIONARY: the /BaseEncoding single-byte
    table (same simple_decode fallbacks) with ``remap``'s ``(code, glyph
    name)`` pairs applied on top."""
    # one decode of all 256 codes: each codec is single-byte, and an
    # undefined code decodes to one U+FFFD
    table = list(bytes(range(256)).decode(_simple_codec(base_encoding), "replace"))
    for code, name in remap:
        table[code] = glyph_to_char(name)

    def decode(raw: bytes) -> str:
        return "".join(table[b] for b in raw)

    return decode
