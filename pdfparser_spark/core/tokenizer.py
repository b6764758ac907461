"""PDF object tokenizer and value parser — spec-correct.

Reference: the ~325-line byte state machine ``parse_object_at``
(/root/reference/src/pdf_doc/pdf_file/pdf_file.rs:274-599) with states
Neutral/HexString/CharString/Name/Number/Comment/Keyword
(pdf_file.rs:727-736), and the byte classifiers
(/root/reference/src/pdf_doc/pdf_file/util.rs:8-29).  Like the reference,
:meth:`Tokenizer.parse_value` is ONE iterative loop with an explicit
container stack (the reference's object buffer, which ``R`` pops,
pdf_file.rs:347-384): no recursion, so nesting depth is bounded by memory,
not by the interpreter stack.  The loop reads tokens with one compiled
scanner (``_TOKEN_RE``) whose alternatives match a name, an integer
together with the ``G R`` tail that makes it a reference, a delimiter, a
plain literal string or a keyword in one C-level step; everything else
(strings with escapes, nested parens or CR; hex strings; reals; ``#``
names; comments inside ``N G R``; errors) is a branch of the same loop
that reads the token with :func:`_next_token` and restarts the scanner.
:func:`_next_token` reads one token with the same grammar (without the
reference tail) for the content-stream readers.

Covered sub-operators (SURVEY.md §2.3): T1 arrays, T2 dicts, T3 literal
strings (escapes, octal, line continuation, nested parens — spec-correct
CR/LF, unlike pdf_file.rs:428,435), T4 hex strings (both cases, unlike
util.rs:23-25), T5 names (with #xx escapes), T6 numbers, T7 comments,
T8 keywords, T9 indirect references (``N G R``; a comment between the
three tokens is whitespace, §7.2.4), T10 ``N G obj``, T11 stream
extraction with indirect-/Length two-pass fallback (pdf_file.rs:601-671),
T12 byte classifiers.

This module is pure Python over ``bytes`` and executes inside Arrow-batch
UDFs; it is sequential per document by nature (single-pass like the
reference) but the pipeline vectorizes across documents.
"""

from __future__ import annotations

import re

from .errors import ParsingError
from .objects import IndirectObject, Name, Ref, Stream

# T12 byte classifiers (reference util.rs:8-29; whitespace set
# {0,9,12,32,10,13}, delimiters ()<>[]{}/%).
WHITESPACE = frozenset(b"\x00\t\n\x0c\r ")
DELIMITERS = frozenset(b"()<>[]{}/%")
_DIGITS = frozenset(b"0123456789")
_NUMBER_START = frozenset(b"0123456789+-.")
_WS_BYTES = bytes(WHITESPACE)

# The token grammar.  _SKIP is whitespace and comments (T7: ``%`` to EOL);
# a regular byte is neither whitespace nor a delimiter.  Group numbers:
# 1 name body, 2 integer (3 the generation when ``N G R`` follows it), 4
# ``<<``, 5 ``>>``, 6 ``[``, 7 ``]``, 8 plain literal string (no escape,
# paren or CR), 9 keyword, 10 (empty) anything else, read by the helpers.
_WS = rb"[\x00\t\n\x0c\r ]"
_REG = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]"
_SKIP = rb"(?:[\x00\t\n\x0c\r ]++|%[^\r\n]*+)*+"
_TOKEN_RE = re.compile(
    _SKIP + rb"(?:/(" + _REG + rb"*+)"
    rb"|([+-]?\d++)(?!\.)(?:" + _WS + rb"++(\d++)" + _WS + rb"++R(?!" + _REG + rb"))?"
    rb"|(<<)|(>>)|(\[)|(\])|\(([^\\()\r]*+)\)"
    rb"|([^\x00\t\n\x0c\r ()<>\[\]{}/%0-9+\-.]" + _REG + rb"*+)|())"
)
_SKIP_RE = re.compile(_SKIP)
_STREAM_RE = re.compile(_SKIP + rb"stream(?!" + _REG + rb")")
_ENDOBJ_RE = re.compile(_SKIP + rb"endobj(?!" + _REG + rb")")
_HEADER_RE = re.compile(
    _SKIP + rb"(\d++)(?!\.)" + _SKIP + rb"(\d++)(?!\.)" + _SKIP + rb"obj(?!" + _REG + rb")"
)
_NUM_RE = re.compile(rb"[+-]?(?:[0-9]+(?:\.[0-9]*)?|\.[0-9]*)")
# token kind of each scanner group, as _next_token names it
_KINDS = (None, "name", "number", "number", "dict_open", "dict_close", "array_open",
          "array_close", "value", "keyword")
_KEYWORD_VALUES = {b"true": True, b"false": False, b"null": None}
_ARRAY, _KEY, _VALUE, _TOP = range(4)  # parse_value: what the next token is


def skip_ws(data: bytes, pos: int) -> int:
    """Skip whitespace and comments (T7: ``%...`` to EOL, reference
    pdf_file.rs:516-524; comments act as whitespace per spec)."""
    return _SKIP_RE.match(data, pos).end()


def _parse_literal_string(data: bytes, pos: int) -> tuple[bytes, int]:
    """T3 (reference pdf_file.rs:418-475): balanced parens, backslash
    escapes, octal ``\\ddd``, line continuation; in-string EOLs normalize
    to \\n (ISO 32000 §7.3.4.2)."""
    assert data[pos] == 0x28  # '('
    pos += 1
    depth = 1
    out = bytearray()
    n = len(data)
    while pos < n:
        c = data[pos]
        if c == 0x5C:  # backslash
            pos += 1
            if pos >= n:
                break
            e = data[pos]
            if e in _DIGITS and e < 0x38:  # octal digit 0-7
                val = 0
                k = 0
                while pos < n and k < 3 and 0x30 <= data[pos] <= 0x37:
                    val = val * 8 + (data[pos] - 0x30)
                    pos += 1
                    k += 1
                out.append(val & 0xFF)
                continue
            if e == 0x6E:
                out.append(0x0A)
            elif e == 0x72:
                out.append(0x0D)
            elif e == 0x74:
                out.append(0x09)
            elif e == 0x62:
                out.append(0x08)
            elif e == 0x66:
                out.append(0x0C)
            elif e in (0x28, 0x29, 0x5C):
                out.append(e)
            elif e == 0x0D:  # line continuation \<CR>[<LF>]
                if pos + 1 < n and data[pos + 1] == 0x0A:
                    pos += 1
            elif e == 0x0A:
                pass
            else:  # unknown escape: drop backslash (spec)
                out.append(e)
            pos += 1
        elif c == 0x28:
            depth += 1
            out.append(c)
            pos += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out), pos + 1
            out.append(c)
            pos += 1
        elif c == 0x0D:  # raw EOL -> \n
            out.append(0x0A)
            pos += 1
            if pos < n and data[pos] == 0x0A:
                pos += 1
        else:
            out.append(c)
            pos += 1
    raise ParsingError("unterminated literal string")


def _parse_hex_string(data: bytes, pos: int) -> tuple[bytes, int]:
    """T4 (reference pdf_file.rs:401-417): ``<...>``; both hex cases
    accepted (spec-correct vs util.rs:23-25); odd digit => trailing 0."""
    assert data[pos] == 0x3C
    end = data.find(b">", pos + 1)
    if end == -1:
        raise ParsingError("unterminated hex string")
    body = data[pos + 1 : end].translate(None, delete=_WS_BYTES)
    if len(body) % 2:
        body += b"0"
    try:
        return bytes.fromhex(body.decode("ascii")), end + 1
    except (ValueError, UnicodeDecodeError) as e:
        raise ParsingError(f"bad hex string: {e}") from e


_NAME_CACHE: dict = {}


def _name(body: bytes) -> Name:
    """T5 (reference pdf_file.rs:476-485) + spec ``#xx`` escapes: the name
    whose bytes after ``/`` are ``body``.  Names repeat heavily (/Type
    /Page /Length ...), so callers look ``body`` up in ``_NAME_CACHE``
    first; escape-free names are interned here, bounded so adversarial
    docs can't grow the cache without limit."""
    if b"#" not in body:
        name = Name(body.decode("latin-1"))
        if len(_NAME_CACHE) < 4096:
            _NAME_CACHE[body] = name
        return name
    out = bytearray()
    i = 0
    n = len(body)
    while i < n:
        c = body[i]
        if c == 0x23 and i + 2 < n:
            try:
                out.append(int(body[i + 1 : i + 3].decode("ascii"), 16))
                i += 3
                continue
            except (ValueError, UnicodeDecodeError):
                pass
        out.append(c)
        i += 1
    return Name(out.decode("latin-1"))


def _parse_number(data: bytes, pos: int):
    """T6 (reference pdf_file.rs:486-515): int vs real by '.'; leading
    sign; reals like ``.5`` / ``4.`` allowed by spec."""
    m = _NUM_RE.match(data, pos)
    if not m:
        raise ParsingError(f"malformed number at {pos}")
    text = m.group()
    if text in (b".", b"+.", b"-."):
        # digit-less form — report as a parse error (resync-able)
        raise ParsingError(f"malformed number at {pos}")
    if b"." in text:
        return float(text), m.end()
    return int(text), m.end()


def _next_token(data: bytes, pos: int):
    """One token: returns (kind, value, newpos) with kind in
    {'value','name','dict_open','dict_close','array_open','array_close',
    'keyword','number','eof'}."""
    m = _TOKEN_RE.match(data, pos)
    g = m.lastindex
    if g == 1:
        body = m.group(1)
        name = _NAME_CACHE.get(body)
        return "name", _name(body) if name is None else name, m.end()
    if g == 2:
        return "number", int(m.group(2)), m.end()
    if g == 3:  # an integer that heads ``N G R``: the token is N alone
        return "number", int(m.group(2)), m.end(2)
    if g == 8:
        return "value", m.group(8), m.end()
    if g == 9:
        return "keyword", m.group(9), m.end()
    if g != 10:
        return _KINDS[g], None, m.end()
    pos = m.end()
    if pos >= len(data):
        return "eof", None, pos
    c = data[pos]
    if c in _NUMBER_START:
        v, p = _parse_number(data, pos)
        return "number", v, p
    if c == 0x3C:  # '<' (never '<<' here)
        v, p = _parse_hex_string(data, pos)
        return "value", v, p
    if c == 0x3E:  # '>' (never '>>' here)
        raise ParsingError("stray '>'")
    if c == 0x28:
        v, p = _parse_literal_string(data, pos)
        return "value", v, p
    raise ParsingError(f"unexpected byte {c:#x} at {pos}")


class Tokenizer:
    """Value-level parser (T1-T10) and stream extraction (T11).
    ``length_resolver(Ref) -> int | None`` handles indirect ``/Length``
    (reference pdf_file.rs:647-656); when it cannot, we fall back to
    scanning for ``endstream`` (SURVEY.md §7.5)."""

    def __init__(self, data: bytes, length_resolver=None):
        self.data = data
        self.length_resolver = length_resolver

    # -- value parsing -----------------------------------------------------
    def parse_value(self, pos: int):
        """The value at ``pos`` -> ``(value, end)``.  One loop over the
        token scanner; ``stack`` holds the enclosing containers, ``mode``
        says what the open one wants next.  A dict that closes is a
        stream's attributes when the keyword ``stream`` follows it (T11).
        Each rare branch sets ``m`` to None once it has moved past the
        scanner's match, so ``end`` holds the value's end instead."""
        data = self.data
        match = _TOKEN_RE.scanner(data, pos).match
        stack: list = []  # (container, mode, key) of each enclosing container
        cur = key = end = None
        mode = _TOP
        pct = pos  # no '%' in [the last integer's end, pct)
        while True:
            m = match()
            g = m.lastindex
            if mode == _KEY:
                if g == 1:
                    body = m.group(1)
                    key = _NAME_CACHE.get(body)
                    if key is None:
                        key = _name(body)
                    mode = _VALUE
                    continue
                if g != 5:
                    kind = _KINDS[g] if g != 10 else _next_token(data, m.end())[0]
                    raise ParsingError(f"dict key must be a name, got {kind}")
                v = cur
                cur, mode, key = stack.pop()
                sm = _STREAM_RE.match(data, m.end())
                if sm is not None:
                    v, end = self._extract_stream(v, sm.end())
                    m = None
                    match = _TOKEN_RE.scanner(data, end).match
                elif mode == _TOP and _TOKEN_RE.match(data, m.end()).lastindex == 10:
                    _next_token(data, m.end())  # the peek past a dict raises what it reads
            elif g == 1:
                body = m.group(1)
                v = _NAME_CACHE.get(body)
                if v is None:
                    v = _name(body)
            elif g == 3:
                v = int(m.group(2))
                if v >= 0:
                    v = Ref(v, int(m.group(3)))
                else:  # a negative N heads no reference
                    end = m.end(2)
                    m = None
                    match = _TOKEN_RE.scanner(data, end).match
            elif g == 2:
                v = int(m.group(2))
                if v >= 0 and m.end() + 64 > pct:
                    # T9 with comments: ``N % c\n G R`` is a reference too;
                    # read G and R as tokens when a '%' lies within 64 bytes
                    end = m.end()
                    pct = data.find(b"%", end, end + 4096)
                    if pct == -1:
                        pct = end + 4096
                    elif pct < end + 64:
                        k2, v2, p2 = _next_token(data, end)
                        if k2 == "number" and type(v2) is int and v2 >= 0:
                            k3, v3, p3 = _next_token(data, p2)
                            if k3 == "keyword" and v3 == b"R":
                                v = Ref(v, v2)
                                end = p3
                                m = None
                                match = _TOKEN_RE.scanner(data, end).match
            elif g == 4 or g == 6:
                stack.append((cur, mode, key))
                if g == 4:
                    cur, mode = {}, _KEY
                else:
                    cur, mode = [], _ARRAY
                continue
            elif g == 7:
                if mode != _ARRAY:
                    raise ParsingError(f"unexpected token array_close at {m.start()}")
                v = cur
                cur, mode, key = stack.pop()
            elif g == 8:
                v = m.group(8)
            elif g == 9:
                v = m.group(9)
                if v not in _KEYWORD_VALUES:
                    if mode == _ARRAY:
                        raise ParsingError("unexpected keyword in array")
                    raise ParsingError(f"unexpected keyword {v!r} at {m.start()}")
                v = _KEYWORD_VALUES[v]
            elif g == 5:
                if mode == _ARRAY:
                    raise ParsingError("unexpected dict_close in array")
                raise ParsingError(f"unexpected token dict_close at {m.start()}")
            else:  # reals, hex and escaped strings, errors, the end
                kind, v, end = _next_token(data, m.end())
                if kind == "eof":
                    if mode == _ARRAY:
                        raise ParsingError("unterminated array")
                    raise ParsingError(f"unexpected token eof at {m.start()}")
                m = None
                match = _TOKEN_RE.scanner(data, end).match
            if mode == _ARRAY:
                cur.append(v)
            elif mode == _VALUE:
                cur[key] = v  # Name is a str subclass: hashes/compares as str
                mode = _KEY
            else:
                return v, end if m is None else m.end()

    def _extract_stream(self, attrs: dict, pos: int):
        """T11 (reference make_stream_object pdf_file.rs:601-671): payload
        begins after CRLF or LF following ``stream``; extent = /Length
        (direct, or indirect via resolver, else endstream scan)."""
        data = self.data
        if pos < len(data) and data[pos] == 0x0D:
            pos += 1
        if pos < len(data) and data[pos] == 0x0A:
            pos += 1
        length = attrs.get("Length")
        if isinstance(length, Ref):
            length = self.length_resolver(length) if self.length_resolver else None
        end = None
        if isinstance(length, int) and length >= 0 and pos + length <= len(data):
            end = pos + length
            # validate: 'endstream' should follow (possibly after EOL)
            probe = skip_ws(data, end)
            if data[probe : probe + 9] != b"endstream":
                end = None  # /Length lied; fall back to scan
        if end is None:
            scan = data.find(b"endstream", pos)
            if scan == -1:
                raise ParsingError("unterminated stream")
            end = scan
            # trim at most one EOL that belongs to the delimiter
            if end > pos and data[end - 1] == 0x0A:
                end -= 1
            if end > pos and data[end - 1] == 0x0D:
                end -= 1
        raw = bytes(data[pos:end])
        after = skip_ws(data, end)
        if data[after : after + 9] == b"endstream":
            after += 9
        return Stream(attrs=attrs, raw=raw, file_len=len(raw)), after

    # -- indirect objects ----------------------------------------------------
    def parse_indirect_at(self, pos: int) -> tuple[IndirectObject, int]:
        """T10: ``N G obj <value> endobj`` (reference pdf_file.rs:548-572,
        831-843).  The header and ``endobj`` are one match each; when a
        match fails, the token reads give today's results and errors (a
        signed or real header number is read, a missing ``endobj`` is
        not an error)."""
        data = self.data
        m = _HEADER_RE.match(data, pos)
        if m is not None:
            obj_id, gen, p3 = int(m.group(1)), int(m.group(2)), m.end()
        else:
            k1, v1, p1 = _next_token(data, pos)
            k2, v2, p2 = _next_token(data, p1)
            k3, v3, p3 = _next_token(data, p2)
            if k1 != "number" or k2 != "number" or k3 != "keyword" or v3 != b"obj":
                raise ParsingError(f"expected 'N G obj' at {pos}")
            obj_id, gen = int(v1), int(v2)
        value, p = self.parse_value(p3)
        m = _ENDOBJ_RE.match(data, p)
        if m is not None:
            p = m.end()
        else:
            _next_token(data, p)  # raises what a bad token after the value raises
        return IndirectObject(obj_id, gen, value), p
