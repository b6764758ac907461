"""Object tokenizer units — mirrors the reference's byte-classifier and
parser suites (util.rs:66-108, pdf_file.rs:858-905) on synthesized byte
fixtures, asserting spec-correct semantics."""

from __future__ import annotations

import pytest

from pdfparser_spark.core.errors import ParsingError
from pdfparser_spark.core.objects import Name, Ref, Stream
from pdfparser_spark.core.tokenizer import Tokenizer


def parse(b: bytes):
    v, _ = Tokenizer(b).parse_value(0)
    return v


def test_numbers():
    assert parse(b"42") == 42
    assert parse(b"-17") == -17
    assert parse(b"+3") == 3
    assert parse(b"3.14") == pytest.approx(3.14)
    assert parse(b".5") == pytest.approx(0.5)
    assert parse(b"4.") == pytest.approx(4.0)


def test_booleans_null():
    assert parse(b"true") is True
    assert parse(b"false") is False
    assert parse(b"null") is None


def test_name_with_hex_escape():
    assert parse(b"/Name#20With#2FStuff") == Name("Name With/Stuff")


def test_literal_string_escapes():
    # spec-correct CR/LF escapes (reference pdf_file.rs:428,435 compares 15/12)
    assert parse(rb"(a\nb\rc\td\(e\)f\\g)") == b"a\nb\rc\td(e)f\\g"


def test_literal_string_octal():
    assert parse(rb"(\110ello \165p)") == b"Hello up"


def test_literal_string_nested_parens_and_continuation():
    assert parse(b"(a(b)c)") == b"a(b)c"
    assert parse(b"(one\\\ntwo)") == b"onetwo"


def test_literal_string_raw_eol_normalized():
    assert parse(b"(a\r\nb\rc)") == b"a\nb\nc"


def test_hex_string_both_cases_and_odd():
    assert parse(b"<48656C6C6F>") == b"Hello"
    assert parse(b"<48656c6c6f>") == b"Hello"  # lowercase (spec-correct)
    assert parse(b"<7>") == b"\x70"


def test_array_with_refs():
    # 3-token lookahead: [1 2 0 R 4] -> [1, Ref(2,0), 4]
    assert parse(b"[1 2 0 R 4]") == [1, Ref(2, 0), 4]


def test_nested_dict():
    v = parse(b"<< /A << /B [1 2] >> /C (x) >>")
    assert v == {"A": {"B": [1, 2]}, "C": b"x"}


def test_dict_non_name_key_errors():
    with pytest.raises(ParsingError):
        parse(b"<< (str) 1 >>")


def test_comment_skipped():
    assert parse(b"% comment\n42") == 42


def test_indirect_object():
    tok = Tokenizer(b"7 0 obj\n<< /K 1 >>\nendobj")
    ind, _ = tok.parse_indirect_at(0)
    assert (ind.obj_id, ind.gen) == (7, 0)
    assert ind.value == {"K": 1}


def test_stream_direct_length():
    data = b"<< /Length 5 >>\nstream\nHELLO\nendstream"
    v = parse(data)
    assert isinstance(v, Stream)
    assert v.raw == b"HELLO"


def test_stream_indirect_length_with_resolver():
    data = b"<< /Length 9 0 R >>\nstream\nWORLD\nendstream"
    v, _ = Tokenizer(data, length_resolver=lambda ref: 5).parse_value(0)
    assert v.raw == b"WORLD"


def test_stream_endstream_scan_fallback():
    # /Length lies; fall back to scanning (reference would mis-slice)
    data = b"<< /Length 999 >>\nstream\nABCDE\nendstream"
    v = parse(data)
    assert v.raw == b"ABCDE"


def test_gen_numbers_nonzero():
    assert parse(b"[12 3 R]") == [Ref(12, 3)]


# Characterization of the value parser: the exact value and end position,
# or the exact ParsingError message, for the edge shapes of the token
# grammar (signed and real reference heads, comments inside ``N G R``,
# escapes, the peek after a dict, every container error).
_PARSE_VALUE_CASES = [
    (b"-0 0 R", Ref(0, 0), 6),
    (b"+5 0 R", Ref(5, 0), 6),
    (b"5.0 0 R", 5.0, 3),
    (b"[-3 0 R]", "unexpected keyword in array", None),
    (b"[5.0 0 R]", "unexpected keyword in array", None),
    (b"007 0 R", Ref(7, 0), 7),
    (b"<< /A 3 0 R /B [4 0 R 5 1 R] >>", {"A": Ref(3, 0), "B": [Ref(4, 0), Ref(5, 1)]}, 31),
    (b"7 % c\n0 R", Ref(7, 0), 9),
    (b"7 0 % c\nR", Ref(7, 0), 9),
    (b"[7 % c\n0 R 8]", [Ref(7, 0), 8], 13),
    (b"1 0 Rx", 1, 1),
    (b"[1 0 Rx]", "unexpected keyword in array", None),
    (b"1 2 )", 1, 1),
    (b"1 2 ) %", "unexpected byte 0x29 at 4", None),
    (b"1 +x %", "malformed number at 2", None),
    (b"/A#20B", Name("A B"), 6),
    (b"/", Name(""), 1),
    (b"[/ /A]", [Name(""), Name("A")], 6),
    (b"<</A/B/C[1 2 3]>>", {"A": Name("B"), "C": [1, 2, 3]}, 17),
    (rb"(a\(b\)c)", b"a(b)c", 9),
    (b"(a(b)c)", b"a(b)c", 7),
    (b"(a\rb)", b"a\nb", 5),
    (b"(a\\\r\nb)", b"ab", 7),
    (b"(abc", "unterminated literal string", None),
    (b"<414>", b"A@", 5),
    (b"<41 4 2>", b"AB", 8),
    (b"<zz>", "bad hex string: non-hexadecimal number found in fromhex() arg at position 0", None),
    (b"[1.5 .5 4. -.5]", [1.5, 0.5, 4.0, -0.5], 15),
    (b"-", "malformed number at 0", None),
    (b"+.", "malformed number at 0", None),
    (b"true false null", True, 4),
    (b"<< /A 1 >> % c\n", {"A": 1}, 10),
    (b"<<>>{", "unexpected byte 0x7b at 4", None),
    (b"<<>>)", "unexpected byte 0x29 at 4", None),
    (b"[<<>>{]", "unexpected byte 0x7b at 5", None),
    (b"[<<>>)]", "unexpected byte 0x29 at 5", None),
    (b">", "stray '>'", None),
    (b"[>]", "stray '>'", None),
    (b"<< 1 2 >>", "dict key must be a name, got number", None),
    (b"<< (s) 1 >>", "dict key must be a name, got value", None),
    (b"<< /K 1 0 obj >>", "dict key must be a name, got number", None),
    (b"<<", "dict key must be a name, got eof", None),
    (b"[1 2", "unterminated array", None),
    (b"[", "unterminated array", None),
    (b"[1 >> ]", "unexpected dict_close in array", None),
    (b"R", "unexpected keyword b'R' at 0", None),
    (b"[R]", "unexpected keyword in array", None),
    (b"<< /A R >>", "unexpected keyword b'R' at 5", None),
    (b"<< /K foo >>", "unexpected keyword b'foo' at 5", None),
    (b"<< /A >>", "unexpected token dict_close at 5", None),
    (b"<< /A ]", "unexpected token array_close at 5", None),
    (b"   ", "unexpected token eof at 0", None),
    (b"<< /A << /Length 3 >> stream\nabc\nendstream >>", {"A": (b"abc", {"Length": 3})}, 45),
    (b"[<< /Length 3 >>\nstream\nabc\nendstream 1]", [(b"abc", {"Length": 3}), 1], 40),
]


def _plain(v):
    """A parsed value with every Stream as ``(raw, attrs)``."""
    if isinstance(v, Stream):
        return (v.raw, _plain(v.attrs))
    if isinstance(v, list):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    return v


@pytest.mark.parametrize("src,want,end", _PARSE_VALUE_CASES, ids=[repr(c[0]) for c in _PARSE_VALUE_CASES])
def test_parse_value_characterization(src, want, end):
    if end is None:
        with pytest.raises(ParsingError) as e:
            Tokenizer(src).parse_value(0)
        assert str(e.value) == want
        return
    v, p = Tokenizer(src).parse_value(0)
    assert (_plain(v), type(v), p) == (want, type(want), end)


_INDIRECT_CASES = [
    (b"1 0 obj 5 endobj", (1, 0, 5), 16),
    (b"-1 0 obj 5 endobj", (-1, 0, 5), 17),
    (b"+1 0 obj 5 endobj", (1, 0, 5), 17),
    (b"1.5 2 obj 5 endobj", (1, 2, 5), 18),
    (b"1 0obj 5 endobj", (1, 0, 5), 15),
    (b"1 %c\n0 obj 5 % c\nendobj", (1, 0, 5), 23),
    (b"1 0 obj 5", (1, 0, 5), 9),
    (b"1 0 obj 5 endobjx", (1, 0, 5), 9),
    (b"1 0 obj << >> x", (1, 0, {}), 13),
    (b"1 0 obj 5 )", "unexpected byte 0x29 at 10", None),
    (b"1 0 objx 5", "expected 'N G obj' at 0", None),
    (b"x", "expected 'N G obj' at 0", None),
    (b"1 - obj", "malformed number at 2", None),
    (b"1 0 obj", "unexpected token eof at 7", None),
]


@pytest.mark.parametrize("src,want,end", _INDIRECT_CASES, ids=[repr(c[0]) for c in _INDIRECT_CASES])
def test_parse_indirect_characterization(src, want, end):
    if end is None:
        with pytest.raises(ParsingError) as e:
            Tokenizer(src).parse_indirect_at(0)
        assert str(e.value) == want
        return
    ind, p = Tokenizer(src).parse_indirect_at(0)
    assert ((ind.obj_id, ind.gen, ind.value), p) == (want, end)
