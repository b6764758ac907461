"""PDF object model — the Spark-side analog of the reference's tagged union.

Reference: /root/reference/src/pdf_doc/pdf_objects/pdf_objects.rs:102-122
(``PdfData`` enum + ``PdfObjectReference``).  The reference shares objects via
``Rc<RefCell<...>>`` pointer graphs; here objects are plain Python values
(hashable keys, no shared mutability) because the object graph only ever
lives *inside* one Arrow-batch UDF call — across DataFrame boundaries objects
are serialized to a tagged struct / JSON (see schema.py) and reference
resolution becomes a join.

Mapping (SURVEY.md §1.2):
    Boolean      -> bool
    NumberInt    -> int            (i32 semantics at the boundary)
    NumberFloat  -> float
    Name         -> Name (str subclass, interned key type)
    CharString   -> bytes          (decoded to str only at the text boundary)
    HexString    -> bytes
    Array        -> list
    Dictionary   -> dict[str, obj]
    Streams      -> Stream (dict attrs + raw/decoded payloads)
    Null         -> None
    Reference    -> Ref(obj_id, gen)
"""

from __future__ import annotations

from dataclasses import dataclass


class Name(str):
    """A PDF name (``/Type``).  Distinct from literal strings: names are
    dictionary keys / enum values (reference pdf_objects.rs:107)."""

    __slots__ = ()

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"/{str(self)}"


@dataclass(frozen=True)
class Ref:
    """Indirect reference ``N G R`` (reference pdf_objects.rs:118-122).

    Resolution is *not* a pointer chase here: within a UDF it is a lookup
    in the document's object table (``extract.ObjectTable``), which parses
    the object on its first lookup; across DataFrames it is an equi-join
    on ``(doc_id, obj_id, gen)`` (SURVEY.md §2.4 A1/A2).
    """

    obj_id: int
    gen: int


@dataclass
class Stream:
    """Stream object: dict attributes + payload (reference decode.rs:10-27).

    ``raw`` is the undecoded payload sliced between ``stream``/``endstream``
    (decrypted in place when its object is read); ``data`` is its filter
    decode (filters.py), None for an image, a media chain or a payload
    that did not decode.  ``kind`` is 'image' for exactly those streams
    (decode.rs:261-271, SURVEY.md §2.5 D1/D8), else 'unknown'.
    """

    attrs: dict
    raw: bytes
    data: bytes | None = None
    kind: str = "unknown"
    # length of the payload as stored in the FILE: /Length describes these
    # bytes, so the D9 validation must compare against this even after
    # in-place decryption rewrites ``raw`` (AES strips IV + padding)
    file_len: int | None = None


@dataclass
class IndirectObject:
    """``N G obj ... endobj`` (reference pdf_file.rs:548-572)."""

    obj_id: int
    gen: int
    value: object


MAX_REF_DEPTH = 32


def resolve(value, objects: dict, _depth: int = 0):
    """Transparently dereference ``Ref`` chains (reference
    pdf_objects.rs:216-301 resolves on every accessor).  Chains are shallow
    in practice; depth-capped to avoid cycles.  Missing keys fall back to
    gen=0 (common writer behavior) and finally to None — the caller records
    a ReferenceError metric, mirroring main.rs:36-40."""
    while isinstance(value, Ref):
        if _depth > MAX_REF_DEPTH:
            return None
        key = (value.obj_id, value.gen)
        if key in objects:
            value = objects[key]
        elif (value.obj_id, 0) in objects:
            value = objects[(value.obj_id, 0)]
        else:
            return None
        _depth += 1
    return value


def get_resolved(d: dict, key: str, objects: dict, default=None):
    """``try_to_get`` + transparent deref (reference pdf_objects.rs:216-235)."""
    if not isinstance(d, dict):
        return default
    v = d.get(key, default)
    return resolve(v, objects) if v is not default else default
