"""Content-stream tokenization — text and XObject operators.

The reference declares but never implements this surface: ``StreamType::
Content`` (/root/reference/src/pdf_doc/pdf_file/pdf_file.rs:705), the empty
``ContentStream`` struct (pdf_objects.rs:477) and the token-stream design
notes in the dead prototype (/root/reference/src/bin/old_code/temp.rs:35-65).
Semantics come from ISO 32000 §8.2/§9.4 (required by BASELINE.json:6).

Content streams are *postfix*: operands are pushed, operators pop them —
exactly the reference's object-buffer discipline for ``R`` (pdf_file.rs:
347-384) generalized.  We reuse the object tokenizer for operands and treat
unknown tokens as operators.

Emitted events (per stream, in byte order):
    ('text',  offset, font_name, operand_bytes)   for Tj / ' / "
    ('textarr', offset, font_name, [bytes|num])   for TJ
    ('media', offset, xobject_name)               for Do
    ('inline', offset, INLINE_MEDIA_REF)          for BI..ID..EI
Positioning operators (Td/TD/Tm/T*) only delimit ordering here — the span
order invariant is byte order within the stream, page order across streams.
"""

from __future__ import annotations

from .errors import ParsingError
from .objects import Name
from .tokenizer import DELIMITERS, WHITESPACE, _next_token

# inline images (ISO 32000 §8.9.7) are self-contained — no XObject name to
# resolve — so they surface with this sentinel media_ref
INLINE_MEDIA_REF = "__inline__"


def _inline_image(data: bytes, pos: int) -> tuple[dict, bytes | None, int]:
    """Read ``BI <params> ID <binary> EI`` starting just after the ``BI``
    keyword: ``(params, payload, end)``, ``end`` the position after
    ``EI``.  Params keep their abbreviated keys (W/H/BPC/CS/F/DP/D/IM).
    The binary payload would desync the postfix tokenizer (real PDFs hit
    this regularly), and a naive find would truncate on binary bytes that
    merely contain 'EI', so every reader of content streams ends the
    image by this one rule: an ``EI`` followed by a delimiter, whitespace
    or the end, and preceded by whitespace — or, since §8.9.7 does not
    require that whitespace, ending a payload of exactly the length the
    declared geometry gives.  An unterminated image swallows the rest
    (lenient); ``payload`` is None when the parameters never reach
    ``ID``."""
    n = len(data)
    params: dict = {}
    key = None
    arr = None
    while pos < n:  # parameter dict: ordinary name/number tokens up to ID
        try:
            kind, val, p = _next_token(data, pos)
        except ParsingError:
            pos += 1
            continue
        if kind == "eof":
            return params, None, n
        pos = p
        if kind == "keyword" and val == b"ID":
            break
        if arr is not None:
            if kind == "array_close":
                params[key] = arr
                key, arr = None, None
            elif kind in ("number", "name", "value"):
                arr.append(val)
            continue
        if kind == "name" and key is None:
            key = str(val)
        elif key is not None:
            if kind == "array_open":
                arr = []
            else:
                params[key] = val
                key = None
    if pos < n and data[pos] in WHITESPACE:
        pos += 1  # exactly one whitespace separates ID from the payload
    start = pos
    expected = _inline_payload_len(params)
    i = pos
    while True:
        i = data.find(b"EI", i)
        if i == -1:
            return params, data[start:], n
        prev_ws = i == 0 or data[i - 1] in WHITESPACE
        nxt = data[i + 2] if i + 2 < n else None
        nxt_ok = nxt is None or nxt in WHITESPACE or nxt in DELIMITERS
        geom_ok = expected is not None and i - start == expected
        if nxt_ok and (prev_ws or geom_ok):
            if geom_ok:
                end = i
            else:
                end = i - 1 if i > start else i  # drop the delimiting ws
            return params, data[start:end], i + 2
        i += 2


def _num(v) -> float | None:
    return float(v) if isinstance(v, (int, float)) else None


_DICT_MARK = object()  # sentinel for an open inline dict on the stack


def tokenize_content(
    data: bytes,
    layout: bool = False,
    advance: bool = False,
    hidden_props: frozenset | set | None = None,
    mcid: bool = False,
    gs_fonts: dict | None = None,
):
    """Run the postfix machine over one decoded content stream.

    MARKED CONTENT (ISO 32000 §14.6, §14.9.4, §8.11.3): ``BDC`` whose
    inline property list carries ``/ActualText`` swallows the enclosed
    show events and emits ONE ``('atext', at, None, bytes)`` replacement
    event — positioned (layout modes) at the FIRST suppressed show, the
    glyphs the text replaces — carrying the raw PDF text string (decode
    with ``cmap.pdf_text_string``, NOT a font).  ``/OC <name> BDC`` whose
    name is in ``hidden_props`` (the caller resolves the page's
    /Properties entries against the catalog's /OCProperties /D /OFF
    configuration) suppresses everything inside — text, media and inline
    images never existed for extraction, matching viewer behavior for
    switched-off optional-content layers.  Both regions nest and a hide
    region dominates an ActualText one.  Property lists given as a NAME
    (indirection through /Properties) are honored for /OC only; an
    /ActualText reached by name indirection is not modeled (rare —
    documented).

    With ``layout=True``, the positioning operators are INTERPRETED rather
    than order-only: the machine tracks the text-line origin through
    BT (reset), Td/TD (relative translate), Tm (absolute: e, f), TL
    (leading), T* (next line), and the implicit T* of ``'``/``"``
    (ISO 32000 §9.4.2), and text events carry three extra fields
    (x, y, fsize) — the line origin and current Tf size at the show op.  Glyph-width advance within a line is
    NOT modeled here (needs /Widths; extractors conventionally report the
    line origin), and Tm's rotation/scale components are ignored
    (translation only) — both documented approximations.  Event shapes are
    unchanged when ``layout=False`` (every pre-existing caller).

    With ``advance=True`` (implies layout), the machine ALSO tracks the
    character/word-spacing/scaling state (Tc/Tw/Tz, §9.3.2-9.3.4), the
    text rise (Ts, §9.3.7) and render mode (Tr, §9.3.6), and a per-line
    show-op counter, and text events carry six more fields:
    (..., tc_milli, tw_milli, tz_pct, seg, rise_milli, tr_mode).  ``seg``
    resets to 0 on every positioning operator (BT/Td/TD/Tm/T* and the
    implicit T* of '/") so the caller — which owns the font /Widths
    tables — can reset its advance cursor at each new line and accumulate
    glyph widths across same-line show ops (core/extract.py
    ``extract_advance_spans``).  Tc/Tw/Ts are exact milli-point ints, Tz
    an int percent: the caller's cursor math stays in exact integer
    micro-points.  Rise displaces the BASELINE of subsequent shows (the
    caller adds it to y); render mode 3 (invisible — the OCR-text-layer
    convention) still advances the cursor and still emits the span: for
    extraction the text layer IS the content, so visibility is reported,
    never used to drop text.  Neither is reset by BT — text state
    persists across text objects (§9.3.1, Table 103).

    With ``mcid=True`` (tagged-PDF support, §14.6.1/§14.7.5.3), every
    text/textarr/atext event gains ONE trailing field: the marked-content
    identifier of the innermost enclosing ``BDC`` whose property list
    carries ``/MCID`` (an int), or None when the show op sits outside any
    identified sequence (untagged/artifact content).  The structure-tree
    walker (core/extract.py ``extract_tagged_spans``) joins these against
    the /StructTreeRoot's depth-first leaf order to recover LOGICAL
    reading order independent of drawing order."""
    if advance:
        layout = True
    events = []
    stack: list = []
    font: str | None = None
    x = y = 0.0  # text-line origin (valid while layout=True)
    fsize = 0.0  # current font size from Tf (0 until the first Tf)
    leading = 0.0
    tc = tw = 0  # Tc/Tw in milli-points (valid while advance=True)
    tz = 100  # Tz percent
    rise = 0  # Ts in milli-points (§9.3.7)
    tr = 0  # Tr render mode (§9.3.6; 3 = invisible)
    seg = 0  # show ops since the last positioning operator
    mc_stack: list = []  # open BMC/BDC modes: None | 'hide' | 'atext'
    mcid_stack: list = []  # parallel: /MCID int per open region, else None
    mcid_cur: int | None = None  # innermost open MCID (valid while mcid=True)
    hide_n = 0  # open hidden-OCG regions
    atext_n = 0  # open ActualText regions
    pending_atext: bytes | None = None  # replacement awaiting first show
    pos = 0
    n = len(data)

    # hoisted out of the token loop (defining it per-operator would cost a
    # MAKE_FUNCTION in the hot path); reads at/font/x/y at call time
    def _emit(kind, payload):
        nonlocal seg, pending_atext
        if hide_n:
            return
        if atext_n:
            # the marked sequence's shows are replaced by the ActualText
            # string, positioned where the replaced glyphs are drawn
            if pending_atext is None:
                return
            kind, payload = "atext", pending_atext
            pending_atext = None
        if advance:
            ev = (kind, at, font, payload, x, y, fsize, tc, tw, tz, seg, rise, tr)
            seg += 1
        elif layout:
            ev = (kind, at, font, payload, x, y, fsize)
        else:
            ev = (kind, at, font, payload)
        events.append(ev + (mcid_cur,) if mcid else ev)

    while pos < n:
        try:
            kind, val, p = _next_token(data, pos)
        except ParsingError:
            # skip one byte and resync — lenient mode must not lose the doc
            pos += 1
            continue
        if kind == "eof":
            break
        at = pos
        pos = p
        if kind in ("value", "name", "number"):
            stack.append(val)
            continue
        if kind == "array_open":
            stack.append("[")
            continue
        if kind == "array_close":
            arr = []
            while stack and stack[-1] != "[":
                arr.append(stack.pop())
            if stack:
                stack.pop()
            arr.reverse()
            stack.append(arr)
            continue
        if kind == "dict_open":
            stack.append(_DICT_MARK)
            continue
        if kind == "dict_close":
            # build the inline dict (BDC/DP property lists): pairs of
            # name -> value back to the opening marker
            items: list = []
            while stack and stack[-1] is not _DICT_MARK:
                items.append(stack.pop())
            if stack:
                stack.pop()
            items.reverse()
            d: dict = {}
            for j in range(0, len(items) - 1, 2):
                if isinstance(items[j], Name):
                    d[str(items[j])] = items[j + 1]
            stack.append(d)
            continue
        # keyword = operator
        op = val
        if op == b"Tf":
            if len(stack) >= 2 and isinstance(stack[-2], Name):
                font = str(stack[-2])
                if layout:
                    sz = _num(stack[-1])
                    if sz is not None:
                        fsize = sz
            stack.clear()
        elif op == b"Tj":
            if stack and isinstance(stack[-1], bytes):
                _emit("text", stack[-1])
            stack.clear()
        elif op == b"'":
            if layout:
                y -= leading  # implicit T* before showing
                seg = 0
            if stack and isinstance(stack[-1], bytes):
                _emit("text", stack[-1])
            stack.clear()
        elif op == b'"':
            if layout:
                y -= leading
                seg = 0
            # " sets word/char spacing BEFORE showing (aw ac string ", §9.4.3)
            if advance and len(stack) >= 3:
                aw, ac = _num(stack[-3]), _num(stack[-2])
                if aw is not None:
                    tw = int(round(aw * 1000))
                if ac is not None:
                    tc = int(round(ac * 1000))
            if stack and isinstance(stack[-1], bytes):
                _emit("text", stack[-1])
            stack.clear()
        elif op == b"TJ":
            if stack and isinstance(stack[-1], list):
                _emit("textarr", stack[-1])
            stack.clear()
        elif layout and op == b"BT":
            x = y = 0.0
            seg = 0
            stack.clear()
        elif layout and op in (b"Td", b"TD"):
            if len(stack) >= 2:
                dx, dy = _num(stack[-2]), _num(stack[-1])
                if dx is not None and dy is not None:
                    x += dx
                    y += dy
                    if op == b"TD":
                        leading = -dy
            seg = 0
            stack.clear()
        elif layout and op == b"Tm":
            if len(stack) >= 6:
                e, f = _num(stack[-2]), _num(stack[-1])
                if e is not None and f is not None:
                    x, y = e, f
            seg = 0
            stack.clear()
        elif layout and op == b"TL":
            if stack:
                tl = _num(stack[-1])
                if tl is not None:
                    leading = tl
            stack.clear()
        elif layout and op == b"T*":
            y -= leading
            seg = 0
            stack.clear()
        elif advance and op == b"Tc":
            if stack:
                v = _num(stack[-1])
                if v is not None:
                    tc = int(round(v * 1000))
            stack.clear()
        elif advance and op == b"Tw":
            if stack:
                v = _num(stack[-1])
                if v is not None:
                    tw = int(round(v * 1000))
            stack.clear()
        elif advance and op == b"Tz":
            if stack:
                v = _num(stack[-1])
                if v is not None:
                    tz = int(round(v))
            stack.clear()
        elif advance and op == b"Ts":
            if stack:
                v = _num(stack[-1])
                if v is not None:
                    rise = int(round(v * 1000))
            stack.clear()
        elif advance and op == b"Tr":
            if stack:
                v = _num(stack[-1])
                if v is not None:
                    tr = int(v)
            stack.clear()
        elif op == b"BMC":
            mc_stack.append(None)
            mcid_stack.append(None)
            stack.clear()
        elif op == b"BDC":
            mode = None
            mid = None
            if len(stack) >= 2:
                tag, props = stack[-2], stack[-1]
                if isinstance(props, dict) and isinstance(props.get("MCID"), int):
                    mid = props["MCID"]
                if (
                    isinstance(props, dict)
                    and isinstance(props.get("ActualText"), (bytes, bytearray))
                    and not atext_n
                    and not hide_n
                ):
                    mode = "atext"
                    pending_atext = bytes(props["ActualText"])
                elif (
                    isinstance(tag, Name)
                    and str(tag) == "OC"
                    and isinstance(props, Name)
                    and hidden_props
                    and str(props) in hidden_props
                ):
                    mode = "hide"
            mc_stack.append(mode)
            mcid_stack.append(mid)
            if mid is not None:
                mcid_cur = mid
            if mode == "atext":
                atext_n += 1
            elif mode == "hide":
                hide_n += 1
            stack.clear()
        elif op == b"EMC":
            if mc_stack:
                m = mc_stack.pop()
                mcid_stack.pop()
                # recompute the innermost open MCID (sequences with /MCID
                # do not nest in practice, but stay correct if they do)
                mcid_cur = next(
                    (v for v in reversed(mcid_stack) if v is not None), None
                )
                if m == "atext":
                    if pending_atext is not None:
                        # region held no show op: emit at the current state
                        # (while atext_n is still open so _emit routes it)
                        _emit("text", b"")
                    atext_n -= 1
                elif m == "hide":
                    hide_n -= 1
            stack.clear()
        elif op == b"Do":
            if stack and isinstance(stack[-1], Name):
                if not hide_n and not atext_n:
                    events.append(("media", at, str(stack[-1])))
            stack.clear()
        elif op == b"BI":
            pos = _inline_image(data, pos)[2]
            if not hide_n and not atext_n:
                events.append(("inline", at, INLINE_MEDIA_REF))
            stack.clear()
        elif op == b"gs":
            # §8.4.5 Table 58: an ExtGState dict may carry /Font
            # [font size] — gs then selects the font exactly like Tf.
            # The caller resolves which /ExtGState names do (``gs_fonts``
            # maps name -> size); a gs naming a font-less state (alpha,
            # line width, ...) must NOT clobber the current font.
            if stack and isinstance(stack[-1], Name) and gs_fonts:
                nm = str(stack[-1])
                if nm in gs_fonts:
                    font = "__gs__" + nm
                    if layout and gs_fonts[nm] is not None:
                        fsize = float(gs_fonts[nm])
            stack.clear()
        else:
            # BT/ET/Td/TD/Tm/T*/TL/graphics ops: ordering-only here
            stack.clear()
    return events


# path-painting operator classes (ISO 32000 §8.5.3): B-family ops both
# fill AND stroke; `n` is a no-op (ends the path, used after W/W* clips)
_STROKE_OPS = frozenset((b"S", b"s", b"B", b"B*", b"b", b"b*"))
_FILL_OPS = frozenset((b"f", b"F", b"f*", b"B", b"B*", b"b", b"b*"))
_CURVE_OPS = frozenset((b"c", b"v", b"y"))


def graphics_stats(data: bytes) -> dict:
    """Vector-graphics summary of one decoded content stream (ISO 32000
    §8.5: path construction m/l/c/v/y/re/h, path painting S/s/f/F/f*/
    B/B*/b/b*/n, clipping W/W*).  The third content class next to text
    and images — the reference never reaches it (content streams are a
    declared-only surface, pdf_file.rs:705); counting it gives the
    corpus-level "how much of this page is drawing vs text" signal a
    layout classifier needs.

    Returns integer counters: ``n_rects`` (re), ``n_lines`` (l),
    ``n_curves`` (c/v/y), ``n_subpaths`` (m), ``n_strokes`` /
    ``n_fills`` (painting ops; the B family counts as both), ``n_clips``
    (W/W*), and ``rect_area`` — the summed |w·h| of every ``re`` operand
    quadruple, rounded to an int (synth geometry is integral).  Inline
    images are skipped with the same BI..EI rule as tokenize_content;
    ops inside hidden/ActualText marked regions still count (visibility
    is a viewer concern; the DRAWING exists in the stream)."""
    nums: list[float] = []
    out = {
        "n_rects": 0,
        "n_lines": 0,
        "n_curves": 0,
        "n_subpaths": 0,
        "n_strokes": 0,
        "n_fills": 0,
        "n_clips": 0,
        "rect_area": 0,
    }
    pos = 0
    n = len(data)
    while pos < n:
        try:
            kind, val, p = _next_token(data, pos)
        except ParsingError:
            pos += 1
            continue
        if kind == "eof":
            break
        pos = p
        if kind == "number":
            nums.append(float(val))
            if len(nums) > 6:
                del nums[0]
            continue
        if kind != "keyword":
            if kind in ("value", "name"):
                continue  # string/name operands never feed path ops
            nums.clear()
            continue
        if val == b"re":
            out["n_rects"] += 1
            if len(nums) >= 2:
                out["rect_area"] += int(round(abs(nums[-2] * nums[-1])))
        elif val == b"l":
            out["n_lines"] += 1
        elif val == b"m":
            out["n_subpaths"] += 1
        elif val in _CURVE_OPS:
            out["n_curves"] += 1
        elif val in (b"W", b"W*"):
            out["n_clips"] += 1
        elif val == b"BI":
            pos = _inline_image(data, pos)[2]
        else:
            if val in _STROKE_OPS:
                out["n_strokes"] += 1
            if val in _FILL_OPS:
                out["n_fills"] += 1
        nums.clear()
    return out


def parse_inline_images(data: bytes) -> list:
    """Inline images (§8.9.7): every ``BI <params> ID <binary> EI`` in
    one decoded content stream -> (params, payload) pairs, each read by
    :func:`_inline_image`, the rule every content reader shares."""
    out: list = []
    pos = 0
    n = len(data)
    while pos < n:
        try:
            kind, val, p = _next_token(data, pos)
        except ParsingError:
            pos += 1
            continue
        if kind == "eof":
            break
        pos = p
        if kind == "keyword" and val == b"BI":
            params, payload, pos = _inline_image(data, pos)
            if payload is not None:
                out.append((params, payload))
    return out


_INLINE_NCOMP = {
    "RGB": 3, "DeviceRGB": 3, "CMYK": 4, "DeviceCMYK": 4,
    "G": 1, "DeviceGray": 1, "I": 1, "Indexed": 1,
}


def _inline_payload_len(params: dict):
    """Expected unfiltered inline-image payload length from the declared
    geometry (§8.9.7: rows are byte-aligned), or None when a filter is
    present / the geometry is unusable."""
    if params.get("F") is not None or params.get("Filter") is not None:
        return None
    try:
        w = int(params.get("W", params.get("Width", 0)))
        h = int(params.get("H", params.get("Height", 0)))
        if params.get("IM") in (True, b"true", "true") or params.get(
            "ImageMask"
        ) in (True, b"true", "true"):
            ncomp, bpc = 1, 1
        else:
            bpc = int(params.get("BPC", params.get("BitsPerComponent", 8)))
            cs = params.get("CS", params.get("ColorSpace"))
            ncomp = _INLINE_NCOMP.get(str(cs), None) if cs is not None else 1
        if ncomp is None or w <= 0 or h <= 0 or bpc <= 0:
            return None
        return ((w * ncomp * bpc + 7) // 8) * h
    except (TypeError, ValueError):
        return None


def shading_ops(data: bytes) -> dict:
    """Count §8.7.4.5 ``/Name sh`` paint operations per shading name in
    one decoded content stream.  Inline images are skipped with the
    BI..EI rule; a bare ``sh`` with no preceding name is ignored
    (malformed, lenient)."""
    out: dict = {}
    last_name = None
    pos = 0
    n = len(data)
    while pos < n:
        try:
            kind, val, p = _next_token(data, pos)
        except ParsingError:
            pos += 1
            continue
        if kind == "eof":
            break
        pos = p
        if kind == "name":
            last_name = str(val)
            continue
        if kind == "keyword":
            if val == b"sh" and last_name is not None:
                out[last_name] = out.get(last_name, 0) + 1
            elif val == b"BI":
                pos = _inline_image(data, pos)[2]
        last_name = None
    return out
