"""PDF object model.

Mirrors the variant type of the reference (`src/objects.rs:25-37`:
Null/True/False/Integer/Real/String/Name/Array/Stream/Dictionary/Reference)
using native Python values where possible:

- Null      -> ``None``
- Boolean   -> ``bool``
- Integer   -> ``int``
- Real      -> ``float``
- String    -> ``PdfString`` (bytes subclass; decoding is font-dependent so
  raw bytes are preserved until text showing)
- Name      -> ``Name`` (str subclass)
- Array     -> ``list``
- Dictionary-> ``dict`` (str keys)
- Stream    -> ``Stream``
- Reference -> ``Reference``

These objects only live inside one kernel invocation; they are never
materialized as Spark columns (SURVEY.md §1.1).
"""

from __future__ import annotations

from typing import NamedTuple, Optional


class Name(str):
    """A PDF name (``/Foo``). Subclass of str so dict keys stay plain."""

    __slots__ = ()

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"/{str(self)}"


class PdfString(bytes):
    """A PDF string's raw bytes (literal or hex source is irrelevant)."""

    __slots__ = ()


def decode_text_string(raw) -> Optional[str]:
    """PDF text string: UTF-16BE with BOM, UTF-8 with BOM (PDF 2.0
    §7.9.2.2), else PDFDocEncoding (≈latin-1 over the printable range —
    the divergent code points are rare in metadata and map acceptably)."""
    if not isinstance(raw, (bytes, PdfString)):
        return None
    b = bytes(raw)
    if b[:2] == b"\xfe\xff":
        return b[2:].decode("utf-16-be", "replace")
    if b[:3] == b"\xef\xbb\xbf":
        return b[3:].decode("utf-8", "replace")
    return b.decode("latin-1", "replace")


class Reference(NamedTuple):
    """Indirect reference ``N G R`` (reference: `src/objects.rs:55-58`).

    Dangling references resolve to Null (`src/lib.rs:405`).
    """

    object_number: int
    generation: int


class Stream:
    """A stream object: dictionary + raw (still-encoded) bytes.

    The bytes are a zero-copy slice of the file buffer (memoryview),
    mirroring the reference's borrow of the input (`src/lex.rs:516-533`).
    """

    __slots__ = ("dict", "data", "objnum", "gen")

    def __init__(self, d: dict, data) -> None:
        self.dict = d
        self.data = data  # bytes or memoryview
        self.objnum = 0  # owning indirect object (per-object decrypt key)
        self.gen = 0

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Stream({self.dict!r}, {len(self.data)} bytes)"


class Operator(str):
    """A content-stream operator token (e.g. ``Tj``, ``BT``)."""

    __slots__ = ()


class PdfError(Exception):
    """Structured kernel failure; ``code`` lands in the output ``error``
    column (we invert the reference's crash-on-malformed stance,
    SURVEY.md §1.1)."""

    def __init__(self, code: str, detail: str = "") -> None:
        super().__init__(f"{code}: {detail}" if detail else code)
        self.code = code
        self.detail = detail
