"""Document model: indirect-object graph + page tree (SURVEY.md §2A.1
S7-S8, §1.2).

Behavioral model: reference `src/lib.rs` (`Parser`), `src/resolve.rs`
(transparent lazy reference resolution), `src/object_stream.rs` (compressed
object containers, decode memoized per `src/lib.rs:137`), `src/page.rs`
(page tree with inheritable Resources/MediaBox/Rotate).

Divergence from the reference, by design: malformed input raises
``PdfError`` with a stable ``code`` instead of panicking — one bad PDF must
not kill a 10^12-doc job (SURVEY.md §1.1).
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pdfspark.kernel.filters import decode_stream
from pdfspark.kernel.lexer import Lexer
from pdfspark.kernel.name_tree import walk_tree
from pdfspark.kernel.objects import (
    Name,
    PdfError,
    Reference,
    Stream,
    decode_text_string,
)
from pdfspark.kernel.xref import XrefTable, parse_xref_chain

_MAX_RESOLVE_DEPTH = 64
_MAX_PAGES = 100_000
_MAX_DECODED_STREAM = 256 * 1024 * 1024  # per-doc decode-size guard (§4)

INHERITABLE_PAGE_KEYS = ("Resources", "MediaBox", "CropBox", "Rotate")


class PdfDocument:
    """One parsed PDF. Lives entirely inside one kernel invocation."""

    def __init__(self, buf: bytes) -> None:
        if not buf.startswith(b"%PDF-"):
            # tolerate leading junk before the header (web-crawl dirt)
            idx = buf.find(b"%PDF-", 0, 1024)
            if idx == -1:
                raise PdfError("not-pdf", "missing %PDF- header")
            buf = buf[idx:]
        self.buf = buf
        self.xref: XrefTable = parse_xref_chain(buf)
        self.trailer = self.xref.trailer
        self._cache: Dict[int, object] = {}
        self._objstm_cache: Dict[int, tuple] = {}
        self._catalog: Optional[dict] = None
        self._named_dests: Optional[Dict[str, object]] = None
        self.security = None
        enc = self.resolve(self.trailer.get("Encrypt"))
        if enc is not None:
            # E1: standard security handler, empty user password
            # (SURVEY.md §2A.4; unsupported variants raise 'encrypted')
            from pdfspark.kernel.encryption import SecurityHandler

            if not isinstance(enc, dict):
                raise PdfError("encrypted", "malformed Encrypt dict")
            file_id = self.resolve(self.trailer.get("ID"))
            id0 = b""
            if isinstance(file_id, list) and file_id:
                first = self.resolve(file_id[0])
                if isinstance(first, bytes):
                    id0 = bytes(first)
            self.security = SecurityHandler.from_encrypt_dict(
                enc, id0, self.resolve
            )

    # ------------------------------------------------------------- resolve

    def resolve(self, obj, depth: int = 0):
        """Transparently chase references; dangling ⇒ None
        (reference: `src/resolve.rs:7-124`, `src/lib.rs:405`)."""
        if not isinstance(obj, Reference):  # fast path: most calls
            # non-ref (ADVICE r8 #2: isinstance, not exact-type — a
            # Reference subclass must be chased, and CPython's
            # isinstance fast-path makes the cost identical)
            return obj
        while isinstance(obj, Reference):
            if depth > _MAX_RESOLVE_DEPTH:
                raise PdfError("resolve", "reference chain too deep")
            obj = self.get_object(obj)
            depth += 1
        return obj

    def get(self, d: dict, key: str, default=None):
        """Dict get + resolve (the reference's typed getters,
        `src/objects.rs:119-400`, collapse to this in dynamic Python)."""
        return self.resolve(d.get(key, default)) if isinstance(d, dict) else default

    def get_object(self, ref: Reference):
        objnum = ref.object_number
        if objnum in self._cache:
            return self._cache[objnum]
        entry = self.xref.entries.get(objnum)
        if entry is None or entry.kind == 0:
            return None  # dangling/free ⇒ Null
        self._cache[objnum] = None  # cycle guard during load
        if entry.kind == 1:
            obj = self._load_at_offset(objnum, entry.pos)
        else:
            obj = self._load_from_objstm(entry.pos, entry.idx)
        self._cache[objnum] = obj
        return obj

    def _load_at_offset(self, objnum: int, offset: int):
        """S7: offset-seek, ``N G obj … endobj`` (`src/lib.rs:396-417`)."""
        if offset >= len(self.buf):
            return None
        lx = Lexer(self.buf, offset, resolve_length=self._resolve_length)
        gen = 0
        try:
            got_num, gen, obj = lx.lex_indirect_object()
        except PdfError:
            got_num, obj = -1, None
        if got_num != objnum:
            # stale offset (incremental-update dirt): fall back to a scan;
            # the LAST definition wins (newest-wins, like recover_xref)
            import re

            pat = re.compile(
                rb"(?m)^[\x00\t\x0c ]*" + str(objnum).encode() + rb"\s+\d+\s+obj\b"
            )
            last = None
            for m in pat.finditer(self.buf):
                last = m
            if last is None:
                return None
            lx = Lexer(self.buf, last.start(), resolve_length=self._resolve_length)
            try:
                _, gen, obj = lx.lex_indirect_object()
            except PdfError:
                return None
        if not isinstance(gen, int) or gen < 0:
            gen = 0
        if isinstance(obj, Stream):
            # per-object decryption keys hash (objnum, gen) — keep the real
            # generation from the object header
            obj.objnum, obj.gen = objnum, gen
        elif self.security is not None:
            obj = self._decrypt_strings(obj, objnum, gen)
        return obj

    def _resolve_length(self, obj) -> Optional[int]:
        v = self.resolve(obj) if isinstance(obj, Reference) else obj
        return v if isinstance(v, int) else None

    def _load_from_objstm(self, container_num: int, idx: int):
        """S8: object-stream fetch; container decode memoized
        (reference: `src/lib.rs:179-209`, `src/object_stream.rs:71-109`)."""
        cached = self._objstm_cache.get(container_num)
        if cached is None:
            container = self.get_object(Reference(container_num, 0))
            if not isinstance(container, Stream):
                return None
            data = self.decode(container)
            n = int(self.get(container.dict, "N", 0) or 0)
            first = int(self.get(container.dict, "First", 0) or 0)
            hdr = Lexer(data, 0)
            pairs: List[tuple] = []
            try:
                for _ in range(n):
                    onum = hdr.lex_number()
                    hdr.skip_whitespace()
                    ooff = hdr.lex_number()
                    hdr.skip_whitespace()
                    pairs.append((int(onum), first + int(ooff)))
            except PdfError:
                pass
            extends = container.dict.get("Extends")
            cached = (data, pairs, extends)
            self._objstm_cache[container_num] = cached
        data, pairs, extends = cached
        if idx >= len(pairs):
            # /Extends chain forms a DAG (`src/object_stream.rs:29-35`)
            if isinstance(extends, Reference):
                return self._load_from_objstm(extends.object_number, idx - len(pairs))
            return None
        _, off = pairs[idx]
        lx = Lexer(data, off)
        try:
            return lx.lex_object()
        except PdfError:
            return None

    # -------------------------------------------------------------- streams

    def _decrypt_strings(self, obj, objnum: int, gen: int):
        """Strings outside streams are individually encrypted (the
        reference leaves decrypt_string as todo!(), `src/encryption.rs`)."""
        from pdfspark.kernel.objects import PdfString

        if isinstance(obj, PdfString):
            return PdfString(
                self.security.decrypt_string(bytes(obj), objnum, gen))
        if isinstance(obj, list):
            return [self._decrypt_strings(v, objnum, gen) for v in obj]
        if isinstance(obj, dict):
            return {k: self._decrypt_strings(v, objnum, gen)
                    for k, v in obj.items()}
        return obj

    def _crypt_filter_name(self, sdict: dict) -> Optional[str]:
        """The /Name of the first /Crypt entry in the stream's Filter
        chain (absent /Name ⇒ "Identity", §7.4.10), or None when the
        chain has no /Crypt filter. Identity means the stream is stored
        UNencrypted regardless of the document handler; any other name
        selects that CF entry's method+key instead of the StmF default."""
        filt = self.get(sdict, "Filter")
        raw_names = filt if isinstance(filt, list) else [filt]
        names = [self.resolve(f) if isinstance(f, Reference) else f
                 for f in raw_names]
        if not any(str(f) == "Crypt" for f in names if f is not None):
            return None
        parms = self.get(sdict, "DecodeParms")
        if parms is None:
            parms = self.get(sdict, "DP")
        plist = parms if isinstance(parms, list) else [parms]
        for f, p in zip(names, plist + [None] * (len(names) - len(plist))):
            if str(f) == "Crypt":
                p = self.resolve(p)
                name = self.get(p, "Name") if isinstance(p, dict) else None
                return "Identity" if name is None else str(name)
        return "Identity"

    def decode(self, stream: Stream) -> bytes:
        raw = stream.data
        styp = str(stream.dict.get("Type") or "")
        crypt_name = self._crypt_filter_name(stream.dict)
        skip_decrypt = (
            styp == "XRef"  # xref streams are never encrypted (§7.5.8.2)
            # document-level XMP stays cleartext when EncryptMetadata=false
            or (styp == "Metadata"
                and self.security is not None
                and not self.security.encrypt_metadata)
            or crypt_name == "Identity"
        )
        if self.security is not None and not skip_decrypt:
            if crypt_name is not None:
                raw = self.security.decrypt_named(
                    crypt_name, bytes(raw), stream.objnum, stream.gen)
            else:
                raw = self.security.decrypt(
                    bytes(raw), stream.objnum, stream.gen)
            stream = Stream(stream.dict, raw)
        data = decode_stream(stream, resolve=self.resolve)
        if len(data) > _MAX_DECODED_STREAM:
            raise PdfError("too-large", f"decoded stream {len(data)} bytes")
        return data

    # ------------------------------------------------------------ page tree

    def catalog(self) -> dict:
        """The document catalog (/Root), read once per document; every
        catalog surface (pages, outlines, names, forms, labels, XMP,
        structure) starts here. Raises ``catalog`` when /Root is not a
        dictionary."""
        if self._catalog is None:
            catalog = self.resolve(self.trailer.get("Root"))
            if not isinstance(catalog, dict):
                raise PdfError("catalog", "missing /Root catalog")
            self._catalog = catalog
        return self._catalog

    def pages(self) -> List[dict]:
        """Walk the page tree worklist-style with a visited-set cycle guard
        (reference: `src/lib.rs:211-271`), materializing inheritable
        attributes (`src/page.rs:52-90`) into each leaf dict."""
        root_ref = self.catalog().get("Pages")
        root = self.resolve(root_ref)
        if not isinstance(root, dict):
            raise PdfError("pages", "missing /Pages root")
        out: List[dict] = []
        visited = set()
        # stack of (node, inherited, objnum) — depth-first preserves page
        # order; objnum lets structure-tree /Pg references find their page
        root_objnum = (root_ref.object_number
                       if isinstance(root_ref, Reference) else None)
        stack = [(root, {k: root.get(k) for k in INHERITABLE_PAGE_KEYS
                         if root.get(k) is not None}, root_objnum)]
        while stack and len(out) < _MAX_PAGES:
            node, inherited, objnum = stack.pop()
            ntype = str(self.get(node, "Type", "") or "")
            kids = self.get(node, "Kids")
            if ntype == "Page" or (kids is None and "Contents" in node):
                leaf = dict(node)
                for k, v in inherited.items():
                    leaf.setdefault(k, v)
                leaf["__pageobj__"] = objnum
                out.append(leaf)
                continue
            if not isinstance(kids, list):
                continue
            child_inherited = dict(inherited)
            for k in INHERITABLE_PAGE_KEYS:
                if node.get(k) is not None:
                    child_inherited[k] = node[k]
            # reversed: stack pops restore document order
            for kid in reversed(kids):
                key = (
                    (kid.object_number, kid.generation)
                    if isinstance(kid, Reference)
                    else id(kid)
                )
                if key in visited:
                    continue
                visited.add(key)
                knode = self.resolve(kid)
                if isinstance(knode, dict):
                    stack.append((knode, child_inherited,
                                  kid.object_number
                                  if isinstance(kid, Reference) else None))
        return out

    def page_content(self, page: dict) -> bytes:
        """Decode + concatenate the page's Contents streams
        (reference: `src/content/stream.rs:27-57`). Streams are joined
        with a newline so tokens can legally split across stream
        boundaries (fixture t10)."""
        contents = self.get(page, "Contents")
        if contents is None:
            return b""
        if isinstance(contents, Stream):
            return self.decode(contents)
        if isinstance(contents, list):
            parts = []
            for item in contents:
                st = self.resolve(item)
                if isinstance(st, Stream):
                    parts.append(self.decode(st))
            return b"\n".join(parts)
        return b""

    # ------------------------------------------------------------- metadata

    def named_destinations(self) -> Dict[str, object]:
        """The named-destination table (PDF 12.3.2.3), built on first
        use and then shared by every destination of the document: the
        catalog /Dests dictionary (PDF 1.1 form), then the /Names /Dests
        name tree in walk order. The first definition of a name wins;
        values stay unresolved."""
        if self._named_dests is None:
            table: Dict[str, object] = {}
            try:
                catalog = self.catalog()
                dests = self.get(catalog, "Dests")
                if isinstance(dests, dict):
                    table.update((str(k), v) for k, v in dests.items())
                names = self.get(catalog, "Names")
                if isinstance(names, dict):
                    for k, v in walk_tree(self, names.get("Dests")):
                        if v is not None:  # a null entry defines nothing
                            table.setdefault(decode_text_string(k), v)
            except PdfError:
                pass
            self._named_dests = table
        return self._named_dests

    def lang(self) -> Optional[str]:
        try:
            v = self.get(self.catalog(), "Lang")
            if isinstance(v, bytes):
                return v.decode("latin-1", "replace")
            return str(v) if isinstance(v, (str, Name)) else None
        except PdfError:
            return None
