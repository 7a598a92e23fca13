"""PDF name trees (§7.9.6) and number trees (§7.9.7) — the catalog's
/Names dictionaries (Dests, EmbeddedFiles, …) and /PageLabels.

Behavioral model: the reference's NameTree / NumberTree walkers
(`src/data_structures/name_tree.rs:15`, `number_tree.rs`; consumed from
`src/catalog.rs:35-208`). Intermediate nodes carry /Kids + /Limits,
leaves a flat [key1 val1 key2 val2 …] array — /Names (string keys) or
/Nums (integer keys). Every consumer reads a whole tree, so there is one
walker and no point lookup: /Limits are advisory and ignored.
"""

from __future__ import annotations

from typing import Iterator, Tuple

from pdfspark.kernel.objects import PdfError, Reference

# one set of caps for every tree in the document surface
_MAX_DEPTH = 16
_MAX_ENTRIES = 10_000
_MAX_KIDS = 256

_KEY_TYPES = {"Names": bytes, "Nums": (int, float)}  # PdfString is bytes


def walk_tree(doc, node,
              leaf_key: str = "Names") -> Iterator[Tuple[object, object]]:
    """Yield the (key, value) pairs of a name tree (``leaf_key="Names"``)
    or number tree (``"Nums"``) in document order: a node's own pairs,
    then its /Kids depth-first. Keys are resolved and type-checked
    (strings / numbers); values stay unresolved, so a tree of stream
    values decodes nothing until a caller asks. Cycle-guarded on object
    numbers, at most ``_MAX_DEPTH`` deep, ``_MAX_KIDS`` kids per node
    and ``_MAX_ENTRIES`` pairs visited per tree; a node or key that
    fails to resolve is skipped, never raised."""
    key_types = _KEY_TYPES[leaf_key]
    seen: set = set()
    budget = [_MAX_ENTRIES]

    def walk(node, depth: int):
        if depth > _MAX_DEPTH or budget[0] <= 0:
            return
        if isinstance(node, Reference):
            if node.object_number in seen:
                return
            seen.add(node.object_number)
        try:
            node = doc.resolve(node)
            pairs = doc.get(node, leaf_key)
        except PdfError:
            return
        if isinstance(pairs, list):
            for i in range(0, len(pairs) - 1, 2):
                if budget[0] <= 0:
                    return
                budget[0] -= 1
                try:
                    k = doc.resolve(pairs[i])
                except PdfError:
                    continue
                if isinstance(k, key_types):
                    yield k, pairs[i + 1]
        try:
            kids = doc.get(node, "Kids")
        except PdfError:
            return
        if isinstance(kids, list):
            for kid in kids[:_MAX_KIDS]:
                yield from walk(kid, depth + 1)

    return walk(node, 0)
