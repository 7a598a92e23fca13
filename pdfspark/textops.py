"""Kernel-side text/vector operators that aren't SQL-expressible:
winnowing fingerprints (Schleimer, Wilkerson, Aiken — "Winnowing: Local
Algorithms for Document Fingerprinting", SIGMOD 2003) and the one tiled
NumPy similarity kernel (cell_pairs / cell_topk) behind every vectorized
ANN and embedding near-dup stage (the Pandas-UDF path the SQL
higher-order version trades against).
"""

from __future__ import annotations

from typing import List

_MOD = (1 << 61) - 1
_BASE = 257


def kgram_hashes(text: str, k: int = 5) -> List[int]:
    """Polynomial rolling hashes of every k-gram (O(n))."""
    n = len(text)
    if n < k:
        return []
    h = 0
    pow_k = pow(_BASE, k - 1, _MOD)
    out = []
    for i, ch in enumerate(text):
        h = (h * _BASE + ord(ch)) % _MOD
        if i >= k - 1:
            out.append(h)
            h = (h - ord(text[i - k + 1]) * pow_k) % _MOD
    return out


def winnow(text: str, k: int = 5, w: int = 4) -> List[int]:
    """Winnowing: in every window of w consecutive k-gram hashes keep the
    minimum (rightmost on ties), dedup consecutive selections. Guarantees
    any match of length ≥ w+k-1 shares a fingerprint."""
    hs = kgram_hashes(text, k)
    if not hs:
        return []
    if len(hs) <= w:
        return [min(hs)]
    out = []
    last_idx = -1
    for start in range(len(hs) - w + 1):
        window = hs[start : start + w]
        m = min(window)
        # rightmost minimum
        idx = start + max(i for i, v in enumerate(window) if v == m)
        if idx != last_idx:
            out.append(m)
            last_idx = idx
    return out


def quantize_milli(x):
    """FLOOR(x*1000 + 0.5) in float64 — the ONE quantization every
    engine agrees on (pinned policy, CLAUDE.md). ROUND diverges two
    ways: half-even vs half-up on exact ties, and DuckDB evaluates list
    lambdas in the element type (FLOAT32), where e.g. 0.3195f*1000 IS
    exactly 319.5 while float64 gives 319.4999… — so both the SQL sides
    cast to DOUBLE first and use FLOOR(+0.5), and so does this."""
    import numpy as np

    arr = np.asarray(x, dtype=np.float64) * 1000.0
    return np.floor(arr + 0.5)


def round_half_up(x, digits: int = 6):
    """SQL-compatible ROUND (half away from zero) of a float or an
    array; Python's built-in round() is half-to-even."""
    import numpy as np

    scale = 10.0 ** digits
    return np.copysign(np.floor(np.abs(x) * scale + 0.5), x) / scale


def cosine_matrix(query_mat, base_mat):
    """Dense pairwise cosine: one (Q, D) @ (D, N) matmul. Inputs are
    integer-quantized (quantize_milli) so scores are exact and ranking
    matches the SQL/DuckDB formulation bit-for-bit. Callers rank/truncate."""
    import numpy as np

    q = query_mat.astype(np.float64)
    b = base_mat.astype(np.float64)
    dots = q @ b.T
    qn = np.sqrt((q * q).sum(axis=1))[:, None]
    bn = np.sqrt((b * b).sum(axis=1))[None, :]
    return dots / (qn * bn)


# Rows per tile side in cell_pairs / cell_topk: one float64 score tile is
# _BLOCK² × 8 B = 32 MB, so per-task memory is O(_BLOCK²) however many
# rows one IVF cell holds.
_BLOCK = 2048


def cell_pairs(ids, mat, threshold):
    """Every pair of rows of one cell whose cosine is ≥ ``threshold``, as
    (id_a, id_b, cosine) arrays with id_a < id_b (``ids`` unique) and the
    cosine unrounded. The Gram matrix is tiled over _BLOCK-row blocks:
    upper-triangle tiles only, the diagonal tile masked to i < j."""
    import numpy as np

    order = np.argsort(ids)
    ids = np.asarray(ids)[order]
    mat = np.asarray(mat, dtype=np.float64)[order]
    a, b, c = [ids[:0]], [ids[:0]], [np.empty(0)]
    for i0 in range(0, len(ids), _BLOCK):
        for j0 in range(i0, len(ids), _BLOCK):
            cos = cosine_matrix(mat[i0:i0 + _BLOCK], mat[j0:j0 + _BLOCK])
            keep = cos >= threshold
            if i0 == j0:
                keep = np.triu(keep, 1)
            i, j = np.nonzero(keep)
            a.append(ids[i0 + i])
            b.append(ids[j0 + j])
            c.append(cos[i, j])
    return np.concatenate(a), np.concatenate(b), np.concatenate(c)


def cell_topk(q_ids, q_mat, ids, mat, k, cosine, skip_self):
    """Each query row's ``k`` best base rows, ranked score DESC then id
    ASC, as flat (query id, rank 1.., base id, score) arrays in query
    order. The score is the cosine_matrix cosine (unrounded) when
    ``cosine``, else the exact int64 dot; ``skip_self`` drops base rows
    whose id is the query's own. Queries and base rows both go in
    _BLOCK-row tiles: each base tile merges into a running top-k per
    query through one row-wise lexsort on (self, -score, id)."""
    import numpy as np

    dtype = np.float64 if cosine else np.int64
    q_ids = np.asarray(q_ids, dtype=np.int64)
    q_mat = np.asarray(q_mat, dtype=dtype)
    ids = np.asarray(ids, dtype=np.int64)
    mat = np.asarray(mat, dtype=dtype)
    out = [(q_ids[:0], q_ids[:0], q_ids[:0], np.empty(0, dtype))]
    for q0 in range(0, len(q_ids), _BLOCK):
        qm = q_mat[q0:q0 + _BLOCK]
        qi = q_ids[q0:q0 + _BLOCK, None]
        top_s = np.empty((len(qi), 0), dtype)
        top_i = np.empty((len(qi), 0), np.int64)
        for b0 in range(0, len(ids), _BLOCK):
            tile = mat[b0:b0 + _BLOCK]
            s = cosine_matrix(qm, tile) if cosine else qm @ tile.T
            s = np.hstack([top_s, s])
            i = np.hstack([top_i, np.broadcast_to(ids[b0:b0 + _BLOCK],
                                                  (len(qi), len(tile)))])
            pick = np.lexsort((i, -s, (i == qi) & skip_self), axis=1)[:, :k]
            top_s = np.take_along_axis(s, pick, axis=1)
            top_i = np.take_along_axis(i, pick, axis=1)
        # self rows sort last, so the rows kept rank 1..m without gaps
        keep = ~((top_i == qi) & skip_self)
        rank = np.broadcast_to(np.arange(1, top_i.shape[1] + 1), top_i.shape)
        out.append((np.broadcast_to(qi, top_i.shape)[keep], rank[keep],
                    top_i[keep], top_s[keep]))
    return tuple(np.concatenate(col) for col in zip(*out))


def minhash_band_sigs(text: str, n_hashes: int = 8, band_width: int = 2):
    """MinHash band signatures, ENGINE-EXACT with the DuckDB oracle SQL:
    shingle = distinct word 3-grams of ``text.split(' ')``; per seed i the
    minhash is MIN over shingles of md5(f"{i}:{shingle}") hex; bands are
    consecutive pairs, signature = sorted hex digests joined by ','.

    Returns [(band_index, sig), ...] — empty when the doc has <3 words.
    One md5 context per seed is pre-hashed and copy()d per shingle (same
    digests, ~35% fewer bytes hashed than re-feeding the prefix).  The
    per-shingle MIN tracks raw digest() bytes, hex-encoded once per
    seed: hex is an order-preserving byte→chars map ('0'-'9' < 'a'-'f'
    in ASCII), so min over digests == min over hexdigests — identical
    output, ~25% less CPU (profiled: hexdigest was the top self-time)."""
    import hashlib

    words = text.split(" ")
    shingles = {
        f"{a} {b} {c}".encode("utf-8")
        for a, b, c in zip(words, words[1:], words[2:])
    }
    if not shingles:
        return []
    mins = []
    for i in range(n_hashes):
        ctx = hashlib.md5(f"{i}:".encode("ascii"))
        best = None
        for s in shingles:
            c = ctx.copy()
            c.update(s)
            d = c.digest()
            if best is None or d < best:
                best = d
        mins.append(best.hex())
    return [
        (b, ",".join(sorted(mins[b * band_width:(b + 1) * band_width])))
        for b in range(n_hashes // band_width)
    ]


def compression_ratio_bp(text: str) -> int:
    """zlib-compressed size as basis points of the raw utf-8 size — the
    CCNet-style repetition/garbage signal (highly repetitive text
    compresses far below ~4000bp; random noise sits near 10000+)."""
    import math
    import zlib

    raw = text.encode("utf-8")
    if not raw:
        return 10000
    comp = zlib.compress(raw, 6)
    return int(math.floor(len(comp) * 10000.0 / len(raw) + 0.5))


_LONGEST_REPEAT_CAP = 1_000_000  # chars; one pathological doc must not OOM


def longest_repeat_len(text: str) -> int:
    """Length of the longest substring occurring at least twice
    (occurrences may overlap) — the exact within-document repetition
    signal that compression_ratio_bp only approximates (ROADMAP r6
    #3c). Suffix automaton (Blumer et al. 1985): O(n) states and
    transitions; a substring repeats iff its state's endpos count is
    ≥2, so the answer is the max state length among states reached by
    ≥2 suffix-link paths. Inputs beyond _LONGEST_REPEAT_CAP chars are
    truncated (documented lower bound, never a crash — the
    one-bad-document rule)."""
    s = text[:_LONGEST_REPEAT_CAP]
    n = len(s)
    if n < 2:
        return 0
    # state arrays: length, suffix link, transitions, occurrence count
    # (primary states start at 1, clones at 0; counts propagate along
    # suffix links in decreasing-length order)
    st_len = [0]
    st_link = [-1]
    st_trans: list = [{}]
    st_cnt = [0]
    last = 0
    for ch in s:
        cur = len(st_len)
        st_len.append(st_len[last] + 1)
        st_link.append(-1)
        st_trans.append({})
        st_cnt.append(1)
        p = last
        while p != -1 and ch not in st_trans[p]:
            st_trans[p][ch] = cur
            p = st_link[p]
        if p == -1:
            st_link[cur] = 0
        else:
            q = st_trans[p][ch]
            if st_len[p] + 1 == st_len[q]:
                st_link[cur] = q
            else:
                clone = len(st_len)
                st_len.append(st_len[p] + 1)
                st_link.append(st_link[q])
                st_trans.append(dict(st_trans[q]))
                st_cnt.append(0)
                while p != -1 and st_trans[p].get(ch) == q:
                    st_trans[p][ch] = clone
                    p = st_link[p]
                st_link[q] = clone
                st_link[cur] = clone
        last = cur
    # counting sort by length (lengths ≤ n), then propagate counts up
    # the suffix-link tree from longest to shortest
    order = sorted(range(1, len(st_len)), key=st_len.__getitem__,
                   reverse=True)
    best = 0
    for v in order:
        if st_cnt[v] >= 2 and st_len[v] > best:
            best = st_len[v]
        link = st_link[v]
        if link > 0:
            st_cnt[link] += st_cnt[v]
    return best
