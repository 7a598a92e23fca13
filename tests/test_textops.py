"""Winnowing fingerprints + the tiled NumPy similarity kernel (pdfspark/textops.py)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from pdfspark.textops import (cell_pairs, cell_topk, cosine_matrix, kgram_hashes, quantize_milli,
                              round_half_up, winnow)


def test_kgram_count():
    assert len(kgram_hashes("abcdef", k=3)) == 4
    assert kgram_hashes("ab", k=3) == []


def test_kgram_rolling_matches_direct():
    text = "the quick brown fox"
    k = 5
    hs = kgram_hashes(text, k)
    # direct recompute of each k-gram
    for i, h in enumerate(hs):
        direct = 0
        for ch in text[i : i + k]:
            direct = (direct * 257 + ord(ch)) % ((1 << 61) - 1)
        assert h == direct


def test_winnow_deterministic_and_guarantee():
    a = "word " * 40 + "UNIQUE MARKER BLOCK " + "tail " * 40
    b = "other prefix " * 10 + "UNIQUE MARKER BLOCK " + "different tail " * 10
    fa, fb = set(winnow(a, 8, 6)), set(winnow(b, 8, 6))
    # the winnowing guarantee: a shared substring of length >= w+k-1
    # must share at least one fingerprint
    assert fa & fb
    assert winnow(a, 8, 6) == winnow(a, 8, 6)


def test_winnow_disjoint_texts_share_little():
    fa = set(winnow("aaaa bbbb cccc dddd " * 10, 8, 6))
    fb = set(winnow("wxyz qrst uvop mnkl " * 10, 8, 6))
    assert len(fa & fb) == 0


@settings(max_examples=50, deadline=None)
@given(st.text(min_size=0, max_size=200))
def test_winnow_never_raises_and_subsets_kgrams(text):
    fps = winnow(text, k=5, w=4)
    assert set(fps) <= set(kgram_hashes(text, 5)) or fps == []


def test_numpy_cosine_matches_scalar():
    rng = np.random.RandomState(42)
    q = quantize_milli(rng.randn(3, 16))
    b = quantize_milli(rng.randn(20, 16))
    cos = cosine_matrix(q, b)
    for i in range(3):
        for j in range(20):
            expect = float(q[i] @ b[j]) / (
                np.sqrt(q[i] @ q[i]) * np.sqrt(b[j] @ b[j])
            )
            assert abs(cos[i, j] - expect) < 1e-12


def test_quantize_milli_floor_plus_half():
    # pinned scheme FLOOR(x*1000 + 0.5): half rounds toward +inf in BOTH
    # engines (the SQL sides use the same expression after the FLOAT32
    # lambda divergence found at sf0.1 — see quantize_milli docstring)
    assert quantize_milli([0.0005])[0] == 1.0
    assert quantize_milli([-0.0005])[0] == 0.0  # floor(-0.5 + 0.5) = 0
    assert quantize_milli([-0.0006])[0] == -1.0
    assert quantize_milli([0.0015])[0] == 2.0
    assert quantize_milli([0.6]).dtype == np.float64
    # the f32 landmine itself: 0.3195 stored as float32 widens to
    # 319.4999…e-3 in float64 — must quantize to 319, not 320
    assert quantize_milli([float(np.float32(0.3195))])[0] == 319.0


def test_round_half_up():
    assert round_half_up(0.1234565, 6) == 0.123457
    assert round_half_up(-0.1234565, 6) == -0.123457
    assert round_half_up(1.5, 0) == 2.0
    # an array rounds elementwise, like the scalars above
    assert round_half_up(np.array([0.1234565, -0.1234565, 2.5e-7]), 6) \
        .tolist() == [0.123457, -0.123457, 0.0]


# The untiled formulations cell_pairs / cell_topk replaced, kept as their
# identity reference: a full n×n Gram matrix, and per query one full-row
# lexsort walked by a Python rank loop.

def _scalar_round_half_up(x, digits):
    import math

    scale = 10 ** digits
    return math.copysign(math.floor(abs(x) * scale + 0.5), x) / scale


def _untiled_pairs(ids, mat, threshold):
    order = np.argsort(ids)  # ids unique ⇒ triu (i<j) == vec_a < vec_b
    ids = ids[order]
    mat = np.array(mat, dtype=np.float64)[order]
    n = np.sqrt((mat * mat).sum(axis=1))
    cos = (mat @ mat.T) / np.outer(n, n)
    iu, ju = np.triu_indices(len(ids), k=1)
    keep = cos[iu, ju] >= threshold
    c = cos[iu[keep], ju[keep]]
    rounded = np.copysign(np.floor(np.abs(c) * 1e6 + 0.5), c) / 1e6
    return ids[iu[keep]], ids[ju[keep]], c, rounded


def _untiled_topk(q_ids, q_mat, ids, mat, k, cosine, skip_self):
    vn = np.sqrt((mat * mat).sum(axis=1))
    rows = []
    for qi, qid in enumerate(q_ids):
        if cosine:  # one float64 matvec per query
            qv = q_mat[qi]
            row = (mat @ qv) / (np.sqrt(qv @ qv) * vn)
        else:  # exact int64 dots
            row = mat.astype(np.int64) @ q_mat[qi].astype(np.int64)
        order = np.lexsort((ids, -row))
        rank = 0
        for j in order:
            if skip_self and ids[j] == qid:
                continue
            rank += 1
            if rank > k:
                break
            rows.append((int(qid), rank, int(ids[j]), row[j].item()))
    return rows


def _cell(n):
    """n quantized 16-dim rows under unique, unsorted ids; about a third
    of the rows duplicate another row, so scores tie exactly."""
    rng = np.random.RandomState(n)
    mat = quantize_milli(rng.randn(n, 16) * 0.2)
    if n >= 2:
        mat[rng.randint(0, n, n // 3 + 1)] = mat[rng.randint(0, n, n // 3 + 1)]
    ids = rng.permutation(10 * n)[:n].astype(np.int64)
    return ids, mat


@pytest.mark.parametrize("block", [3, 64, None])
@pytest.mark.parametrize("n", [0, 1, 2, 5, 700])
def test_tiled_kernels_match_untiled(monkeypatch, block, n):
    """cell_pairs / cell_topk give exactly the untiled rows at every
    tile size: single and ragged tiles, exact score ties (broken by id),
    k beyond the cell, self rows kept or dropped, cosine and int64 dot."""
    import pdfspark.textops as textops

    if block is not None:
        monkeypatch.setattr(textops, "_BLOCK", block)
    ids, mat = _cell(n)

    a, b, c = cell_pairs(ids, mat, 0.30)
    ref_a, ref_b, ref_c, ref_rounded = _untiled_pairs(ids, mat, 0.30)
    assert sorted(zip(a.tolist(), b.tolist(), c.tolist(),
                      round_half_up(c, 6).tolist())) \
        == sorted(zip(ref_a.tolist(), ref_b.tolist(), ref_c.tolist(),
                      ref_rounded.tolist()))
    if n == 700:
        assert len(a) > 0 and len(np.unique(c)) < len(c)  # ties exercised

    q_ids, q_mat = ids[:100], mat[:100]  # queries are cell rows: self exists
    for cosine in (True, False):
        for skip_self in (True, False):
            for k in (1, 2, 5, 10):
                got = cell_topk(q_ids, q_mat, ids, mat, k, cosine, skip_self)
                ref = _untiled_topk(q_ids, q_mat, ids, mat, k, cosine,
                                    skip_self)
                assert list(zip(*(col.tolist() for col in got))) == ref
                if cosine:
                    assert round_half_up(got[3], 6).tolist() == [
                        _scalar_round_half_up(r[3], 6) for r in ref]


def test_cell_pairs_memory_is_bounded():
    """One 12k-row, 64-dim cell: the untiled formulation peaks at ~2.8 GB
    of traced memory (the n×n cosines plus the triu index arrays); the
    tiled kernel holds O(_BLOCK²) and must stay below 256 MB."""
    import tracemalloc

    rng = np.random.RandomState(12)
    mat = quantize_milli(rng.randn(12_000, 64) * 0.2)
    ids = np.arange(12_000, dtype=np.int64)
    tracemalloc.start()
    try:
        a, _, _ = cell_pairs(ids, mat, 0.30)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert len(a) > 0
    assert peak < 256 << 20, f"{peak / 2**20:.0f} MB"


def test_compression_ratio_signal_orders_text_quality():
    from pdfspark.textops import compression_ratio_bp

    repetitive = "spam ham " * 500
    import random
    rng = random.Random(7)
    noise = "".join(chr(rng.randint(33, 126)) for _ in range(4000))
    natural = ("the quick brown fox jumps over the lazy dog and then "
               "discusses compression behavior at length ") * 40
    r_rep = compression_ratio_bp(repetitive)
    r_nat = compression_ratio_bp(natural)
    r_noise = compression_ratio_bp(noise)
    assert r_rep < r_nat < r_noise
    assert compression_ratio_bp("") == 10000
    assert compression_ratio_bp(repetitive) == r_rep  # deterministic


def _brute_longest_repeat(s: str) -> int:
    """O(n^2) reference: largest k such that some length-k substring
    occurs at least twice (overlaps allowed)."""
    n = len(s)
    for k in range(n - 1, 0, -1):
        seen = set()
        for i in range(n - k + 1):
            sub = s[i:i + k]
            if sub in seen:
                return k
            seen.add(sub)
    return 0


def test_longest_repeat_pinned_cases():
    from pdfspark.textops import longest_repeat_len

    assert longest_repeat_len("") == 0
    assert longest_repeat_len("a") == 0
    assert longest_repeat_len("ab") == 0
    assert longest_repeat_len("aa") == 1        # overlap-free pair
    assert longest_repeat_len("aaa") == 2       # overlapping occurrences
    assert longest_repeat_len("abab") == 2
    assert longest_repeat_len("abcabcx") == 3
    assert longest_repeat_len("banana") == 3    # "ana" overlaps itself
    assert longest_repeat_len("abcdefg") == 0
    # clone-path exercise: mississippi's "issi" repeats
    assert longest_repeat_len("mississippi") == 4
    # long periodic text: "xy"*500 repeats its length-998 rotation
    assert longest_repeat_len("xy" * 500) == 998


def test_longest_repeat_matches_brute_force():
    """Hypothesis-free exhaustive sweep on a tiny alphabet (every
    string of length ≤ 9 over {a,b}): the automaton must agree with
    the O(n^2) reference everywhere, including all clone topologies."""
    import itertools

    from pdfspark.textops import longest_repeat_len

    for n in range(0, 10):
        for tup in itertools.product("ab", repeat=n):
            s = "".join(tup)
            assert longest_repeat_len(s) == _brute_longest_repeat(s), s


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="abcd ", max_size=64))
def test_longest_repeat_random_cross_check(s):
    from pdfspark.textops import longest_repeat_len

    assert longest_repeat_len(s) == _brute_longest_repeat(s)


def test_longest_repeat_cap_is_lower_bound_not_crash():
    from pdfspark.textops import _LONGEST_REPEAT_CAP, longest_repeat_len

    s = "z" * (_LONGEST_REPEAT_CAP + 50)
    # truncated to cap: the repeat inside the window is cap-1
    assert longest_repeat_len(s) == _LONGEST_REPEAT_CAP - 1


def test_longest_repeat_on_real_corpus_prefixes():
    """Corpus realism: the automaton agrees with the O(n^2) reference
    on actual sf0.001 document texts (first 40 docs, 200-char
    prefixes) — natural-language repeat structure, not just synthetic
    alphabets. Also pins the kernel's determinism on shared text."""
    import duckdb

    from pdfspark.textops import longest_repeat_len

    con = duckdb.connect()
    texts = [r[0] for r in con.sql(
        "SELECT text FROM read_parquet("
        "'/root/testdata/sf0.001/documents.parquet') "
        "ORDER BY doc_id LIMIT 40"
    ).fetchall()]
    con.close()
    for t in texts:
        p = t[:200]
        got = longest_repeat_len(p)
        assert got == _brute_longest_repeat(p)
        assert got == longest_repeat_len(p)  # deterministic


@settings(max_examples=200, deadline=None)
@given(st.integers(0, 400), st.integers(1, 40))
def test_longest_repeat_unique_base_probe_closed_form(n, L):
    """The text_longest_repeat driver probe's closed form: a string of
    n UNIQUE codepoints followed by its first min(n, L) characters has
    longest repeated substring EXACTLY min(n, L) — the prefix occurs at
    offsets 0 and n, and anything longer would need a repeated base
    character. This is the identity the query's oracle relies on
    (queries.py::text_longest_repeat), pinned for every (n, L) shape
    including the degenerate n=0 and L>n regimes."""
    from pdfspark.textops import longest_repeat_len

    probe = "".join(chr(0x4E00 + i) for i in range(n))
    eff = min(n, L)
    assert longest_repeat_len(probe + probe[:eff]) == eff


@given(st.lists(st.text(alphabet="abcdef ", min_size=1, max_size=8),
                min_size=0, max_size=30))
@settings(max_examples=200, deadline=None)
def test_minhash_digest_min_equals_hexdigest_min(words):
    """The late-r7 banding kernel tracks raw digest() bytes and
    hex-encodes once per seed; this pins the ordering argument (hex is
    an order-preserving map, so the MIN is unchanged) against a direct
    hexdigest-per-shingle reference on arbitrary text."""
    import hashlib

    from pdfspark.textops import minhash_band_sigs

    text = " ".join(words)

    def reference(text, n_hashes=8, band_width=2):
        ws = text.split(" ")
        shingles = {f"{a} {b} {c}".encode("utf-8")
                    for a, b, c in zip(ws, ws[1:], ws[2:])}
        if not shingles:
            return []
        mins = []
        for i in range(n_hashes):
            pre = f"{i}:".encode("ascii")
            mins.append(min(hashlib.md5(pre + s).hexdigest()
                            for s in shingles))
        return [(b, ",".join(sorted(mins[b * band_width:
                                         (b + 1) * band_width])))
                for b in range(n_hashes // band_width)]

    assert minhash_band_sigs(text) == reference(text)
