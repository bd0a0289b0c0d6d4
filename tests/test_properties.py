"""Property-based tests (hypothesis) for the core kernels — FIXTURES.md F4."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from minhashsketch_spark.core import (
    UINT64_MAX,
    bottom_m_distinct,
    compute_sim,
    gen_sig,
    r_merge,
)
from minhashsketch_spark.core.shingles import (
    distinct_shingles,
    exact_jaccard,
    get_family,
    minhash_matrix,
    shingle_hashes,
)
from minhashsketch_spark.core.sketch import compute_sim_row, compute_sim_two_pointer

dna = st.text(alphabet="ACGT", min_size=6, max_size=200)
dirty_dna = st.text(alphabet="ACGTN x", min_size=6, max_size=200)


@given(dna, st.integers(1, 8), st.integers(1, 6))
@settings(max_examples=50, deadline=None)
def test_self_similarity_is_one(seq, m, t):
    sig = gen_sig(seq.encode(), 5, m, t, seed=99)
    assert compute_sim(sig, sig) == 1.0


@given(dirty_dna, st.integers(2, 12))
@settings(max_examples=50, deadline=None)
def test_sig_rows_sorted_distinct_padded(seq, m):
    sig = gen_sig(seq.encode(), 5, m, 3, seed=5)
    for row in sig:
        real = row[row != UINT64_MAX]
        assert np.all(np.diff(real.astype(object)) > 0)  # strictly ascending
        pad_start = real.shape[0]
        assert np.all(row[pad_start:] == UINT64_MAX)


@given(st.lists(st.lists(st.integers(0, 2**50), min_size=0, max_size=40),
                min_size=2, max_size=6),
       st.integers(1, 10))
@settings(max_examples=50, deadline=None)
def test_merge_associativity(lists, m):
    sketches = [bottom_m_distinct(np.array(l or [0], dtype=np.uint64), m) for l in lists]
    folded = sketches[0]
    for s in sketches[1:]:
        folded = r_merge(m, s, folded)
    union = bottom_m_distinct(np.concatenate(sketches), m)
    assert folded.tolist() == union.tolist()


@given(st.lists(st.integers(0, 60), min_size=0, max_size=10, unique=True),
       st.lists(st.integers(0, 60), min_size=0, max_size=10, unique=True),
       st.integers(0, 4), st.integers(0, 4))
@settings(max_examples=200, deadline=None)
def test_sim_row_equals_literal_two_pointer(a, b, pad_a, pad_b):
    v1 = np.concatenate([np.sort(np.array(a, dtype=np.uint64)),
                         np.full(pad_a, UINT64_MAX, dtype=np.uint64)])
    v2 = np.concatenate([np.sort(np.array(b, dtype=np.uint64)),
                         np.full(pad_b, UINT64_MAX, dtype=np.uint64)])
    assert compute_sim_row(v1, v2) == compute_sim_two_pointer(v1, v2)


text = st.text(min_size=0, max_size=300)


@given(text)
@settings(max_examples=80, deadline=None)
def test_shingle_count(s):
    bs = s.encode("utf-8", "surrogatepass")
    hs = shingle_hashes(bs, 9)
    assert hs.shape[0] == max(0, len(bs) - 8)


@given(text, text)
@settings(max_examples=50, deadline=None)
def test_minhash_estimates_jaccard_direction(s1, s2):
    """identical texts -> identical signatures; jaccard bounds hold"""
    a_par, b_par = get_family(16, 3)
    x1 = distinct_shingles(s1.encode("utf-8", "surrogatepass"), 4)
    x2 = distinct_shingles(s2.encode("utf-8", "surrogatepass"), 4)
    m1 = minhash_matrix(x1, a_par, b_par)
    m2 = minhash_matrix(x2, a_par, b_par)
    j = exact_jaccard(x1, x2)
    if s1 == s2:
        assert np.array_equal(m1, m2)
        assert j == 1.0
    if j == 1.0 and x1.shape[0] > 0:
        assert np.array_equal(m1, m2)
    assert 0.0 <= j <= 1.0


@given(st.lists(st.text(alphabet="abcdef ", min_size=0, max_size=30),
                min_size=1, max_size=5))
@settings(max_examples=30, deadline=None)
def test_minhash_doc_order_invariance(texts):
    """signatures are per-doc: corpus order never changes them"""
    a_par, b_par = get_family(8, 11)
    sigs1 = [minhash_matrix(distinct_shingles(t.encode(), 3), a_par, b_par) for t in texts]
    sigs2 = [minhash_matrix(distinct_shingles(t.encode(), 3), a_par, b_par)
             for t in reversed(texts)]
    for s1, s2 in zip(sigs1, reversed(sigs2)):
        assert np.array_equal(s1, s2)


def test_native_minhash_equals_numpy(tmp_path, monkeypatch):
    """The NumPy fallback, the clone the loaded library's resolver picked
    and the portable loop (``MHS_CLONES`` emptied: what a host without
    ifunc builds) agree bit for bit, on sets on both sides of 2**63."""
    import shutil

    from minhashsketch_spark.core import _native
    from minhashsketch_spark.core.rng import MERSENNE_P

    if not any(shutil.which(cc) for cc in ("cc", "gcc", "clang")):
        pytest.skip("no C compiler on PATH")
    src, so = str(tmp_path / "minhash.c"), str(tmp_path / "libportable.so")
    with open(src, "w") as f:
        f.write(_native._C_SRC)
    assert _native.compile_c(src, so, "-DMHS_CLONES=")
    portable = _native.open_lib(so)
    rng = np.random.default_rng(23)
    a_par, b_par = get_family(128, 5)
    edges = np.array([0, 1, 2**63 - 1, 2**63, 2**64 - 1], dtype=np.uint64)
    for n in (0, 1, 7, 1000, 5384):
        xs = np.unique(np.concatenate(
            [edges, rng.integers(0, 2**64 - 1, size=2 * n, dtype=np.uint64)]))
        xs = rng.permutation(xs)[:n]
        monkeypatch.setenv("MHS_DISABLE_NATIVE", "1")
        monkeypatch.setattr(_native, "_lib", None)
        monkeypatch.setattr(_native, "_tried", False)
        ref = minhash_matrix(xs, a_par, b_par)
        monkeypatch.delenv("MHS_DISABLE_NATIVE")
        monkeypatch.setattr(_native, "_tried", False)
        assert _native._load() is not None
        if n >= 7:
            assert (xs >= 2**63).any() and (xs < 2**63).any()
        if n == 1:  # one value per function: the minima straddle 2**63 too
            assert (ref >= 2**63).any() and (ref < 2**63).any()
        for got in (_native.native_minhash(xs, a_par, b_par, MERSENNE_P),
                    _native.native_minhash(xs, a_par, b_par, MERSENNE_P, lib=portable)):
            assert got.dtype == np.uint64
            assert np.array_equal(got, ref), n


def test_native_build_leaves_only_the_library(tmp_path, monkeypatch):
    """A build into an empty cache dir leaves ``libminhash.so`` and
    nothing else there: the per-process C source and temporary library
    are removed, and a failed compile leaves the dir empty."""
    import os
    import shutil

    from minhashsketch_spark.core import _native

    if not any(shutil.which(cc) for cc in ("cc", "gcc", "clang")):
        pytest.skip("no C compiler on PATH")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "ok"))
    assert _native._build() is not None
    assert os.listdir(_native._cache_dir()) == ["libminhash.so"]

    def half_written(src, so, *flags):
        open(so, "wb").close()
        return False

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "fail"))
    monkeypatch.setattr(_native, "compile_c", half_written)
    assert _native._build() is None
    assert os.listdir(_native._cache_dir()) == []


def test_native_intersect_count_equals_numpy(monkeypatch):
    """The native sorted merge, its NumPy fallback and Python set
    intersection agree on a batch of set pairs — including sets that
    straddle 2**63, where int64 order differs from the uint64 order the
    merge must run in."""
    from minhashsketch_spark.core import _native
    from minhashsketch_spark.core.shingles import intersect_count

    rng = np.random.default_rng(17)

    def rand(n, lo=0, span=2**64 - 1):
        return np.unique(np.uint64(lo) + rng.integers(0, span, size=n, dtype=np.uint64))

    empty = np.empty(0, np.uint64)
    big = rand(500)
    near = [rand(400, lo=2**63 - 300, span=600) for _ in range(4)]
    assert (big >= 2**63).any() and (big < 2**63).any()
    pairs = [(empty, empty), (empty, big), (big, empty),
             (big[:200], big[200:]),                    # disjoint
             (big, big.copy()),                         # identical
             (big[50:300], big),                        # subset
             (big, np.unique(np.concatenate([big[::3], rand(300)]))),
             (near[0], near[1]), (near[2], near[3])]    # dense, across 2**63

    def csr(sets):
        offs = np.zeros(len(sets) + 1, np.int64)
        offs[1:] = np.cumsum([s.shape[0] for s in sets])
        return np.concatenate(sets), offs

    va, oa = csr([a for a, _ in pairs])
    vb, ob = csr([b for _, b in pairs])
    want = [len(set(a.tolist()) & set(b.tolist())) for a, b in pairs]
    monkeypatch.setattr(_native, "_lib", None)
    monkeypatch.setattr(_native, "_tried", False)
    monkeypatch.setenv("MHS_DISABLE_NATIVE", "1")
    ref = intersect_count(va, oa, vb, ob)
    monkeypatch.delenv("MHS_DISABLE_NATIVE")
    monkeypatch.setattr(_native, "_tried", False)
    got = intersect_count(va, oa, vb, ob)
    assert ref.dtype == got.dtype == np.int64
    assert ref.tolist() == want
    assert got.tolist() == want
    # the int64 view of the same sets is rejected, not silently miscounted
    with pytest.raises(TypeError):
        intersect_count(va.view(np.int64), oa, vb.view(np.int64), ob)


def test_get_family_is_memoized_and_read_only():
    a1, b1 = get_family(128, 42)
    a2, b2 = get_family(128, 42)
    assert a1 is a2 and b1 is b2
    for arr in (a1, b1):
        with pytest.raises(ValueError):
            arr[0] = 1
    assert get_family(128, 43)[0][0] != a1[0]


def test_gram_hashes_equals_shingle_hashes():
    """O(n) prefix-hash formulation (invertible multiplier mod 2**64) is
    value-identical to the per-length rolling loop for every (n, L)."""
    from minhashsketch_spark.core.shingles import gram_hashes, shingle_hashes

    rng = np.random.RandomState(3)
    for n in (0, 1, 2, 9, 63, 300, 1500):
        b = bytes(rng.randint(0, 256, n, dtype=np.uint8).tobytes())
        for L in (1, 2, 8, 9, 64, 299, 300, 301):
            assert np.array_equal(shingle_hashes(b, L), gram_hashes(b, L)), (n, L)


def test_plan_bands_layouts():
    from minhashsketch_spark.config import plan_bands

    # the flagship config's own layout: 128 fns at 0.7 -> 32x4 passes 0.99
    b, r = plan_bands(128, 0.7)
    assert b * r == 128
    assert 1.0 - (1.0 - 0.7 ** r) ** b >= 0.99
    assert r >= 4  # 32x4 recall at 0.7 is ~0.9996; planner must not undershoot
    # high threshold affords deeper rows (more selective bands)
    b2, r2 = plan_bands(128, 0.9)
    assert b2 * r2 == 128 and r2 >= r
    # r=1 fallback when nothing else meets recall
    assert plan_bands(4, 0.05) == (4, 1)


def test_merge_sketches_equals_r_merge_fold():
    """The vectorized corpus-sketch merge must equal the reference's rMerge
    fold row-by-row for arbitrary inputs (padding, dups, order)."""
    import numpy as np

    from minhashsketch_spark.core.sketch import UINT64_MAX, r_merge
    from minhashsketch_spark.operators.corpus_sketch import merge_sketches

    rng = np.random.default_rng(5)
    t, m, n_mats = 7, 4, 5
    for trial in range(20):
        mats = []
        for _ in range(n_mats):
            vals = rng.integers(0, 12, size=(t, m * 3)).astype(np.uint64)
            mat = np.sort(vals, axis=1)[:, :m]  # sorted rows, dups likely
            pad = rng.random((t, m)) < 0.3
            mat[pad] = UINT64_MAX
            mats.append(np.sort(mat, axis=1))
        got = merge_sketches([m_.copy() for m_ in mats], m)
        want = np.full((t, m), UINT64_MAX, dtype=np.uint64)
        for mat in mats:
            for j in range(t):
                want[j] = r_merge(m, mat[j], want[j])
        assert np.array_equal(got, want), trial
