"""Property-based tests (hypothesis) over the pure kernels — a layer the
reference's own suite lacks (SURVEY §5 'not present: property-based')."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mcp_local_rag_spark.chunking.maxmin import MAX_SENTENCES, group_sentences
from mcp_local_rag_spark.chunking.splitter import split_sentences
from mcp_local_rag_spark.embedder import pseudo_embed
from mcp_local_rag_spark.plans.raw_data import (
    normalize_source,
    path_to_source,
    source_to_path,
)

text_strategy = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=400
)


@given(text_strategy)
@settings(max_examples=200, deadline=None)
def test_split_sentences_total_and_nonempty(text):
    out = split_sentences(text)
    assert all(isinstance(s, str) and s.strip() for s in out)
    # splitting never invents visible words: token multiset of the output is
    # a subset of the input's (placeholder round-trips restore code blocks)
    in_tokens = set(text.split())
    for s in out:
        for tok in s.split():
            assert tok in in_tokens or "```" in text


@given(st.lists(st.lists(st.floats(-1, 1), min_size=4, max_size=4), min_size=1, max_size=40))
@settings(max_examples=100, deadline=None)
def test_group_sentences_partition_properties(vecs):
    arr = np.array(vecs)
    groups = group_sentences(arr)
    # exact partition of [0, n) in order
    flat = [i for g in groups for i in g]
    assert flat == list(range(len(vecs)))
    # every group non-empty and within the force-split cap... the cap bounds
    # growth: a group can reach MAX_SENTENCES and then must close
    assert all(0 < len(g) <= MAX_SENTENCES for g in groups)
    # groups are contiguous runs
    for g in groups:
        assert g == list(range(g[0], g[0] + len(g)))


@given(st.text(max_size=200), st.integers(min_value=4, max_value=128))
@settings(max_examples=100, deadline=None)
def test_pseudo_embed_unit_norm_and_deterministic(text, dim):
    v1 = pseudo_embed(text, dim)
    v2 = pseudo_embed(text, dim)
    assert v1 == v2
    assert len(v1) == dim
    assert abs(math.sqrt(sum(x * x for x in v1)) - 1.0) < 1e-9


@given(st.text(min_size=1, max_size=100).filter(lambda s: "\x00" not in s))
@settings(max_examples=200, deadline=None)
def test_raw_data_path_roundtrip(source):
    p = source_to_path(source)
    assert path_to_source(p) == normalize_source(source)


@given(st.text(min_size=1, max_size=50))
@settings(max_examples=100, deadline=None)
def test_normalize_source_idempotent(source):
    once = normalize_source(source)
    assert normalize_source(once) == once


@given(text_strategy)
@settings(max_examples=200, deadline=None)
def test_garbage_filter_python_twin(text):
    """The Python chunk-path filter and the Column-expression filter are two
    implementations of one reference function — they must always agree.
    (Column semantics re-derived here in pure Python to avoid a Spark job
    per example; test_text.py pins the Column expression itself.)"""
    import re

    from mcp_local_rag_spark.chunking.maxmin import _is_garbage

    t = text.strip()
    if not t:
        expected = True
    elif re.search(r"[a-zA-Z0-9]", t):
        expected = False
    elif re.fullmatch(r"[-=_.*#|~`@!%^&*()\[\]{}\\/<>:+\s]+", t):
        expected = True
    else:
        counts = {}
        for ch in t:
            counts[ch] = counts.get(ch, 0) + 1
        expected = max(counts.values()) / len(t) > 0.8
    assert _is_garbage(text) == expected


@given(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
        min_size=20,
        max_size=300,
    ),
    st.data(),
)
@settings(max_examples=150, deadline=None)
def test_split_units_atomic_preserved(text, data):
    """Atomic [start, end) spans survive splitting verbatim (trimmed), in
    order, exactly once each; ranges over whitespace-only text raise."""
    from mcp_local_rag_spark.chunking.splitter import split_sentence_units

    n = len(text)
    a = data.draw(st.integers(0, n - 2))
    b = data.draw(st.integers(a + 1, n - 1))
    c = data.draw(st.integers(b, n - 1))
    d = data.draw(st.integers(c + 1, n))
    ranges = [[a, b], [c, d]]  # c >= b by construction: ordered, non-overlapping

    import pytest as _pytest

    if not text[a:b].strip() or not text[c:d].strip():
        with _pytest.raises(ValueError):
            split_sentence_units(text, ranges)
        return
    units = split_sentence_units(text, ranges)
    atomics = [u for u, flag in units if flag]
    assert atomics == [text[a:b].strip(), text[c:d].strip()]
    assert all(u.strip() for u, _ in units)


@given(st.lists(st.text(min_size=1, max_size=30).filter(lambda s: "\x00" not in s), min_size=1, max_size=6))
@settings(max_examples=150, deadline=None)
def test_scope_predicate_python_twin(parts):
    """The column scope predicate's semantics (exact-or-descendant with
    separator boundary) checked against a direct Python model over
    generated paths."""
    path = "/" + "/".join(p.replace("/", "_") for p in parts)
    prefix = "/" + "/".join(p.replace("/", "_") for p in parts[: max(1, len(parts) // 2)])

    def py_scope(p, pref):
        pref = pref.rstrip("/") or "/"
        return p == pref or p.startswith(pref + "/")

    # model sanity: a path always matches itself and its own ancestors
    assert py_scope(path, path)
    assert py_scope(path, prefix)
    # boundary: sibling with the prefix as a name-prefix must NOT match
    sibling = prefix + "x/file"
    assert not py_scope(sibling, prefix) or prefix == "/"


@given(
    st.lists(
        st.floats(-10, 10, allow_nan=False).filter(lambda x: abs(x) > 1e-6),
        min_size=8,
        max_size=8,
    )
)
@settings(max_examples=150, deadline=None)
def test_hyperplane_signature_scale_and_negation(vec):
    """Sign-LSH signature properties: positive scaling never changes the
    signature (cosine-similarity hashing must be scale-invariant), and
    negating the vector flips every decided bit."""
    from mcp_local_rag_spark.operators.similarity import hyperplane_planes

    P = hyperplane_planes(8, 8, seed=42)
    v = np.asarray(vec)
    dots = P @ v
    # stay away from the undecidable boundary
    if (np.abs(dots) < 1e-9).any():
        return
    bits = dots > 0
    assert (((P @ (3.5 * v)) > 0) == bits).all()
    assert (((P @ (-v)) > 0) == ~bits).all()


@given(
    st.lists(st.integers(-32768, 32767), min_size=16, max_size=2048),
    st.sampled_from([8000, 16000, 44100]),
)
@settings(max_examples=100, deadline=None)
def test_audio_decoder_roundtrip_exact(samples, sr):
    """PCM16 WAV write -> default_audio_decoder read is exact (mono) at
    any sample rate: values back within quantization, length preserved."""
    import io
    import struct
    import wave

    from mcp_local_rag_spark.operators.multimodal import default_audio_decoder

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(b"".join(struct.pack("<h", s) for s in samples))
    x, got_sr = default_audio_decoder(buf.getvalue())
    assert got_sr == sr and len(x) == len(samples)
    assert np.allclose(x, np.array(samples) / 32768.0)


@given(
    st.lists(
        st.floats(0.0, 2.0, allow_nan=False, width=32), min_size=1, max_size=60
    ),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=1, max_value=5),
    st.randoms(use_true_random=False),
)
@settings(max_examples=200, deadline=None)
def test_batch_topk_tie_margin_is_sufficient(scores, n, n_parts, rnd):
    """The partition-local selection rule of vector_topk_batch (raw-order
    top-n plus every row within one rounding quantum of the n-th kept
    row) must ALWAYS retain a superset of the global top-n under the
    final (HALF_UP-rounded score, id) order — for any partitioning of
    the rows, including scores clustered exactly at rounding boundaries."""
    from decimal import ROUND_HALF_UP, Decimal

    def half_up(x):
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    rows = list(enumerate(scores))  # (id, raw score)
    # adversarial partitioning
    parts = [[] for _ in range(n_parts)]
    for r in rows:
        parts[rnd.randrange(n_parts)].append(r)

    survivors = []
    for part in parts:
        ordered = sorted(part, key=lambda r: (r[1], r[0]))
        if len(ordered) > n:
            cutoff = ordered[n - 1][1] + 1e-6
            ordered = [r for r in ordered if r[1] <= cutoff]
        survivors.extend(ordered)

    final_order = lambda r: (half_up(r[1]), r[0])
    want = sorted(rows, key=final_order)[:n]
    got = sorted(survivors, key=final_order)[:n]
    assert got == want


@given(
    st.text(
        alphabet=st.characters(
            codec="utf-8", categories=("L", "N", "P", "Z", "S")
        ),
        max_size=80,
    )
)
@settings(max_examples=200, deadline=None)
def test_query_terms_match_corpus_tokenizer(text):
    """engine._query_terms (Python re, query side) must tokenize exactly
    like functions/text.tokens (Spark split, corpus side) — any divergence
    silently drops BM25 signal for the affected query. Twin the Spark
    expression in pure Python: split on the same pattern, drop empties."""
    import re

    from mcp_local_rag_spark.functions.text import query_terms

    spark_twin = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t != ""]
    assert query_terms(text) == spark_twin
    # and every emitted term is itself a fixpoint (re-tokenizing a term
    # yields the term): terms are always directly matchable postings keys
    for t in query_terms(text):
        assert query_terms(t) == [t]


@given(
    st.integers(2, 12),
    st.integers(1, 3),
    st.integers(0, 999),
)
@settings(max_examples=60, deadline=None)
def test_pq_exact_when_points_are_centroids(n, m_pow, seed):
    """With n <= k distinct training rows, every point becomes its own
    centroid, so ADC reconstructs exact dots (up to per-subspace
    summation association) — the zero-quantization-error limit of PQ."""
    from mcp_local_rag_spark.operators import pq

    m = 2 ** m_pow  # dim=16 divisible by 1,2,4,8
    rng = np.random.RandomState(seed)
    mat = rng.randn(n, 16)
    books = pq.train_pq_codebooks(mat, m=m, k=max(n, 2), iters=6, seed=seed)
    codes = pq.encode_pq(mat, books)
    assert codes.dtype == np.uint8 and codes.shape == (n, m)
    q = rng.randn(16)
    approx = pq.adc_dots(codes, pq.adc_dot_table(q, books))
    assert np.allclose(approx, mat @ q, atol=1e-9)


@given(st.integers(4, 30), st.integers(0, 99))
@settings(max_examples=40, deadline=None)
def test_pq_encode_is_row_equivariant(n, seed):
    """encode(perm(mat)) == perm(encode(mat)): codes are a pure per-row
    function of the trained codebooks, independent of batch order."""
    from mcp_local_rag_spark.operators import pq

    rng = np.random.RandomState(seed)
    mat = rng.randn(n, 8)
    books = pq.train_pq_codebooks(mat, m=4, k=8, iters=4, seed=0)
    perm = rng.permutation(n)
    a = pq.encode_pq(mat[perm], books)
    b = pq.encode_pq(mat, books)[perm]
    assert np.array_equal(a, b)
