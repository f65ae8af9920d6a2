"""Property-based tests for the pure-numpy kernels (no SparkSession needed).

The vectorized kernels (tokenhash byte-LUT tokenizer, guard eviction,
repetition profile, driver union-find) implement documented semantics; hypothesis checks them against direct Python reference
implementations of those semantics over adversarial inputs.
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from pysparkdedup.tokenhash import batch_token_hashes

# The kernel's documented token rule over UTF-8 bytes: word bytes are
# [0-9a-z_] after ASCII lowering, plus every byte >= 0x80
# (pysparkdedup/tokenhash.py module doc).
_TOKEN_RE = re.compile(rb"[0-9A-Za-z_\x80-\xff]+")


def ref_tokens(s: str) -> list[bytes]:
    return [t.lower() for t in
            _TOKEN_RE.findall(s.encode("utf-8", "surrogatepass"))]


texts = st.text(
    alphabet=st.characters(codec="utf-8"),
    max_size=200,
)


@settings(max_examples=200, deadline=None)
@given(st.lists(texts, max_size=8))
def test_token_counts_match_reference(batch):
    doc_lens, hashes = batch_token_hashes(pa.array(batch, pa.string()))
    expected = [len(ref_tokens(t)) for t in batch]
    assert doc_lens.tolist() == expected
    assert len(hashes) == sum(expected)


@settings(max_examples=200, deadline=None)
@given(texts)
def test_token_hashes_follow_token_identity(s):
    """Equal byte-tokens hash equal; the hash stream is per-token in order
    and case-insensitive (ASCII)."""
    toks = ref_tokens(s)
    # ASCII-only uppercasing (the kernel lowercases ASCII only; Unicode case
    # maps like 'ß'->'SS' change the byte sequence and are out of scope)
    ascii_upper = "".join(
        c.upper() if "a" <= c <= "z" else c for c in s)
    _, h1 = batch_token_hashes(pa.array([s], pa.string()))
    _, h2 = batch_token_hashes(pa.array([ascii_upper], pa.string()))
    assert np.array_equal(h1, h2)  # ASCII case-insensitive
    # identical tokens at different positions share a hash
    seen: dict[bytes, int] = {}
    for tok, h in zip(toks, h1.tolist()):
        if tok in seen:
            assert seen[tok] == h
        seen[tok] = h


@settings(max_examples=200, deadline=None)
@given(st.lists(texts, min_size=1, max_size=4),
       st.lists(st.one_of(st.none(), texts), max_size=8))
def test_token_hashes_read_arrow_offsets(prefix, batch):
    """The kernel cuts documents at the Arrow offsets, not at a separator
    byte: int32 and int64 offsets, and a slice of a longer array (non-zero
    offset into shared buffers), tokenize alike; a null is the empty doc."""
    want = batch_token_hashes(pa.array(batch, pa.string()))
    for arr in (pa.array(batch, pa.large_string()),
                pa.array(prefix + batch, pa.string()).slice(len(prefix)),
                pa.array(prefix + batch, pa.large_string()).slice(
                    len(prefix))):
        got = batch_token_hashes(arr)
        assert np.array_equal(got[0], want[0])
        assert np.array_equal(got[1], want[1])
    lens = [0 if t is None else len(ref_tokens(t)) for t in batch]
    assert want[0].tolist() == lens


def test_null_slot_owning_bytes_tokenizes_empty():
    """Arrow lets a null slot span bytes of the data buffer; the kernel
    reads it as the empty doc, not as the bytes under it."""
    data = pa.py_buffer(b"onetwothree")
    offsets = pa.array([0, 3, 6, 11], pa.int32()).buffers()[1]
    validity = pa.array([True, False, True]).buffers()[1]
    arr = pa.Array.from_buffers(pa.string(), 3, [validity, offsets, data])
    doc_lens, hashes = batch_token_hashes(arr)
    want_lens, want = batch_token_hashes(pa.array(["one", None, "three"]))
    assert doc_lens.tolist() == want_lens.tolist() == [1, 0, 1]
    assert np.array_equal(hashes, want)


# ---- guards: class-level greedy eviction == node-level reference ----------

def _naive_evict(rows, st, ct):
    """Direct node-level transcription of ref deduplicate.py:304-359."""
    from itertools import combinations

    from pysparkdedup.guards import _diff_len

    urls = [r[0] for r in rows]
    sizes = {r[0]: r[1] for r in rows}
    texts = {r[0]: r[2] for r in rows}
    offending, size_offense = {}, False
    diffs = {}
    for a, b in combinations(urls, 2):
        offense = False
        if st >= 0 and abs(sizes[a] - sizes[b]) > st:
            offense = size_offense = True
        if not offense and ct >= 0:
            pair = frozenset((texts[a], texts[b]))
            if pair not in diffs:
                diffs[pair] = (0 if len(pair) == 1 else
                               _diff_len(texts[a].split("\n"),
                                         texts[b].split("\n")))
            if diffs[pair] > ct:
                offense = True
        if offense:
            offending.setdefault(a, set()).add(b)
            offending.setdefault(b, set()).add(a)
    evicted = set()
    while any(offending.values()):
        outlier = min((u for u, peers in offending.items() if peers),
                      key=lambda u: (-len(offending[u]), u))
        evicted.add(outlier)
        offending.pop(outlier)
        for peers in offending.values():
            peers.discard(outlier)
    if evicted and len(urls) - len(evicted) < 2:
        return None, ("size" if size_offense else "content")
    return evicted, None


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.sampled_from(["a\nb", "a\nc", "x" * 40 + "\ny", "zz", ""]),
             min_size=1, max_size=12),
    st.sampled_from([-1, 0, 5, 512]),
    st.sampled_from([-1, 0, 10, 768]),
)
def test_class_level_eviction_matches_node_level(texts_pool, st_thr, ct_thr):
    from pysparkdedup.guards import _evict_group

    rows = [(f"u{i:02d}", len(t), t) for i, t in enumerate(texts_pool)]
    group = pa.table({
        "url": [r[0] for r in rows],
        "n_bytes": pa.array([r[1] for r in rows], pa.int64()),
        # raw_hash stands in for the body-identity key; equal text == equal hash
        "raw_hash": [r[2] for r in rows],
        "text": [r[2] for r in rows],
    })
    got = _evict_group(group, st_thr, ct_thr, max_group=5000).to_pydict()
    exp_evicted, exp_skip = _naive_evict(rows, st_thr, ct_thr)
    if exp_skip is not None:
        assert set(got["guard_skip_kind"]) == {exp_skip}
        assert not any(got["evicted"])
    else:
        assert {u for u, e in zip(got["url"], got["evicted"]) if e} \
            == exp_evicted
        assert all(k is None for k in got["guard_skip_kind"])


# --- repetition profile kernel (round 6: numpy batch over Arrow) --------

def _ref_rep_stats(text, n):
    """Direct Counter reference for one doc at one n, with the JVM
    HALF_UP-on-shortest-repr rounding the kernel pins."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    toks = [w for w in re.split(r"[ \t\n\x0B\f\r]+",
                                text.lower() if text else "") if w]
    grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
    if not grams:
        return (0, 0, 0.0, 0.0)
    c = Counter(grams)
    total = sum(cnt * len(g) for g, cnt in c.items())
    dup = sum(cnt * len(g) for g, cnt in c.items() if cnt >= 2)
    bc, bl = max((cnt, len(g)) for g, cnt in c.items())

    def r4(x):
        return float(Decimal(repr(x)).quantize(
            Decimal("0.0001"), rounding=ROUND_HALF_UP))

    return (len(grams), len(c), r4(bc * bl / max(total, 1)),
            r4(dup / max(total, 1)))


# small alphabet + repeats guarantee duplicate grams and rounding ties;
# explicit whitespace varieties exercise the Java-\s tokenizer class
_rep_texts = st.lists(
    st.one_of(
        st.sampled_from(["a", "bb", "ccc", "a a", "bb\tbb", "x\x0By", ""]),
        st.text(alphabet="ab \t\n", max_size=24),
    ),
    min_size=0, max_size=6,
).map(lambda parts: " ".join(parts))


@settings(max_examples=150, deadline=None)
@given(st.lists(_rep_texts, min_size=1, max_size=8),
       st.sampled_from([(1,), (2,), (2, 3, 4)]))
def test_repetition_profile_batch_matches_reference(batch, ns):
    from pysparkdedup.repetition import _profile_batch

    rb = pa.RecordBatch.from_pydict(
        {"doc_id": list(range(len(batch))), "text": batch})
    out = _profile_batch(rb, ns, "doc_id", "text").to_pydict()
    for i, text in enumerate(batch):
        for n in ns:
            exp = _ref_rep_stats(text, n)
            got = (out["n_grams_%d" % n][i],
                   out["distinct_grams_%d" % n][i],
                   out["top_gram_frac_%d" % n][i],
                   out["dup_gram_frac_%d" % n][i])
            assert got == exp, (i, n, text)


# --- driver-side union-find (round 6: small-graph components path) -------

def _ref_components(edges):
    """Naive BFS components; labels = min member per component."""
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seen, out = set(), {}
    for start in adj:
        if start in seen:
            continue
        comp, frontier = {start}, [start]
        while frontier:
            v = frontier.pop()
            for w in adj[v]:
                if w not in comp:
                    comp.add(w)
                    frontier.append(w)
        seen |= comp
        label = min(comp)
        for v in comp:
            out[v] = f"cc:{label}"
    return out


@settings(max_examples=200, deadline=None)
@given(st.lists(
    st.tuples(st.integers(0, 25), st.integers(0, 25)).map(
        lambda p: (f"n{p[0]:02d}", f"n{p[1]:02d}")),
    min_size=0, max_size=60))
def test_driver_union_find_matches_naive_components(edges):
    from pyspark.sql import types as T

    from pysparkdedup.components import _driver_union_find

    rows, _ = _driver_union_find(iter(edges), T.StringType())
    assert dict(rows) == _ref_components(edges)
