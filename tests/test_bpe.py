"""BPE subword tokenization: merge-table provenance, the three-way
encode equivalence (symbol-list sequential == oracle's paren-replace
chain == classical lowest-rank-priority loop), and the zero-shuffle
counting op."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from ue_big_data_project_spark.operators.bpe import (
    BPE_END_MARKER,
    bpe_byte_symbols,
    bpe_encode_word,
    bpe_token_counts,
    bpe_train_merges,
)
from ue_big_data_project_spark.queries.textops import BPE_MERGES


def _encode_by_replace(
    word: str, merges, end_marker=None, byte_fallback=False, alphabet=None
) -> int:
    """Pure-Python replay of the ORACLE's semantics: wrap each initial
    symbol as (sym) — chars, the optional end marker, the byte-fallback
    expansion — then one str.replace per merge in rank order; token
    count = number of '(' left. str.replace is left-to-right
    non-overlapping, exactly DuckDB's replace."""
    syms = []
    for c in word:
        if byte_fallback and alphabet is not None and c not in alphabet:
            syms.extend(bpe_byte_symbols(c))
        else:
            syms.append(c)
    if end_marker is not None:
        syms.append(end_marker)
    s = "".join(f"({sym})" for sym in syms)
    for a, b in merges:
        s = s.replace(f"({a})({b})", f"({a}{b})")
    return s.count("(")


def _encode_by_priority(word: str, merges, end_marker=None) -> list[str]:
    """The classical encoder: repeatedly merge the lowest-RANK pair
    present anywhere (all its occurrences, left-to-right), until no
    ranked pair remains."""
    rank = {pair: i for i, pair in enumerate(merges)}
    syms = list(word) + ([end_marker] if end_marker is not None else [])
    while len(syms) >= 2:
        present = {
            (syms[i], syms[i + 1]) for i in range(len(syms) - 1)
        } & rank.keys()
        if not present:
            break
        a, b = min(present, key=lambda p: rank[p])
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_merge_table_provenance(spark):
    """The frozen BPE_MERGES constant IS bpe_train_merges' output on
    the sf0.001 documents fixture WITH the end-of-word marker
    (round-12 retrain) — retraining must reproduce it byte-for-byte
    (deterministic sample, deterministic tie-break)."""
    from ue_big_data_project_spark.queries.tables import load_tables

    d = load_tables(spark, "/root/testdata/sf0.001", ("documents",))[
        "documents"
    ]
    got = bpe_train_merges(d, n_merges=24, end_marker=BPE_END_MARKER)
    assert tuple(got) == BPE_MERGES


@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=10),
        min_size=1,
        max_size=12,
    ),
    probe=st.text(alphabet="abcd", min_size=0, max_size=14),
    n_merges=st.integers(min_value=1, max_value=12),
    use_marker=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_encode_equivalences_on_trained_tables(
    words, probe, n_merges, use_marker
):
    """For any table the trainer emits (well-formed by construction: a
    derived pair always ranks after the merges that build its
    symbols), the sequential-by-rule encoder, the oracle's
    paren-replace chain, and the classical priority loop agree — on
    the training words AND on unseen probes."""
    from collections import Counter

    counts = Counter(words)
    eow = "#" if use_marker else None  # '#' is outside the alphabet
    # Train pure-Python (mirrors bpe_train_merges' driver loop).
    vocab = {
        tuple(w) + ((eow,) if eow else ()): c
        for w, c in counts.items()
    }
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        best = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        merges.append(best)
        a, b = best
        nv = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv

    for w in set(words) | {probe}:
        seq = bpe_encode_word(w, merges, end_marker=eow)
        # lossless re-spelling (marker included exactly once)
        assert "".join(seq) == w + (eow or "")
        assert len(seq) == _encode_by_replace(w, merges, end_marker=eow)
        assert seq == _encode_by_priority(w, merges, end_marker=eow)


def test_encode_against_frozen_table_examples():
    m = list(BPE_MERGES)
    eow = BPE_END_MARKER
    assert bpe_encode_word("window", m, end_marker=eow) == [
        "w", "in", "d", "ow</w>",
    ]
    assert bpe_encode_word("sort", m, end_marker=eow) == [
        "s", "or", "t</w>",
    ]
    assert bpe_encode_word("scan", m, end_marker=eow) == ["scan</w>"]
    # The marker keeps word-FINAL subwords distinct from internal
    # ones: "scan" the word collapses to one symbol, "scan" the
    # prefix of "scans" does not end in </w> so scan</w> cannot fire.
    assert bpe_encode_word("scans", m, end_marker=eow) == [
        "s", "c", "a", "n", "s", "</w>",
    ]
    # Unseen word: merges still apply wherever their pairs occur.
    assert bpe_encode_word("winter", m, end_marker=eow) == [
        "w", "in", "t", "er</w>",
    ]
    assert bpe_encode_word("a", m, end_marker=eow) == ["a</w>"]
    # markerless encode still works against the marker-trained table
    # (marker merges simply never fire).
    assert bpe_encode_word("sort", m) == ["s", "or", "t"]


def test_byte_fallback_never_drops_and_replays():
    """Byte fallback: characters outside the training alphabet expand
    to their UTF-8 byte symbols — nothing dropped, token count equals
    the oracle replace-chain replay, and in-alphabet words encode
    exactly as without fallback."""
    m = list(BPE_MERGES)
    alpha = set("abcdefghijklmnopqrstuvwxyz0123456789")
    got = bpe_encode_word(
        "caf\u00e9", m, end_marker=BPE_END_MARKER,
        byte_fallback=True, alphabet=alpha,
    )
    # é is outside the alphabet → two UTF-8 byte symbols; every other
    # char is itself; the marker merges with nothing after bytes.
    assert got == ["c", "a", "f", "<0xC3>", "<0xA9>", "</w>"]
    assert len(got) == _encode_by_replace(
        "caf\u00e9", m, end_marker=BPE_END_MARKER,
        byte_fallback=True, alphabet=alpha,
    )
    # in-alphabet word: fallback is a no-op
    assert bpe_encode_word(
        "sort", m, end_marker=BPE_END_MARKER,
        byte_fallback=True, alphabet=alpha,
    ) == bpe_encode_word("sort", m, end_marker=BPE_END_MARKER)
    # pathological: fully out-of-alphabet emoji still yields tokens
    got2 = bpe_encode_word(
        "\U0001f600", m, byte_fallback=True, alphabet=alpha
    )
    assert got2 == ["<0xF0>", "<0x9F>", "<0x98>", "<0x80>"]


def test_bpe_token_counts_distributed_matches_pure_python(spark):
    rows = [
        (0, "the window  sorts"),
        (1, "Stream STREAM stream"),
        (2, "a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"], r["n_chars"])
        for r in bpe_token_counts(df, list(BPE_MERGES)).collect()
    }
    want = {}
    for i, t in rows:
        ws = t.lower().split()
        want[i] = (
            len(ws),
            sum(len(bpe_encode_word(w, list(BPE_MERGES))) for w in ws),
            sum(len(w) for w in ws),
        )
    assert got == want
