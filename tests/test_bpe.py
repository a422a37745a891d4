"""BPE tokenizer training/segmentation (operators/bpe.py) vs a
pure-Python reference implementation of the Sennrich-2016 algorithm
(same convention: end-of-word marker as a separate trailing symbol,
ties broken lexicographically on the pair)."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from syslog_ng_spark.operators.bpe import EOW, bpe_segment, bpe_train

# ---------------------------------------------------------------------------
# pure-Python reference
# ---------------------------------------------------------------------------


def _ref_profile(texts: list[str]) -> Counter:
    prof: Counter = Counter()
    for t in texts:
        for w in t.lower().split():
            prof[w] += 1
    return prof


def _ref_merge(symbols: list[str], a: str, b: str) -> list[str]:
    """left-to-right non-overlapping single-pair merge"""
    out: list[str] = []
    i = 0
    while i < len(symbols):
        if i + 1 < len(symbols) and symbols[i] == a and symbols[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def _ref_train(texts: list[str], n_merges: int):
    prof = {
        tuple(list(w) + [EOW]): c for w, c in _ref_profile(texts).items()
    }
    merges = []
    for rank in range(1, n_merges + 1):
        pairs: Counter = Counter()
        for syms, c in prof.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        # max count, ties lexicographically smallest (a, b)
        (a, b), _ = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b))
        prof = {
            tuple(_ref_merge(list(syms), a, b)): c for syms, c in prof.items()
        }
    return merges


def _ref_segment(text: str, merges) -> list[str]:
    out: list[str] = []
    for w in text.lower().split():
        syms = list(w) + [EOW]
        for _, a, b in sorted(merges):
            syms = _ref_merge(syms, a, b)
        out.extend(syms)
    return out


# ---------------------------------------------------------------------------
# tests
# ---------------------------------------------------------------------------

CORPUS = [
    "low low low low low",
    "lower lower newest newest newest newest newest newest",
    "widest widest widest new new low",
]


def _df(spark, texts):
    return spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")


def test_train_matches_reference(spark):
    got = bpe_train(_df(spark, CORPUS), "text", n_merges=10)
    assert got == _ref_train(CORPUS, 10)


def test_segment_matches_reference(spark):
    merges = bpe_train(_df(spark, CORPUS), "text", n_merges=8)
    seg = bpe_segment(_df(spark, CORPUS), "text", merges).select("doc_id", "bpe").collect()
    for row in seg:
        assert row["bpe"] == _ref_segment(CORPUS[row["doc_id"]], merges)


def test_segment_roundtrip_lossless(spark):
    """removing EOW boundaries and re-joining reconstructs the words"""
    merges = bpe_train(_df(spark, CORPUS), "text", n_merges=12)
    for row in bpe_segment(_df(spark, CORPUS), "text", merges).collect():
        rejoined = "".join(row["bpe"]).replace(EOW, " ").split()
        assert rejoined == CORPUS[row["doc_id"]].lower().split()


def test_empty_text_keeps_row(spark):
    merges = [(1, "a", "b")]
    rows = bpe_segment(_df(spark, ["", "ab ab"]), "text", merges).collect()
    by_id = {r["doc_id"]: r["bpe"] for r in rows}
    assert by_id[0] == []
    assert by_id[1] == ["ab", EOW, "ab", EOW]


def test_n_merges_validation(spark):
    with pytest.raises(ValueError):
        bpe_train(_df(spark, CORPUS), "text", n_merges=0)


@settings(max_examples=15, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab x", min_size=0, max_size=12), min_size=1, max_size=4
    ),
    n=st.integers(min_value=1, max_value=4),
)
def test_property_train_matches_reference(spark, texts, n):
    """tiny alphabet maximizes merge collisions (aa, ab, repeated
    runs) — the adversarial regime for the double-space replace trick"""
    got = bpe_train(_df(spark, texts), "text", n_merges=n)
    assert got == _ref_train(texts, n)


# ---------------------------------------------------------------------------
# Arrow mapInPandas kernel (rank-priority encoder)
# ---------------------------------------------------------------------------


def test_segment_pandas_kernel_parity(spark):
    """The rank-priority encoder must equal the sequential
    replace-per-merge reference on genuinely-trained lists — the
    equivalence argument in bpe._segment_word_ranked — including the
    collision-heavy tiny-alphabet corpora."""
    for texts, n in [
        (CORPUS, 8),
        (["aaa aa a aaaa", "abab ab ba bab"], 12),
        (["xy xyx yxy xxyy"], 12),
    ]:
        merges = bpe_train(_df(spark, texts), "text", n_merges=n)
        rows = {
            r["doc_id"]: r["bpe"]
            for r in bpe_segment(_df(spark, texts), "text", merges).collect()
        }
        assert rows == {i: _ref_segment(t, merges) for i, t in enumerate(texts)}


def test_segment_pandas_null_and_empty(spark):
    merges = [(1, "a", "b")]
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "ab ab")], "doc_id long, text string"
    )
    by_id = {
        r["doc_id"]: r["bpe"]
        for r in bpe_segment(df, "text", merges).collect()
    }
    assert by_id[0] is None
    assert by_id[1] == []
    assert by_id[2] == ["ab", EOW, "ab", EOW]


def test_segment_pandas_500_merge_janino_guard(spark):
    """A real tokenizer has ~30k merges; a chained-replace expression
    tree hits the measured janino/codegen wall far below that
    (SCALE.md Addendum 5 §3). The Arrow kernel must segment with a
    500-merge list — verified against the pure-Python sequential
    reference."""
    # 501 DISTINCT chars: every chain merge applies exactly once, so
    # the full word provably collapses to one token (a repeating
    # alphabet would fuse into blocks instead and mask a broken chain)
    word = "".join(chr(0x4E00 + i) for i in range(501))  # caseless CJK: lower() is a no-op
    merges = [
        (r, word[: r], word[r]) for r in range(1, 501)
    ]  # chain: (c0,c1),(c0c1,c2)... genuine-BPE shape
    texts = [word, word[:27] + " " + word, "zz " + word[:3]]
    df = _df(spark, texts)
    rows = {
        r["doc_id"]: r["bpe"]
        for r in bpe_segment(df, "text", merges).collect()
    }
    for i, t in enumerate(texts):
        assert rows[i] == _ref_segment(t, merges)
    # the full word collapses into ONE 501-char token + EOW
    assert rows[0] == [word, EOW]


def test_ranked_kernel_equals_sequential_property(spark):
    """property: on trained merge lists (any corpus), rank-priority ==
    sequential application for every word in the corpus."""
    from syslog_ng_spark.operators.bpe import _segment_word_ranked

    for texts in (CORPUS, ["aaa aa a aaaa", "abab ab ba bab"], ["xy xyx yxy xxyy"]):
        merges = _ref_train(texts, 12)
        ranks = {(a, b): r for r, a, b in merges}
        for t in texts:
            for w in t.lower().split():
                seq = list(w) + [EOW]
                for _, a, b in sorted(merges):
                    seq = _ref_merge(seq, a, b)
                assert _segment_word_ranked(w, ranks) == seq, (w, merges)


# ---------------------------------------------------------------------------
# driver-local merge loop (production path for real ~30k-merge vocabs)
# ---------------------------------------------------------------------------


def test_driver_local_train_matches_distributed(spark):
    """driver_profile=True must be bit-identical to the distributed
    loop AND the pure-Python reference on the same corpus."""
    dist = bpe_train(_df(spark, CORPUS), "text", n_merges=10, driver_profile=False)
    local = bpe_train(_df(spark, CORPUS), "text", n_merges=10, driver_profile=True)
    assert local == dist == _ref_train(CORPUS, 10)


def test_driver_local_exhausts_pairs(spark):
    """asking for more merges than exist: both paths stop at the same
    (shorter) merge list."""
    texts = ["ab ab", "cd"]
    dist = bpe_train(_df(spark, texts), "text", n_merges=50, driver_profile=False)
    local = bpe_train(_df(spark, texts), "text", n_merges=50, driver_profile=True)
    assert local == dist == _ref_train(texts, 50)
    assert len(local) < 50


def test_driver_auto_routes_to_local(spark, monkeypatch):
    """auto picks the driver-local loop whenever the profile fits the
    collect bound (r14: round-trip latency dominates at ANY merge
    count — distributed rounds cost ~2 Spark jobs each vs ~ms locally,
    and parity is bit-exact). The distributed loop stays reachable via
    driver_profile=False and the over-bound auto fallback."""
    import syslog_ng_spark.operators.bpe as bpe_mod

    calls = []
    real = bpe_mod._train_merges_local

    def spy(word_counts, n_merges):
        calls.append(n_merges)
        return real(word_counts, n_merges)

    monkeypatch.setattr(bpe_mod, "_train_merges_local", spy)
    got = bpe_train(_df(spark, CORPUS), "text", n_merges=33)
    assert calls == [33]
    assert got == _ref_train(CORPUS, 33)
    calls.clear()
    got8 = bpe_train(_df(spark, CORPUS), "text", n_merges=8)
    assert calls == [8]  # small lists go driver-local too now
    assert got8 == _ref_train(CORPUS, 8)


def test_driver_profile_bound(spark):
    """explicit driver_profile=True over the row bound raises; auto
    falls back to the distributed loop and still matches."""
    with pytest.raises(ValueError, match="max_driver_profile_rows"):
        bpe_train(
            _df(spark, CORPUS), "text", n_merges=40,
            driver_profile=True, max_driver_profile_rows=2,
        )
    got = bpe_train(
        _df(spark, CORPUS), "text", n_merges=40,
        driver_profile="auto", max_driver_profile_rows=2,
    )
    assert got == _ref_train(CORPUS, 40)


@settings(max_examples=60, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab xy", min_size=0, max_size=16), min_size=1, max_size=6
    ),
    n=st.integers(min_value=1, max_value=12),
)
def test_property_local_loop_matches_reference(texts, n):
    """the incremental heap/inverted-index loop vs the O(P)-rescan
    reference — pure Python, so the example budget is wide. Tiny
    alphabet maximizes count-update collisions (the adversarial regime
    for stale-heap-entry handling)."""
    from syslog_ng_spark.operators.bpe import _train_merges_local

    profile = list(_ref_profile(texts).items())
    assert _train_merges_local(profile, n) == _ref_train(texts, n)


def test_driver_local_real_corpus_parity(spark):
    """both paths on the real documents table (the corpus the gates
    run on), past the auto threshold."""
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dist = bpe_train(df, "text", n_merges=36, driver_profile=False)
    local = bpe_train(df, "text", n_merges=36, driver_profile=True)
    assert local == dist


def test_driver_local_train_feeds_pandas_segment(spark):
    """The production pair at real vocab size: driver-local training
    (the only viable path for ~30k merges) feeding the Arrow segment
    kernel. 300
    merges over a 200-word corpus; segmentation must be lossless and
    match the pure-Python sequential reference."""
    import hashlib

    words = [hashlib.md5(str(i).encode()).hexdigest()[: 4 + i % 5] for i in range(200)]
    texts = [" ".join(words[i : i + 20]) for i in range(0, 200, 10)]
    merges = bpe_train(_df(spark, texts), "text", n_merges=300, driver_profile=True)
    assert len(merges) == 300
    rows = {
        r["doc_id"]: r["bpe"]
        for r in bpe_segment(_df(spark, texts), "text", merges).collect()
    }
    for i, t in enumerate(texts):
        assert rows[i] == _ref_segment(t, merges)
        assert "".join(rows[i]).replace(EOW, " ").split() == t.split()


# ---------------------------------------------------------------------------
# vocabulary & token-id encoding
# ---------------------------------------------------------------------------


def test_vocab_shape_and_determinism(spark):
    from syslog_ng_spark.operators.bpe import bpe_vocab

    merges = bpe_train(_df(spark, CORPUS), "text", n_merges=6)
    vocab = {r["token"]: r["id"] for r in bpe_vocab(_df(spark, CORPUS), "text", merges).collect()}
    alphabet = sorted(set("".join("".join(t.lower().split()) for t in CORPUS)) | {EOW})
    n_alpha = len(alphabet)
    # alphabet ids: binary string order, 0-based
    for i, ch in enumerate(alphabet):
        assert vocab[ch] == i, ch
    # merge tokens: |alphabet| + rank - 1, in rank order
    for r, a, b in merges:
        assert vocab[a + b] == n_alpha + r - 1
    assert len(vocab) == n_alpha + len(merges)


def test_train_and_vocab_matches_separate_calls(spark):
    """r15: the one-profile-pass helper must return exactly what the
    separate bpe_train + bpe_vocab(df).collect() calls return — on a
    plain corpus, on a duplicate-surface-form corpus (lowest id wins),
    and on an astral-plane corpus (code-point symbol parity)."""
    from syslog_ng_spark.operators.bpe import (
        bpe_train_and_vocab,
        bpe_vocab,
    )

    for corpus, n in [
        (CORPUS, 6),
        (["ab ab abc a b c", "ab c abc"], 4),        # 'abc' two ways
        (["\U0001f600a a\U0001f600 aa", "\U0001f600\U0001f600 aa"], 4),
    ]:
        merges, vocab = bpe_train_and_vocab(_df(spark, corpus), "text", n)
        assert merges == bpe_train(_df(spark, corpus), "text", n_merges=n)
        expect = {
            r["token"]: r["id"]
            for r in bpe_vocab(_df(spark, corpus), "text", merges).collect()
        }
        assert vocab == expect


def test_segment_ids_kernels_agree_and_roundtrip(spark):
    """bpe_segment_ids (vocab built from the frame itself) equals the
    reference segmentation mapped through bpe_vocab, and decodes back
    to the words."""
    from syslog_ng_spark.operators.bpe import bpe_segment_ids, bpe_vocab

    merges = bpe_train(_df(spark, CORPUS), "text", n_merges=8)
    pd_ids = {
        r["doc_id"]: r["ids"]
        for r in bpe_segment_ids(_df(spark, CORPUS), "text", merges).collect()
    }
    vocab = {
        r["token"]: r["id"]
        for r in bpe_vocab(_df(spark, CORPUS), "text", merges).collect()
    }
    assert pd_ids == {
        i: [vocab[tok] for tok in _ref_segment(t, merges)] for i, t in enumerate(CORPUS)
    }
    # ids decode back to the segmentation (lossless round trip)
    inv = {i: t for t, i in vocab.items()}
    for i, t in enumerate(CORPUS):
        decoded = "".join(inv[x] for x in pd_ids[i]).replace(EOW, " ").split()
        assert decoded == t.lower().split()


ASTRAL_CORPUS = [
    "\U0001F600\U0001F600 low \U0001F600\U0001F601 lower",
    "\U0001D11E\U0001D11E\U0001D11E music \U0001D11E low",
    "mixed\U0001F600text low lower \U0001F600\U0001F600",
    "\U0001F600\U0001F601 \U0001F600\U0001F601 newest widest",
]


def test_astral_plane_train_parity(spark):
    """Supplementary-plane characters are ONE symbol in BOTH training
    paths: Python iterates by code point and Spark's regexp '(.)'
    matches a surrogate pair as one character — the merge lists must
    be identical on an emoji-bearing corpus."""
    df = _df(spark, ASTRAL_CORPUS)
    dist = bpe_train(df, "text", n_merges=8, driver_profile=False)
    local = bpe_train(df, "text", n_merges=8, driver_profile=True)
    assert dist == local
    # astral chars appear as single symbols in the learned merges
    joined = "".join(a + b for _, a, b in dist)
    assert "\ud83d" not in joined  # no bare surrogate halves anywhere


def test_astral_plane_segment_kernels_agree(spark):
    """The segmenter (Python code points) agrees token-for-token with
    the reference on astral text whose merges came from the
    distributed trainer (Java regex '(.)' symbols), and the round trip
    restores the original words."""
    df = _df(spark, ASTRAL_CORPUS)
    merges = bpe_train(df, "text", n_merges=6, driver_profile=False)
    pd_rows = {r["doc_id"]: r["bpe"] for r in bpe_segment(df, "text", merges).collect()}
    assert pd_rows == {i: _ref_segment(t, merges) for i, t in enumerate(ASTRAL_CORPUS)}
    for i, t in enumerate(ASTRAL_CORPUS):
        decoded = "".join(pd_rows[i]).replace(EOW, " ").split()
        assert decoded == t.lower().split()


def test_astral_plane_property_local_vs_spark(spark):
    """Property check: random words mixing BMP and supplementary
    chars — one profile pass each way, identical merge lists."""
    import random

    rng = random.Random(99)
    alphabet = ["a", "b", "\U0001F600", "\U0001D11E", "\U0001F680", "z"]
    texts = [
        " ".join(
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 5)))
            for _ in range(rng.randint(2, 6))
        )
        for _ in range(12)
    ]
    df = _df(spark, texts)
    assert bpe_train(df, "text", 5, driver_profile=False) == bpe_train(
        df, "text", 5, driver_profile=True
    )


def test_vocab_duplicate_surface_form_keeps_lowest_id(spark):
    """Two merges yielding the same token string (('ab','c') and
    ('a','bc') both produce 'abc') must not yield duplicate vocab rows:
    policy is lowest-id-wins, so bpe_segment_ids' dict and the SQL
    oracle's join both see one row per token."""
    from collections import Counter

    from syslog_ng_spark.operators.bpe import bpe_segment_ids, bpe_vocab

    corpus = ["abc abc ab bc"]
    merges = [(1, "a", "b"), (2, "b", "c"), (3, "ab", "c"), (4, "a", "bc")]
    rows = bpe_vocab(_df(spark, corpus), "text", merges).collect()
    tokens = [r["token"] for r in rows]
    assert Counter(tokens)["abc"] == 1  # deduped
    assert len(tokens) == len(set(tokens))
    vocab = {r["token"]: r["id"] for r in rows}
    n_alpha = len(set("abc") | {EOW})
    assert vocab["abc"] == n_alpha + 3 - 1  # first producer (rank 3) wins
    # encoding under the deduped vocab maps every token, as the
    # reference segmentation does
    pd_ids = bpe_segment_ids(
        _df(spark, corpus), "text", merges, vocab=vocab
    ).collect()[0]["ids"]
    assert pd_ids == [vocab[tok] for tok in _ref_segment(corpus[0], merges)]
    assert all(x is not None for x in pd_ids)


def test_local_vocab_ignores_merge_order(spark):
    """The driver-local vocab visits merges in rank order whatever
    order they arrive in, so lowest-id-wins holds for a list fed out
    of rank order — equal to bpe_vocab, which takes MIN(id)."""
    from syslog_ng_spark.operators.bpe import _local_vocab, bpe_vocab

    corpus = ["abc abc ab bc"]
    merges = [(4, "a", "bc"), (2, "b", "c"), (3, "ab", "c"), (1, "a", "b")]
    vocab = _local_vocab(list(_ref_profile(corpus).items()), merges)
    expect = {r["token"]: r["id"] for r in bpe_vocab(_df(spark, corpus), "text", merges).collect()}
    assert vocab == expect
    assert vocab["abc"] == len(set("abc") | {EOW}) + 3 - 1  # rank 3, not rank 4


def test_segment_ids_unknown_token_is_null(spark):
    """Encoding NEW text with the TRAINING corpus's vocab: a symbol
    absent from the training alphabet maps to NULL (unk policy belongs
    to the loader), exactly where the reference segmentation has a
    token outside the vocab. Passing the training vocab is what keeps
    merge-token ids stable — building it from the inference frame
    would silently shift every id."""
    from syslog_ng_spark.operators.bpe import bpe_segment_ids, bpe_vocab

    merges = bpe_train(_df(spark, CORPUS), "text", n_merges=4)
    train_vocab = {
        r["token"]: r["id"]
        for r in bpe_vocab(_df(spark, CORPUS), "text", merges).collect()
    }
    probe = ["low zebra!"]  # 'z' and '!' are not in the CORPUS alphabet
    ids = bpe_segment_ids(
        _df(spark, probe), "text", merges, vocab=train_vocab
    ).collect()[0]["ids"]
    assert ids == [train_vocab.get(tok) for tok in _ref_segment(probe[0], merges)]
    assert None in ids                  # unseen symbol -> NULL id
    assert any(x is not None for x in ids)
