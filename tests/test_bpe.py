"""Distributed BPE trainer/encoder vs a pure-Python textbook reference
(differential anchor, same practice as the packing/asof/PQ tests)."""

import random

import pytest
from pyspark.sql import functions as F

from gedixr_spark.operators import bpe

EOW = bpe.EOW


def _ref_train(words: dict[str, int], n_merges: int):
    """Textbook BPE (Sennrich et al.): max-count pair, ties to the
    lexicographically least pair, stop under count 2."""
    vocab = {}
    for w, n in words.items():
        syms = list(w)
        syms[-1] += EOW
        vocab[tuple(syms)] = vocab.get(tuple(syms), 0) + n
    merges = []
    for _ in range(n_merges):
        counts = {}
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        top = max(counts.values())
        if top < 2:
            break
        best = min(p for p, c in counts.items() if c == top)
        merges.append(best)
        a, b = best
        new = {}
        for syms, n in vocab.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            new[tuple(merged)] = new.get(tuple(merged), 0) + n
        vocab = new
    return merges


def _ref_encode(word: str, merges):
    syms = list(word)
    syms[-1] += EOW
    for a, b in merges:
        merged, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                merged.append(a + b)
                i += 2
            else:
                merged.append(syms[i])
                i += 1
        syms = merged
    return syms


CORPUS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "widest widest widest",
]


def test_bpe_train_differential_vs_reference(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)], ["doc_id", "text"])
    wc = bpe.word_counts(df)
    words = {r["word"]: r["n"] for r in wc.collect()}
    got = bpe.bpe_train(wc, n_merges=12)
    want = _ref_train(words, 12)
    assert got == want and len(got) >= 8


def test_bpe_train_differential_randomized(spark):
    rng = random.Random(99)
    alphabet = "abcd"
    texts = [
        " ".join(
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(3, 12))
        )
        for _ in range(40)
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    wc = bpe.word_counts(df)
    words = {r["word"]: r["n"] for r in wc.collect()}
    got = bpe.bpe_train(wc, n_merges=15)
    assert got == _ref_train(words, 15)


def test_bpe_encode_matches_reference_and_roundtrips(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)], ["doc_id", "text"])
    merges = bpe.bpe_train(bpe.word_counts(df), n_merges=10)
    enc = bpe.bpe_encode(df, merges).collect()
    for r in enc:
        toks = r["bpe_tokens"]
        want = []
        for w in r["text"].lower().split():
            want.extend(_ref_encode(w, merges))
        assert toks == want
        # lossless: concatenating tokens restores the words
        joined = "".join(toks).replace(EOW, " ").strip()
        assert joined == " ".join(r["text"].lower().split())


def test_bpe_token_count_feeds_packing(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)], ["doc_id", "text"])
    merges = bpe.bpe_train(bpe.word_counts(df), n_merges=10)
    counted = bpe.bpe_token_count(df, merges)
    rows = {r["doc_id"]: r["n_bpe_tokens"] for r in counted.collect()}
    assert all(n > 0 for n in rows.values())
    # trained merges compress vs character count
    chars = {r["doc_id"]: len(r["text"].replace(" ", "")) for r in df.collect()}
    assert all(rows[d] < chars[d] for d in rows)
    from gedixr_spark.operators.packing import pack_sequences

    packed = pack_sequences(counted, budget=16, n_groups=2, tokens_col="n_bpe_tokens")
    assert packed.count() == len(CORPUS)


def test_bpe_train_early_stop_and_validation(spark):
    df = spark.createDataFrame([(0, "a b c d")], ["doc_id", "text"])  # all count-1 pairs
    merges = bpe.bpe_train(bpe.word_counts(df), n_merges=5)
    assert merges == []  # nothing occurs twice
    with pytest.raises(ValueError):
        bpe.bpe_train(bpe.word_counts(df), n_merges=0)


# --- vocab + token-id materialization (r6) ----------------------------------


def test_vocab_is_deterministic_and_merge_bounded(spark):
    from gedixr_spark.operators.bpe import (
        bpe_train, build_vocab, word_counts,
    )

    df = spark.createDataFrame(
        [(i, "low lower lowest new newer") for i in range(4)],
        "doc_id long, text string",
    )
    merges = bpe_train(word_counts(df), n_merges=5)
    v1 = {(r["token"], r["token_id"]) for r in build_vocab(df, merges).collect()}
    v2 = {
        (r["token"], r["token_id"])
        for r in build_vocab(df.repartition(7), merges).collect()
    }
    assert v1 == v2  # stable across partitionings
    toks = sorted(t for t, _ in v1)
    ids = sorted(i for _, i in v1)
    assert ids == list(range(len(v1)))  # dense 0..n-1
    assert toks == sorted(set(toks))


def test_encode_ids_roundtrip_and_unk(spark):
    from gedixr_spark.operators.bpe import (
        bpe_encode, bpe_encode_ids, bpe_train, build_vocab, word_counts,
    )

    train = spark.createDataFrame(
        [(1, "aa ab aa"), (2, "ab aa ab ab")], "doc_id long, text string"
    )
    merges = bpe_train(word_counts(train), n_merges=3)
    vocab = build_vocab(train, merges)
    id2tok = {r["token_id"]: r["token"] for r in vocab.collect()}

    # round trip on in-vocab text: ids decode back to the string tokens
    enc = {r["doc_id"]: r["bpe_tokens"] for r in bpe_encode(train, merges).collect()}
    got = {
        r["doc_id"]: [id2tok[i] for i in r["token_ids"]]
        for r in bpe_encode_ids(train, merges, vocab).collect()
    }
    assert got == enc

    # frozen vocab vs a new batch: OOV symbols become unk, not dropped
    new = spark.createDataFrame(
        [(3, "aa zz"), (4, "")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: list(r["token_ids"])
        for r in bpe_encode_ids(new, merges, vocab, unk_id=-1).collect()
    }
    n_toks = {
        r["doc_id"]: len(r["bpe_tokens"])
        for r in bpe_encode(new, merges).collect()
    }
    assert len(out[3]) == n_toks[3] and -1 in out[3]
    assert out[4] == []  # empty doc survives as an empty array
