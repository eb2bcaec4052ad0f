"""Unigram-LM tokenizer (textops/unigram.py): DP vs brute-force ground
truth, EM statistics, distributed E-step parity, fixture contract."""
import itertools
import math
import warnings

import pytest
from pyspark.sql import functions as F

from pybel_spark.textops import unigram


def _all_segmentations(word, vocab, max_len):
    """Every (pieces tuple) segmentation of word using vocab — brute
    force, exponential, test-only."""
    if not word:
        return [()]
    out = []
    for ln in range(1, min(len(word), max_len) + 1):
        head = word[:ln]
        if head in vocab:
            for rest in _all_segmentations(word[ln:], vocab, max_len):
                out.append((head,) + rest)
    return out


VOCAB = {'a': math.log(0.2), 'b': math.log(0.1), 'ab': math.log(0.3),
         'ba': math.log(0.15), 'aba': math.log(0.2),
         'bb': math.log(0.05)}


@pytest.mark.parametrize('word', [
    'a', 'ab', 'aba', 'abab', 'bbbb', 'ababab', 'baab'])
def test_viterbi_matches_bruteforce(word):
    segs = _all_segmentations(word, VOCAB, 8)
    best = max(segs, key=lambda s: (sum(VOCAB[p] for p in s), -len(s)))
    n, score = unigram.viterbi(word, VOCAB)
    assert n == len(best)
    assert score == pytest.approx(sum(VOCAB[p] for p in best))


def test_viterbi_unsegmentable_returns_none():
    assert unigram.viterbi('axb', VOCAB) == (None, None)


def test_forward_backward_matches_bruteforce_posteriors():
    word = 'abab'
    segs = _all_segmentations(word, VOCAB, 8)
    probs = [math.exp(sum(VOCAB[p] for p in s)) for s in segs]
    z = sum(probs)
    # brute-force posterior of each (position, piece) occurrence
    want = {}
    for s, pr in zip(segs, probs):
        pos = 0
        for p in s:
            want[(pos, pos + len(p))] = (
                want.get((pos, pos + len(p)), 0.0) + pr / z)
            pos += len(p)
    got = dict(unigram._forward_backward(word, VOCAB, 8))
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9)


def test_expected_token_count_consistency():
    # sum of occurrence posteriors = expected segmentation length
    word = 'ababab'
    segs = _all_segmentations(word, VOCAB, 8)
    probs = [math.exp(sum(VOCAB[p] for p in s)) for s in segs]
    z = sum(probs)
    want = sum(len(s) * pr for s, pr in zip(segs, probs)) / z
    got = sum(w for _, w in unigram._forward_backward(word, VOCAB, 8))
    assert got == pytest.approx(want, rel=1e-9)


def test_train_is_deterministic_and_covers_chars():
    wc = {'banana': 30, 'bandana': 10, 'ananas': 20, 'nab': 5}
    v1 = unigram.train_unigram(wc, vocab_size=12, seed_size=40,
                               n_rounds=2)
    v2 = unigram.train_unigram(wc, vocab_size=12, seed_size=40,
                               n_rounds=2)
    assert v1 == v2
    assert {c for w in wc for c in w} <= {p for p in v1 if len(p) == 1}
    # trained vocab segments the training words without fallback
    for w in wc:
        n, _ = unigram.viterbi(w, v1)
        assert n is not None and 1 <= n <= len(w)


def test_train_terminates_when_chars_exceed_vocab_size():
    """r6 ADVICE: single chars are prune-exempt, so a corpus with more
    distinct codepoints than vocab_size could never shrink below the
    target and the prune loop spun forever. It must now return the
    single-char floor instead."""
    wc = {chr(0x4E00 + i): 1 for i in range(30)}  # 30 distinct CJK chars
    v = unigram.train_unigram(wc, vocab_size=10, seed_size=40, n_rounds=1)
    assert set(wc) <= set(v)          # every char survives
    assert len(v) >= 30               # the floor, not vocab_size


def test_train_warns_when_vocab_exceeds_vocab_size():
    """The single-char floor returns more pieces than vocab_size; the
    caller is told instead of silently getting an oversized vocab."""
    wc = {chr(0x4E00 + i): 1 for i in range(30)}  # 30 distinct CJK chars
    with pytest.warns(UserWarning, match='vocab_size=10'):
        v = unigram.train_unigram(wc, vocab_size=10, seed_size=40,
                                  n_rounds=1)
    assert len(v) > 10


def test_train_within_vocab_size_does_not_warn():
    wc = {'abab': 5, 'ba': 3, 'aab': 2}
    with warnings.catch_warnings():
        warnings.simplefilter('error')
        v = unigram.train_unigram(wc, vocab_size=6, seed_size=20,
                                  n_rounds=1)
    assert len(v) <= 6


def test_distributed_estep_matches_driver(spark):
    wc = {'banana': 30, 'bandana': 10, 'ananas': 20, 'nab': 5,
          'anna': 7, 'band': 3}
    vocab = unigram.train_unigram(wc, vocab_size=15, seed_size=40,
                                  n_rounds=1)
    want = {}
    for w, n in wc.items():
        for (i, j), weight in unigram._forward_backward(w, vocab, 8):
            p = w[i:j]
            want[p] = want.get(p, 0.0) + n * weight
    df = spark.createDataFrame(list(wc.items()), 'word string, n long') \
        .repartition(4)
    got = {r['piece']: r['exp_count']
           for r in unigram.em_expected_counts(df, vocab).collect()}
    assert set(got) == set(want)
    for p in want:
        assert got[p] == pytest.approx(want[p], rel=1e-9)


def test_token_counts_fallback_and_empty(spark):
    vocab = {'a': math.log(0.5), 'b': math.log(0.5)}
    docs = spark.createDataFrame(
        [(1, 'ab ab'), (2, 'xyz'), (3, '   ')],
        'doc_id long, text string')
    got = {r['doc_id']: r['n_unigram_tokens']
           for r in unigram.unigram_token_counts(docs, vocab).collect()}
    # 'ab' -> 2 chars each (no 'ab' piece), 'xyz' -> fallback len 3,
    # blank doc -> 0
    assert got == {1: 4, 2: 3, 3: 0}


@pytest.mark.parametrize('sf', ['sf0.001', 'sf0.01'])
def test_corpus_pretokens_within_oracle_dp_bound(spark, sf):
    # the unrolled DuckDB oracle walks 16 positions (2x the observed
    # corpus max of 8); every sf corpus the gate runs must stay within
    # that bound or the SQL side silently falls back while the engine
    # segments
    from pybel_spark.textops.tokenize import BPE_ISH_PATTERN
    docs = spark.read.parquet(
        '/root/testdata/{}/documents.parquet'.format(sf))
    mx = docs.select(F.explode(F.regexp_extract_all(
        'text', F.lit(BPE_ISH_PATTERN), 0)).alias('w')) \
        .agg(F.max(F.length('w'))).collect()[0][0]
    assert mx <= 16


def test_fixture_loads_and_segments_corpus_words(spark):
    vocab = unigram.load_vocab()
    assert len(vocab) >= 1000
    docs = spark.read.parquet('/root/testdata/sf0.001/documents.parquet')
    counts = unigram.unigram_token_counts(docs).collect()
    assert all(r['n_unigram_tokens'] >= 0 for r in counts)
    # subword counts are at most character counts and at least 1 token
    # per pre-token: sanity vs the regex token count
    both = unigram.unigram_token_counts(docs).join(
        docs.select('doc_id', F.size(F.regexp_extract_all(
            'text', F.lit(r'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'), 0))
            .alias('n_pre')), on='doc_id').collect()
    assert all(r['n_unigram_tokens'] >= r['n_pre'] for r in both
               if r['n_pre'] > 0)


def test_train_unigram_spark_matches_driver_reference(spark):
    wc = {'banana': 30, 'bandana': 10, 'ananas': 20, 'nab': 5,
          'anna': 7, 'band': 3, 'nanab': 2}
    want = unigram.train_unigram(wc, vocab_size=14, seed_size=50,
                                 n_rounds=2)
    df = spark.createDataFrame(list(wc.items()), 'word string, n long') \
        .repartition(3)
    got = unigram.train_unigram_spark(df, vocab_size=14, seed_size=50,
                                      n_rounds=2)
    assert set(got) == set(want)
    for p in want:
        assert got[p] == pytest.approx(want[p], rel=1e-9)
