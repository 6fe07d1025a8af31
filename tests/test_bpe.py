"""Distributed BPE training (operators/bpe.py) vs an independent
single-threaded reference implementation: identical merge lists, identical
segmentations, partitioning-invariant, corpus encode order-exact."""

from __future__ import annotations

from collections import Counter

import pytest

from airbyte_spark.operators.bpe import (
    END_OF_WORD,
    _exact_batch,
    bpe_encode,
    train_bpe,
    word_counts,
)

CORPUS = [
    ("d1", "low low low lower lowest"),
    ("d2", "new newer newest newer"),
    ("d3", "low new lower newer"),
    ("d4", "wider wide widest low"),
]


def _ref_bpe(texts: list[str], n_merges: int, min_pair_count: int = 2):
    """Independent reference: dict-of-tuples BPE with the same total
    tie-break (count DESC, left ASC, right ASC)."""
    wc = Counter(w for t in texts for w in t.split() if w)
    words = {w: tuple(list(w) + [END_OF_WORD]) for w in wc}
    merges = []
    for _ in range(n_merges):
        pc = Counter()
        for w, n in wc.items():
            syms = words[w]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += n
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        (a, b), cnt = best
        if cnt < min_pair_count:
            break
        merges.append((a, b, cnt))
        for w in words:
            words[w] = _merge_syms(words[w], a, b)
    return merges, words


def _merge_syms(syms: tuple, a: str, b: str) -> tuple:
    out = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _batched_bpe(texts: list[str], n_merges: int, top_n: int, min_pair_count: int = 1):
    """The distributed loop's rounds on the driver: count pairs, collect
    the sorted top ``top_n``, accept ``_exact_batch``'s prefix, apply it."""
    wc = Counter(w for t in texts for w in t.split() if w)
    words = {w: tuple(list(w) + [END_OF_WORD]) for w in wc}
    merges = []
    while len(merges) < n_merges:
        pc = Counter()
        for w, n in wc.items():
            for p in zip(words[w], words[w][1:]):
                pc[p] += n
        ranked = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        top = [(a, b, c) for (a, b), c in ranked[:top_n]]
        threshold = top[-1][2] if len(top) == top_n else 0
        batch = _exact_batch(top, threshold, min_pair_count, n_merges - len(merges))
        if not batch:
            break
        merges.extend(batch)
        for a, b, _ in batch:
            words = {w: _merge_syms(s, a, b) for w, s in words.items()}
    return merges


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, ["doc_id", "text"])


def test_word_counts(spark, docs):
    wc = {r["word"]: r["n"] for r in word_counts(docs).collect()}
    assert wc["low"] == 5 and wc["newer"] == 3


def test_merges_match_reference(spark, docs):
    merges, seg = train_bpe(docs, n_merges=12)
    ref_merges, ref_words = _ref_bpe([t for _, t in CORPUS], 12)
    assert merges == ref_merges
    got = {r["word"]: tuple(r["syms"]) for r in seg.collect()}
    assert got == ref_words
    assert len(merges) > 3  # the corpus genuinely trains several merges


def test_distributed_path_matches_reference(spark, docs):
    # driver_max_words=0 forces the batched distributed loop
    merges, seg = train_bpe(docs, n_merges=12, driver_max_words=0)
    ref_merges, ref_words = _ref_bpe([t for _, t in CORPUS], 12)
    assert merges == ref_merges
    got = {r["word"]: tuple(r["syms"]) for r in seg.collect()}
    assert got == ref_words


def test_both_paths_match_on_fuzz_corpora(spark):
    # adversarial small alphabets maximize merge interaction — the case
    # where naive batching diverges from the sequential order
    import random

    rng = random.Random(7)
    for trial in range(3):
        texts = [
            " ".join(
                "".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
                for _ in range(rng.randint(3, 12))
            )
            for _ in range(8)
        ]
        d = spark.createDataFrame(
            [(f"d{i}", t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        ref_merges, _ = _ref_bpe(texts, 10, min_pair_count=1)
        m_drv, _ = train_bpe(d, n_merges=10, min_pair_count=1)
        m_dist, _ = train_bpe(d, n_merges=10, min_pair_count=1, driver_max_words=0)
        assert m_drv == ref_merges, f"driver path diverged (trial {trial})"
        assert m_dist == ref_merges, f"distributed path diverged (trial {trial})"


# fuzz-found: the self-merge (i, i) creates (ii, i), which outranks (g, ▁)
SELF_MERGE_CORPUS = [("igg", 7), ("iiiii", 8), ("iiing", 7), ("iingnn", 5)]


@pytest.mark.parametrize("top_n", [4, 64])
def test_batched_rounds_match_sequential_fuzz(top_n):
    import random

    rng = random.Random(11)
    corpora = [[" ".join([w] * n) for w, n in SELF_MERGE_CORPUS]]
    for _ in range(300):
        corpora.append(
            [
                " ".join(
                    "".join(rng.choice("ign") for _ in range(rng.randint(1, 7)))
                    for _ in range(rng.randint(1, 10))
                )
                for _ in range(rng.randint(1, 6))
            ]
        )
    for i, texts in enumerate(corpora):
        ref, _ = _ref_bpe(texts, 12, min_pair_count=1)
        assert _batched_bpe(texts, 12, top_n) == ref, f"corpus {i}: {texts}"


def test_distributed_path_self_merge_corpus(spark):
    texts = [" ".join([w] * n) for w, n in SELF_MERGE_CORPUS]
    d = spark.createDataFrame([(f"d{i}", t) for i, t in enumerate(texts)], ["doc_id", "text"])
    ref, _ = _ref_bpe(texts, 8, min_pair_count=1)
    merges, _ = train_bpe(d, n_merges=8, min_pair_count=1, driver_max_words=0)
    assert merges == ref


def test_merges_partitioning_invariant(spark, docs):
    m1, _ = train_bpe(docs.repartition(1), n_merges=8)
    m7, _ = train_bpe(docs.repartition(7), n_merges=8)
    assert m1 == m7
    d1, _ = train_bpe(docs.repartition(1), n_merges=8, driver_max_words=0)
    d7, _ = train_bpe(docs.repartition(7), n_merges=8, driver_max_words=0)
    assert d1 == d7 == m1


def test_driver_path_job_count_sublinear(spark, docs):
    # the r4 scale fix: n_merges must NOT cost O(n_merges) Spark jobs.
    # 200 merges on the driver path = corpus aggregate + bounded collect —
    # a handful of jobs total, independent of n_merges.
    sc = spark.sparkContext
    sc.setJobGroup("bpe-budget", "job-count gate")
    try:
        merges, _ = train_bpe(docs, n_merges=200, min_pair_count=1)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("bpe-budget")
    assert len(merges) > 20  # min_pair_count=1 trains deep into the corpus
    assert len(jobs) <= 10, f"{len(jobs)} Spark jobs for {len(merges)} merges"


def test_greedy_overlap_semantics(spark):
    # [a,a,a] under merge (a,a) -> [aa, a] (left-to-right greedy)
    docs = spark.createDataFrame([("d", "aaa aaa")], ["doc_id", "text"])
    merges, seg = train_bpe(docs, n_merges=1, min_pair_count=1)
    assert merges[0][:2] == ("a", "a")
    (row,) = seg.collect()
    assert row["syms"] == ["aa", "a", END_OF_WORD]


def test_encode_restores_order_and_covers_unknowns(spark, docs):
    _, seg = train_bpe(docs, n_merges=12)
    out = {r["doc_id"]: r["tokens"] for r in bpe_encode(docs, seg).collect()}
    _, ref_words = _ref_bpe([t for _, t in CORPUS], 12)
    for did, text in CORPUS:
        expect = [s for w in text.split() for s in ref_words[w]]
        assert out[did] == expect
    # unseen word at encode time degrades to itself, never drops
    other = spark.createDataFrame([("dx", "low zzz")], ["doc_id", "text"])
    (row,) = bpe_encode(other, seg).collect()
    assert row["tokens"][-1] == "zzz"
    assert row["tokens"][: len(ref_words["low"])] == list(ref_words["low"])
