"""Distributed BPE merge training — the word-count formulation.

The tokenizer-training step of a pre-training data pipeline (the reference
stops at transport; this engine's §2.9b extension ships the corpus ops).
Classic byte-pair encoding (Sennrich et al. 2016, public algorithm): learn
the top-N pair merges from corpus statistics, then segment text with them.

Scale shape — the part that matters at 100 TB:

- The ONLY corpus-scale job is the initial word-count aggregate (explode →
  ONE partial-combined groupBy). Everything after runs on the distinct-word
  table (~10^6-10^7 rows even at corpus scale), because BPE statistics are
  a pure function of (word, count) — the corpus text is never touched
  again.
- Merge training is inherently sequential (each argmax depends on the
  previous merge), so the right distribution boundary is: distribute the
  corpus pass, run the merge loop on the BOUNDED word-count table. When
  that table fits the driver budget (``driver_max_words``, default 2M rows
  — the realistic case for any whitespace-pretokenized corpus after the
  count aggregate), training collects it ONCE and runs the standard
  incremental algorithm (pair→word occurrence index + lazy max-heap,
  O(touched occurrences) per merge): n_merges costs ZERO further Spark
  jobs, so a 50k-merge production run is one corpus aggregate + one
  bounded collect, not 50k driver-coordinated jobs.
- Above the budget, the distributed loop batches EXACTLY: each round does
  one pair-count aggregate, collects the top of the distribution, and
  accepts the longest sorted prefix that provably equals the sequential
  merge order — pairwise symbol-disjoint (disjointness ⇒ their counts are
  invariant under each other's application) AND each count strictly above
  the ceiling any merge-created pair could reach (a new pair (x, a·b) only
  arises from an old "x a b" context, so its count is ≤ the old (x, a) /
  (b, y) neighbor counts, all visible-or-bounded in the collected top).
  The accepted batch applies as ONE chained-fold projection, so driver
  round-trips are sublinear in n_merges wherever the distribution allows.
- Determinism / partitioning-independence: the argmax tie-break is total —
  (count DESC, left ASC, right ASC) — so the learned merge list is a pure
  function of the corpus, not of the cluster layout (both paths use the
  identical order; `tests/test_bpe.py` pins them to each other and to an
  independent single-threaded reference).
- Encoding the corpus = a broadcast join of the trained segmentation table
  (word -> symbols) back onto the documents: no merge re-application at
  corpus-encode time; by construction the table covers every corpus word.

Gating: iterative training is not SQL-expressible, so there is no DuckDB
oracle; instead ``tests/test_bpe.py`` pins both implementations
byte-for-byte against the single-threaded reference (same tie-break),
plus partitioning-invariance and a Spark-job-count budget for the driver
path.
"""

from __future__ import annotations

import heapq
from collections import defaultdict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END_OF_WORD = "▁"  # marks word end so "low" != prefix of "lower"

#: distinct-word budget for the driver-resident merge loop; above this the
#: distributed batched loop runs instead (exact either way)
DRIVER_MAX_WORDS = 2_000_000


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus -> (word, n) — the single corpus-scale pass."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _initial_symbols(word: Column) -> Column:
    """word -> character symbols + end-of-word marker."""
    return F.concat(
        F.filter(F.split(word, ""), lambda c: c != ""),
        F.array(F.lit(END_OF_WORD)),
    )


def _merge_once(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right application of one merge (left, right) ->
    left+right, as a Catalyst fold — the exact sequential semantics
    ([a,a,a] under (a,a) -> [aa,a])."""
    merged = F.lit(left + right)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _greedy_merge(syms: list[str], a: str, b: str) -> list[str]:
    """Python twin of _merge_once (left-to-right greedy scan)."""
    out: list[str] = []
    i, n, ab = 0, len(syms), a + b
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(ab)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _train_incremental(
    rows: list[tuple[str, int]], n_merges: int, min_pair_count: int
) -> tuple[list[tuple[str, str, int]], list[tuple[str, int, list[str]]]]:
    """The standard fast sequential algorithm over (word, count) rows:
    pair→word occurrence index + lazy max-heap; each merge touches only the
    words that contain it. Pure function of the sorted input (the caller
    sorts), same total tie-break as the distributed path."""
    words: list[list[str]] = [list(w) + [END_OF_WORD] for w, _ in rows]
    weights = [int(n) for _, n in rows]

    pair_counts: dict[tuple[str, str], int] = defaultdict(int)
    pair_words: dict[tuple[str, str], set[int]] = defaultdict(set)
    for wi, syms in enumerate(words):
        n = weights[wi]
        for p in zip(syms, syms[1:]):
            pair_counts[p] += n
            pair_words[p].add(wi)

    # lazy heap: (-(count), left, right) == (count DESC, left ASC, right ASC)
    heap = [(-c, a, b) for (a, b), c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str, int]] = []
    while len(merges) < n_merges and heap:
        negc, a, b = heapq.heappop(heap)
        cnt = -negc
        if pair_counts.get((a, b)) != cnt:  # stale entry
            continue
        if cnt < min_pair_count:
            break
        merges.append((a, b, cnt))
        touched: set[tuple[str, str]] = set()
        for wi in list(pair_words[(a, b)]):
            syms, n = words[wi], weights[wi]
            for p in zip(syms, syms[1:]):
                pair_counts[p] -= n
                pair_words[p].discard(wi)
                touched.add(p)
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                    pair_words.pop(p, None)
            new_syms = _greedy_merge(syms, a, b)
            words[wi] = new_syms
            for p in zip(new_syms, new_syms[1:]):
                pair_counts[p] += n
                pair_words[p].add(wi)
                touched.add(p)
        for p in touched:
            if p in pair_counts:
                heapq.heappush(heap, (-pair_counts[p], p[0], p[1]))
    return merges, [(w, weights[i], words[i]) for i, (w, _) in enumerate(rows)]


def _exact_batch(
    top: list[tuple[str, str, int]], threshold: int, min_pair_count: int, budget: int
) -> list[tuple[str, str, int]]:
    """The longest prefix of the count-sorted pair list that provably equals
    the sequential merge order (see module docstring): pairwise
    symbol-disjoint, and each subsequent count strictly above the ceiling
    any pair CREATED by an earlier accepted merge could reach. ``threshold``
    bounds every pair count NOT in ``top`` (the collection cut)."""
    accepted: list[tuple[str, str, int]] = []
    lefts: set[str] = set()
    rights: set[str] = set()
    new_pair_ceiling = 0  # max count any merge-created pair could have
    for a, b, cnt in top:
        if cnt < min_pair_count or len(accepted) >= budget:
            break
        if accepted:
            if a in lefts or a in rights or b in lefts or b in rights:
                break  # overlapping pair: its count may have changed — stop
            if cnt <= new_pair_ceiling:
                break  # a created pair might now outrank this one
        accepted.append((a, b, cnt))
        lefts.add(a)
        rights.add(b)
        # pairs created by THIS merge are bounded by its old neighbors'
        # counts: (x, a·b) ≤ old (x, a), (a·b, y) ≤ old (b, y) — all either
        # in `top` or ≤ threshold
        ceiling = threshold
        for x, y, c in top:
            if (x, y) != (a, b) and (y == a or x == b):
                ceiling = max(ceiling, min(c, cnt))
        new_pair_ceiling = max(new_pair_ceiling, min(ceiling, cnt))
        if a == b:
            # a self-merge's created pairs (a·a, a) / (a, a·a) are bounded
            # by (a, a)'s own count, which the neighbor scan skips
            new_pair_ceiling = max(new_pair_ceiling, cnt)
    return accepted


def train_bpe(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 100,
    min_pair_count: int = 2,
    checkpoint_every: int = 8,
    driver_max_words: int = DRIVER_MAX_WORDS,
    batch_budget: int = 64,
) -> tuple[list[tuple[str, str, int]], DataFrame]:
    """Learn up to ``n_merges`` BPE merges from the corpus.

    Returns ``(merges, segmentation)``: merges as ordered
    ``(left, right, pair_count)`` and the trained segmentation table
    ``(word, n, syms array<string>)`` covering every corpus word.

    Word tables within ``driver_max_words`` train driver-resident (ZERO
    Spark jobs per merge — one corpus aggregate + one bounded collect
    total); larger tables use the distributed exact-prefix batched loop
    (≤ ``batch_budget`` merges per pair-count round). Both paths produce
    the identical merge list (total tie-break; pinned in tests/test_bpe.py).
    """
    spark = docs.sparkSession
    words = word_counts(docs, text_col).select(
        "word", "n", _initial_symbols(F.col("word")).alias("syms")
    )
    words = words.persist()
    n_words = words.count()  # materialize before branching / iterating

    if n_words <= driver_max_words:
        # driver-resident exact loop: sorted collect makes the row order
        # (and thus the index sets) deterministic; counts are exact already
        rows = [(r["word"], r["n"]) for r in words.select("word", "n").orderBy("word").collect()]
        words.unpersist()
        merges, seg_rows = _train_incremental(rows, n_merges, min_pair_count)
        seg = spark.createDataFrame(seg_rows, "word string, n long, syms array<string>")
        return merges, seg

    merges = []
    rounds = 0
    while len(merges) < n_merges:
        pairs = (
            words.select(
                F.col("n"),
                F.explode(
                    F.filter(
                        F.arrays_zip(
                            F.slice("syms", 1, F.size("syms")),
                            F.slice("syms", 2, F.size("syms")),
                        ),
                        lambda p: p["1"].isNotNull(),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.0").alias("a"), F.col("p.1").alias("b"))
            .agg(F.sum("n").alias("cnt"))
        )
        # bounded driver rows per ROUND (not per merge): the top of the
        # distribution, plus the cut value bounding everything uncollected
        top_n = max(64, 4 * batch_budget)
        top = [
            (r["a"], r["b"], int(r["cnt"]))
            for r in pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b")).take(top_n)
        ]
        threshold = top[-1][2] if len(top) == top_n else 0
        batch = _exact_batch(
            top, threshold, min_pair_count, min(batch_budget, n_merges - len(merges))
        )
        if not batch:
            break
        merges.extend(batch)
        col = F.col("syms")
        for a, b, _ in batch:  # ONE chained-fold projection per round
            col = _merge_once(col, a, b)
        nxt = words.withColumn("syms", col)
        rounds += 1
        if rounds % checkpoint_every == 0:
            # cut lineage: plan depth would otherwise grow one fold per round
            nxt = nxt.localCheckpoint(eager=True)
        else:
            nxt = nxt.persist()
            nxt.count()
        words.unpersist()
        words = nxt
    return merges, words


def bpe_encode(
    docs: DataFrame,
    segmentation: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus tokenization with the trained segmentation: documents explode
    to (doc, pos, word), broadcast-join the vocab-sized segmentation, and
    token order is restored via array_sort(collect_list(struct(pos, syms)))
    — partitioning-independent, same idiom as operators/tokenize.py."""
    tokens_by_word = F.broadcast(segmentation.select("word", "syms"))
    exploded = docs.select(
        F.col(id_col),
        F.posexplode(F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")).alias(
            "pos", "word"
        ),
    )
    joined = exploded.join(tokens_by_word, "word", "left").select(
        id_col, "pos", F.coalesce("syms", F.array(F.col("word"))).alias("syms")
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                    lambda s: s["syms"],
                )
            ).alias("tokens")
        )
    )
