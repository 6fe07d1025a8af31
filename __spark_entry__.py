"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs an engine operator (SURVEY.md §2) over the
driver testdata and has an exact DuckDB oracle in ``oracle_sql()``. The CDC
operators run over a deterministic changelog *derived* from the `events`
table with arithmetic that is bit-identical in Spark SQL and DuckDB
(airbyte_spark/plans/derived.py), so the full pipeline — LWW dedup,
tombstones, native token validation, metadata injection, checkpoint aggregate
— is value-hash-gated, not just row-counted.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airbyte_spark.functions.validate import apply_validation
from airbyte_spark.operators.dedup import lww_dedup
from airbyte_spark.operators.fuzzy_dedup import (
    embedding_neardup_pairs,
    minhash_lsh_groups,
    ngram_jaccard_pairs,
    simhash_groups,
)
from airbyte_spark.operators.similarity import knn_bruteforce, knn_ivf, knn_lsh
from airbyte_spark.operators.text_quality import (
    EMAIL_PAT,
    PHONE_PAT,
    contamination_check,
    dup_ngram_fraction,
    pii_scrub,
)
from airbyte_spark.operators.line_dedup import (
    line_dedup_oracle_sql as _line_dedup_oracle_sql,
)
from airbyte_spark.operators import mixing as _mixing
from airbyte_spark.operators import ranking as _ranking
from airbyte_spark.operators.profile import profile_oracle_sql as _profile_oracle_sql
from airbyte_spark.operators import semantic_dedup as _semantic_dedup
from airbyte_spark.operators import text_quality as _text_quality
from airbyte_spark.operators import token_dedup as _token_dedup
from airbyte_spark.operators import tokenize as _tokenize
from airbyte_spark.plans import textsql as X
from airbyte_spark.plans.derived import ORACLE_CHANGELOG_CTE, derived_changelog

SF0001 = "/root/testdata/sf0.001"

_VOCAB = 50_257


# ---------------------------------------------------------------- helpers


def _changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derived_changelog(spark, sf_dir)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


_FINAL_COLS = [
    "doc_id",
    "op",
    "lsn",
    "ts_ms",
    "source_partition",
    "event_type",
    "n_tok",
    "payload_hash",
]


# ---------------------------------------------------------------- queries


def q_cdc_lww_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE core operator: last-writer-wins winner per key (max_by hash agg)."""
    ch = _changelog(spark, sf_dir).drop("tokens")
    return lww_dedup(ch, key="doc_id").select(*_FINAL_COLS)


def q_cdc_apply_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full replay pipeline in one plan: validate (native projection) -> LWW dedup
    -> tombstone filter -> metadata injection. The flagship query."""
    ch = _changelog(spark, sf_dir)
    ch = apply_validation(ch, _VOCAB)  # repairs corrupted n_tok, flags errors
    winners = lww_dedup(ch, key="doc_id")
    final = winners.filter(F.col("op") != "D")
    return final.select(
        "doc_id",
        "lsn",
        "ts_ms",
        "event_type",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x).alias("tokens_sum"),
        F.md5(F.concat_ws(":", "doc_id", "lsn", "ts_ms")).alias("raw_id"),
        F.size("_ab_meta.errors").cast("long").alias("n_errors"),
    )


def q_cdc_validate_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native token validation alone: repair + flag, never drop."""
    ch = _changelog(spark, sf_dir).filter(F.col("op") != "D")
    out = apply_validation(ch.withColumnRenamed("n_tok", "n_tok_raw").withColumn("n_tok", F.col("n_tok_raw")), _VOCAB)
    return out.select(
        "doc_id",
        "lsn",
        F.col("n_tok_raw").cast("long").alias("n_tok_raw"),
        F.col("n_tok").cast("long").alias("n_tok_fixed"),
        F.array_contains("_ab_meta.errors", "n_tok_mismatch").cast("int").alias("had_mismatch"),
    )


def q_cdc_lww_dedup_nullcursor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-cursor LWW rules (BigQuerySqlGenerator.java:456-477): a record
    with a NULL cursor loses to any non-null cursor; among all-null-cursor
    records the extraction position decides. Here the record-level cursor
    is ts_ms nulled deterministically (every 7th lsn); the winner is
    max_by struct(cursor, lsn) — Spark struct ordering places NULL lowest,
    exactly the reference's explicit NULL handling, mirrored in the oracle
    as DESC NULLS LAST."""
    ch = _changelog(spark, sf_dir).drop("tokens")
    ch = ch.withColumn(
        "cur", F.when(F.col("lsn") % 7 == 0, F.lit(None).cast("long")).otherwise(F.col("ts_ms"))
    )
    win = lww_dedup(ch, key="doc_id", order_cols=("cur", "lsn"))
    return win.select("doc_id", "cur", "lsn", "op", F.col("n_tok").cast("long").alias("n_tok"))


def q_cdc_incremental_cursor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The defining incremental filter: cursor > checkpoint AND <= target."""
    ch = _changelog(spark, sf_dir).drop("tokens")
    return ch.filter((F.col("lsn") > 3000) & (F.col("lsn") <= 6000)).select(*_FINAL_COLS)


def q_cdc_metadata_injection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_ab_cdc_* metadata columns (deterministic raw id, tombstone ts)."""
    ch = _changelog(spark, sf_dir)
    return ch.select(
        "doc_id",
        "lsn",
        F.md5(F.concat_ws(":", "doc_id", "lsn", "ts_ms")).alias("raw_id"),
        F.when(F.col("op") == "D", F.col("ts_ms")).alias("deleted_at_ms"),
        F.col("ts_ms").alias("extracted_at_ms"),
    )


def q_cdc_checkpoint_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source-partition state: max cursor + counters
    (StateDecoratingIterator max-cursor tracking as a groupBy)."""
    ch = _changelog(spark, sf_dir)
    return ch.groupBy("source_partition").agg(
        F.max("lsn").alias("last_lsn"),
        F.count("*").alias("events"),
        F.countDistinct("doc_id").alias("distinct_docs"),
    )


def q_cdc_tombstone_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final per-key op distribution after LWW (tombstone retention check)."""
    ch = _changelog(spark, sf_dir).drop("tokens")
    return lww_dedup(ch, key="doc_id").groupBy("op").agg(F.count("*").alias("n"))


def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the dup-injected documents: keeper (min id) + copy
    count per text. Groups on md5(text), not the text itself, so the
    exchange carries 32-byte keys instead of full documents — at 100 TB
    the difference between shuffling digests and shuffling the corpus."""
    d = _dup_docs(spark, sf_dir)
    return d.groupBy(F.md5("text").alias("text_md5")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    ).select("keep_doc_id", "n_copies")


def q_docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over a normalized prefix (first 80
    chars) -> near-dup candidate groups."""
    d = _docs(spark, sf_dir)
    fp = F.md5(F.substring(F.col("text"), 1, 80))
    return (
        d.select(F.col("doc_id"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("group_size"))
    )


def q_docs_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + char stats per document."""
    d = _docs(spark, sf_dir)
    n_space = F.length("text") - F.length(F.regexp_replace("text", " ", ""))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        (n_space + F.lit(1)).cast("long").alias("n_words"),
    )


def q_docs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: word/char ratios as exact integer arithmetic."""
    d = _docs(spark, sf_dir)
    n_space = F.length("text") - F.length(F.regexp_replace("text", " ", ""))
    n_words = n_space + F.lit(1)
    avg_wlen_x100 = ((F.length("text") - n_space) * F.lit(100)).cast("long") / n_words.cast("long")
    return d.select(
        "doc_id",
        "lang",
        n_words.cast("long").alias("n_words"),
        F.floor(avg_wlen_x100).cast("long").alias("avg_word_len_x100"),
        (F.length("text") >= 200).cast("int").alias("is_long"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (marker-word hit counts) scored against the
    labeled lang column."""
    d = _docs(spark, sf_dir)
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    pred = (
        F.when(padded.like("% the %") | padded.like("% and %"), "en")
        .when(padded.like("% der %") | padded.like("% und %"), "de")
        .when(padded.like("% le %") | padded.like("% et %"), "fr")
        .when(padded.like("% el %") | padded.like("% y %"), "es")
        .otherwise("unknown")
    )
    return (
        d.select("lang", pred.alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count("*").alias("n"))
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + deterministic injected duplicates: exact copies (id%10=0)
    and near-dups with a 4-word tail appended (id%10=5) — gives the fuzzy
    dedup operators real positives (the raw testdata has none)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    exact = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near = d.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz yy xx ww")).alias("text"),
    )
    return d.unionByName(exact).unionByName(near)


def _dup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings + injected near-dups: exact copies (id%20=0) and 1.5x
    scaled copies (id%20=10, cosine 1.0 but different norm)."""
    e = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    exact = e.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    scaled = e.filter(F.col("vec_id") % 20 == 10).selectExpr(
        "vec_id + 2000000 AS vec_id",
        "transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.5 AS FLOAT)) AS embedding",
    )
    return e.unionByName(exact).unionByName(scaled)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup buckets (16 hashes, 8 bands x 2 rows), over the
    dup-injected documents table."""
    return minhash_lsh_groups(_dup_docs(spark, sf_dir), n_hashes=16, bands=8)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs verified by exact 3-gram Jaccard >= 50%."""
    return ngram_jaccard_pairs(_dup_docs(spark, sf_dir), jaccard_pct=50)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS: the verified Jaccard pair graph closed into
    connected components (hash-min label propagation), one canonical
    keeper (min id) per component — what a production dedup actually
    deletes by. Oracle: DuckDB recursive-CTE transitive closure."""
    from airbyte_spark.operators.components import dedup_components

    pairs = ngram_jaccard_pairs(_dup_docs(spark, sf_dir), jaccard_pct=50)
    return dedup_components(pairs)


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-priority keeper per near-dup component: keep the BEST copy
    (priority = text length here; (priority DESC, doc_id ASC) total order)
    instead of the min id — on the injected near-dups the longer tail copy
    wins, so this provably diverges from dedup_components' min-id rule.
    One equi-join + one min_by aggregate over the labeling
    (operators/components.py dedup_components_by_priority)."""
    from airbyte_spark.operators.components import dedup_components_by_priority

    docs = _dup_docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(docs, jaccard_pct=50)
    pri = docs.select("doc_id", F.length("text").cast("long").alias("priority"))
    out = dedup_components_by_priority(pairs, pri)
    return out.select(
        "component_id",
        "group_size",
        "keep_doc_id",
        F.col("keep_priority").cast("long").alias("keep_priority"),
    )


def q_dedup_drop_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable end of the dedup pipeline: the documents to DELETE —
    every member of a near-dup component except its canonical keeper
    (component id == min id == the keeper)."""
    from airbyte_spark.operators.components import connected_components

    pairs = ngram_jaccard_pairs(_dup_docs(spark, sf_dir), jaccard_pct=50)
    cc = connected_components(pairs)
    return cc.filter(F.col("doc_id") != F.col("component_id")).select(
        F.col("doc_id").alias("drop_doc_id"), "component_id"
    )


def q_docs_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-repetition quality signal (the C4/Gopher-style repetition
    filters): words, distinct words, and the most-frequent word's count
    per document — all integer-exact."""
    d = _docs(spark, sf_dir)
    # LINEAR in document length: explode -> per-(doc, word) count -> per-doc
    # rollup. The per-row expression form (for each distinct word, filter
    # the whole words array) is O(words^2) inside ONE task — a 10k-word web
    # document does ~10^8 comparisons in a single row and cannot be split.
    # Both groupBys hash-aggregate with map-side partials, and a document's
    # words are contiguous within a partition, so the first combine crushes
    # the (doc_id, word) fan-in before the exchange.
    per_word = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    return per_word.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_words"),
        F.count("*").cast("long").alias("n_distinct_words"),
        F.max("cnt").cast("long").alias("max_word_freq"),
    )


def q_docs_salient_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-style salient-term extraction, integer-exact: top-3 terms per
    document ranked by (tf DESC, df ASC, term ASC) — high in-doc frequency,
    low corpus spread, the keyword signal a training pipeline uses for
    topic tagging / quality triage. All-integer ordering keeps the oracle
    exact (no float log/division to drift across engines).

    Scale shape: explode -> two hash aggregates with map-side partials
    ((doc, word) tf then word df — df output is vocab-bounded), one shuffle
    join on word, one per-doc window over <= distinct-words rows. No
    all-pairs, no per-row Python, no driver materialization."""
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir)
    words = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_tbl = tf.groupBy("word").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("word").asc()
    )
    return (
        tf.join(df_tbl, "word")
        .select(
            "doc_id",
            "word",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= 3)
    )


def q_docs_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated n-gram fraction per document (Gopher/RefinedWeb-style
    cross-corpus repetition signal) over the dup-injected documents — the
    injected exact/near copies give the signal real positives."""
    return dup_ngram_fraction(_dup_docs(spark, sf_dir), k=3)


def q_docs_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb line-level dedup: drop corpus-duplicated lines and
    rebuild each document from its survivors (operators/line_dedup.py) —
    the dedup granularity between exact-doc and token-span. The injected
    exact copies make every one of their lines corpus-duplicated."""
    from airbyte_spark.operators.line_dedup import line_dedup

    return line_dedup(_dup_docs(spark, sf_dir), words_per_line=10, min_df=2)


def q_docs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check (GPT-3/PaLM n-gram-overlap
    decontamination): the 'benchmark' is the doc_id%50==0 slice of the
    clean documents; the corpus is the dup-injected table minus those
    original rows, so the injected copies are guaranteed leaks. The
    benchmark side is broadcast — the corpus never shuffles."""
    bench = _docs(spark, sf_dir).filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    corpus = _dup_docs(spark, sf_dir).filter(
        ~((F.col("doc_id") < 1000000) & (F.col("doc_id") % 50 == 0))
    )
    return contamination_check(corpus, bench, k=5)


def q_docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents with deterministically injected emails
    (doc_id%7==0) and phone numbers (doc_id%11==0): per-doc redaction
    counts + md5 of the scrubbed text. Pure narrow codegen projection."""
    out = pii_scrub(_pii_docs(spark, sf_dir))
    return out.select(
        "doc_id", "n_emails", "n_phones", F.md5("scrubbed").alias("scrubbed_md5")
    )


def _pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + deterministic injected PII (mirrored in the oracle CTE):
    an email appended for doc_id%7==0, a phone for doc_id%11==0 (both for
    multiples of 77 — the scrub must handle multiple PII kinds per doc)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    email = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com now")),
    ).otherwise(F.lit(""))
    phone = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.lit(" call 555-"), (F.col("doc_id") % 10000 + 1000).cast("string"), F.lit(" today")),
    ).otherwise(F.lit(""))
    return d.select("doc_id", F.concat("text", email, phone).alias("text"))


def q_tokens_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing over the deduped final table: LWW winners (minus
    tombstones) greedily packed into 2048-token training contexts within
    each source partition. Per-bin rollup: docs, tokens, fill%. The window
    is shard-local (PARTITION BY source_partition) — no global sort."""
    from airbyte_spark.operators.packing import pack_stats

    ch = _changelog(spark, sf_dir).drop("tokens")
    winners = lww_dedup(ch, key="doc_id").filter(F.col("op") != "D")
    return pack_stats(winners, capacity=2048, shard_cols=["source_partition"])


def q_tokens_pack_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-context attention-span map (operators/packing.py
    pack_spans): for every deduped document its (bin, pos_in_bin,
    start_off, n_tok) within the packed 2048-token training context — the
    block-diagonal attention / loss-mask boundary metadata trainers
    consume alongside the packed token stream. Same one-exchange plan as
    tokens_pack (the per-bin row_number reuses the shard hash
    partitioning); oracle = the same running-sum SQL with a per-bin
    ROW_NUMBER."""
    from airbyte_spark.operators.packing import pack_spans

    ch = _changelog(spark, sf_dir).drop("tokens")
    winners = lww_dedup(ch, key="doc_id").filter(F.col("op") != "D")
    return pack_spans(winners, capacity=2048, shard_cols=["source_partition"])


def q_tokens_pack_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental training-shard packing, gated against the ONE-SHOT
    oracle: the LWW winners are split into three order-contiguous ingest
    batches (doc_id boundaries), folded through pack_incremental with the
    per-shard state threaded batch to batch, and the union of the three
    packed outputs is returned per doc. The oracle is the single global
    cumsum SQL — hash equality IS the batching-invariance proof, checked
    cross-engine (operators/packing.py pack_incremental; the durable
    exactly-once/rollback variant is IncrementalPacker,
    tests/test_packing_incremental.py)."""
    from airbyte_spark.operators.packing import empty_pack_state, pack_incremental

    ch = _changelog(spark, sf_dir).drop("tokens")
    winners = (
        lww_dedup(ch, key="doc_id")
        .filter(F.col("op") != "D")
        .select("source_partition", "doc_id", "n_tok")
        .persist()
    )
    # order-contiguous slices; boundary values are arbitrary (invariance
    # means ANY prefix split must reproduce the one-shot bins)
    bounds = [(None, "doc000002000"), ("doc000002000", "doc001002000"),
              ("doc001002000", None)]
    state = empty_pack_state(spark, winners, ["source_partition"])
    packed = []
    for lo, hi in bounds:
        b = winners
        if lo is not None:
            b = b.filter(F.col("doc_id") > lo)
        if hi is not None:
            b = b.filter(F.col("doc_id") <= hi)
        res = pack_incremental(b, state, 2048, ["source_partition"])
        packed.append(res.packed)
        state = res.state
    out = packed[0]
    for p in packed[1:]:
        out = out.unionByName(p)
    return out


def q_docs_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split over documents
    (md5-prefix bucket mod 100 — engine- and order-independent), rolled up
    per (split, lang): doc count + total chars."""
    from airbyte_spark.operators.packing import hash_split

    d = hash_split(_docs(spark, sf_dir))
    return d.groupBy("split", "lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("chars_total"),
    )


def q_docs_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: overlapping fixed-size character windows
    (512 chars, stride 384) per document — the pre-tokenization split for
    docs longer than the training sequence length. One row per chunk with
    the chunk's md5 (text never leaves the projection)."""
    from airbyte_spark.operators.packing import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), window=512, stride=384)


def q_docs_word_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word-bigram frequency profile (the counting shape behind
    n-gram LM stats and BPE merge selection): adjacent-word pairs from
    every document, globally counted, frequent pairs kept. Map-side
    shingle construction (k=2, same parallel-side-of-exchange gate as the
    LSH queries) -> explode -> one partial-combined hash aggregate; the
    shuffle carries <= distinct-bigram rows per mapper."""
    from airbyte_spark.operators.fuzzy_dedup import _shingled

    w = _shingled(_docs(spark, sf_dir), "doc_id", "text", k=2)
    return (
        w.select(F.explode("sh").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= 5)
    )


def q_docs_lm_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LM-rarity signals: the integer-exact core of
    corpus-LM quality filtering (CCNet/RedPajama train an n-gram LM on the
    corpus and score each doc's perplexity; the doc-level statistics that
    drive it are its bigrams' corpus frequencies). Emits per doc: bigram
    count, total corpus frequency of its bigrams, the rarest bigram's
    frequency, and the hapax count (bigrams seen nowhere else — a strong
    novelty/noise signal). Shape: map-side 2-shingles -> explode -> ONE
    frequency aggregate -> join-back on the bigram key (co-partitioned with
    the aggregate's own exchange, AQE-reusable) -> per-doc agg. No floats,
    so the oracle hash is exact."""
    from airbyte_spark.operators.fuzzy_dedup import _shingled

    w = _shingled(_docs(spark, sf_dir), "doc_id", "text", k=2)
    # persisted: feeds BOTH the frequency aggregate and the join-back (the
    # dedup_ngram_jaccard band-table precedent). At 100 TB one would skip
    # the persist and recompute the narrow explode instead of caching a
    # corpus-scale table; at suite scale the cache wins.
    b = w.select("doc_id", F.explode("sh").alias("bigram")).persist()
    counts = b.groupBy("bigram").agg(F.count("*").alias("freq"))
    return (
        b.join(counts, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("freq").cast("long").alias("sum_freq"),
            F.min("freq").cast("long").alias("min_freq"),
            F.sum((F.col("freq") == 1).cast("long")).alias("n_hapax"),
        )
    )


#: Bloom prefilter geometry for the gated query: small enough that the
#: sf0.1 bench sees a realistic fill factor, large enough that sf0.01
#: stays uncrowded. The operator default is 2^20.
_BLOOM_M, _BLOOM_K = 65536, 4


def q_dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seen-key Bloom prefilter: docs with doc_id % 5 == 0 arrive as a new
    ingest batch and are tested against a deterministic Bloom filter built
    from the rest of the corpus. True duplicates are injected (mirrored in
    the oracle): every probe doc with doc_id % 10 == 0 carries the text of
    corpus doc doc_id + 1. Output per probe doc: the Bloom verdict
    (maybe_seen — no false negatives possible) beside exact membership
    (seen) so false positives are visible data, not hidden error."""
    from airbyte_spark.operators.bloom import bloom_bits, bloom_probe

    d = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    stolen = corpus.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("_dup_text")
    )
    probe = (
        d.filter(F.col("doc_id") % 5 == 0)
        .join(F.broadcast(stolen), "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 10 == 0) & F.col("_dup_text").isNotNull(),
                F.col("_dup_text"),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    bits = bloom_bits(corpus, m=_BLOOM_M, k=_BLOOM_K)
    flagged = bloom_probe(probe, bits, m=_BLOOM_M, k=_BLOOM_K)
    digests = corpus.select(F.md5("text").alias("_dig")).distinct()
    return (
        flagged.join(F.broadcast(digests), F.md5(F.col("text")) == F.col("_dig"), "left")
        .select(
            "doc_id",
            "maybe_seen",
            F.col("_dig").isNotNull().cast("int").alias("seen"),
        )
    )


def q_stats_ndv_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HLL NDV sketch (p=6, 64 registers) over document
    content digests — the cheap distinct-count a sync planner reads
    instead of paying a countDistinct shuffle. Only integer registers are
    emitted (the float estimate is driver-side arithmetic over them)."""
    from airbyte_spark.operators.stats import hll_registers

    return hll_registers(_docs(spark, sf_dir), "text", p=6)


def q_docs_quality_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter threshold calibration: exact per-language percentile
    cutoffs (p10/p50/p90/p99) of the integer word-count score, computed
    sort-free via grouped counts + one cumulative window over the bounded
    score domain (operators/quantiles.py)."""
    from airbyte_spark.operators.quantiles import percentile_cutoffs

    d = _docs(spark, sf_dir)
    n_space = F.length("text") - F.length(F.regexp_replace("text", " ", ""))
    scored = d.select("lang", (n_space + F.lit(1)).cast("long").alias("score"))
    return percentile_cutoffs(scored, "score", [10, 50, 90, 99], group_cols=["lang"])


#: language re-weighting for the mixture query: milli-weights (1000 = 1.0
#: epoch). en is downsampled, de oversampled 2.5x, es kept exactly, fr and
#: zh fractionally oversampled — every arithmetic branch exercised.
_MIX_WEIGHTS = {"en": 500, "de": 2500, "es": 1000, "fr": 1300, "zh": 2000}
_TOKEN_BUDGET = 700  # per-source token cap (~half of each source's tokens)


def q_corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted mixture sampling (GPT-3-style dataset
    re-weighting): each document is emitted floor(w) times plus once more
    iff its md5 sampling bucket falls under the fractional weight of its
    language. Pure narrow pipeline — zero shuffles, zero RNG (plan-gated in
    tests/test_mixing.py); membership is a function of doc_id alone."""
    from airbyte_spark.operators.mixing import mixture_sample

    out = mixture_sample(_docs(spark, sf_dir), _MIX_WEIGHTS, group_col="lang")
    return out.select("doc_id", "lang", "source", "repeat_idx")


#: rebalance target: a deliberately non-uniform language mix so every group
#: gets a distinct derived rate (en downsampled hard, zh the limiting group)
_REBALANCE_TARGETS = {"en": 400, "de": 200, "es": 200, "fr": 100, "zh": 100}


def q_corpus_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling to a target language distribution
    (operators/mixing.py rebalance_sample): per-group keep-rates DERIVED
    from corpus counts (largest feasible output with the target shares),
    membership = deterministic md5 bucket. One calibration aggregate +
    one narrow filter pass; the corpus never shuffles."""
    from airbyte_spark.operators.mixing import rebalance_sample

    out = rebalance_sample(_docs(spark, sf_dir), _REBALANCE_TARGETS)
    return out.select("doc_id", "lang", "source")


def q_corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: the 25 smallest-md5 documents per
    (lang, source) — the standard per-group eval/ablation draw. Same
    bucket-prefix two-phase as the token budget, so no group ever sorts in
    one partition; the ranking window runs over candidates only."""
    from airbyte_spark.operators.mixing import stratified_sample

    return stratified_sample(_docs(spark, sf_dir), k=25)


def q_corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget: take documents in canonical md5-hash order
    while the source's running token total stays <= budget. Spark side is
    a two-phase distributed prefix sum (per-(source,bucket) partials ->
    tiny offset window -> broadcast join + bucket-local running sum) so no
    partition ever sorts more than 1/256 of a source; the oracle is the
    naive single-window form — provably identical because the bucket is a
    prefix of the order key."""
    from airbyte_spark.operators.mixing import token_budget_sample

    d = _docs(spark, sf_dir).withColumn(
        "n_tok", F.size(F.split("text", " ")).cast("long")
    )
    return token_budget_sample(d, budget=_TOKEN_BUDGET)


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: md5-rank every doc into
    (global_pos, shard, pos_in_shard) via the two-phase bucket-prefix sum
    (operators/mixing.py training_order) — no global sort, 256-way
    parallel; oracle is the naive global ROW_NUMBER window."""
    from airbyte_spark.operators.mixing import training_order

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return training_order(d, shard_size=256).select(
        "doc_id", "lang", "global_pos", "shard", "pos_in_shard"
    )


def q_dedup_token_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-token span reuse across documents (ExactSubstr family, Lee
    et al. 2021, distributed as rolling-window digests): pairs sharing >= 2
    distinct 8-token windows, super-common spans excluded
    (operators/token_dedup.py)."""
    from airbyte_spark.operators.token_dedup import token_span_pairs

    return token_span_pairs(
        _dup_docs(spark, sf_dir), k=8, stride=1, min_shared=2
    )


def q_dedup_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of ExactSubstr (operators/token_dedup.py
    excise_duplicate_spans): every corpus-duplicated 8-token window removed
    except its globally-first occurrence (min-(doc_id,pos) witness — a
    total order, so the cleaned corpus is a pure function of the input).
    Linear where pairing is quadratic: no self-join, one digest aggregate
    + one equi-join back, positions explode bounded by hits*k. Gated via
    md5(csv) of the cleaned token sequence per doc."""
    from airbyte_spark.operators.token_dedup import excise_duplicate_spans

    out = excise_duplicate_spans(_dup_docs(spark, sf_dir), k=8)
    return out.select(
        "doc_id",
        F.md5(
            F.expr("array_join(transform(tokens, x -> CAST(x AS STRING)), ',')")
        ).alias("clean_md5"),
        "n_tok",
        "n_removed",
    )


def q_dedup_incremental_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup (operators/incremental_dedup.py) run as a
    real two-batch ingest: originals first, then the injected copies
    arrive as a second batch checked against the accumulated signature
    index. The batching-independence law says the union of per-batch flags
    equals a one-shot run — the oracle is that one-shot min-witness
    aggregation over the verified pair relation. (Bucket sizes in this
    corpus stay far below the super-bucket cap, so the cap's as-of-batch
    evaluation cannot diverge here.)"""
    from airbyte_spark.operators.incremental_dedup import (
        append_index,
        incremental_neardup_flags,
        signature_batch,
    )

    d = _dup_docs(spark, sf_dir)
    b1 = signature_batch(d.filter(F.col("doc_id") < 1_000_000))
    b2 = signature_batch(d.filter(F.col("doc_id") >= 1_000_000))
    # persist the signatures — exactly what production does (the module
    # contract says the caller persists the index); without it the MinHash
    # computation of b1 re-runs for every branch that references it (f1's
    # candidate join, f2's index union, both verification joins): the
    # signature cost is per-BATCH by design, never per-reference
    for b in (b1, b2):
        b.bands.persist()
        b.shingles.persist()
    f1 = incremental_neardup_flags(b1, None)
    f2 = incremental_neardup_flags(b2, append_index(None, b1))
    return f1.unionByName(f2)


def q_docs_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear bag-of-words quality classifier (fasttext-style filter,
    linearized): corpus top-200 vocabulary by frequency -> deterministic
    word weights -> per-doc score + keep/maybe/drop label
    (operators/text_quality.py quality_classifier)."""
    from airbyte_spark.operators.text_quality import quality_classifier

    return quality_classifier(_docs(spark, sf_dir), vocab_top=200)


def q_tokens_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global token-frequency histogram over the change stream (the vocab
    coverage / stop-token profile a training pipeline computes): explode ->
    groupBy token. Map-side partial counts crush the fan-in before the
    exchange; the shuffle carries <= vocab-size rows per mapper."""
    ch = _changelog(spark, sf_dir)
    f = ch.filter((F.col("op") != "D") & (F.col("lsn") <= 3000))
    return (
        f.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= 2)
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint buckets over documents."""
    return simhash_groups(_docs(spark, sf_dir))


def q_dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: banded sign-bit LSH (4 bands x 12 bits —
    the sf1 growth audit's fix: candidates ~ B*n^2/2^bits, so 12 bits
    bounds bucket occupancy where the old single 8-bit table went
    quadratic, and 4 disjoint-bit bands buy the recall back) + integer
    cosine>=0.8, over the dup-injected embeddings table. Candidate
    generation ships ids only; vectors join back once per side."""
    return embedding_neardup_pairs(
        _dup_embeddings(spark, sf_dir), cos_pct=80, n_bits=12, n_bands=4
    )


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): deterministic
    coarse-quantizer clusters, within-cluster integer-cosine near-dup test,
    min-witness greedy keep rule (operators/semantic_dedup.py). Runs over
    the dup-injected embeddings so real drops occur (scaled copies have
    cosine exactly 1)."""
    from airbyte_spark.operators.semantic_dedup import semantic_dedup

    return semantic_dedup(_dup_embeddings(spark, sf_dir), cos_pct=80)


def q_tokens_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization (operators/tokenize.py): corpus top-512 word
    vocabulary -> per-doc token-id sequences — the bridge from `documents`
    to the engine's (doc_id, tokens, n_tok, source) input shape. Gated via
    the md5 digest of the id sequence (order-exact), plus n_tok/n_oov."""
    from airbyte_spark.operators.tokenize import tokenize_digest

    return tokenize_digest(_docs(spark, sf_dir), vocab_top=512)


def q_tokens_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detokenization roundtrip (operators/tokenize.py detokenize_digest):
    encode against the corpus top-512 vocabulary, decode back through the
    inverted vocab (OOV -> <unk>), and assert the invariant that zero-OOV
    documents decode bit-identically (roundtrip_ok). Gated on the decoded
    and original word-sequence digests per doc."""
    from airbyte_spark.operators.tokenize import detokenize_digest

    return detokenize_digest(_docs(spark, sf_dir), vocab_top=512)


def q_docs_adaptive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ADAPTIVE quality filter (operators/quantiles.py
    adaptive_filter_summary): each source's keep-cutoff is its own exact
    P25 of the integer word-count score (CCNet-style per-source
    calibration); reports per-source cutoff + kept/dropped tallies. One
    corpus pass — the tallies are derived from the same grouped-counts
    table that calibrates the cutoff."""
    from airbyte_spark.operators.quantiles import adaptive_filter_summary

    d = _docs(spark, sf_dir)
    n_space = F.length("text") - F.length(F.regexp_replace("text", " ", ""))
    scored = d.select("source", (n_space + F.lit(1)).cast("long").alias("score"))
    return adaptive_filter_summary(scored, "score", 25, group_cols=["source"])


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact inner-product top-5 for the first 10 vectors (broadcast queries)."""
    emb = _embeddings(spark, sf_dir)
    out = knn_bruteforce(emb, emb.filter(F.col("vec_id") < 10), top_k=5)
    return out.select("query_id", "neighbor_id", "dot", F.col("rank").cast("long").alias("rank"))


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-3 within sign-bit LSH buckets (the scale path)."""
    emb = _embeddings(spark, sf_dir)
    out = knn_lsh(emb, emb.filter(F.col("vec_id") < 10), top_k=3)
    return out.select("query_id", "neighbor_id", "dot", F.col("rank").cast("long").alias("rank"))


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a deterministic integer coarse quantizer (centroids =
    quantized vectors of the 16 smallest ids, integer argmin-L2 assignment,
    n_probe nearest lists probed) — fully SQL-expressible, so it carries an
    exact DuckDB oracle. The data-adaptive KMeans variant
    (knn_ivf_kmeans) keeps its recall/exactness unit tests
    (tests/test_discover_ivf.py)."""
    emb = _embeddings(spark, sf_dir)
    out = knn_ivf(emb, emb.filter(F.col("vec_id") < 10), top_k=5, n_centroids=16, n_probe=4)
    return out.select("query_id", "neighbor_id", "dot", F.col("rank").cast("long").alias("rank"))


def q_docs_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash document fingerprint (h = h*31 + c mod p)."""
    d = _docs(spark, sf_dir)
    return d.selectExpr("doc_id", f"{X.rolling_hash_sql(X.SPARK, 'text')} AS fp")


def q_docs_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer count: letter runs | digit runs | punctuation."""
    d = _docs(spark, sf_dir)
    pat = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
    return d.selectExpr(
        "doc_id", f"CAST({X.REGEXP_COUNT(X.SPARK, 'text', pat)} AS BIGINT) AS n_bpe_tokens"
    )


def q_multimodal_blob_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: opaque binary payload + typed metadata columns
    (byte length, content hash, modality, simulated frame count). The codec
    step itself is the mapInPandas stub in functions/multimodal.py."""
    d = _docs(spark, sf_dir)
    return d.select(
        F.col("doc_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.octet_length(F.encode(F.col("text"), "UTF-8")).cast("long").alias("byte_len"),
        F.md5(F.col("text")).alias("content_md5"),
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.octet_length(F.encode(F.col("text"), "UTF-8")) / F.lit(4096.0)).cast("long"),
        ).alias("n_frames"),
    )


def q_events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup of the events stream — the batch shape of the
    Structured Streaming `window(ts, '1 hour')` + watermark aggregation."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.select(
            F.unix_millis(F.date_trunc("HOUR", F.col("ts").cast("timestamp"))).alias("hour_ms"),
            "event_type",
            "user_id",
        )
        .groupBy("hour_ms", "event_type")
        .agg(F.count("*").alias("n_events"), F.countDistinct("user_id").alias("n_users"))
    )


def q_cdc_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal as-of lookup over the change stream: for every doc and each
    probe LSN (2500/5000/7500), the version active at-or-before that
    instant — union + single key-partitioned carry-forward window
    (operators/asof.py), never a V×P interval join. Probes before a doc's
    first event keep NULLs (left semantics); tombstones surface as
    active_op='D', not a resurrected older image."""
    from airbyte_spark.operators.asof import asof_enrich

    ch = _changelog(spark, sf_dir).select("doc_id", "lsn", "op", "n_tok")
    probes = (
        ch.select("doc_id")
        .distinct()
        .select(
            "doc_id",
            F.explode(F.array(F.lit(2500), F.lit(5000), F.lit(7500))).alias("lsn"),
        )
        .select("doc_id", F.col("lsn").cast("long").alias("lsn"))
    )
    out = asof_enrich(probes, ch, key="doc_id", ts_col="lsn",
                      version_cols=["lsn", "op", "n_tok"])
    return out.select(
        "doc_id", "lsn", "active_lsn", "active_op",
        F.col("active_n_tok").cast("long").alias("active_n_tok"),
    )


def q_cdc_snapshot_then_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-then-tail in one plan (MySqlInitialReadUtil.java:171-180):
    a derived initial snapshot (lsn=0, one row per user-keyed doc) unioned
    with the change tail, then LWW — tail events supersede snapshot rows."""
    ch = _changelog(spark, sf_dir).drop("tokens")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    snap = (
        ev.select(F.col("user_id").cast("long").alias("uid"))
        .distinct()
        .select(
            F.lit("I").alias("op"),
            F.format_string("doc%09d", F.col("uid")).alias("doc_id"),
            F.lit(0).cast("long").alias("lsn"),
            F.lit(0).cast("long").alias("ts_ms"),
            (F.col("uid") % 4).cast("long").alias("source_partition"),
            F.lit("snapshot").alias("event_type"),
            (F.col("uid") % 64 + 1).cast("long").alias("n_tok"),
            F.lit(0).cast("long").alias("payload_hash"),
        )
    )
    combined = snap.unionByName(ch.select(*snap.columns))
    return lww_dedup(combined, key="doc_id").select(*_FINAL_COLS)


def q_cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 history over the changelog: per-doc validity intervals via
    lead(), active-row flag via row_number() (stream_processor.py:742-900)."""
    from pyspark.sql.window import Window

    ch = _changelog(spark, sf_dir).drop("tokens")
    w_asc = Window.partitionBy("doc_id").orderBy(F.col("lsn").asc())
    w_desc = Window.partitionBy("doc_id").orderBy(F.col("lsn").desc())
    return ch.select(
        "doc_id",
        "lsn",
        "op",
        F.col("ts_ms").alias("valid_from_ms"),
        F.lead("ts_ms").over(w_asc).alias("valid_to_ms"),
        ((F.row_number().over(w_desc) == 1) & (F.col("op") != "D")).cast("int").alias("is_active"),
    )


def q_cdc_unnest_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF-analog unnest: posexplode token arrays to (doc_id, lsn, pos,
    token) rows (normalization unnest, stream_processor.py:1472-1487)."""
    ch = _changelog(spark, sf_dir)
    f = ch.filter((F.col("op") != "D") & (F.col("lsn") <= 2000))
    return f.select("doc_id", "lsn", F.posexplode("tokens").alias("pos", "token"))


def q_cdc_normalize_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-array normalization into a child table keyed by parent FK
    hash (stream_processor.py:133-172 create_from_parent; :675-705 md5
    surrogate keys): each token array explodes into child rows carrying
    _ab_parent_hashid (md5 of the parent PK) and their own
    _ab_child_hashid (md5 of parent hash + position)."""
    from airbyte_spark.operators.normalize import normalize_child_table

    ch = _changelog(spark, sf_dir)
    f = ch.filter((F.col("op") != "D") & (F.col("lsn") <= 2000))
    out = normalize_child_table(
        f, pk_cols=["doc_id", "lsn"], array_col="tokens", item_col="token"
    )
    return out.select(
        "_ab_parent_hashid", "doc_id", "lsn",
        F.col("pos").cast("int").alias("pos"),
        F.col("token").cast("int").alias("token"),
        "_ab_child_hashid",
    )


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing over the synthesized multimodal asset table:
    each binary payload explodes into up to 4 (frame_idx, frame_offset)
    rows (functions/multimodal.py sample_frames; the codec would replace
    offset slicing with real frame extraction)."""
    from airbyte_spark.functions.multimodal import sample_frames, synthesize_assets

    assets = synthesize_assets(_docs(spark, sf_dir))
    out = sample_frames(assets, stride_bytes=4096, max_frames=4)
    return out.select(
        "asset_id", "modality", F.col("byte_len").cast("long").alias("byte_len"),
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("frame_offset").cast("long").alias("frame_offset"),
    )


def q_cdc_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction + safe-cast with per-column error capture
    (extractNewRawRecords cast CTE, BigQuerySqlGenerator.java:536-566;
    'destinations never fail on mismatch', airbyte-protocol.md:439-450).
    An _airbyte_data-style envelope is built per event (with a deterministic
    dirty value every 7th record); typed columns come out via get_json_object
    + try_cast, failures land in an errors array instead of failing rows."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    amt_raw = F.when(F.col("event_id") % 7 == 0, F.lit("N/A")).otherwise(
        F.floor(F.col("value") * 100).cast("long").cast("string")
    )
    data = F.concat(
        F.lit('{"uid": '),
        F.col("user_id").cast("string"),
        F.lit(', "k": '),
        F.get_json_object("props", "$.k"),
        F.lit(', "amt": "'),
        amt_raw,
        F.lit('"}'),
    )
    d = ev.select(F.col("event_id"), data.alias("_data"))
    amt_s = F.get_json_object("_data", "$.amt")
    amt_t = amt_s.try_cast("long")
    return d.select(
        "event_id",
        F.get_json_object("_data", "$.uid").try_cast("long").alias("uid"),
        F.get_json_object("_data", "$.k").try_cast("int").alias("k"),
        amt_t.alias("amt_cents"),
        F.when(amt_s.isNotNull() & amt_t.isNull(), F.array(F.lit("amt_cast_error")))
        .otherwise(F.array().cast("array<string>"))
        .alias("errors"),
    ).select(
        "event_id", "uid", "k", "amt_cents", F.size("errors").cast("int").alias("n_errors")
    )


def q_cdc_schema_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic JSON-schema-driven T+D extraction (plans/transforms.py
    schema_extract): a 7-field mixed-type schema — bigint, int, bigint,
    double, boolean, date, string — compiled to get_json_object + try_cast
    with per-column error capture. Two deliberately dirty columns (amt is
    'N/A' every 7th record, flag is 'maybe' every 11th) prove errors are
    captured PER COLUMN — a record divisible by 77 reports both — while
    rows never fail (BigQuerySqlGenerator.java:536-566 semantics over an
    arbitrary configured schema)."""
    from airbyte_spark.plans.transforms import schema_extract

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.floor(F.col("value") * 100).cast("long").cast("string")
    amt_raw = F.when(F.col("event_id") % 7 == 0, F.lit("N/A")).otherwise(cents)
    flag_raw = (
        F.when(F.col("event_id") % 11 == 0, F.lit("maybe"))
        .when(F.col("event_id") % 2 == 0, F.lit("true"))
        .otherwise(F.lit("false"))
    )
    data = F.concat(
        F.lit('{"uid": '), F.col("user_id").cast("string"),
        F.lit(', "k": '), F.get_json_object("props", "$.k"),
        F.lit(', "amt": "'), amt_raw,
        F.lit('", "price": "'), cents, F.lit('.25"'),
        F.lit(', "flag": "'), flag_raw,
        F.lit('", "day": "'), F.date_format("ts", "yyyy-MM-dd"),
        F.lit('", "label": "'), F.col("event_type"), F.lit('"}'),
    )
    d = ev.select("event_id", data.alias("_data"))
    out = schema_extract(
        d, "_data",
        {
            "uid": "bigint", "k": "int", "amt": "bigint", "price": "double",
            "flag": "boolean", "day": "date", "label": "string",
        },
        errors_col="errors",
    )
    # day stays a real DATE through extraction (error capture exercises the
    # date cast); rendered back to ISO text only for the oracle compare,
    # which can't hash date objects stably across engines
    return out.select(
        "event_id", "uid", "k", "amt", "price", "flag",
        F.col("day").cast("string").alias("day"), "label", "errors",
    )


def q_cdc_debezium_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium envelope decode (sources/debezium.py): events rendered as
    Debezium JSON envelopes (c/u/d/r ops; deletes carry only the PK in
    ``before``) then flattened by ONE typed from_json + projection —
    after-image with before-image delete fallback, op mapping, Postgres LSN
    extraction (DebeziumEventUtils.java:98-109,168-188). The oracle computes
    the decode's closed form straight off the base table, so the whole JSON
    round trip is value-hash-gated."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from airbyte_spark.sources.debezium import decode_debezium, split_malformed

    payload = StructType(
        [
            StructField("doc_id", StringType(), True),
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
        ]
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    doc_id = F.format_string("doc%09d", F.col("event_id"))
    op_raw = F.element_at(
        F.array(F.lit("c"), F.lit("u"), F.lit("d"), F.lit("r")),
        (F.col("event_id") % 4 + 1).cast("int"),
    )
    after = F.struct(
        doc_id.alias("doc_id"), F.col("user_id"), F.col("event_type"), F.col("value")
    )
    pk_only = F.struct(
        doc_id.alias("doc_id"),
        F.lit(None).cast("bigint").alias("user_id"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("double").alias("value"),
    )
    env = F.struct(
        F.when(op_raw == "d", pk_only).alias("before"),
        F.when(op_raw != "d", after).alias("after"),
        F.struct(
            F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
            F.col("event_id").alias("lsn"),
            F.lit("app").alias("db"),
            F.lit("events").alias("table"),
        ).alias("source"),
        op_raw.alias("op"),
        (F.unix_millis(F.col("ts").cast("timestamp")) + 5).alias("ts_ms"),
    )
    feed = ev.select(F.to_json(env, {"ignoreNullFields": "false"}).alias("value"))
    good, _bad = split_malformed(decode_debezium(feed, payload))
    return good.select(
        "op", "doc_id", "lsn", "ts_ms", "user_id", "event_type", "value"
    )


def q_docs_vector_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-destination document chunking (operators/vector_sink.py
    chunk_documents): separator-aware chunks with _ab_record_id/_ab_stream
    metadata and deterministic md5 chunk ids
    (vector_db_based/document_processor.py semantics re-expressed as split ->
    posexplode -> one per-doc window cumsum -> groupBy; boundary rule is the
    packing cumsum idiom so the oracle is pure window SQL)."""
    from airbyte_spark.operators.vector_sink import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir),
        chunk_size=160,
        overlap=0,
        separator=" ",
        stream="documents",
    )


def q_declarative_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative filter/add_field/remove_fields chain compiled to Catalyst
    (record_filter.py:13-36, add_fields.py:35-130, remove_fields.py:15-63)."""
    from airbyte_spark.plans.transforms import apply_transforms

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return apply_transforms(
        ev,
        [
            {"op": "filter", "predicate": "event_type IN ('click', 'purchase')"},
            {"op": "add_field", "name": "day_ms",
             "expr": "unix_millis(date_trunc('DAY', ts))"},
            {"op": "add_field", "name": "value_cents",
             "expr": "CAST(floor(value * 100) AS BIGINT)"},
            {"op": "remove_fields", "names": ["props", "ts", "value"]},
        ],
    )


def q_declarative_extract_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dpath response extractor (dpath_extractor.py:18) as Catalyst: a
    deterministic JSON envelope {"data": [rec, rec]} is built per event and
    the record list pulled out + exploded via from_json/get_json_object —
    one row per extracted record, fields lifted to columns. Oracle states
    the expected output directly (the envelope content is deterministic)."""
    from airbyte_spark.plans.transforms import apply_transforms

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    body = F.concat(
        F.lit('{"data": [{"i": '),
        F.col("event_id").cast("string"),
        F.lit(', "v": '),
        F.floor(F.col("value") * 100).cast("long").cast("string"),
        F.lit('}, {"i": '),
        (F.col("event_id") + 10000000).cast("string"),
        F.lit(', "v": 0}]}'),
    )
    d = ev.select(F.col("event_id"), body.alias("body"))
    return apply_transforms(
        d,
        [
            {
                "op": "extract_path",
                "column": "body",
                "path": ["data", "*"],
                "schema": "struct<i:bigint,v:bigint>",
            }
        ],
    )


def q_substream_parent_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substream partition router as a join: for each parent (customer) read
    the child stream (orders) with the parent key injected
    (substream_partition_router.py:41) — the nested-loop API iteration
    becomes one broadcast equi-join of child against the small parent dim."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_name", "c_mktsegment")),
            orders.o_custkey == cust.c_custkey,
        )
        .select(
            "o_orderkey",
            F.col("o_custkey").alias("parent_key"),
            "c_name",
            "c_mktsegment",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
        )
    )


def q_mapper_pii_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connection-level mappers (Airbyte "mappings": hash / mask / rename /
    row-filter — plans/mappers.py) as ONE declarative chain: filter rows,
    SHA-256 a phone column (renamed *_hashed, the platform's hashing-mapper
    shape), length-preserving-mask the name, rename the key. The whole
    chain compiles to a narrow projection fused into the parquet scan
    (plan-gated zero-Exchange in tests/test_mappers.py); the row filter
    pushes down."""
    from airbyte_spark.plans.transforms import apply_transforms

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = apply_transforms(  # one declarative list mixing both grammars
        cust,
        [
            {"op": "filter_rows", "predicate": "c_acctbal > 0"},
            {
                "op": "add_field",
                "name": "email",
                "expr": "concat(lower(c_name), '@example.com')",
            },
            {"op": "hash_field", "name": "email", "method": "sha256"},
            {"op": "mask_field", "name": "c_name", "keep_prefix": 9},
            {"op": "rename_field", "from": "c_custkey", "to": "customer_id"},
        ],
    )
    return out.select("customer_id", "c_name", "email_hashed", "c_mktsegment")


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization (operators/sessionize.py): 30-min-inactivity
    sessions per user over the events stream, rolled up to per-session
    bounds/counts/exact-cents value. ONE exchange on user_id; the lag
    window's sort is reused by the running sum and the rollup (plan-gated
    single-Exchange in tests/test_sessionize.py). Timestamps compare as
    exact integer microseconds so the oracle gate is float-free."""
    from airbyte_spark.operators.sessionize import session_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return session_rollup(ev, gap_s=1800)


def q_cdc_demux_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-WAL demux routing (demux.py): one interleaved change stream,
    records routed to N tables by a stream column (here t0/t1/t2 keyed by
    doc_id % 3), per-table LWW apply — summarized as per-stream final-state
    stats. The GLOBAL shared-offset semantics (offset advances only when
    every table committed — MySqlCdcStateHandler.java:38-63) are gated in
    tests/test_demux.py; this query gates the routing + per-table LWW
    values exactly."""
    ch = _changelog(spark, sf_dir).drop("tokens")
    doc_num = F.expr("substring(doc_id, 4)").cast("long")  # 'doc00000042' -> 42
    routed = ch.withColumn(
        "stream", F.concat(F.lit("t"), (doc_num % 3).cast("string"))
    )
    winners = lww_dedup(routed, key="doc_id")
    live = winners.filter(F.col("op") != "D")
    return live.groupBy("stream").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.max("lsn").alias("max_lsn"),
        F.sum(F.col("n_tok").cast("long")).alias("sum_n_tok"),
    )


def q_docs_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup (operators/urls.py): dirty
    crawl URLs (scheme/host case, www, default port, tracking params,
    unsorted query, fragments) synthesized deterministically per doc ->
    canonical form -> min-witness keeper per canonical URL. The
    canonicalizer is a pure narrow projection (zero shuffle); dedup is one
    hash agg on the canonical string + the keeper join — URL-keyed, never
    content-keyed."""
    from airbyte_spark.operators.urls import url_dedup

    d = _docs(spark, sf_dir)
    slot = (F.col("doc_id") % 200).cast("string")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/p/"),
        slot,
        F.lit("?b=2&utm_source=rss&a="),
        (F.col("doc_id") % 200 % 7).cast("string"),
        F.when(
            F.col("doc_id") % 2 == 1,
            F.concat(F.lit("#sec"), (F.col("doc_id") % 4).cast("string")),
        ).otherwise(F.lit("")),
    )
    out = url_dedup(d.select("doc_id", url.alias("url")), "url")
    return out.select(
        "doc_id", "url_canonical", "domain", F.col("keep").cast("int").alias("keep")
    )


def q_docs_unicode_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode cleanup (functions/textnorm.py): NFC normalization +
    control-char strip + horizontal-whitespace collapse — the stage that
    must run before ANY hashing/dedup/tokenization (decomposed accents
    would fingerprint differently). Dirt (a decomposed e+U+0301, a BEL
    control, tab/space runs) is appended deterministically so NFC really
    composes something. JVM regex does the stripping/collapsing; NFC is
    the one honest Arrow pandas UDF (no JVM builtin; same Unicode standard
    as the DuckDB nfc_normalize oracle). Pure narrow plan, zero shuffles."""
    from airbyte_spark.functions.textnorm import unicode_clean

    d = _docs(spark, sf_dir)
    dirty = F.concat(
        F.col("text"), F.lit("  Café\t\x07end  ")
    )
    cleaned = unicode_clean(dirty)
    return d.select(
        "doc_id",
        F.md5(cleaned).alias("clean_md5"),
        F.length(cleaned).cast("long").alias("clean_len"),
    )


#: deterministic markdown dressing for docs_markdown_strip — exercises every
#: strip rule (heading, bold, fence, bullet, quote, link) on every doc
_MD_PRE = "\n\n- **lead** item\n\n```\nx = 1\n```\n\n> quoted\n\nSee [ref](http://example.com/"
_MD_POST = ").\n\n"


def q_docs_markdown_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown → plain text (functions/markdown.py): the projection between
    the unstructured-document front door (sources/unstructured.py, reference
    unstructured_parser.py record shape) and the prose-consuming curation
    operators. Each doc is dressed in deterministic markdown covering every
    strip rule, then stripped. Pure regexp_replace chain — whole-stage
    codegen, narrow plan, zero shuffles; oracle is the SAME rule chain
    rendered for DuckDB (functions/markdown.py strip_markdown_sql)."""
    from airbyte_spark.functions.markdown import strip_markdown

    d = _docs(spark, sf_dir)
    md = F.concat(
        F.lit("# Doc "), F.col("doc_id"), F.lit(_MD_PRE), F.col("doc_id"),
        F.lit(_MD_POST), F.col("text"),
    )
    out = strip_markdown(md)
    return d.select(
        "doc_id",
        F.md5(out).alias("strip_md5"),
        F.length(out).cast("long").alias("strip_len"),
    )


def q_docs_embed_lanes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic embedder (operators/embedder.py, vector_db_based
    embedder.py parity): the integer md5 lanes each document's unit vector
    is derived from — exact cross-engine (the float normalization is a pure
    projection of these lanes). Narrow plan, zero shuffles, whole-stage
    codegen end to end."""
    from airbyte_spark.operators.embedder import deterministic_lanes

    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    return d.select(
        "doc_id", F.array(*deterministic_lanes(F.col("text"), 8)).alias("lanes")
    )


_PM31 = 2_147_483_648


def _plsn_h(salt: int) -> str:
    """Dialect-neutral 2-round LCG hash of lsn (pure BIGINT arithmetic,
    products < 2^62 — same template as plans/derived.py)."""
    r1 = f"((lsn + {salt}) % {_PM31})"
    r2 = f"(({r1} * 1103515245 + 12345) % {_PM31})"
    return f"(({r2} * 1103515245 + 12345) % {_PM31})"


# patch-envelope masks for cdc_patch_fold — one string, both dialects
_PM_GROUP = f"({_plsn_h(41)} % 4)"          # 1 -> n_tok absent, 0 -> event_type absent
_PM_ETNULL = f"(({_plsn_h(43)} % 5) = 0)"   # explicit NULL of event_type
_PM_PH = f"(({_plsn_h(45)} % 3) = 0)"       # payload_hash absent


def q_cdc_patch_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-update (patch) envelope fold — column-wise LWW with
    full-image epochs (operators/patch.py fold_patches). U events carry
    only a deterministic subset of (n_tok, event_type, payload_hash);
    explicitly-nulled event_type rides `_ab_null_fields`. One shuffle on
    doc_id: epoch window + max-epoch filter + max_by hash aggregate."""
    from airbyte_spark.operators.patch import fold_patches

    ch = _changelog(spark, sf_dir).drop("tokens")
    is_u = F.col("op") == "U"
    grp = F.expr(_PM_GROUP)
    etn = is_u & (grp != 0) & F.expr(_PM_ETNULL)
    ch = (
        ch.withColumn("n_tok", F.when(is_u & (grp == 1), None).otherwise(F.col("n_tok")))
        .withColumn(
            "event_type",
            F.when(is_u & ((grp == 0) | etn), None).otherwise(F.col("event_type")),
        )
        .withColumn(
            "payload_hash",
            F.when(is_u & F.expr(_PM_PH), None).otherwise(F.col("payload_hash")),
        )
        .withColumn(
            "_ab_null_fields",
            F.when(etn, F.array(F.lit("event_type"))).otherwise(
                F.array().cast("array<string>")
            ),
        )
    )
    folded = fold_patches(ch, payload_cols=["n_tok", "event_type", "payload_hash"])
    return folded.select(
        "doc_id",
        "op",
        "lsn",
        F.col("n_tok").cast("long").alias("n_tok"),
        "event_type",
        F.col("payload_hash").cast("long").alias("payload_hash"),
        F.col("_touched_n_tok").cast("int").alias("touched_n_tok"),
        F.col("_touched_event_type").cast("int").alias("touched_event_type"),
        F.col("_touched_payload_hash").cast("int").alias("touched_payload_hash"),
    )


_HH_K = 200


def q_tokens_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (freq > N/k) via two-pass Misra–Gries
    (operators/heavy_hitters.py): partition-local mergeable MG sketch
    bounds the candidate set (zero-shuffle scan 1), broadcast semi-join +
    hash agg recounts exactly (candidate-bounded shuffle, scan 2). The
    distinct-token vocabulary never crosses the wire."""
    from airbyte_spark.operators.heavy_hitters import heavy_hitters

    toks = _docs(spark, sf_dir).select(F.split("text", " ").alias("toks"))
    return heavy_hitters(toks, "toks", k=_HH_K)


def q_tokens_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge training (operators/bpe.py): ONE corpus-scale
    word-count aggregate, then vocab-sized merge iterations (pair argmax +
    pure-Catalyst greedy fold; total tie-break (count DESC, pair ASC) makes
    the list partitioning-independent). Iterative training is not
    SQL-expressible, so no DuckDB oracle — the driver records a rows-only
    check; exactness vs an independent single-threaded reference is pinned
    in tests/test_bpe.py."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from airbyte_spark.operators.bpe import train_bpe

    merges, seg = train_bpe(_docs(spark, sf_dir), n_merges=16)
    seg.unpersist()
    return spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(merges)],
        StructType(
            [
                StructField("rank", IntegerType(), False),
                StructField("left", StringType(), False),
                StructField("right", StringType(), False),
                StructField("pair_count", LongType(), False),
            ]
        ),
    )


def q_cdc_mongo_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mongo change-stream envelope decode (sources/mongo.py): events
    rendered as Debezium-Mongo JSON (images as extended-JSON STRINGS,
    ``$oid``-wrapped ids, BsonTimestamp (sec, ord) position, patch updates
    via updateDescription, update-then-delete race with both images null)
    then decoded by two typed from_json + string-level oid normalization.
    The oracle computes the decode's closed form straight off the base
    table, value-hash-gating op mapping, oid unwrap, key recovery on
    deletes/patches, LSN packing, and removedFields -> null_fields."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from airbyte_spark.sources.debezium import split_malformed
    from airbyte_spark.sources.mongo import decode_mongo

    payload = StructType(
        [
            StructField("_id", StringType(), True),
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
        ]
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    m = (F.col("event_id") % 5).cast("int")
    hexid = F.format_string("%012x", F.col("event_id"))
    op_raw = F.element_at(
        F.array(F.lit("c"), F.lit("i"), F.lit("u"), F.lit("u"), F.lit("d")),
        m + 1,
    )
    is_race = (m == 3) & (F.col("event_id") % 7 == 0)  # u with no image at all
    is_patch = (m == 3) & ~is_race
    after_full = F.to_json(
        F.struct(
            hexid.alias("_id"), F.col("user_id"), F.col("event_type"), F.col("value")
        )
    )
    after_oid = F.to_json(
        F.struct(
            F.struct(hexid.alias("$oid")).alias("_id"),
            F.col("user_id"),
            F.col("event_type"),
            F.col("value"),
        )
    )
    upd_fields = F.to_json(F.struct(F.col("user_id"), F.col("value")))
    removed = F.when(
        F.col("event_id") % 2 == 0, F.array(F.lit("event_type"))
    ).otherwise(F.array().cast("array<string>"))
    sec = F.unix_seconds(F.col("ts").cast("timestamp"))
    src_ts = F.unix_millis(F.col("ts").cast("timestamp"))
    env = F.struct(
        F.lit(None).cast("string").alias("before"),
        F.when(m.isin(0, 1), after_full).when(m == 2, after_oid).alias("after"),
        F.when(
            is_patch,
            F.struct(
                upd_fields.alias("updatedFields"), removed.alias("removedFields")
            ),
        ).alias("updateDescription"),
        F.struct(
            src_ts.alias("ts_ms"),
            sec.alias("sec"),
            (F.col("event_id") % 1000).alias("ord"),
            F.lit("app").alias("db"),
            F.lit("events").alias("collection"),
            F.lit(None).cast("string").alias("snapshot"),
        ).alias("source"),
        op_raw.alias("op"),
        (src_ts + 5).alias("ts_ms"),
    )
    # deletes and oid-updates carry the id in the key as a SERIALIZED
    # {"$oid": ...} doc; others as a plain string
    key = F.when(
        m.isin(2, 4),
        F.format_string('{"id": "{\\"$oid\\": \\"%s\\"}"}', hexid),
    ).otherwise(F.format_string('{"id": "%s"}', hexid))
    feed = ev.select(
        F.to_json(env, {"ignoreNullFields": "false"}).alias("value"),
        key.alias("key"),
    )
    good, _bad = split_malformed(
        decode_mongo(feed, payload, key_col="key", emit_patch=True)
    )
    return good.select(
        "op",
        F.col("_id").alias("id"),
        "lsn",
        "ts_ms",
        "user_id",
        "event_type",
        "value",
        F.array_join("_ab_null_fields", ",").alias("null_fields"),
    )


def _wal2json_feed(spark: SparkSession, sf_dir: str):
    """events rendered as wal2json v1 TRANSACTION envelopes: changes grouped
    3-per-txn in event_id order, per-change JSON with positional
    columnnames/columnvalues (mixed JSON types: bare numbers next to strings,
    exercising the decoder's raw-text scalar coercion), deletes carrying only
    oldkeys, commit LSN rendered as the "X/Y" hex pair, commit timestamp =
    the txn's last change time."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    txn = F.floor(F.col("event_id") / F.lit(3)).cast("long")
    m = (F.col("event_id") % 4).cast("int")
    kind = F.element_at(
        F.array(F.lit("insert"), F.lit("update"), F.lit("delete"), F.lit("insert")),
        m + 1,
    )
    doc_id = F.format_string("doc%09d", F.col("event_id"))
    change = F.when(
        kind == "delete",
        F.format_string(
            '{"kind":"delete","schema":"public","table":"events",'
            '"oldkeys":{"keynames":["doc_id"],"keyvalues":["%s"]}}',
            doc_id,
        ),
    ).otherwise(
        F.format_string(
            '{"kind":"%s","schema":"public","table":"events",'
            '"columnnames":["doc_id","user_id","event_type","value"],'
            '"columnvalues":["%s",%d,"%s",%s]}',
            kind,
            doc_id,
            F.col("user_id"),
            F.col("event_type"),
            F.col("value").cast("string"),
        )
    )
    grp = (
        ev.select(
            txn.alias("txn"),
            F.struct(F.col("event_id"), change.alias("cj")).alias("ch"),
            F.col("ts").cast("timestamp").alias("ts"),
        )
        .groupBy("txn")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("ch")), lambda s: s["cj"]
                ),
                ",",
            ).alias("changes"),
            F.max("ts").alias("commit_ts"),
        )
    )
    pg_lsn = F.lit(5000000000) + F.col("txn") * 97
    tz = spark.conf.get("spark.sql.session.timeZone")
    utc_wall = F.date_format(
        F.to_utc_timestamp(F.col("commit_ts"), tz), "yyyy-MM-dd HH:mm:ss.SSS"
    )
    return grp.select(
        F.format_string(
            '{"xid":%d,"nextlsn":"%X/%X","timestamp":"%s+00","change":[%s]}',
            F.col("txn"),
            F.shiftright(pg_lsn, 32),
            pg_lsn.bitwiseAND(F.lit(0xFFFFFFFF)),
            utc_wall,
            F.col("changes"),
        ).alias("value")
    )


def _wal2json_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from airbyte_spark.sources.debezium import split_malformed
    from airbyte_spark.sources.wal2json import decode_wal2json

    payload = StructType(
        [
            StructField("doc_id", StringType(), True),
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
        ]
    )
    good, _bad = split_malformed(
        decode_wal2json(_wal2json_feed(spark, sf_dir), payload)
    )
    return good


def q_cdc_wal2json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wal2json transaction-envelope decode (sources/wal2json.py): events
    rendered as per-TRANSACTION envelopes (3 changes per txn, positional
    columnnames/columnvalues with mixed JSON scalar types, oldkeys-only
    deletes, "X/Y" hex commit LSN, commit timestamp) then decoded by ONE
    typed from_json + posexplode + map_from_arrays — whole-stage codegen,
    zero Python. Engine LSN = commit_lsn << 16 | statement_index, so the
    (commit order, statement order) total order logical decoding guarantees
    survives the engine's single-long cursor. The oracle computes the decode's
    closed form straight off the base table (row_number for statement index,
    max(ts) per txn for commit time), value-hash-gating the whole JSON round
    trip including hex LSN packing and delete key recovery.

    Reference parity: PostgresCdcTargetPosition.java:23 (single monotonic
    LSN), DebeziumEventUtils.java:98-109 (image selection), wal2json public
    wire format."""
    return _wal2json_decoded(spark, sf_dir).select(
        "op", "lsn", "xid", "txn_seq", "ts_ms",
        "doc_id", "user_id", "event_type", "value",
    )


def q_cdc_wal2json_txn_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-transaction commit audit over the wal2json decode
    (sources/wal2json.py txn_stats): ONE partial-combined hash aggregate —
    change counts by op and the LSN span per xid; the commit-boundary rollup
    a platform shows per transaction."""
    from airbyte_spark.sources.wal2json import txn_stats

    return txn_stats(_wal2json_decoded(spark, sf_dir))


def q_cdc_maxwell_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maxwell (MySQL) envelope decode (sources/maxwell.py): events rendered
    as Maxwell JSON — full row image in ``data`` for ALL ops (deletes too),
    epoch-SECONDS ``ts``, 4-row transactions framed in-band (xoffset rows
    then a commit:true row; the commit row here is a DDL ``table-alter`` so
    the quarantine path is exercised inside the gate) — then flattened by ONE
    typed from_json + projection with xid-packed LSNs
    (MySqlCdcTargetPosition.java:73-99 total-order parity on the xid
    fallback). The oracle computes the decode's closed form straight off the
    base table, so the whole JSON round trip is value-hash-gated."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from airbyte_spark.sources.debezium import split_malformed
    from airbyte_spark.sources.maxwell import decode_maxwell

    payload = StructType(
        [
            StructField("doc_id", StringType(), True),
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
        ]
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    r = (F.col("event_id") % 4).cast("int")
    type_ = F.element_at(
        F.array(
            F.lit("insert"), F.lit("update"), F.lit("delete"), F.lit("table-alter")
        ),
        r + 1,
    )
    env = F.struct(
        F.lit("app").alias("database"),
        F.lit("events").alias("table"),
        type_.alias("type"),
        F.expr("unix_millis(cast(ts as timestamp)) div 1000").alias("ts"),
        (F.col("event_id") / 4).cast("long").alias("xid"),
        # commit row (r==3) has NO xoffset; default to_json drops the null
        F.when(r < 3, r.cast("long")).alias("xoffset"),
        F.when(r == 3, F.lit(True)).alias("commit"),
        F.struct(
            F.format_string("doc%09d", F.col("event_id")).alias("doc_id"),
            F.col("user_id"),
            F.col("event_type"),
            F.col("value"),
        ).alias("data"),
    )
    feed = ev.select(F.to_json(env).alias("value"))
    good, _bad = split_malformed(decode_maxwell(feed, payload))
    return good.select(
        "op", "lsn", "ts_ms", "doc_id", "user_id", "event_type", "value"
    )


def q_cdc_canal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canal flatMessage decode (sources/canal.py): events rendered as
    BATCHED canal envelopes — 3-row ``data`` arrays with every scalar
    string-serialized (canal's wire convention), envelope-level batch id /
    es timestamp, every 4th envelope a DDL (``isDdl: true``) so the
    quarantine path is exercised inside the gate — then flattened by ONE
    typed from_json + posexplode + per-column cast, LSN packed as
    ``batch_id << 16 | row_index`` (MySqlCdcTargetPosition.java:73-99
    total-order parity on canal's batch counter). The oracle computes the
    decode's closed form straight off the base table, so the whole JSON
    round trip — including the string->typed cast inversion — is
    value-hash-gated."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from airbyte_spark.sources.canal import decode_canal
    from airbyte_spark.sources.debezium import split_malformed

    payload = StructType(
        [
            StructField("doc_id", StringType(), True),
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
        ]
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    row = F.create_map(
        F.lit("doc_id"), F.format_string("doc%09d", F.col("event_id")),
        F.lit("user_id"), F.col("user_id").cast("string"),
        F.lit("event_type"), F.col("event_type"),
        F.lit("value"), F.col("value").cast("string"),
    )
    g = (
        ev.select(
            F.expr("event_id div 3").alias("gid"),
            (F.col("event_id") % 3).cast("int").alias("idx"),
            row.alias("row"),
            F.expr("unix_millis(cast(ts as timestamp))").alias("ms"),
        )
        .groupBy("gid")
        .agg(
            # comparator lambda: struct carries a map (not orderable), so
            # sort by the index field alone — array order IS binlog order
            F.expr(
                "array_sort(collect_list(struct(idx, row)),"
                " (l, r) -> l.idx - r.idx)"
            ).alias("rs"),
            F.min("ms").alias("es"),
        )
    )
    env = F.struct(
        F.col("gid").alias("id"),
        F.lit("app").alias("database"),
        F.lit("events").alias("table"),
        (F.col("gid") % 4 == 3).alias("isDdl"),
        F.element_at(
            F.array(
                F.lit("INSERT"), F.lit("UPDATE"), F.lit("DELETE"), F.lit("ALTER")
            ),
            (F.col("gid") % 4).cast("int") + 1,
        ).alias("type"),
        F.col("es").alias("es"),
        (F.col("es") + 500).alias("ts"),
        F.expr("transform(rs, x -> x.row)").alias("data"),
    )
    feed = g.select(F.to_json(env).alias("value"))
    good, _bad = split_malformed(decode_canal(feed, payload))
    return good.select(
        "op", "lsn", "ts_ms", "doc_id", "user_id", "event_type", "value"
    )


def q_tokens_vocab_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-migration remap (functions/remap.py): synthetic token
    arrays rewritten through a dense lookup table inside the Arrow UDF
    (ids <500 map to (7id)%1000, the rest are unmapped -> unk 1000), with
    per-row remapped/unk counts. The oracle recomputes the closed form
    with list_transform, so the whole Arrow buffer path — offsets reuse,
    flat-buffer np.take, reduceat row counts — is value-hash-gated
    (token arrays via md5(to_json) digests)."""
    from airbyte_spark.functions.remap import make_token_remapper, mapping_table

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    toks = F.expr(
        "transform(sequence(1, int(event_id % 5) + 1),"
        " x -> int((event_id * 3 + x * 11) % 1000))"
    )
    lut = mapping_table([(i, (i * 7) % 1000) for i in range(500)], size=1000)
    r = make_token_remapper(lut, unk_id=1000)(toks)
    return ev.withColumn("_r", r).select(
        F.format_string("doc%09d", F.col("event_id")).alias("doc_id"),
        F.md5(F.to_json(F.col("_r.tokens"))).alias("tok_digest"),
        F.col("_r.n_remapped").cast("long").alias("n_remapped"),
        F.col("_r.n_unk").cast("long").alias("n_unk"),
    )


def q_cdc_token_append_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-append update semantics (operators/append_fold.py): updates
    carry ONLY the appended token suffix; final tokens = the last full
    image (I) concatenated with every later append in LSN order, dead
    after an un-followed D, orphan appends dropped. The fold runs through
    the operator's mergeable-summary path (fold + apply against an empty
    store) and the oracle recomputes the closed form with an ordered
    flatten(list(...)) — token-array equality gated via md5(to_json)
    digests so array rendering differences cannot mask value drift. The
    cross-batch law is hypothesis-fuzzed in tests/test_append_fold.py."""
    from airbyte_spark.operators.append_fold import (
        apply_token_appends,
        fold_token_appends,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    r6 = F.col("event_id") % 6
    cl = ev.select(
        F.format_string("doc%09d", F.col("event_id") % 2000).alias("doc_id"),
        F.when(r6 == 0, "I").when(r6 == 5, "D").otherwise("U").alias("op"),
        F.col("event_id").alias("lsn"),
        (F.col("event_id") % 1000).alias("ts_ms"),
        F.when(r6 == 5, F.lit(None).cast("array<int>")).otherwise(
            F.expr(
                "transform(sequence(1, int(event_id % 4) + 1),"
                " x -> int((event_id + x) % 1000))"
            )
        ).alias("tokens"),
    )
    folded = fold_token_appends(cl)
    empty = spark.createDataFrame([], "doc_id string, tokens array<int>")
    final = apply_token_appends(empty, folded).filter(~F.col("_orphaned"))
    return final.select(
        "doc_id",
        F.md5(F.to_json("tokens")).alias("tok_digest"),
        F.col("n_tok").cast("long").alias("n_tok"),
    )


def q_cdc_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance law (operators/join_view.py),
    value-gated cross-engine: two CDC-maintained states (parents keyed by
    k, children 1:N under it, both LWW with deletes) bootstrap a
    materialized inner-join view at HALF the LSN range, then ONE
    touched-key delta cycle (join_view_delta: anti-join the touched keys
    out, recompute them from the full states) applies the second half.
    The oracle is the plain one-shot JOIN of the two final states — hash
    equality proves the delta rule, not just the arithmetic. The durable
    bucket-scoped commit path is pinned in tests/test_join_view.py."""
    from airbyte_spark.operators.join_view import join_view_delta

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    mx = ev.agg(F.max("event_id").alias("_m"))
    e = ev.crossJoin(F.broadcast(mx))
    ae = e.filter(F.col("event_id") % 2 == 0).select(
        (F.expr("event_id div 2") % 800).alias("k"),
        F.when(F.col("event_id") % 10 == 8, "D").otherwise("U").alias("op"),
        F.col("event_id").alias("lsn"),
        F.col("user_id").alias("a_user"),
        F.col("event_type").alias("a_type"),
        F.col("_m"),
    )
    be = e.filter(F.col("event_id") % 2 == 1).select(
        (F.expr("event_id div 2") % 2400).alias("b_id"),
        ((F.expr("event_id div 2") % 2400) % 800).alias("k"),
        F.when(F.col("event_id") % 11 == 7, "D").otherwise("U").alias("op"),
        F.col("event_id").alias("lsn"),
        F.col("user_id").alias("b_user"),
        F.floor(F.col("value") * 100).cast("long").alias("b_cents"),
        F.col("_m"),
    )

    def lww(df, key, payload):
        w = df.groupBy(key).agg(
            F.max_by(F.struct(*payload, "op"), F.col("lsn")).alias("_w")
        )
        return w.select(
            key, *[F.col(f"_w.{c}").alias(c) for c in payload]
        ).filter(F.col("_w.op") != "D")

    half = F.col("lsn") <= F.expr("_m div 2")
    a_half = lww(ae.filter(half), "k", ["a_user", "a_type"])
    a_full = lww(ae, "k", ["a_user", "a_type"])
    b_half = lww(be.filter(half), "b_id", ["k", "b_user", "b_cents"])
    b_full = lww(be, "b_id", ["k", "b_user", "b_cents"])

    out_cols = ["k", "a_user", "a_type", "b_id", "b_user", "b_cents"]
    view_half = a_half.join(b_half, "k", "inner").select(*out_cols)
    touched = (
        ae.filter(~half).select("k")
        .unionByName(be.filter(~half).select("k"))
        .distinct()
    )
    delta = join_view_delta(a_full, b_full, touched, on="k").select(*out_cols)
    return view_half.join(touched, "k", "left_anti").unionByName(delta)


def q_cdc_dms_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AWS DMS envelope decode (sources/dms.py): events rendered as DMS
    JSON — TYPED ``data`` payloads (no string casts, unlike canal), ISO
    microsecond ``metadata.timestamp`` as the only position source (LSN =
    commit_micros << 12), ``load``→I full-load rows, every 5th row a
    control record exercising the quarantine inside the gate — then
    flattened by ONE typed from_json + projection behind the project_once
    barrier. The oracle computes the closed form (including the
    micros→ms truncation and the <<12 packing) straight off the base
    table, value-hash-gating the ISO render→parse round trip."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from airbyte_spark.sources.debezium import split_malformed
    from airbyte_spark.sources.dms import decode_dms

    payload = StructType(
        [
            StructField("doc_id", StringType(), True),
            StructField("user_id", LongType(), True),
            StructField("event_type", StringType(), True),
            StructField("value", DoubleType(), True),
        ]
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    r = (F.col("event_id") % 5).cast("int")
    opname = F.element_at(
        F.array(
            F.lit("load"), F.lit("insert"), F.lit("update"),
            F.lit("delete"), F.lit("drop-table"),
        ),
        r + 1,
    )
    env = F.struct(
        F.struct(
            F.format_string("doc%09d", F.col("event_id")).alias("doc_id"),
            F.col("user_id"),
            F.col("event_type"),
            F.col("value"),
        ).alias("data"),
        F.struct(
            F.date_format(
                F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
            ).alias("timestamp"),
            F.when(r == 4, F.lit("control")).otherwise(F.lit("data")).alias(
                "record-type"
            ),
            opname.alias("operation"),
            F.lit("schema-table").alias("partition-key-type"),
            F.lit("app").alias("schema-name"),
            F.lit("events").alias("table-name"),
            F.expr("event_id div 5").alias("transaction-id"),
        ).alias("metadata"),
    )
    feed = ev.select(F.to_json(env).alias("value"))
    good, _bad = split_malformed(decode_dms(feed, payload))
    return good.select(
        "op", "lsn", "ts_ms", "txn_id", "doc_id", "user_id", "event_type",
        "value",
    )


def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff changelog classification — the pure-DataFrame core of
    LakeTable.read_changes (lake/table.py:682, the Iceberg changelog-scan /
    CDC-read analog): two LWW-resolved live states of the same key domain
    (the stream as of half the LSN range vs all of it), full-outer joined on
    the key, classified insert / update / delete with side selection BY
    CHANGE TYPE (a delete carries the before-image; an update whose new
    value is legitimately NULL must not leak the old value). The update test
    is null-safe per-column inequality — identical rows are suppressed.
    One exchange per state (partial-combined max_by) + the diff join; at
    lake scale read_changes bounds both sides to touched buckets, which this
    value-gate cannot see but tests/test_changelog_read.py pins."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    mx = ev.agg(F.max("event_id").alias("_m"))
    base = ev.crossJoin(F.broadcast(mx)).select(
        (F.col("event_id") % 2500).alias("doc_num"),
        F.when(F.col("event_id") % 5 == 4, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col("event_id").alias("lsn"),
        "user_id",
        "event_type",
        "value",
        "_m",
    )
    payload = ["op", "user_id", "event_type", "value"]

    def live_state(df):
        # LWW winner per key via max_by (map-side partial combine — the
        # same skew-proof aggregate the engine's dedup uses), then drop
        # keys whose latest event is a tombstone
        w = df.groupBy("doc_num").agg(
            F.max_by(F.struct(*payload), F.col("lsn")).alias("_w")
        )
        return w.select(
            "doc_num", *[F.col(f"_w.{c}").alias(c) for c in payload]
        ).filter(F.col("op") != "D")

    old = live_state(base.filter(F.col("lsn") <= F.expr("_m div 2"))).alias("o")
    new = live_state(base.filter(F.col("lsn") <= F.col("_m"))).alias("n")
    joined = old.join(new, F.col("o.doc_num") == F.col("n.doc_num"), "full_outer")
    differs = (
        ~F.col("o.user_id").eqNullSafe(F.col("n.user_id"))
        | ~F.col("o.event_type").eqNullSafe(F.col("n.event_type"))
        | ~F.col("o.value").eqNullSafe(F.col("n.value"))
    )
    change = (
        F.when(F.col("o.doc_num").isNull(), F.lit("insert"))
        .when(F.col("n.doc_num").isNull(), F.lit("delete"))
        .when(differs, F.lit("update"))
    )
    is_del = F.col("n.doc_num").isNull()
    pick = lambda c: F.when(is_del, F.col(f"o.{c}")).otherwise(F.col(f"n.{c}")).alias(c)
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            F.format_string(
                "doc%09d", F.coalesce(F.col("n.doc_num"), F.col("o.doc_num"))
            ).alias("doc_id"),
            F.col("change_type"),
            pick("user_id"),
            pick("event_type"),
            pick("value"),
        )
    )


def q_cdc_txn_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-completeness gate (sources/debezium.py
    split_complete_transactions, Debezium provide.transaction.metadata):
    events in 5-event transactions, a marker topic where every 7th
    transaction's END is missing and every 11th lies about its count —
    only transactions with a matching END and exact observed count pass.
    One window-bounded count aggregate per txn id joined to the END
    markers, verdict broadcast back onto the events; exact relational
    oracle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = F.expr("event_id div 5")
    events = ev.select(
        "event_id",
        "user_id",
        F.concat(F.lit("tx"), t.cast("string")).alias("_txn_id"),
        F.lit(0).cast("long").alias("_txn_order"),
    )
    counts = ev.groupBy(t.alias("_t")).agg(F.count("*").alias("_n"))
    markers = (
        counts.filter(F.col("_t") % 7 != 3)
        .select(
            F.lit("END").alias("status"),
            F.concat(F.lit("tx"), F.col("_t").cast("string")).alias("_txn_id"),
            (
                F.col("_n")
                + F.when(F.col("_t") % 11 == 5, F.lit(1)).otherwise(F.lit(0))
            ).alias("event_count"),
            F.lit(0).cast("long").alias("ts_ms"),
        )
    )
    from airbyte_spark.sources.debezium import split_complete_transactions

    complete, _pending = split_complete_transactions(events, markers)
    return complete.select(
        "event_id", F.col("_txn_id").alias("txn_id"), "user_id"
    )


def q_stats_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key skew diagnostics over the change stream: the top-20 busiest
    keys with event counts and integer basis-point share of total — the
    numbers that decide bucket sizing and AQE skew thresholds before a
    100 TB replay. ONE partial-combined count aggregate
    (a hot key ships <= 1 partial row per map task) + top-k via the dedup
    aggregate idiom on a single grand-total join; integer-exact oracle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    total = ev.agg(F.count("*").alias("_tot"))
    # orderBy+limit plans as TakeOrderedAndProject: per-partition partial
    # top-20 merged on the driver — at billions of distinct keys this never
    # sorts the counts table in one partition (a bare rank window would).
    top = counts.orderBy(F.col("n_events").desc(), F.col("user_id").asc()).limit(20)
    # rank the 20 survivors via pack-sort-posexplode (bounded single-row
    # aggregate) instead of a no-partition rank window: same result, no
    # WindowExec single-partition warning in operator logs
    ranked = (
        top.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("n_events")).alias("_neg"),
                        F.col("user_id").alias("user_id"),
                        F.col("n_events").alias("n_events"),
                    )
                )
            ).alias("_a")
        )
        .select(F.posexplode("_a").alias("_pos", "_s"))
        .select(
            (F.col("_pos") + 1).alias("rank"),
            F.col("_s.user_id").alias("user_id"),
            F.col("_s.n_events").alias("n_events"),
        )
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        "rank",
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.expr("CAST((n_events * 10000) DIV _tot AS BIGINT)").alias("share_bp"),
    )


def q_cdc_outbox_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional-outbox event routing (sources/outbox.py route_outbox,
    Debezium outbox event router semantics): events rendered as outbox rows
    (aggregatetype/aggregateid/type/payload-JSON), filtered to inserts,
    routed by aggregate type, payload typed through the vectorized
    schema_extract compiler with per-column error capture ('N/A' amounts
    flag, never fail). Returns the 'order' route; the oracle computes the
    route's closed form straight off the base table."""
    from airbyte_spark.sources.outbox import route_outbox

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg_type = F.element_at(
        F.array(F.lit("order"), F.lit("user"), F.lit("audit")),
        (F.col("event_id") % 3 + 1).cast("int"),
    )
    amount = F.when(F.col("event_id") % 7 == 0, F.lit("N/A")).otherwise(
        F.floor(F.col("value") * 100).cast("string")
    )
    payload = F.format_string(
        '{"amount": "%s", "day": "%s"}',
        amount,
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd"),
    )
    outbox = ev.select(
        F.lit("I").alias("op"),
        agg_type.alias("aggregatetype"),
        F.format_string("agg%07d", F.col("user_id")).alias("aggregateid"),
        F.col("event_type").alias("type"),
        payload.alias("payload"),
        F.col("event_id").cast("long").alias("lsn"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    routed = route_outbox(outbox, {"order": {"amount": "bigint", "day": "string"}})
    return routed["order"].select(
        "op", "doc_id", "lsn", "ts_ms", "event_type", "amount", "day", "_ab_errors"
    )


def q_stats_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (operators/profile.py): count / nulls / exact
    distinct / min / max for every profiled column in ONE job — a single
    multi-distinct aggregate (Spark's expand-based plan, one data pass) and
    a narrow explode to long format. The data-quality surface platforms run
    over synced tables; exact oracle on integer/string columns."""
    from airbyte_spark.operators.profile import profile

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return profile(ev, ["event_id", "user_id", "event_type"])


def q_corpus_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering (operators/ranking.py curriculum_order): exact
    global quality rank -> equal-population difficulty tiers -> deterministic
    within-tier shuffle -> global training position. Both ranks run the
    bucket-prefix-sum idiom (bucket counts + broadcast offsets + per-bucket
    local row_number) — no global-sort window anywhere; the oracle IS the
    naive global window, provably identical because each bucket is a
    monotone prefix of its order key."""
    from airbyte_spark.operators.ranking import curriculum_order

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select(
        "doc_id",
        F.expr("length(text) - length(replace(text, ' ', '')) + 1")
        .cast("long")
        .alias("quality"),
    )
    return curriculum_order(scored, quality_col="quality", id_col="doc_id")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full CDC pipeline (validate -> dedup -> apply) at sf0.001."""
    return q_cdc_apply_final(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_lww_dedup": q_cdc_lww_dedup,
        "cdc_lww_dedup_nullcursor": q_cdc_lww_dedup_nullcursor,
        "cdc_apply_final": q_cdc_apply_final,
        "cdc_validate_tokens": q_cdc_validate_tokens,
        "cdc_incremental_cursor": q_cdc_incremental_cursor,
        "cdc_metadata_injection": q_cdc_metadata_injection,
        "cdc_checkpoint_agg": q_cdc_checkpoint_agg,
        "cdc_tombstone_stats": q_cdc_tombstone_stats,
        "cdc_snapshot_then_tail": q_cdc_snapshot_then_tail,
        "cdc_asof_enrich": q_cdc_asof_enrich,
        "cdc_scd2_history": q_cdc_scd2_history,
        "cdc_unnest_tokens": q_cdc_unnest_tokens,
        "cdc_normalize_children": q_cdc_normalize_children,
        "dedup_exact_docs": q_dedup_exact_docs,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_components": q_dedup_components,
        "dedup_keep_best": q_dedup_keep_best,
        "dedup_drop_list": q_dedup_drop_list,
        "docs_repetition": q_docs_repetition,
        "docs_salient_terms": q_docs_salient_terms,
        "docs_dup_ngram_fraction": q_docs_dup_ngram_fraction,
        "docs_line_dedup": q_docs_line_dedup,
        "docs_contamination": q_docs_contamination,
        "docs_pii_scrub": q_docs_pii_scrub,
        "docs_word_bigrams": q_docs_word_bigrams,
        "docs_lm_rarity": q_docs_lm_rarity,
        "corpus_mix_sample": q_corpus_mix_sample,
        "corpus_rebalance": q_corpus_rebalance,
        "corpus_stratified_sample": q_corpus_stratified_sample,
        "corpus_token_budget": q_corpus_token_budget,
        "corpus_shuffle": q_corpus_shuffle,
        "dedup_token_spans": q_dedup_token_spans,
        "dedup_span_excision": q_dedup_span_excision,
        "dedup_incremental_flags": q_dedup_incremental_flags,
        "dedup_bloom_prefilter": q_dedup_bloom_prefilter,
        "stats_ndv_registers": q_stats_ndv_registers,
        "docs_quality_classifier": q_docs_quality_classifier,
        "docs_quality_percentiles": q_docs_quality_percentiles,
        "tokens_pack": q_tokens_pack,
        "tokens_pack_spans": q_tokens_pack_spans,
        "tokens_pack_incremental": q_tokens_pack_incremental,
        "docs_hash_split": q_docs_hash_split,
        "docs_chunk_windows": q_docs_chunk_windows,
        "tokens_histogram": q_tokens_histogram,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding_neardup": q_dedup_embedding_neardup,
        "dedup_semantic": q_dedup_semantic,
        "tokens_encode": q_tokens_encode,
        "tokens_decode": q_tokens_decode,
        "docs_adaptive_filter": q_docs_adaptive_filter,
        "knn_bruteforce": q_knn_bruteforce,
        "knn_lsh": q_knn_lsh,
        "knn_ivf": q_knn_ivf,
        "docs_fingerprint": q_docs_fingerprint,
        "docs_rolling_hash": q_docs_rolling_hash,
        "docs_bpe_token_count": q_docs_bpe_token_count,
        "docs_token_count": q_docs_token_count,
        "docs_quality": q_docs_quality,
        "lang_id": q_lang_id,
        "multimodal_blob_meta": q_multimodal_blob_meta,
        "events_hourly_rollup": q_events_hourly_rollup,
        "cdc_json_extract": q_cdc_json_extract,
        "cdc_debezium_decode": q_cdc_debezium_decode,
        "docs_vector_chunks": q_docs_vector_chunks,
        "cdc_schema_extract": q_cdc_schema_extract,
        "multimodal_frame_sample": q_multimodal_frame_sample,
        "declarative_transforms": q_declarative_transforms,
        "declarative_extract_path": q_declarative_extract_path,
        "substream_parent_child": q_substream_parent_child,
        "mapper_pii_fields": q_mapper_pii_fields,
        "events_sessionize": q_events_sessionize,
        "cdc_demux_streams": q_cdc_demux_streams,
        "docs_url_dedup": q_docs_url_dedup,
        "docs_unicode_clean": q_docs_unicode_clean,
        "docs_markdown_strip": q_docs_markdown_strip,
        "docs_embed_lanes": q_docs_embed_lanes,
        "cdc_patch_fold": q_cdc_patch_fold,
        "tokens_heavy_hitters": q_tokens_heavy_hitters,
        "cdc_mongo_decode": q_cdc_mongo_decode,
        "tokens_bpe_merges": q_tokens_bpe_merges,
        "cdc_wal2json_decode": q_cdc_wal2json_decode,
        "cdc_maxwell_decode": q_cdc_maxwell_decode,
        "cdc_canal_decode": q_cdc_canal_decode,
        "cdc_dms_decode": q_cdc_dms_decode,
        "cdc_join_view": q_cdc_join_view,
        "cdc_token_append_fold": q_cdc_token_append_fold,
        "tokens_vocab_remap": q_tokens_vocab_remap,
        "cdc_snapshot_diff": q_cdc_snapshot_diff,
        "cdc_txn_complete": q_cdc_txn_complete,
        "cdc_wal2json_txn_stats": q_cdc_wal2json_txn_stats,
        "corpus_curriculum": q_corpus_curriculum,
        "stats_column_profile": q_stats_column_profile,
        "cdc_outbox_route": q_cdc_outbox_route,
        "stats_key_skew": q_stats_key_skew,
    }


_CH = ORACLE_CHANGELOG_CTE  # derived-changelog SELECT (DuckDB dialect)


def _hh_oracle() -> str:
    from airbyte_spark.operators.heavy_hitters import heavy_hitters_oracle_sql

    return heavy_hitters_oracle_sql("documents", _HH_K)

# ---- DuckDB-dialect fragments from the same templates the Spark side uses
# (airbyte_spark/plans/textsql.py) — one source of truth per operator.

_D = X.DUCKDB
_DOC_SH = X.shingles_sql(_D, "text")
_DOC_MH = X.minhash_sql(_D, "sh", 16)
_DOC_BK = X.band_key_sql(_D, "mh", "b", 2)
_BPE_PAT = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

# dup-injected documents / embeddings (mirrors _dup_docs / _dup_embeddings)
_DUP_DOCS = """
dup_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || ' zz yy xx ww' AS text
  FROM documents WHERE doc_id % 10 = 5
)
"""

_DUP_EMB = """
dup_emb AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0
  UNION ALL
  SELECT vec_id + 2000000 AS vec_id,
         list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.5 AS FLOAT)) AS embedding
  FROM embeddings WHERE vec_id % 20 = 10
)
"""

_LSH_CTES = f"""
{_DUP_DOCS},
w AS (SELECT doc_id, {_DOC_SH} AS sh FROM dup_docs),
nz AS (SELECT doc_id, sh FROM w WHERE len(sh) > 0),
sig AS (SELECT doc_id, {_DOC_MH} AS mh FROM nz),
bands AS (
  SELECT doc_id, CAST(uu.band AS INT) AS band, uu.band_key AS band_key FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, 8), b -> {{'band': b, 'band_key': {_DOC_BK}}})) AS uu
    FROM sig))
"""

_EMB_CTES = f"""
q AS (SELECT vec_id, {X.quantize_sql(_D, "embedding")} AS e FROM embeddings),
qq AS (SELECT vec_id, e, {X.signbit_bucket_sql(_D, "e", 8)} AS bkt,
              {X.norm2_sql(_D, "e", 64)} AS n2 FROM q)
"""

_WINNERS = f"""
WITH ch AS ({_CH}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC, ts_ms DESC) AS rn
  FROM ch
)
"""


def _url_dedup_oracle() -> str:
    from airbyte_spark.operators.urls import canonicalize_sql, domain_sql

    url_expr = (
        "(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END || '://' || "
        "CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END || source || "
        "'.Example.COM' || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END || "
        "'/p/' || (doc_id % 200) || '?b=2&utm_source=rss&a=' || "
        "(doc_id % 200 % 7) || "
        "CASE WHEN doc_id % 2 = 1 THEN '#sec' || (doc_id % 4) ELSE '' END)"
    )
    return f"""
WITH u AS (SELECT doc_id, {url_expr} AS url FROM documents),
c AS (SELECT doc_id, {canonicalize_sql('url')} AS url_canonical FROM u),
k AS (SELECT url_canonical, min(doc_id) AS keeper FROM c GROUP BY 1)
SELECT c.doc_id, c.url_canonical, {domain_sql('c.url_canonical')} AS domain,
       CAST(CASE WHEN c.doc_id = k.keeper THEN 1 ELSE 0 END AS INT) AS keep
FROM c JOIN k USING (url_canonical)
"""


def _unicode_clean_oracle() -> str:
    from airbyte_spark.functions.textnorm import clean_sql

    # text || '  Cafe' + COMBINING ACUTE (U+0301=769) || tab BEL 'end  '
    dirty = "(text || '  Cafe' || chr(769) || chr(9) || chr(7) || 'end  ')"
    return f"""
SELECT doc_id,
       md5({clean_sql(dirty)}) AS clean_md5,
       CAST(length({clean_sql(dirty)}) AS BIGINT) AS clean_len
FROM documents
"""


def _markdown_strip_oracle() -> str:
    from airbyte_spark.functions.markdown import strip_markdown_sql

    def _lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    # real newlines embed legally in a regular SQL literal
    md = f"('# Doc ' || doc_id || {_lit(_MD_PRE)} || doc_id || {_lit(_MD_POST)} || text)"
    stripped = strip_markdown_sql(md)
    return f"""
SELECT doc_id,
       md5({stripped}) AS strip_md5,
       CAST(length({stripped}) AS BIGINT) AS strip_len
FROM documents
"""


def _embed_lanes_oracle() -> str:
    from airbyte_spark.operators.embedder import embed_lanes_oracle_sql

    return embed_lanes_oracle_sql(dimensions=8)


def oracle_sql() -> dict[str, str]:
    return {
        "cdc_lww_dedup": _WINNERS
        + """
SELECT doc_id, op, lsn, ts_ms, source_partition, event_type, n_tok, payload_hash
FROM ranked WHERE rn = 1
""",
        "cdc_apply_final": _WINNERS
        + """
SELECT doc_id, lsn, ts_ms, event_type,
       CAST(len(tokens) AS BIGINT) AS n_tok,
       CAST(list_sum(tokens) AS BIGINT) AS tokens_sum,
       md5(doc_id || ':' || lsn || ':' || ts_ms) AS raw_id,
       CAST(CASE WHEN n_tok != len(tokens) THEN 1 ELSE 0 END AS BIGINT) AS n_errors
FROM ranked WHERE rn = 1 AND op != 'D'
""",
        "cdc_lww_dedup_nullcursor": f"""
WITH ch AS ({_CH}),
cc AS (SELECT *, CASE WHEN lsn % 7 = 0 THEN NULL ELSE ts_ms END AS cur FROM ch),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY cur DESC NULLS LAST, lsn DESC) AS rn
  FROM cc)
SELECT doc_id, cur, lsn, op, CAST(n_tok AS BIGINT) AS n_tok
FROM ranked WHERE rn = 1
""",
        "cdc_validate_tokens": f"""
WITH ch AS ({_CH})
SELECT doc_id, lsn,
       n_tok AS n_tok_raw,
       CAST(len(tokens) AS BIGINT) AS n_tok_fixed,
       CAST(CASE WHEN n_tok != len(tokens) THEN 1 ELSE 0 END AS INT) AS had_mismatch
FROM ch WHERE op != 'D'
""",
        "cdc_incremental_cursor": f"""
WITH ch AS ({_CH})
SELECT doc_id, op, lsn, ts_ms, source_partition, event_type, n_tok, payload_hash
FROM ch WHERE lsn > 3000 AND lsn <= 6000
""",
        "cdc_metadata_injection": f"""
WITH ch AS ({_CH})
SELECT doc_id, lsn,
       md5(doc_id || ':' || lsn || ':' || ts_ms) AS raw_id,
       CASE WHEN op = 'D' THEN ts_ms END AS deleted_at_ms,
       ts_ms AS extracted_at_ms
FROM ch
""",
        "cdc_checkpoint_agg": f"""
WITH ch AS ({_CH})
SELECT source_partition, max(lsn) AS last_lsn, count(*) AS events,
       count(DISTINCT doc_id) AS distinct_docs
FROM ch GROUP BY source_partition
""",
        "cdc_patch_fold": f"""
WITH ch AS ({_CH}),
p AS (
  SELECT op, doc_id, lsn,
    CASE WHEN op='U' AND {_PM_GROUP} = 1 THEN NULL ELSE n_tok END AS n_tok,
    CASE WHEN op='U' AND ({_PM_GROUP} = 0
                          OR ({_PM_GROUP} <> 0 AND {_PM_ETNULL}))
         THEN NULL ELSE event_type END AS event_type,
    CASE WHEN op='U' AND {_PM_PH} THEN NULL ELSE payload_hash END AS payload_hash,
    (op='U' AND {_PM_GROUP} <> 0 AND {_PM_ETNULL}) AS etn
  FROM ch),
e AS (
  SELECT *, SUM(CASE WHEN op IN ('I','D') THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY lsn
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS epoch
  FROM p),
f AS (
  SELECT * FROM (SELECT *, MAX(epoch) OVER (PARTITION BY doc_id) AS maxe FROM e)
  WHERE epoch = maxe),
pres AS (
  SELECT *,
    (op='I') OR (op='U' AND n_tok IS NOT NULL) AS pr_nt,
    (op='I') OR (op='U' AND (event_type IS NOT NULL OR etn)) AS pr_et,
    (op='I') OR (op='U' AND payload_hash IS NOT NULL) AS pr_ph
  FROM f),
w AS (
  SELECT *,
    MIN(lsn) OVER (PARTITION BY doc_id) AS head_lsn,
    MAX(CASE WHEN pr_nt THEN lsn END) OVER (PARTITION BY doc_id) AS wl_nt,
    MAX(CASE WHEN pr_et THEN lsn END) OVER (PARTITION BY doc_id) AS wl_et,
    MAX(CASE WHEN pr_ph THEN lsn END) OVER (PARTITION BY doc_id) AS wl_ph
  FROM pres)
SELECT doc_id,
  MAX(CASE WHEN lsn = head_lsn THEN op END) AS op,
  CAST(MAX(lsn) AS BIGINT) AS lsn,
  CAST(MAX(CASE WHEN lsn = wl_nt THEN n_tok END) AS BIGINT) AS n_tok,
  MAX(CASE WHEN lsn = wl_et THEN event_type END) AS event_type,
  CAST(MAX(CASE WHEN lsn = wl_ph THEN payload_hash END) AS BIGINT) AS payload_hash,
  CAST(MAX(CASE WHEN pr_nt THEN 1 ELSE 0 END) AS INT) AS touched_n_tok,
  CAST(MAX(CASE WHEN pr_et THEN 1 ELSE 0 END) AS INT) AS touched_event_type,
  CAST(MAX(CASE WHEN pr_ph THEN 1 ELSE 0 END) AS INT) AS touched_payload_hash
FROM w GROUP BY doc_id
""",
        "tokens_heavy_hitters": _hh_oracle(),
        "cdc_mongo_decode": """
SELECT CASE WHEN event_id % 5 IN (0, 1) THEN 'I'
            WHEN event_id % 5 = 2 THEN 'U'
            WHEN event_id % 5 = 3 THEN
                 CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END
            ELSE 'D' END AS op,
       printf('%012x', event_id) AS id,
       CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) * 4294967296
           + event_id % 1000 AS lsn,
       epoch_ms(ts) AS ts_ms,
       CASE WHEN event_id % 5 IN (0, 1, 2)
             OR (event_id % 5 = 3 AND event_id % 7 <> 0)
            THEN user_id END AS user_id,
       CASE WHEN event_id % 5 IN (0, 1, 2) THEN event_type END AS event_type,
       CASE WHEN event_id % 5 IN (0, 1, 2)
             OR (event_id % 5 = 3 AND event_id % 7 <> 0)
            THEN value END AS value,
       CASE WHEN event_id % 5 = 3 AND event_id % 7 <> 0 THEN
                 CASE WHEN event_id % 2 = 0 THEN 'event_type' ELSE '' END
            WHEN event_id % 5 IN (0, 1, 2) THEN ''
            ELSE NULL END AS null_fields
FROM events
""",
        "cdc_wal2json_decode": """
WITH g AS (
  SELECT event_id, user_id, event_type, value,
         CAST(floor(event_id / 3.0) AS BIGINT) AS txn,
         ROW_NUMBER() OVER (
           PARTITION BY CAST(floor(event_id / 3.0) AS BIGINT)
           ORDER BY event_id) - 1 AS seq,
         MAX(ts) OVER (
           PARTITION BY CAST(floor(event_id / 3.0) AS BIGINT)) AS commit_ts
  FROM events)
SELECT CASE event_id % 4 WHEN 1 THEN 'U' WHEN 2 THEN 'D' ELSE 'I' END AS op,
       (5000000000 + txn * 97) * 65536 + seq AS lsn,
       txn AS xid,
       CAST(seq AS INT) AS txn_seq,
       epoch_ms(commit_ts) AS ts_ms,
       printf('doc%09d', event_id) AS doc_id,
       CASE WHEN event_id % 4 = 2 THEN NULL ELSE user_id END AS user_id,
       CASE WHEN event_id % 4 = 2 THEN NULL ELSE event_type END AS event_type,
       CASE WHEN event_id % 4 = 2 THEN NULL ELSE value END AS value
FROM g
""",
        "cdc_maxwell_decode": """
SELECT CASE event_id % 4 WHEN 0 THEN 'I' WHEN 1 THEN 'U' ELSE 'D' END AS op,
       CAST((event_id // 4) * 65536 + (event_id % 4) AS BIGINT) AS lsn,
       CAST((epoch_ms(ts) // 1000) * 1000 AS BIGINT) AS ts_ms,
       printf('doc%09d', event_id) AS doc_id,
       user_id, event_type, value
FROM events
WHERE event_id % 4 <> 3
""",
        "cdc_canal_decode": """
WITH g AS (
  SELECT event_id // 3 AS gid, MIN(epoch_ms(ts)) AS es
  FROM events GROUP BY 1)
SELECT CASE (e.event_id // 3) % 4
         WHEN 0 THEN 'I' WHEN 1 THEN 'U' ELSE 'D' END AS op,
       CAST((e.event_id // 3) * 65536 + (e.event_id % 3) AS BIGINT) AS lsn,
       CAST(g.es AS BIGINT) AS ts_ms,
       printf('doc%09d', e.event_id) AS doc_id,
       e.user_id, e.event_type, e.value
FROM events e JOIN g ON e.event_id // 3 = g.gid
WHERE (e.event_id // 3) % 4 <> 3
""",
        "tokens_vocab_remap": """
WITH e AS (
  SELECT event_id,
         list_transform(range(1, (CAST(event_id AS INT) % 5) + 2),
                        x -> CAST((event_id * 3 + x * 11) % 1000 AS INT))
           AS toks
  FROM events)
SELECT printf('doc%09d', event_id) AS doc_id,
       md5(CAST(to_json(list_transform(toks,
           x -> CAST(CASE WHEN x < 500 THEN (x * 7) % 1000
                          ELSE 1000 END AS INT))) AS VARCHAR)) AS tok_digest,
       CAST(len(list_filter(toks,
           x -> x < 500 AND (x * 7) % 1000 <> x)) AS BIGINT) AS n_remapped,
       CAST(len(list_filter(toks, x -> x >= 500)) AS BIGINT) AS n_unk
FROM e
""",
        "cdc_token_append_fold": """
WITH e AS (
  SELECT event_id % 2000 AS doc_num,
         CASE WHEN event_id % 6 = 0 THEN 'I'
              WHEN event_id % 6 = 5 THEN 'D' ELSE 'U' END AS op,
         event_id AS lsn,
         list_transform(range(1, (CAST(event_id AS INT) % 4) + 2),
                        x -> CAST((event_id + x) % 1000 AS INT)) AS toks
  FROM events),
li AS (SELECT doc_num, MAX(lsn) AS last_i FROM e WHERE op = 'I'
       GROUP BY doc_num),
alive AS (
  SELECT li.doc_num, li.last_i FROM li
  WHERE NOT EXISTS (SELECT 1 FROM e
                    WHERE e.doc_num = li.doc_num AND e.op = 'D'
                      AND e.lsn > li.last_i)),
seqs AS (
  SELECT a.doc_num, flatten(list(e.toks ORDER BY e.lsn)) AS toks
  FROM alive a JOIN e ON e.doc_num = a.doc_num AND e.lsn >= a.last_i
                     AND e.op IN ('I', 'U')
  GROUP BY a.doc_num)
SELECT printf('doc%09d', doc_num) AS doc_id,
       md5(CAST(to_json(toks) AS VARCHAR)) AS tok_digest,
       CAST(len(toks) AS BIGINT) AS n_tok
FROM seqs
""",
        "cdc_join_view": """
WITH ae AS (
  SELECT (event_id // 2) % 800 AS k,
         CASE WHEN event_id % 10 = 8 THEN 'D' ELSE 'U' END AS op,
         event_id AS lsn, user_id AS a_user, event_type AS a_type
  FROM events WHERE event_id % 2 = 0),
a_w AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY lsn DESC) AS rn
        FROM ae),
a_full AS (SELECT k, a_user, a_type FROM a_w WHERE rn = 1 AND op <> 'D'),
be AS (
  SELECT (event_id // 2) % 2400 AS b_id,
         ((event_id // 2) % 2400) % 800 AS k,
         CASE WHEN event_id % 11 = 7 THEN 'D' ELSE 'U' END AS op,
         event_id AS lsn, user_id AS b_user,
         CAST(FLOOR(value * 100) AS BIGINT) AS b_cents
  FROM events WHERE event_id % 2 = 1),
b_w AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY lsn DESC) AS rn
        FROM be),
b_full AS (SELECT b_id, k, b_user, b_cents FROM b_w WHERE rn = 1 AND op <> 'D')
SELECT a.k, a.a_user, a.a_type, b.b_id, b.b_user, b.b_cents
FROM a_full a JOIN b_full b ON a.k = b.k
""",
        "cdc_dms_decode": """
SELECT CASE event_id % 5 WHEN 2 THEN 'U' WHEN 3 THEN 'D' ELSE 'I' END AS op,
       CAST(epoch_us(ts) * 4096 AS BIGINT) AS lsn,
       CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
       CAST(event_id // 5 AS BIGINT) AS txn_id,
       printf('doc%09d', event_id) AS doc_id,
       user_id, event_type, value
FROM events
WHERE event_id % 5 <> 4
""",
        "cdc_snapshot_diff": """
WITH b AS (
  SELECT event_id % 2500 AS doc_num,
         CASE WHEN event_id % 5 = 4 THEN 'D' ELSE 'U' END AS op,
         event_id AS lsn, user_id, event_type, value
  FROM events),
mx AS (SELECT MAX(event_id) AS m FROM events),
old_w AS (
  SELECT doc_num, op, user_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY doc_num ORDER BY lsn DESC) AS rn
  FROM b, mx WHERE lsn <= m // 2),
old_live AS (SELECT * FROM old_w WHERE rn = 1 AND op <> 'D'),
new_w AS (
  SELECT doc_num, op, user_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY doc_num ORDER BY lsn DESC) AS rn
  FROM b, mx WHERE lsn <= m),
new_live AS (SELECT * FROM new_w WHERE rn = 1 AND op <> 'D'),
diff AS (
  SELECT printf('doc%09d', COALESCE(n.doc_num, o.doc_num)) AS doc_id,
         CASE WHEN o.doc_num IS NULL THEN 'insert'
              WHEN n.doc_num IS NULL THEN 'delete'
              WHEN (o.user_id IS DISTINCT FROM n.user_id
                    OR o.event_type IS DISTINCT FROM n.event_type
                    OR o.value IS DISTINCT FROM n.value) THEN 'update'
         END AS change_type,
         CASE WHEN n.doc_num IS NULL THEN o.user_id ELSE n.user_id END AS user_id,
         CASE WHEN n.doc_num IS NULL THEN o.event_type ELSE n.event_type END
           AS event_type,
         CASE WHEN n.doc_num IS NULL THEN o.value ELSE n.value END AS value
  FROM old_live o FULL OUTER JOIN new_live n ON o.doc_num = n.doc_num)
SELECT * FROM diff WHERE change_type IS NOT NULL
""",
        "cdc_txn_complete": """
WITH e AS (SELECT event_id, user_id, event_id // 5 AS t FROM events),
c AS (SELECT t, COUNT(*) AS n FROM e GROUP BY t),
m AS (SELECT t, n + CASE WHEN t % 11 = 5 THEN 1 ELSE 0 END AS event_count
      FROM c WHERE t % 7 <> 3),
ok AS (SELECT c.t FROM c JOIN m ON c.t = m.t AND c.n = m.event_count)
SELECT e.event_id, 'tx' || CAST(e.t AS VARCHAR) AS txn_id, e.user_id
FROM e JOIN ok ON e.t = ok.t
""",
        "cdc_wal2json_txn_stats": """
WITH g AS (
  SELECT event_id,
         CAST(floor(event_id / 3.0) AS BIGINT) AS txn,
         ROW_NUMBER() OVER (
           PARTITION BY CAST(floor(event_id / 3.0) AS BIGINT)
           ORDER BY event_id) - 1 AS seq
  FROM events),
d AS (
  SELECT txn AS xid,
         CASE event_id % 4 WHEN 1 THEN 'U' WHEN 2 THEN 'D' ELSE 'I' END AS op,
         (5000000000 + txn * 97) * 65536 + seq AS lsn
  FROM g)
SELECT xid, count(*) AS n_changes,
       CAST(sum(CASE WHEN op = 'I' THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
       CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
       CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_delete,
       min(lsn) AS first_lsn, max(lsn) AS last_lsn
FROM d GROUP BY xid
""",
        "stats_key_skew": """
WITH c AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id),
t AS (SELECT sum(n_events) AS tot FROM c),
r AS (SELECT user_id, n_events,
             ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id) AS rank
      FROM c)
SELECT rank, user_id, CAST(n_events AS BIGINT) AS n_events,
       CAST((n_events * 10000) // tot AS BIGINT) AS share_bp
FROM r, t WHERE rank <= 20
""",
        "cdc_outbox_route": """
SELECT 'I' AS op,
       printf('agg%07d', user_id) AS doc_id,
       CAST(event_id AS BIGINT) AS lsn,
       epoch_ms(ts) AS ts_ms,
       event_type,
       CASE WHEN event_id % 7 = 0 THEN NULL
            ELSE CAST(floor(value * 100) AS BIGINT) END AS amount,
       strftime(ts, '%Y-%m-%d') AS day,
       CASE WHEN event_id % 7 = 0 THEN 'amount' ELSE '' END AS _ab_errors
FROM events WHERE event_id % 3 = 0
""",
        "stats_column_profile": _profile_oracle_sql(
            "events", ["event_id", "user_id", "event_type"]
        ),
        "corpus_curriculum": _ranking.curriculum_oracle_sql(
            "SELECT doc_id, text FROM documents",
            "length(text) - length(replace(text, ' ', '')) + 1",
        ),
        "cdc_tombstone_stats": _WINNERS
        + """
SELECT op, count(*) AS n FROM ranked WHERE rn = 1 GROUP BY op
""",
        "dedup_exact_docs": f"""
WITH {_DUP_DOCS}
SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM dup_docs GROUP BY md5(text)
""",
        "docs_fingerprint": """
SELECT md5(substr(text, 1, 80)) AS fingerprint,
       min(doc_id) AS keep_doc_id, count(*) AS group_size
FROM documents GROUP BY 1
""",
        "docs_token_count": """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_actual,
       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words
FROM documents
""",
        "dedup_bloom_prefilter": f"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
probe AS (
  SELECT p.doc_id,
         CASE WHEN p.doc_id % 10 = 0 AND c.text IS NOT NULL
              THEN c.text ELSE p.text END AS text
  FROM documents p LEFT JOIN corpus c ON c.doc_id = p.doc_id + 1
  WHERE p.doc_id % 5 = 0),
bits AS (
  SELECT DISTINCT pos FROM (
    SELECT unnest([{", ".join(X.bloom_pos_sql(_D, "text", i, 65536) for i in range(4))}]) AS pos
    FROM corpus)),
dig AS (SELECT DISTINCT md5(text) AS dg FROM corpus),
hashed AS (
  SELECT doc_id, text,
         {", ".join(f'{X.bloom_pos_sql(_D, "text", i, 65536)} AS h{i}' for i in range(4))}
  FROM probe)
SELECT doc_id,
       CAST({" AND ".join(f"h{i} IN (SELECT pos FROM bits)" for i in range(4))} AS INT)
         AS maybe_seen,
       CAST(md5(text) IN (SELECT dg FROM dig) AS INT) AS seen
FROM hashed
""",
        "stats_ndv_registers": f"""
SELECT CAST({X.hll_parts_sql(_D, "text", 6)[0]} AS INT) AS register,
       CAST(max({X.hll_parts_sql(_D, "text", 6)[1]}) AS INT) AS rho_max
FROM documents GROUP BY 1
""",
        "docs_quality_percentiles": """
WITH scored AS (
  SELECT lang,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS score
  FROM documents),
counts AS (SELECT lang, score, count(*) AS cnt FROM scored GROUP BY 1, 2),
cum AS (
  SELECT lang, score,
         sum(cnt) OVER (PARTITION BY lang ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum
  FROM counts),
tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n_rows FROM counts GROUP BY 1),
fan AS (
  SELECT c.lang, c.score, c.cum, t.n_rows, p.pct
  FROM cum c JOIN tot t USING (lang), (SELECT unnest([10, 50, 90, 99]) AS pct) p)
SELECT lang, CAST(pct AS INT) AS pct, n_rows, CAST(min(score) AS BIGINT) AS cutoff
FROM fan WHERE cum >= (pct * n_rows + 99) // 100
GROUP BY lang, pct, n_rows
""",
        "docs_quality": """
SELECT doc_id, lang,
       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_words,
       CAST(floor(((length(text) - (length(text) - length(replace(text, ' ', '')))) * 100.0)
            / (length(text) - length(replace(text, ' ', '')) + 1)) AS BIGINT) AS avg_word_len_x100,
       CAST(CASE WHEN length(text) >= 200 THEN 1 ELSE 0 END AS INT) AS is_long
FROM documents
""",
        "cdc_snapshot_then_tail": f"""
WITH ch AS ({_CH}),
snap AS (
  SELECT 'I' AS op,
         printf('doc%09d', uid) AS doc_id,
         CAST(0 AS BIGINT) AS lsn,
         CAST(0 AS BIGINT) AS ts_ms,
         CAST(uid % 4 AS BIGINT) AS source_partition,
         'snapshot' AS event_type,
         CAST(uid % 64 + 1 AS BIGINT) AS n_tok,
         CAST(0 AS BIGINT) AS payload_hash
  FROM (SELECT DISTINCT CAST(user_id AS BIGINT) AS uid FROM events)),
combined AS (
  SELECT op, doc_id, lsn, ts_ms, source_partition, event_type, n_tok, payload_hash
  FROM snap
  UNION ALL
  SELECT op, doc_id, lsn, ts_ms, source_partition, event_type, n_tok, payload_hash
  FROM ch),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC, ts_ms DESC) AS rn
  FROM combined)
SELECT doc_id, op, lsn, ts_ms, source_partition, event_type, n_tok, payload_hash
FROM ranked WHERE rn = 1
""",
        "cdc_scd2_history": f"""
WITH ch AS ({_CH})
SELECT doc_id, lsn, op, ts_ms AS valid_from_ms,
       lead(ts_ms) OVER (PARTITION BY doc_id ORDER BY lsn ASC) AS valid_to_ms,
       CAST(CASE WHEN row_number() OVER (PARTITION BY doc_id ORDER BY lsn DESC) = 1
                  AND op != 'D' THEN 1 ELSE 0 END AS INT) AS is_active
FROM ch
""",
        "cdc_unnest_tokens": f"""
WITH ch AS ({_CH}),
f AS (SELECT doc_id, lsn, tokens FROM ch WHERE op != 'D' AND lsn <= 2000),
u AS (SELECT doc_id, lsn,
             unnest(list_transform(range(0, len(tokens)),
                                   i -> {{'p': i, 't': tokens[i+1]}})) AS uu
      FROM f)
SELECT doc_id, lsn, CAST(uu.p AS INT) AS pos, CAST(uu.t AS INT) AS token FROM u
""",
        "cdc_normalize_children": f"""
WITH ch AS ({_CH}),
f AS (SELECT doc_id, lsn, tokens FROM ch WHERE op != 'D' AND lsn <= 2000),
p AS (SELECT md5(doc_id || '-' || CAST(lsn AS VARCHAR)) AS _ab_parent_hashid,
             doc_id, lsn, tokens FROM f),
u AS (SELECT _ab_parent_hashid, doc_id, lsn,
             unnest(list_transform(range(0, len(tokens)),
                                   i -> {{'p': i, 't': tokens[i+1]}})) AS uu
      FROM p)
SELECT _ab_parent_hashid, doc_id, lsn,
       CAST(uu.p AS INT) AS pos, CAST(uu.t AS INT) AS token,
       md5(_ab_parent_hashid || '-' || CAST(uu.p AS VARCHAR)) AS _ab_child_hashid
FROM u
""",
        "dedup_minhash_lsh": f"""
WITH {_LSH_CTES}
SELECT band, band_key, count(*) AS group_size, min(doc_id) AS keep_doc_id
FROM bands GROUP BY band, band_key HAVING count(*) >= 2
""",
        "dedup_ngram_jaccard": f"""
WITH {_LSH_CTES},
dsh AS (SELECT doc_id, list_distinct(sh) AS sh FROM nz),
okb AS (SELECT band, band_key FROM bands GROUP BY band, band_key
        HAVING count(*) <= 64),
bandsf AS (SELECT bands.doc_id, bands.band, bands.band_key
           FROM bands JOIN okb USING (band, band_key)),
cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         FROM bandsf x JOIN bandsf y
           ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
j AS (SELECT a_id, b_id,
             CAST(len(list_filter(a.sh, t -> list_contains(b.sh, t))) AS BIGINT) AS inter,
             CAST(len(a.sh) + len(b.sh) AS BIGINT) AS both_n
      FROM cand JOIN dsh a ON cand.a_id = a.doc_id JOIN dsh b ON cand.b_id = b.doc_id)
SELECT a_id, b_id, inter, (both_n - inter) AS uni
FROM j WHERE 100 * inter >= 50 * uni
""",
        "dedup_incremental_flags": f"""
WITH {_LSH_CTES},
dsh AS (SELECT doc_id, list_distinct(sh) AS sh FROM nz),
okb AS (SELECT band, band_key FROM bands GROUP BY band, band_key
        HAVING count(*) <= 64),
bandsf AS (SELECT bands.doc_id, bands.band, bands.band_key
           FROM bands JOIN okb USING (band, band_key)),
cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         FROM bandsf x JOIN bandsf y
           ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
j AS (SELECT a_id, b_id,
             CAST(len(list_filter(a.sh, t -> list_contains(b.sh, t))) AS BIGINT) AS inter,
             CAST(len(a.sh) + len(b.sh) AS BIGINT) AS both_n
      FROM cand JOIN dsh a ON cand.a_id = a.doc_id JOIN dsh b ON cand.b_id = b.doc_id),
pairs AS (SELECT a_id, b_id, inter, (both_n - inter) AS uni
          FROM j WHERE 100 * inter >= 50 * uni)
SELECT b_id AS doc_id, CAST(MIN(a_id) AS BIGINT) AS dup_of,
       CAST(COUNT(*) AS BIGINT) AS n_witnesses
FROM pairs GROUP BY b_id
""",
        "dedup_components": f"""
WITH RECURSIVE {_LSH_CTES},
dsh AS (SELECT doc_id, list_distinct(sh) AS sh FROM nz),
okb AS (SELECT band, band_key FROM bands GROUP BY band, band_key
        HAVING count(*) <= 64),
bandsf AS (SELECT bands.doc_id, bands.band, bands.band_key
           FROM bands JOIN okb USING (band, band_key)),
cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         FROM bandsf x JOIN bandsf y
           ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
j AS (SELECT a_id, b_id,
             CAST(len(list_filter(a.sh, t -> list_contains(b.sh, t))) AS BIGINT) AS inter,
             CAST(len(a.sh) + len(b.sh) AS BIGINT) AS both_n
      FROM cand JOIN dsh a ON cand.a_id = a.doc_id JOIN dsh b ON cand.b_id = b.doc_id),
pairs AS (SELECT a_id, b_id FROM j WHERE 100 * inter >= 50 * (both_n - inter)),
e AS (SELECT a_id AS src, b_id AS dst FROM pairs
      UNION SELECT b_id, a_id FROM pairs),
r(src, dst) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM e)
  UNION
  SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src),
labels AS (SELECT src AS doc_id, min(dst) AS component_id FROM r GROUP BY src)
SELECT component_id, count(*) AS group_size, min(doc_id) AS keep_doc_id
FROM labels GROUP BY component_id
""",
        "dedup_keep_best": f"""
WITH RECURSIVE {_LSH_CTES},
dsh AS (SELECT doc_id, list_distinct(sh) AS sh FROM nz),
okb AS (SELECT band, band_key FROM bands GROUP BY band, band_key
        HAVING count(*) <= 64),
bandsf AS (SELECT bands.doc_id, bands.band, bands.band_key
           FROM bands JOIN okb USING (band, band_key)),
cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         FROM bandsf x JOIN bandsf y
           ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
j AS (SELECT a_id, b_id,
             CAST(len(list_filter(a.sh, t -> list_contains(b.sh, t))) AS BIGINT) AS inter,
             CAST(len(a.sh) + len(b.sh) AS BIGINT) AS both_n
      FROM cand JOIN dsh a ON cand.a_id = a.doc_id JOIN dsh b ON cand.b_id = b.doc_id),
pairs AS (SELECT a_id, b_id FROM j WHERE 100 * inter >= 50 * (both_n - inter)),
e AS (SELECT a_id AS src, b_id AS dst FROM pairs
      UNION SELECT b_id, a_id FROM pairs),
r(src, dst) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM e)
  UNION
  SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src),
labels AS (SELECT src AS doc_id, min(dst) AS component_id FROM r GROUP BY src),
pri AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS priority FROM dup_docs),
lp AS (SELECT l.doc_id, l.component_id, p.priority
       FROM labels l JOIN pri p USING (doc_id)),
rk AS (SELECT *, row_number() OVER (PARTITION BY component_id
                                    ORDER BY priority DESC, doc_id ASC) AS rn
       FROM lp)
SELECT component_id,
       count(*) AS group_size,
       min(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
       CAST(min(CASE WHEN rn = 1 THEN priority END) AS BIGINT) AS keep_priority
FROM rk GROUP BY component_id
""",
        "dedup_drop_list": f"""
WITH RECURSIVE {_LSH_CTES},
dsh AS (SELECT doc_id, list_distinct(sh) AS sh FROM nz),
okb AS (SELECT band, band_key FROM bands GROUP BY band, band_key
        HAVING count(*) <= 64),
bandsf AS (SELECT bands.doc_id, bands.band, bands.band_key
           FROM bands JOIN okb USING (band, band_key)),
cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
         FROM bandsf x JOIN bandsf y
           ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
j AS (SELECT a_id, b_id,
             CAST(len(list_filter(a.sh, t -> list_contains(b.sh, t))) AS BIGINT) AS inter,
             CAST(len(a.sh) + len(b.sh) AS BIGINT) AS both_n
      FROM cand JOIN dsh a ON cand.a_id = a.doc_id JOIN dsh b ON cand.b_id = b.doc_id),
pairs AS (SELECT a_id, b_id FROM j WHERE 100 * inter >= 50 * (both_n - inter)),
e AS (SELECT a_id AS src, b_id AS dst FROM pairs
      UNION SELECT b_id, a_id FROM pairs),
r(src, dst) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM e)
  UNION
  SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src),
labels AS (SELECT src AS doc_id, min(dst) AS component_id FROM r GROUP BY src)
SELECT doc_id AS drop_doc_id, component_id FROM labels WHERE doc_id != component_id
""",
        "docs_repetition": """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_words,
       CAST(list_max(list_transform(list_distinct(string_split(text, ' ')),
            w -> len(list_filter(string_split(text, ' '), x -> x = w)))) AS BIGINT)
         AS max_word_freq
FROM documents
""",
        "docs_salient_terms": """
WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
dft AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
j AS (SELECT tf.doc_id, tf.word, tf.tf AS tf, dft.df AS df,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                 ORDER BY tf.tf DESC, dft.df ASC, tf.word ASC) AS rank
      FROM tf JOIN dft USING (word))
SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(rank AS INT) AS rank
FROM j WHERE rank <= 3
""",
        "cdc_asof_enrich": f"""
WITH ch AS ({_CH}),
pp AS (SELECT doc_id, CAST(unnest([2500, 5000, 7500]) AS BIGINT) AS lsn
       FROM (SELECT DISTINCT doc_id FROM ch)),
u AS (
  SELECT doc_id, lsn AS ts, 0 AS is_probe,
         {{'lsn': lsn, 'op': op, 'n_tok': n_tok}} AS v,
         CAST(NULL AS BIGINT) AS probe_lsn
  FROM ch
  UNION ALL
  SELECT doc_id, lsn AS ts, 1, NULL, lsn FROM pp
),
c AS (SELECT doc_id, is_probe, probe_lsn,
             last_value(v IGNORE NULLS) OVER (
                 PARTITION BY doc_id ORDER BY ts, is_probe
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS av
      FROM u)
SELECT doc_id, probe_lsn AS lsn, av.lsn AS active_lsn, av.op AS active_op,
       CAST(av.n_tok AS BIGINT) AS active_n_tok
FROM c WHERE is_probe = 1
""",
        "docs_line_dedup": _line_dedup_oracle_sql(_DUP_DOCS),
        "docs_dup_ngram_fraction": f"""
WITH {_DUP_DOCS},
w AS (SELECT doc_id, {_DOC_SH} AS sh FROM dup_docs),
nz AS (SELECT doc_id, sh FROM w WHERE len(sh) > 0),
gr AS (SELECT doc_id, md5(unnest(list_distinct(sh))) AS g FROM nz),
freq AS (SELECT g, COUNT(*) AS gdf FROM gr GROUP BY g),
agg AS (SELECT gr.doc_id, COUNT(*) AS n_grams,
               SUM(CASE WHEN freq.gdf >= 2 THEN 1 ELSE 0 END) AS n_dup_grams
        FROM gr JOIN freq USING (g) GROUP BY gr.doc_id)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_dup_grams AS BIGINT) AS n_dup_grams,
       CAST((100 * n_dup_grams) // n_grams AS BIGINT) AS dup_pct
FROM agg
""",
        "docs_contamination": f"""
WITH {_DUP_DOCS},
corpus AS (SELECT doc_id, text FROM dup_docs
           WHERE NOT (doc_id < 1000000 AND doc_id % 50 = 0)),
bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
cw AS (SELECT doc_id, {X.shingles_sql(_D, "text", 5)} AS sh FROM corpus),
cg AS (SELECT doc_id, md5(unnest(list_distinct(sh))) AS g
       FROM cw WHERE len(sh) > 0),
bw AS (SELECT doc_id, {X.shingles_sql(_D, "text", 5)} AS sh FROM bench),
bg AS (SELECT DISTINCT doc_id AS bench_id, md5(unnest(list_distinct(sh))) AS g
       FROM bw WHERE len(sh) > 0)
SELECT cg.doc_id AS doc_id,
       CAST(COUNT(DISTINCT cg.g) AS BIGINT) AS n_overlap_grams,
       CAST(COUNT(DISTINCT bg.bench_id) AS BIGINT) AS n_bench_docs
FROM cg JOIN bg USING (g)
GROUP BY cg.doc_id
""",
        "docs_pii_scrub": f"""
WITH pii_docs AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 7 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
              ELSE '' END ||
         CASE WHEN doc_id % 11 = 0
              THEN ' call 555-' || CAST(doc_id % 10000 + 1000 AS VARCHAR) || ' today'
              ELSE '' END AS text
  FROM documents)
SELECT doc_id,
       CAST({X.REGEXP_COUNT(_D, "text", EMAIL_PAT)} AS BIGINT) AS n_emails,
       CAST({X.REGEXP_COUNT(_D, "text", PHONE_PAT)} AS BIGINT) AS n_phones,
       md5({X.REGEXP_REPLACE_ALL(_D, X.REGEXP_REPLACE_ALL(_D, "text", EMAIL_PAT, "<EMAIL>"), PHONE_PAT, "<PHONE>")}) AS scrubbed_md5
FROM pii_docs
""",
        "docs_word_bigrams": f"""
WITH w AS (SELECT doc_id, {X.shingles_sql(_D, "text", 2)} AS sh FROM documents),
u AS (SELECT unnest(sh) AS bigram FROM w WHERE len(sh) > 0)
SELECT bigram, count(*) AS freq FROM u GROUP BY bigram HAVING count(*) >= 5
""",
        "docs_lm_rarity": f"""
WITH w AS (SELECT doc_id, {X.shingles_sql(_D, "text", 2)} AS sh FROM documents),
b AS (SELECT doc_id, unnest(sh) AS bigram FROM w WHERE len(sh) > 0),
c AS (SELECT bigram, count(*) AS freq FROM b GROUP BY bigram)
SELECT doc_id,
       count(*) AS n_bigrams,
       CAST(sum(freq) AS BIGINT) AS sum_freq,
       min(freq) AS min_freq,
       CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
FROM b JOIN c USING (bigram) GROUP BY doc_id
""",
        # the ONE-SHOT packing SQL gates the 3-batch incremental fold:
        # equality proves batching-invariance cross-engine
        "tokens_pack_incremental": _WINNERS
        + """
, w AS (SELECT source_partition, doc_id, n_tok FROM ranked
        WHERE rn = 1 AND op != 'D'),
c AS (SELECT source_partition, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY source_partition ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM w)
SELECT source_partition, doc_id, CAST(n_tok AS BIGINT) AS n_tok,
       CAST((cum - n_tok) // 2048 AS BIGINT) AS bin
FROM c
""",
        "tokens_pack_spans": _WINNERS
        + """
, w AS (SELECT source_partition, doc_id, n_tok FROM ranked
        WHERE rn = 1 AND op != 'D'),
c AS (SELECT source_partition, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY source_partition ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM w),
b AS (SELECT source_partition, doc_id, CAST(n_tok AS BIGINT) AS n_tok,
             cum - n_tok AS before_,
             CAST((cum - n_tok) // 2048 AS BIGINT) AS bin
      FROM c)
SELECT source_partition, bin,
       CAST(ROW_NUMBER() OVER (PARTITION BY source_partition, bin
                               ORDER BY doc_id) - 1 AS BIGINT) AS pos_in_bin,
       doc_id,
       CAST(before_ - bin * 2048 AS BIGINT) AS start_off,
       n_tok
FROM b
""",
        "tokens_pack": _WINNERS
        + """
, w AS (SELECT source_partition, doc_id, n_tok FROM ranked
        WHERE rn = 1 AND op != 'D'),
c AS (SELECT source_partition, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY source_partition ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM w),
b AS (SELECT source_partition, CAST((cum - n_tok) // 2048 AS BIGINT) AS bin, n_tok
      FROM c)
SELECT source_partition, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
       CAST((100 * SUM(n_tok)) // 2048 AS BIGINT) AS fill_pct
FROM b GROUP BY source_partition, bin
""",
        "corpus_mix_sample": _mixing.mixture_oracle_sql(
            "documents", _MIX_WEIGHTS, group_col="lang",
            select_cols="doc_id, lang, source",
        ),
        "corpus_rebalance": _mixing.rebalance_oracle_sql(
            "documents", _REBALANCE_TARGETS
        ),
        "corpus_stratified_sample": _mixing.stratified_oracle_sql(
            "documents", 25,
        ),
        "corpus_token_budget": _mixing.token_budget_oracle_sql(
            "documents", _TOKEN_BUDGET,
            size_expr="len(string_split(text, ' '))",
        ),
        "corpus_shuffle": _mixing.training_order_oracle_sql(
            "documents", shard_size=256, select_cols="doc_id, lang",
        ),
        "dedup_token_spans": _token_dedup.token_span_pairs_oracle_sql(
            "dup_docs", k=8, stride=1, min_shared=2,
            extra_cte=_DUP_DOCS.strip(),
        ),
        "dedup_span_excision": _token_dedup.excise_duplicate_spans_oracle_sql(
            "dup_docs", k=8, extra_cte=_DUP_DOCS.strip(),
        ),
        "docs_quality_classifier": _text_quality.quality_classifier_oracle_sql(
            "documents", vocab_top=200,
        ),
        "docs_chunk_windows": """
SELECT doc_id,
       CAST(start_c / 384 AS BIGINT) AS chunk_idx,
       CAST(start_c AS BIGINT) AS chunk_start,
       CAST(length(substring(text, start_c + 1, 512)) AS BIGINT) AS chunk_len,
       md5(substring(text, start_c + 1, 512)) AS chunk_md5
FROM (SELECT doc_id, text, unnest(range(0, length(text), 384)) AS start_c
      FROM documents WHERE length(text) > 0)
""",
        "docs_hash_split": f"""
WITH s AS (
  SELECT lang, length(text) AS chars,
         ({X.hexn_sql(_D, "md5(CAST(doc_id AS VARCHAR))", 1, 8)}) % 100 AS bucket
  FROM documents)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(chars) AS BIGINT) AS chars_total
FROM s GROUP BY 1, 2
""",
        "tokens_histogram": f"""
WITH ch AS ({_CH}),
f AS (SELECT tokens FROM ch WHERE op != 'D' AND lsn <= 3000),
u AS (SELECT unnest(tokens) AS token FROM f)
SELECT token, count(*) AS freq FROM u GROUP BY token HAVING count(*) >= 2
""",
        "dedup_simhash": f"""
WITH w AS (SELECT doc_id, {_DOC_SH} AS sh FROM documents),
nz AS (SELECT doc_id, sh FROM w WHERE len(sh) > 0),
s AS (SELECT doc_id, {X.simhash16_sql(_D, "sh")} AS simhash FROM nz)
SELECT simhash, count(*) AS group_size, min(doc_id) AS keep_doc_id
FROM s GROUP BY simhash
""",
        "dedup_embedding_neardup": f"""
WITH {_DUP_EMB},
q0 AS (SELECT vec_id, {X.quantize_sql(_D, "embedding")} AS e FROM dup_emb),
q AS (SELECT vec_id, e, {X.norm2_sql(_D, "e", 64)} AS n2 FROM q0),
qb AS ({" UNION ALL ".join(
    f"SELECT vec_id, {j} AS band, "
    + X.signbit_bucket_sql(_D, "e", 12, offset=j * 12)
    + " AS bkt FROM q"
    for j in range(4)
)}),
cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         FROM qb a JOIN qb b
           ON a.band = b.band AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
p AS (SELECT a_id, b_id, {X.dot_sql(_D, "qa.e", "qb2.e", 64)} AS dot,
             qa.n2 AS na2, qb2.n2 AS nb2
      FROM cand JOIN q qa ON qa.vec_id = a_id JOIN q qb2 ON qb2.vec_id = b_id)
SELECT a_id, b_id, dot, na2, nb2
FROM p WHERE dot > 0 AND 10000 * dot * dot >= 6400 * na2 * nb2
""",
        "dedup_semantic": _semantic_dedup.semantic_dedup_oracle_sql(
            "dup_emb", n_clusters="auto", cos_pct=80, extra_ctes=_DUP_EMB.strip(),
        ),
        "tokens_encode": _tokenize.tokenize_oracle_sql("documents", vocab_top=512),
        "tokens_decode": _tokenize.detokenize_oracle_sql("documents", vocab_top=512),
        "docs_adaptive_filter": """
WITH scored AS (
  SELECT source,
         CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS score
  FROM documents),
counts AS (SELECT source, score, count(*) AS cnt FROM scored GROUP BY 1, 2),
cum AS (
  SELECT source, score,
         sum(cnt) OVER (PARTITION BY source ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum
  FROM counts),
tot AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_rows FROM counts GROUP BY 1),
cut AS (
  SELECT source, CAST(min(score) AS BIGINT) AS cutoff
  FROM cum JOIN tot USING (source)
  WHERE cum >= (25 * n_rows + 99) // 100
  GROUP BY source)
SELECT c.source, k.cutoff,
       CAST(sum(c.cnt) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN c.score >= k.cutoff THEN c.cnt ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN c.score < k.cutoff THEN c.cnt ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(sum(CASE WHEN c.score >= k.cutoff THEN c.score * c.cnt ELSE 0 END) AS BIGINT)
         AS kept_score_sum
FROM counts c JOIN cut k USING (source)
GROUP BY 1, 2
""",
        "knn_bruteforce": f"""
WITH q AS (SELECT vec_id, {X.quantize_sql(_D, "embedding")} AS e FROM embeddings),
s AS (SELECT qa.vec_id AS query_id, c.vec_id AS neighbor_id,
             {X.dot_sql(_D, "qa.e", "c.e", 64)} AS dot
      FROM q qa JOIN q c ON qa.vec_id != c.vec_id WHERE qa.vec_id < 10),
r AS (SELECT query_id, neighbor_id, dot,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dot DESC, neighbor_id ASC) AS rnk
      FROM s)
SELECT query_id, neighbor_id, dot, CAST(rnk AS BIGINT) AS rank
FROM r WHERE rnk <= 5
""",
        "knn_lsh": f"""
WITH {_EMB_CTES},
s AS (SELECT qa.vec_id AS query_id, c.vec_id AS neighbor_id,
             {X.dot_sql(_D, "qa.e", "c.e", 64)} AS dot
      FROM qq qa JOIN qq c ON qa.bkt = c.bkt AND qa.vec_id != c.vec_id
      WHERE qa.vec_id < 10),
r AS (SELECT query_id, neighbor_id, dot,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dot DESC, neighbor_id ASC) AS rnk
      FROM s)
SELECT query_id, neighbor_id, dot, CAST(rnk AS BIGINT) AS rank
FROM r WHERE rnk <= 3
""",
        "knn_ivf": f"""
WITH q AS (SELECT vec_id, {X.quantize_sql(_D, "embedding")} AS e FROM embeddings),
cent AS (SELECT vec_id AS cid, e AS cvec FROM q WHERE vec_id < 16),
ad AS (SELECT q.vec_id, q.e, c.cid, {X.l2_sql(_D, "q.e", "c.cvec", 64)} AS d2
       FROM q CROSS JOIN cent c),
assigned AS (SELECT vec_id AS neighbor_id, e AS ce, cid AS list_id
             FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                ORDER BY d2, cid) AS rn FROM ad)
             WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, e AS qe, cid AS list_id
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                              ORDER BY d2, cid) AS rn
                 FROM ad WHERE vec_id < 10)
           WHERE rn <= 4),
s AS (SELECT p.query_id, a.neighbor_id, {X.dot_sql(_D, "p.qe", "a.ce", 64)} AS dot
      FROM probes p JOIN assigned a ON p.list_id = a.list_id
      WHERE a.neighbor_id != p.query_id),
r AS (SELECT query_id, neighbor_id, dot,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dot DESC, neighbor_id ASC) AS rnk
      FROM s)
SELECT query_id, neighbor_id, dot, CAST(rnk AS BIGINT) AS rank FROM r WHERE rnk <= 5
""",
        "docs_rolling_hash": f"""
SELECT doc_id, {X.rolling_hash_sql(_D, "text")} AS fp FROM documents
""",
        "docs_bpe_token_count": f"""
SELECT doc_id, CAST({X.REGEXP_COUNT(_D, "text", _BPE_PAT)} AS BIGINT) AS n_bpe_tokens
FROM documents
""",
        "multimodal_blob_meta": """
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS content_md5,
       greatest(CAST(1 AS BIGINT),
                CAST(ceil(octet_length(encode(text)) / 4096.0) AS BIGINT)) AS n_frames
FROM documents
""",
        "events_hourly_rollup": """
SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
       count(*) AS n_events, count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
""",
        "lang_id": """
SELECT lang,
       CASE WHEN (' ' || text || ' ') LIKE '% the %' OR (' ' || text || ' ') LIKE '% and %' THEN 'en'
            WHEN (' ' || text || ' ') LIKE '% der %' OR (' ' || text || ' ') LIKE '% und %' THEN 'de'
            WHEN (' ' || text || ' ') LIKE '% le %' OR (' ' || text || ' ') LIKE '% et %' THEN 'fr'
            WHEN (' ' || text || ' ') LIKE '% el %' OR (' ' || text || ' ') LIKE '% y %' THEN 'es'
            ELSE 'unknown' END AS pred,
       count(*) AS n
FROM documents GROUP BY 1, 2
""",
        "multimodal_frame_sample": """
WITH a AS (
  SELECT 'asset-' || CAST(doc_id AS VARCHAR) AS asset_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS modality,
         CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
  FROM documents),
f AS (
  SELECT asset_id, modality, byte_len,
         greatest(1, CAST(ceil(byte_len / 4096.0) AS BIGINT)) AS n_frames
  FROM a)
SELECT asset_id, modality, byte_len,
       CAST(unnest(range(0, CAST(least(n_frames, 4) AS BIGINT))) AS INT) AS frame_idx,
       CAST(unnest(range(0, CAST(least(n_frames, 4) AS BIGINT))) * 4096 AS BIGINT) AS frame_offset
FROM f
""",
        "cdc_json_extract": """
WITH d AS (
  SELECT event_id,
         '{"uid": ' || CAST(user_id AS VARCHAR)
         || ', "k": ' || json_extract_string(props, '$.k')
         || ', "amt": "'
         || CASE WHEN event_id % 7 = 0 THEN 'N/A'
                 ELSE CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) END
         || '"}' AS _data
  FROM events)
SELECT event_id,
       TRY_CAST(json_extract_string(_data, '$.uid') AS BIGINT) AS uid,
       TRY_CAST(json_extract_string(_data, '$.k') AS INT) AS k,
       TRY_CAST(json_extract_string(_data, '$.amt') AS BIGINT) AS amt_cents,
       CAST(CASE WHEN json_extract_string(_data, '$.amt') IS NOT NULL
                  AND TRY_CAST(json_extract_string(_data, '$.amt') AS BIGINT) IS NULL
                 THEN 1 ELSE 0 END AS INT) AS n_errors
FROM d
""",
        "docs_vector_chunks": """
WITH segs AS (
  SELECT CAST(doc_id AS VARCHAR) AS rid,
         unnest(string_split(text, ' ')) AS seg,
         unnest(range(0, len(string_split(text, ' ')))) AS ord
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
),
pos AS (
  SELECT rid, seg, ord,
         SUM(length(seg) + 1) OVER (PARTITION BY rid ORDER BY ord)
           - length(seg) - 1 AS start
  FROM segs
),
grp AS (
  SELECT rid, CAST(floor(start / 160.0) AS BIGINT) AS chk,
         string_agg(seg, ' ' ORDER BY ord) AS page_content
  FROM pos GROUP BY rid, chk
)
SELECT md5(rid || ':' ||
           CAST(row_number() OVER (PARTITION BY rid ORDER BY chk) - 1 AS VARCHAR))
         AS chunk_id,
       rid AS _ab_record_id,
       'documents' AS _ab_stream,
       CAST(row_number() OVER (PARTITION BY rid ORDER BY chk) - 1 AS INT)
         AS chunk_idx,
       page_content,
       CAST(length(page_content) AS INT) AS n_chars
FROM grp
""",
        "cdc_debezium_decode": """
SELECT CASE event_id % 4 WHEN 1 THEN 'U' WHEN 2 THEN 'D' ELSE 'I' END AS op,
       printf('doc%09d', event_id) AS doc_id,
       event_id AS lsn,
       epoch_ms(ts) AS ts_ms,
       CASE WHEN event_id % 4 = 2 THEN NULL ELSE user_id END AS user_id,
       CASE WHEN event_id % 4 = 2 THEN NULL ELSE event_type END AS event_type,
       CASE WHEN event_id % 4 = 2 THEN NULL ELSE value END AS value
FROM events
""",
        "cdc_schema_extract": """
WITH d AS (
  SELECT event_id,
         '{"uid": ' || CAST(user_id AS VARCHAR)
         || ', "k": ' || json_extract_string(props, '$.k')
         || ', "amt": "' || CASE WHEN event_id % 7 = 0 THEN 'N/A'
                 ELSE CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) END
         || '", "price": "' || CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) || '.25"'
         || ', "flag": "' || CASE WHEN event_id % 11 = 0 THEN 'maybe'
                 WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END
         || '", "day": "' || strftime(ts, '%Y-%m-%d')
         || '", "label": "' || event_type || '"}' AS _data
  FROM events)
SELECT event_id,
       TRY_CAST(json_extract_string(_data, '$.uid') AS BIGINT) AS uid,
       TRY_CAST(json_extract_string(_data, '$.k') AS INT) AS k,
       TRY_CAST(json_extract_string(_data, '$.amt') AS BIGINT) AS amt,
       TRY_CAST(json_extract_string(_data, '$.price') AS DOUBLE) AS price,
       TRY_CAST(json_extract_string(_data, '$.flag') AS BOOLEAN) AS flag,
       CAST(TRY_CAST(json_extract_string(_data, '$.day') AS DATE) AS VARCHAR) AS day,
       json_extract_string(_data, '$.label') AS label,
       concat_ws(',',
         CASE WHEN json_extract_string(_data, '$.uid') IS NOT NULL
               AND TRY_CAST(json_extract_string(_data, '$.uid') AS BIGINT) IS NULL
              THEN 'uid' END,
         CASE WHEN json_extract_string(_data, '$.k') IS NOT NULL
               AND TRY_CAST(json_extract_string(_data, '$.k') AS INT) IS NULL
              THEN 'k' END,
         CASE WHEN json_extract_string(_data, '$.amt') IS NOT NULL
               AND TRY_CAST(json_extract_string(_data, '$.amt') AS BIGINT) IS NULL
              THEN 'amt' END,
         CASE WHEN json_extract_string(_data, '$.price') IS NOT NULL
               AND TRY_CAST(json_extract_string(_data, '$.price') AS DOUBLE) IS NULL
              THEN 'price' END,
         CASE WHEN json_extract_string(_data, '$.flag') IS NOT NULL
               AND TRY_CAST(json_extract_string(_data, '$.flag') AS BOOLEAN) IS NULL
              THEN 'flag' END,
         CASE WHEN json_extract_string(_data, '$.day') IS NOT NULL
               AND TRY_CAST(json_extract_string(_data, '$.day') AS DATE) IS NULL
              THEN 'day' END) AS errors
FROM d
""",
        "declarative_transforms": """
SELECT event_id, user_id, event_type,
       epoch_ms(date_trunc('day', ts)) AS day_ms,
       CAST(floor(value * 100) AS BIGINT) AS value_cents
FROM events WHERE event_type IN ('click', 'purchase')
""",
        "declarative_extract_path": """
SELECT event_id, CAST(event_id AS BIGINT) AS i,
       CAST(floor(value * 100) AS BIGINT) AS v
FROM events
UNION ALL
SELECT event_id, CAST(event_id + 10000000 AS BIGINT) AS i, CAST(0 AS BIGINT) AS v
FROM events
""",
        "substream_parent_child": """
SELECT o_orderkey, o_custkey AS parent_key, c_name, c_mktsegment,
       CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents
FROM orders JOIN customer ON o_custkey = c_custkey
""",
        "mapper_pii_fields": """
SELECT c_custkey AS customer_id,
       concat(substr(c_name, 1, 9),
              repeat('*', greatest(length(c_name) - 9, 0))) AS c_name,
       sha256(concat(lower(c_name), '@example.com')) AS email_hashed,
       c_mktsegment
FROM customer WHERE c_acctbal > 0
""",
        "events_sessionize": """
WITH e AS (
  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM e
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       MIN(ts_us) AS session_start_us, MAX(ts_us) AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clicks,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM s GROUP BY user_id, session_seq
""",
        "cdc_demux_streams": _WINNERS
        + """
SELECT 't' || CAST(CAST(substr(doc_id, 4) AS BIGINT) % 3 AS VARCHAR) AS stream,
       CAST(count(*) AS BIGINT) AS n_rows,
       max(lsn) AS max_lsn,
       CAST(sum(n_tok) AS BIGINT) AS sum_n_tok
FROM ranked WHERE rn = 1 AND op != 'D'
GROUP BY 1
""",
        "docs_url_dedup": _url_dedup_oracle(),
        "docs_unicode_clean": _unicode_clean_oracle(),
        "docs_markdown_strip": _markdown_strip_oracle(),
        "docs_embed_lanes": _embed_lanes_oracle(),
    }
