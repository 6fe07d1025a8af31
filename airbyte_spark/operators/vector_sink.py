"""Vector-index sink: document chunking + incrementally-maintained chunk
index with per-record replace semantics.

Re-expresses the reference's vector-DB destination CDK
(`airbyte-cdk/python/airbyte_cdk/destinations/vector_db_based/`):

- ``document_processor.py`` extracts text + metadata per record, splits it
  into chunks (stamping ``_ab_record_id`` / ``_ab_stream`` metadata), and
  treats records carrying ``_ab_cdc_deleted_at`` as deletes;
- ``writer.py`` applies a batch by DELETING every chunk of the incoming
  record ids first, then indexing the new chunks — replace-by-record, never
  chunk-level diffing (a record's chunk count may shrink).

Spark-first re-expression:

- :func:`chunk_documents` is pure DataFrame algebra (split -> posexplode ->
  one per-document window cumsum -> groupBy chunk), no Python on the data
  path. Boundary rule (documented, oracle-exact): a separator segment joins
  chunk ``floor(seg_start_offset / stride)`` with ``stride = chunk_size -
  overlap`` — separator-aware boundaries at deterministic stride multiples
  (the same cumsum-assignment idiom as operators/packing.py, which keeps
  the oracle a window expression instead of an iterative greedy loop).
  ``overlap`` prefixes each chunk with the tail of its predecessor via one
  lag window.
- :class:`ChunkIndex` maintains the chunk table on a LakeTable BUCKETED BY
  RECORD ID (not chunk id): "delete all chunks of record X" then touches
  exactly one bucket, so a batch rewrites only its affected buckets
  (bucket-scoped CoW through LakeTable.replace_keys) instead of the
  table. Idempotent via the batch-id snapshot summary like every other
  commit path. At 100 TB: work per batch ∝ touched buckets, the anti-join
  broadcasts the (small) batch key set, and nothing ever scans untouched
  buckets.

Invariant pinned by tests/test_vector_sink.py: applying a doc-level
changelog incrementally (any batching) yields the exact chunk set of
chunking the final deduplicated table in one shot.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from airbyte_spark.lake.table import LakeTable

META_RECORD_ID = "_ab_record_id"  # document_processor.py METADATA_RECORD_ID_FIELD
META_STREAM = "_ab_stream"  # document_processor.py METADATA_STREAM_FIELD


def chunk_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 512,
    overlap: int = 0,
    separator: str = "\n\n",
    stream: str = "documents",
    metadata_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Split each document into separator-aware chunks.

    Output: one row per chunk — (chunk_id, _ab_record_id, _ab_stream,
    chunk_idx, page_content, n_chars, *metadata_cols). chunk_id =
    md5(record_id:chunk_idx), deterministic across re-runs (writer.py
    deletes/reinserts by these ids). Empty/null documents emit no chunks.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError(f"overlap must be in [0, chunk_size): {overlap}")
    stride = chunk_size - overlap
    rid = F.col(id_col).cast("string")

    segs = df.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    ).select(
        rid.alias(META_RECORD_ID),
        *[F.col(c) for c in metadata_cols],
        # split() takes a Java regex; the separator is a LITERAL string
        F.posexplode(F.split(F.col(text_col), re.escape(separator))).alias(
            "_ord", "_seg"
        ),
    )
    # start offset of each segment in the ORIGINAL text: sum of previous
    # segment lengths + one separator width per preceding boundary
    w = (
        Window.partitionBy(META_RECORD_ID)
        .orderBy("_ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sep_w = len(separator)
    start = (
        F.sum(F.length("_seg") + F.lit(sep_w)).over(w)
        - F.length("_seg")
        - F.lit(sep_w)
    )
    assigned = segs.select(
        META_RECORD_ID,
        *metadata_cols,
        "_ord",
        "_seg",
        F.floor(start / F.lit(stride)).alias("_chunk"),
    )
    grouped = assigned.groupBy(META_RECORD_ID, *metadata_cols, "_chunk").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_ord", "_seg"))),
                lambda s: s["_seg"],
            ),
            separator,
        ).alias("_content")
    )
    wd = Window.partitionBy(META_RECORD_ID).orderBy("_chunk")
    idx = (F.row_number().over(wd) - 1).alias("chunk_idx")
    content = F.col("_content")
    if overlap > 0:
        prev_tail = F.substring(
            F.lag("_content").over(wd), -overlap, overlap
        )
        content = F.when(
            prev_tail.isNotNull(), F.concat(prev_tail, F.lit(separator), content)
        ).otherwise(content)
    out = grouped.select(
        F.col(META_RECORD_ID),
        F.lit(stream).alias(META_STREAM),
        idx,
        content.alias("page_content"),
        *metadata_cols,
    )
    return out.select(
        F.md5(
            F.concat_ws(":", F.col(META_RECORD_ID), F.col("chunk_idx"))
        ).alias("chunk_id"),
        META_RECORD_ID,
        META_STREAM,
        "chunk_idx",
        "page_content",
        F.length("page_content").cast("int").alias("n_chars"),
        *metadata_cols,
    )


class ChunkIndex:
    """Incrementally-maintained chunk table with replace-by-record upserts.

    The backing LakeTable is bucketed by ``_ab_record_id`` — a record's
    chunks are co-located, so replacing them is a bucket-local CoW
    (writer.py's delete-ids-then-index, made bucket-scoped).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.table = LakeTable(spark, root)

    @staticmethod
    def create(
        spark: SparkSession, root: str, chunk_schema: StructType, num_buckets: int = 16
    ) -> "ChunkIndex":
        LakeTable.create(
            spark,
            root,
            chunk_schema,
            primary_key=META_RECORD_ID,  # bucket key; chunk_id stays unique
            num_buckets=num_buckets,
            cursor_col=None,
            ts_col=META_RECORD_ID,  # unused: this table never writes deltas
        )
        return ChunkIndex(spark, root)

    def apply_batch(
        self,
        chunks: DataFrame,
        record_ids: DataFrame,
        batch_id: str,
    ) -> int | None:
        """Replace every indexed chunk of ``record_ids`` with ``chunks``.

        ``record_ids``: one column ``_ab_record_id`` covering ALL records the
        batch touched — upserted records AND deleted ones (a deleted record
        contributes no rows to ``chunks``, so the replace drops its chunks,
        exactly writer.py's CDC-delete path). Idempotent by ``batch_id``;
        returns the committed snapshot version, or None if already applied.
        """
        table = self.table
        if table.find_batch(batch_id) is not None:
            return None
        return table.replace_keys(
            record_ids,
            chunks,
            summary={"operation": "vector-upsert", "batch_id": batch_id},
        )

    def read(self) -> DataFrame:
        return self.table.scan()
