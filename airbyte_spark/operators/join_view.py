"""Incrementally maintained materialized JOIN view over CDC-maintained
lake tables.

``operators/rollup.py`` maintains the AGGREGATE half of incremental view
maintenance; this module maintains the JOIN half: a materialized
``V = A JOIN B ON k`` kept current from the two sides' changelogs without
ever re-joining the corpora. The classic delta rule
(dV = dA JOIN B + A JOIN dB + dA JOIN dB) collapses, for an equi-join
with replace-by-key semantics, to the simpler and idempotency-friendly
**touched-key rewrite**: any join key that appears in EITHER side's
changelog (before- OR after-image, so join-key moves count for both the
old and new key) has its view rows recomputed from the two sides'
current states restricted to those keys, and every other key's rows are
left untouched. Recompute-by-key is insensitive to how deltas interleave
— which is what makes N-batch maintenance provably equal to a one-shot
join (gated in tests/test_join_view.py, cross-engine via the
``cdc_join_view`` oracle query).

No reference analog (Airbyte consumers re-join in the warehouse; the
pattern is the Iceberg/Flink ecosystem's "lookup join materialization").

Scale shape: per maintenance cycle the work is f(churn), never f(table) —
- the touched-key set comes from two changelog scans, each bucket-pruned
  to files added in the consumed version range (``read_changes``);
- each side's state restriction is a semi-join against that key set
  (broadcast when small — the common case — else a shuffle bounded by
  churn x matching rows);
- the view table is bucketed BY THE JOIN KEY, so the rewrite is a
  bucket-scoped CoW commit touching only buckets that hold affected keys
  (the same write path as every other upsert in the engine).
1:N joins are supported (a parent key's rows multiply by its children);
the view's row identity is the pair of side row keys, but replacement is
by join key, so no per-row diffing is needed.

Downstream-consumer composition: the view table is bucketed by the JOIN
KEY and, for 1:N joins, holds several rows under it. Snapshot-diff
consumers name the view's ROW IDENTITY — the pair of side row keys — via
``read_changes(row_id_cols=[...])`` / ``maintain_rollup(row_id_cols=
[...])``, and view -> incremental rollup composes for 1:1 AND 1:N views
alike (both pinned in tests/test_join_view.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from airbyte_spark.lake.table import LakeTable
from airbyte_spark.lineage import log_metric


def join_view_delta(
    a_state: DataFrame,
    b_state: DataFrame,
    touched_keys: DataFrame,
    on: str,
    how: str = "inner",
) -> DataFrame:
    """The pure classification core: the view's replacement rows for the
    touched join-key set — each side's current state semi-joined down to
    the touched keys, then joined. Everything outside ``touched_keys`` is
    untouched by definition of the delta rule, so this IS the whole
    per-cycle recompute. SQL-expressible; value-gated cross-engine by the
    ``cdc_join_view`` oracle query."""
    keys = touched_keys.select(on).distinct()
    a = a_state.join(keys, on=on, how="left_semi")
    b = b_state.join(keys, on=on, how="left_semi")
    return a.join(b, on=on, how=how)


def _touched_keys(changes: DataFrame, on: str) -> DataFrame:
    """Distinct join-key values a changelog touches. ``read_changes``
    emits before-images for deletes and (with ``update_images=True``)
    both images for updates, so a row whose JOIN KEY moved contributes
    both the old and the new key — both need rewriting."""
    return changes.select(F.col(on)).where(F.col(on).isNotNull()).distinct()


class JoinView:
    """Durable incrementally-maintained join view.

    The backing LakeTable is bucketed by the join key; its commit
    summaries carry the (a_version, b_version) watermark, so a scheduled
    maintenance job resumes with zero external state — the same
    state-in-summary discipline as ``operators/rollup.py`` and the
    incremental packer.
    """

    OP = "join-view-merge"

    def __init__(self, spark: SparkSession, root: str, how: str = "inner"):
        if how not in ("inner", "left"):
            raise ValueError(f"how must be inner|left, got {how}")
        self.spark = spark
        self.how = how
        self.table = LakeTable(spark, root)

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        on: str,
        a_fields: list[StructField],
        b_fields: list[StructField],
        key_field: StructField,
        how: str = "inner",
        num_buckets: int = 16,
    ) -> "JoinView":
        """Create the empty view table: (k, a side columns, b side
        columns). Non-key column names must be disjoint across sides —
        project/rename before maintenance, not inside it."""
        overlap = {f.name for f in a_fields} & {f.name for f in b_fields}
        if overlap:
            raise ValueError(f"side columns collide: {sorted(overlap)}")
        schema = StructType([key_field, *a_fields, *b_fields])
        LakeTable.create(
            spark,
            root,
            schema,
            primary_key=on,  # bucket key; rows stay 1:N under it
            num_buckets=num_buckets,
            cursor_col=None,
            ts_col=on,  # unused: this table never writes deltas
        )
        return JoinView(spark, root, how=how)

    # ------------------------------------------------------------- apply

    def apply(
        self,
        a_state: DataFrame,
        b_state: DataFrame,
        touched_keys: DataFrame,
        batch_id: str,
        summary_extra: dict | None = None,
    ) -> int | None:
        """Rewrite the view rows of ``touched_keys`` from the given side
        states in ONE bucket-scoped CoW commit. Idempotent via
        ``batch_id``; returns the committed version, or None if already
        applied / nothing touched."""
        table = self.table
        if table.find_batch(batch_id) is not None:
            log_metric("join_view_skipped_already_applied", batch_id=batch_id)
            return None
        on = table.snapshot().spec["bucket_by"]
        cols = table.snapshot().schema.fieldNames()
        # each view column belongs to exactly one side (disjointness is
        # enforced at create); sides may carry extra columns (_ab_* state
        # metadata) — project them away BEFORE the join so the two scans
        # cannot collide on metadata names
        a_cols = [c for c in cols if c != on and c in a_state.columns]
        b_cols = [c for c in cols if c != on and c in b_state.columns]
        both = sorted(set(a_cols) & set(b_cols))
        if both:
            # membership cannot decide ownership — engine tables commonly
            # share payload column names (e.g. 'source'); force an explicit
            # projection/rename instead of joining into AMBIGUOUS_REFERENCE
            raise ValueError(
                f"view column(s) {both} exist in BOTH side states — project/"
                "rename one side first (maintain(..., a_select=/b_select=))"
            )
        missing = [c for c in cols if c != on and c not in a_cols + b_cols]
        if missing:
            raise ValueError(f"view columns on neither side: {missing}")
        a_state = a_state.select(on, *a_cols)
        b_state = b_state.select(on, *b_cols)
        keys = touched_keys.select(on).distinct().persist()
        try:
            v = table.replace_keys(
                keys,
                join_view_delta(a_state, b_state, keys, on, how=self.how),
                summary=dict(summary_extra or {}, operation=self.OP, batch_id=batch_id),
            )
        finally:
            keys.unpersist()
        if v is None:
            log_metric("join_view_noop", batch_id=batch_id)
        return v

    def maintain(
        self,
        a: LakeTable,
        b: LakeTable,
        deleted_col: str = "_ab_cdc_deleted_at",
        a_select=None,
        b_select=None,
    ) -> int | None:
        """Advance the view to both sides' current versions in one
        idempotent commit, resuming from the durable watermark in the
        view's own commit summaries.

        Bootstrap (no watermark yet) recomputes EVERY key of both sides'
        current states — never a version-1 diff, which would break when
        snapshot retention has expired the sides' early history. A cycle
        whose changelogs touch no keys (compaction/metadata-only commits
        on the sides) still advances the watermark with a metadata-only
        commit, so the consumed version range never re-grows.

        ``a_select``/``b_select``: optional callables (DataFrame ->
        DataFrame) projecting/renaming each side's state before the join —
        required when the two sides share payload column names (apply()
        refuses ambiguous membership).
        """
        wm = self.watermark()
        a_to, b_to = a.current_version(), b.current_version()
        on = self.table.snapshot().spec["bucket_by"]

        def _live(df: DataFrame) -> DataFrame:
            # side tables store tombstones (out-of-order-update armor);
            # the view joins LIVE states only
            if deleted_col in df.columns:
                return df.filter(F.col(deleted_col).isNull())
            return df

        a_state = _live(a.scan(version=a_to))
        b_state = _live(b.scan(version=b_to))
        if a_select is not None:
            a_state = a_select(a_state)
        if b_select is not None:
            b_state = b_select(b_state)

        if wm is None:
            # bootstrap: full recompute — touched = every current key
            a_from = b_from = 0
            touched = (
                a_state.select(on).unionByName(b_state.select(on)).distinct()
            )
        else:
            a_from, b_from = wm
            if a_to <= a_from and b_to <= b_from:
                return None
            parts = []
            if a_to > a_from:
                parts.append(
                    _touched_keys(
                        a.read_changes(a_from, a_to, deleted_col=deleted_col,
                                       update_images=True),
                        on=on,
                    )
                )
            if b_to > b_from:
                parts.append(
                    _touched_keys(
                        b.read_changes(b_from, b_to, deleted_col=deleted_col,
                                       update_images=True),
                        on=on,
                    )
                )
            touched = parts[0]
            for p in parts[1:]:
                touched = touched.unionByName(p)
        bid = f"join-view-{a_from}-{a_to}-{b_from}-{b_to}"
        wm_summary = {
            "a_from": a_from, "a_to": a_to,
            "b_from": b_from, "b_to": b_to,
        }
        v = self.apply(
            a_state, b_state, touched, batch_id=bid, summary_extra=wm_summary
        )
        if v is None and self.table.find_batch(bid) is None:
            # zero touched keys but the sides' versions advanced: persist
            # the watermark anyway (metadata-only) or every later cycle
            # re-diffs this ever-growing range
            return self.table.commit_metadata_only(
                summary=dict(
                    wm_summary, operation=self.OP, batch_id=bid
                )
            )
        return v

    def watermark(self) -> tuple[int, int] | None:
        """(a_version, b_version) consumed through, from the latest
        join-view-merge commit summary."""
        for snap in reversed(self.table.history()):
            if snap.summary.get("operation") != self.OP:
                continue
            a_to, b_to = snap.summary.get("a_to"), snap.summary.get("b_to")
            if a_to is None or b_to is None:
                continue  # manual apply() commit without a watermark
            return (int(a_to), int(b_to))
        return None

    def read(self) -> DataFrame:
        return self.table.scan()
