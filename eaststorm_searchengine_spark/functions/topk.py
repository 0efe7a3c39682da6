"""The per-query top-k tail: one order for the local prune and the rank
window.

Every per-query top-k in the engine (the BM25 window merge and
DataFrame scorer, the three ANN paths, the composite ranker) ends in a
global rank window partitioned by query — a single-reducer sort per
query that would scale with the corpus.  :func:`rank_topk` is that
tail, written once: an optional TakeOrdered-shaped prune
(:func:`local_group_topk`, each partition keeps its LOCAL per-group
top-k) followed by the ``row_number`` window and the ``rank <= k`` cut.
Any row in the global top-k is necessarily within its own partition's
top-k under the same total order, so the prune is a superset of the
answer — exactly while the prune and the window take their order from
ONE argument list, which is why both live here.  Callers whose input is
already bounded (chunk-local top-k candidates) skip the prune.

Two semantics corners of the prune:

* NaN / NULL order keys are REJECTED, not reordered: Spark sorts NaN
  as the largest double and NULLs by nulls-first/last rules, pandas
  puts both last — and the Arrow return path converts pandas NaN back
  to NULL anyway, so a NaN score cannot round-trip this prune
  faithfully no matter how it sorts.  Callers must exclude NaN/NULL
  keys before pruning (the ANN scorer drops non-finite cosines as
  undefined-similarity); a violation raises with the offending column
  instead of silently reordering or nulling scores.
* Batches: ``mapInPandas`` yields one frame per ARROW BATCH, not per
  partition.  Pruning each batch independently would only bound the
  window input at k × n_batches; the generator instead folds batches
  into a running top-k (re-pruned per batch, so state stays at ≤ k
  rows per group) and emits ONE pruned frame per partition —
  k × n_partitions, as advertised.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import worker_guard


def frame_topk(
    pdf: pd.DataFrame,
    group_col: str,
    order_cols: list[str],
    ascending: list[bool],
    k: int,
) -> pd.DataFrame:
    """pandas per-``group_col`` top-``k`` of one frame under
    (``order_cols``, ``ascending``), sorted by group then that order."""
    return (
        pdf.sort_values([group_col, *order_cols], ascending=[True, *ascending])
        .groupby(group_col, sort=False)
        .head(k)
    )


def local_group_topk(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    ascending: list[bool],
    k: int,
) -> DataFrame:
    """Per-partition, per-``group_col`` top-``k`` under
    (``order_cols``, ``ascending``) — mapInPandas, no shuffle, schema
    preserved.  Order columns must be NaN/NULL-free (see module
    docstring)."""

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        for c in order_cols:
            if pdf[c].isna().any():
                raise AssertionError(
                    f"local_group_topk: order column {c!r} contains NaN/NULL — "
                    "filter them out before the prune (they cannot round-trip "
                    "the Arrow boundary and would sort differently than Spark)"
                )
        return frame_topk(pdf, group_col, order_cols, ascending, k)

    def gen(batches):
        worker_guard.install()
        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            cur = prune(pdf)
            acc = cur if acc is None else prune(pd.concat([acc, cur]))
        if acc is not None:
            yield acc

    return df.mapInPandas(gen, df.schema)


def rank_topk(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    ascending: list[bool],
    k: int,
    prune: bool = True,
) -> DataFrame:
    """``df`` plus a long ``rank`` column (``row_number`` per
    ``group_col`` under (``order_cols``, ``ascending``)), cut at
    ``rank <= k``.  ``prune`` runs :func:`local_group_topk` under the
    same order first; pass ``False`` when ``df`` already holds few rows
    per group."""
    if prune:
        df = local_group_topk(df, group_col, order_cols, ascending, k)
    w = Window.partitionBy(group_col).orderBy(
        *[F.asc(c) if a else F.desc(c) for c, a in zip(order_cols, ascending)]
    )
    return df.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )
