"""Shared TakeOrdered-shaped local prune.

Every per-query top-k tail in the engine (BM25 DataFrame scorer, the
three ANN paths, the composite ranker) ends in a global rank window
partitioned by query — a single-reducer sort per query that would scale
with the corpus.  The cure is the same everywhere: each partition first
keeps its LOCAL per-group top-k under the exact total order the global
window uses.  Correctness: any row in the global top-k is necessarily
within its own partition's top-k under the same total order, so the
prune is a superset of the final result; the tie-break order being
defined in ONE place is the point of this module (code-review r04 —
three hand-copied variants had to stay in sync by discipline).

Two semantics corners (code-review r04b, both execution-confirmed):

* NaN / NULL order keys are REJECTED, not reordered: Spark sorts NaN
  as the largest double and NULLs by nulls-first/last rules, pandas
  puts both last — and the Arrow return path converts pandas NaN back
  to NULL anyway, so a NaN score cannot round-trip this prune
  faithfully no matter how it sorts.  Callers must exclude NaN/NULL
  keys before pruning (the ANN tails drop NaN cosines as
  undefined-similarity, same rationale as their zero-norm NULLs); a
  violation raises with the offending column instead of silently
  reordering or nulling scores.
* Batches: ``mapInPandas`` yields one frame per ARROW BATCH, not per
  partition.  Pruning each batch independently would only bound the
  window input at k × n_batches; the generator instead folds batches
  into a running top-k (re-pruned per batch, so state stays at ≤ k
  rows per group) and emits ONE pruned frame per partition —
  k × n_partitions, as advertised.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from .. import worker_guard


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
    docstring); feed the result to the global rank window with the
    SAME ordering."""
    schema = df.schema
    cols = list(df.columns)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        for c in order_cols:
            if pdf[c].isna().any():
                raise AssertionError(
                    f"local_group_topk: order column {c!r} contains NaN/NULL — "
                    "filter them out before the prune (they cannot round-trip "
                    "the Arrow boundary and would sort differently than Spark)"
                )
        return (
            pdf.sort_values([group_col, *order_cols], ascending=[True, *ascending])
            .groupby(group_col, sort=False)
            .head(k)[cols]
        )

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

    return df.mapInPandas(gen, schema)
