"""Keyed CDC apply: latest-wins upsert/delete merge (SURVEY.md C3).

The reference delegates this to the Snowflake connector (PK-preserving
replication, ``notebooks/0_start_here.ipynb:153-192``); here it is a
~40-line DataFrame program:

1. dedup the change batch to the latest row per key by ``lsn``
   (ranking window -- SURVEY.md section 2.7, the one window function
   the engine needs);
2. MERGE: current rows whose key is untouched, plus the new/updated
   rows; keys whose latest op is 'D' simply drop out.

Per-key ordering is guaranteed because the window sorts the *whole
batch* by lsn within each key -- cross-key ordering is irrelevant to
the result, so micro-batch parallelism is free.  At scale the window
shuffles on the PK (unavoidable for per-key ordering) and the merge
anti-join shuffles on the same key, so AQE reuses the partitioning;
with a bucketed store both sides co-locate.

The CDC pipeline applies a batch through ``split_changes`` and
``ParquetTableStore.merge`` (which covers both table layouts), so the
stored result is committed against one resolved base version;
``apply_changes`` is the same upsert/delete rule as a pure DataFrame
function over an explicit snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(changes: DataFrame, key: str, order_col: str = "lsn") -> DataFrame:
    """Reduce a change batch to the winning (highest-lsn) row per key."""
    w = Window.partitionBy(key).orderBy(F.desc(order_col))
    return changes.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def split_changes(
    changes: DataFrame, key: str, order_col: str = "lsn"
) -> tuple[DataFrame, DataFrame]:
    """Reduce a change batch to its MERGE inputs: (upserts, touched).

    ``upserts`` = envelope-stripped winning non-delete rows;
    ``touched`` = every key the batch mentions (from the RAW batch, not
    the windowed winners: same key set, but the anti-join consumer
    doesn't re-run the window, which is otherwise computed twice --
    plans aren't shared without cache)."""
    winners = latest_per_key(changes, key, order_col)
    payload_cols = [c for c in changes.columns if c not in ("op", order_col)]
    upserts = winners.filter(F.col("op") != "D").select(*payload_cols)
    return upserts, changes.select(key)


def apply_changes(
    current: DataFrame | None,
    changes: DataFrame,
    key: str,
    order_col: str = "lsn",
) -> DataFrame:
    """Apply an I/U/D change batch to the current table snapshot.

    ``changes`` carries ``op`` ('I'|'U'|'D'), ``order_col``, and the
    full row columns (NULL payload for deletes).  Returns the new
    snapshot with the envelope columns stripped.
    """
    upserts, touched = split_changes(changes, key, order_col)
    if current is None:
        return upserts
    kept = current.join(touched, on=key, how="left_anti")
    # allowMissingColumns = schema evolution: a batch carrying a column
    # the snapshot lacks (upstream ADD COLUMN) back-fills old rows with
    # NULL; a batch missing a snapshot column (upstream DROP) leaves the
    # column in place with NULL for new rows (soft drop).  This mirrors
    # the reference connector's ALTER TABLE propagation.
    return kept.unionByName(upserts, allowMissingColumns=True)
