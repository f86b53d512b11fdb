"""Merge / upsert family as pure DataFrame dataflow (SURVEY.md §2.6, M1–M14).

Reference semantics: ``INSERT ... ON CONFLICT (key) DO UPDATE SET <mutable
subset>`` executed one row at a time with one commit per row (ref
dags/includes/user_table.py:105-121) — insert new rows; on key conflict
refresh only the declared *mutable* columns, leaving the rest frozen at
first-insert values. ``DO NOTHING`` variants (ref loanoffers_table.py:69-70)
are insert-if-absent.

Spark-first design: merge is a full-outer join + per-column-class coalesce —
set-based, shuffle-partitioned on the key, no per-row round trips. At scale
the join shuffles both sides on the key once; if the updates batch is small
relative to the target it is broadcast (AQE decides). Writing to an actual
Postgres target goes through the JDBC staging sink (``jdbc_merge`` in
sources/sinks.py), which executes ONE server-side set-based ON CONFLICT
statement — never per-row.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(target: DataFrame, updates: DataFrame, key: str | Sequence[str],
                 mutable: Sequence[str]) -> DataFrame:
    """M1–M10: upsert with partial column update.

    Result = target rows not in updates, unchanged
           ∪ matched rows with only ``mutable`` columns refreshed
           ∪ new rows from updates.

    Columns present in ``target`` but not ``mutable`` are frozen: on a match
    the target value wins; for brand-new keys the update value is used
    (there is no old value to freeze).
    """
    keys = [key] if isinstance(key, str) else list(key)
    cols = target.columns
    if updates.columns != cols:
        updates = updates.select(*cols)  # positional discipline like INSERT column list
    t = target.alias("t")
    u = updates.alias("u")
    joined = t.join(u, on=[F.col(f"t.{k}").eqNullSafe(F.col(f"u.{k}")) for k in keys],
                    how="full_outer")
    matched_key = F.col(f"u.{keys[0]}").isNotNull() & F.col(f"t.{keys[0]}").isNotNull()
    out = []
    for c in cols:
        tc, uc = F.col(f"t.{c}"), F.col(f"u.{c}")
        if c in keys:
            out.append(F.coalesce(tc, uc).alias(c))
        elif c in mutable:
            # mutable: new value wins when the key matched or is brand new;
            # pure-target rows keep theirs.
            out.append(F.when(F.col(f"u.{keys[0]}").isNotNull(), uc).otherwise(tc).alias(c))
        else:
            # frozen: first-insert value wins (target when present).
            out.append(F.when(matched_key | F.col(f"u.{keys[0]}").isNull(), tc)
                       .otherwise(uc).alias(c))
    return joined.select(*out)


def insert_if_absent(target: DataFrame, updates: DataFrame,
                     key: str | Sequence[str]) -> DataFrame:
    """M11–M13: ``ON CONFLICT DO NOTHING`` ≡ target ∪ (updates ⟕̸ target).

    The anti join broadcasts the target key set when small; otherwise a
    shuffled left-anti on the key — one shuffle, no per-row existence probes
    (replaces the reference's N+1 SELECT-per-row, ref utils.py:27-37).
    """
    keys = [key] if isinstance(key, str) else list(key)
    fresh = updates.join(target.select(*keys), on=keys, how="left_anti")
    return target.unionByName(fresh.select(*target.columns))

