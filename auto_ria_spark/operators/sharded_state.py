"""Sharded URL-seen state: the one place that knows the shard layout.

The reference's durable URL-seen set is a PostgreSQL unique index probed
point-wise and via IN-lists (reference: app/utils/db_utils.py:20-76,
app/core/models.py:52,68).  At a 10^10-URL frontier an exact index probe
per candidate is the bottleneck, so the engine keeps a membership filter
split into ``num_shards`` shards keyed by ``pmod(url_hash, num_shards)``.
A shard's state is one opaque byte string, one row per shard of the
``seen_filters`` snapshot table ``(shard int, <state> binary, n_items
long, updated_wave int)``, so resume restores the filters together with
the exact table.

A filter kind (operators/bloom.py, operators/cuckoo.py) supplies numpy
kernels over one shard's bytes and a batch of int64 ``url_hash`` values;
this module runs them:

* **mutate** — the new hashes are cogrouped by shard with the prior state
  of only the shards they touch: one pandas call per touched shard sees
  that shard's state once plus its hashes.  The kernel returns the new
  state and the change in ``n_items``.  Untouched shards pass through
  without entering Python.
* **probe** — candidates are cogrouped by shard with the filter table, so
  each task loads its shard's state once and probes all of its candidates
  in one vectorized pass.  False means certainly new; True means maybe
  seen, and the row must still pass the exact anti-join.

Neither side is ever joined row-by-row to the state: that would copy the
whole shard (16-128 MiB at production sizing) into every row's Arrow
batch.  Memory per task is O(shard state + one Arrow batch).  At 10^10
scale both sides are bucketed by url_hash, so the cogroups are
shuffle-free on the URL side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from auto_ria_spark.util import local_df

STATE_SCHEMA = "shard int, {} binary, n_items long, updated_wave int"


def shard_of(url_hash_col, num_shards: int):
    return F.pmod(url_hash_col, F.lit(num_shards)).cast("int")


def mutate(urls: DataFrame, prior: DataFrame | None, kernel, *,
           state_col: str, state_bytes: int, num_shards: int,
           wave: int) -> DataFrame:
    """Apply ``kernel(state: bytes, hashes: int64[]) -> (bytes, Δn_items)``
    to every shard that ``urls`` (needs ``url_hash``) touches.

    Returns the full replacement state, one row per shard.  ``prior=None``
    starts from all-zero state for every shard.  The pandas function
    carries the kernel's name, which is how the Spark plan labels it.
    """
    schema = STATE_SCHEMA.format(state_col)
    if prior is None:
        prior = local_df(urls.sparkSession,
                         [(s, bytes(state_bytes), 0, -1)
                          for s in range(num_shards)], schema)
    hashed = urls.select(
        shard_of(F.col("url_hash"), num_shards).alias("shard"), "url_hash")
    touched = hashed.select("shard").distinct()

    def run(new: pd.DataFrame, old: pd.DataFrame) -> pd.DataFrame:
        state, dn = kernel(old[state_col].iloc[0],
                           new["url_hash"].to_numpy(np.int64))
        return pd.DataFrame({
            "shard": [int(old["shard"].iloc[0])], state_col: [state],
            "n_items": [int(old["n_items"].iloc[0]) + dn],
            "updated_wave": [wave]})

    run.__name__ = kernel.__name__
    merged = (
        hashed.groupBy("shard")
        .cogroup(prior.join(touched, "shard", "left_semi").groupBy("shard"))
        .applyInPandas(run, schema=schema))
    return merged.unionByName(prior.join(touched, "shard", "left_anti"))


def probe(candidates: DataFrame, filters: DataFrame | None, kernel, *,
          state_col: str, num_shards: int, cand_cols: list[str] | None = None,
          cand_schema: str | None = None) -> DataFrame:
    """Add boolean ``maybe_seen`` to ``candidates`` (needs ``url_hash``)
    from ``kernel(state: bytes, hashes: int64[]) -> bool[]``, named like
    the kernel in the Spark plan (as in :func:`mutate`).

    ``cand_cols``/``cand_schema`` describe ``candidates`` when the caller
    already knows them, which skips a schema access that forces analysis.
    """
    if filters is None:
        return candidates.withColumn("maybe_seen", F.lit(False))
    if cand_schema is None:
        cand_schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in candidates.schema.fields)
    if cand_cols is None:
        cand_cols = [f.name for f in candidates.schema.fields]

    def run(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left):
            return pd.DataFrame(columns=[*cand_cols, "maybe_seen"])
        out = left[cand_cols].copy()
        out["maybe_seen"] = (
            kernel(right[state_col].iloc[0],
                   left["url_hash"].to_numpy(np.int64))
            if len(right) else False)
        return out

    run.__name__ = kernel.__name__
    return (
        candidates.withColumn("__shard",
                              shard_of(F.col("url_hash"), num_shards))
        .groupBy("__shard")
        .cogroup(filters.select("shard", state_col).groupBy("shard"))
        .applyInPandas(run, schema=cand_schema + ", maybe_seen boolean"))
