"""How operators hold and release cached frames: the one place that knows.

The contract every operator meets:

* An operator-internal cache is scoped — ``with released(x.persist())
  as x:`` (or an ``ExitStack`` of them) — so its blocks are gone when
  the operator returns OR raises. Nothing an operator persists for its
  own use outlives the call.
* An eagerly materialized result comes out of ``localize_or_keep``:
  the plan runs once; within the row limit (near-dup pair sets are
  small by construction) the rows come back through the driver as a
  fresh frame with NOTHING cached; over the limit, or when the result
  is corpus-sized (blocked NN), the persisted frame itself is returned
  and the CALLER releases it — ``result.unpersist()``, or scoped::

      with released(minhash_near_duplicates(docs)) as pairs:
          pairs.write.parquet(out)
      # cached blocks are gone here

  ``released`` on a result that came back uncached is a no-op, so a
  caller wraps every near-dup result the same way without asking
  which path ran.

The only caches held outside a scope are the two stream-lifetime ones:
the eval-set n-gram hashes that ``streaming.decontaminate`` and
``streaming.curate`` persist once and reuse in every micro-batch of the
stream they feed.

At 100 TB a cached-block leak is an executor-memory bleed across a long
driver program — this makes every release a scoped guarantee instead of
a remember-to-call.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame


@contextmanager
def released(*dfs: DataFrame):
    """Yield the frame(s), unpersist them on exit (even on error).

    ``with released(df) as df:`` for one frame,
    ``with released(a, b) as (a, b):`` for several. Unpersisting a
    never-persisted frame is a no-op, so this is safe to wrap around
    operators whose persistence depends on options (e.g. the embedding
    ops persist only when ``max_block_size`` is set).
    """
    try:
        yield dfs[0] if len(dfs) == 1 else dfs
    finally:
        for df in dfs:
            df.unpersist()


def localize_or_keep(
    plan: DataFrame, limit: int | None
) -> tuple[DataFrame, int]:
    """Run ``plan`` once and return ``(frame, n_rows)``.

    The plan is persisted BEFORE the ``limit(limit + 1)`` probe, so the
    partitions the probe computes are cached and an over-limit
    ``count()`` only finishes the remainder instead of re-executing the
    plan. Within ``limit`` rows the probe's rows are rebuilt as a
    driver-side frame and the cache is released: zero cached blocks
    survive. Over the limit — or always, with ``limit=None`` (results
    sized by the corpus, not by construction) — the persisted plan is
    counted and returned; the caller owns that cache (see the module
    docstring). A plan the caller already persisted is taken over: the
    local path releases it. Any error releases the cache.

    Cost of persisting first: under AQE (Spark 3.5+) the probe reads the
    cache through a table-cache query stage, so the cache fills in one
    job and the probe reads it in a second, short one — one job more
    than probing the bare plan, paid to keep the over-limit path from
    running the plan twice."""
    kept = plan if plan.is_cached else plan.persist()
    try:
        if limit is not None:
            rows = kept.limit(limit + 1).collect()
            if len(rows) <= limit:
                kept.unpersist()
                local = kept.sparkSession.createDataFrame(
                    rows, schema=kept.schema
                )
                return local, len(rows)
        return kept, kept.count()
    except BaseException:
        kept.unpersist()
        raise
