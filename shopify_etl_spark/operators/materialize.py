"""Tracked materialization of shared plan subtrees.

A query with a fan-out (one expensive subtree, two+ consumers) must run
that subtree ONCE — AQE never fires ``ReusedExchange`` across stage
boundaries for these shapes (VERDICT r7: without a materialization,
``mutual_knn_pairs`` re-scanned the embeddings table ~12x).

Mechanism (r18): lazy ``localCheckpoint(eager=False)`` — the r7–r16
implementation, restored. The r17 round swapped every site to
``df.persist()`` on the theory that the checkpoint's build-time planning
(constructing the checkpointed Dataset calls ``queryExecution.toRdd``,
which runs the analyzer/optimizer/physical-planning pipeline at query
construction) was the dominant cost. The swap measurably LOST on the
driver's own bench (BENCH_r17 vs r16, at ``afb445c`` in git history:
containment_dedup_pairs 4.5x, ngram_jaccard_pairs 3.6x,
pagerank_degree_capped 1.8x, ivf_pq_search 1.5x, residual_pq_search
1.7x slower — reproducing at 8 and 32 cores),
for two mechanism reasons the r17 commit itself documented for
``duplicate_clusters`` and then did not apply elsewhere:

* ``persist()`` keeps the FULL logical plan under every consumer, so
  each consumer action pays O(plan) re-analysis plus a CacheManager
  canonicalization lookup; iterative shapes (PQ/k-means training loops,
  unrolled pagerank steps) multiply that by the consumer count. The
  checkpoint truncates the consumer plan at a ``Scan ExistingRDD`` leaf,
  so each action re-plans a stub.
* The first action under ``persist()`` builds a COLUMNAR
  InMemoryRelation — encoding exploded posting lists / array<double>
  embedding frames into cached column batches costs far more than the
  checkpoint's raw UnsafeRow block writes, and those frames are 10-100x
  the input size by construction.

The checkpoint's build-time planning cost is real but second-order at
both ends: per call it is O(plan) once, while persist pays O(plan) per
consumer action; and the round-17 timings above are the ground truth.

Subtrees whose recomputation would be NON-deterministic
(RangePartitioner sampling, ``spark_partition_id`` layouts) must keep an
EAGER ``localCheckpoint`` — see ``operators/indexing.py``.

Plan visibility: the consumer's plan is truncated at ``Scan
ExistingRDD``, so the plan-regression gate cannot see the subtree's
scans/shuffles in the final plan. ``checkpoint_tracked`` fixes that: it
records the PRE-checkpoint plan in an (opt-in) capture list, so the gate
(``tests/test_plan_gate.py``) unions the final plan with every
materialized subtree's plan and asserts each source table is scanned at
most twice per executed query.

Use ``checkpoint_tracked`` (or ``persist_shared`` where gate capture is
not wanted) instead of a bare materialization whenever the frame has more
than one downstream consumer; single-consumer frames need none at all.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

# Capture list for the plan gate: ``None`` (the default) means tracking is
# off and checkpoint_tracked is exactly the bare materialization.
_capture: list[DataFrame] | None = None


def persist_shared(df: DataFrame) -> DataFrame:
    """Materialize a shared subtree once (lazy ``localCheckpoint``: blocks
    are computed by the first stage that needs them, every later consumer
    reads the persisted blocks) WITHOUT recording it for the plan gate."""
    return df.localCheckpoint(eager=False)


def checkpoint_tracked(df: DataFrame) -> DataFrame:
    """Materialize a shared subtree once (see module docstring) and record
    the pre-checkpoint plan for the scans-per-table gate.

    The capture snapshots the subtree's physical-plan STRING (the
    checkpointed Dataset's own plan is a bare ``Scan ExistingRDD`` stub,
    so it must be taken from the pre-checkpoint frame). Formatting the
    plan costs nothing in production: ``_capture`` is only non-None
    inside the test-only ``capture_subtrees`` block."""
    global _capture
    if _capture is not None:
        jvm = df.sparkSession._jvm
        _capture.append(
            jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
    return df.localCheckpoint(eager=False)


@contextmanager
def capture_subtrees():
    """Record every ``checkpoint_tracked`` subtree built inside the block.

    Yields the list the pre-checkpoint physical-plan STRINGS are appended
    to; the plan gate walks ``[final_plan] + subtrees`` to count
    per-table scans across the WHOLE executed query. Nested captures are
    not supported (tests run one builder at a time)."""
    global _capture
    prev = _capture
    _capture = []
    try:
        yield _capture
    finally:
        _capture = prev
