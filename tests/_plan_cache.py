"""Shared one-build-per-query plan cache (r18).

The r17 gate re-built and re-planned every catalog builder per test —
~680 builder invocations across test_plan_gate's parametrized tests and
its three whole-catalog loops, plus another full-catalog build in
test_catalog_extras — which blew the driver's verify budget
(VERIFY_r17, at 1814ba1 in git history: pytest truncated at 81%,
tests_ok=false). Every consumer
is a pure function of the formatted plan STRING, the captured subtree
plan strings, and the builder's column list, so ONE build per query
feeds them all: the session-scoped ``catalog_plans`` fixture
(tests/conftest.py) calls :func:`build_catalog_plans` once and every
gate test reads from the cache. Identical audit surface, ~4x fewer
builder invocations.
"""

from __future__ import annotations

#: plan-gate session confs: auto-broadcast OFF so a BroadcastHashJoin in
#: a plan can come only from an explicit hint; metadata strings untruncated
#: so PushedFilters/ReadSchema parse whole (see test_plan_gate docstring).
GATE_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.maxMetadataStringLength": "10000",
}


def set_confs(spark, confs: dict) -> dict:
    """Set session confs (a None value unsets one); returns the previous
    values in the same form, so passing them back restores the session
    exactly — including confs that were never set."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)
    return saved


def fmt_plan(df) -> str:
    """``explain('formatted')`` text of a DataFrame, pre-execution."""
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def build_catalog_plans(spark, sf_dir: str) -> dict:
    """name -> {plan, subtrees, columns} for every catalog query.

    Built under the gate confs, restored (or unset, when the session had
    no value) after the loop. clearCache around each build empties the
    session-global cache manager, so a frame one builder ``cache()``s is
    never substituted into another query's plan. It does not release
    the builders' shared subtrees: those are lazy ``localCheckpoint``s
    (``operators/materialize.py``), whose plans end at their own
    ``Scan ExistingRDD`` leaf and so cannot leak into another query.
    """
    from shopify_etl_spark.operators.materialize import capture_subtrees
    from shopify_etl_spark.plans import QUERIES

    saved = set_confs(spark, GATE_CONFS)
    plans: dict[str, dict] = {}
    try:
        for name, spec in QUERIES.items():
            spark.catalog.clearCache()
            with capture_subtrees() as subtrees:
                df = spec.builder(spark, sf_dir)
            plans[name] = {
                "plan": fmt_plan(df),
                "subtrees": list(subtrees),
                "columns": list(df.columns),
            }
        spark.catalog.clearCache()
    finally:
        set_confs(spark, saved)
    return plans
