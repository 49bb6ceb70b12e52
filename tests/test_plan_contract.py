"""Repo-wide physical-plan contract (SURVEY §2.9 + the scale rules):
every registered query's executed plan is swept at sf0.001 and pinned
against the anti-patterns the round reviews check by hand —

* no shuffle-based ``CartesianProduct`` anywhere (broadcast-scalar
  attachment shows as BroadcastNestedLoopJoin over a 1-row side and is
  the sanctioned form; a CartesianProduct means two big sides met
  without keys);
* no row-at-a-time Python UDF (``BatchEvalPython``) anywhere;
* Arrow-batched pandas UDFs (``ArrowEvalPython``) only at the ONE
  sanctioned site — the r07 Debezium decimal decode;
* no keyed pandas (``FlatMapGroupsInPandas``) anywhere: the batch
  loop guard (functions/loopguard.py) and the ap06 replay are
  JVM-side folds.

Adding a query that trips one of these is a deliberate decision: extend
the allowlist here WITH the scale argument.
"""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"

ARROW_SANCTIONED = {"r07_decimal_decode"}


@pytest.fixture(scope="module")
def plans(spark):
    from cdc_sync_poc_spark.registry import QUERIES, load_all_queries

    load_all_queries()
    return {
        name: fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        for name, fn in QUERIES.items()
    }


def test_no_cartesian_product_anywhere(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert bad == [], bad


def test_no_row_at_a_time_python_udf_anywhere(plans):
    bad = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert bad == [], bad


def test_arrow_pandas_udf_only_at_sanctioned_site(plans):
    got = {n for n, p in plans.items() if "ArrowEvalPython" in p}
    assert got <= ARROW_SANCTIONED, sorted(got - ARROW_SANCTIONED)


def test_no_keyed_pandas_anywhere(plans):
    bad = [n for n, p in plans.items() if "FlatMapGroupsInPandas" in p]
    assert bad == [], bad


# ---- broadcast boundedness (VERDICT r10 "What's wrong" #2) ----
#
# An EXPLICIT F.broadcast hint pins the strategy at every scale, so its
# input must be provably bounded — a corpus-proportional broadcast is
# correct at sf0.1 and an executor OOM at 100x (the r10 `weak` set:
# the vec_id % 5 recall sample, 20% of the corpus, broadcast with full
# vectors). Rule, applied to every ResolvedHint in every query's
# ANALYZED logical plan (hints only: an unhinted join is AQE's runtime
# stats call and re-plans itself at scale):
#
#   bounded iff the hint subtree contains a REDUCING node —
#     GlobalLimit (absolute budgets / top-K), LocalRelation (literal
#     frames), OneRowRelation, Range (0, 1) (the from_json centroid
#     frames), Aggregate (key-domain-sized: vocab, per-source, 1-row
#     scalars), Deduplicate/Distinct/Intersect (candidate-id sets,
#     bounded by the banded pair count) —
#   OR every leaf relation is a CONSTANT dim (TPC-H nation=25 and
#     region=5 rows at EVERY scale factor by spec; customer/supplier/
#     part GROW with SF and are deliberately not on this list — their
#     hints were removed in r11, the optimizer picks their strategy).
#
# Aggregate subtree caveat: a grouping key that grows with the corpus
# (doc_id) would still pass this structural rule — key-domain
# boundedness is argued per-site in docstrings (Heaps-law vocab,
# 20-source fixture, banded candidates); the rule's job is catching
# the raw-row proportional subset, which has NO reducing node.

_REDUCING = (
    "GlobalLimit",
    "LocalRelation",
    "OneRowRelation",
    "Aggregate",
    "Deduplicate",
    "Distinct",
    "Intersect",
)
_CONSTANT_DIM_HEAD_COLS = ("n_nationkey", "r_regionkey")


def _walk_logical(node):
    yield node
    it = node.children().iterator()
    while it.hasNext():
        yield from _walk_logical(it.next())


def _hint_is_bounded(root) -> bool:
    leaves_ok = True
    for n in _walk_logical(root):
        nm = n.nodeName()
        if nm in _REDUCING:
            return True
        if nm == "Range" and "Range (0, 1," in n.simpleString(60):
            return True
        if nm == "LogicalRelation":
            head = n.output().head().name()
            if head not in _CONSTANT_DIM_HEAD_COLS:
                leaves_ok = False
    return leaves_ok


def test_broadcasts_are_bounded(spark):
    from cdc_sync_poc_spark.registry import QUERIES, load_all_queries

    load_all_queries()
    bad = []
    for name, fn in QUERIES.items():
        analyzed = fn(spark, SF)._jdf.queryExecution().analyzed()
        for n in _walk_logical(analyzed):
            if n.nodeName() == "ResolvedHint" and not _hint_is_bounded(
                n.children().head()
            ):
                bad.append(name)
                break
    assert bad == [], (
        f"corpus-proportional broadcast hints (no reducing node, "
        f"non-constant leaves): {bad}"
    )
