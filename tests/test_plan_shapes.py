"""Plan-shape regression guard — the PLANS.md audit as a pytest marker.

PLANS.md is regenerated manually (tools/dump_plans.py), so between regens a
plan-shape regression — a lost broadcast, a new exchange, a join degrading
to BroadcastNestedLoopJoin — would only surface in the next manual run.
This suite executes every AUDITED contract and asserts its required plan
operators directly, so the same regression fails a test run instead.

Marked `plans` (excluded from the default run to protect the suite-time
budget — the ~57 plan executions cost minutes): run with
`python -m pytest tests/ -m plans`, or everything via CI mode `-m ""`.
The single source of truth for the required operators stays
tools/dump_plans.py's AUDITED table — this file imports it, so the manual
regen and the pytest guard can never disagree.
"""

from __future__ import annotations

import re

import pytest

from silvia_spark import registry
from tests.conftest import SF_MID

from tools.dump_plans import AUDITED

pytestmark = pytest.mark.plans


# Big (fact-scale) tables must appear at most ONCE as a file scan in an
# executed plan: Catalyst has no plan-level common-subtree elimination, so
# referencing a derived frame twice silently rebuilds — and rescans — the
# whole fact subtree (the r07 audit caught 4 contracts doing this;
# curation_pipeline scanned documents FIVE times). Exceptions are listed
# with their justification; everything else fails the suite.
_BIG_TABLES = {"lineitem", "orders", "events", "documents", "embeddings"}
_MULTI_SCAN_OK = {
    "sim_topk_cosine": "query-vector point read (pushed vec_id=0, 1 row) "
                       "+ the corpus scan",
    "sim_join_threshold": "genuine all-pairs self-join (the test-scale "
                          "exact baseline the ANN family verifies against)",
    "text_contamination": "train and eval sides are DISJOINT filtered "
                          "subsets — each scan reads only its slice",
    "join_or_keys_union": "one filtered scan per OR-disjunct (each with "
                          "its own pushed filter) beats a single BNLJ",
    "join_interval_overlap": "two-sided self-overlap: each side scans "
                             "with its own filter + band replication",
    "text_unigram_logprob": "two passes BY DESIGN: pass 1 builds the "
                            "(reusable) language model, pass 2 re-reads "
                            "the corpus to score it against the LM",
}


@pytest.mark.parametrize(
    "name,required", [(n, r) for n, r, _ in AUDITED],
    ids=[n for n, _, _ in AUDITED])
def test_plan_exhibits_required_operators(spark, name, required):
    registry.load_all_modules()
    df = registry.QUERIES[name](spark, SF_MID)
    df.toArrow()  # execute so AQE settles on the final plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    missing = [r for r in required if r not in plan]
    assert not missing, (
        f"{name}: plan lost required operator(s) {missing} — a scale "
        "property asserted in PLANS.md regressed (regenerate with "
        "tools/dump_plans.py to inspect the drift)")

    if name not in _MULTI_SCAN_OK:
        final = plan.split("== Initial Plan ==")[0]
        scans: dict[str, int] = {}
        for m in re.finditer(r"Scan parquet[^\n]*?/(\w+)\.parquet", final):
            scans[m.group(1)] = scans.get(m.group(1), 0) + 1
        dups = {t: c for t, c in scans.items()
                if t in _BIG_TABLES and c > 1}
        assert not dups, (
            f"{name}: fact table scanned more than once {dups} — a "
            "derived frame is referenced twice and Catalyst rebuilt the "
            "subtree; restructure as a window over the aggregate or "
            "persist the shared frame (or whitelist with justification)")

    # The exact-cosine kernel must evaluate ONCE per plan: Catalyst's
    # filter pushdown substitutes a deterministic UDF into the
    # threshold predicate, scoring every surviving pair twice (r10
    # verdict — two ArrowEvalPython[_cos_arrow] nodes in the LSH verify
    # tail). The verify tails now threshold INSIDE a mapInPandas kernel
    # (score_pairs_threshold — no Filter-over-UDF exists to duplicate,
    # and no asNondeterministic barrier, whose executor-heap blowup the
    # sf1 candidate-dense regime measured in r11); remaining
    # ArrowEvalPython[_cos_arrow] sites are top-k/aggregate shapes with
    # no following threshold filter, single-eval by construction.
    final = plan.split("== Initial Plan ==")[0]
    cos_nodes = len(re.findall(r"ArrowEvalPython \[_cos_arrow", final))
    assert cos_nodes <= 1, (
        f"{name}: the Arrow cosine kernel appears {cos_nodes}× in the "
        "final plan — a pushed-down threshold duplicated the UDF; "
        "score through score_pairs_threshold (llm_ops)")


# --- position deletes: no regex over _metadata.file_path ---------------------
#
# Every DV-applying read keys its rows on the decoded file path through
# silvia_spark.io.with_file_pos — fixed string functions. A per-row
# regex over the path costs several times the decode on every row of
# a DV'd file and must not come back in any of the three readers.

_REGEX_FN = re.compile(r"(?i)regexp_\w*\(|\brlike\b")


def _assert_dv_plan_has_no_regex(df):
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "file_path" in plan and "LeftAnti" in plan, (
        "the read did not apply its deletes by (file, position)")
    assert not _REGEX_FN.findall(plan), (
        f"a regex runs in a DV-applying plan: {_REGEX_FN.findall(plan)}")


def test_manifest_dv_read_has_no_path_regex(spark, tmp_path):
    from silvia_spark.operators import manifest_table as mt

    root = str(tmp_path / "t")
    mt.create_table(spark.createDataFrame(
        [(i, "a:b" if i % 2 else "p", float(i)) for i in range(40)],
        "k BIGINT, part STRING, v DOUBLE").coalesce(1), root, "part",
        stats_cols=["k"])
    mt.commit_delete(spark, root, where="k IN (3, 4)")
    _assert_dv_plan_has_no_regex(mt.read_snapshot(spark, root))


def test_delta_dv_read_has_no_path_regex(spark, tmp_path):
    from silvia_spark.sources.delta_read import read_delta
    from tests.test_delta_read import _commit, _dv_file, _fixture

    root, (_a0, _b0, a1, _n0) = _fixture(tmp_path)
    _commit(root, 2, [
        {"add": {"path": a1, "partitionValues": {"p": "a"}, "size": 1,
                 "modificationTime": 0, "dataChange": False,
                 "deletionVector": _dv_file(root, [0, 2])}},
    ])
    _assert_dv_plan_has_no_regex(read_delta(spark, root))


def test_iceberg_position_delete_read_has_no_path_regex(spark, tmp_path):
    from silvia_spark.sources.iceberg_read import read_iceberg
    from tests.test_iceberg_read import (_data_file, _entry, _manifest,
                                         _metadata, _mlist,
                                         _pos_delete_file)

    root = str(tmp_path / "ice")
    fa = _data_file(root, "data/a.parquet", [1, 2, 3], "a")
    m1 = _manifest(root, "m1.avro", [_entry(fa, rows=3)])
    dl = _pos_delete_file(root, "data/del-1.parquet", [(fa, 1)])
    md = _manifest(root, "md.avro", [_entry(dl, content=1)])
    ml = _mlist(root, "snap-1.avro", [(m1, 0), (md, 1)])
    _metadata(root, [{"snapshot-id": 1, "manifest-list": ml}], current=1)
    _assert_dv_plan_has_no_regex(read_iceberg(spark, root))
