"""Plan-quality assertions as CI: pushdown, pruning, broadcast placement and
partial aggregation must hold for the headline plans (tools/explain_plans.py
is the human-readable variant of the same checks)."""

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))


def test_headline_plans_have_scale_properties(spark, pages_cache):
    import __spark_entry__ as entrymod
    from explain_plans import CHECKS

    qs = entrymod.queries()
    failures = []
    for name, checks in CHECKS.items():
        df = qs[name](spark, "/root/testdata/sf0.001")
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        for pat in checks.get("want", []):
            if not re.search(pat, plan):
                failures.append(f"{name}: missing {pat}")
        for pat in checks.get("must_not", []):
            if re.search(pat, plan):
                failures.append(f"{name}: violated {pat}")
    assert not failures, failures


def test_grok_escape_pushdown_contract(spark):
    """Numeric-escape patterns must either push the DECODED literal or no
    literal at all — CI pin for the round-4 ``\\xaa`` unsoundness class."""
    from explain_plans import grok_escape_contract

    assert grok_escape_contract(spark, "/root/testdata/sf0.001") == []


def test_pack_sequences_plan_contract(spark):
    """The packing window must stay hash-partitioned by bucket — a
    single-partition exchange would serialize the whole corpus onto one
    task at scale."""
    from explain_plans import pack_plan_contract

    assert pack_plan_contract(spark) == []


def test_search_graph_plan_contract(spark):
    from explain_plans import search_graph_plan_contract

    assert search_graph_plan_contract(spark) == []


def test_model_ops_plan_contract(spark):
    from explain_plans import model_ops_plan_contract

    assert model_ops_plan_contract(spark) == []


def test_crawl_ops_plan_contract(spark):
    from explain_plans import crawl_ops_plan_contract

    assert crawl_ops_plan_contract(spark) == []


def test_sketch_sample_plan_contract(spark):
    from explain_plans import sketch_sample_plan_contract

    assert sketch_sample_plan_contract(spark) == []


def test_budget_bucket_plan_contract(spark):
    from explain_plans import budget_bucket_plan_contract

    assert budget_bucket_plan_contract(spark) == []
