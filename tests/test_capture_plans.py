"""scripts/capture_plans.py normalizes each snapshot so plan diffs across
rounds show only real plan changes (no Spark needed)."""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from capture_plans import normalize_plan  # noqa: E402

TMP = tempfile.gettempdir()


def test_normalize_plan_strips_tmp_paths_and_renumbers_expr_ids():
    run_a = (
        "(1) Scan parquet\n"
        "Output [2]: [user_id#235L, ts#236]\n"
        f"Location: InMemoryFileIndex [file:{TMP}/engine_relayout_8yddzt0j/"
        "3260510570938583129_events]\n"
        "Location: InMemoryFileIndex [file:/data/sf0.1/part.parquet]\n"
        "(2) HashAggregate [codegen id : 1]\n"
        "Results [2]: [ts#236, count#240L]\n"
    )
    run_b = (
        run_a.replace("#235L", "#17L").replace("#236", "#18").replace("#240L", "#3L")
        .replace("8yddzt0j", "u_69he4w").replace("3260510570938583129", "42")
    )
    want = (
        "(1) Scan parquet\n"
        "Output [2]: [user_id#0L, ts#1]\n"
        "Location: InMemoryFileIndex [file:<tmp>/events]\n"
        "Location: InMemoryFileIndex [file:/data/sf0.1/part.parquet]\n"
        "(2) HashAggregate [codegen id : 1]\n"
        "Results [2]: [ts#1, count#2L]\n"
    )
    assert normalize_plan(run_a) == want
    assert normalize_plan(run_b) == want
