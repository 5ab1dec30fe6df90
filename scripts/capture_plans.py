#!/usr/bin/env python
"""Capture .explain("formatted") for headline (or named) batch ids into
plans/<tag>/<id>_<suffix>.txt — the before/after evidence files an
optimization round commits alongside the code.

    python scripts/capture_plans.py r12 before            # all batch headline ids
    python scripts/capture_plans.py r12 after q_kcore ... # named ids only

Streaming ids are skipped (construction drains a real stream; their
"plan" is the micro-batch runtime's, not a comparable batch plan).

Each snapshot is normalized before it is written (``normalize_plan``), so
plan diffs across rounds show only real plan changes.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from kafkastreamsjavachallenge_spark.queries import queries  # noqa: E402
from kafkastreamsjavachallenge_spark.session import (  # noqa: E402
    EngineConfig,
    build_session,
)

# mkdtemp dirs (8 random chars after the prefix) plus the catalog's
# hash-prefixed relayout copy names: both differ on every run
_TMP_PATH = re.compile(
    re.escape(tempfile.gettempdir()) + r"/[\w.-]*?[a-z0-9_]{8}/(?:\d+_)?"
)
_EXPR_ID = re.compile(r"#(\d+)")


def normalize_plan(txt: str) -> str:
    """Strip temp-directory paths and renumber expression ids (``#235L``)
    in order of first appearance."""
    txt = _TMP_PATH.sub("<tmp>/", txt)
    ids: dict[str, int] = {}
    return _EXPR_ID.sub(lambda m: f"#{ids.setdefault(m.group(1), len(ids))}", txt)


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r12"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = [a for a in sys.argv[3:] if a.startswith("q_")]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        tag,
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = build_session(
        EngineConfig(
            app_name="capture-plans",
            master=f"local[{cpus}]",
            shuffle_partitions=int(cpus),
        )
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    targets = names or [n for n in HEADLINE if not n.startswith("q_stream")]
    for name in targets:
        if name.startswith("q_stream"):
            print(f"SKIP {name} (streaming)")
            continue
        try:
            df = qs[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:
            txt = f"ERROR {type(exc).__name__}: {exc}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(normalize_plan(txt))
        print(f"WROTE {path} ({len(txt)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
