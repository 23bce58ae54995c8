"""Capture before/after physical plans for changed entries.

For each entry name given, builds the query DataFrame from (a) a
reference checkout of the repo (a ``git archive`` export of the parent
commit, say) and (b) this checkout, and writes ``explain("formatted")``
output to <out_dir>/<name>_before.txt and _after.txt.

Each side is built in its own subprocess with its checkout first on
``sys.path``, so the "before" plans come from the reference's own
``operators/`` package and session code, not from this checkout's: an
operator change shows up in the plans.

The capture scale is chosen per entry: the first scale dir (in the
order given) where the before/after plans DIFFER — many changes are
measured-count gated and only re-plan above a fact/dim/docs gate, so
small scales show identical plans by design. When no scale shows a
difference the entry is captured at the first scale with a NOTE header
(helper-level change, plan-identical at capturable scales). Plans are
compared with the per-build ids masked (:func:`same_plan`); the written
files keep the raw text.

Usage:
  mkdir ../parent && git archive <sha> | tar -x -C ../parent
  python tools/plan_capture.py ../parent plans/<change> \
      name1,name2,... <sf0.1 dir> <sf10 dir>
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# Ids that differ every time the same DataFrame is built: expression ids
# (``l_orderkey#123``), exchange plan ids (``[plan_id=45]``), checkpointed
# RDD ids (``MapPartitionsRDD[2968]``) and lambda variable names
# (``lambda x_952``); and ids that follow execution order: codegen stage
# ids (``*(3) Project``, ``[codegen id : 3]``) and AQE query-stage ids
# (``ShuffleQueryStage 2`` in the tree, ``Arguments: 2`` in its details).
_BUILD_IDS = re.compile(
    r"(#|plan_id=|RDD\[|lambda \w+?_|\*\(|\[codegen id : |QueryStage )\d+"
)
_STAGE_ARGS = re.compile(r"(QueryStage\n(?:Output [^\n]*\n)?Arguments: )\d+")


def masked(plan: str) -> str:
    """``plan`` with its per-build ids replaced by fixed placeholders."""
    return _STAGE_ARGS.sub(r"\1_", _BUILD_IDS.sub(r"\1_", plan))


def same_plan(a: str, b: str) -> bool:
    """Are two formatted plans the same plan, whatever build made them?"""
    return masked(a) == masked(b)


def dump(checkout: str, out_json: str, names: list[str], scales: list[str]):
    """Write {name: {scale: plan text or None}} for ``checkout``'s entries
    to ``out_json``. Run in a fresh process: ``checkout`` must come first
    on ``sys.path`` before anything imports the engine."""
    sys.path.insert(0, checkout)
    os.chdir(checkout)
    from boann_ocsf_security_data_platform_spark import get_spark
    from boann_ocsf_security_data_platform_spark.operators import cache_scope

    import __spark_entry__ as mod

    spark = get_spark(app_name="plan-capture", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = mod.queries()
    plans = {}
    for name in names:
        plans[name] = {}
        for sf_dir in scales:
            try:
                with cache_scope():
                    plans[name][sf_dir] = _formatted(qs[name](spark, sf_dir))
            except Exception as e:  # noqa: BLE001 - record and move on
                print(f"  ERR {name} @ {sf_dir}: {e}", flush=True)
                plans[name][sf_dir] = None
    Path(out_json).write_text(json.dumps(plans))


def _side(checkout: str, names: list[str], scales: list[str]) -> dict:
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "plans.json")
        subprocess.run(
            [sys.executable, __file__, "--dump", checkout, out,
             ",".join(names), *scales],
            check=True,
        )
        return json.loads(Path(out).read_text())


def main() -> int:
    if sys.argv[1] == "--dump":
        checkout, out_json, names_arg = sys.argv[2:5]
        dump(os.path.abspath(checkout), out_json, names_arg.split(","),
             sys.argv[5:])
        return 0
    old_checkout, out_dir, names_arg = sys.argv[1], sys.argv[2], sys.argv[3]
    scales = [os.path.abspath(s) for s in sys.argv[4:]]
    names = (
        Path(names_arg[1:]).read_text().split()
        if names_arg.startswith("@")
        else names_arg.split(",")
    )
    os.makedirs(out_dir, exist_ok=True)
    old = _side(os.path.abspath(old_checkout), names, scales)
    new = _side(str(ROOT), names, scales)

    for name in names:
        chosen = None
        plans = None
        for sf_dir in scales:
            before, after = old[name][sf_dir], new[name][sf_dir]
            if before is None or after is None:
                continue
            if not same_plan(before, after):
                chosen, plans = sf_dir, (before, after)
                break
            if chosen is None:
                chosen, plans = sf_dir, (before, after)
        if plans is None:
            print(f"  SKIP {name}: no scale produced a plan", flush=True)
            continue
        differ = not same_plan(*plans)
        note = "" if differ else (
            "NOTE: before/after plans are IDENTICAL at every capturable "
            "scale - the change is gated on a measured row count above "
            "these scales, or touches only non-plan helper code.\n"
        )
        hdr = f"-- entry: {name}\n-- captured at: {chosen}\n{note}\n"
        for tag, text in zip(("before", "after"), plans):
            Path(out_dir, f"{name}_{tag}.txt").write_text(hdr + text)
        print(
            f"  ok {name} @ {chosen} ({'diff' if differ else 'same'})",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
