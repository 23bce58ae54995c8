"""Capture before/after physical plans for round-touched entries.

For each entry name given, builds the query DataFrame from (a) a
reference entry module snapshot (e.g. the previous round's
__spark_entry__.py, extracted via `git show`) and (b) the current
module, and writes `explain("formatted")` output to
plans/<round>/<name>_before.txt and _after.txt.

The capture scale is chosen per entry: the first scale dir (in the
order given) where the before/after plans DIFFER — many round-12 fixes
are measured-count gated and only re-plan above a fact/dim/docs gate,
so small scales show identical plans by design. When no scale shows a
difference the entry is captured at the first scale with a NOTE header
(helper-level change, plan-identical at capturable scales). Plans are
compared with the per-build ids masked (:func:`same_plan`); the written
files keep the raw text.

Usage:
  git show <r11-sha>:__spark_entry__.py > /tmp/entry_r11.py
  python tools/plan_capture.py /tmp/entry_r11.py plans/r12 \
      name1,name2,... /root/testdata/sf0.1 /tmp/sf10 /tmp/sf100
"""

from __future__ import annotations

import importlib.util
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _load(path: str, modname: str):
    spec = importlib.util.spec_from_file_location(modname, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[modname] = mod
    spec.loader.exec_module(mod)
    return mod


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# Ids that differ every time the same DataFrame is built: expression ids
# (``l_orderkey#123``), exchange plan ids (``[plan_id=45]``), checkpointed
# RDD ids (``MapPartitionsRDD[2968]``) and lambda variable names
# (``lambda x_952``).
_BUILD_IDS = re.compile(r"(#|plan_id=|RDD\[|lambda \w+?_)\d+")


def masked(plan: str) -> str:
    """``plan`` with its per-build ids replaced by fixed placeholders."""
    return _BUILD_IDS.sub(r"\1_", plan)


def same_plan(a: str, b: str) -> bool:
    """Are two formatted plans the same plan, whatever build made them?"""
    return masked(a) == masked(b)


def main() -> int:
    old_path, out_dir, names_arg = sys.argv[1], sys.argv[2], sys.argv[3]
    scales = sys.argv[4:]
    names = (
        Path(names_arg[1:]).read_text().split()
        if names_arg.startswith("@")
        else names_arg.split(",")
    )
    os.makedirs(out_dir, exist_ok=True)

    from boann_ocsf_security_data_platform_spark import get_spark

    import __spark_entry__ as new_mod

    old_mod = _load(old_path, "entry_before_snapshot")
    spark = get_spark(app_name="plan-capture", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    old_qs, new_qs = old_mod.queries(), new_mod.queries()

    for name in names:
        chosen = None
        plans = None
        for sf_dir in scales:
            try:
                before = _formatted(old_qs[name](spark, sf_dir))
                after = _formatted(new_qs[name](spark, sf_dir))
            except Exception as e:  # noqa: BLE001 - record and move on
                print(f"  ERR {name} @ {sf_dir}: {e}", flush=True)
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
