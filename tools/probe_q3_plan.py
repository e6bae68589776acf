"""Diagnose the q3/q5 x100 second-decade bend seen in the r13 x100
probe: per-decade wall grew ~2x in per-row terms on the 10x->100x
segment. Hypotheses: (a) a join-strategy TRANSITION (the orders side
fits the 10 MB broadcast threshold at 1x/10x but not at 100x, so the
plan flips broadcast-hash -> sort-merge and pays a 60M-row sort), or
(b) fixed 32 shuffle partitions binding at 60M rows.

Prints, per scale: the physical join node names and the min-of-2 wall
at the session default partitions AND (x100 only) at 4x partitions —
if (b) were the cause, 4x partitions would move the wall; if (a), the
node list flips between scales and the wall tracks the strategy.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from streaming_data_spark.session import (  # noqa: E402
    BATCH_PARTITIONS_KEY,
    batch_shuffle_partitions,
    get_session,
)
import __spark_entry__ as entry  # noqa: E402

# Same env-var resolution as scale_probe_100x.py (r13 ADVICE: the 4x
# re-run used to hardcode /tmp/sfx100 and skip the isdir guard).
X100 = os.environ.get("SPARK_GRAFT_X100_DIR", "/tmp/sfx100")
SCALES = (("sf0.1", os.environ.get("SPARK_GRAFT_SF_DIR",
                                   "/root/testdata/sf0.1")),
          ("x10", os.environ.get("SPARK_GRAFT_X10_DIR", "/tmp/sfx10")),
          ("x100", X100))
JOIN_RE = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)")


def main() -> None:
    name = sys.argv[1] if len(sys.argv) > 1 else "q3_shipping_priority"
    spark = get_session(app_name="probe-q3-plan")
    fn = entry.queries()[name]
    report: dict[str, dict] = {}
    for label, d in SCALES:
        if not os.path.isdir(d):
            continue
        df = fn(spark, d)
        # Initial cost-model strategies (pre-execution) ...
        joins_initial = JOIN_RE.findall(
            df._jdf.queryExecution().executedPlan().toString())
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        # ... and the final AQE-decided strategies AFTER execution
        # (r13 ADVICE: AQE can convert SortMergeJoin back to
        # BroadcastHashJoin at runtime, so the initial list alone can
        # misstate what actually executed). The noop writes above run
        # their OWN QueryExecution, so finalize THIS df's adaptive
        # plan explicitly (untimed, executor-side row count — no
        # driver collect) before re-reading it.
        df._jdf.queryExecution().toRdd().count()
        # The finalized AdaptiveSparkPlan prints BOTH sections
        # ("== Final Plan ==" then "== Initial Plan =="); keep only
        # the final one or the initial strategies re-contaminate the
        # list this field exists to clean up.
        final_txt = df._jdf.queryExecution().executedPlan().toString()
        final_txt = final_txt.split("== Initial Plan ==")[0]
        joins_final = JOIN_RE.findall(final_txt)
        report[label] = {"joins_initial": joins_initial,
                         "joins_final": joins_final,
                         "sec": round(best, 3)}
        print(label, report[label], file=sys.stderr)
    # Partition-count sensitivity at x100 only (same env-resolved
    # dir + isdir guard as the SCALES loop — r13 ADVICE).
    if os.path.isdir(X100):
        old = batch_shuffle_partitions(spark)
        spark.conf.set(BATCH_PARTITIONS_KEY, str(old * 4))
        try:
            df = fn(spark, X100)
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            report["x100_4xparts"] = {"sec": round(best, 3)}
            print("x100_4xparts", report["x100_4xparts"], file=sys.stderr)
        finally:
            spark.conf.set(BATCH_PARTITIONS_KEY, str(old))
    print(json.dumps({"probe": f"{name}_plan_transition", "scales": report}))
    spark.stop()


if __name__ == "__main__":
    main()
