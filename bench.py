"""t3 bench harness.

Output protocol (round-3 fix — BENCH_r01/r02 recorded `parsed: null`
because the old single huge JSON line was truncated by the driver's
bounded stdout capture): the FIRST line is a short, always-parseable
summary JSON {"metric", "value", "unit", "sf", "n_queries"}; then one
small JSON line per query {"query", "sec", "cold"}; then the summary
is repeated as the LAST line (so both head- and tail-bounded captures
contain a parseable total). Because the driver's capture is bounded,
the FULL battery is additionally written repo-side (round 11, VERDICT
r10 item 3) to ``BENCH_LOCAL_r{N}.json`` — the complete per-query
{sec, cold, class} map plus the calibration stamp — so per-query
round-over-round regression diffs are mechanical, not limited to the
~31 alphabetical-tail lines that survive the driver capture.

Methodology (documented in BASELINE.md §protocol): each query runs
FOUR times — an untimed warm-up (Catalyst planning, whole-stage
codegen compilation, Python-worker spin-up: one-time costs that
amortize to zero at any real scale) and three timed steady-state
runs, of which the MINIMUM is reported. Min-of-3 because this host shows
random multi-second stalls that hit a different query every run
(measured: the same query swinging 1.4 s ↔ 20.7 s across identical-
code runs while the rest of the suite was unchanged) — the minimum is
the standard low-noise estimator for wall-clock work actually
required. `spark.catalog.clearCache()` plus
`glaciersgee_spark.caches.clear_caches()` after every run keeps each
timed run honest: clearCache() drops the DataFrames a query persists,
and clear_caches() drops the app-scoped frames and driver values
(`scoped_persist`/`scoped_value`, e.g. the k-means centroids), which
clearCache() alone leaves in place, so every run re-computes
everything. The cold (first-run) times are reported under "cold" so
nothing is hidden; "value" is the sum over queries of the per-query
minimum.

Execution is measured with the noop sink so the number is engine time
(scan→compute→sink), not driver-side row serialization. Scale factor
comes from $SPARK_GRAFT_SF_DIR (default sf0.1); parallelism from
$SPARK_GRAFT_CPUS via the session factory.

Host calibration (round 10 — VERDICT r9 item 3, mechanical
normalization): immediately before the battery, the calibration set
(q_b_mad: JVM shuffle+window; q_f_pandas_window: Arrow boundary;
q_e_winnow: JVM codegen-heavy) runs under the same min-of-3
protocol and its readings are stamped INTO both summary lines
as "calibration", alongside "host_index" — the mean of the three
ratios vs the recorded 2026-08-15 basis {q_b_mad: 1.94,
q_f_pandas_window: 0.93, q_e_winnow: 1.31} (BASELINE.md calibration-
trio series). Round-over-round comparisons divide the battery total
by host_index instead of a hand-argued narrative.

Per-class normalization (round 11 — VERDICT r10 item 4): the uniform
trio-mean over-corrects JVM-heavy batteries when a drift episode hits
the sensitivity classes unevenly (the r10 [0.456, 0.544] s/q bracket
came from winnow ratio 2.28 vs mad 1.88 inside one evening). The
calibration set is now a QUAD spanning three classes — jvm (q_b_mad:
shuffle+window, q_e_winnow: codegen-heavy; the class index is their
mean ratio), arrow (q_f_pandas_window), python (q_f_cogroup_map, new
this round — see _TRIO for its basis anchoring) — stamped as
"host_index_by_class", and every battery query is classified
MECHANICALLY from its physical plan (Arrow round-trip nodes ⇒ arrow;
Python-kernel map/group/cogroup/UDTF/scan nodes ⇒ python; else jvm —
a static table over 468 ops would rot; the plan string cannot). The
summary then carries BOTH totals: "value_norm_uniform" (battery /
uniform index, the r10-comparable number) and "value_norm_by_class"
(Σ per-query sec / its class index), collapsing the bracket to one
number.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from __spark_entry__ import queries  # noqa: E402
from glaciersgee_spark.caches import clear_caches  # noqa: E402
from glaciersgee_spark.session import get_spark  # noqa: E402

N_TIMED = 3

# Calibration quad: query → (sensitivity class, 2026-08-15-equivalent
# basis seconds, solo min-of-3). Round-11 correction: q_e_winnow's
# physical plan is PURE JVM (broadcast joins + hash aggregates — the
# round-10 "Python-kernel" label was wrong; verified by plan
# inspection), so the jvm class gets BOTH JVM shapes (mad =
# shuffle+window, winnow = codegen/expression-heavy) and a genuine
# Python-kernel probe joins the set: q_f_cogroup_map
# (FlatMapCoGroupsInPandas — a full pandas cogroup kernel). Its basis
# was anchored 2026-08-16 by one chained solo probe on the same run:
# solo 1.441 s at a host state where q_f_pandas_window read 2.582× its
# 08-15 basis; 1.441 / 2.582 ≈ 0.558 → basis 0.56 (the nearest-class
# ratio is the least-wrong anchor available; one-time, documented).
_TRIO = {
    "q_b_mad": ("jvm", 1.94),
    "q_e_winnow": ("jvm", 1.31),
    "q_f_pandas_window": ("arrow", 0.93),
    "q_f_cogroup_map": ("python", 0.56),
}

# Physical-plan markers of a full Python-kernel stage (whole batches
# handed to a Python worker that dominates the query's wall clock).
_PY_MARKERS = (
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInArrow",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow",
    "BatchEvalPython",  # row-pickling UDFs + BatchEvalPythonUDTF
    "(Python)",  # Python data source BatchScan
)

# Vectorized Arrow round-trip expressions (scalar/window pandas UDFs) —
# a lighter Python boundary with its own host sensitivity.
_ARROW_MARKERS = ("ArrowEvalPython", "ArrowWindowPython")


def _query_class(df) -> str:
    """jvm / arrow / python from the physical plan string (mechanical —
    a static 468-row table would rot; the plan string cannot. Falls
    back to jvm if the plan can't be rendered, which only
    under-normalizes, never crashes the bench)."""
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:  # noqa: BLE001 — classification must not kill timing
        return "jvm"
    if any(m in plan for m in _PY_MARKERS):
        return "python"
    if any(m in plan for m in _ARROW_MARKERS):
        return "arrow"
    return "jvm"


def _round_number() -> int:
    """Current build round: $SPARK_GRAFT_ROUND, else 1 + the highest
    driver-recorded BENCH_r{N}.json in the repo root."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return max(rounds, default=0) + 1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("ggee-bench")

    qs = queries()
    # Warm-up: the heaviest JVM shape plus one Arrow pandas-UDF query,
    # so Python-worker spin-up (a one-time cost) doesn't land on the
    # alphabetically-first Group E query's cold number.
    qs["q_b_agg_hash"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    qs["q_e_sim_topk"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    clear_caches()

    # Host-calibration trio: same min-of-3 protocol, run FIRST so the
    # readings describe the host that produced the battery that
    # follows. Basis values: BASELINE.md calibration-trio series,
    # 2026-08-15 column. Each trio query is guarded like the battery
    # loop (ADVICE r10): a broken trio query records -1.0 and the
    # indexes are computed from the surviving ratios.
    calibration: dict[str, float] = {}
    for name in _TRIO:
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
            clear_caches()
            timed = []
            for _ in range(N_TIMED):
                t0 = time.monotonic()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                timed.append(time.monotonic() - t0)
                spark.catalog.clearCache()
                clear_caches()
            calibration[name] = round(min(timed), 3)
        except Exception as e:  # noqa: BLE001
            calibration[name] = -1.0
            print(f"# BENCH ERROR {name}: {type(e).__name__}: {e}", file=sys.stderr)
    by_class: dict[str, list[float]] = {}
    for n, (cls, basis) in _TRIO.items():
        if calibration.get(n, -1.0) > 0:
            by_class.setdefault(cls, []).append(calibration[n] / basis)
    ratios = {
        cls: round(sum(v) / len(v), 3) for cls, v in by_class.items()
    }
    # Uniform index: mean over the ORIGINAL r10 trio only, so the
    # series stays comparable to BENCH_r10's stamp (the python probe
    # is new this round and feeds only the per-class number).
    trio_ratios = [
        calibration[n] / basis
        for n, (_cls, basis) in _TRIO.items()
        if n != "q_f_cogroup_map" and calibration.get(n, -1.0) > 0
    ]
    host_index = (
        round(sum(trio_ratios) / len(trio_ratios), 3) if trio_ratios else None
    )

    per: dict[str, float] = {}
    cold: dict[str, float] = {}
    qclass: dict[str, str] = {}
    for name in sorted(qs):
        try:
            df = qs[name](spark, sf_dir)
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            cold[name] = round(time.monotonic() - t0, 3)
            qclass[name] = _query_class(df)
            spark.catalog.clearCache()
            clear_caches()
            timed: list[float] = []
            for _ in range(N_TIMED):
                t0 = time.monotonic()
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                timed.append(time.monotonic() - t0)
                spark.catalog.clearCache()
                clear_caches()
            per[name] = round(min(timed), 3)
        except Exception as e:  # noqa: BLE001 — a broken query must not hide the rest
            cold.setdefault(name, -1.0)
            per[name] = -1.0
            qclass.setdefault(name, "jvm")
            print(f"# BENCH ERROR {name}: {type(e).__name__}: {e}", file=sys.stderr)
    total = round(sum(v for v in per.values() if v > 0), 3)
    norm_uniform = (
        round(total / host_index, 3) if host_index and host_index > 0 else None
    )
    norm_by_class = (
        round(
            sum(
                v / ratios.get(qclass[n], host_index)
                for n, v in per.items()
                if v > 0
            ),
            3,
        )
        if host_index
        else None
    )

    summary = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(per),
        "calibration": calibration,
        "host_index": host_index,
        "host_index_by_class": ratios,
        "value_norm_uniform": norm_uniform,
        "value_norm_by_class": norm_by_class,
    }
    print(json.dumps(summary), flush=True)
    for name in sorted(per):
        print(json.dumps({"query": name, "sec": per[name], "cold": cold.get(name)}))
    print(json.dumps(summary), flush=True)

    # Repo-side full battery artifact (VERDICT r10 item 3): everything
    # the bounded driver capture drops, tracked per round.
    local = {
        "summary": summary,
        "queries": {
            n: {"sec": per[n], "cold": cold.get(n), "class": qclass.get(n, "jvm")}
            for n in sorted(per)
        },
    }
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, f"BENCH_LOCAL_r{_round_number():02d}.json")
    with open(path, "w") as f:
        json.dump(local, f, indent=1, sort_keys=True)
    print(f"# full battery written to {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
