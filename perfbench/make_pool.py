"""Rebuild pool.json, the cost strata the query workload samples from.

    python3 perfbench/make_pool.py profile PROFILE.jsonl   # every query, cold, once
    python3 perfbench/make_pool.py build PROFILE.jsonl     # -> perfbench/pool.json

``profile`` runs each declared query on the benchmark corpus with both
caches cleared first, times build plus ``write_noop``, and compares the
output with its oracle. ``build`` keeps the queries that passed, drops
the anchors and the excluded query, keeps the cheaper half of each family
(so one cold pass fits in a run), and picks strata of three neighbours
in cost at evenly spaced ranks of each family's cost-sorted list. The
workload seed then draws one query per stratum, so different seeds run
different queries of nearly the same total cost.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import run

# Strata per family; q_d additionally gets one stratum of real streaming
# drains. Nine draws plus the anchor make a 10-query sample, which is what
# a young warm-up pass plus a timed pass can afford when a benchmark
# session gets about 50 s per run (see README.md).
STRATA = {"q_a": 1, "q_b": 2, "q_c": 1, "q_d": 1, "q_e": 2, "q_f": 1}
STRATUM_WIDTH = 3  # queries per stratum: close neighbours in cold cost
DRAIN_CHOICES = 3  # the cheapest real micro-batch drains, one stratum
DRAIN_FLOOR_S = 0.9  # q_d queries at least this slow run a true stream
# Never drawn, so that a rebuild reproduces pool.json.
EXCLUDED = ("q_f_pandas_group_map",)


def profile(out_path: str) -> None:
    run.configure_env(os.path.join(run.STATE, "runs", f"profile-{os.getpid()}"))
    corpus = run.ensure_corpus()
    import glaciersgee_spark as pkg
    from tests.parity import compare, make_duck
    from glaciersgee_spark.session import get_spark
    from glaciersgee_spark.sources.sinks import write_noop

    spark = get_spark("perfbench-profile")
    pkg.load_all_queries()
    con = make_duck(corpus)
    with open(out_path, "w") as f:
        for name, fn in sorted(pkg.QUERIES.items()):
            spark.catalog.clearCache()
            pkg.clear_caches()
            rec = {"name": name}
            try:
                t0 = time.perf_counter()
                df = fn(spark, corpus)
                t1 = time.perf_counter()
                write_noop(df)
                rec.update(build=t1 - t0, exec=time.perf_counter() - t1)
                rec["ok"] = compare(name, df, pkg.ORACLE[name], con) is None
            except Exception as e:  # noqa: BLE001 — record and go on
                rec.update(ok=False, err=f"{type(e).__name__}: {str(e)[:300]}")
            f.write(json.dumps(rec) + "\n")
            f.flush()
    spark.stop()


def narrow_strata(xs: list, k: int, width: int = STRATUM_WIDTH) -> list[list]:
    """k strata of ``width`` neighbours in cost order, centred on evenly
    spaced ranks of the cost-sorted list ``xs``."""
    out = []
    for j in range(k):
        centre = int((j + 0.5) * len(xs) / k)
        lo = max(0, min(centre - width // 2, len(xs) - width))
        out.append(xs[lo:lo + width])
    return out


def build(profile_path: str) -> dict:
    cost: dict[str, float] = {}
    with open(profile_path) as f:
        for line in f:
            r = json.loads(line)
            if r.get("ok"):
                cost[r["name"]] = round(r["build"] + r["exec"], 3)
    skip = set(run.CACHE_ANCHORS) | set(EXCLUDED)
    strata: dict[str, list[list[str]]] = {}
    for fam, k in STRATA.items():
        names = [n for n in cost if n.startswith(fam + "_") and n not in skip]
        if fam == "q_d":
            drains = sorted((n for n in names if cost[n] >= DRAIN_FLOOR_S), key=cost.get)
            names = [n for n in names if cost[n] < DRAIN_FLOOR_S]
        cap = statistics.median(cost[n] for n in names)
        names = sorted((n for n in names if cost[n] <= cap), key=lambda n: (cost[n], n))
        strata[fam] = narrow_strata(names, k)
        if fam == "q_d":
            strata[fam].append(drains[:DRAIN_CHOICES])
    used = {n for ss in strata.values() for s in ss for n in s}
    return {
        "about": "cold seconds per query (build + write_noop) on the benchmark "
                 "corpus; see make_pool.py",
        "strata": strata,
        "cold_s": {n: cost[n] for n in sorted(used | set(run.CACHE_ANCHORS)) if n in cost},
    }


def main() -> None:
    mode, path = sys.argv[1], sys.argv[2]
    if mode == "profile":
        profile(path)
    else:
        pool = build(path)
        with open(os.path.join(run.HERE, "pool.json"), "w") as f:
            json.dump(pool, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
