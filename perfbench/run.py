"""The repository benchmark: query mixes and CLI pipelines, timed from outside.

    python3 perfbench/run.py --workload query-cold --seed 1 --seconds 15 --trace 0

One process, one client, closed loop: the next operation starts when the
previous one returns. The seed picks the query sample, the pipeline
configs and the done-log; the corpus itself is fixed (see gen.py) and is
built once per checkout under ``.perfbench/``.

Workloads (BENCHMARK.json has the metric list, README.md the reasons):

* ``query-cold``: before every query both caches are cleared; the query
  function call (plan build, including eager driver actions) and its
  ``write_noop`` execution are timed as separate spans. The traced run
  also times a warm pass (caches filled, never cleared) for the
  ``caches`` layer.
* ``pipelines``: ``cli.main`` in-process for the scene manifest, the
  corpus clean and the curation report, caches cleared before each call.

Every workload first runs untimed warm-up passes over its operations,
counted in ``setup_s``, so the JVM's JIT warm-up is not in the timed
passes.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, read from Spark's
status store and a streaming listener the benchmark registers. Every
run also writes a result file (run stamp, metrics, one record per
operation) and, when traced, a spans file under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import hashlib
import io
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
PROGRAM_FILES = ("glaciersgee_spark/__init__.py", "tests/parity.py", "bench.py")

SF = 0.01
WORKLOADS = ("query-cold", "pipelines")
# Always in the query sample: Lloyd's training at plan build, kept in a
# module cache that clear_caches() empties.
ANCHORS = ("q_e_kmeans_train",)
# The two consumers of that training, whose re-paid cold cost the traced
# query-cold run checks (ivf runs there as an extra, unmeasured op).
CACHE_ANCHORS = ("q_e_kmeans_train", "q_e_ivf_trained")
# The r13 battery's figures for the cache anchors (sf0.1, 32 cores,
# caches never cleared), quoted in the result file beside their cold cost.
R13_SECONDS = {"q_e_kmeans_train": {"sec": 0.483, "cold": 0.533},
               "q_e_ivf_trained": {"sec": 1.733, "cold": 1.592}}
# Untimed passes over the workload's own operations before measuring,
# counted in setup_s. A young JVM runs the first pass two to three times
# as slow as later ones (class loading, JIT), by an amount that swings
# with the host's load; the pipelines' second pass is still about 20%
# slower than their third.
WARMUP_PASSES = {"query-cold": 1, "pipelines": 2}
# Pass numbers of the operations outside the timed passes.
WARMUP_PASS, FILL_PASS, ANCHOR_PASS, WARM_PASS = -1, -2, -3, -4
PIPELINES = {"scene": "pipeline.scene_manifest_s", "corpus": "pipeline.corpus_clean_s",
             "report": "pipeline.curation_report_s"}
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
# No new pass starts after this much wall time, which keeps a run well
# inside its 180 s limit even when the program gets slower.
HARD_STOP_S = 120.0
START = time.time()


def program_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in PROGRAM_FILES)


def configure_env(run_dir: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    the run directory, and size Spark to this host."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    sys.path.insert(0, ROOT)


def ensure_corpus() -> str:
    """Build the fixed corpus once per checkout; later runs reuse it."""
    import gen

    path = os.path.join(STATE, f"corpus-sf{SF}")
    if not os.path.isfile(os.path.join(path, "_COMPLETE")):
        shutil.rmtree(path, ignore_errors=True)
        part = f"{path}.part{os.getpid()}"
        gen.write_corpus(part, SF)
        open(os.path.join(part, "_COMPLETE"), "w").close()
        os.replace(part, path)
    return path


# --------------------------------------------------------------- seeded inputs


def query_sample(seed: int) -> list[str]:
    """One query from every cost stratum, then the anchor.

    Strata (pool.json) group queries of one family and similar cold cost,
    so every seed draws a different sample of about the same total work.
    The order is fixed by stratum rather than shuffled: in a young JVM a
    query's cost depends on how many ran before it (JIT warm-up), so a
    shuffled order would move seconds between seeds.
    """
    with open(os.path.join(HERE, "pool.json")) as f:
        strata = json.load(f)["strata"]
    rng = random.Random(seed)
    return [rng.choice(s) for fam in sorted(strata) for s in strata[fam]] + list(ANCHORS)


def pipeline_inputs(seed: int, n_events: int) -> dict:
    rng = random.Random(seed)
    start = dt.datetime(2024, 1, 1) + dt.timedelta(days=rng.randint(0, 14))
    end = start + dt.timedelta(days=rng.randint(7, 14))
    fmt = "%Y-%m-%d %H:%M:%S"
    return {
        "scene": {
            "date_start": start.strftime(fmt),
            "date_end": end.strftime(fmt),
            "max_quality": round(rng.uniform(40.0, 120.0), 2),
            "event_types": sorted(rng.sample(EVENT_TYPES, rng.randint(2, 4))),
        },
        "corpus": {
            "min_tokens": rng.randint(10, 25),
            "max_tokens": rng.randint(70, 99),
            "min_distinct_ratio": round(rng.uniform(0.25, 0.4), 3),
            "train_pct": rng.randint(70, 85),
            "val_pct": rng.randint(5, 15),
        },
        "done_ids": sorted(rng.sample(range(n_events), n_events // 4)),
    }


# ------------------------------------------------------------------ run stamp


def git_commit() -> str | None:
    """HEAD of the checkout, read from .git without running git (the
    benchmark's checkout is usually not a repository)."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if os.path.isfile(os.path.join(git, ref)):
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


def source_digest() -> str:
    """sha256 over the program's and the benchmark's Python sources, which
    identifies both when there is no git metadata."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, p) for p in PROGRAM_FILES]
    for top in ("glaciersgee_spark", "perfbench"):
        for dirpath, dirnames, names in os.walk(os.path.join(ROOT, top)):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names) if n.endswith((".py", ".json"))]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def run_stamp(args, load_before) -> dict:
    import platform

    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_commit": git_commit(),
        "source_sha256_16": source_digest(),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "sf": SF,
        "loadavg_before": load_before,
        "loadavg_after": list(os.getloadavg()),
        "normalisation": "none; compare parent and change in order-alternating pairs on one host",
    }


# ------------------------------------------------------------------ the bench


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One benchmark process: a session, its observers and the op log."""

    def __init__(self, args, corpus: str, run_dir: str):
        from probe import BatchListener, StatusStore, Tracer

        import glaciersgee_spark as pkg
        from glaciersgee_spark.session import get_spark

        self.corpus = corpus
        self.run_dir = run_dir
        self.tracer = Tracer(bool(args.trace))
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.setup: dict[str, float] = {}
        self.anchors: dict[str, dict] = {}
        self.listener = None

        t0 = time.time()
        self.spark = get_spark("perfbench")
        t1 = time.time()
        pkg.load_all_queries()
        t2 = time.time()
        self.tracer.add("session.get_spark", t0, t1)
        self.tracer.add("registry.load_all_queries", t1, t2)
        self.setup.update({"session.get_spark_s": t1 - t0,
                           "registry.load_all_queries_s": t2 - t1})
        self.pkg = pkg
        self.queries = dict(pkg.QUERIES)
        self.oracle = dict(pkg.ORACLE)
        self.sc = self.spark.sparkContext
        self.store = StatusStore(self.spark)
        if args.trace:
            self.listener = BatchListener()
            self.spark.streams.addListener(self.listener)

    # -- helpers ------------------------------------------------------------

    def clear(self, parent: int | None = None) -> dict:
        t0 = time.time()
        self.spark.catalog.clearCache()
        got = self.pkg.clear_caches()
        t1 = time.time()
        self.tracer.add("caches.clear_caches", t0, t1, parent, **got)
        return {"clear_s": t1 - t0, **got}

    def warm_up(self, one_pass, n: int) -> None:
        """Run n untimed passes; their wall time is part of setup_s."""
        t0 = time.time()
        for _ in range(n):
            one_pass()
        t1 = time.time()
        self.tracer.add("warm_up", t0, t1)
        self.setup["warm_up_s"] = t1 - t0

    def setup_s(self) -> float:
        return sum(self.setup.values())

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"# perfbench: FAILED {what}", file=sys.stderr)

    def attribute(self, rec: dict, jobs, t_split: float | None,
                  build_span: int, exec_span: int) -> None:
        """Fold the op's jobs into its record and its span tree; jobs
        submitted before t_split belong to the build, the rest to the
        execution (one client, so windows never overlap)."""
        from probe import JOB_COUNTERS, union_seconds

        build = [j for j in jobs if t_split is not None and j.start < t_split]
        exe = [j for j in jobs if j not in build]
        rec["jobs"] = len(jobs)
        rec["group_jobs"] = sum(1 for j in jobs if j.group == rec["label"])
        rec["busy_s"] = union_seconds([(j.start, j.end) for j in jobs])
        for c in ("input_records", "input_bytes", "output_records", "output_bytes"):
            rec[c] = sum(getattr(j, c) for j in jobs)
        rec["write_end"] = max((j.end for j in jobs if j.output_bytes), default=None)
        if t_split is not None:
            rec["build_jobs"] = len(build)
            rec["exec_jobs"] = len(exe)
            for c in JOB_COUNTERS:
                rec["exec_" + c] = sum(getattr(j, c) for j in exe)
        for j in jobs:
            self.tracer.add(f"spark.job.{j.job_id}", j.start, j.end,
                            build_span if j in build else exec_span,
                            group=j.group, stages=j.stages, tasks=j.tasks)

    def attribute_batches(self) -> None:
        """Streaming micro-batches become children of the build span whose
        window holds their trigger time; the group id of a drain is its
        runId, so the time window is what attributes them."""
        if self.listener is None:
            return
        time.sleep(0.2)  # listener events arrive on the callback thread
        by_op = [r for r in self.ops if r.get("traced") and r.get("build_span") is not None]
        for b in self.listener.batches:
            for r in by_op:
                if r["t0"] <= b.start <= r["t1"]:
                    r.setdefault("batches", []).append(b)
                    self.tracer.add(f"streaming.batch.{b.batch_id}", b.start,
                                    b.start + b.duration_ms.get("triggerExecution", 0) / 1000.0,
                                    r["build_span"], run_id=b.run_id)
                    break

    # -- query operations ---------------------------------------------------

    def run_query(self, name: str, pass_no: int, traced: bool, cold: bool,
                  check_con=None) -> dict:
        from glaciersgee_spark.sources.sinks import write_noop
        from probe import tree_cpu_s

        label = f"{name}#{pass_no}"
        rec = {"op": name, "pass": pass_no, "label": label, "traced": traced, "ok": True}
        if traced:
            self.sc.setJobGroup(label, label)
        c0 = tree_cpu_s()
        t0 = time.time()
        t1 = None
        df = None
        try:
            df = self.queries[name](self.spark, self.corpus)
            t1 = time.time()
            write_noop(df)
        except Exception:  # noqa: BLE001 — one broken op must not hide the rest
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=3)
        t2 = time.time()
        rec["cpu_s"] = tree_cpu_s() - c0
        if traced:
            self.sc.setJobGroup("perfbench", "untimed")
        rec.update(t0=t0, t1=t1 or t2, build_s=(t1 or t2) - t0,
                   exec_s=t2 - (t1 or t2), wall_s=t2 - t0)
        op = self.tracer.add(f"op.{name}", t0, t2, None, pass_no=pass_no)
        rec["build_span"] = None
        if traced:
            rec["build_span"] = self.tracer.add("build", t0, rec["t1"], op)
            exec_span = self.tracer.add("exec", rec["t1"], t2, op)
            self.attribute(rec, self.store.drain(), rec["t1"], rec["build_span"], exec_span)
            rec["persisted_bytes"] = self.store.persisted_bytes()
        else:
            rec["jobs"] = self.store.count()
        if rec["ok"] and check_con is not None:
            from bench import _query_class

            self.check_query(rec, df, check_con)
            rec["class"] = _query_class(df)
        probe = traced and cold and rec["ok"] and name in CACHE_ANCHORS and name not in self.anchors
        warm_build_jobs = self.warm_build_jobs(name) if probe else None
        self.store.skip_to_now()
        if cold:
            rec.update(self.clear(op))
        if probe:
            self.anchor_verdict(rec, warm_build_jobs)
        if not rec["ok"]:
            self.fail(f"{label}: {rec.get('error') or rec.get('mismatch')}")
        self.ops.append(rec)
        return rec

    def check_query(self, rec: dict, df, con) -> None:
        from tests.parity import compare

        sql = self.oracle[rec["op"]]
        try:
            mm = compare(rec["op"], df, sql, con)
            rec["rows"] = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        except Exception:  # noqa: BLE001
            mm = traceback.format_exc(limit=3)
        if mm is not None:
            rec["ok"] = False
            rec["mismatch"] = str(mm)[:2000]

    def warm_build_jobs(self, name: str) -> int:
        """Jobs launched while building a cache anchor again, caches kept."""
        from glaciersgee_spark.sources.sinks import write_noop

        self.store.skip_to_now()
        t0 = time.time()
        df = self.queries[name](self.spark, self.corpus)
        t1 = time.time()
        write_noop(df)
        self.anchors[name] = {"warm_build_s": t1 - t0, "warm_wall_s": time.time() - t0}
        return sum(1 for j in self.store.drain(detail=False) if j.start < t1)

    def anchor_verdict(self, rec: dict, warm_build_jobs: int) -> None:
        """The cold run must re-pay the training: it left cache entries
        behind, and building again from a warm cache launches fewer jobs."""
        a = self.anchors[rec["op"]]
        a.update(cold_build_jobs=rec["build_jobs"], warm_build_jobs=warm_build_jobs,
                 cache_entries=rec["entries"], cold_build_s=rec["build_s"],
                 cold_wall_s=rec["wall_s"], r13_battery_sf01=R13_SECONDS[rec["op"]])
        a["ok"] = rec["entries"] > 0 and rec["build_jobs"] > warm_build_jobs
        if not a["ok"]:
            rec["ok"] = False
            rec["mismatch"] = f"anchor check failed: {a}"

    def query_pass(self, names, pass_no: int, trace: bool, cold: bool,
                   con=None, checked: set | None = None) -> None:
        """Every sampled query once, in order; each query's output is
        checked the first time it runs when a DuckDB connection is given."""
        if cold:
            self.clear()
        for name in names:
            if time.time() - START > HARD_STOP_S:
                return
            check = con if checked is not None and name not in checked else None
            if checked is not None:
                checked.add(name)
            self.run_query(name, pass_no, trace, cold, check)

    # -- pipeline operations ------------------------------------------------

    def pipeline_argv(self, kind: str, inputs: dict, out: str) -> list[str]:
        base = ["--sf-dir", self.corpus, "--out", out]
        if kind == "scene":
            return [json.dumps(inputs["scene"]), *base, "--done-log", inputs["done_log"]]
        if kind == "corpus":
            return ["--corpus", json.dumps(inputs["corpus"]), *base]
        return ["--report", *base]

    def run_pipeline(self, kind: str, pass_no: int, traced: bool, inputs: dict,
                     expected: dict, con) -> dict:
        from glaciersgee_spark import cli
        from probe import tree_cpu_s

        label = f"{kind}#{pass_no}"
        out = os.path.join(self.run_dir, "out", label.replace("#", "-"))
        rec = {"op": kind, "pass": pass_no, "label": label, "traced": traced, "ok": True}
        self.store.skip_to_now()
        self.clear()  # a fresh CLI process starts with empty caches
        argv = self.pipeline_argv(kind, inputs, out)
        buf = io.StringIO()
        if traced:
            self.sc.setJobGroup(label, label)
        c0 = tree_cpu_s()
        t0 = time.time()
        try:
            with contextlib.redirect_stdout(buf):
                rc = cli.main(argv)
            if rc != 0:
                raise RuntimeError(f"cli.main returned {rc}")
        except Exception:  # noqa: BLE001
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=3)
        t1 = time.time()
        rec["cpu_s"] = tree_cpu_s() - c0
        if traced:
            self.sc.setJobGroup("perfbench", "untimed")
        rec.update(t0=t0, t1=t1, wall_s=t1 - t0)
        op = self.tracer.add(f"cli.main.{kind}", t0, t1, None, pass_no=pass_no, argv=argv)
        if traced:
            self.attribute(rec, self.store.drain(), None, op, op)
            rec["post_write_s"] = t1 - rec["write_end"] if rec["write_end"] else 0.0
            rec["files"] = sum(
                f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs
            )
        else:
            rec["jobs"] = self.store.count()
        if rec["ok"] and con is not None:
            self.check_pipeline(rec, kind, buf.getvalue(), inputs, expected, out, con)
        shutil.rmtree(out, ignore_errors=True)
        if not rec["ok"]:
            self.fail(f"{label}: {rec.get('error') or rec.get('mismatch')}")
        self.ops.append(rec)
        return rec

    def check_pipeline(self, rec, kind, stdout, inputs, expected, out, con) -> None:
        import checks

        try:
            summary = json.loads(stdout.strip().splitlines()[-1])
            rec["summary"] = {k: v for k, v in summary.items() if k != "output_dir"}
            if kind == "scene":
                mm = checks.check_scene(con, self.corpus, inputs["scene"],
                                        set(inputs["done_ids"]), summary, out)
            elif kind == "corpus":
                mm = checks.check_corpus(con, self.corpus, inputs["corpus"], summary, out)
            else:
                mm = checks.check_report(con, expected["report"], summary, out)
        except Exception:  # noqa: BLE001
            mm = traceback.format_exc(limit=3)
        if mm is not None:
            rec["ok"] = False
            rec["mismatch"] = str(mm)[:2000]

    # -- teardown -----------------------------------------------------------

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        if self.listener is not None:
            self.spark.streams.removeListener(self.listener)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


# ------------------------------------------------------------------ workloads


def passes(bench: Bench, seconds: float, one_pass) -> None:
    """Run whole passes while the next one is expected to end inside the
    measuring window; always at least one. The window counts timed
    operation seconds only, not the output checks between operations."""
    timed = last = 0.0
    n = 0
    while n == 0 or timed + last <= seconds:
        if time.time() - START > HARD_STOP_S:
            break
        one_pass(n)
        last = sum(r["wall_s"] for r in bench.ops if r["pass"] == n)
        timed += last
        n += 1


def run_queries(bench: Bench, args) -> dict:
    from tests.parity import make_duck

    names = query_sample(args.seed)
    bench.warm_up(lambda: bench.query_pass(names, WARMUP_PASS, False, True),
                  WARMUP_PASSES["query-cold"])
    info: dict = {"setup_s": bench.setup_s(), "sample": names}
    con = make_duck(bench.corpus)
    bench.store.skip_to_now()
    checked: set[str] = set()

    def one_pass(n: int) -> None:
        bench.query_pass(names, n, bool(args.trace), True, con, checked)

    passes(bench, args.seconds, one_pass)
    if args.trace:
        for name in CACHE_ANCHORS:
            if name not in bench.anchors:
                bench.run_query(name, ANCHOR_PASS, True, True, con)
        # The caches layer's warm side: fill the caches with one pass,
        # then time a pass that never clears them.
        bench.query_pass(names, FILL_PASS, False, False)
        bench.query_pass(names, WARM_PASS, True, False)
        info["warm_s"] = total([r for r in bench.ops if r["pass"] == WARM_PASS and r["ok"]],
                               "wall_s")
        info["warm_clear"] = bench.clear()
    return info


def run_pipelines(bench: Bench, args) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    import checks
    from tests.parity import make_duck

    con = make_duck(bench.corpus)
    n_events = con.sql("SELECT count(*) FROM events").fetchone()[0]
    inputs = pipeline_inputs(args.seed, n_events)
    inputs["done_log"] = os.path.join(bench.run_dir, "done_log.parquet")
    pq.write_table(pa.table({"event_id": pa.array(inputs["done_ids"], pa.int64())}),
                   inputs["done_log"])
    expected = {"report": checks.report_expected(bench.oracle, con)}

    def one_pass(n: int, traced: bool = bool(args.trace), check=con) -> None:
        for kind in PIPELINES:
            if time.time() - START > HARD_STOP_S:
                return
            bench.run_pipeline(kind, n, traced, inputs, expected, check)

    bench.warm_up(lambda: one_pass(WARMUP_PASS, False, None), WARMUP_PASSES["pipelines"])
    bench.store.skip_to_now()
    passes(bench, args.seconds, one_pass)
    return {"setup_s": bench.setup_s(), "pipeline_inputs": {k: v for k, v in inputs.items()
                                                            if k != "done_ids"}}


# -------------------------------------------------------------------- metrics


def per_op(ops: list[dict], field: str) -> dict[str, float]:
    """Median of one field per operation name, over its passes."""
    by: dict[str, list[float]] = {}
    for r in ops:
        v = r.get(field)
        if v is not None:
            by.setdefault(r["op"], []).append(v)
    return {k: median(v) for k, v in by.items()}


def total(ops: list[dict], field: str, names=None) -> float:
    return sum(v for k, v in per_op(ops, field).items() if names is None or k in names)


def end_to_end(bench: Bench, info: dict) -> dict[str, float]:
    ops = [r for r in bench.ops if r["pass"] >= 0 and r["ok"] and not r["traced"]]
    return {"setup_s": info["setup_s"], "op_total_s": total(ops, "wall_s")}


def per_layer(bench: Bench, info: dict, workload: str) -> dict[str, float]:
    from probe import peak_rss_mb
    from tests.parity import make_duck

    m: dict[str, float] = dict(bench.setup)
    measured = [r for r in bench.ops if r["pass"] >= 0 and r["ok"]]
    ops = [r for r in measured if r["traced"]]
    jvm = getattr(bench.sc._gateway, "proc", None)
    wall = total(ops, "wall_s")
    busy = total(ops, "busy_s")
    jobs = total(ops, "jobs")
    m.update({
        "op_p50_s": median(list(per_op(ops, "wall_s").values())),
        "cpu.op_s": total(ops, "cpu_s"),
        "peak_rss_mb": peak_rss_mb(jvm.pid if jvm else None),
        "jobs.count": jobs,
        "jobs.busy_s": busy,
        "jobs.ms_per_job": 1000.0 * busy / jobs if jobs else 0.0,
        "driver.gap_s": wall - busy,
        "scan.input_records": total(ops, "input_records"),
        "scan.input_bytes": total(ops, "input_bytes"),
        "caches.clear_s": total(ops, "clear_s"),
        "caches.entries": total(ops, "entries"),
        "caches.frames": total(ops, "frames"),
        "caches.persisted_bytes": total(ops, "persisted_bytes"),
    })
    untraced = untraced_totals(workload)
    m["trace.overhead_frac"] = wall / median(untraced) - 1.0 if untraced else 0.0
    m["failed_frac"] = (
        sum(1 for r in bench.ops if not r["ok"]) / len(bench.ops) if bench.ops else 0.0
    )
    m["trace.group_jobs_frac"] = total(ops, "group_jobs") / jobs if jobs else 0.0

    if workload != "pipelines":
        build = total(ops, "build_s")
        rows = per_op(ops, "rows")
        m.update({
            "operators.build_s": build,
            "operators.build_jobs": total(ops, "build_jobs"),
            "operators.build_share": build / wall if wall else 0.0,
            "exec.s": total(ops, "exec_s"),
            "exec.jobs": total(ops, "exec_jobs"),
            "exec.stages": total(ops, "exec_stages"),
            "exec.tasks": total(ops, "exec_tasks"),
            "exec.executor_run_ms": total(ops, "exec_run_ms"),
            "exec.executor_cpu_ms": total(ops, "exec_cpu_ms"),
            "exec.gc_ms": total(ops, "exec_gc_ms"),
            "exec.shuffle_read_bytes": total(ops, "exec_shuffle_read_bytes"),
            "exec.shuffle_write_bytes": total(ops, "exec_shuffle_write_bytes"),
            "exec.spill_bytes": total(ops, "exec_spill_bytes"),
            "scan.records_per_output_row": (
                m["scan.input_records"] / sum(rows.values()) if sum(rows.values()) else 0.0
            ),
        })
        run = m["exec.executor_run_ms"]
        m["exec.cpu_per_run"] = m["exec.executor_cpu_ms"] / run if run else 0.0
        for fam in ("q_a", "q_b", "q_c", "q_d", "q_e", "q_f"):
            names = {r["op"] for r in ops if r["op"].startswith(fam + "_")}
            m[f"operators.build_s.{fam}"] = total(ops, "build_s", names)
        classes = {r["op"]: r["class"] for r in measured if "class" in r}
        for cls in ("python", "arrow"):
            m[f"udfs.{cls}_s"] = total(
                ops, "wall_s", {n for n, c in classes.items() if c == cls}
            )
        batches = [b for r in ops for b in r.get("batches", [])]
        n_pass = len({r["pass"] for r in ops}) or 1
        m.update({
            "streaming.batches": len(batches) / n_pass,
            "streaming.add_batch_ms": sum(b.duration_ms.get("addBatch", 0) for b in batches) / n_pass,
            "streaming.planning_ms": sum(b.duration_ms.get("queryPlanning", 0) for b in batches) / n_pass,
            "streaming.wal_commit_ms": sum(b.duration_ms.get("walCommit", 0) for b in batches) / n_pass,
            "streaming.state_rows": sum(b.state_rows for b in batches) / n_pass,
            "streaming.state_memory_bytes": max((b.state_memory_bytes for b in batches), default=0),
        })
        for key in ("cold_build_jobs", "warm_build_jobs", "cache_entries"):
            m[f"anchors.{key}"] = sum(a[key] for a in bench.anchors.values())
        m["caches.cold_base_s"] = wall
        m["caches.warm_base_s"] = info["warm_s"]
        m["caches.warm_speedup"] = wall / info["warm_s"] if info["warm_s"] else 0.0
    else:
        rows_in = {"scene": "events", "corpus": "documents"}
        for kind, name in PIPELINES.items():
            sub = [r for r in ops if r["op"] == kind]
            m[name] = total(sub, "wall_s")
            m[f"pipeline.{kind}.jobs"] = total(sub, "jobs")
        con = make_duck(bench.corpus)
        for kind, table in rows_in.items():
            sub = [r for r in ops if r["op"] == kind]
            n = con.sql(f"SELECT count(*) FROM {table}").fetchone()[0]
            m[f"pipeline.{kind}.scan_passes"] = total(sub, "input_records") / n
            m[f"pipeline.{kind}.post_write_s"] = total(sub, "post_write_s")
        out_b = total(ops, "output_bytes")
        out_r = total(ops, "output_records")
        m.update({
            "sinks.output_bytes": out_b,
            "sinks.output_records": out_r,
            "sinks.files": total(ops, "files"),
            "sinks.bytes_per_row": out_b / out_r if out_r else 0.0,
        })
    return m


def untraced_totals(workload: str) -> list[float]:
    """op_total_s of the untraced runs of a workload, on these sources,
    that the checkout has kept: the base of trace.overhead_frac."""
    digest = source_digest()
    out = []
    results = os.path.join(STATE, "results")
    for name in os.listdir(results) if os.path.isdir(results) else ():
        if not name.startswith(workload + "-") or "-trace0-" not in name:
            continue
        with open(os.path.join(results, name)) as f:
            d = json.load(f)
        if d["stamp"]["source_sha256_16"] == digest and "op_total_s" in d["result"]["metrics"]:
            out.append(d["result"]["metrics"]["op_total_s"]["value"])
    return out


def shape(spec: list[dict], values: dict[str, float]) -> dict:
    return {s["name"]: {"value": float(values.get(s["name"], 0.0)), "unit": s["unit"]}
            for s in spec}


def op_record(r: dict) -> dict:
    keep = ("op", "pass", "traced", "ok", "t0", "build_s", "exec_s", "wall_s", "cpu_s", "jobs",
            "build_jobs", "exec_jobs", "group_jobs", "busy_s", "entries", "frames",
            "clear_s", "persisted_bytes", "rows", "class", "post_write_s", "files",
            "summary", "error", "mismatch")
    out = {k: r[k] for k in keep if k in r}
    if r.get("batches"):
        out["streaming_batches"] = len(r["batches"])
    return out


# ----------------------------------------------------------------------- main


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        print("perfbench: the program is not in this checkout "
              f"(need {', '.join(PROGRAM_FILES)} beside perfbench/)", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    load_before = list(os.getloadavg())
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(STATE, "runs", run_id)
    configure_env(run_dir)
    sys.path.insert(0, HERE)
    corpus = ensure_corpus()

    bench = Bench(args, corpus, run_dir)
    try:
        if args.workload == "pipelines":
            info = run_pipelines(bench, args)
        else:
            info = run_queries(bench, args)
        bench.attribute_batches()
        if args.trace:
            metrics = shape(spec["per_layer"], per_layer(bench, info, args.workload))
        else:
            metrics = shape(spec["end_to_end"], end_to_end(bench, info))
    finally:
        bench.stop()

    failed = sum(1 for r in bench.ops if not r["ok"])
    result = {"correct": failed == 0 and bool(bench.ops), "attempted": max(1, len(bench.ops)),
              "failed": failed, "metrics": metrics}
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    base = os.path.join(STATE, "results", run_id)
    with open(base + ".json", "w") as f:
        json.dump({
            "stamp": run_stamp(args, load_before),
            "result": result,
            "info": info,
            "anchors": bench.anchors,
            "failures": bench.failures,
            "ops": [op_record(r) for r in bench.ops],
        }, f, indent=1, default=str)
    if args.trace:
        bench.tracer.write(base + ".spans.json")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(f"# perfbench: results in {os.path.relpath(base, ROOT)}.json", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
