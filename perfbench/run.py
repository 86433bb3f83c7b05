#!/usr/bin/env python3
"""The repository's benchmark: entity-resolution workloads on local[4].

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke
    python3 perfbench/run.py --write-fingerprints

A run sets the workload up several times (session start, seeded input
generation and caching) and reports the median as ``setup_s``, makes one
untimed warm-up call, then makes timed calls until ``--seconds`` have
passed, checking every call's outputs. With ``--trace 0`` it reports the
end-to-end metrics named in BENCHMARK.json; with ``--trace 1`` it
alternates untraced and traced calls and reports the per-layer metrics.
Human-readable lines start with ``#``; the last line of standard output is
the JSON result. The exit code is non-zero when any correctness gate
failed, and no result is printed when the input fingerprint is wrong.

``--smoke`` runs every workload at its smoke size in both modes and checks
that each result parses and carries every metric BENCHMARK.json names.
``--write-fingerprints`` regenerates perfbench/fingerprints.json.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work" / str(os.getpid())  # per run: runs may overlap
FINGERPRINTS = HERE / "fingerprints.json"
SETUP_REPS = 3
LAYERS = ("rollup", "blocking", "scoring", "resolve", "cluster", "incremental")
LAYER_METRICS = ("wall_s", "cpu_s", "jobs", "tasks", "rows_out",
                 "shuffle_write_mb", "spill_mb")
KERNELS = ("jaro_winkler", "levenshtein_ratio", "token_set_jaccard")
KERNEL_PAIRS = {"full": 20000, "smoke": 2000}
FINGERPRINT_SEEDS = range(1024)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - _T0:7.2f}s] {msg}", flush=True)


# ---------------------------------------------------------------- session


def start_session():
    from record_matcher_spark.session import get_spark

    for d in ("spark-local", "warehouse", "tmp"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.driver.memory": "3g",
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the gateway JVM (and with it Spark's Python workers) and wait
    for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def code_hash(directory: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(directory.rglob("*.py")):
        h.update(str(p.relative_to(directory)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


# ---------------------------------------------------------------- calls


def timed_call(wl, sc, tracer=None) -> dict:
    """One call: wall and machine CPU around the call, the storage the call
    left persisted (held after it returns, before anything is released,
    less what was held before it), then the output check. A call that
    raises or fails its check counts as failed."""
    from tracing import cpu_busy_s, storage_mb

    rec: dict = {"ok": False}
    held = storage_mb(sc)
    c0, t0 = cpu_busy_s(), time.perf_counter()
    try:
        res = wl.traced_call(tracer) if tracer else wl.call()
    except Exception:
        traceback.print_exc()
        return rec
    rec.update(wall=time.perf_counter() - t0, cpu=cpu_busy_s() - c0,
               cache_mb=storage_mb(sc) - held, items=res.items)
    try:
        if tracer is not None:
            rec["layers"] = tracer.layer_stats()
            rec["edges_in"] = sum(sp.inputs[0].count() for sp in tracer.spans
                                  if sp.layer == "cluster")
        rec["q"] = q = wl.check(res)
        rec["ok"] = q.ok
        if not q.ok:
            log(f"check failed: {q.detail}")
    except Exception:
        traceback.print_exc()
    finally:
        wl.release(res)
        if tracer is not None:
            tracer.release()
    return rec


def kernel_rates(spark, seed: int, n_pairs: int) -> dict[str, float]:
    """Pairs per second of each scorer's public Spark expression over one
    fixed, cached pair set (median of three passes)."""
    from pyspark.sql import functions as F

    from record_matcher_spark.functions.scorers import SCORERS, blank_coalesce
    from workloads import name_tables

    xs, ys, _ = name_tables(seed + 1, n_pairs)
    rows = [(f"{x[1]} {x[2]}", f"{y[1]} {y[2]}") for x, y in zip(xs, ys)]
    pairs = spark.createDataFrame(rows, "a string, b string").cache()
    pairs.count()
    out = {}
    for name in KERNELS:
        scored = pairs.select(SCORERS[name].expr(
            blank_coalesce(F.col("a")), blank_coalesce(F.col("b"))).alias("s"))
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            scored.agg(F.sum("s")).first()
            walls.append(time.perf_counter() - t0)
        out[f"scorers.{name}.pairs_per_s"] = n_pairs / statistics.median(walls)
    pairs.unpersist()
    return out


def layer_metrics(rec: dict) -> dict[str, float]:
    """Flat ``<layer>.<metric>`` values of one traced call, with ratios."""
    stats = rec["layers"]
    store_read = all("shuffle_write_mb" in d for d in stats.values())
    out = {}
    for layer in LAYERS:
        d = stats.get(layer, {})
        for m in LAYER_METRICS:
            if store_read or m not in ("shuffle_write_mb", "spill_mb"):
                out[f"{layer}.{m}"] = d.get(m, 0)

    def ratio(a, b):
        return a / b if b else 0.0

    cands = out["blocking.rows_out"]
    out["blocking.cands_per_conv"] = ratio(cands, out["rollup.rows_out"])
    out["blocking.edge_yield"] = ratio(rec["edges_in"], cands)
    out["scoring.pairs_per_s"] = ratio(out["scoring.rows_out"],
                                       out["scoring.wall_s"])
    out["cluster.edges_in"] = rec["edges_in"]
    out["resolve.matched_frac"] = rec["q"].extra.get("resolve.matched_frac", 0.0)
    out["incremental.cands_per_batch_conv"] = 0.0  # set by the increment probe
    attributed = sum(d["wall_s"] for d in stats.values())
    out["trace.unattributed_s"] = rec["wall"] - attributed
    return out


# ---------------------------------------------------------------- one run


def check_fingerprint(wl, size_key: str, seed: int) -> None:
    """The generated input's (rows, order-free hash) must match the stored
    fingerprint for this size and seed. Seeds with no stored fingerprint
    (beyond FINGERPRINT_SEEDS) are run unchecked, and the log says so."""
    fp = wl.fingerprint()
    stored = json.loads(FINGERPRINTS.read_text()).get(wl.name, {})
    want = stored.get(size_key, {}).get(str(seed))
    if want is not None and list(fp) != want:
        raise SystemExit(
            f"perfbench: {wl.name} input for seed {seed} ({size_key}) has "
            f"fingerprint {list(fp)}, stored {want}: the generator changed"
        )
    log(f"input fingerprint {fp[0]} rows, hash {fp[1]} "
        f"({'matches the stored one' if want else 'none stored'} for "
        f"seed {seed}, {size_key} size)")


def run(name: str, seed: int, seconds: float, trace: bool,
        size_key: str = "full") -> dict:
    from tracing import Tracer, median_of, proc_stat, steal_pct
    from workloads import WORKLOADS

    wl = WORKLOADS[name]()
    size = wl.sizes[size_key]
    log(f"perfbench {name} seed={seed} seconds={seconds} trace={int(trace)} "
        f"size={size} ({size_key})")

    setup_walls = []
    for rep in range(1 if trace else SETUP_REPS):
        t0 = time.perf_counter()
        spark = start_session()
        wl.setup(spark, seed, size)
        setup_walls.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1 and not trace:
            wl.teardown()
            spark.stop()
    sc = spark.sparkContext

    check_fingerprint(wl, size_key, seed)
    log("run_info " + json.dumps({
        "code_hash": code_hash(ROOT / "record_matcher_spark"),
        "bench_hash": code_hash(HERE),
        "spark": sc.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "cpus": os.cpu_count(),
    }))

    gates = wl.gates(spark, seed)
    t0 = time.perf_counter()
    warm = timed_call(wl, sc)
    log(f"setup seconds per repetition {[round(s, 3) for s in setup_walls]}; "
        f"warm-up call {time.perf_counter() - t0:.3f} s")
    if "q" in warm:
        log(f"warm-up call check: {warm['q'].detail}")

    window = proc_stat()
    calls, traced = [], []
    t_end = time.perf_counter() + seconds
    while True:
        if trace:
            # alternate which side of the pair runs first
            first_traced = len(calls) % 2 == 1
            for is_traced in (first_traced, not first_traced):
                rec = timed_call(wl, sc, Tracer(sc) if is_traced else None)
                (traced if is_traced else calls).append(rec)
        else:
            calls.append(timed_call(wl, sc))
        if time.perf_counter() >= t_end:
            break
    steal = steal_pct(window)

    metrics: dict[str, float] = {}
    done = [c for c in calls if "wall" in c]
    if trace:
        t_done = [c for c in traced if "q" in c and "layers" in c]
        reference = done[0]["q"].signature if done and "q" in done[0] else None
        for c in traced:
            if "q" in c and c["q"].signature != reference:
                c["ok"] = False
                log(f"drift: traced outputs {c['q'].signature} differ from "
                    f"untraced {reference}")
        if t_done:
            metrics.update(median_of([layer_metrics(c) for c in t_done]))
            metrics["trace.overhead_s"] = (
                statistics.median(c["wall"] for c in t_done)
                - statistics.median(c["wall"] for c in done))
        if done:
            # untraced calls only: a traced call persists every layer output
            metrics["cache_mb"] = statistics.median(c["cache_mb"] for c in done)
        t0 = time.perf_counter()
        probe_metrics, probe_gates = wl.probes(spark)
        metrics.update(probe_metrics)
        gates += probe_gates
        t1 = time.perf_counter()
        metrics.update(kernel_rates(spark, seed, KERNEL_PAIRS[size_key]))
        log(f"probes {t1 - t0:.3f} s, kernels {time.perf_counter() - t1:.3f} s")
        log("traced call seconds " + str([round(c["wall"], 3) for c in t_done])
            + "; self seconds by layer " + json.dumps(
                {k: round(metrics.get(f"{k}.wall_s", 0), 3) for k in LAYERS}))
    elif done:
        walls = [c["wall"] for c in done]
        p50 = statistics.median(walls)
        qs = [c["q"] for c in done if "q" in c]
        metrics = {
            "setup_s": statistics.median(setup_walls),
            "throughput": statistics.median(c["items"] for c in done) / p50,
            "run_s_p50": p50,
            "cpu_s": statistics.median(c["cpu"] for c in done),
        }
        for k in ("f1", "precision", "recall"):
            metrics[k] = statistics.median(getattr(q, k) for q in qs) if qs else 0.0
        # No percentile above the median has ten of a run's few calls
        # beyond it, so the run states its slowest call instead of a tail.
        log(f"call seconds {[round(w, 3) for w in walls]}: slowest "
            f"{max(walls):.3f} of {len(walls)}; throughput counts {wl.items}")

    all_calls = [warm] + calls + traced
    attempted = len(all_calls) + len(gates)
    failed = sum(not c["ok"] for c in all_calls) + sum(not g[1] for g in gates)
    for gate, ok, detail in gates:
        log(f"gate {gate}: {'ok' if ok else 'FAILED'} ({detail})")
    if all_calls[-1].get("q") is not None:
        log(f"last call check: {all_calls[-1]['q'].detail}")
    log(f"steal {steal:.2f}% over the measured window; failed_frac "
        f"{failed / attempted:.4f} ({failed} of {attempted} calls and gates)")
    wl.teardown()
    spark.stop()
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def emit(result: dict, spec: dict, trace: bool) -> str:
    """The JSON result line: every metric BENCHMARK.json names for this
    mode that the run measured, with its unit."""
    names = spec["per_layer" if trace else "end_to_end"]
    metrics = {}
    for m in names:
        if m["name"] in result["metrics"]:
            metrics[m["name"]] = {"value": result["metrics"][m["name"]],
                                  "unit": m["unit"]}
            log(f"metric {m['name']} = {result['metrics'][m['name']]:.6g} "
                f"{m['unit']}")
    return json.dumps({"correct": result["correct"],
                       "attempted": result["attempted"],
                       "failed": result["failed"], "metrics": metrics})


def validate(line: str, spec: dict, trace: bool) -> list[str]:
    """Problems with a result line: it must parse, be correct, and carry
    every metric of its mode with the unit BENCHMARK.json gives."""
    r = json.loads(line)
    problems = []
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(r)}")
    if r.get("correct") is not True or r.get("failed") != 0:
        problems.append(f"correct={r.get('correct')} failed={r.get('failed')}")
    if not isinstance(r.get("attempted"), int) or r["attempted"] < 1:
        problems.append(f"attempted={r.get('attempted')}")
    for m in spec["per_layer" if trace else "end_to_end"]:
        got = r.get("metrics", {}).get(m["name"])
        if (not isinstance(got, dict) or got.get("unit") != m["unit"]
                or not isinstance(got.get("value"), (int, float))):
            problems.append(f"metric {m['name']}: {got}")
    return problems


# ---------------------------------------------------------------- modes


def smoke(spec: dict) -> int:
    from workloads import WORKLOADS

    problems = []
    for name in WORKLOADS:
        for trace in (False, True):
            line = emit(run(name, 0, 1, trace, "smoke"), spec, trace)
            for p in validate(line, spec, trace):
                problems.append(f"{name} trace={int(trace)}: {p}")
    for p in problems:
        print(f"smoke: {p}", file=sys.stderr)
    print(json.dumps({"smoke": "ok" if not problems else "failed",
                      "problems": len(problems)}))
    return 1 if problems else 0


def write_fingerprints() -> int:
    from workloads import WORKLOADS

    spark = start_session()
    table = {}
    for name, cls in WORKLOADS.items():
        table[name] = {}
        for size_key, seeds in (("smoke", [0]), ("full", FINGERPRINT_SEEDS)):
            table[name][size_key] = {}
            for i, seed in enumerate(seeds, 1):
                wl = cls()
                wl.setup(spark, seed, wl.sizes[size_key])
                table[name][size_key][str(seed)] = list(wl.fingerprint())
                wl.teardown()
                if i % 128 == 0 or i == len(seeds):
                    log(f"{name} {size_key}: {i} fingerprints")
    FINGERPRINTS.write_text(json.dumps(table, indent=1, sort_keys=True) + "\n")
    spark.stop()
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--write-fingerprints", action="store_true")
    args = ap.parse_args()

    if not (ROOT / "record_matcher_spark").is_dir():
        print(f"perfbench: no record_matcher_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    # Spark's Python workers import the library from the same checkout, and
    # every file Spark, its JVMs or Python write stays inside it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        if args.smoke:
            return smoke(spec)
        if args.write_fingerprints:
            return write_fingerprints()
        names = [w["name"] for w in spec["workloads"]]
        if args.workload not in names:
            ap.error(f"--workload must be one of {names}")
        result = run(args.workload, args.seed, args.seconds, bool(args.trace))
        print(emit(result, spec, bool(args.trace)), flush=True)
        return 0 if result["correct"] else 1
    finally:
        stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            WORK.parent.rmdir()
        except OSError:  # another run's directory is still there
            pass


if __name__ == "__main__":
    sys.exit(main())
