#!/usr/bin/env python3
"""Benchmark driver: serve and ingest workloads over the graft engine.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from `src/main/scala` and the harness from
`perfbench/harness` (cached under `$CARGO_TARGET_DIR`, default
`.bench_build`), generates the input tables, runs one workload in a
fresh JVM, checks the outputs outside the timed region, and prints as
its last stdout line one JSON object: `correct`, `attempted`, `failed`
and `metrics` (end-to-end metrics with `--trace 0`, per-layer metrics
with `--trace 1`). See perfbench/README.md for the workloads and the
layer -> metric map.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import datagen  # noqa: E402

DATA_SEED = 42  # the tables are fixed; --seed varies order and slicing
HEAP = "4g"

# Frozen query lists, in two families. The match family (entity
# resolution, gold aggregates, windowed analytics over the reference's
# match surface) spends its time executing; the ann family (graph-beam
# serving) spends it in construct-time jobs and first-touch stage
# builds. Both run in one workload; the traced run splits their layers
# per family.
FAMILIES = {
    "match": [
        "q01_flagship_customer_stats",
        "q12_tiered_entity_resolution",
        "q25_domain_gold",
        "q23_window_analytics",
    ],
    "ann": [
        "q174_ann_graph_search",
    ],
}
WORKLOADS = {
    "serve": {"kind": "serve", "sf": 0.1, "queries": FAMILIES["match"] + FAMILIES["ann"]},
    "ingest_ticks": {"kind": "ingest", "sf": 0.1},
}

# Metric names and units come from BENCHMARK.json, the benchmark's contract.
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

JVM_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not jars.is_dir():
        fail(f"no Spark jars at {jars}")
    return jars


def digest(files, root):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(jars, classpath, out, sources):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    compiler = ":".join(str(jars / f"scala-{m}-2.13.17.jar") for m in ("compiler", "library", "reflect"))
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
                    "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
                    "-d", str(out)] + [str(s) for s in sources], check=True)


def build(root, build_dir, jars):
    """Compile the engine and the harness unless their sources are unchanged."""
    program_src = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    harness_src = sorted((HERE / "harness").glob("*.scala"))
    stamp = digest(program_src + harness_src, root)
    stamp_file = build_dir / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return stamp
    stamp_file.unlink(missing_ok=True)
    scalac(jars, f"{jars}/*", build_dir / "program", program_src)
    scalac(jars, f"{build_dir / 'program'}:{jars}/*", build_dir / "harness", harness_src)
    stamp_file.write_text(stamp)
    return stamp


def input_tables(build_dir, sf):
    """The generated tables for `sf`, made once per generator version and
    shared read-only by every run in this checkout."""
    gen = hashlib.sha256((HERE / "datagen.py").read_bytes()).hexdigest()[:12]
    out = build_dir / "data" / f"sf{sf}-seed{DATA_SEED}-{gen}"
    if not out.is_dir():
        tmp = out.with_name(out.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write(tmp, sf, DATA_SEED)
        tmp.rename(out)
    return out


def files_left(d):
    return sum(1 for p in d.rglob("*") if p.is_file()) if d.exists() else 0


def run_jvm(args, wl, data_dir, run_dir, build_dir, jars, cpus, seconds):
    for sub in ("tmp", "local", "work"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    result = run_dir / "result.json"
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", o]
    cmd += [
        f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        f"-Dspark.local.dir={run_dir / 'local'}",
        f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{build_dir / 'harness'}:{build_dir / 'program'}:{jars}/*",
        "graft.perfbench.Harness",
        f"workload={args.workload}", f"kind={wl['kind']}", f"seed={args.seed}",
        f"seconds={seconds}", f"trace={args.trace}", f"cpus={cpus}",
        f"data={data_dir}", f"work={run_dir / 'work'}", f"result={result}",
        "queries=" + ",".join(wl.get("queries", [])),
    ]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"))
    # The harness measures for `seconds` after at least its minimum
    # passes or ticks; set-up and the output check come on top.
    limit = 120 + 2 * seconds
    t0 = time.monotonic()
    try:
        proc = subprocess.run(cmd, env=env, stdout=sys.stderr, timeout=limit)
    except subprocess.TimeoutExpired:
        fail(f"harness did not finish within {limit:.0f} s")
    if not result.exists():
        raise RuntimeError(f"harness exited {proc.returncode} without a result")
    res = json.loads(result.read_text())
    res["jvm_s"] = time.monotonic() - t0
    res["exit_code"] = proc.returncode
    res["leftover_files"] = files_left(run_dir / "tmp") + files_left(run_dir / "local")
    return res


def p90(values):
    return values[0] if len(values) == 1 else statistics.quantiles(values, n=10, method="inclusive")[-1]


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def check_serve(root, data_dir, verify_dir, names):
    """DuckDB oracle vs the program's dump, with tools/compare.py's row logic."""
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq
    sys.path.insert(0, str(root / "tools"))
    import compare
    oracle = json.loads((verify_dir / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in compare.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    bad = {}
    for name in names:
        files = sorted((verify_dir / name).glob("*.parquet"))
        if not files:
            bad[name] = "no output"
            continue
        try:
            duck = con.execute(oracle[name]).df()
        except Exception as e:  # as tools/compare.py: an oracle error is a mismatch
            bad[name] = f"oracle failed: {str(e)[:200]}"
            continue
        spark = pd.concat([pq.read_table(f).to_pandas() for f in files])
        if sorted(duck.columns) != sorted(spark.columns):
            bad[name] = "columns differ"
        elif compare._dtype_clash(duck, spark):
            bad[name] = "column types differ"
        elif compare.frame_rows(duck) != compare.frame_rows(spark):
            bad[name] = f"rows differ (duck={len(duck)} spark={len(spark)})"
    return bad


def serve_metrics(res, slots):
    passes = res["passes"]
    cold, warm = passes[0], passes[1:]
    plain = [p for p in warm if not p["traced"]]
    lat = [x["latency_s"] for p in plain for x in p["queries"] if x["ok"]]
    e2e = {
        "cold_pass_s": cold["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in plain),
        "latency_p50_s": statistics.median(lat),
    }
    traced = [p for p in warm if p["traced"]]
    layers = {}
    if traced:
        def per_pass(f):
            return mean([sum(f(x) for x in p["queries"] if x["ok"]) for p in traced])
        ex = lambda k: per_pass(lambda x: x["execute"][k])  # noqa: E731
        execute_s = per_pass(lambda x: x["materialize_s"] - x["execute"]["plan_s"])
        run_s = ex("run_s")
        layers = {
            "construct_s": per_pass(lambda x: x["construct_s"] - x["stage_build_s"]),
            "construct_jobs": per_pass(lambda x: x["construct"]["jobs"]),
            "stage_build_s": sum(x["stage_build_s"] for x in cold["queries"]),
            "stage_builds": sum(x["stage_builds"] for x in cold["queries"]),
            "stage_bytes_written": cold["stage_bytes_written"],
            "plan_s": ex("plan_s"), "execute_s": execute_s,
            "execute_jobs": ex("jobs"), "tasks": ex("tasks"),
            "executor_cpu_s": ex("cpu_s"), "executor_run_s": run_s,
            "shuffle_write_bytes": ex("shuffle_write_bytes"),
            "shuffle_read_bytes": ex("shuffle_read_bytes"),
            "spill_bytes": ex("spill_bytes"), "gc_s": ex("gc_s"),
            "slot_busy_frac": run_s / (execute_s * slots) if execute_s else 0.0,
            "task_failures": sum(x[w]["failed_tasks"] for p in [cold] + traced
                                 for x in p["queries"] if x["ok"] for w in ("construct", "execute")),
            "unattributed_s": mean([p["wall_s"] - sum(x.get("construct_s", 0) + x.get("materialize_s", 0)
                                                      for x in p["queries"]) for p in traced]),
        }
        layers.update({k: 0.0 for k in ("batch_add_s", "batch_plan_s", "batch_commit_s",
                                         "stream_overhead_s", "state_rows", "state_bytes",
                                         "dedup_drop_frac", "write_amp", "gold_files")})
    return e2e, layers, {"traced_warm": traced, "plain_warm": plain}


def ingest_metrics(res, slots):
    ticks = res["ticks"]
    cold, warm = ticks[0], [t for t in ticks[1:] if t["ok"]]
    plain = [t for t in warm if not t["traced"]]
    e2e = {
        "cold_pass_s": cold["cycle_s"],
        "warm_pass_s": statistics.median(t["cycle_s"] for t in plain),
        "latency_p50_s": statistics.median(t["tick_s"] for t in plain),
    }
    traced = [t for t in warm if t["traced"]]
    layers = {}
    if traced:
        tm = lambda f: mean([f(t) for t in traced])  # noqa: E731
        both = lambda k: tm(lambda t: t["stream"][k] + t["execute"][k])  # noqa: E731
        run_s = both("run_s")
        layers = {
            "construct_s": tm(lambda t: t["construct_s"]),
            "construct_jobs": tm(lambda t: t["construct"]["jobs"]),
            "stage_build_s": 0.0, "stage_builds": 0, "stage_bytes_written": 0,
            "plan_s": both("plan_s"),
            "execute_s": tm(lambda t: t["materialize_s"] - t["execute"]["plan_s"]),
            "execute_jobs": both("jobs"), "tasks": both("tasks"),
            "executor_cpu_s": both("cpu_s"), "executor_run_s": run_s,
            "shuffle_write_bytes": both("shuffle_write_bytes"),
            "shuffle_read_bytes": both("shuffle_read_bytes"),
            "spill_bytes": both("spill_bytes"), "gc_s": both("gc_s"),
            "slot_busy_frac": run_s / (tm(lambda t: t["tick_s"] + t["materialize_s"]) * slots),
            "task_failures": sum(t[w]["failed_tasks"] for t in traced for w in ("stream", "construct", "execute")),
            "batch_add_s": mean([t["batch_add_s"] for t in warm]),
            "batch_plan_s": mean([t["batch_plan_s"] for t in warm]),
            "batch_commit_s": mean([t["batch_commit_s"] for t in warm]),
            "stream_overhead_s": mean([t["tick_s"] - t["trigger_s"] for t in warm]),
            "state_rows": ticks[-1]["state_rows"], "state_bytes": ticks[-1]["state_bytes"],
            "dedup_drop_frac": 1 - sum(t["state_rows_updated"] for t in warm) / sum(t["input_rows"] for t in warm),
            "write_amp": sum(t["bytes_written"] for t in warm) / sum(t["bytes_landed"] for t in warm),
            "gold_files": ticks[-1]["gold_files"],
            "unattributed_s": tm(lambda t: t["cycle_s"] - t["tick_s"] - t["read_s"]),
        }
    return e2e, layers, {"traced_warm": traced, "plain_warm": plain}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = Path.cwd()
    if not (root / "src" / "main" / "scala" / "graft").is_dir() or not (root / "tools" / "compare.py").is_file():
        fail("run from the repository root: the engine sources are missing")
    jars = spark_jars()
    build_dir = (root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    build_dir.mkdir(parents=True, exist_ok=True)
    stamp = build(root, build_dir, jars)

    wl = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))  # what `nproc` reports
    run_dir = build_dir / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    try:
        data_dir = input_tables(build_dir, wl["sf"])
        res = run_jvm(args, wl, data_dir, run_dir, build_dir, jars, cpus, args.seconds)
        slots = res["env"]["slots"]
        if wl["kind"] == "serve":
            e2e, layers, detail = serve_metrics(res, slots)
            execs = [x for p in res["passes"] for x in p["queries"]]
            failures = {x["name"]: x["error"] for x in execs if not x["ok"]}
            t0 = time.monotonic()
            mismatches = check_serve(root, data_dir, Path(res["verify_dir"]), wl["queries"])
            res["check_s"] += time.monotonic() - t0
            attempted = len(execs) + len(wl["queries"])
        else:
            e2e, layers, detail = ingest_metrics(res, slots)
            execs = res["ticks"]
            failures = {f"tick{t['tick']}": t["error"] for t in execs if not t["ok"]}
            chk = res["check"]
            mismatches = {"gold": chk["examples"]} if chk["mismatches"] else {}
            attempted = len(execs) + 1
        e2e["setup_s"] = res["setup_s"]
        failed = len(failures) + len(mismatches)
        report(args, wl, res, e2e, layers, detail, failures, mismatches, attempted, failed, stamp, root, cpus)
        picked = PER_LAYER if args.trace else END_TO_END
        values = layers if args.trace else e2e
        metrics = {k: {"value": values[k], "unit": u} for k, u in picked.items()}
        print(json.dumps({"correct": failed == 0 and res["exit_code"] == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(args, wl, res, e2e, layers, detail, failures, mismatches, attempted, failed, stamp, root, cpus):
    """Human-readable lines before the result line."""
    commit = "n/a"  # a benchmark checkout is usually not a git repository
    if (root / ".git").exists() and shutil.which("git"):
        commit = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=root, capture_output=True,
                                text=True).stdout.strip() or commit
    env = dict(res["env"], nproc=cpus, heap=HEAP, sf=wl["sf"], data_seed=DATA_SEED, commit=commit,
               source_sha256=stamp[:16], leftover_files=res["leftover_files"])
    print(f"# {args.workload} seed={args.seed} trace={args.trace} env={json.dumps(env, sort_keys=True)}")
    print(f"# setup_s (JVM start to ready) {res['setup_s']:.3f} s; session rebuilds (s): "
          f"{[round(s, 3) for s in res['session_rebuild_s']]}; measured {res['measured_s']:.2f} s; "
          f"output check {res['check_s']:.2f} s; JVM wall {res['jvm_s']:.2f} s")
    print("# end-to-end: " + ", ".join(f"{k}={v:.4f}" for k, v in sorted(e2e.items())))
    plain = detail["plain_warm"]
    if wl["kind"] == "ingest":
        ticks = [t["tick_s"] for t in plain]
        print("#   ticks (s): " + " ".join(f"{t.get('tick_s', 0):.3f}" for t in res["ticks"]))
        print(f"# ingest: tick_p50_s={e2e['latency_p50_s']:.4f} tick_p90_s={p90(ticks):.4f} (n={len(ticks)}) "
              f"ingest_rows_per_s={sum(t['rows_landed'] for t in plain) / sum(ticks):.1f} "
              f"read_after_write_p50_s={statistics.median(t['read_s'] for t in plain):.4f} "
              f"ticks={len(res['ticks'])} gold_keys_checked={res['check']['keys']}")
    else:
        lat = [x["latency_s"] for p in plain for x in p["queries"] if x["ok"]]
        print(f"# serve: query_p50_s={e2e['latency_p50_s']:.4f} query_p90_s={p90(lat):.4f} (n={len(lat)}, "
              f"fewer than 10 beyond p90) warm_passes={len(plain)} queries={len(wl['queries'])}")
        for p in res["passes"]:
            print(f"#   pass {p['pass']} traced={int(p['traced'])} wall={p['wall_s']:.3f}s " + " ".join(
                f"{x['name'].split('_')[0]}={x['latency_s']:.3f}" for x in sorted(p["queries"], key=lambda x: x["name"])))
    print(f"# failed_frac={failed / attempted:.4f} ({failed} of {attempted}); failures={failures} "
          f"output_mismatches={mismatches}")
    if args.trace and layers:
        traced = detail["traced_warm"]
        if wl["kind"] == "serve":
            tw = statistics.median(p["wall_s"] for p in traced)
            tl = [x["latency_s"] for p in traced for x in p["queries"] if x["ok"]]
            print(f"# tracing overhead (traced - untraced, same JVM): warm_pass_s {tw - e2e['warm_pass_s']:+.4f}, "
                  f"latency_p50_s {statistics.median(tl) - e2e['latency_p50_s']:+.4f}; setup_s is measured "
                  f"before any listener exists; the cold pass is traced, so its overhead is not separable")
            for fam, names in FAMILIES.items():
                for label, ps in (("cold", [res["passes"][0]]), ("warm", traced)):
                    xs = [x for p in ps for x in p["queries"] if x["ok"] and x["name"] in names]
                    k = len(ps)
                    print(f"# family {fam} {label} (per pass): "
                          f"construct={sum(x['construct_s'] - x['stage_build_s'] for x in xs) / k:.3f}s/"
                          f"{sum(x['construct']['jobs'] for x in xs) / k:.0f}j "
                          f"stage={sum(x['stage_build_s'] for x in xs) / k:.3f}s "
                          f"plan={sum(x['execute']['plan_s'] for x in xs) / k:.3f}s "
                          f"execute={sum(x['materialize_s'] - x['execute']['plan_s'] for x in xs) / k:.3f}s/"
                          f"{sum(x['execute']['jobs'] for x in xs) / k:.0f}j "
                          f"cpu={sum(x['execute']['cpu_s'] for x in xs) / k:.3f}s")
            for p in [res["passes"][0]] + traced:
                un = p["wall_s"] - sum(x.get("construct_s", 0) + x.get("materialize_s", 0) for x in p["queries"])
                print(f"# pass {p['pass']} wall={p['wall_s']:.3f} unattributed_s={un:.3f}")
                for x in p["queries"]:
                    if not x["ok"]:
                        continue
                    c, e = x["construct"], x["execute"]
                    print(f"#   {x['name']:34s} construct={x['construct_s'] - x['stage_build_s']:.3f}s/"
                          f"{c['jobs']}j stage={x['stage_build_s']:.3f}s/{x['stage_builds']} "
                          f"plan={e['plan_s']:.3f}s execute={x['materialize_s'] - e['plan_s']:.3f}s/"
                          f"{e['jobs']}j/{e['tasks']}t cpu={e['cpu_s']:.3f}s shuffle_w={e['shuffle_write_bytes']}")
        else:
            tt = [t["tick_s"] for t in traced]
            print(f"# tracing overhead (traced - untraced, same JVM): latency_p50_s "
                  f"{statistics.median(tt) - e2e['latency_p50_s']:+.4f}, warm_pass_s "
                  f"{statistics.median(t['cycle_s'] for t in traced) - e2e['warm_pass_s']:+.4f}")
            for t in res["ticks"]:
                print(f"#   tick {t['tick']:2d} traced={int(t['traced'])} rows={t['rows_landed']} "
                      f"tick={t.get('tick_s', 0):.3f}s add={t.get('batch_add_s', 0):.3f}s "
                      f"read={t.get('read_s', 0):.3f}s state_rows={t.get('state_rows', 0)} "
                      f"unattributed={t['cycle_s'] - t.get('tick_s', 0) - t.get('read_s', 0):.3f}s")
        print("# per-layer: " + ", ".join(f"{k}={layers[k]:.4g}" for k in PER_LAYER))


if __name__ == "__main__":
    main()
