#!/usr/bin/env python3
"""graft benchmark: one workload run, end to end.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source (perfbench/harness, an sbt build that depends on the
repository's own); later runs reuse the build while the sources are
unchanged. Everything the run writes goes under .bench_build/.

A run:
  1. prepares the workload's input (the sf0.1 fixture, or the seeded
     curate_x1 corpus generated by perfbench/corpus.py);
  2. starts one JVM (perfbench/harness) that sets up the session, resolves
     the tables, runs one untimed warm pass, times passes for S seconds in a
     closed loop with one client, then dumps every query's output;
  3. checks every dumped output against the DuckDB oracle with
     tools/compare.py (untimed, at the lowest CPU priority);
  4. prints a report, and as its last line one JSON object with the
     end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).

Workloads, session conf and JVM flags live in perfbench/protocol.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
RUN_LIMIT_S = 170  # the whole run, build excluded
FIRST_RUN_LIMIT_S = 880  # a run that builds
BUILD_LIMIT_S = 800
CORPUS_VERSION = 3

END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "query_geomean_s": "s",
                    "cpu_s": "s", "live_heap_mb": "MB"}
LAYER_UNITS = {
    "tables.resolve_s": "s", "tables.input_mb": "MB",
    "entry.build_s": "s", "entry.build_jobs": "count",
    "plans.analysis_s": "s", "plans.optimize_s": "s", "plans.physical_s": "s",
    "plans.exchanges": "count", "plans.text_scans": "count",
    "caching.build_s": "s", "caching.builds": "count", "caching.reads": "count",
    "caching.reuse": "ratio", "caching.mem_mb": "MB",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.driver_gap_s": "s", "exec.task_cpu_s": "s", "exec.task_run_s": "s",
    "exec.core_util": "ratio", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.gc_s": "s",
    "exec.failed_tasks": "count",
    "self.entry_s": "s", "self.plans_s": "s", "self.exec_s": "s",
    "self.caching_s": "s", "split.cache_build_s": "s", "split.execute_s": "s",
    "split.driver_s": "s", "trace.overhead_s": "s",
}


class RunError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def check_layout():
    need = ["build.sbt", "tools/compare.py"]
    missing = [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        raise RunError(f"not a graft checkout (missing {', '.join(missing)}); "
                       "run from the repository root")


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, limit_s, out_path, cwd=None, env=None):
    """Runs `cmd` in its own process group with its output in `out_path`;
    kills the whole group if it outlives `limit_s`, and always waits."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RunError(f"{cmd[0]} exceeded {limit_s:.0f} s; see {out_path}")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def build():
    """Compiles the engine and the harness; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building the engine and the harness (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    out = os.path.join(BUILD, "build.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "-Dsbt.supershell=false", "export Runtime/fullClasspath"],
                     BUILD_LIMIT_S, out, cwd=HARNESS, env=env)
    with open(out) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = lines[-1] if lines else ""
    entries = cp.split(os.pathsep)
    if rc != 0 or not cp or cp.startswith("[") or not all(os.path.exists(e) for e in entries):
        raise RunError(f"build failed (exit {rc}); see {out}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def fixture_dir(proto):
    """SPARK_GRAFT_SF_DIR, or else the protocol's sf0.1 fixture."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or proto["fixture_dir"]
    if not all(os.path.exists(os.path.join(d, f"{t}.parquet")) for t in corpus.TABLES):
        raise RunError(f"fixture dir '{d}' is missing tables; set SPARK_GRAFT_SF_DIR")
    return d


def prepare_corpus(fixture, seed):
    """The seeded corpus, generated once per seed and checked on reuse."""
    root = os.path.join(BUILD, "corpus")
    name = f"seed{seed}"
    out = os.path.join(root, name)
    meta_path = os.path.join(out, "corpus.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("version") == CORPUS_VERSION:
            return out, meta, False
    if os.path.isdir(root):  # keep one corpus on disk
        for old in os.listdir(root):
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    meta = corpus.generate(fixture, tmp, seed)
    meta.update(version=CORPUS_VERSION, seed=seed, generate_s=time.time() - t0)
    with open(os.path.join(tmp, "corpus.json"), "w") as f:
        json.dump(meta, f)
    os.rename(tmp, out)
    return out, meta, True


def expand(s, subst):
    for k, v in subst.items():
        s = s.replace("{" + k + "}", v)
    return s


def start_harness(cp, proto, wl_name, wl, input_dir, args, run_dir):
    """Starts the harness JVM; returns the process and its log file."""
    cpus = str(os.cpu_count() or 1)
    work = os.path.join(run_dir, "work")
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    subst = {"cpus": cpus, "work": work}
    cmd = ["java"] + [expand(f, subst) for f in proto["jvm_flags"]]
    cmd += ["-cp", cp, "graftbench.Harness",
            "--workload", wl_name, "--dir", input_dir,
            "--queries", ",".join(wl["queries"]),
            "--permute", "1" if wl["permute"] else "0", "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--warm-passes", str(wl["warm_passes"]),
            "--min-passes", "3" if args.trace else "1",
            "--out", os.path.join(run_dir, "out")]
    for k, v in proto["session_conf"].items():
        cmd += ["--conf", f"{k}={expand(v, subst)}"]
    log_file = open(os.path.join(run_dir, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=run_dir, stdout=log_file, stderr=subprocess.STDOUT,
                         start_new_session=True)
    return p, log_file


def wait_for(p, path, deadline):
    """Waits until `path` exists; fails if the process exits first."""
    while not os.path.exists(path):
        if p.poll() is not None:
            raise RunError(f"harness exited {p.returncode} before {os.path.basename(path)}")
        if time.time() > deadline:
            raise RunError(f"harness ran out of time before {os.path.basename(path)}")
        time.sleep(0.05)


def check_outputs(harness, queries, input_dir, out_dir, deadline, workers):
    """tools/compare.py over each query's dump: name -> (passed, detail).

    Each query is checked by its own tools/compare.py process, over a
    directory holding only that query's dump, as soon as the harness has
    committed the dump (Spark's `_SUCCESS` marker) and with at most `workers`
    at a time. Returns once the harness finished its warm pass and every
    query was checked.

    The checks run beside the warm pass, which `setup_s` times: checking
    after it would make a run 12-17 s longer, more than the benchmark's time
    budget allows. They run at the lowest CPU priority, so they use only the
    cores the JVM leaves idle."""
    dump_dir = os.path.join(out_dir, "dump")
    warm_done = os.path.join(out_dir, "warm.done")
    wait_for(harness, os.path.join(dump_dir, "oracle_sql.json"), deadline)
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    check_root = os.path.join(out_dir, "check")
    pending, running, logs, failed = list(queries), [], [], None
    try:
        while pending or running or failed is None:
            if failed is None and os.path.exists(warm_done):
                with open(os.path.join(dump_dir, "_failed.json")) as f:
                    failed = json.load(f)
            if failed is None and harness.poll() is not None:
                raise RunError(f"harness exited {harness.returncode} in its warm pass")
            if time.time() > deadline:
                raise RunError("the oracle check ran out of time")
            still = []
            for p, out in running:
                if p.poll() is None:
                    still.append((p, out))
                else:
                    out.close()
            running = still
            ready = [n for n in pending if failed is not None
                     or os.path.exists(os.path.join(dump_dir, n, "_SUCCESS"))]
            for n in ready[:max(0, workers - len(running))]:
                pending.remove(n)
                qdir = os.path.join(check_root, n)
                os.makedirs(qdir)
                if os.path.isdir(os.path.join(dump_dir, n)):
                    os.symlink(os.path.join(dump_dir, n), os.path.join(qdir, n))
                with open(os.path.join(qdir, "oracle_sql.json"), "w") as f:
                    json.dump({n: oracle[n]} if n in oracle else {}, f)
                with open(os.path.join(qdir, "_failed.json"), "w") as f:
                    json.dump({n: failed[n]} if failed and n in failed else {}, f)
                log_path = os.path.join(check_root, f"{n}.log")
                out = open(log_path, "w")
                running.append((subprocess.Popen(
                    [sys.executable, os.path.join(ROOT, "tools", "compare.py"), input_dir, qdir],
                    stdout=out, stderr=subprocess.STDOUT, start_new_session=True,
                    preexec_fn=lambda: os.nice(19)), out))
                logs.append(log_path)
            time.sleep(0.05)
    finally:
        for p, out in running:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
            out.close()
    verdicts = {}
    for log_path in logs:
        with open(log_path) as f:
            for line in f:
                if line[:2] in ("✓ ", "✗ ") and ": " in line:
                    name, detail = line[2:].split(": ", 1)
                    verdicts[name.strip()] = (line.startswith("✓"), detail.strip())
    return verdicts


def null_sort_keys(dump_dir):
    """Queries whose dump has a NULL in a dumpSort key: NULLs order
    differently in the two engines, so such a dump cannot be compared
    (graft.Verify fails them the same way)."""
    with open(os.path.join(dump_dir, "dump_sort.json")) as f:
        keys = json.load(f)
    con = duckdb.connect()
    bad = {}
    for name, ks in keys.items():
        path = os.path.join(dump_dir, name)
        if os.path.isdir(path):
            cond = " OR ".join(f'"{k}" IS NULL' for k in ks)
            n = con.execute(f"SELECT count(*) FROM read_parquet('{path}/*.parquet') "
                            f"WHERE {cond}").fetchone()[0]
            if n:
                bad[name] = f"dumpSort key ({', '.join(ks)}) has {n} NULL rows"
    return bad


def neardup_share(dump_dir, docs):
    """Share of documents in at least one verified near-duplicate pair."""
    path = os.path.join(dump_dir, "llm_neardup_pairs", "*.parquet")
    con = duckdb.connect()
    n = con.execute(f"SELECT count(*) FROM (SELECT d1 FROM read_parquet('{path}') "
                    f"UNION SELECT d2 FROM read_parquet('{path}'))").fetchone()[0]
    return n / docs


def end_to_end(result, verdicts):
    """End-to-end metrics from the untraced timed passes."""
    passes = [p for p in result["passes"] if not p["traced"]]
    lat = {}
    attempted = failed = 0
    for p in passes:
        for q in p["queries"]:
            attempted += 1
            if not q["ok"] or not verdicts.get(q["name"], (False,))[0]:
                failed += 1
                continue  # a failed query contributes no time
            lat.setdefault(q["name"], []).append((q["end_ms"] - q["start_ms"]) / 1000.0)
    metrics = {
        "setup_s": result["setup_s"],
        "pass_s": stats.median([p["wall_s"] for p in passes]),
        "query_geomean_s": stats.geomean(stats.median(v) for v in lat.values()) if lat else None,
        # without the JIT compiler threads: in one pass of a JVM this young
        # they take 6-11 s, varying from run to run far more than the engine
        "cpu_s": stats.median([p["process_cpu_s"] - p["jit_cpu_s"] for p in passes]),
        "live_heap_mb": max(p["heap_mb"] for p in passes),
    }
    return metrics, attempted, failed, lat


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args(argv)
    started = time.time()

    check_layout()
    with open(os.path.join(HERE, "protocol.json")) as f:
        proto = json.load(f)
    if args.workload not in proto["workloads"]:
        raise RunError(f"unknown workload {args.workload}; "
                       f"choose from {', '.join(proto['workloads'])}")
    wl = proto["workloads"][args.workload]
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    deadline = min(time.time() + RUN_LIMIT_S, started + FIRST_RUN_LIMIT_S)

    fixture = fixture_dir(proto)
    if wl["input"] == "corpus":
        input_dir, meta, fresh = prepare_corpus(fixture, args.seed)
        log(f"corpus {os.path.basename(input_dir)}: {meta['docs']} docs "
            f"({meta['documents_bytes'] / 1e6:.2f} MB), {meta['vectors']} vectors "
            f"({meta['embeddings_bytes'] / 1e6:.2f} MB), exact-duplicate share "
            f"{meta['exact_dup_share']:.4f}, checksum {meta['checksum']}"
            + (f", generated in {meta['generate_s']:.1f} s" if fresh else ", reused"))
    else:
        input_dir, meta = fixture, None

    run_dir = os.path.join(BUILD, "runs", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out_dir = os.path.join(run_dir, "out")
    dump_dir = os.path.join(out_dir, "dump")
    p, jvm_log = start_harness(cp, proto, args.workload, wl, input_dir, args, run_dir)
    try:
        # The oracle check, untimed: it runs during the harness's warm passes
        # and ends before its timed passes start.
        verdicts = check_outputs(p, wl["queries"], input_dir, out_dir, deadline,
                                 os.cpu_count() or 1)
        for name, detail in null_sort_keys(dump_dir).items():
            verdicts[name] = (False, detail)
        share = (neardup_share(dump_dir, meta["docs"])
                 if meta and verdicts.get("llm_neardup_pairs", (False,))[0] else None)
        with open(os.path.join(out_dir, "go"), "w"):
            pass
        rc = p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        raise RunError("harness ran out of time in its timed passes")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        jvm_log.close()
    result_path = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        raise RunError(f"harness exited {rc}; see {os.path.join(run_dir, 'jvm.log')}")
    with open(result_path) as f:
        result = json.load(f)
    for name in wl["queries"]:
        ok, detail = verdicts.get(name, (False, "no verdict from tools/compare.py"))
        if not ok:
            log(f"CHECK FAILED {name}: {detail}")
            verdicts[name] = (False, detail)
    if share is not None:
        log(f"near-duplicate share (docs in a verified pair): {share:.4f}")

    metrics, attempted, failed, lat = end_to_end(result, verdicts)
    n_pass = sum(1 for p in result["passes"] if not p["traced"])
    walls = [p["wall_s"] for p in result["passes"] if not p["traced"]]
    pct = stats.supported_percentile(n_pass)
    all_lat = [x for v in lat.values() for x in v]
    log(f"{args.workload}: pass_s median {metrics['pass_s']:.3f} s, "
        f"p{pct} {stats.percentile(walls, pct):.3f} s (n={n_pass} passes)")
    if all_lat:
        qp = stats.supported_percentile(len(all_lat))
        log(f"{args.workload}: query latency median {stats.median(all_lat):.3f} s, "
            f"p{qp} {stats.percentile(all_lat, qp):.3f} s (n={len(all_lat)})")
    log(f"{args.workload}: failed_frac {failed / attempted:.4f} ({failed}/{attempted})")
    proc_cpu = stats.median([p["process_cpu_s"] for p in result["passes"]])
    jit_cpu = stats.median([p["jit_cpu_s"] for p in result["passes"]])
    log(f"{args.workload}: process CPU per pass {proc_cpu:.2f} s, "
        f"of it JIT compiler threads {jit_cpu:.2f} s (medians)")
    for k, v in metrics.items():
        log(f"{args.workload}: {k} = {v} {END_TO_END_UNITS[k]}")

    if args.trace:
        spans = os.path.join(run_dir, "out", "spans.jsonl")
        out, builders = layers.traced_metrics(result, spans)
        w = args.workload
        log(f"{w}: spans in {os.path.relpath(spans, ROOT)}")
        log(f"{w}: self time per layer per pass: entry {out['self.entry_s']:.3f} s, "
            f"plans {out['self.plans_s']:.3f} s, caching {out['self.caching_s']:.3f} s, "
            f"exec {out['self.exec_s']:.3f} s, driver {out['exec.driver_gap_s']:.3f} s")
        log(f"{w}: wall split {out['split.cache_build_s']:.3f} s cache build / "
            f"{out['split.execute_s']:.3f} s execute / {out['split.driver_s']:.3f} s driver")
        log(f"{w}: queries that built a cached frame in the last traced pass: "
            + (", ".join(f"{n} ({k})" for n, k in builders.items()) or "none"))
        log(f"{w}: tracing overhead {out['trace.overhead_s']:+.3f} s per pass "
            "(traced pass_s minus untraced pass_s, same process)")
        report = {k: {"value": out[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        report = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
    log(f"run took {time.time() - started:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": report}), flush=True)
    return 0


if __name__ == "__main__":
    # a terminated run still stops and waits for the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except RunError as e:
        print(f"[perfbench] error: {e}", file=sys.stderr, flush=True)
        sys.exit(2)
