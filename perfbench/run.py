#!/usr/bin/env python3
"""The repository benchmark: one workload run, one result line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py compare RESULT_A.json RESULT_B.json

Run from the repository root. The first run builds the product and the
benchmark harness with sbt (perfbench/build.sbt) and caches the classpath
under .bench_build/; later runs start the JVM directly.

Workloads: runner, extract_real, queries (see BENCHMARK.json). --trace 0
prints the end-to-end metrics; --trace 1 runs one traced pass and prints the
per-layer metrics. The last line of standard
output is the result JSON; the exit code is non-zero when a correctness
check fails.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from pb import gen, metrics, oracle, stats  # noqa: E402

XMX = "4g"
REAL_PER_PAGE = 120       # extract_real: variants of each of the 3 pages
REAL_PAGES = [f"src/test/resources/graft/brotli/page{i}_q1.raw" for i in range(3)]
RUNNER_BUCKETS = 16
JVM_TIMEOUT_S = 165
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def lanes():
    """Executor lanes: the processors this process may run on, never more."""
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


# ------------------------------------------------------------ build

def _build_inputs(root):
    """Digest of everything the sbt build reads: build definitions and main sources."""
    files = set()
    for pattern in ("build.sbt", "project/*.sbt", "project/*.scala", "project/build.properties",
                    "src/main/**/*", "perfbench/build.sbt", "perfbench/project/build.properties",
                    "perfbench/src/main/**/*"):
        files.update(f for f in glob.glob(os.path.join(root, pattern), recursive=True) if os.path.isfile(f))
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_build(root, cache):
    """Compile product + harness if the sources changed; return the classpath."""
    key = _build_inputs(root)
    state = os.path.join(cache, "build.json")
    if os.path.exists(state):
        with open(state) as f:
            s = json.load(f)
        if s.get("key") == key and all(os.path.exists(p) for p in s["classpath"].split(os.pathsep)):
            return s["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env and os.path.exists(os.path.expanduser("~/.sbt/repositories")):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Dsbt.repository.config="
                           + os.path.expanduser("~/.sbt/repositories"))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export perfbench/Runtime/fullClasspath"]
    print("perfbench: building product and harness with sbt", file=sys.stderr)
    p = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = [x for x in p.stdout.splitlines() if ".jar" in x and not x.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(cache, exist_ok=True)
    with open(state, "w") as f:
        json.dump({"key": key, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


# ------------------------------------------------------------ inputs

def make_inputs(workload, seed, run_dir, root):
    """Generate the workload's inputs; return (config, input facts)."""
    inp = os.path.join(run_dir, "input")
    if workload == "runner":
        n = gen.write_tables(os.path.join(inp, "sf"), seed, "main", tables=())
        return ({"docs": n, "buckets": RUNNER_BUCKETS, "skew_bytes": 1 << 20, "mode": "standard",
                 "html_backup": True, "input": "sf0.1 documents, seeded doc_id offset"},
                {"doc_ids": [str(gen.doc_id_offset(seed) + i) for i in range(n)]})
    if workload == "extract_real":
        pages = []
        for p in REAL_PAGES:
            with open(os.path.join(root, p), encoding="utf-8") as f:
                pages.append(f.read())
        rows = gen.real_docs(pages, seed, REAL_PER_PAGE)
        os.makedirs(inp, exist_ok=True)
        gen.write_doc_rows(os.path.join(inp, "real.parquet"), rows)
        return ({"docs": len(rows), "pages": REAL_PAGES, "per_page": REAL_PER_PAGE,
                 "mode": "standard", "sink": "noop"}, {})
    n = gen.write_tables(os.path.join(inp, "main"), seed, "main")
    gen.write_tables(os.path.join(inp, "check"), seed, "check")
    return ({"docs": n, "main": gen.SCALES["main"], "check": gen.SCALES["check"],
             "sink": "noop", "shuffle_partitions": lanes(), "aqe": True}, {})


# ------------------------------------------------------------ JVM

def run_jvm(classpath, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-cp", classpath, f"-Xms{XMX}", f"-Xmx{XMX}", "-Xmn1g", "-Xss16m", "-Dfile.encoding=UTF-8",
            "-Dsun.jnu.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for o in JDK_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["perfbench.Main"] + args)
    env = dict(os.environ, LC_ALL="C.UTF-8", LANG="C.UTF-8")
    env.pop("SPARK_LOCAL_DIRS", None)  # spark.local.dir stays inside the run directory
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, start_new_session=True)
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        code = -9
    finally:
        log.close()
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {code}")


def read_spans(path):
    spans = {}
    with open(path) as f:
        for line in f:
            sid, parent, name, start, end, ref = line.rstrip("\n").split("\t")
            spans[int(sid)] = (int(parent), name, int(start), int(end), ref)
    return spans


# ------------------------------------------------------------ metrics

def op_latency(workload, rep, listener, steps, kind):
    """Latency samples (ms) of one operation: a Spark job of a `kind` query
    step (queries), else one doc through the kernel in the verified pass."""
    if workload == "queries":
        return stats.job_ms(listener, {i for i, s in steps.items() if s[0] == kind}), "Spark job"
    return rep["op_ms"], "per-doc kernel"


def end_to_end(workload, rep, steps, n_docs, start_ns):
    """The end-to-end metrics. Set-up counts from `start_ns` (after the
    build check) to the Spark session, plus the median of the run's three
    input set-ups, plus the warm-up."""
    setup = (rep["session_ready_ns"] - start_ns + stats.median(rep["prepare_ns"])
             + rep["warmup_ns"]) / 1e9
    if workload == "queries":
        wall = sum(stats.median(ts) for ts in rep["query_ns"].values()) / 1e9
        passes = min(len(ts) for ts in rep["query_ns"].values())
    else:
        wall = stats.median(rep["pass_ns"]) / 1e9
        passes = len(rep["pass_ns"])
    m = {
        "setup_s": (setup, "session start + median of 3 input set-ups + warm-up"),
        "wall_s": (wall, f"median of {passes} timed passes"),
        "docs_per_s": (n_docs / wall, f"{n_docs} docs per pass"),
        "peak_rss_mb": (rep["peak_rss_mb"], "JVM VmHWM"),
    }
    return {k: (v, metrics.END_TO_END[k][0], note) for k, (v, note) in m.items()}


def per_layer(workload, rep, listener, spans, steps, lanes_):
    """The per-layer values of a traced run. Layers a workload does not
    exercise read 0."""
    m = {k: 0.0 for k in metrics.PER_LAYER}
    traced = {i for i, s in steps.items() if s[0] == "traced"}
    m.update(stats.spark_layers(listener, {i: s[1:3] for i, s in steps.items()}, traced, lanes_))
    cg = [rep["step_codegen"].get(str(i), [0, 0]) for i in traced]
    m["spark.codegen_compiles"] = sum(c[0] for c in cg)
    m["spark.codegen_s"] = sum(c[1] for c in cg) / 1e9
    if "kernel" in rep:
        k = rep["kernel"]
        selfs = stats.self_times({i: s[:4] for i, s in spans.items()})
        by_name = {}
        for i, s in spans.items():
            by_name[s[1]] = by_name.get(s[1], 0) + selfs[i]
        docs = max(1, k["replayed"])
        for phase, name in metrics.PHASES.items():
            m[name] = by_name.get(phase, 0) / docs / 1e3
        doc_ns = sum(s[3] - s[2] for s in spans.values() if s[1] == "kernel.doc")
        kernel_ns = doc_ns - by_name.get("trace.nodes", 0)
        m["parse.nodes_per_doc"] = k["nodes_sum"] / docs
        m["extract.fallback_used_frac"] = k["fallback_used"] / docs
        m["extract.baseline_frac"] = k["baseline_used"] / docs
        m["kernel.us_per_doc"] = k["kernel_us_sum"] / max(1, k["docs"])
        m["kernel.phase_cover_frac"] = sum(by_name.get(p, 0) for p in metrics.PHASES) / max(1, kernel_ns)
        m["kernel.trace_overhead_frac"] = doc_ns / max(1, k["plain_ns_sum"]) - 1.0
    if "dup_text_frac" in rep:
        m["extract.dup_text_frac"] = rep["dup_text_frac"]
    if "runner" in rep:
        r = rep["runner"]
        m["runner.stage_s"] = r["stage_s"]
        m["runner.bucket_s.p50"] = stats.median(r["bucket_ms"]) / 1e3
        m["runner.bucket_s.max"] = max(r["bucket_ms"]) / 1e3
        m["runner.jobs_per_bucket"] = m["spark.jobs"] / r["buckets"]
        m["runner.bytes_written_per_doc"] = r["bytes_written"] / max(1, r["docs"])
    ops, _ = op_latency(workload, rep, listener, steps, "traced")
    m["op.p50_ms"] = stats.median(ops)
    m["op.tail_ms"] = stats.tail(ops)[0]
    if workload == "queries":
        for i, s in steps.items():
            if s[0] == "traced":
                q = s[3]
                m[f"query.{q}_s"] = (s[2] - s[1]) / 1e9
                m[f"query.{q}.jobs"] = sum(1 for j in listener["jobs"] if stats.step_of(j) == i)
                m[f"query.{q}.codegen_compiles"] = rep["step_codegen"].get(str(i), [0, 0])[0]
    return m


# ------------------------------------------------------------ checks

def checks(workload, rep, listener, steps, facts, run_dir, cache):
    """All correctness checks as (name, ok, detail); plus extra failed ops."""
    out = [(c["name"], c["ok"], c["detail"]) for c in rep["checks"]]
    extra_failed = 0
    bad = stats.digest_mismatches(rep.get("digests", {}))
    for name in rep.get("digests", {}):
        out.append((f"digest:{name}", name not in bad, json.dumps(rep["digests"][name])))
    extra_failed += len(bad)
    unattributed = sum(1 for j in listener["jobs"] if stats.step_of(j) not in steps)
    out.append(("spark.unattributed_jobs", unattributed == 0, f"{unattributed} jobs without a step"))
    if workload == "runner":
        want = gen.bucket_counts(facts["doc_ids"], RUNNER_BUCKETS)
        got = [0] * RUNNER_BUCKETS
        for b, n in rep["bucket_docs"]:
            got[b] = n
        out.append(("runner.bucket_map", got == want, f"manifest docs per bucket {got}, predicted {want}"))
    if workload == "extract_real":
        out.append(("extract_real.no_duplicate_text", rep["dup_text_frac"] == 0.0,
                    f"duplicate extracted-text share {rep['dup_text_frac']}"))
    if workload == "queries":
        pairs, errors = oracle.check(os.path.join(run_dir, "input", "check"), rep["oracle_sql"],
                                     rep["check_outputs"], os.path.join(cache, "oracle"))
        bad = set(stats.digest_mismatches(pairs)) | set(errors)
        extra_failed += len(bad)
        out.append(("queries.oracle", not bad,
                    "; ".join(f"{q}: {errors.get(q, 'digest differs')}" for q in sorted(bad))
                    or f"{len(pairs)} queries match DuckDB"))
    return out, extra_failed


# ------------------------------------------------------------ main

def fingerprint(workload, config, rep):
    cpu = ""
    try:
        with open("/proc/cpuinfo") as f:
            cpu = next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), "")
    except OSError:
        pass
    return {"nproc": os.cpu_count(), "lanes": rep["lanes"], "cpu_model": cpu or platform.processor(),
            "java": f"{rep['java_vm']} {rep['java_version']}", "xmx": XMX,
            "spark": rep["spark_version"], "workload": workload, "config": config}


def run(a):
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "src", "main", "scala")) and
            os.path.isfile(os.path.join(root, "build.sbt"))):
        fail("product sources (build.sbt, src/main/scala) not found; run from the repository root")
    cache = os.path.join(root, ".bench_build")
    classpath = ensure_build(root, cache)
    start_ns = time.time_ns()
    run_dir = os.path.join(cache, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        config, facts = make_inputs(a.workload, a.seed, run_dir, root)
        n_lanes = lanes()
        run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                            "--trace", str(a.trace), "--dir", run_dir, "--lanes", str(n_lanes)], run_dir)
        with open(os.path.join(run_dir, "report.json")) as f:
            rep = json.load(f)
        with open(os.path.join(run_dir, "listener.json")) as f:
            listener = json.load(f)
        spans = read_spans(os.path.join(run_dir, "spans.tsv"))
        # steps: id -> (kind, start, end, ref)
        steps = {i: (s[1][5:],) + s[2:] for i, s in spans.items() if s[1].startswith("step.")}
        results, extra_failed = checks(a.workload, rep, listener, steps, facts, run_dir, cache)
        attempted = rep["attempted"]
        failed = rep["failed"] + extra_failed
        if a.trace:
            values = per_layer(a.workload, rep, listener, spans, steps, n_lanes)
            values["error_frac"] = failed / max(1, attempted)
            os.makedirs(os.path.join(cache, "traces"), exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.tsv"),
                        os.path.join(cache, "traces", f"{a.workload}.spans.tsv"))
            shown = {k: (v, metrics.PER_LAYER[k][0], "") for k, v in values.items()}
        else:
            shown = end_to_end(a.workload, rep, steps, config["docs"], start_ns)
        ops, op_name = op_latency(a.workload, rep, listener, steps, "traced" if a.trace else "timed")
        tail, pct, n = stats.tail(ops)
        op_line = (f"{op_name} latency: p50 {stats.median(ops):.6g} ms, p{pct:.1f} {tail:.6g} ms, "
                   f"{n} samples")
        correct = all(ok for _, ok, _ in results) and failed == 0
        fp = fingerprint(a.workload, config, rep)
        result = {"correct": correct, "attempted": attempted, "failed": failed,
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in shown.items()}}
        os.makedirs(os.path.join(cache, "results"), exist_ok=True)
        with open(os.path.join(cache, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(dict(result, fingerprint=fp, seed=a.seed, seconds=a.seconds,
                           checks=results, errors=rep.get("errors")), f, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"host: nproc={fp['nproc']} lanes={fp['lanes']} cpu={fp['cpu_model']!r} java={fp['java']!r} "
          f"xmx={XMX} spark={fp['spark']}")
    print(f"workload {a.workload} seed={a.seed} config={json.dumps(config, sort_keys=True)}")
    for name, ok, detail in results:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    for k, (v, u, note) in shown.items():
        print(f"{k} = {v:.6g} {u}" + (f"  ({note})" if note else ""))
    print(op_line)
    print(json.dumps(result))
    return 0 if correct else 1


def compare(paths):
    a, b = (json.load(open(p)) for p in paths)
    diff = stats.comparable(a, b)
    if diff:
        fail(f"results are not comparable: fingerprints differ in {', '.join(diff)}", 3)
    for k, va in a["metrics"].items():
        vb = b["metrics"].get(k)
        if vb and va["value"]:
            print(f"{k}: {va['value']:.6g} -> {vb['value']:.6g} {va['unit']} "
                  f"({vb['value'] / va['value'] - 1:+.1%})")
    return 0


def main(argv):
    if argv[:1] == ["compare"]:
        if len(argv) != 3:
            fail("usage: run.py compare RESULT_A.json RESULT_B.json")
        return compare(argv[1:])
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(metrics.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
