#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness (the
benchmark's sbt project, which compiles graft's sources with its own)
and generates the relational tables into `.bench_build/`; later runs
reuse both while the sources are unchanged.

Workloads (see README.md in this directory):
  etl_releases   a seeded Discogs-shaped dump, converted single-stream
                 and through rechunk + parallel conversion per op
  queries_small  a seeded, cost-stratified sample of the query registry
                 at sf0.01; fixed per-query cost dominates

The JVM harness (perfbench.Harness) runs one client in a closed loop:
an untimed set-up pass that also writes what verification needs, then
whole timed passes. This script verifies the outputs (query results
against the DuckDB oracle via tools/check_oracle.py; converted
releases against the generator's aggregates), prints a report and, as
its last line, one JSON object: end-to-end metrics when --trace 0, the
traced per-layer split when --trace 1.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CORES = 4
DATA_SEED = 42
# A run must end within 180 s (the first one in a checkout also builds);
# input generation and the harness get what is left of this.
RUN_LIMIT_S = 170.0

# pass_s: the expected seconds of one timed pass on a 4-core machine;
# a run makes round(--seconds / pass_s) whole passes, so every run of a
# workload times the same number of ops.
WORKLOADS = {
    "etl_releases": {"releases": 10000, "chunks": 16, "pass_s": 3.7},
    # Queries up to 0.6 s in query_costs.tsv (about 40% of the
    # registry): per ops module, the middle one of every 20 in cost order.
    "queries_small": {"sf": "0.01", "per_stratum": 20, "max_cost": 0.6, "pass_s": 5.0},
}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


_children = []


def run_child(cmd, timeout=None, **kw):
    """Run cmd in its own process group and wait for it. On a timeout,
    an exception or SIGTERM the whole group (sbt's and Spark's JVMs
    included) is killed and reaped before this returns or raises."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    _children.append(proc)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        _children.remove(proc)


def _on_term(signum, _frame):
    sys.exit(128 + signum)  # unwinds through run_child's cleanup


def fail(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    files = []
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(files)


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the harness with graft's sources; return its classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = _digest(_source_files())
    if os.path.exists(stamp) and os.path.exists(cp_file) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc, _ = run_child(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    lines = open(os.path.join(BUILD, "build.log")).read().splitlines()
    if rc != 0 or not lines:
        fail(f"harness build failed (see {os.path.join(BUILD, 'build.log')})")
    cp = re.sub(r"^\[info\] ", "", lines[-1]).strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    if run_child(java_cmd(cp, ["--list", os.path.join(BUILD, "registry.txt")]))[0] != 0:
        fail("could not list the query registry")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"perfbench: built harness in {time.time() - t0:.1f} s")
    return cp


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def java_cmd(cp, args, tmp=None):
    opts = []
    for p in JDK_OPENS:
        opts += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: the JVM would otherwise write its counters to
    # the system temp directory, outside the checkout.
    opts += ["-Xmx4g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
    if tmp:
        opts.append(f"-Djava.io.tmpdir={tmp}")
    return ["java"] + opts + ["-cp", cp, "perfbench.Harness"] + args


# ----------------------------------------------------------------- data

def tables_dir(sf):
    """Generated tables for `sf`, made once per checkout."""
    d = os.path.join(BUILD, "data", f"sf{sf}")
    stamp = os.path.join(d, "gen.stamp")
    digest = _digest([os.path.join(HERE, "gen_tables.py")]) + f"-{DATA_SEED}"
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        import gen_tables
        shutil.rmtree(d, ignore_errors=True)
        t0 = time.time()
        gen_tables.write(d, float(sf), DATA_SEED)
        with open(stamp, "w") as f:
            f.write(digest)
        log(f"perfbench: generated sf{sf} tables in {time.time() - t0:.1f} s")
    return d


def reference_costs():
    costs = {}
    with open(os.path.join(HERE, "query_costs.tsv")) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                name, cost = line.split()
                costs[name] = float(cost)
    return costs


# ------------------------------------------------------------------ run

def make_plan(args, run_dir):
    cfg = WORKLOADS[args.workload]
    passes = max(1, round(args.seconds / cfg["pass_s"]))
    if args.trace:
        passes = max(2, passes + passes % 2)  # traced and untraced in turn
    plan = {"workload": args.workload, "seed": args.seed,
            "trace": int(args.trace), "out": run_dir, "cores": CORES}
    if args.workload == "etl_releases":
        import gen_dump
        dump = os.path.join(run_dir, "releases.xml.gz")
        t0 = time.time()
        expect = gen_dump.generate(dump, cfg["releases"], args.seed)
        log(f"perfbench: generated {cfg['releases']} releases in {time.time() - t0:.1f} s")
        # The tables only serve the traced run's direct Tables.load timing.
        plan.update(dump=dump, chunks=cfg["chunks"], data=tables_dir("0.01"))
        ops = ["etl_round"]
        orders = [ops] * passes
    else:
        registry = open(os.path.join(BUILD, "registry.txt")).read().split()
        ops = stats.stratified_sample(registry, reference_costs(),
                                      cfg["per_stratum"], cfg["max_cost"])
        orders = stats.pass_orders(ops, args.seed, passes)
        plan["data"] = tables_dir(cfg["sf"])
        expect = None
    lines = [f"{k} {v}" for k, v in plan.items()]
    lines += [f"op {o}" for o in ops] + ["pass " + " ".join(o) for o in orders]
    return lines, plan["data"], ops, expect


def run_harness(cp, plan_lines, run_dir, deadline):
    plan_file = os.path.join(run_dir, "plan.txt")
    tmp = os.path.join(run_dir, "work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    launch_ms = int(time.time() * 1000)
    with open(plan_file, "w") as f:
        f.write("\n".join(plan_lines + [f"launch_ms {launch_ms}"]) + "\n")
    with open(os.path.join(run_dir, "harness.log"), "w") as out:
        try:
            rc, _ = run_child(java_cmd(cp, [plan_file], tmp), cwd=run_dir, stdout=out,
                              stderr=subprocess.STDOUT,
                              timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded the run limit (log: {run_dir}/harness.log)", 1)
    if rc != 0:
        tail = open(os.path.join(run_dir, "harness.log")).read()[-3000:]
        log(tail)
        fail(f"harness exited with {rc}", 1)


# --------------------------------------------------------------- verify

def verify_queries(run_dir, data, ops, verify_errors):
    """Query name -> None if its result matches the DuckDB oracle, else
    the reason. Uses tools/check_oracle.py unchanged."""
    verdict = {q: "not compared" for q in ops}
    verdict.update({q: f"verification run failed: {e}" for q, e in verify_errors.items()})
    vdir = os.path.join(run_dir, "verify")
    _, stdout = run_child(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), vdir, data],
        cwd=run_dir, stdout=subprocess.PIPE, text=True)
    for line in stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):?\s(.*)", line)
        if m and m.group(2) in verdict and m.group(2) not in verify_errors:
            verdict[m.group(2)] = None if m.group(1) == "PASS" else m.group(3)
    return verdict


def etl_aggregates(path):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    arts = pc.list_flatten(t["artists"])
    vals = pc.list_flatten(t["genres"]).to_pylist() + pc.list_flatten(t["styles"]).to_pylist()
    return {"releases": t.num_rows,
            "null_master_id": t["master_id"].null_count,
            "artists": len(arts),
            "null_anv": pc.struct_field(arts, "anv").null_count,
            "amp_values": sum(1 for v in vals if v is not None and "&" in v
                              and "&amp;" not in v)}


def verify_etl(run_dir, expect):
    """Output name -> None if the converted releases match the
    generator's aggregates, else the mismatch."""
    verdict = {}
    for name in ("single", "chunked"):
        try:
            got = etl_aggregates(os.path.join(run_dir, "etl", name))
            diff = {k: (v, got.get(k)) for k, v in expect.items() if got.get(k) != v}
            verdict[name] = None if not diff else f"expected vs got: {diff}"
        except Exception as e:  # unreadable output is a failed check
            verdict[name] = f"{type(e).__name__}: {e}"
    return verdict


def dir_bytes(path):
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**", "*.parquet"),
                                                     recursive=True))


# -------------------------------------------------------------- metrics

def load_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


RATIOS = {"ops.build_frac": "ops.build_s", "trace.residual_frac": "op.residual_s"}


def layer_metrics(traced, summary, untraced, failed_ratio, units):
    """Per-layer metrics of a traced run: per-op means over traced ops,
    with fractions taken as ratios of sums."""
    out = {}
    keys = [k for k in units if traced and k in traced[0]["layers"]]
    for k in keys:
        out[k] = sum(r["layers"][k] for r in traced) / len(traced)
    wall = sum(r["layers"]["op.wall_s"] for r in traced)
    for k, num in RATIOS.items():
        out[k] = sum(r["layers"][num] for r in traced) / wall
    out["exec.util"] = sum(r["layers"]["exec.task_s"] for r in traced) / (wall * CORES)
    out["exec.skew"] = stats.median([r["layers"]["exec.skew"] for r in traced])
    out["etl.chunk_skew"] = stats.median([r["layers"]["etl.chunk_skew"] for r in traced])
    out.update(summary["calib"])
    out.update(dict(summary["tables"]))
    out["error_rate"] = failed_ratio
    # Overhead: traced ops against untraced ops of the same names, on
    # the work both do (the traced ETL op adds parse and project runs).
    # Pass 0 is left out: it is still warming up and slower, and traced
    # passes are the odd ones, so it would only ever sit on one side.
    def comparable(r):
        lay = r["layers"]
        return lay["op.wall_s"] - 2 * lay["etl.parse_s"] - lay["etl.project_s"]
    untraced = [r for r in untraced if r["pass"] > 0]
    names = {r["op"] for r in traced} & {r["op"] for r in untraced}
    t = [comparable(r) for r in traced if r["op"] in names]
    u = [r["wall_s"] for r in untraced if r["op"] in names]
    out["trace.overhead_frac"] = (sum(t) / len(t)) / (sum(u) / len(u)) - 1 if t and u else 0.0
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _on_term)
    for need in ("src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py",
                 "build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a graft checkout")
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)

    cp = build()
    deadline = time.time() + RUN_LIMIT_S  # the first run's build is not counted
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-seed{args.seed}"
                           + ("-trace" if args.trace else ""))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan_lines, data, ops, expect = make_plan(args, run_dir)
    run_harness(cp, plan_lines, run_dir, deadline)

    summary = json.load(open(os.path.join(run_dir, "summary.json")))
    records = [r for r in load_jsonl(os.path.join(run_dir, "ops.jsonl")) if r["pass"] >= 0]
    if not records:
        fail("the harness recorded no timed ops", 1)

    if args.workload == "etl_releases":
        verdict = verify_etl(run_dir, expect)
        bad = {k: v for k, v in verdict.items() if v}
        op_verified = lambda r: not bad
        out_bytes = dir_bytes(os.path.join(run_dir, "etl", "single"))
        shutil.rmtree(os.path.join(run_dir, "etl"), ignore_errors=True)
        os.remove(os.path.join(run_dir, "releases.xml.gz"))
    else:
        verdict = verify_queries(run_dir, data, ops, summary["verify_errors"])
        bad = {k: v for k, v in verdict.items() if v}
        op_verified = lambda r: r["op"] not in bad

    with open(os.path.join(run_dir, "records.jsonl"), "w") as f:
        for r in records:
            r["verified"] = op_verified(r)
            f.write(json.dumps({k: r[k] for k in ("workload", "op", "pass", "seed", "ok",
                                                  "verified", "wall_s", "traced")}) + "\n")
    failed = sum(1 for r in records if not (r["ok"] and r["verified"]))
    attempted = len(records)

    untraced = [r for r in records if not r["traced"]]
    walls = [r["wall_s"] for r in untraced]
    tail_p, tail_n = stats.tail_choice(len(walls))
    e2e = {
        "setup_s": summary["setup_s"],
        "op_p50_s": stats.percentile(walls, 50),
        "op_tail_s": stats.percentile(walls, tail_p),
        # per pass, then the median: one pass slowed by a neighbour on
        # the machine does not move it
        "ops_per_s": stats.median([
            sum(1 for r in untraced if r["pass"] == p and r["ok"]) /
            sum(r["wall_s"] for r in untraced if r["pass"] == p)
            for p in sorted({r["pass"] for r in untraced})]),
    }

    # Report: every metric with its unit and sample count.
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"run dir {os.path.relpath(run_dir, ROOT)}")
    print(f"  ops: {attempted} timed ({len(walls)} untraced), {failed} failed; "
          f"passes {len({r['pass'] for r in records})}")
    for k, v in sorted(verdict.items()):
        if v:
            print(f"  VERIFY FAIL {k}: {v}")
    print(f"  verification: {len(verdict) - len(bad)}/{len(verdict)} "
          + ("outputs match the generator's aggregates" if args.workload == "etl_releases"
             else "queries match the DuckDB oracle"))
    one, many = (("etl_round", "etl_rounds") if args.workload == "etl_releases"
                 else ("query", "queries"))
    print(f"  {'setup_s':28s} {e2e['setup_s']:10.4f} s    (1 set-up: session "
          f"{summary['session_s']:.2f} s + warm-up {summary['warmup_s']:.2f} s)")
    print(f"  {'error_rate':28s} {failed / attempted:10.4f}      ({attempted} ops)")
    print(f"  {one + '_p50_s':28s} {e2e['op_p50_s']:10.4f} s    ({len(walls)} ops)")
    print(f"  {one + '_tail_s':28s} {e2e['op_tail_s']:10.4f} s    (p{tail_p:g}, "
          f"{tail_n} samples beyond, {len(walls)} ops)")
    print(f"  {many + '_per_s':28s} {e2e['ops_per_s']:10.4f} 1/s  (median over passes; "
          f"{len(walls)} ops in {sum(walls):.2f} s)")
    rates = etl_rates(untraced, out_bytes) if args.workload == "etl_releases" else {}
    if rates:
        n = WORKLOADS["etl_releases"]["releases"]
        print(f"  {'etl_releases_per_s':28s} {rates['etl.releases_per_s']:10.1f} 1/s  "
              f"({rates['n']} single-stream conversions of {n} releases)")
        print(f"  {'etl_chunked_releases_per_s':28s} "
              f"{rates['etl.chunked_releases_per_s']:10.1f} 1/s  "
              f"({rates['n']} rechunks + conversions of {n} releases)")
        print(f"  {'etl_bytes_per_release':28s} {rates['etl.bytes_per_release']:10.2f} B    "
              f"(the last single-stream output)")
    for k, v in summary["calib"].items():
        print(f"  {k:28s} {v:10.4f} s    (median of 5 loops / 3 jobs)")

    if args.trace:
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        traced = [r for r in records if r["traced"] and r["ok"]]
        if not traced:
            fail("no traced op succeeded", 1)
        metrics = layer_metrics(traced, summary, untraced, failed / attempted, units)
        metrics.update(rates)
        check_spans(run_dir)
        for k in units:  # layers this workload does not exercise read 0
            metrics.setdefault(k, 0.0)
        result = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    else:
        result = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                  for m in bench["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result}))


def etl_rates(untraced, out_bytes):
    """Releases per second through each path, over the untraced ops, and
    Parquet bytes written per release by the single-stream path."""
    n = WORKLOADS["etl_releases"]["releases"]
    parts = [r["parts"] for r in untraced if r["ok"]]
    return {
        "n": len(parts),
        "etl.releases_per_s": n * len(parts) / sum(p["single_s"] for p in parts),
        "etl.chunked_releases_per_s":
            n * len(parts) / sum(p["rechunk_s"] + p["chunked_s"] for p in parts),
        "etl.bytes_per_release": out_bytes / n,
    }


def check_spans(run_dir):
    """Every traced op's harness children plus its residual must add up
    to its wall time; print the self time per span name."""
    spans = load_jsonl(os.path.join(run_dir, "spans.jsonl"))
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op_index"], []).append(s)
    self_by_name = {}
    for op_spans in by_op.values():
        op = next(s for s in op_spans if s["parent"] == -1)
        lo, hi = op["start_ms"], op["end_ms"]
        covered = stats.union_length((max(lo, c["start_ms"]), min(hi, c["end_ms"]))
                                     for c in op_spans if c["parent"] == 0)
        selft = stats.self_times(op_spans)
        residual = selft[op["id"]]
        if abs(covered + residual - (hi - lo)) > 1e-6:
            fail(f"op {op['op_index']}: children and residual do not add up", 1)
        for s in op_spans:
            name = "op.residual" if s["parent"] == -1 else s["name"]
            self_by_name[name] = self_by_name.get(name, 0.0) + selft[s["id"]] / 1000
    print(f"  self time by span over {len(by_op)} traced ops (s): " + ", ".join(
        f"{k} {v:.3f}" for k, v in sorted(self_by_name.items(), key=lambda kv: -kv[1])))


if __name__ == "__main__":
    main()
