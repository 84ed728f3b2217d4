#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 16 --trace 0

Workloads (see BENCHMARK.json for why each exists):
  interactive    the headline registry queries, one query per operation
  neardup_batch  md5 MinHash-LSH near-dup removal + embedding LSH pairs, one
                 pass per operation; its traced run also replays the corpus
                 through the streaming near-dup stage

Each run generates its inputs from --seed, builds the harness with graft's
sources if they changed, runs the workload in a closed loop with one client
on local[nproc] for --seconds, checks every output against DuckDB outside
the timed region, and prints one JSON object as its last line. --trace 0
reports the end-to-end metrics; --trace 1 reports the per-layer metrics
and writes a spans file. Exit status is 0 only if every check passed.
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

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402

END_TO_END = {
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "items_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "queries.build_s": "s", "queries.eager_jobs": "count",
    "planning.analysis_s": "s", "planning.optimization_s": "s",
    "planning.physical_s": "s", "planning.exchanges": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.output_mb": "MB", "exec.peak_exec_mem_mb": "MB", "exec.task_skew": "ratio",
    "exec.driver_gap_s": "s",
    "ops.text_pairs_s": "s", "ops.text_pairs": "count", "ops.cc_s": "s",
    "ops.cc_jobs": "count", "ops.drop_s": "s", "ops.emb_pairs_s": "s",
    "ops.join_rows_per_out": "ratio",
    "kernel.shingles_ns_per_doc": "ns", "kernel.band_keys_ns_per_doc": "ns",
    "kernel.fingerprint_ns_per_doc": "ns", "kernel.lsh_bucket_ns_per_vec": "ns",
    "kernel.cosine_ns_per_pair": "ns",
    "streaming.batches": "count", "streaming.batch_p50_s": "s", "streaming.add_batch_s": "s",
    "streaming.planning_s": "s", "streaming.commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_rows_peak": "count",
    "streaming.state_removed": "count", "streaming.state_mem_mb": "MB",
    "streaming.state_commit_s": "s",
    "trace.overhead_s": "s",
}
# what one operation and one item are, per workload
UNITS = {"interactive": ("query", "query"), "neardup_batch": ("pass", "doc+vec")}
SETUP_REPS = 3          # input generations per run; setup_s takes their median
QUIET_STEAL = 0.03      # steal share above which a sample counts as disturbed
# untimed warm-up before the timed loop: the JIT keeps speeding these up for
# several passes, so each workload warms up for about three of them
WARMUP = {"interactive": 30, "neardup_batch": 3}  # queries; passes
HEAP = "2g"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------- build

def _sources() -> list:
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "scala"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build() -> str:
    """Compile graft's main sources with the harness (sbt, offline) unless
    the compiled tree already matches them; return the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"graft sources not found under {ROOT / 'src'}")
    digest = hashlib.sha256()
    for f in _sources():
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp, cp_file = HERE / "target" / "perfbench.stamp", HERE / "target" / "classpath.txt"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest.hexdigest():
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", " ".join(
        (["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
         if repos.exists() else []) + ["-Dsbt.offline=true", "-Xmx2g"]))
    # keep sbt's sockets, file-watch state, native-library copies and the
    # launcher's own temporary files in the checkout
    tmp = ROOT / ".perfbench" / "sbt-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp} -Dsbt.boot.lock=false"
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    env["TMPDIR"] = str(tmp)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "[" in lines[-1][:1]:
        print("\n".join((r.stdout + r.stderr).splitlines()[-40:]), file=sys.stderr)
        fail("build failed", 1)
    cp_file.write_text(lines[-1])
    stamp.write_text(digest.hexdigest())
    return lines[-1]


# ------------------------------------------------------------------- metrics

def tail_fraction(n: int) -> float:
    """The highest percentile with at least ten samples above it; below 30
    samples that would sit under p67, so p90 stands in."""
    return (n - 10) / n if n >= 30 else 0.9


def quantile(samples: list, labels: list, q: float) -> float:
    """Quantile of the samples with every label weighted equally, so the
    mix a run happens to catch (a partial pass of a shuffled query order)
    does not move it. With one label this is the plain quantile."""
    count = {lb: labels.count(lb) for lb in set(labels)}
    pts = sorted((v, 1.0 / count[lb]) for v, lb in zip(samples, labels))
    total, acc = sum(w for _, w in pts), 0.0
    for v, w in pts:
        acc += w
        if acc >= q * total - 1e-12:
            return v
    return pts[-1][0]


def throughput(lat: list, labels: list, per_op: float) -> float:
    """Items per second from the operations' latencies (the closed loop has
    no think time between them), at an equal mix of the labels."""
    kinds = set(labels)
    means = [statistics.mean(v for v, lb in zip(lat, labels) if lb == k) for k in kinds]
    return per_op / statistics.mean(means)


def quiet(run: dict) -> tuple:
    """The samples taken while the hypervisor gave other guests at most
    QUIET_STEAL of the machine, if they are at least half and cover every
    label; otherwise all samples. Other guests' load on a shared host comes
    in bursts that slow a whole run by up to 2x; this keeps such bursts out
    of the figures without hiding them (the summary line reports them)."""
    lat, labels, steal = run["latencies"], run["labels"], run["steal"]
    keep = [i for i, s in enumerate(steal) if s <= QUIET_STEAL]
    if 2 * len(keep) < len(lat) or {labels[i] for i in keep} != set(labels):
        keep = range(len(lat))
    return [lat[i] for i in keep], [labels[i] for i in keep]


def jvm_run(args, classpath: str, data: Path, work: Path, meta: dict) -> dict:
    out = work / "result.json"
    rows = meta["rows"]
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main",
              "--workload", args.workload, "--data", str(data), "--work", str(work),
              "--out", str(out), "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(os.cpu_count()), "--warmup", str(WARMUP[args.workload]),
              "--rows-docs", str(rows.get("documents", 0)),
              "--rows-vecs", str(rows.get("embeddings", 0))])
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as log:
        r = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not out.exists():
        print("".join(open(work / "jvm.log").readlines()[-40:]), file=sys.stderr)
        fail(f"harness exited with {r.returncode}", 1)
    return json.loads(out.read_text())


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(oracle.CHECKS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(gen.SIZES), default="full",
                    help="input sizes; 'tiny' is the smoke test's")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage graft's output before checking it (check self-test)")
    args = ap.parse_args()

    classpath = build()
    work = ROOT / ".perfbench" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    data = work / "data"
    gen_s = []
    for _ in range(SETUP_REPS):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        meta = gen.generate(args.workload, args.seed, args.scale, data, os.cpu_count())
        gen_s.append(time.perf_counter() - t0)

    res = jvm_run(args, classpath, data, work, meta)
    checks = oracle.CHECKS[args.workload](data, work, args.corrupt)
    bad_checks = {k: v for k, v in checks.items() if v}
    run = res["untraced"]
    timed = [run] + ([res["traced"]] if args.trace else [])
    attempted = sum(r["attempted"] for r in timed) + len(checks)
    failed = sum(r["failed"] for r in timed) + len(bad_checks)
    if not run["latencies"]:
        fail("no operation completed", 1)
    lat, labels = quiet(run)
    t_frac = tail_fraction(len(lat))
    e2e = {
        "latency_p50_s": quantile(lat, labels, 0.5),
        "latency_tail_s": quantile(lat, labels, t_frac),
        "items_per_s": throughput(lat, labels, run["items"] / len(run["latencies"])),
        "setup_s": statistics.median(gen_s) + res["jvm_setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    op, item = UNITS[args.workload]
    summary = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "sizes": meta["sizes"], "rows": meta["rows"], "nproc": os.cpu_count(),
        "heap": HEAP, "spark": res["spark_version"], "java": res["java_version"],
        "latency_per": op, "item": item,
        "tail_percentile": round(100 * t_frac, 1), "samples": len(lat),
        "samples_disturbed": len(run["latencies"]) - len(lat),
        "steal_frac": run["steal_frac"],
        "fail_frac": failed / attempted, "checks": checks,
    }
    if args.workload == "interactive":
        summary["queries_per_s"] = e2e["items_per_s"]
    print(json.dumps(summary))

    if args.trace:
        layers = dict(res["layers"])
        traced = res["traced"]
        layers["trace.overhead_s"] = (
            quantile(traced["latencies"], traced["labels"], 0.5) - e2e["latency_p50_s"]
            if traced["latencies"] else 0.0)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        print(f"spans: {work / 'spans.json'}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": not bad_checks and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
