#!/usr/bin/env python3
"""Closed-loop query benchmark over the frozen query inventory.

Usage (from the root of the repository):

    python3 qbench/run.py --workload analytics_warm --seed 1 --seconds 20 --trace 0

Builds the library and the harness from this checkout (once per source
state), runs one workload in one JVM, checks every key's output against the
DuckDB oracle (tools/check.py's rules) or a pinned digest, and prints a host
line and then, as the last line, the result object. README.md in this
directory describes the workloads and the metrics.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # write nothing outside the work directory
import metrics  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
CORPUS = BENCH / "data" / "sf0.01"
WORK = BENCH / ".work"

# Each workload is a closed loop over a fixed key set; the seed only
# permutes the order of each pass. README.md says why these keys. `memos`
# are the memo builders each set-up runs: those the warm keys read; a cold
# workload drops every memo before each request, so it builds none.
WORKLOADS = {
    "analytics_warm": {"cold": False, "memos": ["events", "ratings", "biasScored"], "keys": [
        "q19_tpch_q3_shipping", "q144_tpch_q9_profit", "q162_tpch_q21_waiting",
        "q224_lorenz_deciles", "q266_gains_lift", "q273_uplift_deciles",
        "q245_fd_check"]},
    "recsys_cold": {"cold": True, "memos": [], "keys": [
        "q60_ratings_matrix", "q62_user_item_bias", "q63_item_cosine_sim",
        "q64_user_knn_predict", "q66_als_rmse", "q107_item_cooccur_pmi"]},
}
ORDERS = 256        # more pass orders than any run uses
JAVA_TIMEOUT_S = 150
# the repository's offline sbt settings, used when SBT_OPTS is not set
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'} "
            "-Dsbt.offline=true -Xmx4g")


def log(msg):
    print(f"[qbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main" / "scala", BENCH / "src" / "main" / "scala"):
        files += sorted(d.rglob("*.scala"))
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(stamp):
    """Compile with sbt unless this source state is already built; returns
    the JVM options and classpath the build wrote."""
    launch = BENCH / "target" / "launch.txt"
    stamp_file = BENCH / "target" / "source.sha256"
    if not (launch.exists() and stamp_file.exists() and stamp_file.read_text() == stamp):
        log("building with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        env.setdefault("SBT_OPTS", SBT_OPTS)
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFile"],
            cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
        if res.returncode != 0 or not launch.exists():
            sys.exit(f"build failed ({res.returncode})")
        stamp_file.write_text(stamp)
    return launch.read_text().split("\n")


def heap_size():
    """The test suite's SPARK_DRIVER_MEM rule: half the host memory in GiB,
    within 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def on_tmpfs(path):
    """Whether `path` sits on a tmpfs mount, by the longest /proc/mounts match."""
    best, fstype = "", ""
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt, typ = parts[1], parts[2]
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                    best, fstype = mnt, typ
    except OSError:
        return None
    return fstype == "tmpfs"


def oracle_check(check_dir):
    """Runs tools/check.py on the harness's check outputs; returns the set
    of keys that passed."""
    spec = importlib.util.spec_from_file_location("check", ROOT / "tools" / "check.py")
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        check.main(str(CORPUS), str(check_dir))
    (check_dir / "check.log").write_text(out.getvalue())
    return {line.split()[1] for line in out.getvalue().splitlines() if line.startswith("PASS ")}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit(f"no library sources under {ROOT / 'src'}: run from a checkout of the repository")
    wl = WORKLOADS[args.workload]

    stamp = source_hash()
    launch = build(stamp)
    out = WORK / f"{args.workload}-trace{args.trace}"
    shutil.rmtree(out, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        (out / d).mkdir(parents=True)
    orders = out / "orders.txt"
    orders.write_text("".join(" ".join(o) + "\n"
                              for o in metrics.pass_orders(wl["keys"], args.seed, ORDERS)))

    cpus = len(os.sched_getaffinity(0))
    local_dir = str(out / "local")
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
    env.update(SPARK_GRAFT_LOCAL_DIR=local_dir, SPARK_LOCAL_DIRS=local_dir)
    cmd = (["java"] + [a for a in launch if a]
           + [f"-Xmx{heap_size()}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={out / 'tmp'}",
              f"-Dspark.sql.warehouse.dir={out / 'warehouse'}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "qbench.Main", f"corpus={CORPUS}", f"orders={orders}", f"out={out}",
              f"cpus={cpus}", f"memos={','.join(wl['memos'])}",
              f"seconds={args.seconds}",
              f"cold={int(wl['cold'])}", f"trace={args.trace}"])
    with open(out / "java.log", "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=out, env=env, stdout=jlog, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JAVA_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"harness timed out after {JAVA_TIMEOUT_S} s; see {out / 'java.log'}")
    if code != 0:
        sys.exit(f"harness exited {code}; see {out / 'java.log'}")

    run = json.loads((out / "run.json").read_text())
    timed = metrics.read_jsonl(out / "requests.jsonl")
    checked = {k: d for k, d in run["checks"].items() if d}
    passed = oracle_check(out / "check")
    pinned = json.loads((BENCH / "pinned_digests.json").read_text())
    for k in wl["keys"]:
        if k in pinned and checked.get(k) == pinned[k]:
            passed.add(k)
    bad_keys = sorted(set(wl["keys"]) - passed)
    if bad_keys:
        log(f"keys failing the oracle or their pinned digest: {' '.join(bad_keys)}")
    failed = sum(1 for r in timed
                 if not r["ok"] or r["key"] in bad_keys or r["digest"] != checked.get(r["key"]))

    tail = metrics.tail_percentile(len(timed))
    host = {
        "workload": args.workload, "seed": args.seed, "sf": CORPUS.name[2:],
        "nproc": cpus, "heap_max_mb": run["heap_max_mb"], "java": run["java"],
        "spark_local_dir": run["local_dir"], "local_dir_tmpfs": on_tmpfs(run["local_dir"]),
        "commit": "src-sha256:" + stamp[:16], "steal_frac": run["steal_frac"],
        "requests": len(timed), "loop_s": run["loop_s"],
        "tail": f"p{tail}" if tail else None,
        "tail_ms": metrics.percentile(
            [metrics.request_wall_us(r) / 1000.0 for r in timed], tail) if tail else None,
    }
    print(json.dumps({"host": host}))
    if args.trace:
        spark_spans = metrics.read_jsonl(out / "spans.jsonl")
        values = metrics.per_layer(timed, spark_spans, run)
        report_trace(out, timed, spark_spans, values)
    else:
        values = metrics.end_to_end(timed, run)
    print(metrics.result_line(not bad_keys and failed == 0, len(timed), failed, values))


def report_trace(out, timed, spark_spans, values):
    """Writes all spans and prints the per-layer self-time table."""
    traced = [r for r in timed if r["traced"]]
    spans = metrics.build_spans(traced, spark_spans)
    with open(out / "trace_spans.jsonl", "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    passes = len({r["pass"] for r in traced})
    table = metrics.layer_table(spans)
    lines = [f"{'layer':<10} {'spans':>7} {'ms/pass':>10} {'self ms/pass':>13}"]
    for name in ("request", "construct", "plan", "exec", "job", "stage"):
        row = table.get(name, {"spans": 0, "total_us": 0, "self_us": 0})
        lines.append(f"{name:<10} {row['spans']:>7} {row['total_us'] / 1000 / passes:>10.1f} "
                     f"{row['self_us'] / 1000 / passes:>13.1f}")
    parts = sum(table[n]["total_us"] for n in ("construct", "plan", "exec")) / 1000 / passes
    lines.append(f"construct + plan + exec + unattributed = "
                 f"{parts + values['trace.unattributed_ms'][1]:.1f} ms/pass; "
                 f"request wall = {table['request']['total_us'] / 1000 / passes:.1f} ms/pass")
    lines.append(f"tracing overhead: queries_per_s {values['trace.overhead_frac'][1]:+.3%} "
                 "lower on traced passes than on untraced passes of this run")
    (out / "trace_layers.txt").write_text("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
