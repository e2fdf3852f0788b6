#!/usr/bin/env python3
"""The repo benchmark: the paper's ingest pipeline and the dashboard query
mix, each run end to end in a fresh JVM against the compiled library.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the library and the
harness into `.bench_build/` (see build.py). Each run then

1. generates its inputs from --seed into a private run directory and checks
   them against the generator's row counts and digests;
2. launches one JVM (fixed heap, `local[nproc]`, shuffle partitions =
   nproc, private java.io.tmpdir / warehouse / local / checkpoint dirs),
   which sets up, runs an untimed warm/verify pass, then the timed closed
   loop;
3. checks every output: the dashboard keys against DuckDB over the frozen
   oracle SQL, the pipeline's view, serving table and stream against the
   generator's ground truth, and every timed query's row count against the
   warm pass;
4. prints a report, then one JSON line with the end-to-end metrics
   (--trace 0) or the per-layer metrics from a traced run (--trace 1);
5. deletes the run directory. Exit status 0 only if every output was right.

Workloads, metrics and the layer-to-metric map are described in
perfbench/README.md and BENCHMARK.json.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build   # noqa: E402
import gen     # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

HEAP = "3g"
RUN_TIMEOUT_S = 165             # after the build; a run must end within 180 s

# Short reads of the pipeline's analytics, from every module with declared
# queries: agg, rel, llm, and the pipeline module's graft-table reads.
DASHBOARD_KEYS = [
    "agg_daily_top_titles", "agg_daily_top_editors", "agg_multi", "join_inner",
    "join_asof", "win_rank_topn", "topk_orderby_limit", "dedup_text_hash",
    "sim_topk_cosine", "text_top_terms", "filter_partition_prune",
    "scan_metadata_count", "scan_bloom_skipping", "scan_table_changes"]

# --seconds sets the amount of work, not a deadline: ceil(seconds / nominal
# cycle length) cycles, at least two. A cycle is one pass over the
# dashboard keys (about 3.5 s on a 4-core VM) or five ingest batches (about
# 12.5 s). Every run of a workload at a given --seconds therefore does the
# same work on both sides of a comparison, with the same sample count.
DASHBOARD_SF = 0.1
DASHBOARD_PASS_S = 3.5
INGEST_CYCLE = 5                # batches per cycle (1,000 lines)
INGEST_CYCLE_S = 12.5
INGEST_WARM = 6                 # untimed warm/verify batches (past the JIT warm-up)


def cycles(seconds, nominal):
    return max(2, math.ceil(seconds / nominal))


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def nproc():
    return len(os.sched_getaffinity(0))


def git_sha(root):
    head = os.path.join(root, ".git")
    if not os.path.exists(head):
        return None
    try:
        return subprocess.run(["git", "-C", root, "rev-parse", "--short=12", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def start_jvm(cp, run_dir, args):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp + [os.path.join(build.spark_jars(), "*")]),
              "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()])
    with open(os.path.join(run_dir, "jvm.log"), "wb") as log:
        return subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)


def wait_jvm(p, deadline):
    """Exit code of the JVM, or None if it had to be killed at the deadline.
    The JVM's whole process group is gone when this returns."""
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def read_records(path):
    recs = []
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    try:
                        recs.append(json.loads(line))
                    except json.JSONDecodeError:
                        pass   # a line cut by a crash
    return recs


def check_ingest(run_dir, batches):
    """([(name, ok, message)], truth): the pipeline's outputs against the
    generator's ground truth."""
    import pyarrow.parquet as pq
    truth = gen.ingest_truth(batches)

    def rows(sub):
        return pq.read_table(os.path.join(run_dir, sub)).to_pylist()

    def mv():
        got = {(r["yyyy"], r["mm"], r["dd"], r["title"], r["user"]): r["cnt"]
               for r in rows("verify/mv")}
        return got == truth["mv"], f"{len(got)} groups vs {len(truth['mv'])} expected"

    def serving():
        got = {(r["dt"], r["username"]): r["edits"] for r in rows("verify/serving")}
        return (got == truth["serving"],
                f"{len(got)} rows vs {len(truth['serving'])} expected")

    def stream():
        sdir = os.path.join(run_dir, "stream_out")
        ids = [i for f in sorted(os.listdir(sdir)) if f.endswith(".parquet")
               for i in pq.read_table(os.path.join(sdir, f), columns=["id"])
               .column("id").to_pylist()]
        ok = len(ids) == len(set(ids)) and set(ids) == truth["stream_ids"]
        return ok, (f"{len(ids)} rows, {len(set(ids))} ids vs "
                    f"{len(truth['stream_ids'])} expected")

    out = []
    for name, check in (("mv", mv), ("serving", serving), ("stream", stream)):
        try:
            out.append((name,) + check())
        except Exception as e:   # a missing or unreadable output fails the check
            out.append((name, False, f"{type(e).__name__}: {e}"))
    return out, truth


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "dashboard"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs for the self-check: sf0.001 tables, "
                         "100-line batches, cycles of 2 batches")
    a = ap.parse_args(argv)
    root = os.getcwd()
    try:
        cp = build.build(root)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    t_setup0 = time.time()           # set-up clock: inputs, JVM, warm pass
    deadline = t_setup0 + RUN_TIMEOUT_S
    n = nproc()
    run_dir = os.path.join(root, ".bench_runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "warehouse", "local", "data", "checkpoints", "verify"):
        os.makedirs(os.path.join(run_dir, d))
    data = os.path.join(run_dir, "data")
    jargs = {"workload": a.workload, "data": data, "run": run_dir,
             "out": os.path.join(run_dir, "records.jsonl"), "seed": a.seed,
             "trace": a.trace, "nproc": n}
    ready = os.path.join(run_dir, "inputs_ready")
    jargs["ready"] = ready
    if a.workload == "dashboard":
        jargs.update(keys=",".join(DASHBOARD_KEYS), passes=cycles(a.seconds, DASHBOARD_PASS_S))
    else:
        cycle, lines = (2, 100) if a.small else (INGEST_CYCLE, gen.BATCH_LINES)
        nb = INGEST_WARM + cycle * cycles(a.seconds, INGEST_CYCLE_S)
        jargs.update(warm=INGEST_WARM, batches=nb, cycle=cycle)
    jvm = None
    try:
        # The JVM starts its session while the inputs are generated; it
        # waits for the `ready` marker before it reads them.
        jvm = start_jvm(cp, run_dir, jargs)
        if a.workload == "dashboard":
            manifest = gen.write_tables(data, a.seed, 0.001 if a.small else DASHBOARD_SF)
            gen.verify_tables(data, manifest)
        else:
            manifest, batches = gen.write_ingest(data, a.seed, nb, lines)
            gen.verify_ingest(data, manifest)
        open(ready, "w").close()
        rc = wait_jvm(jvm, deadline)
        recs = read_records(jargs["out"])
        done = any(r["kind"] == "done" for r in recs)
        if rc is None or rc != 0 or not done:
            with open(os.path.join(run_dir, "jvm.log"), "rb") as f:
                tail = f.read()[-3000:].decode(errors="replace")
            print(f"perfbench: JVM {'timed out' if rc is None else f'exited {rc}'}"
                  f"\n{tail}", file=sys.stderr)
            return 3
        if a.workload == "dashboard":
            checks = [(k, ok, msg) for k, (ok, msg) in oracle.check_keys(
                root, data, os.path.join(run_dir, "verify"), DASHBOARD_KEYS).items()]
            info = {"stored_base": manifest["events"]["rows"]}
        else:
            checks, truth = check_ingest(run_dir, batches)
            info = {"stored_base": truth["curated_rows"], "raw_lines": truth["raw_lines"],
                    "timed_events": sum(1 for _, meta in batches[INGEST_WARM:]
                                        for m in meta if m is not None)}
        res = report.summarize(a.workload, recs, checks, info, t_setup0, n,
                               a.trace == 1, DASHBOARD_KEYS)
    finally:
        if jvm is not None:
            wait_jvm(jvm, time.time())      # no-op unless generation failed
        shutil.rmtree(run_dir, ignore_errors=True)
    stamp = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
             "trace": a.trace, "nproc": n, "heap": HEAP,
             "git_sha": git_sha(root), "src_digest": build.source_digest(root)}
    print("perfbench stamp " + json.dumps(stamp, sort_keys=True))
    for line in res["report"]:
        print(line)
    # tracing overhead: compare only with untraced runs of the same library
    # and benchmark code at the same --seconds; self-check runs (--small)
    # are neither recorded nor compared
    hist_key = None if a.small else f"{a.workload}-{build.bench_digest(root)}-{a.seconds}"
    if a.trace == 1:
        report.save_trace(root, a.workload, hist_key, os.path.basename(run_dir), res)
    elif hist_key:
        report.remember_untraced(root, hist_key, res["metrics"])
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    sys.stdout.flush()
    return 0 if res["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
