#!/usr/bin/env python3
"""Benchmark entry point (see perfbench/README.md).

    python3 perfbench/run.py --workload cli_index --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the JVM program
(graft.perfbench.PerfBench) in a fresh process, checks every output
(perfbench/check.py) and prints, as its last stdout line, one JSON
object with the keys correct, attempted, failed and metrics. Every
file a run writes lives under a per-run directory of the repository that
is deleted afterwards.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
HEAP = "3g"
SETUP_SAMPLES = 2
JVM_TIMEOUT_S = 170

# Input sizes of each workload (the same for every seed).
CLI_BYTES = 4_000_000
INGEST = dict(n_docs=1000, exact_share=0.2, near_share=0.2)
CURATION_DOCS = 250

END_TO_END = {
    "setup_s": "s",
    "mb_per_s": "MB/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "engine.session_s": "s",
    "sources.manifest_s": "s",
    "sources.scan_s": "s",
    "sources.scan_bytes": "bytes",
    "sources.scan_rows": "count",
    "queries.index_s": "s",
    "queries.index_pairs": "count",
    "queries.index_words": "count",
    "queries.index_shuffle_bytes": "bytes",
    "sources.sink_s": "s",
    "sources.sink_bytes": "bytes",
    "sources.sink_files": "count",
    "tables.scan_s": "s",
    "tables.spread_partitions": "count",
    "queries.signatures_s": "s",
    "queries.minhash_pairs_s": "s",
    "queries.band_candidates": "count",
    "queries.verified_pairs": "count",
    "queries.verify_yield": "ratio",
    "queries.clusters_s": "s",
    "queries.cluster_jobs": "count",
    "queries.clean_audit_s": "s",
    "plans.labels_store_build_s": "s",
    "plans.store_build_s": "s",
    "plans.store_bind_s": "s",
    "plans.store_bytes": "bytes",
    "plans.store_files": "count",
    "plans.store_bytes_per_input_byte": "ratio",
    "plans.read_repair_s": "s",
    "queries.delta_serve_s": "s",
    "queries.delta_band_candidates": "count",
    "queries.serve_store_exchanges": "count",
    "queries.verdicts_exact": "count",
    "queries.verdicts_near": "count",
    "queries.verdicts_new": "count",
    "queries.admit_s": "s",
    "streaming.serve_s": "s",
    "streaming.batches": "count",
    "streaming.state_bytes": "bytes",
    "spark.task_s": "s",
    "spark.busy_share": "ratio",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.tasks": "count",
    "spark.task_skew": "ratio",
    "trace.first_pass_s": "s",
    "trace.pass_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead": "ratio",
}


class RunFailed(Exception):
    pass


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return None


def java_major():
    r = subprocess.run(["java", "-XshowSettings:properties", "-version"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    for line in r.stdout.splitlines():
        if "java.specification.version" in line:
            v = line.split("=")[1].strip()
            return int(v.split(".")[-1] if v.startswith("1.") else v)
    return 17


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None  # an exported tree: no commit to name
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def jvm(cp, work, args, log, jdk):
    """Run the JVM program once; returns its result dict."""
    for d in ("warehouse", "local", "checkpoint", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    out = os.path.join(work, f"result-{time.monotonic_ns()}.json")
    cmd = ["java", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if jdk < 21:
        cmd += ["-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=512"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.driver.host=127.0.0.1",
        "-Dspark.driver.bindAddress=127.0.0.1",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dspark.local.dir={os.path.join(work, 'local')}",
        f"-Dspark.sql.streaming.checkpointLocation={os.path.join(work, 'checkpoint')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dderby.system.home={os.path.join(work, 'tmp')}",
        "-cp", cp, "graft.perfbench.PerfBench",
    ]
    t0us = time.time_ns() // 1000
    cmd += [f"{k}={v}" for k, v in args.items()] + [f"t0us={t0us}", f"out={out}"]
    with open(log, "ab") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as fh:
            tail = fh.read()[-3000:]
        raise RunFailed(f"JVM {args.get('mode')} exited with code {code}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def make_inputs(workload, seed, input_dir, trace):
    """Inputs of one run; corpus name -> (directory, metadata)."""
    if workload == "cli_index":
        return {"main": (input_dir, gen.cli_corpus(input_dir, seed, CLI_BYTES))}
    corpora = {"main": (input_dir, gen.documents(input_dir, seed, **INGEST))}
    if trace:
        cur = os.path.join(input_dir, "curation")
        corpora["curation"] = (cur, gen.head(input_dir, cur, CURATION_DOCS))
    return corpora


class Checker:
    """Counts checked operations; a wrong output is a failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes = []

    def op(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


def check_outputs(res, corpora, ck):
    letters = {}
    for out in res["outputs"]:
        q, path = out["query"], out["path"]
        cdir, meta = corpora[out["corpus"]]
        if q == "letters":
            if cdir not in letters:
                letters[cdir] = check.expected_letter_files(cdir)
            ok, why = check.letter_files_match(letters[cdir], path)
            ck.op(ok, f"{path}: {why}")
            continue
        want = check.expected(cdir, meta["digest"], res["oracle_sql"][q], CACHE)
        tbl = check.read_output(path)
        got = check.table_hash(tbl) if tbl is not None else (None, 0)
        ck.op(got[0] == want["hash"], f"{path}: {got[1]} rows, oracle {want['rows']}")
    for key in ("store", "labels_store"):
        if key in res:
            ck.op(res[key] == "built", f"{key} was {res[key]}, not built: run not isolated")
    if "rebind" in res:
        ck.op(res["rebind"] == "bound", "re-opening the committed store rebuilt it")
    if "admit" in res:
        adm = res["admit"]
        cdir, meta = corpora["main"]
        want = check.expected(cdir, meta["digest"], res["oracle_sql"]["q57b_delta_dedup_store"],
                              CACHE).get("verdicts", {}).get("new", 0)
        ck.op(adm["admitted"] == want, f"admitted {adm['admitted']}, oracle has {want} new")
        grew = adm["store_rows_after"] - adm["store_rows_before"]
        ck.op(grew == adm["admitted"], f"store grew {grew} rows for {adm['admitted']} admitted")
        tbl = check.read_output(adm["reserve_dir"])
        verdicts = tbl.column("verdict").to_pylist() if tbl is not None else []
        ck.op(len(verdicts) == meta["test_docs"] and "new" not in verdicts,
              "re-serve after admit still has new verdicts")


def end_to_end(workload, res, setups, meta):
    warm = [p["wall_s"] for p in res["passes"] if p["kind"] == "warm"]
    mb = (meta["test_text_bytes"] if workload == "store_ingest" else meta["text_bytes"]) / 1e6
    return {
        "setup_s": statistics.median(setups),
        "mb_per_s": mb / statistics.median(warm),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(workload, res, meta):
    vals = {k: float(res[k]) if isinstance(res.get(k), (int, float)) else 0.0
            for k in PER_LAYER}
    if workload == "store_ingest":
        vals["plans.store_bytes_per_input_byte"] = res["plans.store_bytes"] / meta["train_text_bytes"]
    vals["trace.first_pass_s"] = res["first_pass_s"]
    vals["trace.coverage"] = res["trace.spans_s"] / res["trace.pass_s"]
    return vals


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["cli_index", "store_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build.build()
    jdk = java_major()
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(work, "jvm.log")
    try:
        input_dir = os.path.join(work, "input")
        corpora = make_inputs(a.workload, a.seed, input_dir, a.trace)
        meta = corpora["main"][1]
        args = {"workload": a.workload, "input": input_dir, "work": work,
                "seconds": a.seconds, "nproc": nproc()}
        load = {"before": loadavg()}
        res = jvm(cp, work, {**args, "mode": "trace" if a.trace else "run"}, log, jdk)
        setups = [res["setup_s"]]
        if not a.trace:
            for _ in range(SETUP_SAMPLES - 1):
                setups.append(jvm(cp, work, {**args, "mode": "setup"}, log, jdk)["setup_s"])
        load["after"] = loadavg()

        ck = Checker()
        check_outputs(res, corpora, ck)
        if a.trace:
            vals = per_layer(a.workload, res, meta)
            metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in vals.items()}
        else:
            vals = end_to_end(a.workload, res, setups, meta)
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}
        report = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "inputs": {k: m for k, (_, m) in corpora.items()},
            "env": {**res.get("env", {}), "nproc": nproc(), "heap": HEAP,
                    "git_commit": git_commit()},
            "loadavg_1m": load, "setup_samples_s": setups,
            "first_pass_s": res["first_pass_s"],
            "passes": [(p["kind"], p["wall_s"]) for p in res["passes"]],
            "failures": ck.notes, "groups": res.get("trace.groups"),
        }
        print(json.dumps(report))
        print(json.dumps({"correct": ck.failed == 0, "attempted": ck.attempted,
                          "failed": ck.failed, "metrics": metrics}))
    except RunFailed as e:
        sys.stderr.write(str(e) + "\n")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
