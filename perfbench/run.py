#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness and graft's
sources with sbt (perfbench/jvm); later runs reuse the build until a source
changes. Each run generates its inputs from the seed, runs the workload in
one JVM (local[nproc]), checks every result against the DuckDB oracle and
prints the metrics; the last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics. --trace 1 reports the
per-layer metrics instead of the end-to-end ones. See perfbench/README.md.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JVM = os.path.join(HERE, "jvm")
CLASSES = os.path.join(JVM, "target", "scala-2.13", "classes")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 150
HEAP = "2g"  # fixed (Xms = Xmx), so heap resizing does not move the timings

# Training-data curation rows over the cached corpus. Left out to fit the
# run budget: q30, q31 and q43, which each re-run q18's Jaccard join (the
# memo is cleared between rows) plus a components pass, and q68, whose
# one-cell mode is an exact all-pairs cosine join.
CURATION = ["q11_dedup_exact", "q18_jaccard_dups", "q19_minhash_lsh", "q22_quality",
            "q28_simhash", "q53_batch_topk", "q58_lsh_selfjoin",
            "q73_decontaminate_bloom", "q85_image_decode"]
EMBEDDING_ROWS = {"q53_batch_topk", "q58_lsh_selfjoin"}  # the others read documents
ROWS = {"curation_corpus": CURATION, "store_ingest": []}
# store_ingest checks its stores against the q03 (funnel) and q01 (session) twins
ORACLE_ROWS = CURATION + ["q01_sessionize", "q03_window_funnel"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        for dirpath, dirs, files in os.walk(top):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
        os.environ["SPARK_HOME"] = home  # the sbt build reads it too
    if not home:
        sys.exit("perfbench: set SPARK_HOME to the Spark installation")
    return home


def java_cmd(main_args, work):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_home(), 'jars', '*')}",
               "graft.perfbench.Main"] + main_args)


def build():
    """Compile graft and the harness when any source changed since the last
    build; returns the source digest (the build's identity)."""
    digest = tree_digest([GRAFT_SRC, os.path.join(JVM, "src"),
                          os.path.join(JVM, "build.sbt"), os.path.join(JVM, "project", "build.properties")])
    stamp = os.path.join(BUILD, "build.stamp")
    oracle = os.path.join(BUILD, "oracle_sql.json")
    if os.path.exists(stamp) and os.path.isdir(CLASSES) and os.path.exists(oracle):
        with open(stamp) as fh:
            if fh.read() == digest:
                return digest
    os.makedirs(BUILD, exist_ok=True)
    spark_home()
    log("building harness and graft sources with sbt")
    t0 = time.time()
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], 800,
                   cwd=JVM, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.exit(f"perfbench: sbt compile failed ({rc})")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    rc = run_group(java_cmd(["dump-oracle", oracle] + ORACLE_ROWS, BUILD), 120,
                   stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        sys.exit("perfbench: oracle SQL dump failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"build done in {time.time() - t0:.1f} s")
    return digest


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def summarize(workload, res, props, verdicts, recalls, store_checks):
    """(attempted, failed, end_to_end, per_layer, notes)."""
    rows = ROWS[workload]
    wrong = {r for r, (ok, _) in verdicts.items() if not ok}
    ops = res["ops"]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in wrong)
    if rows:
        attempted += len(rows)  # the warm-up executions the oracle checked
        failed += len(wrong) + sum(1 for r in rows if not res["warm"][r]["ok"] and r not in wrong)
    else:
        read_ok, final = store_checks
        attempted += len(read_ok) + len(final)
        failed += read_ok.count(False) + sum(1 for ok, _ in final.values() if not ok)
    good = [o for o in ops if o["ok"] and o["name"] not in wrong and not o["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    # the unit operation: a row execution, or a batch ingest; its input
    # records: the row's input table, or the batch's events
    if rows:
        unit = good
        for o in unit:
            o["events"] = props["embeddings" if o["name"] in EMBEDDING_ROWS else "documents"]
    else:
        unit = [o for o in good if o["name"] == "ingest"]
    lat = [o["s"] for o in unit]
    if not lat or not untraced:
        raise RuntimeError("no successful timed operation")
    # latency and throughput per pass, then the median over passes: the
    # mean over a pass's operations moves with any row (the median row, or
    # the median of alternating plain and maintenance batches, would jump)
    e2e = {
        "setup_s": metrics.median(res["setup_s"]),
        "latency_p50_s": metrics.median(metrics.per_pass(
            unit, lambda xs: sum(o["s"] for o in xs) / len(xs))),
        "pass_s": metrics.median([p["s"] for p in untraced]),
        "events_per_s": metrics.median(metrics.per_pass(
            unit, lambda xs: sum(o["events"] for o in xs) / sum(o["s"] for o in xs))),
        "live_heap_mb": metrics.median([p["liveHeapMb"] for p in untraced]),
    }
    tail_v, tail_p, tail_n = metrics.tail(lat)
    run = {
        "run.latency_tail_s": tail_v,
        "run.error_rate": metrics.error_rate(attempted, failed),
    }
    notes = [f"latency tail: p{tail_p:.1f} of {tail_n} samples"
             + (" (fewer than 11: the maximum)" if tail_n < 11 else "")]
    if not rows:
        st = res["store"]
        reads = [o["s"] for o in good if o["name"] == "read"]
        for name, xs in (("ingest", lat), ("read", reads)):
            v, p, n = metrics.tail(xs)
            run[f"run.{name}_p50_s"] = metrics.median(xs)
            run[f"run.{name}_tail_s"] = v
            notes.append(f"{name} tail: p{p:.1f} of {n} samples")
        run["store.write_amp"] = metrics.amplification(st["bytes_written"], st["ingested_input_bytes"])
        run["store.space_amp"] = metrics.amplification(st["store_bytes"], st["ingested_input_bytes"])
    layers = dict(res["layers"] or {})
    if "q58_lsh_selfjoin" in recalls:
        layers["similarity.lsh_recall"] = recalls["q58_lsh_selfjoin"]
    layers.update(run)
    return attempted, failed, e2e, layers, notes


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(ROWS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(GRAFT_SRC, "graft", "SparkEntry.scala")):
        log(f"graft sources not found under {GRAFT_SRC}; run from a full checkout")
        return 2
    cpus = len(os.sched_getaffinity(0))
    source = build()
    t_start = time.time()

    data = os.path.join(BUILD, "data", f"{args.workload}-s{args.seed}")
    shutil.rmtree(data, ignore_errors=True)
    props = gen.generate(args.workload, args.seed, data)
    work = os.path.join(BUILD, "work", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(BUILD, "oracle_sql.json")) as fh:
        sqls = json.load(fh)
    oracle_dir = os.path.join(BUILD, "oracle", f"{args.workload}-{props['digest'][:16]}")
    con = check.connect(data, os.path.join(work, "tmp"), cpus)
    rows = ROWS[args.workload]
    if rows:  # oracle results are computed before, and outside, the timed JVM
        check.prepare_oracles(con, sqls, rows, oracle_dir)
    if args.workload == "curation_corpus":
        # measured near-duplicate share: documents with a partner at
        # 0.5 <= Jaccard < 1 in the exact q18 oracle
        near = con.execute(
            "SELECT count(DISTINCT d) FROM (SELECT unnest([doc_a, doc_b]) AS d FROM "
            f"read_parquet('{oracle_dir}/q18_jaccard_dups.parquet') WHERE jaccard < 1)").fetchone()[0]
        props["near_dup_share_measured"] = round(near / props["documents"], 4)
    log(f"inputs ready in {time.time() - t_start:.1f} s")

    out = os.path.join(work, "result.json")
    cmd = java_cmd(["--workload", args.workload, "--data", data, "--work", work,
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--cpus", str(cpus), "--seed", str(args.seed), "--out", out,
                    "--rows", ",".join(rows)], work)
    try:
        rc = run_group(cmd, JVM_TIMEOUT_S, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        log(f"JVM exceeded {JVM_TIMEOUT_S} s and was stopped")
        return 1
    if rc != 0 or not os.path.exists(out):
        log(f"JVM failed with exit code {rc}")
        return 1
    with open(out) as fh:
        res = json.load(fh)

    verdicts, recalls, store_checks = {}, {}, None
    if rows:
        verdicts, recalls = check.check_rows(con, sqls, rows, os.path.join(work, "results"),
                                             oracle_dir)
    else:
        stream = sorted(os.path.join(data, "events.parquet", f)
                        for f in os.listdir(os.path.join(data, "events.parquet")))
        store_checks = check.check_store(con, sqls, stream, res["reads"],
                                         os.path.join(work, "check"))
    attempted, failed, e2e, layers, notes = summarize(
        args.workload, res, props, verdicts, recalls, store_checks)

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cpus": res["cpus"], "fs_mode": res["fs_mode"], "commit": commit(),
              "source_digest": source, "inputs": props, "attempted": attempted,
              "failed": failed, "end_to_end": e2e, "per_layer": layers, "notes": notes}
    if rows:
        record["checks"] = {r: {"ok": ok, "detail": d, "warm_error": res["warm"][r]["error"]}
                            for r, (ok, d) in verdicts.items()}
    else:
        read_ok, final = store_checks
        record["checks"] = {"reads_ok": sum(read_ok), "reads": len(read_ok),
                            **{k: {"ok": ok, "detail": d} for k, (ok, d) in final.items()}}
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)

    print(f"workload {args.workload} seed {args.seed} cpus {record['cpus']} "
          f"fs_mode {record['fs_mode']} commit {record['commit']} source {source[:16]}")
    print("inputs " + json.dumps(props, sort_keys=True))
    for r, c in sorted(record["checks"].items()):
        print(f"check {r}: {json.dumps(c, sort_keys=True)}")
    for n in notes:
        print("note " + n)
    spec = "end_to_end" if args.trace == 0 else "per_layer"
    values = e2e if args.trace == 0 else layers
    chosen = {}
    for m in SPEC[spec]:
        v = values.get(m["name"], 0.0)
        chosen[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"metric {m['name']} = {v:.6g} {m['unit']}")
    if args.trace == 0:
        for k, v in sorted(layers.items()):
            if k.startswith("run.") or k.endswith("_amp"):
                print(f"metric {k} = {v:.6g}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": chosen}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
