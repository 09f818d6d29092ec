"""The repository's benchmark: three workloads over the graft engine.

usage: python3 perfbench/run.py --workload <etl_batch|etl_stream|curate_gates|all>
           [--seed N] [--seconds S] [--trace 0|1]

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the JVM harness
(perfbench/scala), checks every output outside the timed region, and prints
one JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end list, with --trace 1 its
per_layer list. A wrong output makes the run fail with exit code 1.
``--workload all`` runs the three untraced and prints every end-to-end
figure each reports, by name and unit, with its failed share. See
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("etl_batch", "etl_stream", "curate_gates")
# Fixed order: the first gate after set-up pays the JIT warm-up of its code
# paths, so a seeded order would add that cost to a different gate each run.
# The control runs last, warm.
GATES = ["stream_bm25", "dd_minhash_lsh"]

# Input sizes, fixed per workload; the seed changes content only.
BATCH_FILES_PER_SOURCE, BATCH_ROWS_PER_FILE = 4, 12500
STREAM_ROWS_PER_FILE, STREAM_BACKLOG_FILES, STREAM_FILES_PER_TRIGGER = 50, 120, 40
# Open-loop arrival rate of the steady phase, files per second: about half
# the warm backlog drain rate (~30 files/s on 4 cores) measured at the
# commit that introduced it.
STREAM_RATE = 15.0
STREAM_MIN_STEADY_FILES = 100
# sf0.1 has 5000 documents. At 5000 a curate_gates run took 82-90 s on a
# 4-core VM, too long for 22 runs per workload within the hour; 4000 keeps
# each gate's executor/driver split (perfbench/README.md, "Run-time budget").
CORPUS_DOCS = 4000

# Units of the end-to-end figures a workload reports beyond BENCHMARK.json's
# bounded list (printed by --workload all, kept in every record).
EXTRA_UNITS = {"latency_p50_s": "s", "latency_p90_s": "s", "wall_s": "s"}

# Per-layer metric families a workload does not exercise; they read 0.
UNEXERCISED = {
    "etl_batch": ("streaming.", "gates."),
    "etl_stream": ("config.", "sources.", "operators.", "sinks.", "gates."),
    "curate_gates": ("config.", "sources.", "operators.", "sinks."),
}

JVM_TIMEOUT_S = 165
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def write_json(path, obj):
    Path(path).write_text(json.dumps(obj, indent=1, sort_keys=True))


# ----------------------------------------------------------------- inputs

def prepare_etl_batch(seed, run):
    inp = run / "inputs"
    manifest = gen.write_etl(seed, inp / "etl", BATCH_FILES_PER_SOURCE, BATCH_ROWS_PER_FILE)
    gen.write_etl(seed + 1_000_003, inp / "warm", 1, 200)
    write_json(inp / "doc.json", gen.document(
        [(s, f"{inp}/etl/{s}/*.json") for s in ("eu", "us")], f"{run}/out"))
    write_json(inp / "warm_doc.json", gen.document(
        [(s, f"{inp}/warm/{s}/*.json") for s in ("eu", "us")], f"{run}/warm_out"))
    opts = {"doc": inp / "doc.json", "warm-doc": inp / "warm_doc.json",
            "rows": manifest["rows"], "sinks": run / "out"}
    return opts, manifest, {"rows": manifest["rows"], "files": len(manifest["files"])}


def steady_files(seconds):
    return max(STREAM_MIN_STEADY_FILES, int(round(STREAM_RATE * seconds)))


def prepare_etl_stream(seed, run, seconds):
    inp = run / "inputs"
    n = STREAM_BACKLOG_FILES + steady_files(seconds)
    manifest = gen.write_etl(seed, inp / "gen", (n + 1) // 2, STREAM_ROWS_PER_FILE)
    # interleave the two sources' files; the first ones form the backlog
    by_src = {s: [f for f in manifest["files"] if f["name"].startswith(s + "/")] for s in ("eu", "us")}
    order = [f for pair in zip(by_src["eu"], by_src["us"]) for f in pair][:n]
    for d in ("backlog", "steady"):
        (inp / d).mkdir(parents=True)
    for i, f in enumerate(order):
        dest = "backlog" if i < STREAM_BACKLOG_FILES else "steady"
        os.replace(inp / "gen" / f["name"], inp / dest / Path(f["name"]).name)
    unused = {f["name"] for f in manifest["files"]} - {f["name"] for f in order}
    assert not unused, "stream inputs: every generated file must be fed"
    warm = gen.write_etl(seed + 1_000_003, inp / "warmgen", 1, 200)
    (inp / "warm").mkdir()
    for f in warm["files"]:
        os.replace(inp / "warmgen" / f["name"], inp / "warm" / Path(f["name"]).name)
    for tag in ("warm", "base", "main", "single"):
        write_json(inp / f"{tag}.json", gen.document(
            [("stream", f"{run}/stream_{tag}/watch")], f"{run}/stream_{tag}/out"))
    backlog_rows = STREAM_ROWS_PER_FILE * STREAM_BACKLOG_FILES
    opts = {"docs": inp, "inputs": inp, "rate": STREAM_RATE,
            "files-per-trigger": STREAM_FILES_PER_TRIGGER, "backlog-rows": backlog_rows}
    sizes = {"rows": manifest["rows"], "files": n, "backlog_files": STREAM_BACKLOG_FILES,
             "steady_files": n - STREAM_BACKLOG_FILES, "rate_files_per_s": STREAM_RATE,
             "files_per_trigger": STREAM_FILES_PER_TRIGGER}
    return opts, manifest, sizes


def prepare_curate(seed, run):
    corpus = run / "inputs" / "corpus"
    sizes = gen.write_corpus(seed, corpus, CORPUS_DOCS)
    opts = {"corpus": corpus, "order": ",".join(GATES),
            "rows": CORPUS_DOCS, "check": run / "check"}
    return opts, None, dict(sizes, order=GATES)


# ----------------------------------------------------------------- checks

def etl_outputs(out):
    """(ok lines from parquet, ok lines from json, ko lines), each as
    gen.ok_line / gen.ko_line would render the row."""
    import duckdb
    con = duckdb.connect()
    cols = "{'id': 'BIGINT', 'amount_cents': 'BIGINT', 'channel_norm': 'VARCHAR', 'sku_family': 'VARCHAR'}"
    ok_sql = "SELECT concat_ws('|', id, amount_cents, channel_norm, sku_family) FROM "
    ok_pq = con.sql(ok_sql + f"read_parquet('{out}/ok/ok-parquet/**/*.parquet')").fetchall()
    ok_js = con.sql(ok_sql + f"read_json('{out}/ok/ok-json/**/*.json', format='newline_delimited', "
                    f"columns={cols})").fetchall()
    ko = con.sql("SELECT concat_ws('|', id, array_to_string(arraycoderrorbyfield, ',')) FROM "
                 f"read_json('{out}/ko/ko-json/**/*.json', format='newline_delimited', "
                 "columns={'id': 'BIGINT', 'arraycoderrorbyfield': 'VARCHAR[]'})").fetchall()
    return [r[0] for r in ok_pq], [r[0] for r in ok_js], [r[0] for r in ko]


def input_ids(paths):
    import duckdb
    globs = ", ".join(f"'{p}'" for p in paths)
    con = duckdb.connect()
    return [r[0] for r in con.sql(
        f"SELECT id FROM read_json([{globs}], format='newline_delimited', "
        "columns={'id': 'BIGINT'})").fetchall()]


def sha(lines):
    return gen.lines_digest(sorted(lines))


def check_etl(out, manifest, inputs, per_file):
    """Compare the sinks with the manifest. Returns (failed operations,
    details). Per file, a file whose rows differ is one failed operation;
    otherwise the checked run is one operation."""
    ok_pq, ok_js, ko = etl_outputs(out)
    ok_ids = {int(x.split("|")[0]) for x in ok_pq}
    ko_ids = {int(x.split("|")[0]) for x in ko}
    ids = input_ids(inputs)
    dropped = set(ids) - ok_ids - ko_ids
    codes = {}
    for line in ko:
        for c in line.split("|")[1].split(","):
            codes[c] = codes.get(c, 0) + 1
    checks = {
        "ok_parquet": sha(ok_pq) == manifest["ok_sha"],
        "ok_json": sha(ok_js) == manifest["ok_sha"],
        "ko_json": sha(ko) == manifest["ko_sha"],
        "error_codes": codes == manifest["codes"],
        "ok_ko_disjoint": not (ok_ids & ko_ids),
        "ok_ko_dropped_is_input": (len(ok_pq) + len(ko) + len(dropped) == len(ids) == manifest["rows"]
                                   and sha(str(i) for i in dropped) == manifest["dropped_ids_sha"]),
    }
    failed = 0 if all(checks.values()) else 1
    if per_file:
        def by_file(lines):
            groups = {}
            for x in lines:
                groups.setdefault(int(x.split("|")[0]) // gen.ROW_ID_STRIDE, []).append(x)
            return groups
        ok_f, okj_f, ko_f = by_file(ok_pq), by_file(ok_js), by_file(ko)
        bad = [f["name"] for f in manifest["files"]
               if not (sha(ok_f.get(f["index"], [])) == f["ok_sha"] == sha(okj_f.get(f["index"], []))
                       and sha(ko_f.get(f["index"], [])) == f["ko_sha"])]
        checks["files_mismatched"] = bad[:20]
        failed = len(bad) if bad else failed
    return failed, checks


def check_curate(check_dir, corpus):
    """Hash-compare each gate's output with its oracle SQL in DuckDB, as
    tools/check_oracle.py does."""
    proc = subprocess.run([sys.executable, str(ROOT / "tools/check_oracle.py"), str(check_dir),
                           str(corpus)], stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [x for x in proc.stdout.splitlines() if x.startswith("[")]
    passed = [x for x in lines if x.startswith("[PASS]") and "rows-only" not in x]
    checks = {"oracle": lines}
    failed = len(GATES) - len(passed)
    if failed:
        log("oracle check:\n" + proc.stdout[-4000:])
    return failed, checks


# ----------------------------------------------------------------- run

def git_commit():
    """HEAD of the checkout, when the checkout itself is a git repository."""
    if not (ROOT / ".git").exists():
        return None
    try:
        return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def nproc():
    return len(os.sched_getaffinity(0))


def run_jvm(classes, run, workload, seconds, trace, opts):
    cp = ":".join([str(classes), str(ROOT / "src/main/resources"), f"{build.spark_jars()}/*"])
    (run / "tmp").mkdir()
    cmd = ["java", "-Xms3g", "-Xmx3g"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={run / 'tmp'}", "-cp", cp, "graft.perfbench.Main",
        "--workload", workload, "--run", str(run), "--seconds", str(seconds),
        "--trace", str(trace), "--cpus", str(nproc())]
    for k, v in opts.items():
        cmd += [f"--{k}", str(v)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run / "spark-local"))
    with open(run / "jvm.out", "w") as so, open(run / "jvm.err", "w") as se:
        proc = subprocess.Popen(cmd, cwd=run, stdout=so, stderr=se, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0:
        tail = (run / "jvm.err").read_text()[-6000:]
        log(f"harness exited with {code}:\n{tail}")
    result = run / "result.json"
    return json.loads(result.read_text()) if result.exists() else None


def run_workload(workload, seed, seconds, trace, bench):
    classes, source_digest = build.build()
    run = build.BUILD_DIR / "runs" / f"{workload}-seed{seed}-trace{trace}"
    shutil.rmtree(run, ignore_errors=True)
    run.mkdir(parents=True)
    t0 = time.monotonic()
    if workload == "etl_batch":
        opts, manifest, sizes = prepare_etl_batch(seed, run)
    elif workload == "etl_stream":
        opts, manifest, sizes = prepare_etl_stream(seed, run, seconds)
    else:
        opts, manifest, sizes = prepare_curate(seed, run)
    t1 = time.monotonic()
    res = run_jvm(classes, run, workload, seconds, trace, opts)
    t2 = time.monotonic()
    if res is None:
        raise SystemExit(f"{workload}: the harness wrote no result")
    attempted, failed = res["attempted"], res["failed"]
    if workload == "etl_batch":
        bad, checks = check_etl(run / "out", manifest,
                                [f"{run}/inputs/etl/{s}/*.json" for s in ("eu", "us")], per_file=False)
    elif workload == "etl_stream":
        bad, checks = check_etl(run / "stream_main/out", manifest,
                                [f"{run}/inputs/{d}/*.json" for d in ("backlog", "steady")],
                                per_file=True)
    else:
        bad, checks = check_curate(opts["check"], opts["corpus"])
    failed += bad
    stages = {"prepare_s": t1 - t0, "harness_s": t2 - t1, "check_s": time.monotonic() - t2}
    want = bench["per_layer" if trace else "end_to_end"]
    metrics, missing = {}, []
    for m in want:
        if m["name"] in res["metrics"]:
            value = res["metrics"][m["name"]]
        elif m["name"].startswith(UNEXERCISED[workload]):
            value = 0.0
        else:
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    correct = failed == 0 and not res["errors"] and not missing
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "correct": correct, "attempted": attempted, "failed": failed,
        "failed_share": failed / max(attempted, 1), "metrics": metrics, "missing": missing,
        "reported": res["metrics"],
        "checks": checks, "errors": res["errors"], "facts": res["facts"], "stages": stages,
        "environment": {"nproc": nproc(), "git_commit": git_commit(),
                        "source_digest": source_digest, "inputs": sizes},
    }
    write_json(run / "record.json", record)
    if not correct:
        log(f"{workload}: INCORRECT — failed {failed}/{attempted}, missing {missing}, "
            f"errors {res['errors'][:5]}, checks {checks}")
    return record


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = a.seconds if a.seconds is not None else bench["run_seconds"]
    if a.workload == "all":
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        units.update(EXTRA_UNITS)
        rows, ok = [], True
        for w in WORKLOADS:
            r = run_workload(w, a.seed, seconds, 0, bench)
            ok &= r["correct"]
            rows += [(w, k, v, units[k]) for k, v in r["reported"].items()]
            rows.append((w, "failed_share", r["failed_share"], "share"))
        for w, name, v, unit in rows:
            print(f"{w:14s} {name:18s} {v:14.6g} {unit}")
        sys.exit(0 if ok else 1)
    r = run_workload(a.workload, a.seed, seconds, a.trace, bench)
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": r["metrics"]}))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()
