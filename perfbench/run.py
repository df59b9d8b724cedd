#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout.  The first run builds the program
and the bench JVM (perfbench/build.sbt) into .bench_build/; later runs
reuse the build while the sources are unchanged.  Inputs are generated from
the seed with DuckDB (inputs.py) and cached in .bench_build/inputs, together
with their DuckDB reference digests (reference.py).  The bench JVM runs
the workload as a closed loop and records, for every job, its wall time,
executor CPU and an output digest; this script compares each digest with
the reference and prints the metrics.  The last line of stdout is the
result: {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json for the
named workload; with --trace 1 one traced run covers the per-layer spans of
all three workloads and prints every per-layer metric.  Everything the run
writes stays under .bench_build/.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

import inputs      # noqa: E402
import reference   # noqa: E402

WORKLOADS = ["qf_checkpoint", "suite_transcripts", "dedup_docs"]
TABLE = {"qf_checkpoint": "transcripts", "suite_transcripts": "transcripts",
         "dedup_docs": "docs"}
# Input sizes: base size and replicas of the frozen base tables (inputs.py).
# 96,388 turns in 1,500 conversations; 4,080 documents.
SIZES = {"transcripts": {"users": inputs.BASE_USERS, "reps": 1},
         "docs": {"base_docs": inputs.BASE_DOCS, "reps": 4}}
INPUT_VERSION = 2          # bump when a generator changes its output
KEEP_INPUTS = 8            # cached input sets kept in .bench_build/inputs
JVM_DEADLINE_S = 170       # a run must end within 180 s of its start
OTHER_JVM_WAIT_S = 60


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ROOT / "src" / "main" / "scala", HERE / "src"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def ensure_spark_home():
    """The Spark installation whose jars the program compiles and runs
    against: $SPARK_HOME, else the jars directory the repository's own
    build.sbt names as its unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        return
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    if m is None:
        fail("set SPARK_HOME to the Spark installation", 9)
    os.environ["SPARK_HOME"] = str(Path(m.group(1)).parent)


def build():
    """Compile the program and the bench JVM unless this tree was built already;
    returns whether it compiled."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = BUILD / "build.stamp"
    if stamp.exists() and stamp.read_text() == h.hexdigest():
        return False
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    with open(BUILD / "build.log", "w") as log:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                            timeout=850).returncode
    if rc != 0:
        fail(f"build failed (see {BUILD / 'build.log'})", 5)
    stamp.write_text(h.hexdigest())
    return True


def other_spark_jvms():
    """Spark JVMs of graft (benchmarks, tests, mains) not started by us."""
    found = []
    for p in Path("/proc").iterdir():
        if not p.name.isdigit() or int(p.name) == os.getpid():
            continue
        try:
            args = (p / "cmdline").read_bytes().split(b"\0")
        except OSError:
            continue
        if not args or not args[0].endswith(b"java"):
            continue
        line = b" ".join(args)
        if b"graft" in line or b"spark/jars" in line:
            found.append(int(p.name))
    return found


def wait_for_quiet_box():
    deadline = time.time() + OTHER_JVM_WAIT_S
    while other_spark_jvms():
        if time.time() > deadline:
            fail(f"another graft Spark JVM is running (pids {other_spark_jvms()}); "
                 "concurrent runs inflate each other, refusing to start", 3)
        time.sleep(2)


def table_properties(con, table, src):
    if table == "transcripts":
        r = con.execute(f"""SELECT sum(n), count(*),
  min(n), quantile_disc(n, 0.5), max(n), avg(n)
FROM (SELECT conv_id, count(*) AS n FROM {src} GROUP BY 1) c""").fetchone()
        drop, pii = con.execute(f"""SELECT
  avg(CASE WHEN role = 'operator' OR text = '' OR text LIKE '!!! %'
    OR text LIKE 'again again%' OR text LIKE 'der die das%'
    OR text LIKE '% damn noise%' THEN 1 ELSE 0 END),
  avg(CASE WHEN text LIKE '%@example.com%' OR text LIKE '% call 555-%'
    OR text LIKE '% my ssn is %' THEN 1 ELSE 0 END)
FROM {src}""").fetchone()
        return {"rows": int(r[0]), "convs": r[1], "turns_per_conv": {
            "min": r[2], "median": r[3], "max": r[4], "mean": round(r[5], 3)},
            "planted_drop_share": drop, "planted_pii_share": pii}
    n, near = con.execute(f"""SELECT count(*),
  count(*) FILTER (WHERE doc_id % {inputs.REP_OFFSET} >= {inputs.NEAR_OFFSET})
FROM {src}""").fetchone()
    return {"rows": n, "near_dup_share": near / n}


DIGESTS = {"qf_checkpoint": reference.qf_digest,
           "suite_transcripts": reference.suite_digest,
           "dedup_docs": reference.dedup_digest}


def prepare_input(table, seed, size, workloads):
    """Generate (or reuse) one seeded table and the reference digests of
    `workloads`; returns (table dir, meta, seconds spent)."""
    cache = BUILD / "inputs"
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    d = cache / f"{table}-s{seed}-{tag}-v{INPUT_VERSION}"
    data = d / f"{table}.parquet"   # BatchReader infers the format from it
    src = f"read_parquet('{data}/*.parquet')"
    meta_file = d / "meta.json"
    meta = json.loads(meta_file.read_text()) if meta_file.exists() else None
    todo = [w for w in workloads if meta is None or w not in meta["reference"]]
    if not todo:
        os.utime(d)
        return d, meta, 0.0
    t0 = time.time()
    con = inputs.connect()
    con.execute(f"SET temp_directory = '{BUILD / 'duckdb-tmp'}'")
    if meta is None:
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        write = inputs.write_transcripts if table == "transcripts" else inputs.write_docs
        write(con, seed, out_dir=str(data), **size)
        meta = {"seed": seed, "size": size,
                "properties": table_properties(con, table, src), "reference": {}}
    for w in todo:
        meta["reference"][w] = DIGESTS[w](con, src)
    con.close()
    meta_file.write_text(json.dumps(meta, indent=1))
    old = sorted(cache.iterdir(), key=lambda p: p.stat().st_mtime)
    for p in old[:-KEEP_INPUTS]:
        shutil.rmtree(p)
    return d, meta, time.time() - t0


def run_jvm(args, work, out, deadline):
    spark_home = Path(os.environ["SPARK_HOME"])
    cp = f"{BUILD / 'target' / 'scala-2.13' / 'classes'}:{spark_home / 'jars'}/*"
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens] +
           ["-cp", cp, "graftbench.Main"] + args + ["--work", str(work), "--out", str(out)])
    (work / "tmp").mkdir(parents=True)
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"bench JVM exceeded its time limit (log: {work / 'jvm.log'})", 4)
    if rc != 0 or not out.exists():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-15:]
        fail("bench JVM failed:\n" + "\n".join(tail), 6)
    return json.loads(out.read_text())


def check(digest, error, expected):
    """A job fails if it threw or its digest disagrees with the reference."""
    if error is not None:
        return [f"error: {error}"]
    if set(digest) != set(expected):
        return [f"digest keys {sorted(set(digest) ^ set(expected))} differ"]
    return [f"{k}: got {digest[k]}, reference {expected[k]}"
            for k in sorted(expected) if digest[k] != expected[k]]


def verify(jobs, run_checks, ref, run_check_keys):
    """Returns (attempted, failed, problems) over the jobs and run checks."""
    per_job = {k: v for k, v in ref.items() if k not in run_check_keys}
    problems = []
    failed = 0
    for i, j in enumerate(jobs):
        p = check(j["digest"], j["error"], per_job)
        failed += bool(p)
        problems += [f"job {i}: {x}" for x in p]
    attempted = len(jobs)
    if run_check_keys:
        attempted += 1
        p = check(run_checks, None, {k: ref[k] for k in run_check_keys})
        failed += bool(p)
        problems += [f"run check: {x}" for x in p]
    return attempted, failed, problems


RUN_CHECK_KEYS = {"qf_checkpoint": set(), "suite_transcripts": set(),
                  "dedup_docs": {"pairs"}}


def metric(bench, section, name, value):
    unit = next(m["unit"] for m in bench[section] if m["name"] == name)
    return {"value": value, "unit": unit}


def run_benchmark(workload, seed, seconds, trace, sizes=SIZES, start=None):
    """One run; returns (run info, result) where result is the last line.
    The bench JVM must end JVM_DEADLINE_S after `start` (or after a build)."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ensure_spark_home()
    if build() or start is None:
        start = time.time()
    workloads = WORKLOADS if trace else [workload]
    prepared = {t: prepare_input(t, seed, sizes[t], [w for w in workloads if TABLE[w] == t])
                for t in sorted({TABLE[w] for w in workloads})}
    gen_s = sum(p[2] for p in prepared.values())

    work = BUILD / "run"
    shutil.rmtree(work, ignore_errors=True)   # stale Spark dirs of killed runs
    work.mkdir(parents=True)
    args = ["--workload", workload, "--seconds", str(seconds), "--trace", str(trace)]
    for t, (d, _, _) in prepared.items():
        args += [f"--{t}", str(d / f"{t}.parquet")]
    try:
        r = run_jvm(args, work, work / "result.json", start + JVM_DEADLINE_S)
    finally:
        if (work / "jvm.log").exists():
            shutil.copy(work / "jvm.log", BUILD / "last-jvm.log")
        shutil.rmtree(work, ignore_errors=True)

    def ref(w):
        return prepared[TABLE[w]][1]["reference"][w]

    if trace:
        attempted = failed = 0
        problems = []
        metrics = {}
        for w, wr in r["workloads"].items():
            at, fa, pr = verify(wr["jobs"], wr["run_checks"], ref(w), RUN_CHECK_KEYS[w])
            attempted, failed = attempted + at, failed + fa
            problems += [f"{w} {x}" for x in pr]
            metrics[f"{w}.tasks_failed"] = wr["tasks_failed"]
            metrics[f"{w}.trace_overhead"] = wr["trace_overhead"]
        for s in r["spans"]:
            for k in ("wall_s", "cpu_s", "plan_s", "shuffle_mb", "task_skew", "jobs"):
                metrics[f"{s['name']}.{k}"] = s[k]
            for k, v in s["counts"].items():
                metrics[f"{s['name']}.{k}"] = v
        declared = [m["name"] for m in bench["per_layer"]]
        missing = [n for n in declared if n not in metrics]
        if missing:
            fail(f"traced run did not produce {missing}", 7)
        out = {n: metric(bench, "per_layer", n, metrics[n]) for n in declared}
        traces = BUILD / "traces"
        traces.mkdir(exist_ok=True)
        spans_file = traces / f"spans-{workload}-s{seed}.json"
        spans_file.write_text(json.dumps(r["spans"], indent=1))
        info = {"spans_file": str(spans_file.relative_to(ROOT))}
    else:
        attempted, failed, problems = verify(r["jobs"], r["run_checks"], ref(workload),
                                             RUN_CHECK_KEYS[workload])
        ok = [j for j in r["jobs"] if j["error"] is None]
        if not ok:
            fail("no timed job completed:\n" + "\n".join(problems[:10]), 8)
        rows = prepared[TABLE[workload]][1]["properties"]["rows"]
        wall = statistics.median(j["wall_s"] for j in ok)
        cpu = statistics.median(j["cpu_s"] for j in ok)
        values = {
            "setup_s": r["setup_s"],
            "rows_per_s": rows / wall,
            "cpu_s_per_mrow": cpu / (rows / 1e6),
            "storage_peak_mb": r["storage_peak_mb"],
            "ok_frac": (attempted - failed) / attempted,
        }
        out = {n: metric(bench, "end_to_end", n, v) for n, v in values.items()}
        info = {"timed_jobs": len(r["jobs"]), "warmup_jobs": len(r["warmup"]),
                "warmup_wall_s": [round(j["wall_s"], 3) for j in r["warmup"]],
                "timed_wall_s": [round(j["wall_s"], 3) for j in r["jobs"]],
                "session_s": r["session_s"], "median_job_s": wall}
    for p in problems[:20]:
        print(f"perfbench: mismatch: {p}", file=sys.stderr)
    info.update({"workload": workload, "seed": seed, "trace": trace,
                 "input_gen_s": round(gen_s, 3),
                 "inputs": {t: p[1]["properties"] for t, p in prepared.items()}})
    return info, {"correct": failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": out}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources under {ROOT / 'src/main/scala'}", 2)
    wait_for_quiet_box()
    info, result = run_benchmark(a.workload, a.seed, a.seconds, a.trace, start=start)
    print(json.dumps({"run": info}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
