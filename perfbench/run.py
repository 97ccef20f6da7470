#!/usr/bin/env python3
"""The repository benchmark: three workloads over the graft Spark engine.

    python3 perfbench/run.py --workload <etl_refscale|query_mix|curation>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-check      # every workload at toy size
    python3 perfbench/run.py --record <scale>  # rewrite expected/<scale>.tsv

Run it from the root of a checkout. The first call builds the program and
the harness from source with sbt into `.bench_build/`; each run then starts
one JVM (`perfbench.Main`) that reads the fixture tables in `fixtures/`
(or generates the pipeline's input), warms up, measures, checks every op's
output, and writes a result file. The last line printed
is one JSON object: correct, attempted, failed and the metrics (end-to-end
with `--trace 0`, per-layer with `--trace 1`). See README.md.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
FIXTURES = BENCH / "fixtures"
CLASSPATH = BUILD / "sbt" / "classpath.txt"
STAMP = BUILD / "sbt" / "source.sha256"

# Workload -> data settings of a measured run and of the self-check. A
# scale names a directory of fixture tables under fixtures/.
WORKLOADS = {
    "etl_refscale": {"scale": "sf0.01", "etl_rows": 2226382},
    "query_mix": {"scale": "sf0.01", "etl_rows": 0},
    "curation": {"scale": "sf0.01", "etl_rows": 0},
}
SELF_CHECK = {
    "etl_refscale": {"scale": "sf0.001", "etl_rows": 20000, "max_ops": 3},
    "query_mix": {"scale": "sf0.001", "etl_rows": 0, "max_ops": 6},
    "curation": {"scale": "sf0.001", "etl_rows": 0, "max_ops": 6},
}
HEAP = "2g"
OP_LIMIT_S = 60
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def cores():
    return len(os.sched_getaffinity(0))


def source_digest():
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*.scala")) + sorted(
        (BENCH / "src").rglob("*.scala")) + [BENCH / "build.sbt"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the harness unless this source is built."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    digest = source_digest()
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == digest:
        return
    BUILD.mkdir(parents=True, exist_ok=True)
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # offline, no sbt server, and sbt's temporary files inside the checkout
    env["SBT_OPTS"] = " ".join(filter(None, [
        env.get("SBT_OPTS", ""), "-Dsbt.override.build.repos=true",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
        f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-XX:-UsePerfData"]))
    log = BUILD / "build.log"
    with open(log, "w") as out:
        p = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "writeClasspath"],
            cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, env=env,
            start_new_session=True)
        code = wait(p, BUILD_LIMIT_S)
    if code != 0 or not CLASSPATH.exists():
        tail = log.read_text(errors="replace").splitlines()[-30:]
        fail("build failed:\n" + "\n".join(tail))
    STAMP.write_text(digest)


def wait(p, limit):
    """Wait for a process group; kill it past `limit` seconds."""
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def run_jvm(workload, seed, seconds, trace, scale, etl_rows, max_ops=None,
            expected=True, faults=False):
    """One measured run in a fresh JVM; returns the parsed result file."""
    tag = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}-{time.time_ns()}"
    work = BUILD / "work" / tag
    results = BUILD / "results"
    for d in (work / "tmp", results):
        d.mkdir(parents=True, exist_ok=True)
    out = results / f"{tag}.json"
    exp = BENCH / "expected" / f"{scale}.tsv"
    data = FIXTURES / scale
    if not (data / "lineitem.parquet").is_file():
        fail(f"missing fixture tables {data}")
    args = ["--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", str(work), "--out", str(out), "--scale", scale,
            "--etl-rows", str(etl_rows), "--cores", str(cores()),
            "--op-limit", str(OP_LIMIT_S), "--data", str(data)]
    if max_ops is not None:
        args += ["--max-ops", str(max_ops)]
    if faults:
        args += ["--faults", "1", "--op-limit", "5"]
    if expected:
        if not exp.exists():
            fail(f"missing correctness record {exp}")
        args += ["--expected", str(exp)]
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", CLASSPATH.read_text().strip(), "perfbench.Main", *args]
    log = results / f"{tag}.log"
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                 start_new_session=True)
            code = wait(p, RUN_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not out.exists():
        tail = [l for l in log.read_text(errors="replace").splitlines()
                if not l.startswith("\tat ")][-25:]
        why = "timed out" if code is None else f"exit code {code}"
        fail(f"{workload} run failed ({why}); log {log}:\n" + "\n".join(tail))
    return json.loads(out.read_text())


def declared_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def measure(a):
    build()
    cfg = WORKLOADS[a.workload]
    r = run_jvm(a.workload, a.seed, a.seconds, a.trace, cfg["scale"], cfg["etl_rows"])
    block = r["per_layer" if a.trace else "end_to_end"]
    names = declared_metrics(a.trace)
    missing = [n for n in names if n not in block]
    if missing:
        fail(f"run did not report {missing}")
    for f in r["failures"]:
        print(f"FAILED {f['op']} (pass {f['pass']}): {f['error']}")
    for q in r["rows_only"]:
        print(f"rows-only {q['query']}: {q['reason']}")
    for n in names:
        print(f"{n} = {block[n]['value']:.6g} {block[n]['unit']}")
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"],
                      "metrics": {n: block[n] for n in names}}))


def self_check():
    """Every workload's code path at toy size (traced, the superset path),
    plus one untraced query_mix run with an injected throw and hang that
    must come back as exactly those two failures. Non-zero exit on any
    problem."""
    build()
    bad = 0
    cases = [(w, True, False) for w in SELF_CHECK] + [("query_mix", False, True)]
    for w, trace, faults in cases:
        cfg = SELF_CHECK[w]
        t = time.time()
        r = run_jvm(w, 1, 1, trace, cfg["scale"], cfg["etl_rows"], cfg["max_ops"],
                    faults=faults)
        names = declared_metrics(trace)
        block = r["per_layer" if trace else "end_to_end"]
        missing = [n for n in names if n not in block]
        failed = sorted(f["op"] for f in r["failures"])
        ok = not missing and failed == (["fault_hang", "fault_throw"] if faults else [])
        bad += not ok
        print(f"{'ok ' if ok else 'BAD'} {w} trace={int(trace)}"
              f"{' faults' if faults else ''}: {r['attempted']} ops, "
              f"{r['failed']} failed, {time.time() - t:.1f} s"
              + (f", missing {missing}" if missing else ""))
        for f in r["failures"]:
            print(f"    {f['op']}: {f['error']}")
    sys.exit(1 if bad else 0)


def record(scale):
    """Take the correctness record of every query at `scale`: rows and
    content hash, from two runs with different op orders. A query whose
    hash differs between the two runs is recorded as rows-only."""
    build()
    runs = [[run_jvm(w, seed, 0, False, scale, 0, expected=False)
             for w in ("query_mix", "curation")] for seed in (1, 2)]
    seen = [{o["name"]: (int(o["rows"]), int(o["hash"])) for r in rs for o in r["ops"]}
            for rs in runs]
    failures = [f for rs in runs for r in rs for f in r["failures"]]
    if failures:
        fail(f"cannot record with failing ops: {failures}")
    lines = ["# query\trows\tcontent hash ('-' = rows-only)\tnote"]
    for n in sorted(seen[0]):
        (rows, h), (rows2, h2) = seen[0][n], seen[1][n]
        if rows != rows2:
            fail(f"{n}: row count differs between runs ({rows} vs {rows2})")
        if n == "window_sample_rand":
            lines.append(f"{n}\t{rows}\t-\trandom sample by contract (rand(42))")
        elif h != h2:
            lines.append(f"{n}\t{rows}\t-\tcontent hash differs between two runs of one commit")
        else:
            lines.append(f"{n}\t{rows}\t{h}\t")
    path = BENCH / "expected" / f"{scale}.tsv"
    path.parent.mkdir(exist_ok=True)
    path.write_text("\n".join(lines) + "\n")
    print(f"wrote {path}: {len(lines) - 1} queries")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    ap.add_argument("--record", metavar="SCALE")
    a = ap.parse_args()
    os.chdir(ROOT)
    if a.self_check:
        self_check()
    elif a.record:
        record(a.record)
    elif a.workload:
        measure(a)
    else:
        ap.error("give --workload, --self-check or --record")


if __name__ == "__main__":
    main()
