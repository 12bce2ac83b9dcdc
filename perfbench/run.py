#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <scan_fanout|library>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the library (src/main/scala) and the benchmark's JVM program
(perfbench/src) with the Scala compiler that ships in Spark's jars, caching
the classes under .bench_build/, runs one JVM, checks its outputs, and
prints one JSON result as the last line of stdout. See perfbench/README.md
for the workloads, the metrics and the layer map.
"""
import argparse
import decimal
import hashlib
import json
import math
import os
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
FIXTURES = HERE / "fixtures" / "sf0.01"
PINNED = HERE / "pinned.json"
THETA = 3.1
# the whole run, build excluded, ends within this many seconds
DEADLINE_S = 170
HEAP = "2g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars, found from SPARK_HOME or from spark-submit on PATH.
    They include the Scala compiler the build uses."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = Path(submit).resolve().parent.parent
    jars = Path(home or ".") / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        die(f"no Spark jars with a Scala compiler in {jars}")
    return str(jars / "*")


def build():
    """Compile the library and the benchmark once per source tree; reuse the
    classes while no source changes."""
    sources = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not sources:
        die("no library sources under src/main/scala")
    sources += sorted((HERE / "src").rglob("*.scala"))
    digest = hashlib.sha256()
    for f in sources:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    out = BUILD / f"classes-{digest.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    BUILD.mkdir(exist_ok=True)
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old)
    out.mkdir()
    jars = spark_jars()
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", str(out), "-classpath", jars]
        + [str(f) for f in sources],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(out)
        die("compilation failed")
    (out / ".complete").write_text("")
    print(f"perfbench: built {out.name} in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return out


def java_cmd(classes, main, args, tmp):
    """A JVM for Spark on JDK 17 with a fixed 2 GB heap, keeping its
    temporary files (native libraries, checkpoints) under `tmp`."""
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java", "-XX:-UsePerfData"]
            + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", f"{classes}:{spark_jars()}", main] + args)


def run_jvm(classes, args, work, timeout):
    """Run the benchmark JVM in its own process group; kill the group and wait
    for it if it outlives its deadline."""
    cmd = java_cmd(classes, "perfbench.Main", args, work / "tmp")
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    if rc != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-4000:]
        sys.stderr.write(tail)
        die("benchmark JVM timed out" if rc is None else f"benchmark JVM exited {rc}")


# ---- output checks -------------------------------------------------------

def canon(v):
    """One spelling per value, whichever engine produced it: integral
    numbers as ints, other numbers as doubles, times as naive ISO text."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return int(v) if v.is_integer() and abs(v) < 2 ** 53 else v
    if hasattr(v, "isoformat"):
        try:
            v = v.replace(tzinfo=None)
        except (TypeError, ValueError):
            pass
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def table_digest(table):
    """(rows, order-insensitive hash) of an Arrow table: columns by name,
    rows as a sorted multiset of canonical tuples."""
    cols = sorted(table.column_names)
    rows = sorted(repr(tuple(canon(r[c]) for c in cols))
                  for r in table.to_pylist())
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()[:32]


def check_scan(res):
    """The rows of every pass must equal DuckDB's count for the paper's
    query over the same files; the directory must hold data files only."""
    import duckdb
    d = Path(res["scan_dir"])
    files = sorted(d.iterdir())
    errors = []
    if len(files) != 64 or any(not f.name.endswith(".parquet") or not f.is_file()
                               for f in files):
        errors.append(f"scan dir holds {[f.name for f in files][:5]}...")
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    truth = sum(con.execute(
        f"SELECT count(*) FROM (SELECT * FROM '{f}' WHERE ke > {THETA})"
    ).fetchone()[0] for f in files)
    bad = [n for n in res["scan_rows"] + res["merged_rows"] if n != truth]
    if bad:
        errors.append(f"scan rows {bad[:3]} != duckdb {truth}")
    # a wrong pass fails each of its per-file queries
    return len(bad) * len(files), errors


def check_library(res):
    """Each warm-up result must match its pinned row count and hash."""
    import pyarrow.parquet as pq
    pinned = json.loads(PINNED.read_text())["queries"]
    failed, errors = 0, []
    for q in res["order"]:
        try:
            got = table_digest(pq.read_table(Path(res["check_dir"]) / q))
        except Exception as e:  # a missing dump means the warm-up call threw
            got = (None, str(e)[:100])
        pin = pinned.get(q, {})
        want = (pin.get("rows"), pin.get("hash"))
        if got != want:
            failed += 1
            errors.append(f"{q}: got {got}, pinned {want}")
    return failed, errors


# ---- metrics -------------------------------------------------------------

def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(res, ok_frac):
    calls = res["call_s"]
    # each call's median across passes, summed: one stalled call does not
    # move it
    pass_s = sum(statistics.median(c) for c in zip(*calls))
    return {
        "setup_s": metric(res["setup_s"], "s"),
        "pass_s": metric(pass_s, "s"),
        "mb_per_s": metric(res["input_bytes"] / 1e6 / pass_s, "MB/s"),
        "read_ops": metric(statistics.median(res["read_ops"]), "count"),
        "read_bytes": metric(statistics.median(res["read_bytes"]), "B"),
        "ok_frac": metric(ok_frac, "frac"),
        "peak_rss_mb": metric(res["peak_rss_mb"], "MB"),
    }


def per_layer(res):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    layers = res["layers"]
    missing = set(units) - set(layers)
    if missing:
        die(f"traced run lacks layer metrics {sorted(missing)[:5]}")
    return {k: metric(layers[k], units[k]) for k in sorted(units)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["scan_fanout", "library"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep-work", action="store_true",
                    help="keep .bench_build/work (inputs, dumps, JVM log)")
    a = ap.parse_args()

    if not FIXTURES.is_dir() or not PINNED.is_file():
        die("fixtures or pinned results missing")
    classes = build()
    t0 = time.time()
    work = BUILD / "work"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    pinned = json.loads(PINNED.read_text())["queries"]
    (work / "pinned_rows.tsv").write_text(
        "".join(f"{q}\t{v['rows']}\n" for q, v in sorted(pinned.items())))
    cores = len(os.sched_getaffinity(0))
    trace_out = BUILD / "trace" / f"{a.workload}-seed{a.seed}.json"
    run_jvm(classes, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cores", str(cores), "--work", str(work),
        "--fixtures", str(FIXTURES), "--pinned-rows",
        str(work / "pinned_rows.tsv"), "--result", str(work / "result.json"),
        "--trace-out", str(trace_out)], work, DEADLINE_S - 10 - (time.time() - t0))
    res = json.loads((work / "result.json").read_text())

    if a.workload == "scan_fanout":
        bad_calls, errors = check_scan(res)
    else:
        bad_calls, errors = check_library(res)
    kat = res["kat"]
    if not kat["monitored_ok"]:
        errors.append(f"monitored meter read {kat['monitored_bytes']} B of a "
                      f"{kat['file_bytes']} B file")
    if not kat["write_ok"]:
        errors.append(f"file-scheme write meter counted "
                      f"{kat['write_counted_bytes']} B, disk holds "
                      f"{kat['write_on_disk_bytes']} B")
    errors += res["failures"]
    attempted = res["calls"]
    failed = min(attempted, res["failed"] + bad_calls)
    for e in errors:
        print(f"perfbench: FAIL {e}", file=sys.stderr)

    metrics = per_layer(res) if a.trace else end_to_end(
        res, 1.0 - failed / attempted)
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "cores": cores, "pass_samples": len(res["call_s"]),
                      "passes": [sum(c) for c in res["call_s"]],
                      "setup_phases_s": res["setup_phases_s"],
                      "kat": kat, "trace_file": str(trace_out.relative_to(ROOT))
                      if a.trace else None}))
    if not a.keep_work:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not errors and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
