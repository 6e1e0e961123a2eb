#!/usr/bin/env python3
"""graft benchmark: seeded end-to-end workloads with a traced per-layer
breakdown.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The script

  1. compiles graft's sources and the harness (perfbench/src) with
     scalac into .bench_build/ (skipped when the sources are unchanged),
  2. generates the workload's inputs from the seed (perfbench/gen.py)
     and checks that a second generation gives the same bytes,
  3. runs the JVM harness (perfbench.Main), which sets up the session
     several times, measures an untraced phase and, with --trace 1, a
     traced phase, and checks its own outputs,
  4. checks wallet_rebuild's published sinks against DuckDB running
     the registry's oracle SQL on the same generated files,
  5. prints every metric by name with its unit, then one JSON line.

With --trace 0 the JSON carries the end-to-end metrics of
BENCHMARK.json, with --trace 1 its per-layer metrics. The span file of
the last traced run is left in .bench_build/last/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")

# the harness must finish this long after the build: runs end within 180 s
DEADLINE_S = 170

# A fixed heap keeps peak RSS from following the collector's sizing choices.
HEAP = ["-Xms1g", "-Xmx1g"]
# the module opens Spark needs on JDK 17, as in build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory, which also holds the Scala compiler."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler*.jar")):
        fail("SPARK_HOME must name a Spark install whose jars/ holds scala-compiler")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        fail("no graft sources under src/main/scala: run from the root of a graft checkout")
    return main + bench


def build():
    """Compile every source in one scalac run; cached by content hash."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        print(proc.stdout[-4000:], file=sys.stderr)
        fail("compile failed")
    os.rename(tmp, classes)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != classes:
            shutil.rmtree(old, ignore_errors=True)
    print(f"built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def generate(workload, seed, input_dir):
    """Write the seeded inputs; True when a second generation from the
    same seed gives byte-identical files."""
    first = gen.GENERATORS[workload](seed)
    second = gen.GENERATORS[workload](seed)
    os.makedirs(input_dir)
    for name, data in first.items():
        with open(os.path.join(input_dir, name + ".parquet"), "wb") as f:
            f.write(data)
    digest = lambda files: {k: hashlib.sha256(v).hexdigest() for k, v in files.items()}
    return digest(first) == digest(second), sum(len(v) for v in first.values())


def run_jvm(classes, workload, input_dir, work, seconds, trace, budget_s):
    result = os.path.join(work, "result.json")
    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    cmd = (["java"] + HEAP + ["-Xss8m"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={local}", f"-Djava.io.tmpdir={local}"] +
           ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
            "perfbench.Main", workload, input_dir, work, str(seconds), str(trace), result])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(10, budget_s))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(result):
        with open(log_path) as f:
            print(f.read()[-6000:], file=sys.stderr)
        fail(f"harness exited with {rc}")
    with open(log_path) as f:  # the harness's own progress lines
        sys.stderr.write("".join(l for l in f if l.startswith("perfbench:")))
    with open(result) as f:
        return json.load(f)


def norm(df):
    """tools/check.py's normalisation: strings for objects and times,
    floats rounded to 6 places, ints widened, rows sorted."""
    df = df.copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "datetime" in str(df[c].dtype) or df[c].dtype.kind in "mM":
            df[c] = df[c].astype(str)
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_check(input_dir, sinks):
    """Each published sink must hash-equal DuckDB running the registry's
    oracle SQL for that query over the same generated files."""
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(input_dir, "*.parquet")):
        name = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    notes = []
    for name, s in sorted(sinks.items()):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{s['dir']}/*.parquet', hive_partitioning = false)").fetchdf()
            want = con.execute(s["sql"]).fetchdf()
        except Exception as e:  # a failing oracle is a failed check
            notes.append(f"{name}: {e}")
            continue
        cols = sorted(got.columns)
        if cols != sorted(want.columns):
            notes.append(f"{name}: columns {cols} vs {sorted(want.columns)}")
        elif len(got) != len(want):
            notes.append(f"{name}: {len(got)} rows vs oracle {len(want)}")
        elif not norm(got[cols]).equals(norm(want[cols])):
            notes.append(f"{name}: values differ from the oracle")
    return len(sinks), notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("BENCHMARK.json not found: run from the root of a graft checkout")
    with open(bench_file) as f:
        spec = json.load(f)
    sources()  # fails fast outside a checkout

    classes = build()
    t_start = time.time()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    same_bytes, input_bytes = generate(a.workload, a.seed, input_dir)
    r = run_jvm(classes, a.workload, input_dir, work, a.seconds, a.trace,
                DEADLINE_S - (time.time() - t_start))

    notes = list(r["check"]["notes"])
    attempted = r["ops"] + r["check"]["attempted"] + 1
    failed = r["failed_ops"] + r["check"]["failed"]
    if not same_bytes:
        failed += 1
        notes.append("the same seed gave different input bytes")
    if a.workload == "wallet_rebuild":
        n, bad = oracle_check(input_dir, r["report"]["sinks"])
        attempted += n
        failed += len(bad)
        notes += bad

    runs = r["runs"]
    if not runs:  # every run failed; the failures are already counted
        runs = [{"run_s": 0.0, "cpu_s": 0.0}]
    end_to_end = {
        "setup_s": statistics.median(r["setup_s"]),
        "run_s": statistics.median(x["run_s"] for x in runs),
        "cpu_s": statistics.median(x["cpu_s"] for x in runs),
        "peak_rss_mb": r["peak_rss_mb"],
    }
    layers = dict(r["layers"])
    if a.trace:
        per_run_read = layers.get("sources.bytes_read", 0.0) / max(1.0, layers.get("bench.runs", 1.0))
        layers["sources.input_bytes"] = float(input_bytes)
        layers["sources.rescan_ratio"] = per_run_read / input_bytes
        live = layers.get("sources.live_bytes", 0.0)
        per_run_written = layers.get("sources.bytes_written", 0.0) / max(1.0, layers.get("bench.runs", 1.0))
        layers["sources.write_amp"] = per_run_written / live if live else 0.0
        layers["bench.failed_ops_ratio"] = failed / attempted
        for k, v in r["extra"].items():
            layers.setdefault(k, v)

    # ---- the human-readable record, then the one JSON line
    props = gen.PROPERTIES[a.workload]
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"cores={r['cores']} input_bytes={input_bytes} "
          f"storage_memory_bytes={r['storage_memory_bytes']}")
    print(f"# inputs {json.dumps(props, sort_keys=True)}")
    print(f"# runs={len(r['runs'])} ops={r['ops']} failed_ops_ratio={failed / attempted:.6f}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k, v in end_to_end.items():
        print(f"{k} {v:.6g} {units.get(k, '')}")
    for k in sorted(layers):
        print(f"{k} {layers[k]:.6g} {units.get(k, '')}")
    for n in notes:
        print(f"# check failed: {n}")
    if a.trace:
        last = os.path.join(BUILD, "last")
        os.makedirs(last, exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"),
                    os.path.join(last, f"{a.workload}-spans.json"))
    shutil.rmtree(work, ignore_errors=True)

    chosen = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layers if a.trace else end_to_end
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in chosen}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
