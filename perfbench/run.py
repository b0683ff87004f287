#!/usr/bin/env python3
"""graft's benchmark: one command that builds the engine from source,
generates seeded inputs, runs one workload in a single JVM, checks every
output, and prints the metrics as the last line of stdout.

    python3 perfbench/run.py --workload eeg_medallion --seed 1 --seconds 30 --trace 0

Run it from the root of a checkout. `--trace 0` prints the end-to-end
metrics; `--trace 1` runs the same workload with spans and Spark
listeners on and prints the per-layer metrics instead. Everything it
writes goes under `.bench_build/` in the checkout. See perfbench/README.md
for what each workload and metric means.
"""
import argparse
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("eeg_medallion", "lake_ingest")
# input sizes, fixed so that every seed does the same amount of work
EEG_SCALE = 20  # events at 1/20 of sf0.1: 5,000 rows over 75 trials
EEG_DROP_FILES, EEG_DROP_SAMPLES = 4, 128
LAKE_DROPS, LAKE_FILES, LAKE_SAMPLES, LAKE_SYNSETS = 2, 3, 384, 6
DEADLINE_S = 150
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "driver", "src")]
    files = [os.path.join(HERE, "driver", "build.sbt"),
             os.path.join(HERE, "driver", "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(build_dir):
    """Compiles the engine and perfbench/driver once per source state."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no engine sources under src/main/scala: run from the root of a graft checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    target = os.path.join(build_dir, "sbt-target")
    classes = os.path.join(target, "scala-2.13", "classes")
    stamp_file = os.path.join(build_dir, "build.stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(classes):
        return classes
    log("building engine and driver with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_TARGET=target)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=os.path.join(HERE, "driver"), env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        fail("sbt build failed")
    log("build took %.1f s" % (time.time() - t0))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


# ---------------------------------------------------------------- inputs

def generate(workload, seed, data_dir):
    """Writes the workload's inputs; returns the rows one pass consumes."""
    rng = gen.np.random.default_rng([seed, WORKLOADS.index(workload)])
    os.makedirs(data_dir)
    if workload == "eeg_medallion":
        n = gen.write_events(os.path.join(data_dir, "events.parquet"), rng, EEG_SCALE)
        kept, _ = gen.write_drop(os.path.join(data_dir, "drop"), rng, EEG_DROP_FILES,
                                 EEG_DROP_SAMPLES, gen.synset_ids(rng, EEG_DROP_FILES), 0)
        return kept + 5 * n  # csv_ingest reads the drop, the other five read events
    synsets = gen.synset_ids(rng, LAKE_SYNSETS)
    rows = []
    for i in range(LAKE_DROPS):
        ddir = os.path.join(data_dir, "drops", "d%03d" % i)
        _, files = gen.write_drop(ddir, rng, LAKE_FILES, LAKE_SAMPLES, synsets, i)
        for (name, synset, _image, take, session, kept) in files:
            size = os.path.getsize(os.path.join(ddir, name))
            rows.append("\t".join(map(str, [i, ddir, take, session, synset, kept, size])))
    with open(os.path.join(data_dir, "drops.tsv"), "w") as fh:
        fh.write("\n".join(rows) + "\n")
    return sum(int(r.split("\t")[5]) for r in rows)


# ---------------------------------------------------------------- checks

def tnorm(t):
    """tools/check.py's type parity: integer widths up to 64 bits are
    interchangeable. (check.py defines it inside its main.)"""
    return "INT" if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT") else t


def rounded(rows, digits):
    """Floats to `digits` significant digits, for the run-to-run digest."""
    return [tuple(float("%.*g" % (digits, v)) if isinstance(v, float) and not math.isnan(v)
                  else v for v in r) for r in rows]


def check_outputs(manifest, data_dir, out_dir):
    """Oracle and digest checks on the verification pass's parquet, with
    tools/check.py's canonical form and type parity.
    Returns (attempted, failed, messages)."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import canon
    t0 = time.time()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("events", "documents", "embeddings"):
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    attempted, failed, msgs = 0, 0, []

    def read(sql):
        rel = con.sql(sql)
        return list(rel.columns), {c: str(t) for c, t in zip(rel.columns, rel.types)}, rel.fetchall()

    for name, sql in sorted(manifest.get("oracle", {}).items()):
        attempted += 1
        try:
            gcols, gtypes, grows = read(f"SELECT * FROM '{out_dir}/results/{name}/*.parquet'")
            ecols, etypes, erows = read(sql)
            err = None
            if sorted(gcols) != sorted(ecols):
                err = "columns %s vs oracle %s" % (sorted(gcols), sorted(ecols))
            elif any(tnorm(gtypes[c]) != tnorm(etypes[c]) for c in gcols):
                err = "types %s vs oracle %s" % (gtypes, etypes)
            elif canon(grows, gcols) != canon(erows, ecols):
                err = "%d rows differ from the oracle's %d" % (len(grows), len(erows))
        except Exception as e:  # a missing result or a broken oracle both fail the check
            err = "check error: %s" % e
        if err:
            failed += 1
            msgs.append("%s: %s" % (name, err))
    for name in manifest.get("digest", []):
        attempted += 1
        try:
            acols, _, arows = read(f"SELECT * FROM '{out_dir}/results/{name}/*.parquet'")
            bcols, _, brows = read(f"SELECT * FROM '{out_dir}/results2/{name}/*.parquet'")
            same = (acols == bcols and
                    canon(rounded(arows, 9), acols) == canon(rounded(brows, 9), bcols))
            err = None if same else "two runs of the same query disagree"
        except Exception as e:
            err = "check error: %s" % e
        if err:
            failed += 1
            msgs.append("%s: %s" % (name, err))
    con.close()
    log("output checks took %.1f s" % (time.time() - t0))
    return attempted, failed, msgs


# ---------------------------------------------------------------- metrics

def tail(values):
    """The highest percentile with at least ten samples beyond it (the
    eleventh-largest sample), and that percentile. Below twenty samples no
    percentile above the median qualifies, so the median stands in."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return statistics.median(xs), 50.0
    return xs[n - 11], 100.0 * (n - 10) / n


def end_to_end(d, rows_per_pass):
    ops = [o for o in d["ops"] if not o["traced"]]
    by_idx = {}
    for o in ops:
        by_idx.setdefault(o["idx"], []).append(o)
    # a pass is the sum of its operations, each at its median over the
    # timed passes, so one slowed sample of an op does not move it
    wall = sum(statistics.median(x["wall"] for x in v) for v in by_idx.values())
    cpu = sum(statistics.median(x["cpu"] for x in v) for v in by_idx.values())
    lat = [o["wall"] for o in ops]
    tail_v, tail_p = tail(lat)
    passes = len([p for p in d["passes"] if not p["traced"]])
    log("%d set-ups, %d timed passes, %d op samples; op_tail_s is p%.1f" % (
        len(d["setup_s"]), passes, len(lat), tail_p))
    return {
        "setup_s": statistics.median(d["setup_s"]),
        "wall_s": wall,
        "cpu_s": cpu,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_v,
        "rows_per_s": rows_per_pass / wall,
        "peak_heap_mb": d["peak_heap_mb"],
    }


def per_layer(d, spec):
    traced = [p["wall"] for p in d["passes"] if p["traced"]]
    plain = [p["wall"] for p in d["passes"] if not p["traced"]]
    layers = d["layers"]
    out = {}
    for m in spec:
        name = m["name"]
        if name == "box.calib_s":
            out[name] = d["calib_s"]
        elif name == "trace.overhead":
            out[name] = statistics.median(traced) / statistics.median(plain)
        else:
            out[name] = statistics.median(p.get(name, 0.0) for p in layers)
    log("%d traced and %d untraced passes" % (len(traced), len(plain)))
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)

    if not os.environ.get("SPARK_HOME"):
        # the Spark install that provides spark-submit on PATH
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark install: set SPARK_HOME or put spark-submit on PATH")
        os.environ["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir)
    t_start = time.time()  # a run must end within 180 s once built

    run_dir = os.path.join(build_dir, "runs", "%s-s%d-t%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, out_dir, tmp_dir = (os.path.join(run_dir, x) for x in ("data", "out", "tmp"))
    os.makedirs(tmp_dir)
    rows_per_pass = generate(a.workload, a.seed, data_dir)
    log("inputs took %.1f s" % (time.time() - t_start))

    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cores = len(os.sched_getaffinity(0))
    # C1 only, with room for its code: a run is too short for C2 to settle
    # (its compiler threads still took a third of a core a minute in, and
    # passes never converged), and C1's default 48 MB code cache fills and
    # flushes mid-run
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=240m", "-Dspark.ui.enabled=false",
            "-Dlog4j.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Djava.io.tmpdir=" + tmp_dir, "-cp", classes + os.pathsep + spark_jars]
           + [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["graftbench.Driver", "--workload", a.workload, "--data", data_dir,
              "--out", out_dir, "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores)])
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("driver did not finish in time")
    if rc != 0:
        fail("driver exited with code %d" % rc)
    with open(os.path.join(out_dir, "driver.json")) as fh:
        d = json.load(fh)

    attempted, failed = d["attempted"], d["failed"]
    msgs = list(d["messages"])
    ca, cf, cm = check_outputs(d["manifest"], data_dir, out_dir)
    attempted += ca
    failed += cf
    msgs += cm
    for m in msgs:
        log("FAILED " + m)

    if a.trace:
        values = per_layer(d, spec["per_layer"])
    else:
        values = end_to_end(d, rows_per_pass)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    for k, v in values.items():
        print("%-34s %14.6f %s" % (k, v, units[k]))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
