#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --make-reference

Run from the repository root. The first run builds the library and the
benchmark JVM (`perfbench/build.sbt`, sources of `src/main/scala` read in
place) and generates the input tables (`perfbench/gen_data.py`); both are
cached under `perfbench/.work` and rebuilt when their sources change.

The JVM (`graft.perfbench.Main`) sets up the session (`Engine.build`
plus a warm pass), runs timed passes for `--seconds`, sets up twice more
(`setup_s` is the median of the three), checks every result and prints a
record. This script compares the record's result digests with `reference.json`,
stores the record with its provenance under `perfbench/.work/out`, and
prints the last line: `{"correct", "attempted", "failed", "metrics"}`.
With `--trace 0` the metrics are the end-to-end ones of
`BENCHMARK.json`, with `--trace 1` the per-layer ones.

`--make-reference` recomputes `reference.json`: the input-data digests
and each batch key's result digest, after checking every key that has a
DuckDB oracle with `scripts/selfcheck.py` on the same data.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
REFERENCE = HERE / "reference.json"

# name -> (JVM workload, scale factor of the generated tables).
# BENCHMARK.json lists loops and sql. kernels and stream run on request
# only: a run costs 40-50 s, and the benchmark's repeated runs of four
# workloads would not fit its time budget.
WORKLOADS = {
    "loops_sf0.001": ("loops", 0.001),
    "kernels_sf0.03": ("kernels", 0.03),
    "sql_sf0.1": ("sql", 0.1),
    "stream_sf0.1": ("stream", 0.1),
}
STREAM_FILES = 100      # events cut by ts into this many files
STREAM_RATE = 40.0      # files per second fed to the file source
JVM_TIMEOUT_S = 170
GEN_SEED = 42           # table generator seed; --seed permutes and samples

OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def spark_home():
    """Spark's installation: $SPARK_HOME, else the one whose spark-submit
    is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            sys.exit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    return Path(home)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def source_files():
    return (list((ROOT / "src" / "main" / "scala").rglob("*.scala")) +
            list((HERE / "src").rglob("*.scala")) +
            [HERE / "build.sbt", HERE / "project" / "build.properties"])


def commit():
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def build(src_digest):
    stamp = WORK / "build.stamp"
    if stamp.exists() and stamp.read_text() == src_digest and CLASSES.is_dir():
        return
    log("building the benchmark JVM (sbt compile)")
    env = dict(os.environ, SPARK_HOME=str(spark_home()))
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
    stamp.write_text(src_digest)


def stage(sf, stream):
    """Generate the tables for `sf` (and the stream files) once."""
    gen = HERE / "gen_data.py"
    key = hashlib.sha256(gen.read_bytes() + f"{sf}:{GEN_SEED}".encode()).hexdigest()
    data = WORK / "data" / f"sf{sf}"
    stamp = data / ".stamp"
    if not (stamp.exists() and stamp.read_text() == key):
        log(f"generating tables at sf{sf}")
        subprocess.run([sys.executable, str(gen), str(data), str(sf),
                        "--seed", str(GEN_SEED)], check=True, timeout=300)
        stamp.write_text(key)
    files = None
    if stream:
        files = WORK / "data" / f"sf{sf}_stream{STREAM_FILES}"
        fstamp = files / ".stamp"
        if not (fstamp.exists() and fstamp.read_text() == key):
            log(f"splitting events into {STREAM_FILES} files")
            subprocess.run([sys.executable, str(gen), "--split-events", str(data),
                            str(files), str(STREAM_FILES)], check=True, timeout=300)
            fstamp.write_text(key)
    return data, files


def data_digest(data):
    return tree_digest(list(data.glob("*.parquet")))


def run_jvm(args, out_log):
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={WORK / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={WORK / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={WORK / 'warehouse'}",
            "-Dspark.sql.streaming.numRecentProgressUpdates=1000",
            "-cp", f"{CLASSES}:{spark_home() / 'jars'}/*", "graft.perfbench.Main"] + args)
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    launch = int(time.time() * 1000)
    with open(out_log, "w") as err:
        proc = subprocess.Popen(cmd + ["--launch-ms", str(launch)], cwd=WORK, env=env,
                                stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            sys.exit(f"perfbench: benchmark JVM timed out after {JVM_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        tail = Path(out_log).read_text().splitlines()[-20:]
        sys.exit("perfbench: benchmark JVM failed (exit %d)\n%s" % (proc.returncode,
                                                                   "\n".join(tail)))
    return json.loads(lines[-1])


def cores():
    return len(os.sched_getaffinity(0))


def jvm_args(workload, sf, seed, seconds, trace, data, files, src_digest, mode="run"):
    a = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace), "--data", str(data), "--work", str(WORK),
         "--cores", str(cores()), "--mode", mode, "--commit", commit(),
         "--source-digest", src_digest]
    if files is not None:
        a += ["--stream-files", str(files), "--rate", str(STREAM_RATE)]
    return a


def make_reference(src_digest):
    ref = {"generator_seed": GEN_SEED, "data": {}, "workloads": {}, "oracle_checked": {}}
    for name, (workload, sf) in WORKLOADS.items():
        data, files = stage(sf, workload == "stream")
        ref["data"][f"sf{sf}"] = data_digest(data)
        if workload == "stream":
            continue
        dump = WORK / "oracle_dump"
        shutil.rmtree(dump, ignore_errors=True)
        rec = run_jvm(jvm_args(workload, sf, 0, 0, 0, data, None, src_digest, "reference"),
                      WORK / f"jvm_reference_{name}.log")
        if rec["failures"]:
            sys.exit(f"perfbench: {name} failed while making the reference: {rec['failures']}")
        oracle = sorted(d.name for d in dump.iterdir() if d.is_dir()) if dump.exists() else []
        if oracle:
            r = subprocess.run([sys.executable, str(ROOT / "scripts" / "selfcheck.py"),
                                str(dump), str(data), "--only", ",".join(oracle)])
            if r.returncode != 0:
                sys.exit(f"perfbench: selfcheck failed for {name}")
        ref["workloads"][name] = rec["digests"]
        ref["oracle_checked"][name] = oracle
        log(f"{name}: {len(rec['digests'])} keys, oracle-checked {oracle}")
    REFERENCE.write_text(json.dumps(ref, indent=1, sort_keys=True) + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-reference", action="store_true")
    a = ap.parse_args()

    bench = ROOT / "BENCHMARK.json"
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file() \
            or not bench.is_file():
        sys.exit("perfbench: graft's sources are not next to perfbench/ (run from a "
                 "checkout of the repository)")
    WORK.mkdir(exist_ok=True)
    src_digest = tree_digest(source_files())
    build(src_digest)
    if a.make_reference:
        make_reference(src_digest)
        return
    if a.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")
    workload, sf = WORKLOADS[a.workload]
    data, files = stage(sf, workload == "stream")
    ref = json.loads(REFERENCE.read_text())
    failures = []
    if ref["data"].get(f"sf{sf}") != data_digest(data):
        failures.append(f"generated tables at sf{sf} differ from the reference data")

    out = WORK / "out"
    out.mkdir(exist_ok=True)
    tag = f"{a.workload}_seed{a.seed}_trace{a.trace}"
    rec = run_jvm(jvm_args(workload, sf, a.seed, a.seconds, a.trace, data, files, src_digest),
                  out / f"jvm_{tag}.log")
    failures += rec["failures"]
    expected = ref["workloads"].get(a.workload, {})
    for key, want in expected.items():
        got = rec["digests"].get(key)
        if got != want:
            failures.append(f"{key}: result {got} != reference {want}")

    # a workload listed in BENCHMARK.json reports exactly its metrics;
    # one run on request (see WORKLOADS) reports all it measured
    spec = json.loads(bench.read_text())
    if any(w["name"] == a.workload for w in spec["workloads"]):
        names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    else:
        names = sorted(rec["metrics"])
    missing = [n for n in names if n not in rec["metrics"]]
    if missing:
        failures.append(f"metrics not measured: {missing}")
    metrics = {n: rec["metrics"][n] for n in names if n in rec["metrics"]}

    result = {"correct": not failures,
              "attempted": max(int(rec["attempted"]), len(failures)),
              "failed": len(failures), "metrics": metrics}
    prov = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cores": cores(), "data": str(data.relative_to(ROOT)), "sf": sf,
            "commit": commit(), "source_digest": src_digest, "time": time.time()}
    (out / f"run_{tag}.json").write_text(json.dumps(
        {"provenance": prov, "result": result, "failures": failures,
         "all_metrics": rec["metrics"]}, indent=1) + "\n")
    for f in failures:
        log(f"FAILED {f}")
    print(json.dumps(result))
    sys.exit(0 if not failures else 1)


if __name__ == "__main__":
    main()
