#!/usr/bin/env python3
"""Benchmark runner for graft.

    python3 perfbench/run.py --workload sync_incremental|query_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the benchmark's
JVM side from source (into .bench_build/, reused while the sources are
unchanged), generates the workload's inputs from the seed (into
.bench_work/, deleted at exit), runs one measured JVM, checks the
outputs, and prints one JSON object as the last line of stdout. With
--trace 0 it holds the end-to-end metrics, with --trace 1 the per-layer
metrics. A failed output check makes the run exit 1. See
perfbench/README.md.
"""
import argparse
import glob
import hashlib
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

import gen_sync  # noqa: E402
import gen_tables  # noqa: E402

LAYERS = ["intel", "graph", "permissions", "analysis", "ontology", "rules", "drift",
          "sink", "dedup", "text", "operators", "streaming"]
SUFFIXES = [("wall_s", "s"), ("no_job_s", "s"), ("plan_s", "s"), ("jobs", "count"),
            ("stages", "count"), ("tasks", "count"), ("task_cpu_s", "s"),
            ("shuffle_bytes", "bytes"), ("compiles", "count")]
# extra per-layer metrics: name -> unit; list samples are reported as medians
EXTRA_LAYER = {
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "streaming.probe_read_bytes": "bytes", "streaming.store_bytes_per_input_byte": "ratio",
    "streaming.files_per_batch": "count", "streaming.compact_s": "s",
    "streaming.resume_s": "s", "sink.bytes_written_per_record": "bytes",
    "spark.gc_s": "s", "spark.spill_bytes": "bytes", "spark.host_other_cpu_s": "s",
    "trace.span_share": "ratio", "trace.round_p50_s": "s",
}

# Round 0 is the cold round, the rest are warm. Each run makes at least
# MIN_ROUNDS rounds, then more while --seconds have not passed.
MIN_ROUNDS = 2
# The measured JVM may take --seconds plus this long: today a run's cold
# round, warm round and checks take 55-75 s, so a program more than twice
# as slow still reports its metrics.
JVM_SLACK_S = 160
WORKLOADS = ("sync_incremental", "query_mix")
SIZES = {
    "full": {"mix_sf": 0.01, "sync_instances": 1000, "sync_epochs": 12,
             "stream_sessions": 6, "stream_files": 1, "stream_docs": 200},
    "tiny": {"mix_sf": 0.001, "sync_instances": 200, "sync_epochs": 5,
             "stream_sessions": 40, "stream_files": 1, "stream_docs": 60},
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("set SPARK_HOME to a Spark 4 installation")
    return os.path.join(home, "jars")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("no program sources under src/main/scala: run from the repo root")
    return main + bench


def build(root):
    """Compile the program and the benchmark's JVM side with the Scala
    compiler that ships with Spark; reuse the classes while no source
    changed."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    out = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "sources.sha256")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes, key
    jars = spark_jars()
    tool = [os.path.join(jars, f) for f in os.listdir(jars)
            if f.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(tool) != 3:
        raise SystemExit("scala-compiler/library/reflect jars not found in SPARK_HOME/jars")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"building {len(srcs)} sources")
    cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m",
                        "-cp", os.pathsep.join(sorted(tool)), "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(key)
    return classes, key


def heap_mb():
    """1.5 GB, or half of RAM when that is less. The workloads' live data is
    far below it; a larger heap made the JVM's peak RSS spread 25 % across
    runs with G1's heap growth between collections."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return max(1024, min(total_kb // 2048, 1536))


def cpus():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def make_inputs(workload, seed, size, data, corrupt):
    s = SIZES[size]
    if workload == "query_mix":
        gen_tables.generate(seed, s["mix_sf"], os.path.join(data, "mix"))
        stage_stream(seed, s, os.path.join(data, "stream"), corrupt)
    elif workload == "sync_incremental":
        out = os.path.join(data, "sync")
        gen_sync.generate(seed, s["sync_epochs"], s["sync_instances"], out)
        if corrupt:
            p = os.path.join(out, "epoch_002", "expected.json")
            exp = json.load(open(p))
            exp["drift_added"] += 1
            json.dump(exp, open(p, "w"))


def stage_stream(seed, s, out, corrupt):
    """Document files for the stream, `stream_files` per session: fresh
    documents, plus id-offset replicas that re-send a seeded share of
    earlier documents as near duplicates. Also `upto_<k>/documents.parquet`,
    every document of sessions 0..k (the one-shot check's input), and
    `sessions.json`, each session's dir and document count."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    n_files = s["stream_sessions"] * s["stream_files"]
    per = s["stream_docs"]
    base = gen_tables.documents(rng, n_files * per)
    texts = base["text"].to_pylist()
    ids = base["doc_id"].to_pylist()
    files = [(ids[i * per:(i + 1) * per], texts[i * per:(i + 1) * per]) for i in range(n_files)]
    # replicas of earlier files' documents, offset ids, in later files
    for f in range(1, n_files):
        pick = rng.choice(f * per, size=per // 10, replace=False)
        for j in sorted(pick):
            words = texts[j].split()
            files[f][0].append(1_000_000 + ids[j] + f * 100_000)
            files[f][1].append(" ".join(words[:-1] if rng.random() < 0.5 else words + ["dup"]))
    sessions, all_ids, all_texts = [], [], []
    for k in range(s["stream_sessions"]):
        d = f"session_{k}"
        os.makedirs(os.path.join(out, d))
        n = 0
        for j in range(s["stream_files"]):
            fid, ftx = files[k * s["stream_files"] + j]
            pq.write_table(pa.table({"doc_id": pa.array(fid, pa.int64()), "text": pa.array(ftx)}),
                           os.path.join(out, d, f"file_{j}.parquet"))
            all_ids += fid
            all_texts += ftx
            n += len(fid)
        sessions.append({"dir": d, "docs": n})
        ids_k, texts_k = list(all_ids), list(all_texts)
        if corrupt:  # a copy of a streamed document that was never streamed
            ids_k.append(9_999_999)
            texts_k.append(texts_k[0])
        os.makedirs(os.path.join(out, f"upto_{k}"))
        m = len(ids_k)
        pq.write_table(pa.table({
            "doc_id": pa.array(ids_k, pa.int64()), "text": pa.array(texts_k),
            "lang": pa.array(["en"] * m), "source": pa.array(["stream"] * m),
            "n_chars": pa.array([len(t) for t in texts_k], pa.int64())}),
            os.path.join(out, f"upto_{k}", "documents.parquet"))
    with open(os.path.join(out, "sessions.json"), "w") as f:
        json.dump(sessions, f)


JAVA_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "jdk.internal.ref",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(classes, a, data, work, out, timeout):
    """The same JVM flags as the project's build (code cache, recompile
    cutoff, module opens), heap at most half of RAM."""
    # -UsePerfData: no hsperfdata file outside the work dir
    cmd = ["java", "-XX:+IgnoreUnrecognizedVMOptions", "-XX:-UsePerfData"]
    for p in JAVA_OPENS:
        cmd.append(f"--add-opens={p}=ALL-UNNAMED")
    cmd += ["--enable-native-access=ALL-UNNAMED",
            "-Djdk.reflect.useDirectMethodHandleAccessor=false",
            f"-Xmx{heap_mb()}m", "-XX:ReservedCodeCacheSize=1g",
            "-XX:PerMethodRecompilationCutoff=10000",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
            "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(cpus()),
            "--min-rounds", str(MIN_ROUNDS),
            "--data", data, "--work", work, "--out", out]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            sys.stderr.write(open(logf).read()[-6000:])
            raise SystemExit("measured JVM timed out")
        finally:
            # also on SIGTERM (see main): no JVM outlives the run
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(open(logf).read()[-6000:])
        raise SystemExit(f"measured JVM failed with exit code {p.returncode}")


def metrics(raw, a, attempted, failed, setup_s):
    """End-to-end metrics (trace 0) or per-layer metrics (trace 1) from
    the raw samples of one run."""
    rounds = [s for _, s in raw["rounds"]]
    warm_rounds = rounds[1:]
    per_round_ops = [[s for n, s in raw["ops"] if n.startswith(f"r{i}.")]
                     for i in range(1, len(rounds))]
    warm_ops = [s for ops in per_round_ops for s in ops]
    e2e = {
        "setup_s": (setup_s, "s"),
        "cold_round_s": (rounds[0], "s"),
        "round_p50_s": (statistics.median(warm_rounds), "s"),
        "op_p50_s": (statistics.median(warm_ops), "s"),
        "op_tail_s": (statistics.median(max(ops) for ops in per_round_ops), "s"),
        "peak_rss_mb": (raw["extras"]["peak_rss_mb"], "MB"),
        "ok_rate": ((attempted - failed) / max(1, attempted), "ratio"),
    }
    if a.trace == 0:
        return e2e
    # layer totals of the warm rounds, per warm round
    layer = {}
    for l in LAYERS:
        for suf, unit in SUFFIXES:
            layer[f"{l}.{suf}"] = (raw["extras"][f"{l}.{suf}"] / len(warm_rounds), unit)
    for k, unit in EXTRA_LAYER.items():
        if k == "trace.round_p50_s":
            v = e2e["round_p50_s"][0]
        elif k in raw["lists"]:
            v = statistics.median(raw["lists"][k])
        else:  # 0 where the workload has no such layer
            v = raw["extras"].get(k, 0.0)
        layer[k] = (v, unit)
    return layer


def check_mix(data, results, corrupt):
    """The mix's results against their DuckDB oracles, with the project's
    own check (scripts/selfcheck.py). Returns (checked, failed). With
    `corrupt`, one oracle gains a duplicated row first (the self-test's
    wrong expected value)."""
    path = os.path.join(results, "oracle_sql.json")
    oracles = json.load(open(path))
    if corrupt:
        q = sorted(oracles)[0]
        sql = oracles[q]
        oracles[q] = f"SELECT * FROM ({sql}) UNION ALL (SELECT * FROM ({sql}) LIMIT 1)"
        json.dump(oracles, open(path, "w"))
    r = subprocess.run([sys.executable, os.path.join("scripts", "selfcheck.py"), data, results]
                       + sorted(oracles), capture_output=True, text=True, timeout=120)
    lines = r.stdout.splitlines()
    for l in lines:
        if l.startswith("FAIL"):
            log(l)
    passed = sum(1 for l in lines if l.startswith("PASS"))
    if r.returncode != 0 and passed == len(oracles):
        log(f"selfcheck.py failed: {r.stderr[-2000:]}")
        passed -= 1
    return len(oracles), len(oracles) - passed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test only: plant one wrong expected value per output check")
    a = ap.parse_args()
    # a terminated run still removes its work dir and stops its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    classes, src_key = build(root)
    t_setup0 = time.time()
    work_root = os.path.join(root, ".bench_work")
    run_dir = os.path.join(work_root, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(data)
    os.makedirs(work)
    try:
        make_inputs(a.workload, a.seed, a.size, data, a.corrupt)
        raw_path = os.path.join(run_dir, "raw.json")
        run_jvm(classes, a, data, work, raw_path, timeout=a.seconds + JVM_SLACK_S)
        raw = json.load(open(raw_path))
        if len(raw["rounds"]) < MIN_ROUNDS:
            for f in raw["failures"]:
                log(f"FAIL {f}")
            raise SystemExit(f"only {len(raw['rounds'])} rounds completed")
        setup_s = raw["first_timed_ms"] / 1000.0 - t_setup0
        attempted, failed = raw["attempted"], len(raw["failures"])
        for f in raw["failures"]:
            log(f"FAIL {f}")
        if a.workload == "query_mix":
            checked, bad = check_mix(os.path.join(data, "mix"),
                                     os.path.join(work, "mix_results"), a.corrupt)
            attempted += checked
            failed += bad
        ms = metrics(raw, a, attempted, failed, setup_s)
        prov = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                "size": a.size, "cpus": cpus(), "heap_mb": heap_mb(), "source_sha256": src_key,
                "git_commit": git_commit(root), "rounds": raw["rounds"], "ops": raw["ops"],
                "round_other_cpu_share": raw["lists"]["round_other_cpu_share"],
                "host_other_cpu_s": raw["extras"].get("spark.host_other_cpu_s"),
                **raw["stamps"]}
        print("perfbench-provenance " + json.dumps(prov, sort_keys=True))
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in ms.items()}}
        print(json.dumps(result), flush=True)
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def git_commit(root):
    """HEAD of the checkout when it is a git work tree, else None (the
    source SHA-256 identifies the code either way)."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


if __name__ == "__main__":
    sys.exit(main())
