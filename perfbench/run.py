#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source (perfbench/build.py), makes
the workload's inputs from the seed, runs one JVM at local[nproc] as a single
closed-loop client, checks every output, and prints every metric by name and
unit, then one JSON line: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics; `--trace 1` runs the traced
variant and reports the per-layer metrics. See perfbench/README.md.

Development modes (not part of a measured run):
    --selftest                 the digest's order-independence checks
    --record-golden <out_dir>  dump llm_session's query outputs to <out_dir>
                               for tools/compare.py and rewrite
                               golden/digests.json
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import etlgen  # noqa: E402
import spans  # noqa: E402

ROOT = build.ROOT
CORPUS = os.path.join(HERE, "corpus", "sf0.01")
GOLDEN = os.path.join(HERE, "golden", "digests.json")
WORKLOADS = ("llm_session", "etl_load")
JVM_LIMIT_S = 170
JVM_HEAP = "3g"

KERNELS = [
    "dot_f32", "dot_f64", "lsh_bucket_f32", "i8_quantize", "i8_dot",
    "simhash60", "minhash_sig", "char_minhash_sig", "word_minhash_sig",
    "char_shingle_hashset", "word_shingle_hashset", "char_min_hash32",
    "word_min_hash32", "sorted_intersect_count", "sorted_intersect",
    "deflate_ratio", "token_hash60_array", "word_window_select",
    "token_census", "redact_count", "nfc_normalize"]
WARM = [
    "basket_membership", "copurchase_sym_table", "degree_table",
    "copurchase_frame_counts", "sym_adjacency", "oriented_layout", "holdout",
    "cust_part_orders", "base_knn", "docterms1", "docterms2", "docterms3"]
SWEEPS = [
    "neardup_pairs", "neardup_components", "eval_knn_votes", "item_knn",
    "ivf_centroids", "pq_codebooks", "ivfpq_codebooks", "bpe_rules"]

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm(classes, work, args):
    """Runs the harness JVM in the checkout root; returns its exit code."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join(classes + [os.path.join(build.spark_jars(), "*")])
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-Xss8m"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "perfbench.Main",
              "--cores", str(cores()), "--corpus", CORPUS, "--work", work,
              "--golden", GOLDEN, "--t0-ms", str(int(time.time() * 1000))]
           + args)
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return p.wait(timeout=JVM_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"run: JVM exceeded {JVM_LIMIT_S}s, stopped", file=sys.stderr)
        return 124
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def cpu_ticks():
    """(steal, total) CPU ticks of the machine since boot from /proc/stat,
    or None where there is no such file. Steal is time a virtual machine's
    CPUs waited while the host ran other guests."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return (v[7] if len(v) == 8 else 0), sum(v)


def timed_passes(rec):
    """The passes the figures come from: all but a traced run's warm-up."""
    return [p for p in rec["passes"] if not p["warmup"]]


def query_latencies(rec):
    """Each query's latency: its median within each timed pass, then the
    median over the passes (etl_load repeats each read-back analysis within
    a pass, and pass 1's repetitions are all slower than pass 2's, so a
    median over the pooled samples would fall between the two passes).
    Returns the per-query figures and the number of samples behind them."""
    kind = "readback" if rec["workload"] == "etl_load" else "query"
    timed = {p["index"] for p in timed_passes(rec)}
    per_pass = {}
    for o in rec["ops"]:
        if o["kind"] == kind and o["pass"] in timed and o["ok"]:
            per_pass.setdefault((o["name"], o["pass"]), []).append(o["ms"])
    per_query = {}
    for (name, _), v in per_pass.items():
        per_query.setdefault(name, []).append(statistics.median(v))
    return ([statistics.median(v) for v in per_query.values()],
            sum(len(v) for v in per_pass.values()))


def end_to_end(rec):
    """Timing figures come from the timed passes; query_gmean_ms is the
    geometric mean across queries of each query's median latency."""
    lat, samples = query_latencies(rec)
    m = {}
    spans.metric(m, "setup_s", statistics.median(rec["setup_s"]), "s")
    timed = timed_passes(rec)
    spans.metric(m, "pass_s", statistics.median(p["s"] for p in timed), "s")
    spans.metric(m, "pass_cpu_s",
                  statistics.median(p["cpu_s"] for p in timed), "s")
    spans.metric(m, "query_gmean_ms", statistics.geometric_mean(lat), "ms")
    spans.metric(m, "heap_retained_mb", rec["heap_retained_mb"], "MB")
    return m, samples


def report(rec, trace, steal=None):
    ops = rec["ops"]
    failed = [o for o in ops if not o["ok"]]
    if trace:
        metrics = spans.layer_metrics(rec, KERNELS, WARM, SWEEPS)
        lat, _ = query_latencies(rec)
        spans.metric(metrics, "process.query_p50_ms",
                      statistics.median(lat) if lat else 0.0, "ms")
        spans.metric(metrics, "process.query_p90_ms",
                      spans.percentile(lat, 90) if lat else 0.0, "ms")
        samples = None
    else:
        metrics, samples = end_to_end(rec)
    out = sys.stdout
    print(f"workload {rec['workload']}  seed {rec['seed']}  "
          f"local[{rec['cores']}]  closed loop, 1 client  "
          f"passes {len(rec['passes'])}", file=out)
    for name, m in metrics.items():
        print(f"  {name:<44} {m['value']:>14.4f} {m['unit']}", file=out)
    if samples is not None:
        print(f"  query latency samples: {samples}", file=out)
    by_kind = {}
    for o in ops:
        by_kind[o["kind"]] = by_kind.get(o["kind"], 0.0) + o["ms"] / 1e3
    print("  seconds by operation kind: " + ", ".join(
        f"{k} {v:.2f}" for k, v in by_kind.items()), file=out)
    if steal is not None:
        print(f"  CPU time stolen by other guests during the run: "
              f"{100 * steal:.1f}%", file=out)
    print(f"  operations attempted {len(ops)}, failed {len(failed)}, "
          f"error_rate {len(failed) / max(1, len(ops)):.4f}", file=out)
    for o in failed:
        print(f"  FAILED {o['kind']} {o['name']} (pass {o['pass']}) "
              f"{o['error']}", file=out)
    return {"correct": not failed, "attempted": len(ops),
            "failed": len(failed), "metrics": metrics}


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-golden", metavar="OUT_DIR")
    a = ap.parse_args(argv)
    if not (a.workload or a.selftest or a.record_golden):
        ap.error("--workload is required")
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"run: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            return jvm(classes, work, ["--mode", "selftest",
                                       "--out", os.path.join(work, "x")])
        if a.record_golden:
            return jvm(classes, work, ["--mode", "dump",
                                       "--out", a.record_golden])
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--out", os.path.join(work, "record.json")]
        if a.workload == "etl_load":
            etl_in = os.path.join(work, "etl-in")
            etlgen.generate(a.seed, etl_in)
            args += ["--etl-in", etl_in]
        t0 = cpu_ticks()
        rc = jvm(classes, work, args)
        t1 = cpu_ticks()
        steal = (None if not (t0 and t1 and t1[1] > t0[1])
                 else (t1[0] - t0[0]) / (t1[1] - t0[1]))
        if rc != 0:
            print(f"run: harness JVM exited with {rc}", file=sys.stderr)
            return rc
        with open(os.path.join(work, "record.json")) as f:
            rec = json.load(f)
        print(json.dumps(report(rec, a.trace == 1, steal)))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
