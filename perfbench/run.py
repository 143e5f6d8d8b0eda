"""Benchmark of the medallion pipeline and of the query faces.

Runs one workload for one seed in a fresh JVM, checks every output, and
prints the metrics: a human-readable summary, then, as the last line of
standard output, one JSON object with `correct`, `attempted`, `failed`
and `metrics`. Without tracing the metrics are the end-to-end ones; with
`--trace 1` they are the per-layer ones. Exits non-zero when an output is
wrong or the run could not complete. See perfbench/README.md.

Usage: python3 perfbench/run.py --workload <medallion|faces>
           --seed <n> --seconds <s> --trace <0|1>
"""
import argparse
import json
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
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT / "scripts"))

import build  # noqa: E402
import fixtures  # noqa: E402

WORKLOADS = ("medallion", "faces")
SF = 0.01            # scale factor of the faces' input tables
SETUP_AND_CHECKS_S = 160  # JVM allowance beyond --seconds: set-up, last iteration, checks
TAIL_BEYOND = 10     # samples that must lie beyond the reported tail percentile
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def tail(samples):
    """(value, percentile) of the highest percentile with TAIL_BEYOND
    samples beyond it; the maximum when there are too few samples."""
    xs, n = sorted(samples), len(samples)
    if n > TAIL_BEYOND:
        return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n
    return xs[-1], 100.0


def run_jvm(classes, work, args, fixtures_dir):
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    out = work / "result.json"
    # the heap cap the repo's build gives the engine (build.sbt), reserved
    # up front but not pre-touched, so the peak RSS counts the heap pages
    # the program uses. A fixed heap size, young generation and marking
    # threshold, and few malloc arenas, keep that peak from following G1's
    # load-dependent resizing and thread scheduling.
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn1g",
            "-XX:-G1UseAdaptiveIHOP", "-Xss4m",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}",
              "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work), "--out", str(out)]
           + (["--fixtures", str(fixtures_dir)] if fixtures_dir else []))
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            code = proc.wait(timeout=args.seconds + SETUP_AND_CHECKS_S)
        except subprocess.TimeoutExpired:
            code = "a timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not out.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM ended with {code}")
    return json.loads(out.read_text())


def check_faces(record, fixtures_dir):
    """Compares each face's result with its DuckDB oracle by the frame-hash
    rule of scripts/local_check.py; returns the names that differ and the
    row count of each result."""
    import duckdb
    from local_check import TABLES, frame_hash

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixtures_dir}/{t}.parquet')")
    wrong, rows = [], {}
    for name in record["faces"]:
        if name not in record["results"]:
            continue  # already counted as failed by the JVM
        sql = record["oracle"].get(name)
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{record['results'][name]}/*.parquet')").df()
            want = con.execute(sql).df()
            rows[name] = len(got)
            same = (sql is not None and sorted(got.columns) == sorted(want.columns)
                    and len(got) == len(want) and frame_hash(got) == frame_hash(want))
        except Exception as e:  # noqa: BLE001 - any failure is a wrong output
            sys.stderr.write(f"perfbench: oracle check of {name} failed: {e}\n")
            same = False
        if not same:
            wrong.append(name)
    return wrong, rows


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(record):
    """Per-layer metrics from the traced iterations' spans."""
    spans = record["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    dur = lambda s: (s["end_ns"] - s["start_ns"]) / 1e9  # noqa: E731

    def subtree(s):
        out = [s]
        for k in kids.get(s["id"], []):
            out += subtree(k)
        return out

    def total(ss, key):
        return sum(x["counters"][key] for s in ss for x in subtree(s))

    def self_time(s):
        return dur(s) - sum(dur(k) for k in kids.get(s["id"], []))

    iters = [s for s in spans if s["name"] == "iteration"]
    per_iter = []
    for it in iters:
        ch = kids.get(it["id"], [])
        by = lambda name: [c for c in ch if c["name"] == name]  # noqa: E731
        faces = [c for c in ch if c["name"].startswith("face:")]
        steps = lambda step: [k for f in faces for k in kids.get(f["id"], [])  # noqa: E731
                              if k["name"] == step]
        m = {"iteration.self_s": self_time(it)}
        for layer, name in (("ingest", "ingest"), ("silver", "silver"), ("gold", "gold")):
            ss = by(name)
            m[f"{layer}.s"] = sum(map(dur, ss))
            m[f"{layer}.jobs"] = total(ss, "jobs")
            m[f"{layer}.tasks"] = total(ss, "tasks")
        m["layers.discover_s"] = sum(map(dur, by("discover")))
        m["silver.cpu_s"] = total(by("silver"), "cpu_ns") / 1e9
        m["silver.gc_s"] = total(by("silver"), "gc_ms") / 1e3
        m["gold.shuffle_bytes"] = total(by("gold"), "shuffle_write_bytes")
        for step in ("build", "plan", "exec"):
            m[f"face.{step}_s"] = sum(map(dur, steps(step)))
        m["face.self_s"] = sum(map(self_time, faces))
        m["face.cpu_s"] = total(faces, "cpu_ns") / 1e9
        m["face.gc_s"] = total(faces, "gc_ms") / 1e3
        wall = sum(map(dur, faces))
        m["face.core_util"] = (total(faces, "run_ms") / 1e3 / (wall * record["cores"])
                               if wall else 0.0)
        m["face.shuffle_bytes"] = total(faces, "shuffle_write_bytes")
        m["face.spill_bytes"] = total(faces, "spill_disk_bytes")
        m["face.input_rows"] = total(faces, "input_records")
        for c in ("jobs", "stages", "tasks"):
            m[f"face.{c}"] = total(faces, c)
        for f in faces:
            name = f["name"][len("face:"):]
            m[f"face.{name}.s"] = dur(f)
            m[f"face.{name}.build_s"] = sum(dur(k) for k in kids[f["id"]] if k["name"] == "build")
            m[f"face.{name}.exec_s"] = sum(dur(k) for k in kids[f["id"]] if k["name"] == "exec")
            m[f"face.{name}.cpu_s"] = total([f], "cpu_ns") / 1e9
        m["stream.batches"] = total(faces, "batches")
        m["stream.add_batch_ms"] = total(faces, "add_batch_ms")
        m["stream.planning_ms"] = total(faces, "planning_ms")
        m["stream.wal_commit_ms"] = total(faces, "wal_commit_ms")
        m["stream.state_commit_ms"] = total(faces, "state_commit_ms")
        m["stream.state_rows"] = total(faces, "state_rows")
        m["stream.state_mem_bytes"] = total(faces, "state_mem_bytes")
        per_iter.append(m)

    names = sorted({k for m in per_iter for k in m})
    out = {k: median([m.get(k, 0.0) for m in per_iter]) for k in names}
    layers = record.get("layers", {})
    out["ingest.files"] = layers.get("bronze", {}).get("files", 0)
    out["ingest.bytes"] = layers.get("bronze", {}).get("bytes", 0)
    out["silver.files"] = layers.get("silver", {}).get("files", 0)
    out["silver.bytes"] = layers.get("silver", {}).get("bytes", 0)
    out["gold.files"] = layers.get("gold", {}).get("files", 0)
    for k, v in record["setup"].items():
        out[f"setup.{k}"] = v
    out["jvm.old_gen_peak_mb"] = record["old_gen_peak_mb"]
    out["face.output_rows"] = sum(record.get("output_rows", {}).values())
    for name in record["all_faces"]:
        for m in ("s", "build_s", "exec_s", "cpu_s"):
            out.setdefault(f"face.{name}.{m}", 0.0)
    traced, untraced = median(record["samples"]), median(record["untraced_samples"])
    out["trace.run_s"] = traced
    out["trace.overhead_s"] = traced - untraced
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind so the JVM is stopped and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build()
    work = build.OUT / f"run-{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}"
    try:
        fixtures_dir, in_rows, in_bytes = None, 0, 0
        if args.workload == "faces":
            fixtures_dir = work / "fixtures"
            in_rows, in_bytes = fixtures.write(fixtures_dir, SF, args.seed)
        record = run_jvm(classes, work, args, fixtures_dir)
        failures = list(record["failures"])
        failed = record["failed"]
        attempted = record["attempted"]
        if fixtures_dir:
            wrong, record["output_rows"] = check_faces(record, fixtures_dir)
            failures += [f"{w}: result differs from its oracle" for w in wrong]
            failed += len(wrong)
            record["input_rows"], record["input_bytes"] = in_rows, in_bytes
        correct = failed == 0
        if args.trace:
            bad = [c for c in record["calibration"] if not c["ok"]]
            if bad:
                raise SystemExit(f"perfbench: counter calibration failed: {bad}")
            values = layer_metrics(record)
        else:
            samples = record["samples"]
            run_s = median(samples)
            tail_s, tail_pct = tail(samples)
            values = {
                "setup_s": record["setup_s"],
                "run_s": run_s,
                "run_s_tail": tail_s,
                "rows_per_s": record["input_rows"] / run_s,
                "storage_amp": record["stored_bytes"] / record["input_bytes"],
                "peak_rss_mb": record["peak_rss_mb"],
            }
            record["tail"] = {"percentile": tail_pct, "samples": len(samples)}
        record.update(correct=correct, failures=failures, failed=failed)
        artifact = build.OUT / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        artifact.parent.mkdir(parents=True, exist_ok=True)
        artifact.write_text(json.dumps({"metrics": values, "record": record}, indent=1))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in declared["per_layer" if args.trace else "end_to_end"]}
    if set(units) != set(values):
        raise SystemExit(f"perfbench: metrics {sorted(set(values) ^ set(units))} are "
                         "computed or declared in BENCHMARK.json, not both")
    metrics = {k: {"value": v, "unit": units[k]} for k, v in sorted(values.items())}
    for k, m in metrics.items():
        print(f"{k:32} {m['value']:>16.6g} {m['unit']}")
    print(f"{'failed_ratio':32} {failed / attempted:>16.6g} ratio ({failed} of {attempted})")
    if not args.trace:
        print(f"run_s_tail is p{record['tail']['percentile']:.1f} of "
              f"{record['tail']['samples']} iterations")
    for f in failures:
        print(f"FAILED {f}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
