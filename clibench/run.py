"""CLI-level benchmark of the validation engine.

    python3 clibench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (build.py), generates the workload's
seeded input once per (workload, seed, size) (gen.py), then:

  --trace 0  times one fresh-process set-up probe and, closed-loop with
             one client, complete operator runs in fresh processes until
             --seconds of runs are measured (at least one run). Prints
             the end-to-end metrics.
  --trace 1  does the same timed runs (without the probes), then one
             traced run whose spans give the per-layer metrics.

Every run's output is checked (checks.py). The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
All files go under .bench_build/ in the checkout.
"""

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

BUILD = build.BUILD

# run kind per workload: "table" runs graft.cli.ValidateTableMain,
# "dedup" runs the benchmark's DedupMain
KIND = {"flagship_batch": "table", "wide_nested": "table", "corpus_dedup": "dedup"}

# graft.cli.ValidateTableMain is launched with the JVM flags of the root
# build.sbt's javaOptions (the JDK 17 --add-opens list and two -D
# settings) plus a heap sized by the SPARK_DRIVER_MEM rule of the
# repository's test command.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def driver_mem():
    """MemTotal / 2 in whole GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def jvm_flags():
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    flags = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return flags + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                    f"-Xmx{driver_mem()}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]


def program_env():
    local = BUILD / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)
    env.update(SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))), SPARK_LOCAL_DIRS=str(local))
    return env


# ------------------------------------------------------------------ inputs

def ensure_input(workload, seed):
    """The generated input for (workload, seed, size), made on first use;
    the key also covers the generator and expected-count code."""
    code = hashlib.sha256(b"".join(Path(m.__file__).read_bytes() for m in (gen, checks))).hexdigest()[:12]
    key = f"{workload}-seed{seed}-" + "-".join(f"{k}{v}" for k, v in sorted(gen.SIZES[workload].items())) + \
        f"-{code}"
    d = BUILD / "inputs" / key
    if (d / "meta.json").exists():
        return d, json.loads((d / "meta.json").read_text())
    tmp = d.with_name(d.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    meta = gen.generate(workload, seed, str(tmp))
    if not footer_null_counts_complete(tmp / "input"):
        raise SystemExit(f"generated input lacks footer null counts: {tmp / 'input'}")
    if workload == "flagship_batch":
        meta["expected"] = checks.flagship_expected(str(tmp / "input"))
    elif workload == "wide_nested":
        meta["expected"] = checks.wide_expected(meta)
    meta["input_bytes"] = checks.dir_bytes(str(tmp / "input"))
    (tmp / "meta.json").write_text(json.dumps(meta))
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)
    return d, meta


def footer_null_counts_complete(input_dir):
    """True when every column chunk's footer statistics carry a null count
    (the condition for Checkpoint's metadata-only per-unit metrics)."""
    for f in sorted(Path(input_dir).glob("*.parquet")):
        md = pq.ParquetFile(f).metadata
        for i in range(md.num_row_groups):
            for j in range(md.num_columns):
                st = md.row_group(i).column(j).statistics
                if st is None or not st.has_null_count:
                    return False
    return True


# -------------------------------------------------------------------- runs

class Runner:
    def __init__(self, workload, seed):
        self.workload, self.kind = workload, KIND[workload]
        self.program_cp, self.bench_cp = build.build()
        self.input, self.meta = ensure_input(workload, seed)
        self.flags, self.env = jvm_flags(), program_env()
        self.work = BUILD / "work" / f"{workload}-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        self.work.mkdir(parents=True)

    @contextlib.contextmanager
    def _java(self, cp, main, args, log, stdout=None):
        """A JVM child process; killed and reaped if the block fails."""
        p = subprocess.Popen(["java", *self.flags, "-cp", cp, main, *args], cwd=self.work,
                             env=self.env, stdout=stdout or log, stderr=log)
        try:
            yield p
        finally:
            if p.returncode is None:
                p.kill()
                self._wait(p)

    @staticmethod
    def _wait(p):
        """Reaps `p` and returns its resource usage (CPU, peak RSS)."""
        _, status, usage = os.wait4(p.pid, 0)
        p.returncode = os.waitstatus_to_exitcode(status)
        return usage

    def setup_probe(self):
        """Seconds from spawn until a fresh JVM is ready to scan."""
        args = (["table", str(self.input / "schema.json"), str(self.input / "input")]
                if self.kind == "table" else ["dedup", str(self.input / "input")])
        with open(self.work / "probe.log", "w") as log:
            t0 = time.perf_counter()
            with self._java(self.bench_cp, "clibench.SetupProbe", args, log, stdout=subprocess.PIPE) as p:
                ready = None
                for line in p.stdout:
                    if line.strip() == b"ready":
                        ready = time.perf_counter() - t0
                p.stdout.close()
                self._wait(p)
        if ready is None or p.returncode != 0:
            raise RuntimeError(f"set-up probe failed (exit {p.returncode}); see {self.work / 'probe.log'}")
        return ready

    def operator_args(self, out):
        if self.kind == "table":
            return (self.program_cp, "graft.cli.ValidateTableMain",
                    [str(self.input / "schema.json"), str(self.input / "input"), str(out)])
        return self.bench_cp, "clibench.DedupMain", [str(self.input / "input"), str(out)]

    def run_once(self):
        """One complete operator run in a fresh process and a fresh outDir."""
        out = self.work / "out"
        shutil.rmtree(out, ignore_errors=True)
        cp, main, args = self.operator_args(out)
        log_path = self.work / "run.log"
        with open(log_path, "w") as log:
            t0 = time.perf_counter()
            with self._java(cp, main, args, log) as p:
                usage = self._wait(p)
            wall = time.perf_counter() - t0
        failed = self.check(out, p.returncode, log_path.read_text(errors="replace"))
        return {"wall": wall, "cpu": usage.ru_utime + usage.ru_stime, "rss_mb": usage.ru_maxrss / 1024,
                "output_bytes": checks.dir_bytes(str(out)), "exit": p.returncode, "failed": failed}

    def check(self, out, exit_code, log_text):
        if self.kind == "table":
            return checks.check_table(self.meta["expected"], str(out), exit_code, log_text)
        return checks.check_dedup(self.meta, str(out), exit_code, str(self.input / "input"),
                                  gen.LSH_ROWS_PER_BAND, gen.LSH_BANDS)

    def traced_run(self):
        out = self.work / "traced"
        shutil.rmtree(out, ignore_errors=True)
        spans_path = self.work / "spans.json"
        if self.kind == "table":
            args = ["table", str(self.input / "schema.json"), str(self.input / "input"), str(out), str(spans_path)]
        else:
            args = ["dedup", str(self.input / "input"), str(out), str(spans_path)]
        log_path = self.work / "traced.log"
        with open(log_path, "w") as log:
            t0 = time.perf_counter()
            with self._java(self.bench_cp, "clibench.TracedRun", args, log) as p:
                self._wait(p)
            wall = time.perf_counter() - t0
        if p.returncode != 0 or not spans_path.exists():
            raise RuntimeError(f"traced run failed (exit {p.returncode}); see {log_path}")
        trace = json.loads(spans_path.read_text())
        return wall, trace, out


# ----------------------------------------------------------------- metrics

def per_layer(meta, traced_wall, trace, traced_out, runs):
    """Per-layer metrics from the traced run's spans; `runs` are the
    untraced runs of the same invocation."""
    run_s = statistics.median(r["wall"] for r in runs)
    spans = {s["name"]: s for s in trace["spans"]}
    path = [s for s in trace["spans"] if s["path"]]

    def seconds(s):
        return (s["end_ms"] - s["start_ms"]) / 1e3

    def dur(name):
        return seconds(spans[name]) if name in spans else 0.0

    def m(name, key):
        s = spans.get(name)
        return s["metrics"].get(key, 0.0) if s else 0.0

    def total(key, among=path):
        return sum(s["metrics"].get(key, 0.0) for s in among)

    # driver time: the operator-sequence spans' time outside Spark jobs,
    # plus the traced process's time outside every span
    driver = sum(seconds(s) - s["metrics"]["job_s"] for s in path) + \
        traced_wall - sum(seconds(s) for s in trace["spans"])
    batches = manifest_batches(traced_out / "manifest.jsonl")
    pipeline = [s for s in trace["spans"] if s["name"].startswith("pipeline.")]
    candidates, verified = m("pipeline.minhash", "candidate_pairs"), m("pipeline.minhash", "verified_pairs")
    scanned = sum(m(n, "input_bytes") for n in ("checkpoint", "integrity", "stats"))
    return {
        "compile.schema_ms": dur("compile.schema") * 1e3,
        "exprs.bind_ms": dur("exprs.bind") * 1e3,
        "exprs.plan_ms": m("exprs.plan", "phase_ms"),
        "exprs.checks": m("exprs.bind", "checks"),
        "exprs.codegen_ms": m("checkpoint", "codegen_ms"),
        "exprs.codegen_fallbacks": total("codegen_fallbacks", trace["spans"]),
        "exprs.scan_s": dur("exprs.scan"),
        "exprs.violation_rows": m("cli.verdict", "row_violations"),
        "exprs.violating_row_ratio": m("exprs.count", "violating_rows") / meta["rows"],
        "sources.read_s": dur("sources.read"),
        "sources.input_bytes": m("sources.read", "input_bytes"),
        "checkpoint.s": dur("checkpoint"),
        "checkpoint.overhead_s": dur("checkpoint") - dur("exprs.scan") if "checkpoint" in spans else 0.0,
        "checkpoint.batches": len(batches),
        "checkpoint.batch_s_p50": statistics.median(batches) if batches else 0.0,
        "checkpoint.batch_s_max": max(batches) if batches else 0.0,
        "checkpoint.jobs": m("checkpoint", "jobs"),
        "checkpoint.write_bytes": m("checkpoint", "output_bytes"),
        "cli.driver_s": driver,
        "cli.scan_amplification": scanned / meta["input_bytes"],
        "integrity.s": dur("integrity"),
        "integrity.shuffle_bytes": m("integrity", "shuffle_write_bytes"),
        "integrity.spill_bytes": m("integrity", "spill_bytes"),
        "integrity.task_skew": m("integrity", "task_skew"),
        "stats.s": dur("stats"),
        "stats.input_bytes": m("stats", "input_bytes"),
        "pipeline.exact_s": dur("pipeline.exact"),
        "pipeline.minhash_s": dur("pipeline.minhash"),
        "pipeline.components_s": dur("pipeline.components"),
        "pipeline.candidate_pairs": candidates,
        "pipeline.verified_pairs": verified,
        "pipeline.verify_ratio": verified / candidates if candidates > 0 else 0.0,
        "pipeline.shuffle_bytes": total("shuffle_write_bytes", pipeline),
        "pipeline.held_bytes": trace["run"]["held_bytes"] if pipeline else 0.0,
        "spark.task_cpu_s": total("task_cpu_s"),
        "spark.gc_s": total("gc_s"),
        "spark.tasks": total("tasks"),
        "spark.shuffle_bytes": total("shuffle_write_bytes"),
        "spark.spill_bytes": total("spill_bytes"),
        "trace.overhead_s": traced_wall - run_s,
        "trace.coverage": sum(seconds(s) for s in path) / run_s,
        "peak_rss_mb": statistics.median(r["rss_mb"] for r in runs),
        "fail_ratio": sum(1 for r in runs if r["failed"]) / len(runs),
    }


def manifest_batches(path):
    """Wall seconds of each checkpoint batch, from the manifest's
    batch-level `batch_wall_ms` (every unit of a batch repeats it)."""
    if not path.exists():
        return []
    lines = [json.loads(x) for x in path.read_text().splitlines() if x.strip()]
    out, i = [], 0
    while i < len(lines):
        out.append(lines[i]["batch_wall_ms"] / 1e3)
        i += max(1, lines[i]["batch_size"])
    return out


def end_to_end(setup_s, runs, rows):
    run_s = statistics.median(r["wall"] for r in runs)
    return {
        "setup_s": setup_s,
        "run_s": run_s,
        "rows_per_s": rows / run_s,
        "cpu_s": statistics.median(r["cpu"] for r in runs),
        "output_bytes": statistics.median(r["output_bytes"] for r in runs),
    }


def spec():
    return json.loads((build.ROOT / "BENCHMARK.json").read_text())


def result_line(correct, attempted, failed, values, names):
    units = {m["name"]: m["unit"] for group in ("end_to_end", "per_layer") for m in spec()[group]}
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {n: {"value": values[n], "unit": units[n]} for n in names}})


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(KIND))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # on SIGTERM unwind normally, so every running JVM child is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    runner = Runner(a.workload, a.seed)
    # one probe per invocation: a fresh JVM's set-up costs 11-25 s here and a
    # comparison (ten seeds on two commits) must stay under an hour; the
    # median comes from the seeds
    setup_s = None if a.trace else runner.setup_probe()
    runs, measured = [], 0.0
    while measured < a.seconds or not runs:
        r = runner.run_once()
        runs.append(r)
        measured += r["wall"]
        print(f"run {len(runs)}: {r['wall']:.2f}s exit {r['exit']} "
              f"{'ok' if not r['failed'] else 'FAILED ' + ','.join(r['failed'])}", file=sys.stderr)
    failed = sum(1 for r in runs if r["failed"])
    if a.trace:
        traced_wall, trace, traced_out = runner.traced_run()
        values = per_layer(runner.meta, traced_wall, trace, traced_out, runs)
        names = [m["name"] for m in spec()["per_layer"]]
    else:
        values = end_to_end(setup_s, runs, runner.meta["rows"])
        names = [m["name"] for m in spec()["end_to_end"]]
    if failed:
        print(f"logs of the failed runs: {runner.work}", file=sys.stderr)
    else:
        shutil.rmtree(runner.work, ignore_errors=True)
    print(result_line(failed == 0, len(runs), failed, values, names))


if __name__ == "__main__":
    main()
