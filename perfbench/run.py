#!/usr/bin/env python3
"""The repository's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload streaming --seed 1 --seconds 8 --trace 0

Builds the engine and the harness from source when needed (`build.py`),
runs one workload in one JVM on `local[4]`, checks the outputs, and prints
as its last line one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer ones
with `--trace 1`). `perfbench/README.md` defines every metric.
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
import checks  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("streaming", "registry_mix")
# the engine's parallelism (`GraftSession.defaultParallelism`), equal to
# the cores of the harness session (`Main.Cores`)
CORES = 4
HEAP = "2g"
DEADLINE_S = 170
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected")
# time segments of the events fixture, and how many arrive displaced
EVENT_SEGMENTS = 3
EVENT_DISPLACED = 1

# the module opens Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class RunError(Exception):
    pass


def event_arrival(seed):
    """Arrival order of the time segments: in time order, except that
    `EVENT_DISPLACED` seed-chosen segments arrive after all the others."""
    import random
    late = random.Random(seed).sample(range(EVENT_SEGMENTS), EVENT_DISPLACED)
    return [s for s in range(EVENT_SEGMENTS) if s not in late] + late


def stage_events(work, seed):
    """Cut the events fixture into time segments, one parquet file each,
    with file times in arrival order (the file source takes the oldest
    file first). Returns the staging seconds."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    t0 = time.perf_counter()
    t = pq.read_table(os.path.join(DATA, "events.parquet"))
    # the fixture's naive timestamps are UTC wall clock; stage them zoned
    t = t.set_column(t.schema.get_field_index("ts"), "ts", t["ts"].cast(pa.timestamp("us", tz="UTC")))
    us = pc.cast(t["ts"], pa.int64()).to_numpy()
    lo, hi = int(us.min()), int(us.max())
    span = max(hi - lo, 1)
    seg = [min(EVENT_SEGMENTS - 1, (int(u) - lo) * EVENT_SEGMENTS // (span + 1)) for u in us]
    seg = pa.array(seg)
    out = os.path.join(work, "segs")
    os.makedirs(out)
    base = time.time() - 600
    for pos, s in enumerate(event_arrival(seed)):
        f = os.path.join(out, f"seg_{s:02d}.parquet")
        pq.write_table(t.filter(pc.equal(seg, s)), f)
        os.utime(f, (base + pos, base + pos))
    return time.perf_counter() - t0


def jvm(classes, workload, seed, seconds, traced, work, deadline):
    """Run the harness JVM once; return its raw record (and the
    single-core baseline's, traced only)."""
    out = os.path.join(work, "raw.json")
    # a fixed, pre-touched heap keeps the peak RSS from following GC timing
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss4m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes, os.path.join(os.environ["SPARK_HOME"], "jars", "*")]),
            "perfbench.Main", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if traced else "0",
            "--work", os.path.join(work, "w"), "--data", DATA, "--out", out]
    if traced:
        cmd += ["--out-local1", os.path.join(work, "local1.json")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log) as fh:
            tail = fh.read()[-4000:]
        raise RunError(f"harness JVM {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
    with open(out) as fh:
        raw = json.load(fh)
    # the last raw record of each workload stays for inspection
    shutil.copy(out, os.path.join(work, "..", "..", f"last-{workload}{'-traced' if traced else ''}.json"))
    local1 = None
    if traced and os.path.exists(os.path.join(work, "local1.json")):
        with open(os.path.join(work, "local1.json")) as fh:
            local1 = json.load(fh)["result"]
    return raw, local1


def run_once(classes, build_dir, a, traced, deadline):
    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        stage_s = 0.0
        if a.workload == "streaming":
            # set up three times and keep the median, like every timing
            times = []
            for _ in range(3):
                shutil.rmtree(os.path.join(work, "segs"), ignore_errors=True)
                times.append(stage_events(work, a.seed))
            stage_s = statistics.median(times)
            os.makedirs(os.path.join(work, "w"))
            shutil.move(os.path.join(work, "segs"), os.path.join(work, "w", "segs"))
        raw, local1 = jvm(classes, a.workload, a.seed, a.seconds, traced, work, deadline)
        if a.workload == "streaming":
            ka, kf, kp = checks.kpi_stream(raw["result"]["kpi"], metrics.kpi_progress(raw))
            ea, ef, ep = checks.event_state(raw["result"]["events"])
            verdict = (ka + ea, kf + ef, kp + ep)
        else:
            verdict = checks.registry_mix(raw["result"], EXPECTED)
        return raw, local1, stage_s, verdict
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    try:
        classes = build.ensure(root, build_dir)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA) or not os.path.isdir(EXPECTED):
        print("perfbench: input tables or expected results missing", file=sys.stderr)
        return 2
    deadline = time.monotonic() + DEADLINE_S
    try:
        raw, local1, stage_s, (attempted, failed, problems) = run_once(
            classes, build_dir, a, bool(a.trace), deadline)
    except RunError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    if a.trace:
        spans = metrics.all_spans(raw, a.workload)
        out = metrics.per_layer(a.workload, raw, attempted, failed, spans, local1)
        traces = os.path.join(build_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{a.workload}-{a.seed}.json"), "w") as fh:
            json.dump(spans, fh)
    else:
        out = metrics.end_to_end(a.workload, raw, stage_s)
    for msg in problems:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    units = metrics.PER_LAYER if a.trace else metrics.END_TO_END
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": out[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
