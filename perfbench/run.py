"""Search-engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/smoke.py      # every workload at minimum size

Run from the root of a checkout; nothing outside it is read or written.
Scratch space is .perfbench_work/, which also caches the base index: when
the cache is empty, an untraced run first builds it in a child process
(--build-base) that ends before the run's own session starts, so setup_s
only ever copies it (see perfbench/workloads.py for the workloads). With
--trace 0 the last line carries the end-to-end metrics; with --trace 1
Spark's event log is on, every span sets a job group, and the last line
carries the per-layer metrics (perfbench/layers.py), after the bottleneck
of each op kind and the tracing overhead against an untraced run of the
same workload and seed. Each run also prints the seconds of every op and
of its phases (session start, setup, ops, gate, stop).

Exit status is 0 whenever a result line was printed; a wrong result shows
as "correct": false and in "failed", never as a crash.
"""

from __future__ import annotations

import argparse
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

ROOT = Path(__file__).resolve().parent.parent
sys.path[0] = str(ROOT)  # import perfbench.* and the engine from the checkout

MASTER = "local[4]"
N_DOCS = 500
DRIVER_MEM = "1g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "update"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--build-base", action="store_true",
                   help="only build the cached base index, print no result")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=N_DOCS,
                   help="base crawl rows (default %(default)s; smoke runs shrink it)")
    return p.parse_args(argv)


def _environment(work: Path) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python workers write under work/."""
    for sub in ("tmp", "local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # no hsperfdata files in /tmp from the launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def _cache_dir(scratch: Path, docs: int) -> Path:
    """Where the base index of this corpus size, engine source, benchmark
    inputs and build settings, and Spark version lives."""
    import pyspark

    h = hashlib.sha256(f"{docs}:{pyspark.__version__}".encode())
    sources = [ROOT / "perfbench" / "inputs.py", ROOT / "perfbench" / "workloads.py",
               *sorted((ROOT / "pears_fruit_fly_spark").rglob("*.py"))]
    for f in sources:
        h.update(f.relative_to(ROOT).as_posix().encode())
        h.update(f.read_bytes())
    return scratch / f"base-{h.hexdigest()[:16]}"


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        children.setdefault(int(fields[1]), []).append(int(stat.parent.name))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _stop(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes),
    and wait for it and for the Python workers it forked."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    workers = _descendants(gateway.proc.pid) if gateway is not None else []
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if _running(p)]
        time.sleep(0.1)
    for pid in workers:
        os.kill(pid, signal.SIGTERM)


def _running(pid: int) -> bool:
    """True unless the process is gone or a zombie (ended, not yet reaped)."""
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def _space_line(label, disk) -> str:
    parts = " ".join(f"{k}={b}B/{n}f" for k, (b, n) in disk.items())
    return f"# space {label}: {parts}"


def _overhead_lines(results: Path, workload: str, seed: int, traced: dict) -> list[str]:
    """Traced minus untraced end-to-end values: same seed if that run is on
    disk, else the median of every untraced run of the workload."""
    same = results / f"{workload}-seed{seed}-trace0.json"
    files = [same] if same.exists() else sorted(results.glob(f"{workload}-seed*-trace0.json"))
    if not files:
        return [f"# tracing overhead: no untraced {workload} run in {results} to compare"]
    base = [json.loads(f.read_text()) for f in files]
    lines = [f"# tracing overhead vs {len(files)} untraced run(s) (setup_s left "
             "out: a traced run rebuilds the base index, an untraced one copies it):"]
    for name, (value, unit) in traced.items():
        refs = [b[name][0] for b in base if name in b]
        if not refs or name == "setup_s":
            continue
        ref = statistics.median(refs)
        lines.append(f"#   {name}: traced {value:.6g} untraced {ref:.6g} {unit} "
                     f"({(value - ref) / ref:+.1%})")
    return lines


def _build_base(args, scratch: Path, cache: Path) -> int:
    """Build the base index into the cache in a session of its own."""
    from perfbench import spans, workloads
    from perfbench.inputs import make_inputs
    from pears_fruit_fly_spark.session import get_spark

    work = scratch / "base-build"
    shutil.rmtree(work, ignore_errors=True)
    spark = get_spark("perfbench-base", master=MASTER, extra_conf=_environment(work))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        inputs = make_inputs(args.seed, args.docs)
        raw = {"base": spark.createDataFrame(inputs.raw(inputs.pages))}
        run = workloads.Run(spark, spans.Recorder(spark.sparkContext, False),
                            inputs, str(work / "engine"), cache, raw)
        run.ingest(build=True)
    finally:
        _stop(spark)
    shutil.rmtree(work, ignore_errors=True)
    return 0


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else list(argv)
    args = parse_args(argv)
    if not (ROOT / "pears_fruit_fly_spark" / "api.py").is_file():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    scratch = ROOT / ".perfbench_work"
    cache = _cache_dir(scratch, args.docs)
    if args.build_base:
        return _build_base(args, scratch, cache)
    if not args.trace and not cache.is_dir():
        subprocess.run([sys.executable, str(Path(__file__).resolve()), *argv,
                        "--build-base"], check=True)

    from perfbench import host, layers, spans, workloads
    from perfbench.inputs import make_inputs
    from pears_fruit_fly_spark.fixtures.webtext import fixture_vocab_terms, make_web_pages

    traced = bool(args.trace)
    work = scratch / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    conf = _environment(work)
    if traced:
        (work / "events").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    control = host.Control(list(make_web_pages(200, seed=0)["text"]),
                           fixture_vocab_terms())
    control_before, load_before = control.seconds(), host.loadavg_1m()

    from pears_fruit_fly_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=MASTER, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        rec = spans.Recorder(spark.sparkContext, traced)
        t0 = time.perf_counter()
        inputs = make_inputs(args.seed, args.docs)
        raw = {"base": spark.createDataFrame(inputs.raw(inputs.pages))}
        if args.workload == "update" and traced:
            raw["new"] = spark.createDataFrame(inputs.raw(inputs.new_pages))
        run = workloads.Run(spark, rec, inputs, str(work / "engine"), cache, raw)
        workloads.WORKLOADS[args.workload](run, args.seconds, traced)
        setup_s = session_s + run.setup_end - t0
        disk = host.disk_usage(run.engine_dir)
        t_gate = time.perf_counter()
        workloads.run_gate(run)
        peak_mb = host.peak_rss_mb(
            [os.getpid(), spark.sparkContext._gateway.proc.pid])
    finally:
        t_stop = time.perf_counter()
        _stop(spark)
    phases = {"session": session_s, "setup": setup_s - session_s,
              "ops": t_gate - t0 - (setup_s - session_s),
              "gate": t_stop - t_gate, "stop": time.perf_counter() - t_stop}
    control_s = statistics.median([control_before, control.seconds()])
    loadavg = (load_before + host.loadavg_1m()) / 2

    e2e = workloads.end_to_end(run, setup_s)
    attempted = len(run.ops) + len(run.gate_checks)
    failed = len(run.failures)
    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"inputs={inputs.digest()} docs={args.docs} master={MASTER} "
          f"trace={args.trace}")
    print("# ops (seconds): " + ", ".join(
        f"{o.kind}{'' if o.stage == 'timed' else '(' + o.stage + ')'} {o.seconds:.2f}"
        for o in run.ops))
    print(_space_line("after build", run.disk_after_build))
    print(_space_line("after the timed ops", run.disk_end))
    if run.disk_end != disk:
        print(_space_line("at exit", disk))
    print(f"# gate: {attempted} ops and checks, {failed} failed; host "
          f"control {control_s:.4f}s load {loadavg:.2f}")
    print("# phases: " + ", ".join(f"{k} {v:.1f}s" for k, v in phases.items()))
    for line in run.failures:
        print(f"FAILED {line}")

    results = scratch / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(e2e))
    if traced:
        rec.dump(work / "spans.json")
        log = next((work / "events").iterdir())
        spark_spans, kernels = spans.spark_per_span(log, rec.spans)
        values = layers.per_layer(
            run, session_s, run.disk_end,
            {"control_s": control_s, "loadavg": loadavg, "peak_mb": peak_mb},
            spark_spans, kernels)
        units = dict(layers.NAMES)
        metrics = {n: {"value": values[n], "unit": units[n]} for n, _ in layers.NAMES}
        for line in layers.bottlenecks(run, spark_spans):
            print(f"# {line}")
        for line in _overhead_lines(results, args.workload, args.seed, e2e):
            print(line)
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in e2e.items()}
    shutil.rmtree(work / "engine", ignore_errors=True)
    shutil.rmtree(run.base_docmap, ignore_errors=True)
    shutil.rmtree(work / "local", ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
