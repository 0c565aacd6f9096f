#!/usr/bin/env python3
"""Layered benchmark of etl_template_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The workloads, metrics and bounds are in
``BENCHMARK.json``; ``perfbench/METRICS.md`` says why each exists and which
end-to-end number each per-layer number should move.

One run is one Python process and one ``local[<cores>]`` session,
driven by one closed-loop client.  It sets the session up three times
(the first from process start, including the JVM launch; the next two stop
the session and build it again) and reports the median as ``setup_s``.
It then executes a fixed amount of work, ``round(seconds / UNIT_S)`` units
of at least one, so a faster program does the same work in less time:

- ``olap_sf0.1``: one unit is the 25 headline queries at sf0.1;
- ``ingest_jsonl``: one unit is a Pipeline run, a stream drain, a publish
  through the ``etl_versioned`` writer and eight filtered reads over a
  JSONL inbox generated from the seed.

Outputs are checked (query digests against the DuckDB oracles; ingest
counts against the generator), and every mismatch or exception counts as
a failed operation.  The checks run outside the timed work: a query's
digest is taken by executing it again after its timed write, and the
ingest counters are read after the unit's wall is taken.  The last stdout
line is the JSON result.

Everything a run writes lives under ``perfbench/.work/<run>`` (removed at
exit), ``perfbench/.cache`` (oracle digests and generated inboxes, reused
across runs) and ``perfbench/.out`` (span dumps, and the untraced wall
times the traced run compares itself with, keyed by a digest of the
sources).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures")
CACHE = os.path.join(HERE, ".cache")
OUT = os.path.join(HERE, ".out")
SF_DIR = os.path.join(FIXTURES, "sf0.1")
# Seconds one unit of work takes on a 4-core host; a run does
# max(1, round(seconds / UNIT_S)) units.
UNIT_S = {"olap_sf0.1": 40.0, "ingest_jsonl": 40.0}
SETUPS = 3


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _steal_seconds() -> float:
    """Cumulative CPU-steal seconds of the host (/proc/stat), 0 if absent."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _peak_rss_mb(pid: int) -> float:
    """Peak RSS of this process plus process ``pid`` (the JVM), in MB."""
    mine = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return mine + int(line.split()[1]) / 1024
    except OSError:
        pass
    return mine


def _tail(values: list[float]) -> float:
    """The highest sample with ten samples above it; with fewer than
    twenty samples, where that would fall below the median, the highest
    with a quarter of the samples above it."""
    ordered = sorted(values)
    above = 10 if len(ordered) >= 20 else len(ordered) // 4
    return ordered[-1 - above]


def _verify_fixtures() -> str:
    """Check the vendored fixtures against their checksums; returns the
    digest of the checksum list."""
    sums = os.path.join(FIXTURES, "SHA256SUMS")
    with open(sums, "rb") as fh:
        listing = fh.read()
    for line in listing.decode().splitlines():
        want, rel = line.split()
        h = hashlib.sha256()
        with open(os.path.join(FIXTURES, rel), "rb") as fh:
            h.update(fh.read())
        if h.hexdigest() != want:
            _fail(f"fixture {rel} does not match its checksum")
    return hashlib.sha256(listing).hexdigest()


def _history_key(workload: str, units: int) -> str:
    """Digest of the engine's and the benchmark's sources, the workload and
    the unit count: untraced walls only compare with traced ones under the
    same key."""
    h = hashlib.sha256(f"{workload}/{units}".encode())
    for top in ("etl_template_spark", "perfbench"):
        for d, subdirs, files in os.walk(os.path.join(ROOT, top)):
            subdirs[:] = sorted(x for x in subdirs if not x.startswith("."))
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def _history(key: str) -> list[float]:
    try:
        with open(os.path.join(OUT, "history.jsonl")) as fh:
            rows = [json.loads(line) for line in fh if line.strip()]
    except OSError:
        return []
    return [r["wall_s"] for r in rows if r.get("key") == key]


def _record_history(key: str, seed: int, wall_s: float) -> None:
    with open(os.path.join(OUT, "history.jsonl"), "a") as fh:
        fh.write(json.dumps({"key": key, "seed": seed, "wall_s": wall_s}) + "\n")


class Run:
    """One benchmark run: session set-up, the timed units, the checks."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.failed: list[str] = []
        self.attempted = 0

    def setup(self, tracer) -> dict:
        from etl_template_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "local"),
        }
        totals, get_spark_s = [], []
        t0 = T_START
        for i in range(SETUPS):
            if i:
                self.spark.stop()
                t0 = time.perf_counter()
            with tracer.span("setup"):
                t1 = time.perf_counter()
                with tracer.span("get_spark"):
                    self.spark = get_spark(app_name="perfbench", extra_conf=conf)
                get_spark_s.append(time.perf_counter() - t1)
                with tracer.span("warmup"):
                    # one small job: starts the task threads and the codegen
                    # path without pre-compiling any workload's own plans
                    self.spark.range(1 << 16).selectExpr("sum(id)").collect()
            totals.append(time.perf_counter() - t0)
        return {
            "setup_s": statistics.median(totals),
            "session.get_spark_s": statistics.median(get_spark_s),
            "session.cold_start_s": totals[0],
        }

    def queries(self, tracer, probe) -> tuple[dict, dict, list[float]]:
        import query_loop
        from etl_template_spark.queries import REGISTRY
        from oracle import References

        fixture_digest = _verify_fixtures()
        walls, per_unit = [], []
        for _ in range(self.units()):
            with tracer.span("unit"):
                wall, results = query_loop.run_unit(
                    self.spark, SF_DIR, query_loop.HEADLINE, REGISTRY, tracer, probe)
            walls.append(wall)
            per_unit.append(results)
        rss = _peak_rss_mb(self.spark.sparkContext._gateway.proc.pid)
        refs = References(self.spark, SF_DIR, os.path.join(CACHE, "oracle-sf0.1.json"),
                          fixture_digest)
        try:
            for results in per_unit:
                query_loop.check(results, REGISTRY, refs)
        finally:
            refs.save()
        flat = [r for results in per_unit for r in results]
        self.attempted += len(flat)
        self.failed += [f"{r.name}: {r.error}" for r in flat if r.error is not None]
        ok = [r.seconds for r in flat if r.error is None]
        if not ok:
            return {}, {}, []
        e2e = {
            "wall_s": statistics.median(walls),
            "op_p50_s": statistics.median(ok),
            "op_tail_s": _tail(ok),
        }
        layers = query_loop.layer_metrics(per_unit[0], self.cores) if probe else {}
        layers["peak_rss_mb"] = rss
        return e2e, layers, walls

    def ingest(self, tracer, probe) -> tuple[dict, dict, list[float]]:
        import ingest
        from spans import exec_metrics

        inbox, meta = ingest.inbox_for(CACHE, self.args.seed)
        print(f"perfbench: inbox seed={meta['seed']} lines={meta['lines']} "
              f"bytes={meta['bytes']} sha256={meta['sha256']}")
        ops = 3 + len(meta["reads"])  # Pipeline run, drain, publish, each read
        walls, its, exec_layers = [], [], []
        for u in range(self.units()):
            mark = probe.mark() if probe else None
            t0 = time.perf_counter()
            try:
                with tracer.span("iteration"):
                    it = ingest.run_iteration(self.spark, inbox, meta,
                                              os.path.join(self.work, f"iter{u}"), tracer)
            except Exception as exc:  # the run goes on; every operation of it failed
                self.attempted += ops
                self.failed += [f"iteration {u}: {type(exc).__name__}: {str(exc)[:500]}"] * ops
                continue
            walls.append(time.perf_counter() - t0)
            if probe:
                exec_layers.append(probe.since(mark))
            self.attempted += ops
            try:
                ingest.inspect(it, meta)
            except Exception as exc:
                self.failed += [f"iteration {u}: checks: {type(exc).__name__}: {str(exc)[:500]}"] * ops
                continue
            its.append(it)
            self.failed += [f"iteration {u} {op}: {msg}"
                            for op, msg in ingest.check(meta, it).items()]
        if not its:
            return {}, {}, []
        rss = _peak_rss_mb(self.spark.sparkContext._gateway.proc.pid)
        reads = [s for it in its for s in it["read_s"]]
        e2e = {
            "wall_s": statistics.median(walls),
            "op_p50_s": statistics.median(reads),
            "op_tail_s": _tail(reads),
        }
        layers = ingest.layer_metrics(meta, its) if probe else {}
        if exec_layers:
            layers.update(exec_metrics(exec_layers[:1], walls[0], self.cores)[0])
        layers["peak_rss_mb"] = rss
        return e2e, layers, walls

    def units(self) -> int:
        return max(1, round(self.args.seconds / UNIT_S[self.args.workload]))

    def measure(self, tracer, probe) -> tuple[dict, dict, list[float]]:
        if self.args.workload == "ingest_jsonl":
            return self.ingest(tracer, probe)
        return self.queries(tracer, probe)


def _run(args, work: str, spec: dict) -> dict:
    from etl_template_spark.datasource import register_versioned_source
    from spans import SparkProbe, Tracer

    run = Run(args, work)
    run_id = uuid.uuid4().hex[:12]
    tracer = Tracer(run_id, enabled=bool(args.trace))
    try:
        setup = run.setup(tracer)
        register_versioned_source(run.spark)
        probe = SparkProbe(run.spark) if args.trace else None
        steal0, load1 = _steal_seconds(), os.getloadavg()[0]
        e2e, layers, walls = run.measure(tracer, probe)
        steal = _steal_seconds() - steal0
        print(f"perfbench: host steal_s={steal:.3f} loadavg_1m={load1:.2f} "
              f"cores={run.cores} units={run.units()}")
        if not walls:
            _fail("no operation completed: " + "; ".join(run.failed[:3]))
        key = _history_key(args.workload, run.units())
        if args.trace:
            # 0 until an untraced run of the same sources and work is recorded
            history = _history(key)
            if history:
                layers["trace.overhead_s"] = statistics.median(walls) - statistics.median(history)
            layers.update({f"self.{k}_s": v for k, v in tracer.self_times().items()})
            os.makedirs(OUT, exist_ok=True)
            tracer.dump(os.path.join(OUT, f"spans-{args.workload}-{args.seed}-{run_id}.json"))
        else:
            os.makedirs(OUT, exist_ok=True)
            _record_history(key, args.seed, statistics.median(walls))
    finally:
        if run.spark is not None:
            _stop(run.spark)
    for line in run.failed[:20]:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    if args.trace:
        layers.update({
            "session.get_spark_s": setup["session.get_spark_s"],
            "session.cold_start_s": setup["session.cold_start_s"],
            "host.steal_s": steal,
            "host.loadavg_1m": load1,
            "fail_ratio": len(run.failed) / max(1, run.attempted),
        })
        wanted = spec["per_layer"]
        values = {m["name"]: layers.get(m["name"], 0.0) for m in wanted}
    else:
        e2e["setup_s"] = setup["setup_s"]
        wanted = spec["end_to_end"]
        values = {m["name"]: e2e[m["name"]] for m in wanted}
    for m in wanted:
        print(f"perfbench: {m['name']} = {values[m['name']]:.6g} {m['unit']}")
    return {
        "correct": not run.failed,
        "attempted": run.attempted,
        "failed": len(run.failed),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in UNIT_S:
        _fail(f"unknown workload {args.workload!r} (known: {', '.join(UNIT_S)})")
    if not os.path.isfile(os.path.join(ROOT, "etl_template_spark", "__init__.py")):
        _fail(f"the etl_template_spark package is not in {ROOT}")

    # Run hygiene: every path Spark, the engine and Python workers write to
    # is inside this run's own directory, which is removed at exit.
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    os.makedirs(CACHE, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(HERE, ".work"))
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM the run starts (Spark's launcher and the session JVM): temp
    # files in the run directory, no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]).strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)
    try:
        result = _run(args, work, spec)
    except SystemExit:
        raise
    except Exception:
        traceback.print_exc()
        _fail("run aborted")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
