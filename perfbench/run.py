"""Pipeline benchmark: seeded corpus workloads through the package's
public functions on local[nproc].

    python3 perfbench/run.py --workload snapshot_build --seed 1 --seconds 20 --trace 0

One process, one closed-loop client (this script) submitting one pipeline
at a time. A workload is one or more pipeline stages, each with its own
input (``workloads.WORKLOADS``); a pass runs them in order. A run
generates the input from ``--seed`` (excluded from every timing), sets up
once (process start -> session -> one untimed warm-up pass: setup_s),
then repeats timed passes, each into a fresh output directory with the
cache cleared, and checks every pass's output, the warm-up's included.
There are at least ``MIN_PASSES`` timed passes, and more while the next
one, at the mean cost of those so far, still ends within ``--seconds``.

``--trace 0`` prints the end-to-end metrics (medians over the timed
passes): wall_s, docs_per_s, setup_s, peak_rss_mb (peak summed RSS of
the driver JVM and the Python workers while a pass runs), out_mb.
Failures are counted in the result's ``attempted`` (layer calls) and
``failed`` (layer calls that raised + passes whose check failed); their
ratio is failed_frac.

``--trace 1`` sets up the same way, then runs one traced pass (spans set
Spark job groups; every layer's output is persisted + counted under its
group) between two untraced passes at local[nproc], then one at local[1],
and prints the per-layer metrics.
``--profile-out FILE`` also writes the spans and the table as JSON.

The last stdout line is the JSON result; the lines above it repeat every
metric by name with its unit and sample count.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

import spans  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "metadata_enhanced_pretrain_datapipeline_spark"
DEFAULT_SEED = 1
#: passes keep getting faster for a few passes after the warm-up (JIT),
#: by an amount that varies from run to run: a median over two timed
#: passes spreads less across runs than the first one alone
MIN_PASSES = 2
MAX_PASSES = 50
DRIVER_MEMORY = "1g"

END_TO_END = {"wall_s": "s", "docs_per_s": "1/s", "setup_s": "s",
              "peak_rss_mb": "MB", "out_mb": "MB"}


# ------------------------------------------------------------ process

class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers), sampled every 100 ms while ``armed``, which the
    benchmark sets only while a pass runs. This process is left out: it
    holds the generator's ground truth and the output checks' reads. A
    child the JVM has spawned but not yet exec'd still maps the JVM's
    memory, so children of the JVM still running the java binary are
    skipped. (Summed PSS would count the forked workers' shared pages
    once, but reading smaps_rollup stalls the JVM: measured 1.6x slower
    passes.)"""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self.armed = False
        self.seen: set[int] = set()
        self._stop_ev = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def tree(root: int) -> list[int]:
        """``root`` and its descendants, minus the JVM's not-yet-exec'd
        children (same java executable as their parent)."""
        out, todo = [], [(root, "")]
        while todo:
            pid, parent_exe = todo.pop()
            try:
                exe = os.readlink(f"/proc/{pid}/exe")
                if exe == parent_exe and os.path.basename(exe) == "java":
                    continue
                out.append(pid)
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as f:
                        todo.extend((int(c), exe) for c in f.read().split())
            except OSError:
                pass
        return out

    def sample(self) -> None:
        me, total = os.getpid(), 0
        for pid in self.tree(me):
            self.seen.add(pid)
            if pid == me or not self.armed:
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        if self.armed:
            self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_ev.wait(0.1):
            self.sample()

    def stop(self) -> None:
        self._stop_ev.set()
        self.join(5)


def configure_env(work: str) -> None:
    """Keep every file Spark and its workers write inside ``work``, and
    let Python workers import the package from any working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # few malloc arenas: the JVM's native memory then depends on the
    # work, not on how many threads happened to allocate
    os.environ["MALLOC_ARENA_MAX"] = "2"
    java_opts = ("-XX:-UsePerfData "
                 f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.driver.extraJavaOptions='{java_opts}'",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # room in the status store for the traced pass's jobs and stages
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.sql.ui.retainedExecutions=100000",
        "pyspark-shell"])


def shutdown(spark, sampler: RssSampler) -> None:
    """Stop the session, the JVM and the Python workers, and wait for all."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    me = os.getpid()
    left = [p for p in sampler.seen if p != me]
    deadline = time.time() + 30
    while left and time.time() < deadline:
        left = [p for p in left if _alive(p)]
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------- runs

class Bench:
    def __init__(self, workload: str, seed: int, work: str,
                 sampler: RssSampler) -> None:
        self.workload, self.seed, self.work = workload, seed, work
        self.sampler = sampler
        self.stages = workloads.WORKLOADS[workload]
        self.cpus = os.cpu_count() or 1
        self.tr = spans.Tracer()
        self.spark = None
        self.passes = 0

    def generate(self) -> None:
        import gen  # builds its vocabulary on import: part of generation

        self.inp = {st: gen.MAKERS[st](self.seed,
                                       os.path.join(self.work, "input", st))
                    for st in self.stages}
        self.n_docs = sum(i.n_docs for i in self.inp.values())
        self.input_bytes = sum(du(i.path) for i in self.inp.values())

    def session(self, cpus: int) -> None:
        from metadata_enhanced_pretrain_datapipeline_spark import get_spark

        with self.tr.span("session", "get_spark"):
            self.spark = get_spark(cpus=cpus)
        self.tr.spark = self.spark

    def one_pass(self, label: str) -> dict:
        """One pass into a fresh output directory, then its checks."""
        spark, tr = self.spark, self.tr
        spark.catalog.clearCache()
        self.passes += 1
        out = os.path.join(self.work, f"out-{self.passes}")
        tr.run = f"{label}-{self.passes}"
        res = {"run": tr.run, "errors": [], "counts": {}, "digests": {}}
        t0 = time.perf_counter()
        try:
            self.sampler.armed = True
            try:
                with tr.span(spans.ROOT, self.workload):
                    frames = {}
                    for st in self.stages:
                        os.makedirs(os.path.join(out, st))
                        frames[st] = workloads.STAGES[st][0](
                            spark, tr, self.inp[st], os.path.join(out, st))
            finally:
                self.sampler.armed = False
                res["end"] = time.perf_counter()
            res["wall"] = res["end"] - t0
            res["out_bytes"] = du(out)
            for st in self.stages:
                errors, counts, res["digests"][st] = workloads.STAGES[st][1](
                    self.inp[st], os.path.join(out, st), frames[st])
                res["errors"] += [f"{st}: {e}" for e in errors]
                res["counts"].update({f"{st}.{k}": v for k, v in counts.items()})
        except Exception:
            traceback.print_exc(file=sys.stderr)
            res["errors"] = ["pass raised"]
        calls = [s for s in tr.calls(tr.run) if s.layer != spans.ROOT]
        errored = {s.id for s in calls if s.error}
        res["calls"] = len(calls)
        res["raised"] = sum(1 for s in calls if s.error and not any(
            c.parent == s.id for c in calls if c.id in errored))
        tr.release()
        spark.catalog.clearCache()
        shutil.rmtree(out, ignore_errors=True)
        return res

    def setup(self) -> float:
        """Session + warm-up pass, timed from process start to the end of
        the warm-up pass (before its check), input generation left out."""
        self.session(self.cpus)
        warm = self.one_pass("warmup")
        if warm["errors"] or warm["raised"]:
            raise RuntimeError(f"warm-up pass failed: {warm['errors']}")
        return warm["end"] - T_START - self.gen_s

    def measure(self, seconds: float) -> tuple[dict, list[dict]]:
        setup_s = self.setup()
        runs = []
        t_begin = time.perf_counter()
        while len(runs) < MAX_PASSES:
            runs.append(self.one_pass("timed"))
            spent = time.perf_counter() - t_begin
            if (len(runs) >= MIN_PASSES
                    and spent * (len(runs) + 1) / len(runs) > seconds):
                break
        ok = [r for r in runs if "wall" in r]
        walls = [r["wall"] for r in ok]
        metrics = {
            "wall_s": statistics.median(walls),
            "docs_per_s": statistics.median(self.n_docs / w for w in walls),
            "setup_s": setup_s,
            "out_mb": statistics.median(r["out_bytes"] for r in ok) / 1e6,
        } if ok else {}
        return metrics, runs

    def profile(self) -> tuple[dict, list[dict]]:
        self.setup()
        setup_span = next(s for s in self.tr.spans if s.layer == "session")
        # untraced passes on both sides of the traced one: passes still get
        # faster after the warm-up, and their mean sits where it ran
        before = self.one_pass("untraced")
        self.tr.tracing = True
        sql0 = spans.sql_executions(self.spark)
        anchor = (time.time() * 1e3, time.perf_counter())
        traced = self.one_pass("traced")
        self.tr.tracing = False
        jobs, stages = spans.read_status(self.spark)
        metrics = spans.profile(self.tr, traced["run"], jobs, stages,
                                self.cpus, anchor)
        metrics["spark.sql_executions"] = spans.sql_executions(self.spark) - sql0
        metrics["session.wall_s"] = setup_span.end - setup_span.start
        after = self.one_pass("untraced")
        self.spark.stop()
        from metadata_enhanced_pretrain_datapipeline_spark import get_spark

        self.spark = self.tr.spark = get_spark(cpus=1)
        single = self.one_pass("local1")
        runs = [traced, before, after, single]
        if all("wall" in r for r in runs):
            plain = (before["wall"] + after["wall"]) / 2
            metrics["trace.overhead_s"] = traced["wall"] - plain
            metrics["spark.scaling_x"] = single["wall"] / plain
        c = traced["counts"]
        probes = [s.end - s.start for s in self.tr.calls(after["run"])
                  if s.name == "ivf_quantized_topk"]
        metrics.update({
            "operators.dedup.candidate_pairs_per_doc":
                c["dedup_mix.pairs"] / c["dedup_mix.input"]
                if "dedup_mix.pairs" in c else 0.0,
            "operators.dedup.kept_frac":
                c["dedup_mix.kept"] / c["dedup_mix.input"]
                if "dedup_mix.kept" in c else
                c["lifecycle.kept"] / c["lifecycle.probed"]
                if "lifecycle.kept" in c else 0.0,
            "plans.pipeline.removed_frac":
                c["curate.removed"] / c["curate.parsed"]
                if "curate.parsed" in c else 0.0,
            "operators.similarity.probe_s":
                statistics.median(probes) if probes else 0.0,
        })
        return metrics, runs


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=tuple(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--profile-out", help="traced mode: write spans + table here")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    for mod in ("pyspark", "pyarrow", PACKAGE):
        if importlib.util.find_spec(mod) is None:
            print(f"perfbench: cannot import {mod} (run from a checkout of "
                  "the repository)", file=sys.stderr)
            return 2

    work = os.path.join(HERE, ".work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work)
    sampler = RssSampler()
    bench = Bench(args.workload, args.seed, work, sampler)
    try:
        t_gen = time.perf_counter()
        bench.generate()
        bench.gen_s = time.perf_counter() - t_gen
        sampler.start()
        if args.trace:
            metrics, runs = bench.profile()
        else:
            metrics, runs = bench.measure(args.seconds)
    finally:
        t_stop = time.perf_counter()
        sampler.stop()
        shutdown(bench.spark, sampler)
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: generate {getattr(bench, 'gen_s', 0):.2f}s, shutdown "
              f"{time.perf_counter() - t_stop:.2f}s, total "
              f"{time.perf_counter() - T_START:.2f}s", file=sys.stderr)

    checked = [r for r in runs if "wall" in r]
    failed_checks = sum(1 for r in runs if r["errors"])
    attempted = sum(r["calls"] for r in runs)
    failed = sum(r["raised"] for r in runs) + failed_checks
    pinned = _pinned_digests() if args.seed == DEFAULT_SEED else {}
    for st in bench.stages:
        digests = {r["digests"].get(st) for r in checked}
        if st in pinned and digests != {pinned[st]}:
            failed += 1
            print(f"perfbench: {st} output digest {sorted(map(str, digests))} "
                  f"!= pinned {pinned[st]}", file=sys.stderr)
    print("perfbench: pass walls " + " ".join(
        f"{r['run']}={r['wall']:.3f}" for r in checked), file=sys.stderr)
    for r in runs:
        for e in r["errors"]:
            print(f"perfbench: {r['run']}: {e}", file=sys.stderr)

    counts = runs[0]["counts"] if runs else {}
    digests = runs[0]["digests"] if runs else {}
    print(f"perfbench {args.workload} seed={args.seed} cpus={bench.cpus} "
          f"docs={bench.n_docs} passes={len(runs)} "
          f"digests={json.dumps(digests)} counts={json.dumps(counts)}")
    if args.trace:
        units = spans.per_layer_units()
        names = list(units)
        out = {n: {"value": float(metrics.get(n, 0.0)), "unit": units[n]}
               for n in names}
        for n in names:
            print(f"  {n:48s} {out[n]['value']:12.4f} {units[n]}")
        if args.profile_out:
            _write_profile(args, bench, out, runs)
    else:
        metrics["peak_rss_mb"] = sampler.peak / 1e6
        n = {"wall_s": len(checked), "docs_per_s": len(checked),
             "setup_s": 1, "peak_rss_mb": 1, "out_mb": len(checked)}
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()
               if k in metrics}
        for k, v in out.items():
            print(f"  {k:12s} {v['value']:12.4f} {v['unit']:4s} (n={n[k]})")
        print(f"  failed_frac  {failed / max(attempted, 1):12.4f}      "
              f"({failed} of {attempted} layer calls + checks)")
    correct = failed == 0 and len(checked) == len(runs) and bool(out)
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": out}))
    return 0


def _pinned_digests() -> dict[str, str]:
    """Output digest of each stage at the default seed, by stage."""
    try:
        with open(os.path.join(HERE, "digests.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _write_profile(args, bench: Bench, table: dict, runs: list[dict]) -> None:
    import pyspark

    record = {
        "workload": args.workload, "seed": args.seed, "cpus": bench.cpus,
        "pyspark": pyspark.__version__, "stages": list(bench.stages),
        "input_docs": bench.n_docs,
        "input_bytes": bench.input_bytes,
        "walls": {r["run"]: r.get("wall") for r in runs},
        "counts": runs[0]["counts"] if runs else {},
        "metrics": {k: v["value"] for k, v in table.items()},
        "spans": [vars(s) for s in bench.tr.spans],
    }
    with open(args.profile_out, "w") as f:
        json.dump(record, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
