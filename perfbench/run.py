"""Crawl-engine benchmark: one command, seeded workloads, end-to-end metrics
from an untraced run and per-layer metrics from a traced one.

    python3 perfbench/run.py --workload {series,corpus} --seed N \
        --seconds S --trace {0,1}

Run from the repository root.  The session is sized from the machine
(cores from the CPU affinity mask, driver heap from MemAvailable) and every
file Spark or the benchmark writes lands under ``.perfbench_work/`` (removed
at exit) or ``.perfbench_out/`` (run records and span files) in the
current directory.

Each workload is one client in a closed loop.  ``--trace 0`` runs the loop
for ``--seconds`` and prints the end-to-end metrics; ``--trace 1`` runs one
untraced and one traced cycle (series: its reads, a day fold and a kernel
refresh; corpus: one pass), with a span around every engine public-function
call, and prints the per-layer metrics.  The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

End-to-end metrics, per workload:
  setup_s        session start + input choice + median of 3 input builds
                 + engine-built inputs + warm-up
  items_per_s    series: 1d-tier points segmented and encoded per second
                 of kernel refresh; corpus: input docs per second
  op_ms_p50      series: a single-url read's latency, the mean over the
                 three read kinds (stitch_range, read_blob_range, prune_url)
                 of each kind's median; corpus: a cleaning pass's median
  bytes_per_item blob bytes per point (series), output bytes per kept doc
                 (corpus)
  peak_rss_gb    driver JVM plus Python workers (summed PSS), sampled
                 from /proc
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import platform
import re
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [ROOT, HERE]

import yatsm_spark  # noqa: E402,F401  -- fail fast outside a checkout

import spans as tracing  # noqa: E402
import workloads  # noqa: E402

BUILD_REPS = 3


def meminfo() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0]) * 1024
    return out


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def descendants() -> list[int]:
    """Pids of this process's descendants, from /proc."""
    parent = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parent[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    me, out = os.getpid(), []
    for pid in parent:
        p = parent.get(pid)
        while p and p != me:
            p = parent.get(p)
        if p == me:
            out.append(pid)
    return out


def wait_gone(pids: set[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited (Python workers orphaned by the
    JVM's exit are no longer our children, so they cannot be waited on);
    kill what is left after ``timeout``."""
    def running(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    killed = False
    while True:
        alive = [p for p in pids if running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} outlived SIGKILL")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            killed, deadline = True, time.monotonic() + 10
        time.sleep(0.1)


class RssSampler(threading.Thread):
    """Peak summed proportional set size (PSS) of this process's
    descendants: the driver JVM and the Python workers it forks, sampled
    from /proc.  PSS splits pages the forked workers share with their
    parent, so the sum counts each page once."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self.seen: set[int] = set()  # every descendant pid sampled
        self._stop_evt = threading.Event()

    @staticmethod
    def _pss(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def _sample(self) -> int:
        total = 0
        for pid in descendants():
            self.seen.add(pid)
            try:
                total += self._pss(pid)
            except OSError:
                pass
        return total

    def run(self):
        while not self._stop_evt.wait(self.period):
            self.peak = max(self.peak, self._sample())

    def stop(self):
        self._stop_evt.set()
        self.join()


def source_digest() -> str:
    """Content hash of the engine and job sources (the checkout may not be
    a git repository)."""
    h = hashlib.sha256()
    for top in ("yatsm_spark", "jobs"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, top))):
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as fh:
                return fh.read().strip()
        return head
    except OSError:
        return None


def load_job(name: str):
    spec = importlib.util.spec_from_file_location(f"jobs_{name}", os.path.join(ROOT, "jobs", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def start_session(work: str, cores: int, heap_mb: int, trace: bool):
    """get_spark sized from the machine, with every Spark file under work."""
    os.environ["YATSM_SPARK_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = work
    os.environ["PYSPARK_PYTHON"] = sys.executable
    confs = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            # a fixed-size heap: G1 does not resize it mid-run, which keeps
            # peak RSS from depending on when a resize happened
            f"-Xms{heap_mb}m -Djava.io.tmpdir={work} -Dderby.system.home={work} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        confs.update(tracing.EVENTLOG_CONFS)
        confs["spark.eventLog.dir"] = "file://" + os.path.join(work, "events")
    from yatsm_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{cores}]", extra_confs=confs)


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


E2E_UNITS = {"setup_s": "s", "items_per_s": "1/s", "op_ms_p50": "ms", "bytes_per_item": "B",
             "peak_rss_gb": "GB"}


def unit_of(name: str) -> str:
    """A metric's unit, from its name."""
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    name = re.sub(r"_p\d+$", "", name)  # a percentile has its sample's unit
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    if "bytes" in name:
        return "B"
    if name.endswith(("_frac", "_coverage", "_per_returned", "_per_lookup", "_per_read")):
        return "ratio"
    return "count"


def pct(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1]


class Loop:
    """Closed-loop client: runs ops, times them, counts failures."""

    def __init__(self, w):
        self.w = w
        self.ops: list[tuple[str, float, int, int, int]] = []
        self.attempted = 0
        self.failed = 0

    def run_one(self, kind: str, fn) -> bool:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            items, nbytes, rows_out = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return False
        self.ops.append((kind, time.perf_counter() - t0, items, nbytes, rows_out))
        note(f"{kind} {self.ops[-1][1]:.2f}s")
        return True

    def run_unit(self, trace_run: bool = False) -> None:
        for kind, fn in self.w.unit(trace_run):
            self.run_one(kind, fn)

    def run_for(self, seconds: float) -> float:
        """Run whole units of work while the window lasts (the last one may
        end after it); stop early after three failed units in a row."""
        t0 = time.perf_counter()
        streak = 0
        while time.perf_counter() - t0 < seconds and streak < 3:
            failed = self.failed
            self.run_unit()
            streak = streak + 1 if self.failed > failed else 0
        return time.perf_counter() - t0

    def of(self, kind: str):
        return [o for o in self.ops if o[0] == kind]


def end_to_end(w, loop: Loop, setup_s: float, peak_rss: int) -> dict:
    """The end-to-end metrics; one the ops that succeeded cannot give is
    left out."""
    m = {"setup_s": setup_s, "peak_rss_gb": peak_rss / 2**30}
    lat = [[o[1] for o in loop.of(k)] for k in w.latency_kinds]
    if all(lat):
        m["op_ms_p50"] = statistics.mean(statistics.median(x) for x in lat) * 1e3
    work = loop.of(w.throughput_kind)
    if work:
        m["items_per_s"] = sum(o[2] for o in work) / sum(o[1] for o in work)
        m["bytes_per_item"] = statistics.median(o[3] / o[4] for o in work)
    return m


def design_names(w, loop: Loop, e2e: dict, failed: int, attempted: int) -> dict:
    """The same run under the per-workload metric names of the design."""
    out = {"setup_s": e2e["setup_s"], "peak_rss_gb": e2e["peak_rss_gb"],
           "failed_frac": failed / attempted}

    def rate(kind: str, field: int) -> float:
        ops = loop.of(kind)
        return sum(o[field] for o in ops) / sum(o[1] for o in ops) if ops else float("nan")

    if w.name == "series":
        reads = [o[1] * 1e3 for o in loop.ops if o[0] in w.latency_kinds] or [float("nan")]
        out["tiers_points_per_s"] = w.base[0] / w.base[1]  # the set-up's one-shot tier build
        out["kernel_points_per_s"] = rate("kernels", 2)
        out["blob_bytes_per_point"] = e2e.get("bytes_per_item", float("nan"))
        out["read_ms_p50"] = statistics.median(reads)
        out["read_ms_p90"] = pct(reads, 90)
        out["reads"] = len(reads)
    else:
        out["corpus_docs_per_s"] = e2e.get("items_per_s", float("nan"))
    return out


def per_layer(ctx, w, spans: list[dict], groups: dict, extra: dict, untraced_s: float,
              traced_s: float, session_s: float, loop: Loop) -> dict:
    by_name = tracing.counters_by_name(groups)
    selfs = tracing.self_times(spans)
    root = spans[0]

    def span_s(name: str) -> float:
        return sum(selfs[s["id"]] for s in spans if s["name"] == name)

    def span_ms_p50(name: str) -> float:
        xs = [(s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == name]
        return statistics.median(xs) if xs else 0.0

    def n_spans(name: str) -> int:
        return sum(1 for s in spans if s["name"] == name)

    def c(name: str) -> dict:
        return by_name.get(name, tracing._empty_counters())

    traced = {k: v for k, v in by_name.items() if k not in ("", "untraced")}
    total = tracing._empty_counters()
    for cnt in traced.values():
        for k, v in cnt.items():
            total[k] = max(total[k], v) if k == "max_stage_tasks" else total[k] + v
    rollup_names = [f"operators.rollup.{x}" for x in ("series_clean", "rollup", "cascade", "gap_fill", "merge_tiers")]
    seg = c("plans.segmentation.segment_series")
    read_names = ["operators.rollup.stitch_range", "plans.blobs.read_blob_range", "sources.storage.prune_url"]
    reads = sum(n_spans(n) for n in read_names)
    traced_ops = loop.ops[-(len(loop.ops) // 2):]
    store_out = [o for o in traced_ops if o[0] == "fold"]
    m = {
        "session.start_s": session_s,
        "operators.rollup.series_clean_s": span_s("operators.rollup.series_clean"),
        "operators.rollup.rollup_s": span_s("operators.rollup.rollup"),
        "operators.rollup.cascade_s": span_s("operators.rollup.cascade"),
        "operators.rollup.gap_fill_s": span_s("operators.rollup.gap_fill"),
        "operators.rollup.merge_tiers_s": span_s("operators.rollup.merge_tiers"),
        "operators.rollup.shuffle_bytes": sum(c(n)["shuffle_write_bytes"] for n in rollup_names),
        "operators.rollup.rows_out": sum(o[4] for o in store_out),
        "operators.rollup.stitch_range_ms": span_ms_p50("operators.rollup.stitch_range"),
        "sources.storage.write_s": span_s("sources.storage.write_table"),
        "sources.storage.bytes_written": sum(o[3] for o in store_out),
        "sources.storage.files_written": ctx.files_written,
        "sources.storage.prune_url_ms": span_ms_p50("sources.storage.prune_url"),
        "plans.segmentation.stage_s": seg["stage_s"],
        "plans.segmentation.tasks": seg["max_stage_tasks"],
        "plans.segmentation.python_start_ms": seg["python_start_ms"],
        "plans.segmentation.python_init_ms": seg["python_init_ms"],
        "plans.segmentation.python_run_ms": seg["python_run_ms"],
        "plans.segmentation.bytes_to_python": seg["bytes_to_python"],
        "plans.blobs.encode_s": span_s("plans.blobs.encode_blobs"),
        "plans.blobs.blob_bytes": sum(o[3] for o in traced_ops if o[0] == "kernels"),
        "plans.blobs.range_read_ms": span_ms_p50("plans.blobs.read_blob_range"),
        "plans.blobs.points_decoded_per_returned": (
            w.decoded_points / w.returned_points if getattr(w, "returned_points", 0) else 0.0
        ),
        "operators.dedup.exact_s": span_s("operators.dedup.exact_dedup"),
        "operators.dedup.lsh_pairs_s": span_s("operators.dedup.minhash_lsh_pairs"),
        "operators.dedup.candidate_pairs": extra["candidate_pairs"],
        "operators.dedup.pairs_kept_frac": extra["pairs_kept"] / extra["candidate_pairs"] if extra["candidate_pairs"] else 0.0,
        "operators.dedup.star_demotions": w.stage_counts[-1].get("lsh_star_buckets", 0) if w.name == "corpus" else 0,
        "operators.graph.cc_s": span_s("operators.graph.neardup_clusters"),
        "operators.graph.cc_rounds": extra["cc_rounds"],
        "operators.quality.repetition_s": span_s("operators.quality.repetition_stats"),
        "jobs.corpus.spark_jobs": c("untraced")["jobs"] if w.name == "corpus" else 0,
        "spark.jobs": total["jobs"],
        "spark.tasks": total["tasks"],
        "spark.task_cpu_s": total["task_cpu_s"],
        "spark.gc_s": total["gc_s"],
        "spark.shuffle_write_bytes": total["shuffle_write_bytes"],
        "spark.spill_bytes": total["spill_bytes"],
        "spark.fetch_wait_s": total["fetch_wait_s"],
        "spark.jobs_per_read": sum(c(n)["jobs"] for n in read_names) / reads if reads else 0.0,
        "trace.untraced_wall_s": untraced_s,
        "trace.traced_wall_s": traced_s,
        "trace.overhead_s": traced_s - untraced_s,
        "trace.self_coverage": sum(selfs[s["id"]] for s in spans) / (root["end"] - root["start"]),
    }
    m.update(ctx.kernel_layer)
    return m


def note(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    work = os.path.join(ROOT, ".perfbench_work")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)

    cores = len(os.sched_getaffinity(0))
    mem = meminfo()
    heap_mb = int(min(2048, max(1024, mem["MemAvailable"] / 2**20 * 0.25)))
    conditions = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cores": cores, "heap_mb": heap_mb, "mem_available_gb_before": mem["MemAvailable"] / 2**30,
        "loadavg_before": loadavg(), "python": platform.python_version(),
        "git_commit": git_commit(), "source_digest": source_digest(),
    }

    rss = RssSampler()
    rss.start()
    t_start = time.perf_counter()
    spark = start_session(work, cores, heap_mb, trace)
    session_s = time.perf_counter() - t_start
    try:
        conditions["spark"] = spark.version
        conditions["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        ctx = SimpleNamespace(
            spark=spark, seed=args.seed, work=work, tracer=tracing.Tracer(spark, False),
            jobs_rollup=load_job("rollup"), jobs_corpus=load_job("corpus"),
            files_written=0, kernel_layer={
                "functions.ccdc.fit_points_per_s": 0.0,
                "functions.codec.encode_points_per_s": 0.0,
                "functions.codec.decode_points_per_s": 0.0,
            },
        )
        w = workloads.WORKLOADS[args.workload](ctx)

        t0 = time.perf_counter()
        w.choose()
        choose_s = time.perf_counter() - t0
        builds = []
        for _ in range(BUILD_REPS):
            t0 = time.perf_counter()
            w.build()
            builds.append(time.perf_counter() - t0)
            note(f"build {builds[-1]:.1f}s")
        t0 = time.perf_counter()
        w.prepare()
        prepare_s = time.perf_counter() - t0
        note(f"prepare {prepare_s:.1f}s")
        w.warm()
        warm_s = time.perf_counter() - t0 - prepare_s
        note(f"warm {warm_s:.1f}s")
        setup_s = session_s + choose_s + statistics.median(builds) + prepare_s + warm_s

        loop = Loop(w)
        extra = {}
        if not trace:
            timed_s = loop.run_for(args.seconds)
        else:
            # one untraced unit of work, then one more with spans and
            # forced layer boundaries
            spark.sparkContext.setJobGroup("untraced", "untraced")
            t0 = time.perf_counter()
            loop.run_unit(trace_run=True)
            untraced_s = time.perf_counter() - t0
            spark.sparkContext.setLocalProperty(tracing.GROUP_KEY, None)
            extra = workloads.install_trace(ctx, w)
            ctx.tracer.enabled = True
            with ctx.tracer.span("trace") as root_span:
                for kind, fn in w.unit(trace_run=True):
                    loop.run_one(kind, fn)
                    ctx.tracer.release()
            ctx.tracer.unwrap_all()
            traced_s = root_span["end"] - root_span["start"]
            timed_s = untraced_s + traced_s
            ctx.files_written = sum(
                workloads.dir_files(os.path.join(work, d)) for d in os.listdir(work)
                if d in ("store", "kernels", "corpus")
            )

        errors: list[str] = []
        t0 = time.perf_counter()
        try:
            w.check()
            errors = w.errors
        except Exception as exc:
            traceback.print_exc()
            errors = [f"check raised {exc!r}"]
        note(f"check {time.perf_counter() - t0:.1f}s")
        if trace and w.name == "series" and not errors:
            ctx.kernel_layer = w.kernel_layer()
        sizes = w.sizes()
    finally:
        try:
            stop_session(spark)
        finally:
            rss.stop()
            wait_gone(rss.seen | set(descendants()))

    conditions.update(
        loadavg_after=loadavg(), mem_available_gb_after=meminfo()["MemAvailable"] / 2**30,
        choose_s=choose_s, build_s=builds, prepare_s=prepare_s, warm_s=warm_s, timed_s=timed_s, sizes=sizes, errors=errors[:20],
        ops={k: {"n": len(loop.of(k)), "median_s": statistics.median(o[1] for o in loop.of(k))}
             for k in sorted({o[0] for o in loop.ops})},
    )
    # the output check counts as one more operation: a digest mismatch is
    # a failure like a Py4J error or a dead JVM
    attempted, failed = loop.attempted + 1, loop.failed + (1 if errors else 0)
    if trace:
        groups = tracing.read_event_log(os.path.join(work, "events"))
        spans = ctx.tracer.spans
        for sp in spans:
            sp["spark"] = groups.get(ctx.tracer.group_of(sp["id"]), {})
        ctx.tracer.write_jsonl(
            os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"), spans[0]["start"]
        )
        metrics = per_layer(ctx, w, spans, groups, extra, untraced_s, traced_s, session_s, loop)
    else:
        metrics = end_to_end(w, loop, setup_s, rss.peak)
        conditions["named"] = design_names(w, loop, metrics, failed, attempted)
    record = {"conditions": conditions, "metrics": metrics}
    with open(os.path.join(out_dir, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    for k, v in conditions.get("named", {}).items():
        print(f"{args.workload} {k} = {v:.6g} {unit_of(k)}")
    print(json.dumps({"conditions": conditions}))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
