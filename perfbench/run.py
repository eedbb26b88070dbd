"""KG-build benchmark: seeded transcripts → run_pipeline through the stage
ledger → every build checked against refimpl.oracle.

    python3 perfbench/run.py --workload bulk_exact --seed 1 --seconds 24 --trace 0
    python3 perfbench/run.py --smoke

Closed loop, one client (this driver process): each build starts when the
previous one and its oracle check (and, in a traced run, its resume) have
finished. A run measures a fixed number of builds (BUILDS, CYCLES);
``--seconds`` is accepted and ignored, since a count that followed the
code's speed would bias medians. The last line
of stdout is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones (see perfbench/README.md). Everything the run writes goes
under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "_work")
CACHE = os.path.join(WORK, "cache")
LEDGER = os.path.join(WORK, "ledger")

sys.path.insert(0, ROOT)

# turns: input size; entities: catalog width; fuzzy: canonicalization tier.
WORKLOADS = {
    "bulk_exact": dict(turns=30_000, entities=150, fuzzy=False),
    "wide_fuzzy": dict(turns=12_000, entities=15_000, fuzzy=True),
}
SMOKE_TURNS = 2_000
MIN_PR = 0.95
WARMUP_TURNS = 2_000
# Timed builds per run, and cycles per half of a traced run, whatever
# --seconds says: a count that followed the code's speed would let a faster
# commit reach later, warmer builds. At three, the median leaves out the
# first build, which still carries JIT warm-up.
BUILDS = 3
CYCLES = 2
DRIVER_MEM = "2g"

STAGE_LAYER = {
    "cells": "operators.extract",
    "mentions": "operators.extract",
    "postings": "operators.index",
    "attributes": "operators.index",
    "pred_merge_map": "operators.match",
    "join_results": "operators.probe",
    "pred_dtypes": "operators.profile",
    "resolved": "operators.resolve",
    "clusters": "operators.canonical",
    "triples": "operators.triplify",
}
RESUME_REBUILDS = {"triples"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(since: tuple[int, int]) -> float:
    """Share of CPU time since ``since`` that the hypervisor gave to other
    guests: the host contention the timed builds ran under."""
    steal, total = cpu_ticks()
    return (steal - since[0]) / max(total - since[1], 1)


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": mem_kb / 2**20}


# ---------------------------------------------------------------- memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next((int(l.split()[1]) for l in f if l.startswith("Pss:")), 0)
    except OSError:
        return 0


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat_path: str, fields: slice) -> int:
    try:
        with open(stat_path) as f:
            return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[fields])
    except (OSError, IndexError, ValueError):
        return 0


def _is_jit_thread(task_dir: str) -> bool:
    try:
        with open(os.path.join(task_dir, "comm")) as f:
            return f.read().startswith(JIT_THREADS)
    except OSError:
        return False


def program_cpu_s(root_pid: int) -> float:
    """User plus system CPU seconds of this process and of the process tree
    under ``root_pid`` (the driver JVM and its Python workers, with those
    that have exited), less the JVM's JIT compiler threads. Time the
    hypervisor gave to other guests (steal) is not in it. JIT compilation
    is left out: it is warm-up that still fades over the timed builds, and
    took about a quarter of a bulk_exact build's CPU."""
    kids, todo, ticks = _children(), [root_pid], 0
    while todo:
        pid = todo.pop()
        todo += kids.get(pid, [])
        ticks += _ticks(f"/proc/{pid}/stat", slice(11, 15))  # utime stime cutime cstime
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            task = f"/proc/{pid}/task/{tid}"
            if _is_jit_thread(task):
                ticks -= _ticks(f"{task}/stat", slice(11, 13))
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


class PeakMemory:
    """Samples the proportional resident set (PSS) of a process tree — the
    driver JVM and the Python workers it forks — and keeps the peak since
    the last ``take``."""

    def __init__(self, root_pid: int, interval: float = 0.2):
        self.interval = interval
        self.root_pid = root_pid
        self.peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            kids, todo, total = _children(), [self.root_pid], 0
            while todo:
                pid = todo.pop()
                total += _pss_kb(pid)
                todo += kids.get(pid, [])
            with self._lock:
                self.peak_kb = max(self.peak_kb, total)

    def take(self) -> float:
        """Peak in MB since the previous call."""
        with self._lock:
            peak, self.peak_kb = self.peak_kb, 0
        return peak / 1024.0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def heap_peak_mb(spark) -> float:
    """Sum, over the driver JVM's heap memory pools (G1: eden, survivor, old
    gen), of each pool's peak use since the previous call, in MB; resets the
    peaks. With the heap size fixed, eden's share is roughly constant and
    the sum follows the old gen, i.e. what the pipeline keeps on the heap."""
    total = 0
    for pool in spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getType().name() == "HEAP":
            total += pool.getPeakUsage().getUsed()
            pool.resetPeakUsage()
    return total / 2**20


# ---------------------------------------------------------------- session


def start_session(cores: int, event_log: str | None = None):
    from mannheimsearchjoinsengine_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.master": f"local[{cores}]",  # SPARK_MASTER in the environment must not move it
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # The heap is committed and touched up front (-Xms = driver memory):
        # G1 otherwise grows it in steps whose timing varies, and peak PSS
        # read anywhere from 1.5 to 2.2 GB across runs of the same build.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                                         f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                                         # a fixed set of JIT compiler threads, none of which
                                         # exits and takes its CPU time into the JVM's total
                                         "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the gateway JVM (and with it the Python worker daemon) and wait
    for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------- builds


class SpanRecorder:
    """Records one span per ledger stage while installed: (build id, stage,
    start, end, thread), wrapping ``StageLedger.materialize`` — the boundary
    where every stage's Spark work runs."""

    def __init__(self):
        self.spans: list[dict] = []
        self.build_id: str | None = None

    @contextmanager
    def installed(self):
        from mannheimsearchjoinsengine_spark.sources.catalog import StageLedger

        orig = StageLedger.materialize
        rec = self

        def materialize(ledger, stage, fingerprint, build, partition_by=None):
            t0 = time.time()
            try:
                return orig(ledger, stage, fingerprint, build, partition_by)
            finally:
                rec.spans.append(dict(
                    build=rec.build_id, stage=stage, start=t0, end=time.time(),
                    thread=threading.current_thread().name,
                ))

        StageLedger.materialize = materialize
        try:
            yield self
        finally:
            StageLedger.materialize = orig

    def of(self, build_id: str) -> dict[str, tuple[float, float]]:
        return {s["stage"]: (s["start"], s["end"]) for s in self.spans if s["build"] == build_id}


def _ledger_entries(root: str) -> dict:
    with open(os.path.join(root, "_ledger.json")) as f:
        return json.load(f)


def _dir_usage(root: str) -> tuple[float, int]:
    size, files = 0, 0
    for d, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size / 1e6, files


def _collect(df) -> set[tuple]:
    return {tuple(r) for r in df.select("subj", "pred", "obj", "obj_dtype").collect()}


class Builder:
    """One workload's closed loop of build + check + resume cycles over one
    seeded input. The input and its oracle triples are made (or read from
    the cache) when the builder is created, before any clock starts."""

    def __init__(self, spec: dict, seed: int):
        from perfbench import gen, oracle_cache

        self.spec = spec
        self.recorder: SpanRecorder | None = None
        self.memory: PeakMemory | None = None
        self.path = gen.ensure_input(os.path.join(CACHE, "inputs"), seed, spec["turns"], spec["entities"])
        self.expected = oracle_cache.expected_triples(
            self.path, spec["fuzzy"], os.path.join(CACHE, "oracle"))

    def _timed(self, spark, rec: dict, phase: str, span_id: str) -> set:
        """Run the pipeline through the ledger until the ``triples`` stage is
        committed and counted, timed as ``rec[phase + "_s"]``. Returns the
        triples, collected after the clock stops."""
        from mannheimsearchjoinsengine_spark.plans.pipeline import run_pipeline

        sc = spark.sparkContext
        if self.recorder:
            self.recorder.build_id = span_id
        try:
            jvm = spark.sparkContext._gateway.proc.pid
            cpu0 = program_cpu_s(jvm)
            rec[f"{phase}_start"] = time.time()
            # run_pipeline runs its last stage on this thread and leaves that
            # stage's job description set; clearing it books the input read
            # and the count below as pipeline overhead, not as a stage.
            sc.setJobDescription(None)
            triples = run_pipeline(spark, "", checkpoint_root=LEDGER, input_path=self.path,
                                   fuzzy_canonical=self.spec["fuzzy"])["triples"]
            sc.setJobDescription(None)
            triples.count()
            rec[f"{phase}_end"] = time.time()
            rec[f"{phase}_cpu_s"] = program_cpu_s(jvm) - cpu0
        finally:
            if self.recorder:
                self.recorder.build_id = None
        rec[f"{phase}_s"] = rec[f"{phase}_end"] - rec[f"{phase}_start"]
        return _collect(triples)

    def cycle(self, spark, tag: str, resume: bool = True) -> dict:
        """Build into a fresh ledger, check against the oracle, then delete
        the ``triples`` stage and resume (a crash in the final write): every
        other stage must be reused and the triples must come out the same.
        The ledger stays on disk at LEDGER until the next cycle starts."""
        import pyarrow.parquet as pq

        shutil.rmtree(LEDGER, ignore_errors=True)
        rec = dict(tag=tag, ok=False, turns=pq.ParquetFile(self.path).metadata.num_rows)
        failures, expected = [], self.expected
        if self.memory:
            self.memory.take()
        heap_peak_mb(spark)
        try:
            got = self._timed(spark, rec, "build", tag)
            tp = len(got & expected)
            rec["precision"] = tp / len(got) if got else 0.0
            rec["recall"] = tp / len(expected) if expected else 0.0
            if min(rec["precision"], rec["recall"]) < MIN_PR:
                failures.append(f"P={rec['precision']:.4f} R={rec['recall']:.4f} below {MIN_PR}")
            rec["write_mb"], rec["files"] = _dir_usage(LEDGER)
            before = _ledger_entries(LEDGER)
            rec["rows"] = {k: v["rows"] for k, v in before.items()}
            if resume:
                shutil.rmtree(os.path.join(LEDGER, "triples"))
                again = self._timed(spark, rec, "resume", tag + "/resume")
                after = _ledger_entries(LEDGER)
                rebuilt = {k for k in after if after[k] != before.get(k)}
                rec["resume_rebuilt"] = len(rebuilt)
                rec["resume_reused"] = len(after) - len(rebuilt)
                if rebuilt != RESUME_REBUILDS:
                    failures.append(f"resume rebuilt {sorted(rebuilt)}")
                if again != got:
                    failures.append("resumed triples differ from the build's")
            rec["ok"] = not failures
        except Exception:
            failures.append(f"raised\n{traceback.format_exc()}")
        for f in failures:
            log(f"{tag}: {f}")
        rec["heap_mb"] = heap_peak_mb(spark)
        if self.memory:
            rec["peak_mb"] = self.memory.take()
        return rec

    def cycles(self, spark, n: int = CYCLES, prefix: str = "b", resume: bool = True) -> list[dict]:
        out = []
        for i in range(n):
            c0 = time.time()
            rec = self.cycle(spark, f"{prefix}{i}", resume)
            rec["cycle_s"] = time.time() - c0
            out.append(rec)
        return out


def warmup_builder(spec: dict) -> Builder:
    """A small input of the workload's shape (seed 0)."""
    return Builder(dict(spec, turns=WARMUP_TURNS, entities=min(spec["entities"], 1_500)), 0)


def warm_up(spark, warm: Builder) -> None:
    """One untimed build of the small warm-up input: pays for JVM start-up,
    cold code generation and the Python workers before the timed builds.
    A second one would cost about as much as a timed build (its fixed Spark
    cost dominates), which the run's time budget has no room for."""
    rec = warm.cycle(spark, "warmup", resume=False)
    if not rec["ok"]:
        raise RuntimeError("warm-up build failed")
    log(f"warm-up build {rec['build_s']:.2f}s")


# ---------------------------------------------------------------- metrics


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(setup_s: float, builds: list[dict]) -> tuple[dict, dict]:
    from perfbench.stats import tail

    ok = [b for b in builds if b["ok"]]
    build = [b["build_s"] for b in ok]
    p50, turns = _median(build), _median([b["turns"] for b in ok])
    cpu_p50 = _median([b["build_cpu_s"] for b in ok])
    metrics = {
        "setup_s": (setup_s, "s"),
        "turns_per_cpu_s": (turns / cpu_p50 if cpu_p50 else 0.0, "1/s"),
        "build_cpu_s_p50": (cpu_p50, "s"),
        "triple_precision": (_median([b["precision"] for b in builds if "precision" in b]), "ratio"),
        "triple_recall": (_median([b["recall"] for b in builds if "recall" in b]), "ratio"),
        "peak_rss_mb": (_median([b["peak_mb"] for b in ok]), "MB"),
    }
    # Wall-clock figures go to the report line: on a shared host they follow
    # the other tenants' load (see README), CPU seconds much less.
    extra = {"build_s_p50": p50, "turns_per_s": turns / p50 if p50 else 0.0,
             "build_error_rate": (len(builds) - len(ok)) / len(builds), "builds": len(builds),
             "peak_mb": [round(b.get("peak_mb", -1), 1) for b in builds],
             "heap_mb": [round(b.get("heap_mb", -1), 1) for b in builds]}
    t = tail(build)
    if t is not None:
        extra["build_s_tail"] = {"percentile": t[0], "value": t[1], "samples": t[2]}
    return metrics, extra


STAGE_FIELDS = {"task_s": "s", "cpu_s": "s", "gc_s": "s", "jobs": "count", "tasks": "count",
                "shuffle_mb": "MB", "spill_mb": "MB"}
LAYER_UNITS = {
    "sources.transcripts.scan_rows_per_turn": "ratio",
    "sources.catalog.write_mb": "MB",
    "sources.catalog.files": "count",
    "sources.catalog.resume_s_p50": "s",
    "sources.catalog.resume_reused": "count",
    "sources.catalog.resume_rebuilt": "count",
    "plans.pipeline.spark_jobs": "count",
    "plans.pipeline.other_jobs": "count",
    "plans.pipeline.spark_tasks": "count",
    "plans.pipeline.stage_overlap": "ratio",
    "plans.pipeline.critical_path_s": "s",
    "plans.pipeline.driver_gap_s": "s",
    "plans.pipeline.cpu_util": "ratio",
    "plans.pipeline.heap_peak_mb": "MB",
    "plans.pipeline.traced_build_s_p50": "s",
    "plans.pipeline.trace_overhead_s": "s",
    "operators.fuzzy.candidate_pairs": "count",
    "operators.fuzzy.verified_pairs": "count",
    "operators.fuzzy.verify_yield": "ratio",
}
for _stage, _layer in STAGE_LAYER.items():
    LAYER_UNITS[f"{_layer}.{_stage}.span_s"] = "s"
    for _f, _u in STAGE_FIELDS.items():
        LAYER_UNITS[f"{_layer}.{_stage}.{_f}"] = _u
    LAYER_UNITS[f"{_layer}.{_stage}.rows_out"] = "count"


def traced_build_row(b: dict, spans: dict, acc: dict, ev: dict, cores: int) -> dict:
    """Per-layer figures of one traced build."""
    from perfbench.eventlog import OTHER

    row = {}
    for stage, layer in STAGE_LAYER.items():
        key, g = f"{layer}.{stage}", ev.get(stage, {})
        row[f"{key}.span_s"] = spans[stage][1] - spans[stage][0]
        for f in STAGE_FIELDS:
            row[f"{key}.{f}"] = g.get(f, 0)
        row[f"{key}.rows_out"] = b["rows"][stage]
    total = lambda f: sum(g[f] for g in ev.values())  # noqa: E731
    row.update({
        # cells and mentions are the stages that scan the transcripts
        "sources.transcripts.scan_rows_per_turn": sum(
            ev.get(g, {}).get("input_records", 0) for g in ("cells", "mentions")) / b["turns"],
        "sources.catalog.write_mb": b["write_mb"],
        "sources.catalog.files": b["files"],
        "sources.catalog.resume_reused": b["resume_reused"],
        "sources.catalog.resume_rebuilt": b["resume_rebuilt"],
        "plans.pipeline.spark_jobs": total("jobs"),
        "plans.pipeline.other_jobs": ev.get(OTHER, {}).get("jobs", 0),
        "plans.pipeline.spark_tasks": total("tasks"),
        "plans.pipeline.stage_overlap": acc["stage_overlap"],
        "plans.pipeline.critical_path_s": acc["critical_path_s"],
        "plans.pipeline.driver_gap_s": acc["driver_gap_s"],
        "plans.pipeline.cpu_util": total("cpu_s") / (acc["wall_s"] * cores),
    })
    return row


def per_layer(rec: SpanRecorder, traced: list[dict], untraced: list[dict],
              events: dict, cores: int, fuzzy_counts: dict) -> tuple[dict, list[str]]:
    """Per-layer metrics, medians over the traced builds, and a list of
    accounting violations (empty when, for every build, the stage spans lie
    inside the build and they plus its driver gap add up to its wall)."""
    from perfbench.stats import build_accounting

    rows, problems = [], []
    for b in (b for b in traced if b["ok"]):
        spans = rec.of(b["tag"])
        acc = build_accounting(b["build_start"], b["build_end"], spans)
        inside = all(b["build_start"] <= s <= e <= b["build_end"] for s, e in spans.values())
        if (set(spans) != set(STAGE_LAYER) or not inside
                or abs(acc["covered_s"] + acc["driver_gap_s"] - acc["wall_s"]) > 1e-6):
            problems.append(f"{b['tag']}: stage spans do not account for the build wall")
            continue
        rows.append(traced_build_row(b, spans, acc, events.get(b["tag"], {}), cores))
    values = {k: _median([r[k] for r in rows]) for k in (rows[0] if rows else {})}
    traced_p50 = _median([b["build_s"] for b in traced if b["ok"]])
    values["plans.pipeline.heap_peak_mb"] = _median([b["heap_mb"] for b in traced if b["ok"]])
    values["sources.catalog.resume_s_p50"] = _median([b["resume_s"] for b in traced if b["ok"]])
    cand, ver = fuzzy_counts["candidate_pairs"], fuzzy_counts["verified_pairs"]
    values.update({
        "plans.pipeline.traced_build_s_p50": traced_p50,
        # the first untraced build still carries most of the JIT warm-up
        "plans.pipeline.trace_overhead_s":
            traced_p50 - _median([b["build_s"] for b in untraced[1:] if b["ok"]]),
        "operators.fuzzy.candidate_pairs": cand,
        "operators.fuzzy.verified_pairs": ver,
        "operators.fuzzy.verify_yield": ver / cand if cand else 0.0,
    })
    return {k: (values.get(k, 0.0), u) for k, u in LAYER_UNITS.items()}, problems


def fuzzy_pair_counts(spark, cells_dir: str) -> dict:
    """Candidate and verified pair counts of the fuzzy tier over the
    materialized facts of one build."""
    from mannheimsearchjoinsengine_spark.operators.canonical import minhash_candidate_pairs
    from mannheimsearchjoinsengine_spark.operators.fuzzy import lsh_verified_pairs

    labels = spark.read.parquet(cells_dir).select("subj_norm")
    return {
        "candidate_pairs": minhash_candidate_pairs(labels.distinct()).count(),
        "verified_pairs": lsh_verified_pairs(labels).count(),
    }


# ---------------------------------------------------------------- modes


def _result(correct: bool, builds: list[dict], metrics: dict) -> dict:
    return {
        "correct": correct,
        "attempted": len(builds),
        "failed": sum(not b["ok"] for b in builds),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def run_timed(workload: str, seed: int, cores: int) -> dict:
    from pyspark import SparkContext

    spec = WORKLOADS[workload]
    warm, builder = warmup_builder(spec), Builder(spec, seed)
    t0 = time.time()
    spark = start_session(cores)
    builder.memory = mem = PeakMemory(SparkContext._gateway.proc.pid)
    mem.start()
    try:
        warm_up(spark, warm)
        setup_s = time.time() - t0
        log(f"setup {setup_s:.2f}s")
        ticks = cpu_ticks()
        builds = builder.cycles(spark, BUILDS, resume=False)
        steal = steal_share(ticks)
    finally:
        mem.stop()
        spark.stop()
        stop_jvm()
    metrics, extra = end_to_end(setup_s, builds)
    report(workload, seed, builds, dict(extra, cpu_steal=round(steal, 4)))
    return _result(all(b["ok"] for b in builds), builds, metrics)


def run_traced(workload: str, seed: int, cores: int) -> dict:
    """CYCLES untraced builds, then a fresh SparkContext with the event log
    on and CYCLES cycles (build and resume) with the stage spans recorded.
    The traced build
    median minus the untraced one, first untraced build left out, is the
    tracing overhead. The JIT and the generated-code cache live in the JVM,
    which keeps running, so the traced context gets no warm-up build: that
    keeps the run well inside its three minutes."""
    from perfbench.eventlog import aggregate, read_events

    spec = WORKLOADS[workload]
    rec = SpanRecorder()
    warm, builder = warmup_builder(spec), Builder(spec, seed)
    spark = start_session(cores)
    ev_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(ev_dir, ignore_errors=True)
    try:
        warm_up(spark, warm)
        untraced = builder.cycles(spark, prefix="u", resume=False)
        spark.stop()
        spark = start_session(cores, event_log=ev_dir)
        builder.recorder = rec
        with rec.installed():
            traced = builder.cycles(spark, prefix="t")
        counts = fuzzy_pair_counts(spark, os.path.join(LEDGER, "cells"))
    finally:
        spark.stop()
        stop_jvm()
    windows = {b["tag"]: (b["build_start"], b["build_end"]) for b in traced if b["ok"]}
    events = aggregate(read_events(ev_dir), windows)
    write_spans(rec, workload, seed)
    metrics, problems = per_layer(rec, traced, untraced, events, cores, counts)
    for p in problems:
        log(p)
    builds = untraced + traced
    report(workload, seed, builds, {"traced_builds": len(traced), "untraced_builds": len(untraced)})
    return _result(all(b["ok"] for b in builds) and not problems, builds, metrics)


def write_spans(rec: SpanRecorder, workload: str, seed: int) -> None:
    out = os.path.join(WORK, "trace", f"spans_{workload}_s{seed}.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        for s in rec.spans:
            f.write(json.dumps(s) + "\n")


def run_smoke(cores: int) -> dict:
    """Each workload once at SMOKE_TURNS turns, in one session."""
    smoke = {name: Builder(dict(spec, turns=SMOKE_TURNS, entities=min(spec["entities"], 1_500)), 1)
             for name, spec in WORKLOADS.items()}
    spark = start_session(cores)
    builds = []
    try:
        for name, b in smoke.items():
            rec = b.cycle(spark, f"smoke_{name}")
            log(f"smoke {name}: ok={rec['ok']} build {rec.get('build_s', 0):.2f}s "
                f"P={rec.get('precision')} R={rec.get('recall')}")
            builds.append(rec)
    finally:
        spark.stop()
        stop_jvm()
    wall = _median([b["build_s"] for b in builds if b["ok"]])
    return _result(all(b["ok"] for b in builds), builds, {"build_s_p50": (wall, "s")})


def report(workload: str, seed: int, builds: list[dict], extra: dict) -> None:
    """A line of run context before the result line: host, sizes, per-build
    times and the figures the result line has no room for."""
    spec = WORKLOADS[workload]
    print(json.dumps({"report": {
        "workload": workload, "seed": seed, "host": host_info(), "driver_memory": DRIVER_MEM,
        **spec,
        "build_s": [round(b.get("build_s", -1), 3) for b in builds],
        "resume_s": [round(b["resume_s"], 3) for b in builds if "resume_s" in b],
        "cycle_s": [round(b.get("cycle_s", -1), 3) for b in builds],
        "build_cpu_s": [round(b.get("build_cpu_s", -1), 3) for b in builds],
        **extra,
    }}), flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24,
                    help="ignored: a run makes a fixed number of builds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="each workload once at ~2k turns")
    args = ap.parse_args(argv)
    t0 = time.time()
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke")
    try:
        import pyspark  # noqa: F401

        from mannheimsearchjoinsengine_spark.plans import pipeline  # noqa: F401
    except ImportError as e:
        log(f"cannot import the pipeline from {ROOT}: {e}")
        return 2
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    cores = host_info()["nproc"]
    try:
        if args.smoke:
            result = run_smoke(cores)
        elif args.trace:
            result = run_traced(args.workload, args.seed, cores)
        else:
            result = run_timed(args.workload, args.seed, cores)
    finally:
        for d in ("ledger", "spark-local", "warehouse", "eventlog", "tmp"):
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    log(f"run wall {time.time() - t0:.1f}s")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
