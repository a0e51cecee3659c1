"""Measurement plumbing shared by the perfbench workloads.

- ``Engine`` owns the Spark session: one JVM per run, a fresh
  SparkContext (so a fresh application id, status store and block
  manager) for every set-up.
- ``Ops`` counts operations attempted and failed; a failed operation is
  never timed.
- ``Fingerprinted`` is an order-insensitive multiset hash of a
  DataFrame, computed by an ``Observation`` on the same action that
  writes it.
- ``Tracer`` keeps spans in memory and computes self time.
- ``pass_engine_metrics`` reads Spark's in-process status store for the
  jobs of one job group.
- ``host_snapshot`` / ``tree_peak_rss_mb`` / ``on_tmpfs`` describe the
  host a run was made on.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import statistics
import sys
import time
import traceback

now = time.perf_counter

PASS_GROUP = "perfbench-pass"


# ------------------------------------------------------------------ host
def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def local_cores() -> int:
    """The N of ``local[N]``: half the cores. The JIT compiler, GC and
    the Python driver keep the other half, so a pass does not wait on
    the scheduler; with all cores as task slots a run's passes drift by
    ~15%, with half they hold within ~3% at about the same pass time."""
    return max(1, cpu_count() // 2)


def host_snapshot() -> dict:
    """1-minute loadavg and the cumulative /proc/stat cpu counters."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return {"loadavg": load1, "steal_ticks": steal, "total_ticks": sum(fields[:8])}


def steal_frac(start: dict, end: dict) -> float:
    total = end["total_ticks"] - start["total_ticks"]
    return (end["steal_ticks"] - start["steal_ticks"]) / total if total > 0 else 0.0


def on_tmpfs(path: str) -> bool:
    """True when the longest mount point containing ``path`` is tmpfs."""
    path = os.path.realpath(path)
    best, fstype = "", ""
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, typ = parts[1], parts[2]
            inside = path == mnt or path.startswith(mnt.rstrip("/") + "/")
            if inside and len(mnt) > len(best):
                best, fstype = mnt, typ
    return fstype == "tmpfs"


def _children(pid: int) -> list[int]:
    out = []
    with contextlib.suppress(OSError):
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    return out


def tree_peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process and its descendants —
    the Python driver plus the JVM it launched."""
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        with contextlib.suppress(OSError):
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        todo += _children(pid)
    return total_kb / 1024.0


def du_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs
    )


# ---------------------------------------------------------------- engine
class Engine:
    """One JVM per run; ``fresh()`` replaces the SparkContext inside it."""

    def __init__(self, work_dir: str, cores: int):
        self.cores = cores
        self.shuffle_partitions = max(2 * cores, 8)
        self.spark = None
        local = os.path.join(work_dir, "spark-local")
        tmp = os.path.join(work_dir, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        # keep Spark's block manager, shuffle files and JVM/Python temp
        # files inside the work directory
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        self.conf = {
            # a fixed, pre-touched heap keeps the JVM's share of the
            # peak RSS constant, so the metric moves with the driver's
            # Python memory and the JVM's off-heap memory
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions":
                f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        }

    def _start(self):
        from didtool_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", cores=self.cores,
            shuffle_partitions=self.shuffle_partitions, extra_conf=self.conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def fresh(self):
        self.stop()
        return self._start()

    def close(self) -> None:
        """Stop the context, then end the JVM and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            with contextlib.suppress(Exception):
                self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            with contextlib.suppress(Exception):
                gw.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ------------------------------------------------------------------- ops
class Ops:
    """Attempted/failed operation counts. Use ``with ops.op(name) as o``;
    an exception or ``o.fail(msg)`` marks the operation failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    @contextlib.contextmanager
    def op(self, name: str):
        rec = _OpRecord(name)
        self.attempted += 1
        try:
            yield rec
        except Exception:
            rec.ok = False
            print(f"perfbench: {name} raised", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
        if not rec.ok:
            self.failed += 1


class _OpRecord:
    def __init__(self, name: str):
        self.name = name
        self.ok = True

    def fail(self, msg: str) -> None:
        self.ok = False
        print(f"perfbench: {self.name} failed verification: {msg}", file=sys.stderr)

    def expect(self, got, want, what: str) -> None:
        if got != want:
            self.fail(f"{what}: got {got!r}, want {want!r}")


# ----------------------------------------------------------- fingerprint
def _normalized(col, dtype):
    """check_oracle-style normalization: floats rounded to 6 dp, applied
    inside arrays and structs too."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return F.round(col, 6)
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _normalized(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[
            _normalized(col.getField(f.name), f.dataType).alias(f.name)
            for f in dtype.fields
        ])
    if isinstance(dtype, T.MapType):
        return _normalized(F.array_sort(F.map_entries(col)), T.ArrayType(
            T.StructType([T.StructField("key", dtype.keyType),
                          T.StructField("value", dtype.valueType)])))
    return col


def fingerprint_exprs(df, sample=None):
    """Row count and the sum of per-row xxhash64 over the columns in
    sorted-name order — equal for two DataFrames holding the same rows
    in any order. With a ``sample`` condition, the same pair again over
    the rows that satisfy it."""
    from pyspark.sql import functions as F

    fields = sorted(df.schema.fields, key=lambda f: f.name)
    row_hash = F.xxhash64(*[_normalized(F.col(f"`{f.name}`"), f.dataType) for f in fields])
    row_hash = row_hash.cast("decimal(38,0)")
    sample = F.lit(True) if sample is None else sample
    return [
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(row_hash), F.lit(0)).alias("fp"),
        F.count(F.when(sample, 1)).alias("sample_rows"),
        F.coalesce(F.sum(F.when(sample, row_hash)), F.lit(0)).alias("sample_fp"),
    ]


class Fingerprinted:
    """Attach a fingerprint observation to ``df``. After the action,
    ``result()`` gives ``[rows, fp]`` and ``sample()`` the same over the
    sampled rows."""

    _ids = itertools.count()

    def __init__(self, df, sample=None):
        from pyspark.sql import Observation

        self.obs = Observation(f"perfbench-fp-{next(self._ids)}")
        self.df = df.observe(self.obs, *fingerprint_exprs(df, sample))

    def result(self) -> list[int]:
        got = self.obs.get
        return [int(got["rows"]), int(got["fp"])]

    def sample(self) -> list[int]:
        got = self.obs.get
        return [int(got["sample_rows"]), int(got["sample_fp"])]


class FingerprintSum:
    """Fingerprint of the union of disjoint outputs (the hash sums add)."""

    def __init__(self, parts: list[Fingerprinted]):
        self.parts = parts

    def result(self) -> list[int]:
        return [sum(x) for x in zip(*(p.result() for p in self.parts))]

    def sample(self) -> list[int]:
        return [sum(x) for x in zip(*(p.sample() for p in self.parts))]


def written_fp(df, sample=None) -> Fingerprinted:
    """Write ``df`` to the noop sink, fingerprinting it on the way."""
    fp = Fingerprinted(df, sample)
    fp.df.write.format("noop").mode("overwrite").save()
    return fp


# ---------------------------------------------------------------- tracer
class Tracer:
    """Spans kept in memory: name, start, end, parent span, pass id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans), "pass": self.pass_id, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": now(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = now()
            self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def pass_spans(self, pass_id) -> list[dict]:
        return [s for s in self.spans if s["pass"] == pass_id]

    def total(self, pass_id, name: str) -> float:
        return sum(
            s["end"] - s["start"] for s in self.pass_spans(pass_id) if s["name"] == name
        )

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, float("-inf")
            for a, b in sorted(kids.get(s["id"], [])):
                a = max(a, cur_end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        by_name: dict[str, dict] = {}
        for s in self.spans:
            agg = by_name.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += s["end"] - s["start"]
            agg["self_s"] += selfs[s["id"]]
        spans = [{**s, "self": selfs[s["id"]]} for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "by_name": by_name, "spans": spans}, f, indent=1, default=str)


@contextlib.contextmanager
def patched(module, name: str, replacement):
    """Swap ``module.name`` for the duration of the block."""
    orig = getattr(module, name)
    setattr(module, name, replacement)
    try:
        yield orig
    finally:
        setattr(module, name, orig)


# ---------------------------------------------------------- status store
def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def pass_engine_metrics(spark, group: str = PASS_GROUP) -> dict:
    """Totals over the stages of every job in ``group`` (this context
    only), from the in-process AppStatusStore."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    job_ids = list(tracker.getJobIdsForGroup(group))
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    m = dict.fromkeys(
        ["tasks", "failed_tasks", "input_bytes", "shuffle_write_bytes",
         "shuffle_read_bytes", "spill_bytes", "executor_run_ms",
         "executor_cpu_ns", "jvm_gc_ms"], 0)
    stages, longest = 0, None
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # never submitted (skipped) — no attempt recorded
            continue
        if str(sd.status()) not in ("COMPLETE", "FAILED"):
            continue
        stages += 1
        m["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        m["failed_tasks"] += sd.numFailedTasks()
        m["input_bytes"] += sd.inputBytes()
        m["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        m["shuffle_read_bytes"] += sd.shuffleReadBytes()
        m["spill_bytes"] += sd.diskBytesSpilled()
        m["executor_run_ms"] += sd.executorRunTime()
        m["executor_cpu_ns"] += sd.executorCpuTime()
        m["jvm_gc_ms"] += sd.jvmGcTime()
        if longest is None or sd.executorRunTime() > longest[1]:
            longest = ((sd.stageId(), sd.attemptId()), sd.executorRunTime())
    skew = 1.0
    if longest is not None:
        (sid, att), _ = longest
        durs = [
            _opt(t.duration(), 0)
            for t in conv.asJava(store.taskList(sid, att, 1_000_000))
        ]
        durs = [d for d in durs if d is not None]
        med = statistics.median(durs) if durs else 0
        skew = max(durs) / med if med > 0 else 1.0
    return {
        "spark.jobs": len(job_ids),
        "spark.stages": stages,
        "spark.tasks": m["tasks"],
        "spark.failed_tasks": m["failed_tasks"],
        "spark.input_bytes": m["input_bytes"],
        "spark.shuffle_write_bytes": m["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": m["shuffle_read_bytes"],
        "spark.spill_bytes": m["spill_bytes"],
        "spark.executor_run_s": m["executor_run_ms"] / 1e3,
        "spark.executor_cpu_s": m["executor_cpu_ns"] / 1e9,
        "spark.jvm_gc_s": m["jvm_gc_ms"] / 1e3,
        "spark.task_skew": skew,
    }


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


class CacheWatch:
    """Peak block-manager storage and persisted-RDD count, sampled after
    each operation of a pass."""

    def __init__(self):
        self.storage_peak = 0
        self.persisted_last = 0

    def sample(self, spark) -> int:
        self.storage_peak = max(self.storage_peak, storage_bytes(spark))
        self.persisted_last = persisted_rdds(spark)
        return self.persisted_last
