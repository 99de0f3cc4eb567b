"""Similarity-join benchmark: seeded record-linkage workloads driven
through the package's public API.

Run from the root of a checkout::

    python3 perfbench/run.py --workload ws_dedup --seed 1 --seconds 15 --trace 0

One Spark driver process runs in local mode with one closed-loop
caller: each op starts when the previous one has finished. An op is
one join call forced by a single aggregate (pair count plus an
order-independent pair hash) followed by ``evaluate()`` against the
ground truth. Every op's pairs are compared with the brute-force
oracle on the same input, computed outside the timed region.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run (spans around each public call,
written to ``.bench_work/``). The last stdout line is the result
object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it holds the run's details (settings, input sizes, samples).
The exit code is 0 only when every op matched its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
sys.path.insert(0, HERE)

from tracing import NoTrace, Tracer  # noqa: E402

# Each op of ws_dedup self-joins the same corpus; each op of
# link_batches links a batch no earlier op has seen against the master.
# Both use whitespace tokens. Sizes keep a run near a minute (README.md).
WORKLOADS = {
    "ws_dedup": {"kind": "self", "threshold": 0.3, "rows": 3000},
    "link_batches": {
        "kind": "link", "threshold": 0.5, "master_rows": 5000,
        "batch_rows": 500, "fresh_frac": 0.25, "batches": 8,
    },
}
SETUP_ROUNDS = 3
# The first ops run while the JIT is still compiling Spark's hot code;
# they are checked but left out of the timing statistics.
WARMUP_OPS = 2
MIN_TIMED_OPS = 3
SHUFFLE_PARTITIONS = 8
# Runs must finish in 180 s; stop starting ops once this much has passed.
WALL_LIMIT_S = 140.0


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def host_settings() -> tuple[dict, dict]:
    """Environment and Spark conf sized for this host, set from
    outside the package (its 48 GB default heap does not fit small
    hosts)."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    # an eighth of RAM, in 256 MB steps, between 1 GB and 2 GB
    mem_mb = max(1024, min(2048, (total_kb // 1024 // 8) // 256 * 256))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(SHUFFLE_PARTITIONS),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        # no hsperfdata files in the system temp dir
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # Poll Spark's memory managers often enough to catch each
        # task's peak; finished tasks carry it to their stage.
        "spark.executor.metrics.pollingInterval": "20ms",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    return env, conf


def import_package():
    """The package of the checkout in the working directory, never an
    installed copy."""
    sys.path.insert(0, ROOT)
    try:
        import jaccard_join_duckdb_spark as pkg
        from jaccard_join_duckdb_spark import sources
    except ImportError as e:
        fail(f"cannot import the package from {ROOT}: {e}")
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        fail(f"package imported from outside the checkout: {pkg.__file__}")
    return pkg, sources


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all cores: the
    per-op figure tells a slow op on a busy host from a slow program."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def quartiles(xs: list[float]) -> dict:
    if len(xs) < 2:
        return {"p25": xs[0], "p50": xs[0], "p75": xs[0], "samples": len(xs)}
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return {"p25": q[0], "p50": q[1], "p75": q[2], "samples": len(xs)}


def f_measure(tp: int, fp: int, fn: int) -> float:
    """evaluate()'s formulas over counts summed across ops."""
    if tp <= 0:
        return 0.0
    pr, rc = tp / (tp + fp), tp / (tp + fn)
    return 2 * pr * rc / (pr + rc)


class Bench:
    def __init__(self, name: str, seed: int, trace: bool):
        self.name, self.seed, self.trace = name, seed, trace
        self.cfg = WORKLOADS[name]
        self.dir = os.path.join(WORK, f"{name}-{seed}")

    # -- inputs ----------------------------------------------------------
    def generate(self) -> dict:
        import gen

        ref = gen.load_refscale(ROOT)
        shutil.rmtree(self.dir, ignore_errors=True)
        c = self.cfg
        if c["kind"] == "self":
            info = gen.write_dedup(ref, self.seed, self.name, c["rows"], self.dir)
        else:
            info = gen.write_link(ref, self.seed, c["master_rows"],
                                  c["batches"], c["batch_rows"],
                                  c["fresh_frac"], self.dir)
        self.paths = info["paths"]
        return info["stats"]

    # -- set-up ----------------------------------------------------------
    def start(self, pkg, sources, conf: dict) -> None:
        self.pkg, self.sources = pkg, sources
        t0 = time.perf_counter()
        self.spark = pkg.get_spark(app_name="perfbench", extra_conf=conf)
        self.get_spark_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.tokenizer = pkg.WhitespaceTokzr()
        resident = ["corpus", "gt"] if self.cfg["kind"] == "self" else ["master"]
        self.load_s, self.resident = [], {}
        for _ in range(SETUP_ROUNDS):
            for df in self.resident.values():
                df.unpersist(blocking=True)
            t0 = time.perf_counter()
            self.resident = {k: self._load(self.paths[k]) for k in resident}
            self.load_s.append(time.perf_counter() - t0)

    def _load(self, path: str):
        df = self.sources.read_parquet(self.spark, path).cache()
        df.count()
        return df

    def release(self, inp: dict) -> None:
        """Reset the cache between ops, outside the timed region.

        ws_dedup repeats one self-join, so whatever its last call left
        cached would serve the next one: the cache is cleared and the
        resident inputs cached again. link_batches drops only the batch
        and ground truth the benchmark loaded; what the program itself
        left cached stays, as it would in a session serving a stream of
        batches (its persisted master tokens serve the next call)."""
        if self.cfg["kind"] == "self":
            self.spark.catalog.clearCache()
            for df in self.resident.values():
                df.cache().count()
        else:
            inp["batch"].unpersist(blocking=True)
            inp["gt"].unpersist(blocking=True)

    def cached_bytes(self) -> int:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(int(i.memSize()) for i in infos)

    def inputs(self, k: int) -> dict:
        """Op ``k``'s inputs: the corpus, or batch ``k`` with its
        ground truth (loaded and cached outside the timed region)."""
        if self.cfg["kind"] == "self":
            return {"key": "corpus", **self.resident}
        return {
            "key": f"batch_{k}",
            "batch": self._load(self.paths["batches"][k]),
            "gt": self._load(self.paths["gts"][k]),
            "master": self.resident["master"],
        }

    def max_ops(self) -> int | None:
        return None if self.cfg["kind"] == "self" else self.cfg["batches"]

    # -- the op and its oracle -------------------------------------------
    def _digest(self, sj):
        """One action over the join output: pair count and an
        order-independent hash of the unordered pairs."""
        from pyspark.sql import functions as F

        l, r = sj.columns[:2]
        row = sj.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(F.least(l, r), F.greatest(l, r))
                  .cast("decimal(38,0)")).alias("h"),
        ).first()
        return int(row["n"]), int(row["h"] or 0)

    def _join(self, inp: dict, brute: bool = False):
        p, t, tok = self.pkg, self.cfg["threshold"], self.tokenizer
        if self.cfg["kind"] == "self":
            if brute:
                return p.jaccard_self_join_brute_force(
                    inp["corpus"], "id", "val", tok, t, persist=False)
            return p.jaccard_self_join(inp["corpus"], "id", "val", tok, t)
        fn = p.jaccard_inner_join_brute_force if brute else p.jaccard_inner_join
        return fn(inp["batch"], inp["master"], "id", "id", "val", "val", tok, t)

    def compute_oracles(self) -> None:
        """Brute-force pair digests of every op input, in one join per
        workload: the corpus, or all batches against the master at
        once, split by batch afterwards (batch ``k`` owns the ids
        ``master_rows + k*batch_rows ...``)."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        c = self.cfg
        if c["kind"] == "self":
            self.oracles = {"corpus": self._digest(
                self._join(self.resident, brute=True))}
        else:
            batches = self.spark.read.parquet(*self.paths["batches"])
            bf = self._join({"batch": batches, **self.resident}, brute=True)
            l, r = bf.columns[:2]
            rows = bf.groupBy(
                ((F.col(l) - c["master_rows"]) / c["batch_rows"]).cast("int").alias("b")
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(F.least(l, r), F.greatest(l, r))
                      .cast("decimal(38,0)")).alias("h"),
            ).collect()
            self.oracles = {f"batch_{b}": (0, 0) for b in range(c["batches"])}
            self.oracles.update(
                {f"batch_{x['b']}": (int(x["n"]), int(x["h"])) for x in rows})
        self.oracle_s = time.perf_counter() - t0

    def op(self, k: int, inp: dict, tracer) -> tuple[float, tuple[int, int], dict]:
        t0 = time.perf_counter()
        with tracer.span("op", op=k):
            with tracer.span("operators.jaccard.join") as s:
                sj = self._join(inp)
                got = self._digest(sj)
            s["counts"]["output_pairs"] = got[0]
            with tracer.span("operators.evaluate.evaluate"):
                ev = self.pkg.evaluate(inp["gt"], sj)
        return time.perf_counter() - t0, got, ev

    def check(self, k: int, got: tuple[int, int], inp: dict) -> bool:
        want = self.oracles[inp["key"]]
        if got != want:
            print(f"perfbench: ORACLE MISMATCH op {k} on {inp['key']}: "
                  f"{got[0]} pairs (hash {got[1]}), brute force "
                  f"{want[0]} pairs (hash {want[1]})", file=sys.stderr)
        return got == want

    def layer_probes(self, k: int, inp: dict, tracer) -> None:
        """Standalone tokenize, doc-frequency and brute-force calls on
        op ``k``'s input, each forced by an action, to split the join's
        time and price the filter. They run just before the op, in the
        cache state it will meet: frames the probes cache are dropped
        again before the brute-force call, and a token frame the
        program already holds cached (link_batches' master tokens) is
        used as it is, never dropped."""
        sides = ([inp["corpus"]] if self.cfg["kind"] == "self"
                 else [inp["batch"], inp["master"]])
        own = []
        with tracer.span("tokenizers.tokenize", op=k) as s:
            toks = [self.tokenizer.tokenize(df, "id", "val") for df in sides]
            for t in toks:
                level = t.storageLevel
                if not (level.useMemory or level.useDisk):
                    own.append(t.persist())
            s["counts"]["token_rows"] = sum(t.count() for t in toks)
        union = toks[0] if len(toks) == 1 else toks[0].unionByName(toks[1])
        stats: dict = {}
        with tracer.span("operators.jaccard.tokens_with_doc_freq", op=k) as s:
            self.pkg.tokens_with_doc_freq(
                union, hot_df_threshold="auto", stats_out=stats).count()
        s["counts"]["max_df"] = stats["max_df"]
        s["counts"]["vocab"] = stats["dfreq"].count()
        for df in [*own, stats["dfreq"]]:
            df.unpersist(blocking=True)
        with tracer.span("operators.jaccard.brute_force", op=k):
            self._digest(self._join(inp, brute=True))

    # -- the closed loop -------------------------------------------------
    def run_ops(self, seconds: float, t_start: float) -> list[dict]:
        """Ops run back to back until the summed wall time of the timed
        ops reaches ``seconds`` (link_batches also stops when its
        batches run out). The first ``WARMUP_OPS`` ops are checked but
        not timed. In a traced run every second timed op is traced."""
        self.tracer = Tracer(self.sc) if self.trace else NoTrace()
        self.compute_oracles()
        quiet = NoTrace()
        records, timed, k = [], 0.0, 0
        while True:
            warmup = k < WARMUP_OPS
            traced = self.trace and not warmup and (k - WARMUP_OPS) % 2 == 1
            rec = {"k": k, "warmup": warmup, "traced": traced, "ok": False}
            t0 = time.perf_counter()
            inp = None
            try:
                inp = self.inputs(k)
                if traced:
                    self.layer_probes(k, inp, self.tracer)
                before = self.cached_bytes()
                steal0 = host_steal_s()
                if not traced:  # a traced op's spans set their own groups
                    self.sc.setJobGroup(f"op-{k}", "op")
                rec["wall"], got, ev = self.op(k, inp, self.tracer if traced else quiet)
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                rec["steal_s"] = host_steal_s() - steal0
                rec["cached_mb"] = (self.cached_bytes() - before) / 1e6
                rec.update(pairs=got[0], tp=ev["tp"], fp=ev["fp"], fn=ev["fn"])
                rec["ok"] = self.check(k, got, inp)
            except Exception:
                traceback.print_exc()
                rec.setdefault("wall", time.perf_counter() - t0)
            if inp is not None:
                self.release(inp)
            records.append(rec)
            timed += 0.0 if warmup else rec["wall"]
            k += 1
            n_timed = k - WARMUP_OPS
            enough = timed >= seconds and n_timed >= MIN_TIMED_OPS + self.trace
            if (enough or k == self.max_ops()
                    or time.perf_counter() - t_start > WALL_LIMIT_S):
                return records

    def stage_peaks_mb(self) -> dict[int, float]:
        """Per stage run so far: the peak on-heap memory Spark's unified
        memory manager held for execution (sorts, aggregations, hash
        joins) plus storage (cached blocks) while it ran."""
        jvm = self.spark._jvm
        stages = self.sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        out = {}
        for i in range(stages.size()):
            st = stages.apply(i)
            peak = st.peakExecutorMetrics()
            if peak.isDefined():
                out[st.stageId()] = peak.get().getMetricValue("OnHeapUnifiedMemory") / 1e6
        return out

    def record_op_peaks(self, records: list[dict]) -> None:
        """Set ``peak_mb`` of every untraced op: the highest peak among
        the stages of the op's own jobs (its job group)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        peaks = self.stage_peaks_mb()
        tracker = self.sc.statusTracker()
        for r in records:
            if r["traced"]:
                continue
            stages = [s for j in tracker.getJobIdsForGroup(f"op-{r['k']}")
                      for s in tracker.getJobInfo(j).stageIds]
            r["peak_mb"] = max((peaks.get(s, 0.0) for s in stages), default=0.0)

    def peak_rss_gb(self) -> float:
        """Peak resident memory of the driver JVM. The package pins the
        initial heap to the maximum, so this mostly reads back the
        configured heap; it goes to the details line only."""
        with open(f"/proc/{self.jvm_pid}/status") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("VmHWM:"))
        return kb / 2**20

    def stop(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    # -- metrics ---------------------------------------------------------
    def records_per_op(self) -> int:
        c = self.cfg
        return c["rows"] if c["kind"] == "self" else c["batch_rows"]

    def end_to_end(self, records: list[dict]) -> dict:
        timed = [r for r in records if not r["warmup"]]
        op_s = statistics.median(r["wall"] for r in timed)
        engine_mb = statistics.median(r["peak_mb"] for r in timed)
        ok = [r for r in records if r["ok"]]
        tp, fp, fn = (sum(r[x] for r in ok) for x in ("tp", "fp", "fn"))
        return {
            "setup_s": (self.get_spark_s + statistics.median(self.load_s), "s"),
            "op_s_p50": (op_s, "s"),
            "records_per_s": (self.records_per_op() / op_s, "1/s"),
            "f_measure": (f_measure(tp, fp, fn), "ratio"),
            "ok_op_share": (sum(r["ok"] for r in records) / len(records), "ratio"),
            "peak_engine_mb": (engine_mb, "MB"),
        }

    def per_layer(self, records: list[dict]) -> dict:
        tr = self.tracer
        med = statistics.median

        def count(span: str, key: str) -> float:
            return med(s["counts"][key] for s in tr.of(span))

        traced = [r for r in records if r["traced"]]
        plain = [r for r in records if not r["traced"] and not r["warmup"]]
        tok_s = med(tr.durations("tokenizers.tokenize"))
        df_s = med(tr.durations("operators.jaccard.tokens_with_doc_freq"))
        join_s = med(tr.durations("operators.jaccard.join"))
        brute_s = med(tr.durations("operators.jaccard.brute_force"))
        J = "operators.jaccard."
        return {
            "session.get_spark_s": (self.get_spark_s, "s"),
            "sources.load_s": (med(self.load_s), "s"),
            "tokenizers.tokenize_s": (tok_s, "s"),
            "tokenizers.token_rows": (count("tokenizers.tokenize", "token_rows"), "count"),
            J + "doc_freq_s": (df_s, "s"),
            J + "vocab": (count(J + "tokens_with_doc_freq", "vocab"), "count"),
            J + "max_df": (count(J + "tokens_with_doc_freq", "max_df"), "count"),
            J + "join_s": (join_s, "s"),
            J + "filter_verify_s": (join_s - tok_s - df_s, "s"),
            J + "spark_jobs": (count(J + "join", "spark_jobs"), "count"),
            J + "spark_tasks": (count(J + "join", "spark_tasks"), "count"),
            J + "failed_tasks": (count(J + "join", "failed_tasks"), "count"),
            J + "output_pairs": (count(J + "join", "output_pairs"), "count"),
            J + "brute_force_s": (brute_s, "s"),
            J + "filter_gain": (brute_s / join_s, "ratio"),
            J + "cached_mb": (med(r["cached_mb"] for r in traced), "MB"),
            "operators.evaluate.evaluate_s": (
                med(tr.durations("operators.evaluate.evaluate")), "s"),
            "trace_overhead_s": (
                med(r["wall"] for r in traced) - med(r["wall"] for r in plain), "s"),
        }


def main() -> None:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    env, conf = host_settings()
    os.environ.update(env)
    pkg, sources = import_package()
    b = Bench(args.workload, args.seed, bool(args.trace))
    phases = {}
    t0 = time.perf_counter()
    try:
        stats = b.generate()
    except FileNotFoundError as e:
        fail(f"input generator missing: {e}")
    phases["generate_s"] = time.perf_counter() - t0
    b.start(pkg, sources, conf)
    try:
        t0 = time.perf_counter()
        records = b.run_ops(args.seconds, t_start)
        phases["ops_loop_s"] = time.perf_counter() - t0
        b.record_op_peaks(records)
        rss_gb = b.peak_rss_gb()
        held_mb = b.cached_bytes() / 1e6
        if b.trace:
            b.tracer.resolve()
            b.tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        t0 = time.perf_counter()
        b.stop()
        phases["stop_s"] = time.perf_counter() - t0
    phases["oracle_s"] = b.oracle_s

    metrics = b.per_layer(records) if b.trace else b.end_to_end(records)
    failed = sum(not r["ok"] for r in records)
    timed = [r["wall"] for r in records if not r["warmup"]]
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "settings": {**env, **{k: conf[k] for k in (
                         "spark.ui.enabled", "spark.ui.showConsoleProgress",
                         "spark.executor.metrics.pollingInterval",
                         "spark.driver.extraJavaOptions")},
                     "SPARK_GRAFT_DRIVER_XMS": os.environ.get(
                         "SPARK_GRAFT_DRIVER_XMS", env["SPARK_GRAFT_DRIVER_MEM"]),
                     "master": b.sc.master},
        "inputs": {**b.cfg, **stats},
        "setup": {"get_spark_s": b.get_spark_s, "load_s": b.load_s},
        "phases": phases,
        "cached_mb_at_end": held_mb,
        "peak_rss_gb": rss_gb,
        "op_s": quartiles(timed),
        "ops": [{k: (round(v, 4) if isinstance(v, float) else v)
                 for k, v in r.items()} for r in records],
        "run_wall_s": time.perf_counter() - t_start,
    }
    print(json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
