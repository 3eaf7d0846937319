"""Layered benchmark of the dedup pipeline.

One client in a closed loop against one driver process at local[4]:
each iteration starts only after the previous one has finished and its
outputs have been checked against an exact oracle. Run from the root of
a checkout:

    python3 perfbench/run.py --workload pipeline_mixed --seed 1 --seconds 14 --trace 0

``--trace 0`` times untraced iterations and reports the end-to-end
metrics. ``--trace 1`` alternates untraced and traced iterations and
reports the per-layer metrics (see perfbench/README.md). The last line
of standard output is one JSON object; a failed check exits 1.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager, nullcontext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
CORES = 4
# Untimed iterations before measuring; the first one pays JIT compilation
# and Python worker start-up (about twice a later iteration's wall). A
# delta_ingest iteration is short, and its CPU time keeps falling for three
# iterations (22, 17, 14, then 12 s), so it warms up three times.
WARMUPS = {"pipeline_mixed": 1, "delta_ingest": 3}
WORKLOADS = ("pipeline_mixed", "delta_ingest")
E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "images_per_s": "rows/s", "cpu_s": "s",
    "core_util": "ratio", "peak_rss_mb": "MB", "dup_pair_recall": "ratio",
    "cocluster_recall": "ratio",
}


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _hermetic_env(work: str) -> dict:
    """Keep every file the run writes inside the checkout, and let the
    program's own defaults apply instead of SPARK_GRAFT_* overrides."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    pins = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # JVM temp files and hsperfdata default to /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(pins)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile
    tempfile.tempdir = None
    return pins


# run_pipeline's stage names -> the operator span each one opens
STAGE_SPANS = {"signatures": "operators.signatures", "candidates": "operators.lsh",
               "verified": "operators.verify", "clusters": "operators.cluster"}


def _span(tr, name: str, it: int):
    return nullcontext({}) if tr is None else tr.span(name, it)


@contextmanager
def _stage_spans(tr, it: int):
    """Open an operator span around each stage run_pipeline runs, by
    wrapping plans.pipeline._stage for the duration of one call (a no-op
    when untraced)."""
    from datasketches_java_spark.plans import pipeline
    if tr is None:
        yield
        return
    orig = pipeline._stage

    def stage(spark, root, name, build, metrics, **kw):
        with tr.span(STAGE_SPANS[name], it) as s:
            df = orig(spark, root, name, build, metrics, **kw)
            s["rows_out"] = metrics[f"{name}_rows"]
        return df

    pipeline._stage = stage
    try:
        yield
    finally:
        pipeline._stage = orig


class PipelineMixed:
    """run_pipeline with audits over the mixed corpus; materialises the
    boundary ``verified`` and ``clusters`` tables and the audit table."""

    def __init__(self, spark, paths):
        import pandas as pd
        self.spark = spark
        self.dir = paths["mixed"]
        self.light = pd.read_parquet(os.path.join(self.dir, "light.parquet"))
        self.golden = pd.read_parquet(os.path.join(self.dir, "golden.parquet"))
        self.captions = self.light.set_index("image_id")["caption"]
        self.rows = len(self.light)
        self.digests: dict = {}

    def scan(self):
        from datasketches_java_spark.sources import tables
        self.corpus = tables.load_corpus_dir(self.spark, os.path.join(self.dir, "corpus"))
        if self.corpus.count() != self.rows:
            raise RuntimeError("corpus row count disagrees with the generator")

    def build_state(self):
        pass

    def before(self, it):
        pass

    def run(self, it, tr=None):
        """The same calls traced or not; a traced iteration adds spans."""
        from datasketches_java_spark.config import FROZEN
        from datasketches_java_spark.plans.pipeline import run_pipeline
        with _span(tr, "plans.pipeline.run_pipeline", it), _stage_spans(tr, it):
            res = run_pipeline(self.spark, self.corpus, FROZEN, with_audits=True)
            out = {"verified": res.verified.toPandas(),
                   "clusters": res.clusters.toPandas()}
        with _span(tr, "operators.audits", it) as s:
            out["audits"] = res.audits.toPandas()
            s["rows_out"] = len(out["audits"])
        return out

    def check(self, it, out):
        from perfbench import oracle
        errs = oracle.check_partition(out["clusters"], self.light["image_id"])
        recall, co, n_gold = oracle.recalls(self.golden, out["verified"], out["clusters"])
        in_bounds, n_aud = oracle.audit_in_bounds(out["audits"], out["clusters"], self.captions)
        if recall < oracle.RECALL_FLOOR:
            errs.append(f"dup_pair_recall {recall:.4f} < {oracle.RECALL_FLOOR}")
        if in_bounds < oracle.AUDIT_FLOOR:
            errs.append(f"audit_in_bounds {in_bounds:.4f} < {oracle.AUDIT_FLOOR}")
        return errs, "all", oracle.digest(out["verified"], out["clusters"]), {
            "dup_pair_recall": recall, "cocluster_recall": co, "golden_pairs": n_gold,
            "audit_in_bounds": in_bounds, "audited_clusters": n_aud,
            "verified_pairs": len(out["verified"]),
        }

    def kernel_inputs(self):
        return self.light, self.golden


class DeltaIngest:
    """plans.delta.ingest_batch of a fresh batch into a copy of a base
    state built from the mixed corpus; materialises the returned clusters."""

    def __init__(self, spark, paths, work):
        import pandas as pd
        from perfbench.workloads import N_BATCHES
        self.spark = spark
        self.paths = paths
        self.work = work
        self.n_batches = N_BATCHES
        base = pd.read_parquet(os.path.join(paths["mixed"], "light.parquet"))
        self.batch_light = pd.read_parquet(os.path.join(paths["delta"], "light.parquet"))
        self.golden = pd.read_parquet(os.path.join(paths["delta"], "golden.parquet"))
        self.base_ids = list(base["image_id"])
        self.rows = len(self.batch_light) // N_BATCHES
        self.base_state = os.path.join(work, "state_base")
        self.idmap = None
        self.digests: dict = {}

    def scan(self):
        from datasketches_java_spark.sources import tables
        self.base = tables.load_corpus_dir(self.spark, os.path.join(self.paths["mixed"], "corpus"))
        self.batches = [
            tables.load_corpus_dir(self.spark, os.path.join(self.paths["delta"], f"batch{j}"))
            for j in range(self.n_batches)]
        n = self.base.count() + sum(b.count() for b in self.batches)
        if n != len(self.base_ids) + len(self.batch_light):
            raise RuntimeError("corpus row count disagrees with the generator")

    def build_state(self):
        from datasketches_java_spark.plans.delta import ingest_batch
        ingest_batch(self.spark, self.base_state, self.base, compute_clusters=False)

    def before(self, it):
        self.state = os.path.join(self.work, "state_iter")
        shutil.rmtree(self.state, ignore_errors=True)
        shutil.copytree(self.base_state, self.state)

    def run(self, it, tr=None):
        """A traced iteration splits ingest_batch into its two public
        halves, which is what ingest_batch does by default."""
        from datasketches_java_spark.plans.delta import ingest_batch, state_clusters
        if tr is None:
            cl = ingest_batch(self.spark, self.state, self.batches[it % self.n_batches])
            return {"clusters": cl.toPandas()}
        with tr.span("plans.delta.ingest", it):
            ingest_batch(self.spark, self.state, self.batches[it % self.n_batches],
                         compute_clusters=False)
        with tr.span("plans.delta.state_clusters", it):
            return {"clusters": state_clusters(self.spark, self.state).toPandas()}

    def check(self, it, out):
        from datasketches_java_spark.operators.signatures import id_map
        from datasketches_java_spark.plans.delta import read_state
        from perfbench import oracle
        j = it % self.n_batches
        if self.idmap is None:   # id64 -> image_id, through the program's own keying
            corpora = self.base
            for b in self.batches:
                corpora = corpora.unionByName(b)
            m = id_map(corpora).toPandas()
            self.idmap = dict(zip(m["id64"], m["image_id"]))
        edges = read_state(self.spark, self.state)[1].select("id_a", "id_b").toPandas()
        pairs = oracle.name_pairs(edges, self.idmap)
        ids = set(self.base_ids) | set(
            self.batch_light["image_id"][self.batch_light["image_id"].str.startswith(f"d{j}_")])
        golden = self.golden[self.golden["id_a"].isin(ids) & self.golden["id_b"].isin(ids)]
        errs = oracle.check_partition(out["clusters"], ids)
        if pairs.isna().any().any():
            errs.append("state holds edges for unknown ids")
        recall, co, n_gold = oracle.recalls(golden, pairs, out["clusters"])
        if recall < oracle.RECALL_FLOOR:
            errs.append(f"dup_pair_recall {recall:.4f} < {oracle.RECALL_FLOOR}")
        return errs, f"batch{j}", oracle.digest(pairs, out["clusters"]), {
            "dup_pair_recall": recall, "cocluster_recall": co, "golden_pairs": n_gold,
            "state_edges": len(pairs),
        }

    def kernel_inputs(self):
        return self.batch_light, self.golden


def _session(pins: dict):
    from datasketches_java_spark.session import get_spark
    conf = {
        "spark.driver.memory": "2g",   # fits a 15 GB host shared with others
        # a fixed heap, faulted in at JVM start: the first timed iterations
        # otherwise take ~200k first-touch page faults the later ones do not
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
        "spark.local.dir": pins["SPARK_LOCAL_DIRS"],
    }
    spark = get_spark(app="perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, conf


def _stop(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()   # the JVM exits when its stdin closes
            proc.wait(timeout=60)


def _iterate(wl, it, tree, heap, tracer, record):
    """One closed-loop step: untimed preparation, timed run, untimed check."""
    from perfbench.probes import host_snapshot
    wl.spark.catalog.clearCache()
    wl.before(it)
    # collect the previous iteration's garbage here rather than inside the timed run
    wl.spark.sparkContext._jvm.System.gc()
    gc.collect()
    rec = {"iteration": it, "traced": tracer is not None, "host_pre": host_snapshot()}
    tree.reset_peak()
    heap.reset_peak()
    cpu0, faults0 = tree.cpu_s(), tree.faults()
    t0 = time.perf_counter()
    w0 = w1 = time.time()
    try:
        out = wl.run(it, tracer)
        rec["wall_s"] = time.perf_counter() - t0
        w1 = time.time()
        rec["cpu_s"] = tree.cpu_s() - cpu0
        rec["page_faults"] = tree.faults() - faults0
        rec["peak_rss_mb"] = tree.peak_bytes() / 2 ** 20
        rec["old_gen_peak_mb"] = heap.old_gen_peak_mb()
        rec["host_post"] = host_snapshot()
        rec["steal_share"] = ((rec["host_post"]["steal_s"] - rec["host_pre"]["steal_s"])
                              / (rec["wall_s"] * (os.cpu_count() or 1)))
        errs, key, d, quality = wl.check(it, out)
        rec.update(quality)
        rec["digest"] = d
        if wl.digests.setdefault(key, d) != d:
            errs.append(f"output digest for {key} changed between iterations")
        rec["errors"] = errs
    except Exception:  # a failed iteration is counted, the loop goes on
        rec["errors"] = [traceback.format_exc()]
    if tracer is not None:
        rec["span"] = {"name": "iteration", "iteration": it, "parent": None,
                       "start": w0, "end": w1}
    record.append(rec)
    return rec


def main(argv=None) -> int:
    args = _parse_args(argv)
    sys.path.insert(0, ROOT)
    # fails here, before any output, when the program is not beside us
    from perfbench import layers, workloads
    from perfbench.probes import JvmHeap, ProcTree, Tracer

    work = os.path.join(OUT, "work", str(os.getpid()))
    pins = _hermetic_env(work)
    tree = spark = None
    records: list[dict] = []
    try:
        paths, gen_s = workloads.prepare(args.workload, os.path.join(OUT, "cache"),
                                         args.seed)
        tree = ProcTree().start()
        t0 = time.perf_counter()
        spark, conf = _session(pins)
        session_s = time.perf_counter() - t0
        heap = JvmHeap(spark)
        wl = (PipelineMixed(spark, paths) if args.workload == "pipeline_mixed"
              else DeltaIngest(spark, paths, work))
        phases = {"import_s": t0 - T_START - gen_s, "session_s": session_s}
        for name, step in (("scan_s", wl.scan), ("state_s", wl.build_state)):
            t = time.perf_counter()
            step()
            phases[name] = time.perf_counter() - t
        warmups = WARMUPS[args.workload]
        for it in range(warmups):
            warm = _iterate(wl, it, tree, heap, None, records)
            phases[f"warmup{it}_s"] = warm.get("wall_s", 0.0)
        setup_s = sum(phases.values())

        tracer = Tracer(spark, tree) if args.trace else None
        t_loop = time.perf_counter()
        n = 0   # timed iterations; a traced run alternates untraced/traced
        while n < (2 if tracer else 1) or time.perf_counter() - t_loop < args.seconds:
            traced = tracer if n % 2 else None
            _iterate(wl, warmups + n, tree, heap, traced, records)
            n += 1
        kernels = {}
        if tracer is not None:
            tracer.spark_metrics(tracer.spans)
            light, golden = wl.kernel_inputs()
            kernels = layers.kernel_rates(light, golden, args.seed)
        eff_conf = dict(sorted(spark.sparkContext.getConf().getAll()))
    finally:
        if spark is not None:
            _stop(spark)
        if tree is not None:
            tree.close()
        shutil.rmtree(work, ignore_errors=True)

    timed = [r for r in records[warmups:] if not r["traced"] and "wall_s" in r]
    failed = sum(bool(r["errors"]) for r in records)
    med = lambda key, rs=timed: statistics.median(r[key] for r in rs)  # noqa: E731
    e2e = {}
    if timed:
        wall = med("wall_s")
        e2e = {
            "setup_s": setup_s, "wall_s": wall, "images_per_s": wl.rows / wall,
            "cpu_s": med("cpu_s"), "core_util": med("cpu_s") / (wall * CORES),
            "peak_rss_mb": max(r["peak_rss_mb"] for r in timed),
            "dup_pair_recall": med("dup_pair_recall"),
            "cocluster_recall": med("cocluster_recall"),
        }
    result = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "rows_per_iteration": wl.rows, "cores": CORES, "gen_s": gen_s,
        "setup_phases": phases, "env_pins": pins, "spark_conf_pins": conf,
        "effective_conf": eff_conf, "iterations": records, "end_to_end": e2e,
    }
    if tracer is not None:
        traced = [r for r in records if r["traced"] and not r["errors"]]
        per_iter = []
        for r in traced:
            spans = [s for s in tracer.spans if s["iteration"] == r["iteration"]]
            r["spans"] = [r.pop("span")] + spans
            per_iter.append(layers.span_metrics(spans, CORES))
        extra = dict(kernels)
        if traced:
            extra["trace.traced_wall_s"] = med("wall_s", traced)
            extra["jvm.old_gen_peak_mb"] = med("old_gen_peak_mb", traced)
            if "audit_in_bounds" in traced[0]:
                extra["operators.audits.in_bounds_ratio"] = med("audit_in_bounds", traced)
        if timed:
            extra["trace.untraced_wall_s"] = med("wall_s")
        result["per_layer"] = metrics = layers.summarise(per_iter, extra)
        units = layers.metric_units()
        ok = bool(traced) and bool(timed)
    else:
        metrics, units, ok = e2e, E2E_UNITS, bool(timed)

    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    art = os.path.join(OUT, "results",
                       f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json")
    with open(art, "w") as f:
        json.dump(result, f, indent=1, default=str)
    n = len(timed)
    print(f"workload={args.workload} seed={args.seed} rows/iteration={wl.rows} "
          f"local[{CORES}] closed loop, 1 client; untraced timed iterations={n} "
          f"(timings: median over {n}); traced iterations="
          f"{sum(r['traced'] for r in records)}; host CPU steal "
          f"{statistics.median(r['steal_share'] for r in timed) if timed else 0:.1%} "
          f"(median over timed iterations); inputs generated in {gen_s:.2f} s "
          f"(not in setup_s); session pins: {conf}")
    for name, value in e2e.items():
        print(f"  {name:<18} {value:14.4f} {E2E_UNITS[name]}")
    print(f"  {'failed_ops':<18} {failed / len(records):14.4f} ratio "
          f"({failed} of {len(records)} iterations)")
    for r in records:
        for e in r["errors"]:
            print(f"  iteration {r['iteration']} failed: {e.strip().splitlines()[-1]}")
    if args.trace:
        for name, value in metrics.items():
            print(f"  {name:<44} {value:16.4f} {units[name]}")
    print(f"  artifacts: {os.path.relpath(art, ROOT)}")
    correct = failed == 0 and ok
    print(json.dumps({
        "correct": correct, "attempted": len(records), "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
