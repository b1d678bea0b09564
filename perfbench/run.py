#!/usr/bin/env python3
"""KG-construction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload kg_dedup_knn --seed 1 --seconds 30 --trace 0

Load shape: one process, one client in a closed loop, one full
``plans.pipeline.run_pipeline`` run per operation, on ``local[nproc]``.
An operation is complete when its triples, nodes and edges are all forced;
each one is checked against the first operation's order-independent
digest, and once per run the triples of a seeded sample of conversations
are checked against the reference oracle (precision and recall 1.0).

``--trace 0`` reports the end-to-end metrics of ``perfbench/spec.py``.
``--trace 1`` runs the same set-up, times a few untraced operations, then
runs traced ones (``perfbench/layers.py``) and reports the per-layer
metrics; the per-layer table and the sum of the layer walls next to the
untraced wall go to ``perfbench/out/trace_<workload>.json`` and
``perfbench/out/trace.md``.

Human-readable lines go to stdout first, each starting with ``#``; the
last stdout line is the JSON result. All scratch files (Spark local dirs,
checkpoints, workdirs, temp files) live under ``perfbench/out/`` and are
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

# triple / node / edge keys of the output digest
TRIPLE_KEYS = ("conv_id", "chunk_id", "subj_id", "subj_name", "subj_type",
               "pred", "obj_id", "obj_name", "obj_type")
NODE_KEYS = ("node_id",)
EDGE_KEYS = ("src", "dst", "rel_type", "conv_id")


def info(msg: str) -> None:
    print(f"# {msg}", flush=True)


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_memory_mb() -> int:
    """A sixth of physical memory, between 2 and 8 GiB (the session
    default of 24g exceeds small boxes)."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return min(max(total_kb // 1024 // 6, 2048), 8192)


def start_session(work: str, cpus: int, trace: bool):
    from context_aware_rag_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = driver_memory_mb()
    # the heap is committed and touched up front (-Xms = -Xmx, pre-touch):
    # otherwise its resident size follows the collector's growth
    # heuristics and peak_rss_mb swings by a gigabyte between runs
    conf = {
        "spark.driver.memory": f"{heap}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{heap}m -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={work} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.ui.retainedTasks": "1000000"})
    return build_session(
        app_name="perfbench", master=f"local[{cpus}]",
        shuffle_partitions=cpus, extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark, end the driver JVM and wait for every process under it
    (the Python worker daemon and its workers)."""
    from pyspark import SparkContext

    from perfbench.procmem import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def persisted_ids(spark) -> set:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    ids = set()
    while it.hasNext():
        ids.add(int(it.next()._1()))
    return ids


def settle(spark, keep: set) -> None:
    """Between operations: evict leftover local checkpoints (except the
    corpus) and force a JVM GC, so an operation never pays for the
    previous one's garbage."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        entry = it.next()
        if int(entry._1()) not in keep:
            entry._2().unpersist(True)
    spark.sparkContext._jvm.System.gc()


def digest(df, keys) -> tuple:
    """Order-independent (rows, sum of 64-bit key hashes) of ``df``."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*keys).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


def force_outputs(triples, nodes, edges) -> dict:
    return {
        "triples": digest(triples, TRIPLE_KEYS),
        "nodes": digest(nodes, NODE_KEYS),
        "edges": digest(edges, EDGE_KEYS),
    }


def oracle_check(triples, cfg, seed: int, turns: int) -> tuple:
    """Triple precision/recall of the sampled conversations against
    ``oracle.reference_oracle.run_oracle``."""
    from pyspark.sql import functions as F

    from context_aware_rag_spark.oracle.reference_oracle import run_oracle, triple_prf
    from perfbench import corpus

    sample = corpus.oracle_sample(seed, turns)
    rows = [r for c, n in sample for r in corpus.conversation_rows(c, n)]
    conv_ids = sorted({r[0] for r in rows})
    golden = run_oracle(rows, batch_size=cfg.batch_size,
                        chunk_size=cfg.chunk_size, chunk_overlap=cfg.chunk_overlap)
    produced = [r.asDict() for r in triples.filter(F.col("conv_id").isin(conv_ids)).collect()]
    prec, rec, _ = triple_prf(golden.triples, produced)
    return prec, rec, len(conv_ids)


def quartiles(xs) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def write_trace(workload: str, record: dict) -> None:
    """Per-workload JSON plus a markdown table over every workload traced
    so far in this checkout."""
    from perfbench import spec

    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"trace_{workload}.json"), "w") as f:
        json.dump(record, f, indent=2, sort_keys=True)
    records = {}
    for w in spec.WORKLOADS:
        path = os.path.join(OUT, f"trace_{w.name}.json")
        if os.path.exists(path):
            with open(path) as f:
                records[w.name] = json.load(f)
    names = list(records)
    lines = [
        "# Per-layer trace (medians over traced operations)", "",
        "| workload | untraced wall_s | sum of layer walls (s) | perturbation |",
        "|---|---|---|---|",
    ]
    for n in names:
        r = records[n]
        lines.append(f"| {n} | {r['untraced_wall_s']:.3f} | "
                     f"{r['layer_wall_sum_s']:.3f} | {r['perturbation']:+.1%} |")
    lines += ["", "| metric | unit | " + " | ".join(names) + " |",
              "|---|---|" + "---|" * len(names)]
    for m in spec.per_layer():
        vals = " | ".join(f"{records[n]['layers'][m.name]:.4g}" for n in names)
        lines.append(f"| {m.name} | {m.unit} | {vals} |")
    lines += ["", "Load shape and session: see each trace_<workload>.json."]
    with open(os.path.join(OUT, "trace.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


def run(args) -> dict:
    from context_aware_rag_spark.config import PipelineConfig
    from context_aware_rag_spark.deploy import ensure_on_executors
    from context_aware_rag_spark.plans.pipeline import run_pipeline
    from perfbench import corpus, layers, spec
    from perfbench.procmem import PeakRss

    wl = spec.workload(args.workload)
    cfg = PipelineConfig(**wl.config)
    turns = max(1, int(wl.turns * args.scale))
    cpus = cpu_count()
    work = os.path.join(OUT, f"work-{os.getpid()}")
    spark = None
    try:
        os.makedirs(work)
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        # the launcher JVM would otherwise leave its perf file under /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        # ---------------------------------------------------------- set-up
        t0 = time.perf_counter()
        spark = start_session(work, cpus, bool(args.trace))
        ensure_on_executors(spark)
        session_s = time.perf_counter() - t0
        n_convs = len(corpus.plan(args.seed, turns))

        corpus_s, transcripts = [], None
        for i in range(3):  # built three times; the median is reported
            if transcripts is not None:
                transcripts.unpersist(True)
            source_tracer = layers.Tracer(spark, f"setup{i}")
            t1 = time.perf_counter()
            with source_tracer.layer("sources"):
                transcripts = source_tracer.force(
                    "sources", "transcripts",
                    corpus.generate(spark, args.seed, turns, partitions=cpus),
                )
            corpus_s.append(time.perf_counter() - t1)
        keep = persisted_ids(spark)

        def stages_dir(i: int):
            return os.path.join(work, f"stages-{i}") if wl.workdir else None

        def operation(i: int):
            """One untraced run: (output digests, triples frame)."""
            res = run_pipeline(spark, transcripts, cfg, workdir=stages_dir(i), run_id=f"op{i}")
            return force_outputs(res.triples, res.nodes, res.edges), res.triples

        def traced_operation(i: int):
            tracer = layers.Tracer(spark, f"op{i}")
            triples, nodes, edges = layers.traced_pipeline(
                spark, transcripts, cfg, tracer, workdir=stages_dir(i))
            digests = force_outputs(triples, nodes, edges)
            traced.append(tracer.table())
            return digests, triples

        warm = []
        for i in range(spec.WARMUP_OPS):
            t1 = time.perf_counter()
            operation(-1 - i)
            warm.append(time.perf_counter() - t1)
            if wl.workdir:
                shutil.rmtree(stages_dir(-1 - i))
            settle(spark, keep)
        setup_s = session_s + statistics.median(corpus_s) + sum(warm)
        info(f"workload={wl.name} seed={args.seed} convs={n_convs} turns={turns} "
             f"cpus={cpus} spark={spark.version} driver_memory={driver_memory_mb()}m")
        info("load: 1 process, 1 client, closed loop, 1 full pipeline run per operation")
        info(f"setup: session {session_s:.3f} s, corpus builds "
             f"{[round(x, 3) for x in corpus_s]} s, warm-up {[round(x, 3) for x in warm]} s")

        # ---------------------------------------------------- measurement
        attempted = failed = 0
        walls, traced, reference, last_triples = [], [], None, None
        untraced_until = time.perf_counter() + (
            args.seconds / 2 if args.trace else args.seconds)
        deadline = time.perf_counter() + args.seconds
        with PeakRss(os.getpid()) as mem:
            while True:
                tracing = bool(args.trace) and walls and time.perf_counter() >= untraced_until
                attempted += 1
                t1 = time.perf_counter()
                try:
                    if tracing:
                        digests, last_triples = traced_operation(attempted)
                    else:
                        digests, last_triples = operation(attempted)
                        walls.append(time.perf_counter() - t1)
                    reference = reference or digests
                    if digests != reference or digests["triples"][0] == 0:
                        failed += 1
                        print(f"output check failed: {digests} != {reference}", file=sys.stderr)
                except Exception:  # counted as a failed operation; the run goes on
                    failed += 1
                    traceback.print_exc()
                complete = walls and (traced or not args.trace)
                if time.perf_counter() >= deadline and (complete or failed >= 3):
                    break
                if wl.workdir:
                    shutil.rmtree(stages_dir(attempted), ignore_errors=True)
                settle(spark, keep)
            peak_mb = mem.peak_mb

        if not walls or (args.trace and not traced):
            raise RuntimeError(f"no operation completed ({failed}/{attempted} failed)")

        # -------------------------------------------------------- checks
        prec, rec, n_sample = oracle_check(last_triples, cfg, args.seed, turns)
        oracle_ok = prec == 1.0 and rec == 1.0
        info(f"oracle: triple precision {prec:.4f} recall {rec:.4f} on {n_sample} sampled convs")
        info(f"digest: {reference}")

        wall = statistics.median(walls)
        n_triples = reference["triples"][0]
        q1, q3 = quartiles(walls)
        info(f"wall_s: median {wall:.4f} q1 {q1:.4f} q3 {q3:.4f} max {max(walls):.4f} "
             f"over n={len(walls)} untraced operations: {[round(w, 3) for w in walls]}")
        info(f"op_failure_ratio: {failed / attempted:.4f} ({failed}/{attempted})")
        conf = {k: v for k, v in spark.sparkContext.getConf().getAll()
                if not k.startswith("spark.app.")}
        info(f"session conf: {json.dumps(dict(sorted(conf.items())))}")

        if args.trace:
            table = {name: statistics.median(t[name] for t in traced)
                     for name in traced[0]}
            table.update({k: v for k, v in source_tracer.table().items()
                          if k.startswith("sources.")})
            layer_sum = sum(v for k, v in table.items() if k.endswith(".wall_s")
                            and not k.startswith("sources."))
            info(f"trace: sum of layer walls {layer_sum:.3f} s vs untraced wall_s {wall:.3f} s "
                 f"({layer_sum / wall - 1:+.1%}) over {len(traced)} traced operations")
            write_trace(wl.name, {
                "workload": wl.name, "seed": args.seed, "turns": turns,
                "cpus": cpus, "spark_version": spark.version, "session_conf": conf,
                "load": "1 process, 1 client, closed loop, 1 pipeline run per operation",
                "untraced_wall_s": wall, "untraced_ops": len(walls),
                "traced_ops": len(traced), "layer_wall_sum_s": layer_sum,
                "perturbation": layer_sum / wall - 1, "layers": table,
            })
            metrics = {m.name: {"value": table[m.name], "unit": m.unit}
                       for m in spec.per_layer()}
        else:
            values = {"setup_s": setup_s, "wall_s": wall,
                      "triples_per_s": n_triples / wall, "peak_rss_mb": peak_mb}
            metrics = {m.name: {"value": values[m.name], "unit": m.unit}
                       for m in spec.END_TO_END}
        return {"correct": failed == 0 and oracle_ok, "attempted": attempted,
                "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply the workload's turn count (smoke tests)")
    args = ap.parse_args(argv)

    # run from a checkout: the package sits next to perfbench/
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    try:
        import context_aware_rag_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program ({exc}); run from a checkout",
              file=sys.stderr)
        return 2
    from perfbench import spec

    spec.workload(args.workload)  # fail fast on an unknown name
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
