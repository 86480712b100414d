"""Benchmark of the product's public jobs at local[nproc].

    python3 perfbench/run.py --workload curate_dups --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Workloads (see perfbench/README.md):

- ``curate_dups``  seeded pages with planted duplicates → curate_corpus → write_table
- ``ngrep_stream`` one seeded 2 MB document → chunked glob/DFA scan → json lines

The KG job (seeded pages → run_pipeline → materialize_graph into a fresh
graph) is not timed on its own; every traced run covers it.

Each workload is a closed loop with one client: one job at a time from this
single driver process, on a Spark session with ``nproc`` task slots.  With
``--trace 0`` it times whole jobs for ``--seconds`` and prints the
end-to-end metrics; with ``--trace 1`` it runs the traced sweep (every
layer of the curation, ngrep and KG jobs, plus the miner micro-measure)
and prints the per-layer metrics.  The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DEFAULT_SEED = 1

# Sizes at --scale 1.  KG cost is dominated by fixed per-job costs (the
# 256-bucket graph write, canonicalize's staged chain), so more pages would
# only lengthen a run without changing which layers dominate.  Curation and
# the stream are below their reference sizes (about 20k pages and 8 MB): a
# traced run covers all three jobs, and at those sizes it took about 210 s
# on 4 cores, over the 180 s a run may take (see perfbench/README.md).
KG_PAGES = 400
CURATE_BASE_PAGES = 1000
STREAM_BYTES = 2_000_000
MINER_TEXT_BYTES = 1_000_000

JOB_OF = {"curate_dups": "curate", "ngrep_stream": "ngrep"}
WORKLOADS = tuple(JOB_OF)
TRACED_JOBS = ("curate", "ngrep", "kg")

# per-layer fields emitted for each traced span (module.function under
# nativeextractor_spark; operators.* spans drop the package prefix)
LAYER_FIELDS = {
    "extract.extract_occurrences": "wall_s executor_run_s jobs rows_out py_run_s",
    "kg.triples.extract_triples": "wall_s executor_run_s jobs rows_out py_run_s",
    "kg.linking.link_mentions": "wall_s jobs rows_out shuffle_write_mb",
    "kg.canonicalize.canonicalize_surfaces":
        "wall_s executor_run_s jobs tasks rows_out py_run_s shuffle_write_mb",
    "kg.graph.build_graph": "wall_s jobs rows_out shuffle_write_mb",
    "kg.graph.merge_into":
        "wall_s jobs tasks files_written bytes_written_mb buckets_rewritten write_amp",
    "kg.pipeline": "wall_s jobs stages tasks executor_run_s slot_util py_run_s"
                   " pages_scans unattributed_s",
    "textops.lines.gopher_filter_keep_kernel":
        "wall_s executor_run_s jobs rows_out py_run_s",
    "textops.dedup.dedup_exact": "wall_s jobs rows_out shuffle_write_mb",
    "textops.lines.drop_duplicate_lines": "wall_s jobs rows_out shuffle_write_mb spill_mb",
    "textops.dedup.lsh_duplicate_pairs":
        "wall_s executor_run_s jobs rows_out shuffle_write_mb spill_mb",
    "kg.components.connected_components": "wall_s jobs rows_out",
    "textops.redact.redact_pii": "wall_s executor_run_s py_run_s",
    "io.tables.write_table": "wall_s bytes_written_mb files_written",
    "textops.pipeline.curate_corpus":
        "wall_s jobs stages tasks executor_run_s slot_util py_run_s"
        " shuffle_write_mb unattributed_s",
    "chunked.chunk_pages": "wall_s rows_out",
    "chunked.extract_occurrences_from_chunks":
        "wall_s executor_run_s jobs tasks rows_out py_run_s shuffle_write_mb",
    "sinks.format_occurrences": "wall_s",
    "ngrep": "wall_s unattributed_s",
}
COMPOSED_SPAN = {"kg": "kg.pipeline", "curate": "textops.pipeline.curate_corpus", "ngrep": "ngrep"}
# composed span → the layer spans its unattributed time is measured against
COMPOSED = {
    "kg.pipeline": [
        "extract.extract_occurrences", "kg.triples.extract_triples",
        "kg.linking.link_mentions", "kg.canonicalize.canonicalize_surfaces",
        "kg.graph.build_graph", "kg.graph.merge_into",
    ],
    "textops.pipeline.curate_corpus": [
        "textops.lines.gopher_filter_keep_kernel", "textops.dedup.dedup_exact",
        "textops.lines.drop_duplicate_lines", "textops.dedup.lsh_duplicate_pairs",
        "kg.components.connected_components", "textops.redact.redact_pii",
        "io.tables.write_table",
    ],
    "ngrep": [
        "chunked.chunk_pages", "chunked.extract_occurrences_from_chunks",
        "sinks.format_occurrences",
    ],
}
MINERS = (
    "gazetteer", "email", "url", "date", "tel_no",
    "glob_s_k", "glob_i_k", "dfa_email", "dfa_tel_no",
)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def unit_of(name: str) -> str:
    field = name.rsplit(".", 1)[-1]
    if field.endswith("mb_per_s"):
        return "MB/s"
    if field == "docs_per_s":
        return "docs/s"
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb"):
        return "MB"
    if field in ("slot_util", "write_amp", "pages_scans"):
        return "ratio"
    return "count"


# ----------------------------------------------------------------- host side


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def window_probe() -> float:
    """Fixed single-process regex scan, the same kind of work the miners
    do: its time beside every run shows a noisy window on a shared host."""
    text = "lorem ipsum dolor sit amet consectetur " * 4000
    pat = re.compile(r"[a-z]+")
    t0 = time.perf_counter()
    for _ in range(20):
        sum(1 for _ in pat.finditer(text))
    return time.perf_counter() - t0


class RssSampler:
    """Peak resident memory of the driver JVM and every process under it
    (the pyspark.daemon workers), read from /proc by a thread of this
    process every 100 ms."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak = 0
        self._lock = threading.Lock()  # reset() and the sampler both write peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            rss = self._tree_rss()
            with self._lock:
                self.peak = max(self.peak, rss)

    def reset(self) -> None:
        rss = self._tree_rss()
        with self._lock:
            self.peak = rss

    def __enter__(self) -> "RssSampler":
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------- spark side


def configure_env() -> dict:
    """Keep every file Spark, its JVM and its Python workers write inside
    the checkout, and give the workers the checkout's package."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    # spark-submit first runs a short launcher JVM that reads this variable
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def warm_up(spark) -> None:
    """Start the Python workers on every slot and run the KG miners once:
    what the first mining job of every spark-submit pays."""
    from nativeextractor_spark.kg.pipeline import default_kg_miners
    from nativeextractor_spark.operators.extract import extract_occurrences

    n = spark.sparkContext.defaultParallelism
    rows = [(f"warm://{i}", "Alice Novak met user1@mail.example.com at https://a.example")
            for i in range(n * 4)]
    pages = spark.createDataFrame(rows, "url string, text string").repartition(n)
    extract_occurrences(pages, default_kg_miners()).write.format("noop").mode("overwrite").save()


def set_up(conf: dict):
    """JVM launch and session start, then the warm-up: the cold set-up
    every spark-submit pays.  Returns the session and both timings."""
    from nativeextractor_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    warm_up(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def shut_down(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------ measure


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


def compare(job: str, facts: dict, args, expected: dict) -> list[str]:
    if args.seed != DEFAULT_SEED or args.scale != 1.0 or job not in expected:
        return []
    want = expected[job]
    return [] if facts == want else [f"{job} output digest {facts} != recorded {want}"]


def measure(args, spark, inp: dict) -> dict:
    """Closed loop: one job at a time until --seconds have elapsed."""
    import jobs
    from pyspark import SparkContext

    job = JOB_OF[args.workload]
    run_job, check = getattr(jobs, f"{job}_job"), getattr(jobs, f"{job}_check")
    out = os.path.join(WORK, "out", args.workload)
    expected = load_expected()
    walls, peaks, errors, first = [], [], [], None
    attempted = failed = 0
    deadline = time.perf_counter() + args.seconds
    with RssSampler(SparkContext._gateway.proc.pid) as sampler:
        while True:
            jobs.fresh_dir(out)
            attempted += 1
            sampler.reset()
            try:
                t0 = time.perf_counter()
                result = run_job(spark, inp, out)
                wall = time.perf_counter() - t0
                peak = sampler.peak
                facts, errs = check(spark, inp, out, result)
            except Exception:
                log(traceback.format_exc())
                failed += 1
                errors.append("job raised")
            else:
                if first is None:
                    first = facts
                    errs += compare(job, facts, args, expected)
                elif facts != first:
                    errs.append(f"output changed between iterations: {facts} != {first}")
                if errs:
                    failed += 1
                    errors.extend(errs)
                walls.append(wall)
                peaks.append(peak)
                log(f"iteration {attempted}: wall {wall:.3f} s, peak rss {peak / 1e6:.0f} MB")
            if time.perf_counter() >= deadline:
                break
    if walls:
        wall = statistics.median(walls)
        metrics = {
            "wall_s": wall,
            "docs_per_s": inp["docs"] / wall,
            "mb_per_s": inp["bytes"] / 1e6 / wall,
        }
    else:  # every job raised: correct is false and nothing was measured
        metrics = dict.fromkeys(("wall_s", "docs_per_s", "mb_per_s"), 0.0)
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "facts": first,
        "samples": len(walls),
        # printed, not bounded: the JVM heap's growth makes it spread by up
        # to a quarter from run to run on the same input
        "peak_rss_mb": statistics.median(peaks) / 1e6 if peaks else None,
        "metrics": metrics,
    }


def miner_rates() -> dict:
    """Driver-side find_batch of every miner the jobs use over a fixed
    seeded 1 MB batch of page texts (no Spark)."""
    import inputs
    import jobs
    from nativeextractor_spark.kg.pipeline import default_kg_miners

    texts, size, i = [], 0, 0
    aliases = [a for a, *_ in inputs.alias_rows(0)]
    while size < MINER_TEXT_BYTES:
        t = inputs.kg_page_text(random.Random(i), aliases)
        texts.append(t)
        size += len(t.encode("utf-8"))
        i += 1
    miners = default_kg_miners(aliases) + jobs.ngrep_miners()
    out = {}
    for name, miner in zip(MINERS, miners):
        times = []
        while len(times) < 3 and sum(times) < 0.5:
            t0 = time.perf_counter()
            miner.find_batch(texts)
            times.append(time.perf_counter() - t0)
        out[f"miners.{name}.mb_per_s"] = size / 1e6 / statistics.median(times)
    return out


def trace_sweep(args, spark, inputs_by_job: dict) -> dict:
    """Composed job span, then its layers one by one, for every job.  The
    run's own workload goes first, so its composed span is as cold as an
    untraced run's job."""
    import jobs
    from spans import Tracer

    tr = Tracer(spark)
    expected = load_expected()
    own = JOB_OF[args.workload]
    order = [own] + [j for j in TRACED_JOBS if j != own]
    attempted = failed = 0
    errors, facts_all = [], {}
    for job in order:
        inp = inputs_by_job[job]
        out = jobs.fresh_dir(os.path.join(WORK, "out", f"trace_{job}"))
        attempted += 1
        run_job, check, sweep = (
            getattr(jobs, f"{job}_{part}") for part in ("job", "check", "sweep")
        )
        try:
            result = tr.span(COMPOSED_SPAN[job], lambda: run_job(spark, inp, out), rows=None)
            facts, errs = check(spark, inp, out, result)
            sweep(tr, spark, inp, WORK)
            errs += compare(job, facts, args, expected)
            facts_all[job] = facts
        except Exception:
            log(traceback.format_exc())
            errs = ["job raised"]
        if errs:
            failed += 1
            errors.extend(errs)
        log(f"traced {job}: {'ok' if not errs else errs}")
    t0 = time.perf_counter()
    spans = tr.fold()
    fold_s = time.perf_counter() - t0

    for composed, layers in COMPOSED.items():
        if composed in spans and all(l in spans for l in layers):
            spans[composed]["unattributed_s"] = spans[composed]["wall_s"] - sum(
                spans[l]["wall_s"] for l in layers
            )
    if "kg.pipeline" in spans:
        spans["kg.pipeline"]["pages_scans"] = (
            spans["kg.pipeline"]["parquet_rows_read"] / inputs_by_job["kg"]["docs"]
        )
    merge = spans.get("kg.graph.merge_into")
    if merge:
        merge["write_amp"] = merge["bytes_written_mb"] * 1e6 / merge["write_amp_base_bytes"]
    metrics = {}
    for span, fields in LAYER_FIELDS.items():
        for field in fields.split():
            if span in spans and field in spans[span]:
                metrics[f"{span}.{field}"] = spans[span][field]
    metrics["trace.fold_s"] = fold_s
    return {"attempted": attempted, "failed": failed, "errors": errors,
            "facts": facts_all, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor; below 1 only for the smoke run")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import nativeextractor_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test: {e}")
        return 2
    conf = configure_env()
    import inputs

    t_gen = time.perf_counter()
    cache = os.path.join(WORK, "inputs")
    sizes = {  # job → (input kind, size at --scale 1, smallest size)
        "kg": ("kg", KG_PAGES, 50),
        "curate": ("curate", CURATE_BASE_PAGES, 100),
        "ngrep": ("stream", STREAM_BYTES, 50_000),
    }
    inputs_by_job = {
        job: inputs.prepare(cache, kind, args.seed, max(least, int(size * args.scale)))
        for job, (kind, size, least) in sizes.items()
        if job == JOB_OF[args.workload] or args.trace
    }
    log(f"inputs ready in {time.perf_counter() - t_gen:.1f} s")

    probes = [window_probe()]
    spark, start_s, warm_s = set_up(conf)
    log(f"set-up: start {start_s:.3f} s, warm-up {warm_s:.3f} s")
    try:
        if args.trace:
            res = trace_sweep(args, spark, inputs_by_job)
            res["metrics"].update(miner_rates())
            res["metrics"]["session.start_s"] = start_s
            res["metrics"]["session.warm_s"] = warm_s
        else:
            res = measure(args, spark, inputs_by_job[JOB_OF[args.workload]])
            res["metrics"]["setup_s"] = start_s + warm_s
    finally:
        shut_down(spark)
    probes.append(window_probe())

    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "slots": nproc(), "samples": res.get("samples"),
        "peak_rss_mb": res.get("peak_rss_mb"),
        "failed_ratio": res["failed"] / res["attempted"],
        "window_probe_s": probes,
        "facts": res["facts"], "errors": res["errors"],
    }
    print("perfbench summary " + json.dumps(summary, default=str), flush=True)
    print(json.dumps({
        "correct": not res["errors"] and res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in res["metrics"].items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
