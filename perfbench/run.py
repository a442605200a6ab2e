"""Extraction benchmark: one workload, closed loop, checked outputs.

    python3 perfbench/run.py --workload mixed_narrow --seed 1 --seconds 15 --trace 0

Run from the repository root. One client process on ``local[nproc]``
submits one full pass at a time and waits for it (closed loop, one
client). Every pass's output rows are digested and compared with the
expected digests of the same inputs (``perfbench.check``). The last stdout line is one JSON
object; the lines before it are the human-readable report.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics, each layer's share of pass wall, the unaccounted
remainder and the tracing overhead (see ``traced``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# importing the program fails outside a full checkout, before any result
from caraspark.session import ARROW_BATCH_ROWS  # noqa: E402
from perfbench import check, engine, gen, trace  # noqa: E402

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "2g"  # the default 24g does not fit a 15 GiB machine
SNAPSHOT_UNITS = SNAPSHOT_CHUNK = 8  # one run_job commit per sink pass
MIN_PASSES = 3
LAYER_PASSES = 2  # scan-only, identity, giants-mode and sink passes per traced run


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["CARASPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


class Bench:
    """One workload and seed: its corpus, its Spark session and its passes."""

    def __init__(self, w: gen.Workload, seed: int, work: str):
        self.w, self.seed, self.work = w, seed, work
        self.raw = os.path.join(work, "raw")
        self.spark = None
        self.tracer: trace.Tracer | None = None
        self.layout_s = 0.0

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> float:
        """Corpus generation and layout, session start, and the warm pass."""
        t0 = time.perf_counter()
        self.make_inputs()
        self.start(event_log=False)
        return time.perf_counter() - t0

    def make_inputs(self) -> None:
        self.table = gen.build(self.w, self.seed)
        gen.write_raw(self.table, self.raw, cores())

    def start(self, event_log: bool) -> None:
        from caraspark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if event_log:
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "events"),
                "spark.eventLog.compress": "false",
            }
        self.spark = get_spark("perfbench", master=f"local[{cores()}]", extra_conf=conf)
        self.df = self.spark.read.parquet(self.raw)
        self.run_pass("warm")

    def sized(self):
        """The rows in the ingest size layout (``corpus.write_size_layout``),
        written once per run; ``layout_s`` is what writing it took."""
        from caraspark.corpus import write_size_layout

        path = os.path.join(self.work, "sized")
        if not os.path.exists(path):
            t0 = time.perf_counter()
            write_size_layout(self.spark.read.parquet(self.raw), path)
            self.layout_s = time.perf_counter() - t0
        return self.spark.read.parquet(path)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- passes -----------------------------------------------------------------

    def extracted(self, df, giants: bool = False):
        from caraspark.extract import extract

        if giants:
            return extract(
                df,
                salt="giants",
                nbytes_col="nbytes",
                giant_threshold=gen.GIANT_BYTES,
                want=self.w.want,
            )
        return extract(df, want=self.w.want)

    def run_pass(self, label: str) -> tuple[float, list]:
        """(pass wall seconds, (url, digest) per output row)."""
        self.spark.sparkContext.setJobDescription(label)
        with self._span("pass"):
            t0 = time.perf_counter()
            tbl = check.spark_check_frame(self.extracted(self.df)).toArrow()
            wall = time.perf_counter() - t0
        return wall, check.digests(tbl)

    def _snapshot_pass(self, label: str):
        from jobs.extract_job import read_extracted, run_job

        out = os.path.join(self.work, "snapshot", label.replace(":", "-"))
        with self._span("sink.pass"):
            t0 = time.perf_counter()
            run_job(self.spark, self.raw, out, units=SNAPSHOT_UNITS, unit_chunk=SNAPSHOT_CHUNK)
            wall = time.perf_counter() - t0
        self.spark.sparkContext.setJobDescription("readback:" + label)
        tbl = check.spark_check_frame(read_extracted(self.spark, out)).toArrow()
        files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs]
        stats = {
            "bytes": sum(os.path.getsize(p) for p in files),
            "files": sum(p.endswith(".parquet") for p in files),
        }
        shutil.rmtree(out)
        return wall, check.digests(tbl), stats

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def timed(self, seconds: float) -> dict:
        """Closed loop: passes back to back until ``seconds`` of pass wall
        (at least MIN_PASSES). A pass that raises fails all its documents.
        The worker memory peak covers these passes only."""
        walls, outputs, raised, rss = [], [], 0, 0.0
        trace.reset_worker_peaks()
        while len(walls) < MIN_PASSES or sum(walls) < seconds:
            t0 = time.perf_counter()
            try:
                wall, pairs = self.run_pass(f"pass:{len(walls)}")
            except Exception:
                traceback.print_exc()
                raised += 1
                walls.append(time.perf_counter() - t0)
                if raised >= MIN_PASSES:
                    break
                continue
            walls.append(wall)
            outputs.append(pairs)
            rss = max(rss, trace.worker_peak_rss_mb())
        return {"walls": walls, "outputs": outputs, "raised": raised, "rss_mb": rss}

    # -- layers (traced run) ----------------------------------------------------

    def layer_passes(self) -> tuple[float, float]:
        """Median wall of a scan-only pass and of an identity-mapInArrow
        pass over the columns the extraction reads, both to a noop sink."""
        cols = list(engine.INPUT_COLUMNS)
        scan = self.df.select(*cols)
        ident = scan.mapInArrow(trace_identity, scan.schema)
        walls = {"scan": [], "identity": []}
        for i in range(LAYER_PASSES):
            for name, df in (("scan", scan), ("identity", ident)):
                self.spark.sparkContext.setJobDescription(f"{name}:{i}")
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                walls[name].append(time.perf_counter() - t0)
        return statistics.median(walls["scan"]), statistics.median(walls["identity"])

    def exchange_passes(self) -> dict:
        """Giants-mode passes over the size layout of the same rows: the
        exchange layer, measured on a narrow workload whose rows include
        giants. Their outputs are checked like any timed pass."""
        df = self.sized()
        walls, outputs = [], []
        for i in range(LAYER_PASSES):
            self.spark.sparkContext.setJobDescription(f"exchange:{i}")
            t0 = time.perf_counter()
            tbl = check.spark_check_frame(self.extracted(df, giants=True)).toArrow()
            walls.append(time.perf_counter() - t0)
            outputs.append(check.digests(tbl))
        return {"walls": walls, "outputs": outputs, "raised": 0}

    def sink_passes(self) -> dict:
        """run_job passes over the same rows: the sink layer. Their
        snapshots are read back and checked."""
        walls, outputs, sinks = [], [], []
        with self.sink_spans():
            for i in range(LAYER_PASSES):
                self.spark.sparkContext.setJobDescription(f"sink:{i}")
                wall, pairs, stats = self._snapshot_pass(f"sink:{i}")
                walls.append(wall)
                outputs.append(pairs)
                sinks.append(stats)
        return {"walls": walls, "outputs": outputs, "sinks": sinks, "raised": 0}

    @contextlib.contextmanager
    def sink_spans(self):
        """Spans around run_job's helpers: staging, each chunk's extract +
        write + count (chunk_input up to its commit), and each commit."""
        import jobs.extract_job as job
        from caraspark.manifest import SnapshotManifest

        tr, orig_stage, orig_chunk, orig_commit = (
            self.tracer, job.stage_input, job.chunk_input, SnapshotManifest.commit,
        )
        open_chunk = []

        def chunk_input(*a, **k):
            open_chunk.append(tr.open("jobs.chunk_extract_write"))
            return orig_chunk(*a, **k)

        def commit(man, *a, **k):
            while open_chunk:
                tr.close(open_chunk.pop())
            with tr.span("manifest.commit"):
                return orig_commit(man, *a, **k)

        job.stage_input = tr.wrap(orig_stage, "jobs.stage_input")
        job.chunk_input, SnapshotManifest.commit = chunk_input, commit
        try:
            yield
        finally:
            job.stage_input, job.chunk_input = orig_stage, orig_chunk
            SnapshotManifest.commit = orig_commit


def trace_identity(it):
    """The identity Arrow UDF: the Python boundary with no work inside."""
    yield from it


def engine_layers(bench: Bench, tracer: trace.Tracer) -> tuple[float, list]:
    """Single-process pass over the same rows with spans around each
    engine stage. Returns (busy seconds, output batches)."""
    import caraspark.pdfengine as pe
    import caraspark.pdfengine.api as api

    targets = [
        (pe, "process_document", "pdfengine.process_document"),
        (api, "load_document", "pdfengine.load_document"),
        (api, "check_types", "pdfengine.check_types"),
        (api, "extract_text_spans", "pdfengine.extract_text_spans"),
        (api, "extract_html", "htmlengine.extract_html"),
    ]
    inputs = engine.batches(bench.table, ARROW_BATCH_ROWS)
    with tracer.span("engine.pass"), tracer.patched(targets):
        return engine.run(inputs, bench.w.want, on_batch=lambda: tracer.span("extract._extract_batches"))


def verdict_counts(out) -> dict:
    """PDF count, invalid PDFs and decoded bytes from engine output rows."""
    n_pdf = invalid = decoded = 0
    for b in out:
        for k, v, m in zip(
            b.column("kind").to_pylist(),
            b.column("verdict").to_pylist(),
            b.column("metrics").to_pylist(),
        ):
            if k == "pdf":
                n_pdf += 1
                invalid += not v["valid"]
                decoded += m["bytes_decoded"]
    return {"n_pdf": n_pdf, "invalid": invalid, "bytes_decoded": decoded}


def failures(bench: Bench, runs: list[dict]) -> tuple[int, int]:
    """(documents attempted, documents failed) over every checked pass."""
    n = bench.table.num_rows
    expected = check.expected_digests(bench.table, bench.w.want)
    attempted = failed = 0
    for r in runs:
        attempted += n * len(r["walls"])
        failed += n * r["raised"]
        for pairs in r["outputs"]:
            failed += len(check.failed_docs(expected, pairs))
    return attempted, failed


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def untraced(bench: Bench, seconds: float) -> dict:
    setup_s = bench.setup()
    run = bench.timed(seconds)
    bench.stop()
    attempted, failed = failures(bench, [run])
    return {"setup_s": setup_s, "run": run, "attempted": attempted, "failed": failed}


def report_end_to_end(bench: Bench, res: dict) -> dict:
    run, n = res["run"], bench.table.num_rows
    q1, med, q3 = statistics.quantiles(run["walls"], n=4)
    metrics = {
        "docs_per_s": metric(n / med, "1/s"),
        "setup_s": metric(res["setup_s"], "s"),
        "worker_peak_rss_mb": metric(run["rss_mb"], "MB"),
    }
    print(
        f"docs_per_s {n / med:.1f} 1/s  (median of {len(run['walls'])} passes of "
        f"{n} docs; quartiles {n / q3:.1f} .. {n / q1:.1f})"
    )
    print("pass walls s: " + " ".join(f"{x:.3f}" for x in run["walls"]))
    print(f"setup_s {res['setup_s']:.3f} s")
    print(f"worker_peak_rss_mb {run['rss_mb']:.1f} MB")
    print(
        f"failed_share {res['failed'] / max(res['attempted'], 1):.6f} share "
        f"({res['failed']} of {res['attempted']} documents)"
    )
    return metrics


SPARK_KEYS = (
    "task_run_s", "task_cpu_s", "gc_s", "python_worker_init_s", "python_worker_run_s",
    "to_python_mb", "from_python_mb", "task_skew", "shuffle_write_mb",
)
SPARK_UNITS = {"task_skew": "ratio", "to_python_mb": "MB", "from_python_mb": "MB", "shuffle_write_mb": "MB"}


def traced(bench: Bench, seconds: float) -> tuple[dict, int, int]:
    """The per-layer run. Three sessions in the same JVM, each timing
    passes for half of ``seconds``: untraced; with the event log on,
    traced, followed by the layer passes; untraced again. Splitting the
    untraced side around the traced one cancels the JVM's continuing
    warm-up out of the tracing overhead, and the halves keep a traced run
    within a few times an untraced one."""
    bench.make_inputs()
    bench.start(event_log=False)
    untraced_a = bench.timed(seconds / 2)
    bench.stop()
    bench.start(event_log=True)
    tracer = bench.tracer = trace.Tracer()
    run = bench.timed(seconds / 2)
    scan_s, ident_s = bench.layer_passes()
    exchange = bench.exchange_passes() if bench.w.giant_share > 0 else None
    # run_job extracts every surface, so its output matches the expected
    # digests only on workloads that want them all
    sink = bench.sink_passes() if bench.w.want is None else None
    bench.stop()
    bench.tracer = None
    bench.start(event_log=False)
    untraced_b = bench.timed(seconds / 2)
    bench.stop()
    untraced_walls = untraced_a["walls"] + untraced_b["walls"]
    folded = trace.fold_event_log(os.path.join(bench.work, "events"))
    busy, out = engine_layers(bench, tracer)
    in_process = {
        "walls": [busy],
        "outputs": [[p for b in out for p in engine.batch_digests(b)]],
        "raised": 0,
    }
    attempted, failed = failures(
        bench, [untraced_a, run, untraced_b, in_process] + [r for r in (exchange, sink) if r]
    )

    n, c = bench.table.num_rows, cores()
    n_html = sum(gen.recipe_of(u).startswith("html") for u in bench.table.column("url").to_pylist())
    counts = verdict_counts(out)
    n_pdf = counts["n_pdf"]
    base = n / statistics.median(untraced_walls)
    wall = statistics.median(run["walls"])

    def per(total: float, count: int) -> float:
        return total / count if count else 0.0

    t = tracer.total
    pd_in_batches = t("pdfengine.process_document", "extract._extract_batches")
    engine_s = {
        name: t(name)
        for name in (
            "pdfengine.load_document",
            "pdfengine.check_types",
            "pdfengine.extract_text_spans",
            "htmlengine.extract_html",
        )
    }
    engine_s["pdfengine.process_document.self"] = pd_in_batches - sum(engine_s.values())
    engine_s["extract.arrow_assembly"] = t("extract._extract_batches") - pd_in_batches

    def fold_median(prefix: str) -> dict:
        folds = [v for k, v in folded.items() if k.startswith(prefix)]
        return {k: statistics.median(f[k] for f in folds) if folds else 0.0 for k in SPARK_KEYS}

    spark_m = fold_median("pass:")
    if exchange:
        exchange_m = fold_median("exchange:") | {"wall": statistics.median(exchange["walls"])}
    else:
        exchange_m = dict.fromkeys(SPARK_KEYS + ("wall",), 0.0)
    sink_m = sink_metrics(tracer, sink["sinks"] if sink else [], n)
    docs_1proc = n / busy

    m = {
        "pdfengine.load_document.ms_per_pdf": metric(per(engine_s["pdfengine.load_document"] * 1e3, n_pdf), "ms"),
        "pdfengine.check_types.ms_per_pdf": metric(per(engine_s["pdfengine.check_types"] * 1e3, n_pdf), "ms"),
        "pdfengine.extract_text_spans.ms_per_pdf": metric(per(engine_s["pdfengine.extract_text_spans"] * 1e3, n_pdf), "ms"),
        "htmlengine.extract_html.ms_per_html": metric(per(engine_s["htmlengine.extract_html"] * 1e3, n_html), "ms"),
        "extract.arrow_assembly.ms_per_doc": metric(engine_s["extract.arrow_assembly"] * 1e3 / n, "ms"),
        "engine.docs_per_s_1proc": metric(docs_1proc, "1/s"),
        "spark.scan_s": metric(scan_s, "s"),
        "spark.python_boundary_s": metric(ident_s - scan_s, "s"),
        "spark.parallel_efficiency": metric(base / (docs_1proc * c), "share"),
        **{f"spark.{k}": metric(spark_m[k], SPARK_UNITS.get(k, "s")) for k in SPARK_KEYS},
        "exchange.layout_s": metric(bench.layout_s, "s"),
        "exchange.giants_pass_s": metric(exchange_m["wall"], "s"),
        "exchange.shuffle_write_mb": metric(exchange_m["shuffle_write_mb"], "MB"),
        "exchange.task_skew": metric(exchange_m["task_skew"], "ratio"),
        **sink_m,
        "pdfengine.invalid_share": metric(per(counts["invalid"], n_pdf), "share"),
        "pdfengine.bytes_decoded_per_pdf": metric(per(counts["bytes_decoded"], n_pdf), "B"),
        "inputs.distinct_share": metric(gen.properties(bench.table)["distinct_share"], "share"),
        "trace.docs_per_s": metric(n / wall, "1/s"),
        "trace.overhead_share": metric(1.0 - (n / wall) / base, "share"),
    }
    # share of the traced pass wall each layer accounts for; engine stages
    # run on every core at once, so their single-process seconds count ÷ cores
    shares = {
        "spark.scan": scan_s / wall,
        "spark.python_boundary": max(ident_s - scan_s, 0.0) / wall,
        **{k: v / c / wall for k, v in engine_s.items()},
    }
    m["trace.unaccounted_share"] = metric(1.0 - sum(shares.values()), "share")

    print(
        f"traced pass wall {wall:.3f} s (median of {len(run['walls'])}); "
        f"untraced docs_per_s {base:.1f}, traced {n / wall:.1f}"
    )
    print(f"{'per-layer metric':44} {'value':>14} unit")
    for k, v in m.items():
        print(f"{k:44} {v['value']:14.4f} {v['unit']}")
    print(f"{'layer':44} {'share of pass wall':>18}")
    for k, v in shares.items():
        print(f"{k:44} {v:18.3f}")
    print(f"{'unaccounted':44} {m['trace.unaccounted_share']['value']:18.3f}")

    stem = os.path.join(WORK_ROOT, "reports", f"{bench.w.name}-{bench.seed}")
    os.makedirs(os.path.dirname(stem), exist_ok=True)
    tracer.dump(stem + "-spans.json")
    with open(stem + "-trace.json", "w") as f:
        json.dump(
            {
                "workload": bench.w.name,
                "seed": bench.seed,
                "inputs": gen.properties(bench.table),
                "untraced_walls": untraced_walls,
                "traced_walls": run["walls"],
                "metrics": m,
                "shares": shares,
                "event_log": folded,
            },
            f,
            indent=1,
        )
    print(f"spans and report: {stem}-spans.json, {stem}-trace.json")
    return m, attempted, failed


def sink_metrics(tracer: trace.Tracer, sinks: list[dict], n: int) -> dict:
    """Per-pass medians of the run_job helper spans (children of the sink
    pass spans) and of the snapshot on disk; 0 without sink passes."""
    pass_ids = [s[0] for s in tracer.spans if s[1] == "sink.pass"]

    def per_pass(name: str) -> float:
        sums = dict.fromkeys(pass_ids, 0.0)
        for s in tracer.spans:
            if s[1] == name and s[4] in sums and s[3] is not None:
                sums[s[4]] += s[3] - s[2]
        return statistics.median(sums.values()) if sums else 0.0

    def sink_median(key: str) -> float:
        return statistics.median(s[key] for s in sinks) if sinks else 0.0

    return {
        "jobs.stage_input_s": metric(per_pass("jobs.stage_input"), "s"),
        "jobs.chunk_extract_write_s": metric(per_pass("jobs.chunk_extract_write"), "s"),
        "manifest.commit_s": metric(per_pass("manifest.commit"), "s"),
        "manifest.commits": metric(
            tracer.count("manifest.commit") / len(pass_ids) if pass_ids else 0.0, "count"
        ),
        "sink.files": metric(sink_median("files"), "count"),
        "sink.snapshot_bytes_per_doc": metric(sink_median("bytes") / n, "B"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    w = gen.WORKLOADS[args.workload]
    work = os.path.join(WORK_ROOT, f"{w.name}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    bench = Bench(w, args.seed, work)
    try:
        print(f"workload {w.name} seed {args.seed}: closed loop, 1 client, local[{cores()}]")
        if args.trace:
            metrics, attempted, failed = traced(bench, args.seconds)
        else:
            res = untraced(bench, args.seconds)
            props = gen.properties(bench.table)
            print("inputs " + json.dumps(props))
            metrics = report_end_to_end(bench, res)
            attempted, failed = res["attempted"], res["failed"]
    finally:
        bench.stop()
        shutdown_gateway()
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0 if failed == 0 else 1


def shutdown_gateway() -> None:
    """Stop the JVM the session started and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
