#!/usr/bin/env python3
"""One benchmark run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The load model is one driver process on
``local[4]`` and one client in a closed loop: each job is submitted after
the previous one completes, the way a ``spark-submit`` batch runs. A run

1. generates the workload's inputs from the seed (cached per seed),
2. sets up a Spark session three times, each in a fresh JVM, and reports
   the median as ``setup_s``,
3. runs a cold pass, then warm passes until ``--seconds`` have passed,
4. checks every pass's outputs against the oracles,
5. prints one detail line, then the one-line JSON result.

``--trace 1`` also reports the per-layer metrics (see NOTES.md). All
files go under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

import procs
import tracing as tr

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
SLOTS = 4
MIB = float(1 << 20)
SETUP_SAMPLES = 3
DRIVER_MEM = "1g"

HEAVYTAIL = {"n_pages": 800, "giant_frac": 0.0025, "null_frac": 0.03}
STRAGGLER_BYTES = 1 << 20
KERNEL_SAMPLE = 400
KERNEL_REPS = 3


def _configure_env(run_dir: Path) -> None:
    """Keep every file Spark, its JVM and its workers write in the checkout."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(SLOTS)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = str(tmp)


# ------------------------------------------------------------------- session


def _spark_conf(tmp: Path, run_dir: Path) -> dict:
    return {
        "spark.ui.showConsoleProgress": "false",
        # a fixed, pre-touched heap: the JVM's resident size then does not
        # follow the collector's heap sizing, which varied by a third
        # between otherwise equal runs
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
    }


def setup_session(run_dir: Path, k: int, tracer):
    """get_spark + ship_package in a fresh JVM with a fresh temp dir, so
    every sample pays the same: JVM launch, context, package zip."""
    import tempfile

    from onnxocr_ray_spark import packaging, session

    tmp = run_dir / f"tmp-setup{k}"
    tmp.mkdir(parents=True, exist_ok=True)
    tempfile.tempdir = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    t0 = time.perf_counter()
    with tracer.span("setup"):
        if tracer.enabled:
            # split the zip build out of get_spark, which would do it inside
            with tracer.span("packaging.ship_package"):
                packaging.package_zip_path()
        with tracer.span("session.get_spark"):
            spark = session.get_spark(
                app_name="perfbench", master=f"local[{SLOTS}]",
                shuffle_partitions=SLOTS, extra_conf=_spark_conf(tmp, run_dir),
            )
        with tracer.span("packaging.ship_package"):
            packaging.ship_package(spark)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the context and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the JVM's Python workers end on their own once it has gone
    procs.stop_children()


# ----------------------------------------------------------------- workloads


class ExtractHeavytail:
    """Pages with a heavy tail, through ``plans.lineage.run_extraction``
    into a fresh output directory, then once more to resume."""

    name = "extract_heavytail"

    def prepare(self, seed: int, work: Path) -> dict:
        import pyarrow.parquet as pq

        import gen
        from corpus import SF_DIR
        from oracles import extraction_oracle

        shape = "-".join(f"{v}" for v in HEAVYTAIL.values())
        cache = work / "inputs" / f"{self.name}-s{seed}-g{gen.GEN_VERSION}-{shape}"
        pages_path, oracle_path = cache / "pages.parquet", cache / "oracle.json"
        t0 = time.perf_counter()
        if not pages_path.exists():
            cache.mkdir(parents=True, exist_ok=True)
            tmp = cache / f"pages.parquet.tmp{os.getpid()}"
            gen.write_pages(gen.make_pages(gen.read_documents(SF_DIR), seed, **HEAVYTAIL), str(tmp))
            os.replace(tmp, pages_path)
        gen_s = time.perf_counter() - t0
        table = pq.read_table(pages_path, columns=["url", "html"])
        pages = list(zip(table.column("url").to_pylist(), table.column("html").to_pylist()))
        if oracle_path.exists():
            oracle = json.loads(oracle_path.read_text())
        else:
            oracle = extraction_oracle(pages, SLOTS)
            tmp = cache / f"oracle.json.tmp{os.getpid()}"
            tmp.write_text(json.dumps(oracle, sort_keys=True))
            os.replace(tmp, oracle_path)
        self.pages_path = str(pages_path)
        self.pages = pages
        self.oracle = oracle
        self.html_bytes = sum(len(h) for _, h in pages if h is not None)
        self.out_root = work / "out"
        return {"generation_s": gen_s, "pages": len(pages), "html_mib": self.html_bytes / (1 << 20)}

    def run_pass(self, spark, i: int, tracer) -> dict:
        from onnxocr_ray_spark.plans import lineage

        out = self.out_root / f"pass{i}"
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        with tracer.span("pass"), tracer.around(lineage, "extract", "operators.extract.extract"):
            with tracer.span("plans.lineage.run_extraction"):
                first = lineage.run_extraction(spark, spark.read.parquet(self.pages_path), str(out))
            with tracer.span("plans.lineage.resume"):
                again = lineage.run_extraction(spark, spark.read.parquet(self.pages_path), str(out))
        job_s = time.perf_counter() - t0
        return {"job_s": job_s, "out": out, "first": first, "resume": again}

    def check(self, res: dict) -> tuple:
        """(attempted, failed): one operation per url."""
        import pyarrow.parquet as pq

        data = pq.read_table(res["out"] / "data", columns=["url", "extracted_text", "checksum", "wp"])
        urls = data.column("url").to_pylist()
        texts = data.column("extracted_text").to_pylist()
        sums = data.column("checksum").to_pylist()
        wps = data.column("wp").to_pylist()
        bad, seen, buckets = set(), set(), {}
        for url, text, checksum, wp in zip(urls, texts, sums, wps):
            want = self.oracle.get(url)
            got = hashlib.sha256((text or "").encode("utf-8")).hexdigest()
            if url in seen or want is None or got != want or checksum != want:
                bad.add(url)
            seen.add(url)
            buckets.setdefault(int(wp), []).append(url)
        bad.update(set(self.oracle) - seen)                      # missing urls
        lineage = pq.read_table(res["out"] / "lineage", columns=["wp", "bucket_checksum"])
        committed = {}
        for wp, bsum in zip(lineage.column("wp").to_pylist(),
                            lineage.column("bucket_checksum").to_pylist()):
            committed.setdefault(int(wp), []).append(bsum)
        for wp, members in buckets.items():
            want = hashlib.sha256(
                "\n".join(sorted(self.oracle.get(u, "") for u in members)).encode()
            ).hexdigest()
            if committed.get(wp) != [want]:
                bad.update(members)
        failed = len(bad)
        if res["resume"].processed_buckets != 0:
            failed += max(1, res["resume"].n_docs)
        return len(self.oracle), min(failed, len(self.oracle))

    def traced(self, res: dict, tracer, pass_span: int) -> dict:
        data_dir = res["out"] / "data"
        files = list(data_dir.rglob("*.parquet"))
        return {
            "operators.extract.build_s": sum(tracer.durations("operators.extract.extract", pass_span)),
            "plans.lineage.run_extraction_s": sum(tracer.durations("plans.lineage.run_extraction", pass_span)),
            "plans.lineage.resume_s": sum(tracer.durations("plans.lineage.resume", pass_span)),
            "plans.lineage.data_mib": sum(p.stat().st_size for p in files) / (1 << 20),
            "plans.lineage.data_files": float(len(files)),
            "plans.lineage.resume_processed_buckets": float(res["resume"].processed_buckets),
        }

    def throughput(self, job_s: float) -> dict:
        return {
            "docs_per_s": len(self.pages) / job_s,
            "html_mib_per_s": self.html_bytes / (1 << 20) / job_s,
        }

    def kernel_sample(self):
        """A fixed sample of ordinary pages for the per-doc kernel timings."""
        small = [p for p in self.pages if p[1] is not None and len(p[1]) <= STRAGGLER_BYTES]
        step = max(1, len(small) // KERNEL_SAMPLE)
        return small[::step][:KERNEL_SAMPLE]


class CorpusCurate:
    """Registry queries over the sf0.1 tables in seed-shuffled order."""

    name = "corpus_curate"

    def prepare(self, seed: int, work: Path) -> dict:
        import pyarrow.parquet as pq

        from corpus import CORPUS_QUERIES, SF_DIR, query_order
        from oracles import corpus_oracle
        from onnxocr_ray_spark.registry import load_all

        t0 = time.perf_counter()
        self.registry = load_all()
        self.order = query_order(seed)
        self.expected = corpus_oracle(
            SF_DIR, {n: self.registry[n].sql for n in CORPUS_QUERIES}, work / "oracle"
        )
        self.n_docs = pq.read_metadata(f"{SF_DIR}/documents.parquet").num_rows
        return {"generation_s": time.perf_counter() - t0, "order": self.order}

    def run_pass(self, spark, i: int, tracer) -> dict:
        from corpus import SF_DIR, layer_name

        results, times = {}, {}
        t0 = time.perf_counter()
        with tracer.span("pass"):
            for name in self.order:
                tq = time.perf_counter()
                with tracer.span(layer_name(name)):
                    try:
                        results[name] = self.registry[name].fn(spark, SF_DIR).toPandas()
                    except Exception:  # a failing query is a counted failure
                        traceback.print_exc(file=sys.stderr)
                        results[name] = None
                times[name] = time.perf_counter() - tq
        return {"job_s": time.perf_counter() - t0, "results": results, "times": times}

    def check(self, res: dict) -> tuple:
        from oracles import rows_digest

        failed = 0
        for name, df in res["results"].items():
            if df is None or rows_digest(df) != tuple(self.expected[name]):
                failed += 1
                print(f"perfbench: {name} rows differ from the oracle", file=sys.stderr)
        return len(res["results"]), failed

    def traced(self, res: dict, tracer, pass_span: int) -> dict:
        from corpus import layer_name

        return {layer_name(n): t for n, t in res["times"].items()}

    def throughput(self, job_s: float) -> dict:
        return {"docs_per_s": self.n_docs / job_s}

    def kernel_sample(self):
        return []


WORKLOADS = {w.name: w for w in (ExtractHeavytail, CorpusCurate)}


# -------------------------------------------------------------- kernel trace


def kernel_layers(sample, oracle: dict) -> tuple:
    """Per-doc time in each public stage function, in kernels/pipeline.py
    order, on a fixed sample; median over KERNEL_REPS passes. Returns
    (metrics, attempted, failed): each doc's assembled checksum must
    equal the oracle's."""
    from onnxocr_ray_spark.config import DEFAULT_CONFIG as cfg
    from onnxocr_ray_spark.kernels import detect, html, pipeline, sort

    stages = ["decode_html", "tokenize_blocks", "detect_regions_src", "sorted_boxes",
              "classify_rotate", "recognize_all", "assemble"]
    clock = time.perf_counter_ns
    reps = []
    failed = 0
    n_regions = n_kept = n_rotated = 0
    for rep in range(KERNEL_REPS):
        ns = dict.fromkeys(stages, 0)
        for url, payload in sample:
            t = clock()
            src = html.decode_html(payload)
            ns["decode_html"] += clock() - t
            if src is None:
                continue
            t = clock()
            html.tokenize_blocks(src)
            ns["tokenize_blocks"] += clock() - t
            t = clock()
            regions = detect.detect_regions_src(src, cfg)
            ns["detect_regions_src"] += clock() - t
            if not regions:
                continue
            t = clock()
            regions = sort.sorted_boxes(
                regions, y0=lambda r: r.box[0][1], x0=lambda r: r.box[0][0], band=cfg.sort_band_px
            )
            ns["sorted_boxes"] += clock() - t
            raws = [r.raw for r in regions]
            t = clock()
            rotated, labels, confs = pipeline.classify_rotate(raws, cfg)
            ns["classify_rotate"] += clock() - t
            ratios = []
            for r in regions:
                xs = [p[0] for p in r.box]
                ys = [p[1] for p in r.box]
                h = max(ys) - min(ys)
                ratios.append((max(xs) - min(xs)) / h if h > 0.0 else 0.0)
            t = clock()
            texts, scores, batch_id, rec_width = pipeline.recognize_all(rotated, ratios, cfg)
            ns["recognize_all"] += clock() - t
            t = clock()
            doc = pipeline.assemble(regions, texts, scores, labels, confs, batch_id, rec_width, cfg)
            ns["assemble"] += clock() - t
            if rep == 0:
                failed += doc.checksum != oracle.get(url)
                n_regions += len(regions)
                n_kept += doc.n_spans
                n_rotated += sum(a != b for a, b in zip(rotated, raws))
        reps.append(ns)
    n = max(1, len(sample))
    metrics = {
        "kernels.html.decode_html_us": tr.median(r["decode_html"] for r in reps) / n / 1e3,
        "kernels.html.tokenize_blocks_us": tr.median(r["tokenize_blocks"] for r in reps) / n / 1e3,
        "kernels.detect.detect_regions_src_self_us": tr.median(
            r["detect_regions_src"] - r["tokenize_blocks"] for r in reps) / n / 1e3,
        "kernels.sort.sorted_boxes_us": tr.median(r["sorted_boxes"] for r in reps) / n / 1e3,
        "kernels.pipeline.classify_rotate_us": tr.median(r["classify_rotate"] for r in reps) / n / 1e3,
        "kernels.pipeline.recognize_all_us": tr.median(r["recognize_all"] for r in reps) / n / 1e3,
        "kernels.pipeline.assemble_us": tr.median(r["assemble"] for r in reps) / n / 1e3,
        "kernels.regions_per_doc": n_regions / n,
        "kernels.spans_kept_frac": n_kept / n_regions if n_regions else 0.0,
        "kernels.rotated_frac": n_rotated / n_regions if n_regions else 0.0,
    }
    # an oracle-less workload has an empty sample: nothing to check
    return metrics, len(sample), failed


# ---------------------------------------------------------------------- main


def _spill_dirs(tmp: Path) -> dict:
    """Routed-leg spill directories ``extract()`` left in the temp dir."""
    return {
        p: sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
        for p in tmp.glob("onnxocr_routed_spill_*")
    }


def _plan_layers(pm: dict, st: dict) -> dict:
    """Per-layer values read from Spark for one traced pass."""
    return {
        "operators.python_total_s": pm["python_total_s"],
        "operators.python_init_s": pm["python_init_s"],
        "operators.python_boot_s": pm["python_boot_s"],
        "operators.arrow_sent_mib": pm["arrow_sent_b"] / MIB,
        "operators.arrow_recv_mib": pm["arrow_recv_b"] / MIB,
        "operators.shuffle_write_mib": pm["shuffle_write_b"] / MIB,
        "operators.shuffle_records": pm["shuffle_records"],
        "sources.scan_s": pm["scan_s"],
        "sources.scan_mib": pm["scan_b"] / MIB,
        "sources.scan_partitions": st["scan_partitions"],
    }


def measure(spark, workload, seconds: float, tracer, tmp_dir: Path) -> dict:
    """The cold pass, then warm passes until ``seconds`` have passed.

    With tracing on, warm passes run traced, untraced, traced:
    the tracing overhead is measured within one run, balanced against the
    drift of later passes getting faster, and layers are read from the
    traced ones."""
    trace = tracer.enabled
    probe = tr.SparkProbe(spark) if trace else None
    out = {"jobs": [], "layers": [], "attempted": 0, "failed": 0, "check_s": 0.0}
    t_warm = None
    i = 0
    while True:
        traced = trace and i in (0, 1, 3)
        group = f"pass{i}"
        spark.sparkContext.setJobGroup(group, group)
        before = probe.execution_ids() if traced else set()
        spills = _spill_dirs(tmp_dir)
        tracer.enabled = traced
        n_spans = len(tracer.spans)
        res = workload.run_pass(spark, i, tracer)
        tracer.enabled = trace
        tc = time.perf_counter()
        a, f = workload.check(res)
        out["check_s"] += time.perf_counter() - tc
        out["attempted"] += a
        out["failed"] += f
        if traced and i > 0:
            pass_span = next(s["id"] for s in tracer.spans[n_spans:] if s["name"] == "pass")
            pm = probe.plan_metrics(probe.execution_ids() - before)
            st = probe.stage_tasks(group)
            layers = _plan_layers(pm, st)
            layers.update(workload.traced(res, tracer, pass_span))
            if isinstance(workload, ExtractHeavytail):
                new_spill = sum(v for p, v in _spill_dirs(tmp_dir).items() if p not in spills)
                layers.update({
                    "operators.extract.spill_mib": new_spill / MIB,
                    "operators.extract.exploded_spans": pm["generate_rows"],
                    "operators.extract.task_skew": st["task_skew"],
                })
            layers["slots_x_wall_s"] = SLOTS * res["job_s"]
            out["layers"].append(layers)
        if "out" in res:
            shutil.rmtree(res["out"], ignore_errors=True)
        out["jobs"].append((res["job_s"], traced))
        if i == 0:
            t_warm = time.perf_counter()
        i += 1
        if time.perf_counter() - t_warm >= seconds and i > (3 if trace else 1):
            return out


def main(argv=None) -> int:
    """One run; every process it started has ended when it returns."""
    procs.adopt_orphans()
    try:
        return _run(argv)
    finally:
        procs.stop_children()


def _run(argv) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_run = time.perf_counter()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    try:
        import onnxocr_ray_spark  # noqa: F401  the program under test
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from corpus import SF_DIR

    if not (Path(SF_DIR) / "documents.parquet").exists():
        print(f"perfbench: input tables missing under {SF_DIR}", file=sys.stderr)
        return 2
    run_dir = WORK / "runs" / run_id
    _configure_env(run_dir)
    with open(ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)

    tracer = tr.Tracer(run_id, enabled=bool(args.trace))
    workload = WORKLOADS[args.workload]()
    info = workload.prepare(args.seed, WORK)
    layers = {m["name"]: 0.0 for m in spec["per_layer"]}
    attempted = failed = 0
    if args.trace:
        metrics, attempted, failed = kernel_layers(
            workload.kernel_sample(), getattr(workload, "oracle", {}))
        layers.update(metrics)

    sampler = tr.RssSampler()
    sampler.start()
    spark = None
    try:
        setups = []
        for k in range(SETUP_SAMPLES):
            if spark is not None:
                stop_session(spark)
            spark, dt = setup_session(run_dir, k, tracer)
            setups.append(dt)
        sampler.reset()
        run = measure(spark, workload, args.seconds, tracer,
                      run_dir / f"tmp-setup{SETUP_SAMPLES - 1}")
        peak_rss, peak_parts = sampler.peak, sampler.peak_parts
    finally:
        if spark is not None:
            stop_session(spark)
        sampler.stop()
    attempted += run["attempted"]
    failed += run["failed"]

    warm = run["jobs"][1:]
    job_s = tr.median(j for j, traced in warm if not traced)
    e2e = {
        "setup_s": tr.median(setups),
        "cold_job_s": run["jobs"][0][0],
        "job_s": job_s,
        "peak_rss_mib": peak_rss / MIB,
        **workload.throughput(job_s),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "input": info, "setup_samples_s": setups, "warm_jobs_s": [j for j, _ in warm],
        "failed_frac": failed / attempted if attempted else 1.0,
        "check_s": run["check_s"], "peak_rss_parts_mib": peak_parts,
        "end_to_end": e2e,
    }
    if args.trace:
        per_pass = run["layers"]
        for key in per_pass[0]:
            layers[key] = tr.median(p[key] for p in per_pass)
        layers["session.get_spark_s"] = tr.median(tracer.durations("session.get_spark"))
        ship = tracer.durations("packaging.ship_package")   # two spans per setup
        layers["packaging.ship_package_s"] = tr.median(
            ship[k] + ship[k + 1] for k in range(0, len(ship), 2))
        layers["tracing_overhead_s"] = (
            tr.median(j for j, traced in warm if traced) - job_s)
        detail["python_init_question"] = {
            k: layers[k]
            for k in ("operators.python_init_s", "operators.python_total_s", "slots_x_wall_s")
        }
        trace_dir = WORK / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        tracer.write(str(trace_dir / f"{run_id}.json"))
    detail["wall_s"] = time.perf_counter() - t_run
    print("perfbench detail: " + json.dumps(detail, default=str))

    kind = "per_layer" if args.trace else "end_to_end"
    values = layers if args.trace else e2e
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in spec[kind]
        },
    }
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    sys.exit(main())
