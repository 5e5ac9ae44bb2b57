"""The repository benchmark: one workload per run, at embedding dim 1536.

    python3 perfbench/run.py --workload {ingest_pdf,serve_mixed,retrieve_batch}
        --seed N --seconds S --trace {0,1} [--scale {full,smoke}]

Run from the repository root.  Inputs come from ``gen.py`` (a pure
function of the seed); every op's output is checked by ``oracle.py``.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the ``end_to_end`` metrics of
BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``.  The lines before it report the same numbers by the
workload's own metric names, with units and sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark"
DEADLINE_S = 150  # the whole run must end well inside 180 s


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "smoke"), default="full")
    p.add_argument("--inject-wrong-topk", action="store_true",
                   help="corrupt one top-5 result before it is checked (tests the oracle)")
    return p.parse_args(argv)


def launcher_env(work: str) -> None:
    """Environment the engine needs when run from any directory: Spark's
    Python workers import the package through PYTHONPATH, and every
    scratch file (Spark local dirs, JVM and Python temp files) stays
    under ``work``, which the run removes."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # No hsperfdata from either JVM (spark-submit's launcher, then Spark's
    # own): HotSpot writes it under /tmp whatever java.io.tmpdir says.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])
    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(run, wl, session_s: float) -> dict[str, float]:
    """Per-layer numbers from the spans and counters of a traced run."""
    from spans import layer_of
    from workloads import p50

    T = run.tracer
    measured = [s for s in T.spans if s["request"] not in (None, "setup")]

    def per_request(*names):
        acc = {}
        for s in measured:
            if s["name"] in names:
                acc[s["request"]] = acc.get(s["request"], 0.0) + s["end"] - s["start"]
        return list(acc.values())

    def med(xs, scale=1.0):
        return p50(xs) * scale if xs else 0.0

    c, g = run.counts, run.gauges
    out = {
        "session.start_s": session_s,
        "sources.pdf.extract_s": med(per_request("sources.pdf.extract")),
        "sources.pdf.pages": c["sources.pdf.pages"],
        "sources.pdf.pdf_bytes": c["sources.pdf.pdf_bytes"],
        "sources.pdf.errors": c["sources.pdf.errors"],
        "functions.text.chunk_s": med(per_request("functions.text.chunk")),
        "functions.text.chunks": c["functions.text.chunks"],
        "functions.text.chunks_per_page": c["functions.text.chunks"] / c["sources.pdf.pages"] if c["sources.pdf.pages"] else 0.0,
        "functions.embed.embed_s": med(per_request("functions.embed.embed")),
        "functions.embed.query_ms": med(per_request("functions.embed.query"), 1e3),
        "functions.embed.tokens": c["functions.embed.tokens"],
        "functions.embed.null_vectors": c["functions.embed.null_vectors"],
        "operators.ingest.write_s": med(per_request("operators.ingest.write", "operators.ingest.status_write")),
        "operators.ingest.bytes_written": c["operators.ingest.bytes_written"],
        "operators.ingest.files_written": c["operators.ingest.files_written"],
        "operators.status.upsert_s": med(per_request("operators.status.upsert", "operators.status.listing")),
        "operators.knn.fixed_ms": med(per_request("operators.knn.fixed"), 1e3),
        "operators.knn.scan_ms": med(per_request("operators.knn.scan"), 1e3),
        "operators.knn.join_s": med(per_request("operators.knn.join")),
        "operators.serving.serve_ms": med(per_request("operators.serving.serve"), 1e3),
        "arrow.transfer_ms": med(per_request("arrow.to_spark", "arrow.to_pandas"), 1e3),
    }
    for name in ("operators.status.events", "operators.status.rows_out", "operators.knn.scan_tasks",
                 "operators.knn.corpus_files", "operators.knn.rows_per_result", "operators.knn.join_gemm",
                 "operators.knn.join_scan_tasks", "operators.serving.events"):
        out[name] = med(g[name])

    # Tracing overhead and accounting on the workload's primary op.
    root = {"ingest_pdf": "request.ingest", "serve_mixed": "request.search", "retrieve_batch": "request.batch"}[wl.name]
    selft = T.self_times()
    roots = [s for s in measured if s["name"] == root]
    client = {r["request"]: 0.0 for r in roots}
    for s in measured:
        if s["request"] in client and layer_of(s["name"]) == "client":
            client[s["request"]] += selft[s["id"]]
    traced = [r["end"] - r["start"] for r in roots]
    untraced = wl.lat["search"] if wl.name == "serve_mixed" else wl.lat
    out["client.self_ms"] = med(list(client.values()), 1e3)
    out["trace.request_ms"] = med(traced, 1e3)
    out["trace.untraced_ms"] = med(untraced, 1e3)
    out["trace.overhead_ms"] = out["trace.request_ms"] - out["trace.untraced_ms"]
    out["trace.layers_ms"] = med([r["end"] - r["start"] - client[r["request"]] for r in roots], 1e3)
    out["trace.spans"] = len(T.spans)
    return out


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(sys.argv[1:] if argv is None else argv)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            contract = json.load(f)
        with open(os.path.join(HERE, "spec.json")) as f:
            spec = json.load(f)
    except OSError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if args.workload not in spec["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the engine package {PACKAGE} is not in {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    # A terminated run still stops its JVM and removes its scratch dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        launcher_env(work)
        t_setup = time.perf_counter()
        import engine as E
        import gen
        from spans import Tracer
        from workloads import WORKLOADS, Run

        tracer = Tracer(bool(args.trace))
        with tracer.span("session.start", "setup"):
            spark = E.get_spark()
        session_s = time.perf_counter() - t_setup
        run = Run(spark, work, spec["workloads"][args.workload][args.scale], tracer, args.inject_wrong_topk)
        wl = WORKLOADS[args.workload](run, args.seed)
        inputs = wl.setup()
        setup_s = time.perf_counter() - t_setup

        problem = check_digests(gen, args, inputs)
        if problem:
            print(f"perfbench: {problem}", file=sys.stderr)
            return 1

        t0 = time.perf_counter()
        i = 0
        while not (time.perf_counter() - t0 >= args.seconds and wl.enough(i)):
            if time.perf_counter() - t_start > DEADLINE_S and i > 0:
                print(f"perfbench: stopped at the {DEADLINE_S} s deadline after {i} ops", file=sys.stderr)
                break
            # Traced runs alternate traced and untraced ops (serve_mixed
            # alternates its searches itself) to measure the overhead.
            traced = bool(args.trace) and (wl.name == "serve_mixed" or i % 2 == 1)
            try:
                wl.step(i, traced)
            except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
                run.errors += 1
                run.op(f"op {i}", [traceback.format_exc()])
            i += 1

        res = wl.results()
        e2e = {"setup_s": (setup_s, 1)} | {k: v for k, v in res.items() if k != "report"}
        print(f"workload {args.workload} seed {args.seed} scale {args.scale}: attempted {run.attempted} "
              f"failed {run.failed} (incorrect {run.failed - run.errors}, errors {run.errors})")
        units = {m["name"]: m["unit"] for m in contract["end_to_end"] + contract["per_layer"]}
        for name, (value, n) in e2e.items():
            print(f"  {name} = {value:.6g} {units[name]} (n={n})")
        for name, (value, unit, n) in res["report"].items():
            print(f"  {args.workload}.{name} = {value:.6g} {unit} (n={n})")
        if args.trace:
            values = layer_metrics(run, wl, session_s)
            for name, value in values.items():
                print(f"  {name} = {value:.6g} {units.get(name, '')}")
            spans_dir = os.path.join(ROOT, ".perfbench", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            tracer.write(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
            wanted = contract["per_layer"]
        else:
            values = {k: v for k, (v, _) in e2e.items()}
            wanted = contract["end_to_end"]
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)  # last stdout line, after the JVM is gone
    return 0


def check_digests(gen, args, inputs) -> str | None:
    """The canary (fixed seed, all generators) must match on every run;
    this seed's inputs must match where a digest is recorded."""
    with open(os.path.join(HERE, "digests.json")) as f:
        recorded = json.load(f)
    canary = gen.canary_digest()
    if canary != recorded["canary"]:
        return f"generator canary digest changed: {canary} != {recorded['canary']}"
    want = recorded[args.scale].get(args.workload, {}).get(str(args.seed))
    got = gen.digest(*inputs)
    if want is None:
        print(f"perfbench: no recorded digest for seed {args.seed}; inputs digest {got}", file=sys.stderr)
    elif got != want:
        return f"inputs digest for seed {args.seed} changed: {got} != {want}"
    return None


if __name__ == "__main__":
    sys.exit(main())
