"""The three workloads: set-up, one measured op, and the checks on its output.

Every call into the engine goes through :mod:`engine`.  In a traced op
each layer's input is materialized (``localCheckpoint``) before the
layer's public call is timed, so a span holds that layer's work alone;
an untraced op makes the same calls fused, as a user would.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds

import engine as E
import gen
import oracle
from gen import DIM

ACCOUNT = "https://account.blob.core.windows.net/pdfs/"
SSE_SPACE = "<SPECIAL_WHITE_SPACE>"
PAYLOAD = ["id", "origntext", "fileName", "pageNumber"]
SUCCESS_TRAIL = sorted(["PAGE_SEPARATE_FINISHED", "FINISH_OAI_INVOCATION", "FINISH_DB_INSERTION", "COMPLETED"])


def p50(xs):
    return statistics.median(xs)


def p75(xs):
    return statistics.quantiles(xs, n=4, method="inclusive")[2] if len(xs) > 1 else xs[0]


def data_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                out[p] = os.path.getsize(p)
    return out


def read_table(path: str, columns=None, files=None):
    d = ds.dataset(path, format="parquet", partitioning="hive")
    flt = ds.field("fileName").isin(files) if files is not None else None
    return d.to_table(columns=columns, filter=flt)


def vectors(col) -> np.ndarray:
    """list<float> column -> (n, DIM) float32; raises on a null or
    wrong-length vector."""
    arr = col.combine_chunks()
    if arr.null_count:
        raise ValueError(f"{arr.null_count} null vectors")
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float32)
    if len(flat) != len(arr) * DIM:
        raise ValueError("vector length is not the embedding dimension")
    return flat.reshape(len(arr), DIM)


class Run:
    """One benchmark run: the session, its scratch dirs, the tracer and
    the op tallies."""

    def __init__(self, spark, work: str, sizes: dict, tracer, inject_wrong: bool):
        self.spark = spark
        self.work = work
        self.sizes = sizes
        self.tracer = tracer
        self.trace_mode = tracer.enabled
        self.inject_wrong = inject_wrong
        self.attempted = 0
        self.failed = 0  # wrong results and errors
        self.errors = 0  # ops that raised
        self.corpus_dir = os.path.join(work, "corpus")
        self.status_dir = os.path.join(work, "status")
        self.counts = defaultdict(float)  # per-layer counters from traced ops
        self.gauges = defaultdict(list)  # per-layer observations from traced ops
        self._pending = None  # checkpointed frames of the last traced ingest
        self.t0 = time.perf_counter()

    def log(self, msg: str) -> None:
        print(f"perfbench [{time.perf_counter() - self.t0:7.2f} s] {msg}", file=sys.stderr, flush=True)

    def op(self, what: str, problems: list[str], seconds: float | None = None) -> None:
        """Count one checked op; any problem makes it a failed op."""
        self.attempted += 1
        took = f" in {seconds * 1e3:.1f} ms" if seconds is not None else ""
        self.log(f"{what}{took}: {'FAILED' if problems else 'ok'}")
        if problems:
            self.failed += 1
            for p in problems[:5]:
                print(f"FAILED {what}: {p}", file=sys.stderr)

    def span(self, name: str, request: str | None = None):
        return self.tracer.span(name, request)

    @contextmanager
    def request(self, name: str, rid: str, traced: bool):
        """One op; its spans are recorded only when ``traced``."""
        self.tracer.enabled = traced
        try:
            with self.tracer.span(name, rid):
                yield
        finally:
            self.tracer.enabled = self.trace_mode

    def corrupt(self, ids: list[str], expected: list[tuple[float, str]], pool) -> list[str]:
        """Test hook: swap the last id for a non-neighbour, once, to show
        that a wrong top-5 is counted as failed."""
        if not self.inject_wrong or len(ids) == 0:
            return ids
        self.inject_wrong = False
        near = {i for _, i in expected} | set(ids)
        return ids[:-1] + [next(i for i in pool if i not in near)]

    # ---- ingest (shared by ingest_pdf and serve_mixed appends) ----------

    def ingest(self, inbox: str, traced: bool) -> None:
        """pdf_source -> ingest_pages -> write_corpus, then append the
        status events: the reference's upload path."""
        spark = self.spark
        if not traced:
            corpus, status = E.ingest_pages(E.pdf_source(spark, inbox), dim=DIM)
            E.write_corpus(corpus, self.corpus_dir)
            status.write.mode("append").parquet(self.status_dir)
            return
        with self.span("sources.pdf.extract"):
            try:
                pages = E.pdf_source(spark, inbox).localCheckpoint(eager=True)
            except Exception:
                self.counts["sources.pdf.errors"] += 1
                raise
        with self.span("functions.text.chunk"):
            chunks = E.pages_to_chunks(pages).localCheckpoint(eager=True)
        with self.span("functions.embed.embed"):
            emb = E.embed_chunks(chunks, dim=DIM).localCheckpoint(eager=True)
        with self.span("operators.ingest.write"):
            E.write_corpus(emb.select(*E.CORPUS_COLS), self.corpus_dir)
        with self.span("operators.ingest.status_write"):
            # ingest_pages() is the only public source of status events;
            # it re-derives them from the pages exactly as the fused path does.
            E.ingest_pages(E.pdf_source(spark, inbox), dim=DIM)[1].write.mode("append").parquet(self.status_dir)
        self._pending = (pages, emb)

    def ingest_counts(self, inbox: str, before: dict[str, int], files: list[gen.PdfFile]) -> None:
        """Counters of the last traced ingest (taken outside its spans)."""
        pages, emb = self._pending
        self.counts["sources.pdf.pages"] += pages.count()
        self.counts["sources.pdf.pdf_bytes"] += sum(len(f.data) for f in files)
        self.counts["functions.text.chunks"] += emb.count()
        self.counts["functions.embed.tokens"] += sum(
            len(c.split()) for f in files for p in f.normalized for c in oracle.split_chunks(p)
        )
        self.counts["functions.embed.null_vectors"] += emb.filter(emb.embedding.isNull()).count()
        after = {**data_files(self.corpus_dir), **data_files(self.status_dir)}
        new = set(after) - set(before)
        self.counts["operators.ingest.files_written"] += len(new)
        self.counts["operators.ingest.bytes_written"] += sum(after[p] for p in new)

    def check_ingest(self, files: list[gen.PdfFile]) -> list[str]:
        """Pages, chunks and ''.join(chunks) == normalized page for every
        page of ``files``; a 1536-dim embedding equal to the reference
        embedder's for every chunk; the full status trail per chunk."""
        names = [f.name for f in files]
        t = read_table(self.corpus_dir, ["id", "embedding", "origntext", "fileName", "pageNumber", "chunk_index"], names)
        problems = []
        got = defaultdict(list)
        for fn, pn, ci, text in zip(*(t.column(c).to_pylist() for c in ("fileName", "pageNumber", "chunk_index", "origntext"))):
            got[(fn, pn)].append((ci, text))
        want_pages = {(f.name, n + 1): p for f in files for n, p in enumerate(f.normalized)}
        if set(got) != set(want_pages):
            problems.append(f"pages: {len(got)} stored, {len(want_pages)} expected")
        for key, norm in want_pages.items():
            chunks = [c for _, c in sorted(got.get(key, []))]
            want = oracle.split_chunks(norm)
            if len(chunks) != len(want):
                problems.append(f"{key}: {len(chunks)} chunks, expected {len(want)}")
            elif "".join(chunks) != norm or chunks != want:
                problems.append(f"{key}: chunk text differs from the normalized page")
        try:
            vecs = vectors(t.column("embedding"))
            texts = t.column("origntext").to_pylist()
            for j in range(0, len(texts), max(1, len(texts) // 3)):
                if not np.allclose(vecs[j], oracle.embed(texts[j], DIM), atol=1e-6):
                    problems.append(f"embedding of chunk {j} differs from the reference embedder")
        except ValueError as e:
            problems.append(str(e))
        s = read_table(self.status_dir, ["id", "status"], names)
        trail = defaultdict(list)
        for i, st in zip(s.column("id").to_pylist(), s.column("status").to_pylist()):
            trail[i].append(st)
        ids = set(t.column("id").to_pylist())
        if set(trail) != ids or any(sorted(v) != SUCCESS_TRAIL for v in trail.values()):
            problems.append(f"status events: {len(trail)} chunk trails for {len(ids)} chunks, or a trail is not the success trail")
        return problems


def land(files: list[gen.PdfFile], inbox: str) -> None:
    os.makedirs(inbox)
    for f in files:
        with open(os.path.join(inbox, f.name), "wb") as out:
            out.write(f.data)


def text_bytes(files: list[gen.PdfFile]) -> int:
    return sum(len(p.encode()) for f in files for p in f.pages)


# ---------------------------------------------------------------------------


class IngestPdf:
    """Batch ingest of real %PDF files (10 pages each), one batch at a time."""

    name = "ingest_pdf"

    def __init__(self, run: Run, seed: int):
        self.run, self.seed, self.sz = run, seed, run.sizes
        self.lat, self.pages, self.stored, self.text = [], [], 0, 0  # untraced batches
        self.next_batch = None

    def setup(self) -> list:
        (warm, self.next_batch), parts = gen.workload_inputs(self.name, self.seed, self.sz)
        inbox = os.path.join(self.run.work, "inbox", "warm")
        land(warm, inbox)
        self.run.ingest(inbox, traced=False)
        self.run.op("warm-up ingest", self.run.check_ingest(warm))
        return parts

    def enough(self, n_ops: int) -> bool:
        return n_ops >= (2 if self.run.trace_mode else 1)

    def step(self, i: int, traced: bool) -> None:
        run, files = self.run, self.next_batch
        inbox = os.path.join(run.work, "inbox", f"b{i}")
        land(files, inbox)
        before = {**data_files(run.corpus_dir), **data_files(run.status_dir)}
        t0 = time.perf_counter()
        with run.request("request.ingest", f"ingest-{i}", traced):
            run.ingest(inbox, traced)
        dt = time.perf_counter() - t0
        after = {**data_files(run.corpus_dir), **data_files(run.status_dir)}
        if traced:
            run.ingest_counts(inbox, before, files)
        else:
            self.lat.append(dt)
            self.pages.append(sum(len(f.pages) for f in files))
            self.stored += sum(v for p, v in after.items() if p not in before)
            self.text += text_bytes(files)
        run.op(f"ingest batch {i}", run.check_ingest(files), dt)
        self.next_batch = gen.ingest_batch(self.seed, i + 1, self.sz["batch_files"], self.sz["pages_per_file"])

    def results(self) -> dict:
        ms = [x * 1e3 for x in self.lat]
        return {
            "op_p50_ms": (p50(ms), len(ms)),
            "items_per_s": (sum(self.pages) / sum(self.lat), sum(self.pages)),
            "stored_bytes_per_input_byte": (self.stored / self.text, len(ms)),
            "report": {
                "ingest_pages_per_s": (sum(self.pages) / sum(self.lat), "1/s", sum(self.pages)),
                "stored_bytes_per_text_byte": (self.stored / self.text, "B/B", len(ms)),
                "batch_p75_ms": (p75(ms), "ms", len(ms)),
            },
        }


# ---------------------------------------------------------------------------


class ServeMixed:
    """Closed loop, one client: searches, status listings and PDF appends."""

    name = "serve_mixed"

    def __init__(self, run: Run, seed: int):
        self.run, self.seed, self.sz = run, seed, run.sizes
        self.lat = defaultdict(list)  # kind -> seconds (searches: untraced ones only)
        self.text = 0
        self.n_search = 0

    # -- corpus state ------------------------------------------------------

    def refresh_oracle(self) -> None:
        t = read_table(self.run.corpus_dir, ["id", "embedding", "origntext", "fileName", "pageNumber"])
        ids = t.column("id").to_pylist()
        self.index = oracle.ExactIndex(ids, vectors(t.column("embedding")))
        self.rows = {
            i: (txt, fn, pn)
            for i, txt, fn, pn in zip(ids, *(t.column(c).to_pylist() for c in ("origntext", "fileName", "pageNumber")))
        }

    def setup(self) -> list:
        run, sz = self.run, self.sz
        self.inputs, parts = gen.workload_inputs(self.name, self.seed, sz)
        inbox = os.path.join(run.work, "inbox", "corpus")
        land(self.inputs.corpus, inbox)
        run.ingest(inbox, traced=False)
        self.text += text_bytes(self.inputs.corpus)
        run.op("corpus ingest", run.check_ingest(self.inputs.corpus))
        self.corpus_df = run.spark.read.parquet(run.corpus_dir)
        self.refresh_oracle()
        warm = [" ".join(f.normalized[0].split(" ")[:30]) for f in self.inputs.corpus[:2]]
        for n, text in enumerate(warm):
            self.search(f"warm-{n}", text, traced=False)
        self.listing("warm-listing", "completed", traced=False)
        if run.trace_mode:
            tiny = os.path.join(run.work, "tiny")
            E.write_corpus(self.corpus_df.limit(10), tiny)
            tiny_df = run.spark.read.parquet(tiny)
            for n, text in enumerate(warm + warm):
                q = E.hash_embed_text(text, DIM)
                with run.span("operators.knn.fixed", f"probe-{n}"):
                    E.knn(tiny_df, q, k=5, id_col="id", payload_cols=PAYLOAD).localCheckpoint(eager=True)
        return parts

    def enough(self, n_ops: int) -> bool:
        # Whole blocks only, so every run has the same request mix.
        return n_ops >= 10 * self.sz["min_blocks"] and n_ops % 10 == 0

    def step(self, i: int, traced: bool) -> None:
        if i >= len(self.inputs.requests):
            raise RuntimeError("request sequence exhausted; raise serve_mixed blocks")
        req = self.inputs.requests[i]
        rid = f"{req.kind}-{i}"
        if req.kind == "search":
            # In a traced run searches alternate traced/untraced, so the
            # same run measures the tracing overhead.
            self.n_search += 1
            self.search(rid, req.text, traced and self.n_search % 2 == 0)
        elif req.kind == "listing":
            self.listing(rid, req.listing, traced)
        else:
            self.append(rid, i, req.file, traced)

    # -- the three request kinds -----------------------------------------

    def search(self, rid: str, text: str, traced: bool) -> None:
        run = self.run
        corpus_df = self.corpus_df
        t0 = time.perf_counter()
        with run.request("request.search", rid, traced):
            if traced:
                with run.span("functions.embed.query"):
                    q = E.hash_embed_text(text, DIM)
                with run.span("operators.knn.scan"):
                    hits = E.knn(corpus_df, q, k=5, id_col="id", payload_cols=PAYLOAD).localCheckpoint(eager=True)
                with run.span("operators.serving.serve"):
                    events = E.sse_events(E.llm_extract(hits), ACCOUNT).collect()
            else:
                q = E.hash_embed_text(text, DIM)
                hits = E.knn(corpus_df, q, k=5, id_col="id", payload_cols=PAYLOAD)
                events = E.sse_events(E.llm_extract(hits), ACCOUNT).collect()
        dt = time.perf_counter() - t0
        if not (traced or rid.startswith("warm")):
            self.lat["search"].append(dt)
        if traced:
            run.gauges["operators.knn.scan_tasks"].append(corpus_df.rdd.getNumPartitions())
            run.gauges["operators.knn.corpus_files"].append(len(corpus_df.inputFiles()))
            run.gauges["operators.knn.rows_per_result"].append(len(self.index) / 5)
            run.gauges["operators.serving.events"].append(len(events))
        run.op(f"search {rid}", self.check_search(text, q, events), dt)

    def check_search(self, text: str, q, events) -> list[str]:
        problems = []
        if not np.allclose(np.asarray(q, dtype=np.float32), oracle.embed(text, DIM), atol=1e-6):
            problems.append("query vector differs from the reference embedder")
        expected = self.index.topk(np.asarray(q, dtype=np.float32))[0]
        ids = []
        for e in events:
            if e["id"] not in ids:
                ids.append(e["id"])
        ids = self.run.corrupt(ids, expected, self.rows)
        reason = oracle.check_topk(ids, expected)
        if reason:
            problems.append(reason)
        for e in events:
            if e["id"] not in self.rows:
                problems.append(f"event for unknown id {e['id']}")
                continue
            txt, fn, pn = self.rows[e["id"]]
            body = json.loads(e["event_json"])
            summary = txt[:80] + "..." if len(txt) > 80 else txt
            want = {
                1: {"type": "create", "id": e["id"]},
                2: {"type": "createLink", "id": e["id"], "link": f"{ACCOUNT}{fn}#page={pn}", "pageNumber": pn, "fileName": fn},
                3: {"type": "addMessage", "id": e["id"], "content": summary.replace(" ", SSE_SPACE)},
            }.get(e["seq"])
            if body != want:
                problems.append(f"event {e['seq']} for {e['id']} is {body}")
        if [e["seq"] for e in events] != [1, 2, 3] * len(ids):
            problems.append("events are not create/createLink/addMessage per hit, in hit order")
        return problems

    def listing(self, rid: str, which: str, traced: bool) -> None:
        run = self.run
        listing = E.completed_listing if which == "completed" else E.failed_listing
        t0 = time.perf_counter()
        with run.request("request.listing", rid, traced):
            if traced:
                with run.span("operators.status.upsert"):
                    current = E.status_upsert(run.spark.read.parquet(run.status_dir)).localCheckpoint(eager=True)
                with run.span("operators.status.listing"):
                    rows = listing(current).collect()
            else:
                rows = listing(E.status_upsert(run.spark.read.parquet(run.status_dir))).collect()
        dt = time.perf_counter() - t0
        if not rid.startswith("warm"):
            self.lat["listing"].append(dt)
        if traced:
            run.gauges["operators.status.events"].append(ds.dataset(run.status_dir, format="parquet").count_rows())
            run.gauges["operators.status.rows_out"].append(len(rows))
        problems = []
        if which == "failed":
            if rows:
                problems.append(f"{len(rows)} rows in the failed listing of a corpus with no failures")
        else:
            keys = [(r["fileName"], r["pageNumber"]) for r in rows]
            if keys != sorted(keys):
                problems.append("completed listing is not ordered by (fileName, pageNumber)")
            if {r["id"] for r in rows} != set(self.rows) or len(rows) != len(self.rows):
                problems.append(f"completed listing has {len(rows)} rows for {len(self.rows)} chunks")
            if any(r["status"] != "COMPLETED" for r in rows):
                problems.append("completed listing holds a non-COMPLETED row")
        run.op(f"listing {rid}", problems, dt)

    def append(self, rid: str, i: int, f: gen.PdfFile, traced: bool) -> None:
        """Time from the PDF landing to its chunks being searchable."""
        run = self.run
        inbox = os.path.join(run.work, "inbox", f"append-{i}")
        land([f], inbox)
        before = {**data_files(run.corpus_dir), **data_files(run.status_dir)}
        t0 = time.perf_counter()
        with run.request("request.append", rid, traced):
            run.ingest(inbox, traced)
            with run.span("client.refresh"):
                self.corpus_df = run.spark.read.parquet(run.corpus_dir)
        dt = time.perf_counter() - t0
        self.lat["append"].append(dt)
        self.text += text_bytes([f])
        if traced:
            run.ingest_counts(inbox, before, [f])
        problems = run.check_ingest([f])
        # The relation the next search scans must hold every file written.
        new = set(data_files(run.corpus_dir)) - set(before)
        visible = {os.path.realpath(unquote(urlparse(p).path)) for p in self.corpus_df.inputFiles()}
        missing = {os.path.realpath(p) for p in new} - visible
        if missing:
            problems.append(f"{len(missing)} files written for {f.name} are not in the searched corpus")
        run.op(f"append {rid}", problems, dt)
        self.refresh_oracle()

    def results(self) -> dict:
        s = [x * 1e3 for x in self.lat["search"]]
        n_req = sum(len(v) for v in self.lat.values())
        busy = sum(sum(v) for v in self.lat.values())
        stored = sum(data_files(self.run.corpus_dir).values()) + sum(data_files(self.run.status_dir).values())
        rep = {
            "search_p50_ms": (p50(s), "ms", len(s)),
            "search_p75_ms": (p75(s), "ms", len(s)),
        }
        for kind in ("append", "listing"):
            v = [x * 1e3 for x in self.lat[kind]]
            if v:
                rep[f"{kind}_p50_ms"] = (p50(v), "ms", len(v))
        return {
            "op_p50_ms": (p50(s), len(s)),
            "items_per_s": (n_req / busy, n_req),
            "stored_bytes_per_input_byte": (stored / self.text, 1),
            "report": rep,
        }


# ---------------------------------------------------------------------------


class RetrieveBatch:
    """Batches of query vectors through knn_join over a Gaussian mixture."""

    name = "retrieve_batch"

    def __init__(self, run: Run, seed: int):
        self.run, self.seed, self.sz = run, seed, run.sizes
        self.lat, self.queries = [], 0  # untraced batches

    def setup(self) -> list:
        run, sz = self.run, self.sz
        self.inputs, parts = gen.workload_inputs(self.name, self.seed, sz)
        n = len(self.inputs.ids)
        table = pa.table({
            "id": self.inputs.ids,
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(self.inputs.vectors.ravel()), DIM).cast(pa.list_(pa.float32())),
            "origntext": [""] * n,
            "fileName": [f"mix{j // 100:05d}.pdf" for j in range(n)],
            "pageNumber": pa.array([j % 100 + 1 for j in range(n)], pa.int32()),
            "chunk_index": pa.array([0] * n, pa.int32()),
        })
        E.write_corpus(run.spark.createDataFrame(table), run.corpus_dir)
        self.corpus_df = run.spark.read.parquet(run.corpus_dir)
        stored = read_table(run.corpus_dir, ["id", "embedding"])
        order = np.argsort(np.asarray(stored.column("id").to_pylist()))
        same = len(order) == n and np.array_equal(vectors(stored.column("embedding"))[order], self.inputs.vectors)
        run.op("corpus write", [] if same else ["stored corpus differs from the generated vectors"])
        self.index = oracle.ExactIndex(self.inputs.ids, self.inputs.vectors)
        self.bytes_in = n * DIM * 4 + sum(len(i) for i in self.inputs.ids)
        for w in range(2):  # warm-up: the first full batches still run slower
            self.batch(-1 - w, self.inputs.queries(0), traced=False)
        return parts

    def enough(self, n_ops: int) -> bool:
        return n_ops >= (2 if self.run.trace_mode else 1)

    def step(self, i: int, traced: bool) -> None:
        self.batch(i, self.inputs.queries(i + 1), traced)

    def batch(self, i: int, qmat: np.ndarray, traced: bool) -> None:
        run = self.run
        frame = pd.DataFrame({"query_id": np.arange(len(qmat)), "query_vec": list(qmat)})
        schema = "query_id long, query_vec array<float>"
        t0 = time.perf_counter()
        with run.request("request.batch", f"batch-{i}", traced):
            if traced:
                with run.span("arrow.to_spark"):
                    qdf = run.spark.createDataFrame(frame, schema).localCheckpoint(eager=True)
                with run.span("operators.knn.join"):
                    joined = E.knn_join(self.corpus_df, qdf, k=5, id_col="id", payload_cols=["id"])
                    res = joined.localCheckpoint(eager=True)
                with run.span("arrow.to_pandas"):
                    out = res.toPandas()
            else:
                qdf = run.spark.createDataFrame(frame, schema)
                out = E.knn_join(self.corpus_df, qdf, k=5, id_col="id", payload_cols=["id"]).toPandas()
        dt = time.perf_counter() - t0
        if i >= 0 and not traced:  # negative i: warm-up
            self.lat.append(dt)
            self.queries += len(qmat)
        if traced:
            plan = joined._jdf.queryExecution().executedPlan().toString()
            run.gauges["operators.knn.join_gemm"].append(1 if "MapInPandas" in plan else 0)
            run.gauges["operators.knn.join_scan_tasks"].append(self.corpus_df.rdd.getNumPartitions())
            run.gauges["operators.knn.corpus_files"].append(len(self.corpus_df.inputFiles()))
        expected = self.index.topk(qmat)
        problems = []
        by_q = out.sort_values(["query_id", "rank"]).groupby("query_id")["id"].apply(list).to_dict()
        if len(by_q) != len(qmat):
            problems.append(f"{len(by_q)} of {len(qmat)} queries answered")
        for qi, exp in enumerate(expected):
            ids = self.run.corrupt(by_q.get(qi, []), exp, self.inputs.ids)
            reason = oracle.check_topk(ids, exp)
            if reason:
                problems.append(f"query {qi}: {reason}")
        run.op(f"batch {i}", problems, dt)

    def results(self) -> dict:
        ms = [x * 1e3 for x in self.lat]
        stored = sum(data_files(self.run.corpus_dir).values())
        return {
            "op_p50_ms": (p50(ms), len(ms)),
            "items_per_s": (self.queries / sum(self.lat), self.queries),
            "stored_bytes_per_input_byte": (stored / self.bytes_in, 1),
            "report": {
                "batch_queries_per_s": (self.queries / sum(self.lat), "1/s", self.queries),
                "batch_p75_ms": (p75(ms), "ms", len(ms)),
            },
        }


WORKLOADS = {w.name: w for w in (IngestPdf, ServeMixed, RetrieveBatch)}
