"""Exact K-nearest-neighbor top-k — the reference's flagship query.

Reference semantics (SSEOpenAIController.java:315-316):

    SELECT id, origntext, filename, pageNumber
    FROM DOCUMENT_SEARCH_VECTOR ORDER BY embedding <-> ?::vector LIMIT 5

i.e. **brute-force exact** L2 nearest neighbor (no ANN index exists in
the reference repo), k=5.  pgvector's seq-scan tiebreak on equal
distances is storage order — unportable — so this engine declares the
tiebreak ``(distance, id)``.

Spark-first physical design
---------------------------
One scorer, :func:`_scored`, answers both a single query (:func:`knn`)
and a batch (:func:`knn_join`), so the two give bit-identical
distances.  It takes *blocks* of the corpus — ``(payload, vector
lengths, flat vector values)`` — scores all queries against each block
by L2 distance (the reference's ``<->``, the only distance it asks for)
with one NumPy GEMM, and keeps per query its k nearest rows plus any
row tied with the k-th.  Only these narrow candidates (no embedding)
leave the scorer.

* Single query: the query becomes a one-row matrix on the driver (no
  Spark job), and ``orderBy(distance, id).limit(k)`` over the candidates
  plans as ``TakeOrderedAndProject`` — a per-task top-k merged on the
  driver.  **No full sort, no shuffle of the corpus.**
* Batch: the query relation is collected once, as one Arrow table
  (under :data:`QUERY_BATCH_MAX_ROWS` rows); the candidates cross one
  exchange, to a per-query window that takes the global top-k.
* A query whose length differs from a corpus vector fails with
  pgvector's "different vector dimensions" error, instead of silently
  scoring the shared prefix; a NaN or infinite query component is
  refused on the driver, in pgvector's words.
* Results are ordered ``(distance ASC NULLS LAST, id)``, as pgvector's
  ``ORDER BY ... ASC`` puts a null distance (a null vector) last.

The blocks come from one of two sources:

* **Files.** A corpus whose optimized plan is a bare Parquet relation,
  at most under a projection of plain columns, whose needed columns are
  all data columns (not hive partition columns), and whose file URIs
  ``pyarrow.fs.FileSystem.from_uri`` opens, is never scanned by Spark.
  Its ``inputFiles()`` are spread, balanced by bytes, over the tasks
  (:data:`TASK_BYTES`) of a ``spark.range(...).mapInArrow``.
  Each task decodes its files with pyarrow, matching each column to the
  file's field as Spark's reader does (case-insensitively unless
  ``spark.sql.caseSensitive``), and keeps each decoded block
  in a byte-bounded LRU (:data:`BLOCK_CACHE_BYTES`) in its reused Python
  worker, keyed by the file's ``(uri, size, mtime)`` and the columns
  read, so a worker decodes a file once, not once per search, and a file
  rewritten in place is never served stale.  The plan holds no
  ``FileScan``.
* **Scan.** Any other corpus (in-memory, filtered, joined, derived)
  feeds the scorer the Arrow batches of its own scan, through
  ``mapInArrow``.

The fold of ``functions/vector.py`` (interpreted per row in the scan)
scores only what the registry alone sends :func:`knn`: a one-row
DataFrame query, or a metric other than ``l2``.

The names are the reference's and fixed: a result's distance is
``distance``; :func:`knn_join` reads its queries from ``query_id`` and
``query_vec`` and ranks them in ``rank``.
"""

from __future__ import annotations

import json
from collections import OrderedDict
from collections.abc import Iterator, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vector import DISTANCE_FNS


def _query_col(query_vec: Sequence[float]) -> Column:
    # json.dumps writes each float's shortest round-trip repr (and NaN /
    # Infinity, which Spark's JSON reader accepts), so the folded literal
    # holds exactly these doubles.
    return F.from_json(F.lit(json.dumps([float(v) for v in query_vec])), "array<double>")


def _dims_checked(size: Column, dim: Column, value: Column) -> Column:
    """``value``, or pgvector's "different vector dimensions" error for a
    row whose vector length ``size`` is not ``dim`` (a null passes)."""
    return F.when(
        size != dim,
        F.raise_error(F.format_string("different vector dimensions %d and %d", size, dim)),
    ).otherwise(value)


def knn(
    corpus: DataFrame,
    query_vec: Sequence[float] | DataFrame,
    k: int = 5,
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Exact top-k nearest neighbors of one query vector: the
    ``payload_cols`` (all but ``vec_col`` by default) and ``distance``,
    ordered ``(distance, id_col)``.

    An L2 query given as a Python sequence is scored by :func:`_scored`,
    as in :func:`knn_join`.  ``query_vec`` may also be a 1-row DataFrame
    whose single column is the vector (joined via broadcast); it, and
    the other metrics, take the fold.
    """
    asked = [c for c in corpus.columns if c != vec_col] if payload_cols is None else list(payload_cols)
    if metric == "l2" and not isinstance(query_vec, DataFrame):
        import pyarrow as pa

        vec = pa.array([[float(v) for v in query_vec]], pa.list_(pa.float64()))
        qid = T.StructField("_query", T.LongType())
        qtable = pa.table({qid.name: [0], "_vec": vec})
        scored = _scored(corpus, qtable, qid, k, vec_col, id_col, asked)
    else:
        # The fold: only the registry reaches it (DataFrame queries, the
        # cosine / dot / l2sq metrics); ROADMAP item 5 deletes it with them.
        dist_fn = DISTANCE_FNS[metric]
        vec = F.col(vec_col)
        if isinstance(query_vec, DataFrame):
            query = F.col(query_vec.columns[0])
            corpus = corpus.crossJoin(F.broadcast(query_vec))
        else:
            query = _query_col(query_vec)
        scored = corpus.withColumn(
            "distance", _dims_checked(F.size(vec), F.size(query), dist_fn(vec, query))
        )
    cols = asked if "distance" in asked else [*asked, "distance"]
    # TakeOrderedAndProject: per-task heap, k rows to the driver.
    return scored.select(*cols).orderBy(F.col("distance").asc_nulls_last(), id_col).limit(k)


# Bounded-query-batch contract.  knn_join and the batched graph walk
# collect the QUERY relation to a driver closure — the same data
# movement broadcasting it performs, valid only while the batch is
# genuinely small (serving batches: 10s-1000s of rows).  Collecting more
# than this many query rows raises instead of silently materializing an
# unbounded relation on the driver.
QUERY_BATCH_MAX_ROWS = 100_000


def collect_query_batch(queries: DataFrame, cols: Sequence[str]):
    """Collect the query relation under :data:`QUERY_BATCH_MAX_ROWS` as
    one Arrow table — one ``limit(cap + 1)`` job (the limit bounds the
    transfer itself, not just a post-hoc check), raising when the cap
    is exceeded.  ``cols[0]`` is the query id, which keys the batched
    joins' per-query window: a repeated id raises ``ValueError`` rather
    than merging two queries' results."""
    import pyarrow.compute as pc

    cap = QUERY_BATCH_MAX_ROWS
    table = queries.select(*cols).limit(cap + 1).toArrow()
    if table.num_rows > cap:
        raise ValueError(
            f"query batch exceeds {cap} rows; the GEMM/graph-walk paths "
            "collect queries to a driver closure, which is only "
            "broadcast-equivalent for bounded serving batches — split the "
            "batch"
        )
    counts = pc.value_counts(table.column(0))
    repeated = counts.field("values").filter(pc.greater(counts.field("counts"), 1))
    if len(repeated):
        raise ValueError(f"query ids must be unique: {cols[0]} {repeated[0].as_py()!r} repeats")
    return table


# Per Python worker: decoded corpus blocks beyond this many bytes are
# evicted, least recently used first.  A block larger than the bound is
# decoded for its batch and not kept.
BLOCK_CACHE_BYTES = 256 << 20


class _BlockCache:
    """Decoded file blocks of one Python worker, least recently used first."""

    def __init__(self, max_bytes: int):
        self.max_bytes, self.nbytes = max_bytes, 0
        self.blocks: OrderedDict = OrderedDict()  # key -> (block, nbytes)

    def get(self, key, load):
        if key in self.blocks:
            self.blocks.move_to_end(key)
            return self.blocks[key][0]
        block = load()
        size = sum(part.nbytes for part in block)
        if size <= self.max_bytes:
            self.blocks[key] = (block, size)
            self.nbytes += size
            while self.nbytes > self.max_bytes:
                self.nbytes -= self.blocks.popitem(last=False)[1][1]
        return block

    def clear(self) -> None:
        self.blocks.clear()
        self.nbytes = 0


_BLOCKS = _BlockCache(BLOCK_CACHE_BYTES)


def _decode(table, vec_col: str, cols: Sequence[str]):
    """An Arrow table -> a scorer block: ``(payload table, per-row vector
    length with -1 for a null vector, flat values of the non-null
    vectors)``.  The values keep their stored type."""
    import pyarrow.compute as pc

    vecs = table.column(vec_col).combine_chunks()
    lens = pc.list_value_length(vecs).fill_null(-1).to_numpy()
    return table.select(list(cols)), lens, vecs.flatten().to_numpy(zero_copy_only=False)


def _file_block(
    file: tuple, read_schema, vec_col: str, cols: Sequence[str], case_sensitive: bool = False
):
    """The decoded block of one ``(uri, size, mtime)`` Parquet file, from
    this worker's cache.  Each column of ``read_schema`` is read from
    the file's field of that name, matched as Spark's Parquet reader
    matches it: case-insensitively unless ``case_sensitive``, failing
    on an ambiguous match; a column the file lacks reads as nulls."""
    uri = file[0]

    def load():
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyarrow.fs import FileSystem

        fs, path = FileSystem.from_uri(uri)
        names = pq.read_schema(path, filesystem=fs).names
        fold = (lambda n: n) if case_sensitive else str.lower

        def stored(name):
            found = [n for n in names if fold(n) == fold(name)]
            if len(found) > 1:
                raise RuntimeError(
                    f'Found duplicate field(s) "{name}": {found} in case-insensitive mode'
                )
            return found[0] if found else name

        file_schema = pa.schema([f.with_name(stored(f.name)) for f in read_schema])
        table = pq.read_table(path, filesystem=fs, schema=file_schema)
        return _decode(table.rename_columns(read_schema.names), vec_col, cols)

    return _BLOCKS.get((*file, read_schema, vec_col, tuple(cols), case_sensitive), load)


def _parquet_files(corpus: DataFrame, needed: Sequence[str]) -> list | None:
    """``[(uri, size, mtime)]`` of a corpus the file source can read:
    its optimized plan is a bare Parquet relation, at most under a
    projection of plain columns, every ``needed`` column is a data
    column, and pyarrow opens every file URI.  ``None`` otherwise."""
    from pyarrow import ArrowException
    from pyarrow.fs import FileSystem, FileType

    plan = corpus._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() == "Project":
        exprs = plan.projectList()
        if any(
            exprs.apply(i).getClass().getSimpleName() != "AttributeReference"
            for i in range(exprs.size())
        ):
            return None
        plan = plan.child()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    relation = plan.relation()
    if relation.getClass().getSimpleName() != "HadoopFsRelation" or (
        relation.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
    ):
        return None
    if set(needed) & set(relation.partitionSchema().fieldNames()):
        return None
    uris = corpus.inputFiles()
    if not uris:
        return None
    try:
        opened = [FileSystem.from_uri(u) for u in uris]
        infos = [fs.get_file_info(path) for fs, path in opened]
    except (ArrowException, OSError):  # a scheme pyarrow cannot open: scan instead
        return None
    if any(i.type != FileType.File for i in infos):  # gone since listing: Spark reports it
        return None
    return [(u, i.size, i.mtime_ns) for u, i in zip(uris, infos)]


# A single query's file source runs a task per this many corpus bytes, a
# batch a task per core: one query's scoring is cheap next to the ~45 ms
# run time of even an empty Python task.  On 4 cores (medians of 11,
# warm block caches) one query over 2, 12, 62 MB took 86, 98, 128 ms in
# 1 task and 94, 97, 104 ms in 4; 256 queries over 62 MB took 426 ms in
# 4 tasks, 735 in 1.
TASK_BYTES = 16 << 20


# Near-zero pairs are rescored this many at a time: 12 MB at dim 1536.
RESCORE_PAIRS = 1024


def _by_bytes(files: list, n: int) -> list[list]:
    """Files spread over ``n`` groups, largest first onto the lightest
    group; the same files always give the same groups."""
    groups = [[] for _ in range(n)]
    loads = [0] * len(groups)
    for f in sorted(files, key=lambda f: (-f[1], f[0])):
        g = loads.index(min(loads))
        groups[g].append(f)
        loads[g] += f[1]
    return groups


def _scored(
    corpus: DataFrame,
    qtable,
    qid: T.StructField,
    k: int,
    vec_col: str,
    id_col: str,
    asked: Sequence[str],
) -> DataFrame:
    """The checked candidates of each query of ``qtable`` (Arrow columns:
    the id, of Spark type ``qid``, and the vector): ``(qid, *asked,
    [id_col,] distance)`` rows, in no order.

    A null query vector, two lengths, or a NaN or infinite component
    (pgvector's "NaN not allowed in vector" / "infinite value not
    allowed in vector") raises ``ValueError`` on the driver, with no
    Spark job.  Per block, one NumPy GEMM in float64 gives the
    |block| x |queries| L2 distances by the expanded form
    |c|² - 2c·q + |q|².  Where that cancels to within its rounding
    bound of 0, the pair is rescored by pgvector's direct sum of
    (c - q)², so a stored copy of a query scores 0.  Each query keeps
    its k nearest rows plus every row tied with the k-th, so a merge
    applies the ``(distance, id)`` rule to all rows that could win.  A
    null vector gets a null distance; a vector of another length makes
    the projection after the scorer raise pgvector's "different vector
    dimensions".  The block cache lives in this module, so the package
    must be importable on the executors, as for the ingest UDFs.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    qids = qtable.column(0).combine_chunks()
    qvecs = qtable.column(1).combine_chunks()
    n_q = len(qids)
    qlens = pc.list_value_length(qvecs).to_numpy(zero_copy_only=False)
    if qvecs.null_count or len(set(qlens)) > 1:
        raise ValueError("query vectors must be non-null and of one length")
    dim = int(qlens[0]) if n_q else 0
    qmat = qvecs.flatten().to_numpy(zero_copy_only=False).astype(np.float64).reshape(n_q, dim)
    bad = qmat[~np.isfinite(qmat)]
    if len(bad):  # pgvector's check, on the first such component
        raise ValueError(f"{'NaN' if np.isnan(bad[0]) else 'infinite value'} not allowed in vector")
    qsq = (qmat * qmat).sum(axis=-1)  # (Q,)
    qidx = np.arange(n_q)

    cols = asked if id_col in asked else [*asked, id_col]
    needed = list(dict.fromkeys([*cols, vec_col]))
    schema = T.StructType(
        [T.StructField(qid.name, qid.dataType)]
        + [T.StructField(c, corpus.schema[c].dataType) for c in cols]
        + [T.StructField("distance", T.DoubleType()), T.StructField("_bad_len", T.IntegerType())]
    )

    # Twice the expanded form's first-order rounding bound, (dim + 2) unit
    # roundoffs of (|c| + |q|)² <= 2 (|c|² + |q|²), over |c|² + |q|².
    cancel = 2.0 * (dim + 2) * np.finfo(np.float64).eps

    def distances(cmat):
        csq = (cmat * cmat).sum(axis=1)
        sq = csq[:, None] - 2.0 * (cmat @ qmat.T) + qsq[None, :]
        ri, qi = np.nonzero(sq <= cancel * (csq[:, None] + qsq[None, :]))
        for lo in range(0, len(ri), RESCORE_PAIRS):
            r, q = ri[lo : lo + RESCORE_PAIRS], qi[lo : lo + RESCORE_PAIRS]
            diff = cmat[r] - qmat[q]
            sq[r, q] = np.einsum("ij,ij->i", diff, diff)
        np.maximum(sq, 0.0, out=sq)
        return np.sqrt(sq)

    def rows(payload, ri, qi, dist, bad_len=None):
        out = payload.take(pa.array(ri, pa.int64()))
        out = out.add_column(0, qid.name, qids.take(pa.array(qi, pa.int64())))
        out = out.append_column("distance", pa.array(dist, pa.float64(), from_pandas=True))
        lens = pa.nulls(len(ri), pa.int32()) if bad_len is None else pa.array(bad_len, pa.int32())
        return out.append_column("_bad_len", lens)

    def score(block):
        """The candidate rows of one block, as an Arrow table."""
        payload, lens, flat = block
        scorable = lens >= 0
        bad = np.flatnonzero(scorable & (lens != dim))
        if len(bad):  # one row carries the wrong length out to the check
            return rows(payload, bad[:1], [0], [None], lens[bad[:1]])
        dist = np.full((len(lens), n_q), np.nan)  # NaN -> null distance
        if scorable.any():
            dist[scorable] = distances(flat.reshape(-1, dim).astype(np.float64))
        kk = min(k, len(lens))
        top = np.argpartition(dist, kk - 1, axis=0)[:kk]  # NaN sorts last
        take = dist <= dist[top[-1], qidx]  # ties with the k-th
        take[top, qidx] = True
        qi, ri = np.nonzero(take.T)
        return rows(payload, ri, qi, dist[ri, qi])

    def candidates(blocks: Iterator) -> Iterator:
        for block in blocks:
            if len(block[1]):
                yield from score(block).to_batches()

    files = _parquet_files(corpus, needed) if n_q else None
    if files is not None:
        spark = corpus.sparkSession
        cores = spark.sparkContext.defaultParallelism
        groups = _by_bytes(files, min(cores, -(-sum(f[1] for f in files) // TASK_BYTES)) if n_q == 1 else cores)
        read_schema = to_arrow_schema(T.StructType([corpus.schema[c] for c in needed]))
        case_sensitive = spark.conf.get("spark.sql.caseSensitive", "false").lower() == "true"

        def file_blocks(batches: Iterator) -> Iterator:
            for batch in batches:
                for g in batch.column(0).to_pylist():
                    for file in groups[g]:
                        yield _file_block(file, read_schema, vec_col, cols, case_sensitive)

        source = spark.range(0, len(groups), 1, len(groups)).mapInArrow(
            lambda it: candidates(file_blocks(it)), schema
        )
    else:

        def scan_blocks(batches: Iterator) -> Iterator:
            for batch in batches:
                yield _decode(pa.Table.from_batches([batch]), vec_col, cols)

        scan = corpus.select(*needed)
        if not n_q:
            scan = scan.limit(0)  # nothing to score
        source = scan.mapInArrow(lambda it: candidates(scan_blocks(it)), schema)

    return source.select(
        qid.name,
        *cols,
        _dims_checked(F.col("_bad_len"), F.lit(dim), F.col("distance")).alias("distance"),
    )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Per-query exact top-k for a relation of query vectors, columns
    ``query_id`` and ``query_vec``: the generalization the reference
    only runs at N=1.  Returns ``(query_id, *payload_cols, distance,
    rank)`` rows, ``rank`` 1..k per query.

    The queries are collected once (:func:`collect_query_batch`) for
    :func:`_scored`; each ``query_id`` must appear once, as it keys the
    per-query window over the candidates (a repeated id raises
    ``ValueError``).  ``id_col`` rides along for the ``(distance, id)``
    rule and is dropped after the window unless asked for.  :func:`knn`
    with an L2 sequence query runs the same scorer, so a one-query
    ``knn_join`` gives it bit-identical distances.
    """
    qtable = collect_query_batch(queries, ["query_id", "query_vec"])
    asked = [c for c in corpus.columns if c != vec_col] if payload_cols is None else list(payload_cols)
    checked = _scored(corpus, qtable, queries.schema["query_id"], k, vec_col, id_col, asked)
    global_w = Window.partitionBy("query_id").orderBy(F.col("distance").asc_nulls_last(), id_col)
    ranked = checked.withColumn("rank", F.row_number().over(global_w)).filter(F.col("rank") <= k)
    return ranked if id_col in asked else ranked.drop(id_col)
