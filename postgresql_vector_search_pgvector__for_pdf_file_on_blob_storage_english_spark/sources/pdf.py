"""Blob/PDF source + per-page text extraction.

Reference surface (SURVEY.md §2.1/S1-S2, §2.2/P1):

* S1 — blob-arrival PDF source delivering ``(fileName, bytes)``
  (Function.java:73-81, ``@BlobTrigger`` on path ``pdfs/{name}``).
  Spark: the ``binaryFile`` data source — batch **and** streaming
  flavors of the same scan (`readStream` for arrival-driven mode).
* S2 — ``.pdf`` extension predicate (Function.java:85).  Pushed into
  the scan via ``pathGlobFilter`` so non-matching blobs are never
  opened — at 100 TB the filter must prune *files*, not rows.
* P1 — PDF bytes -> per-page text (Function.java:92-134, PDFBox
  ``PDFTextStripper`` page loop).  This is a row-emitting table
  function: each file in, one ``(pageNumber, text)`` row out per page,
  as the page loop emits them; it runs as an Arrow-batched
  ``mapInPandas``, so one Python worker handles a whole batch of files.

Every non-null blob decodes with the vendored stdlib-only codec
(:mod:`.pdfcodec` — classic-xref + FlateDecode + text-operator subset,
round-trip-tested against its own writer's goldens), whatever else is
installed, so the page text the chunks re-join to never depends on the
host.  Like
PDFBox's loader, it refuses bytes with no ``%PDF-`` header: an HTML
error page, a truncated upload or an empty file named ``x.pdf`` is
quarantined, not chunked.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pdfcodec import extract_text_pdf

# The binaryFile source's fixed schema; a streaming source must be given it.
BINARY_FILE_SCHEMA = "path string, modificationTime timestamp, length long, content binary"


def read_binary_docs(spark: SparkSession, path: str, stream: bool = False) -> DataFrame:
    """S1/S2: binary scan of a directory's ``*.pdf`` files, the extension
    filter pushed down as a path-glob (file-level pruning, no bytes read
    for misses).

    Returns ``(path, modificationTime, length, content)``; ``stream=True``
    gives the identical relation as a streaming source.
    """
    reader = spark.readStream.schema(BINARY_FILE_SCHEMA) if stream else spark.read
    # S2: the reference's ``.pdf`` predicate (Function.java:85).
    return reader.format("binaryFile").option("pathGlobFilter", "*.pdf").load(path)


def extract_pages(df: DataFrame) -> DataFrame:
    """P1 as an Arrow-batched table function over the binary scan's
    ``content`` column: one row per page, in page order, carrying the
    input's other columns plus ``pageNumber int`` (1-based,
    Function.java:104), ``text string`` and ``extract_error string``
    (null on success).

    ``mapInPandas`` (not a scalar UDF) so each Python worker invocation
    amortizes over a whole Arrow batch of files, and the binary column
    is dropped from the output — page text, not raw blobs, crosses the
    next shuffle.

    Each blob decodes with :func:`.pdfcodec.extract_text_pdf`, the
    stdlib stand-in for PDFBox's page loop (Function.java:99-118).  A
    null blob gives a null-page row with a null error; anything else
    that does not decode (no ``%PDF-`` header, an empty blob, a broken
    or page-less document) carries its error: one row with a null page
    and the message in ``extract_error``, so one malformed blob among
    millions does not kill the ingest.  A null page gets no chunk and so
    no chunk trail, as in the reference, whose trail starts at
    PAGE_SEPARATE_FINISHED.
    """
    import pandas as pd

    keep = [c for c in df.columns if c != "content"]
    schema = T.StructType(
        [df.schema[c] for c in keep]
        + [
            T.StructField("pageNumber", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("extract_error", T.StringType()),
        ]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []  # (input row, pageNumber, text, extract_error) per page
            for i, b in enumerate(pdf["content"]):
                try:
                    found, error = (extract_text_pdf(b) if b is not None else []), None
                except Exception as e:  # noqa: BLE001 — quarantine contract
                    found, error = [], f"{type(e).__name__}: {e}"
                rows += [(i, n, t, error) for n, t in found or [(None, None)]]
            pages = pd.DataFrame(rows, columns=["row", "pageNumber", "text", "extract_error"])
            carried = pdf[keep].iloc[pages.pop("row")].reset_index(drop=True)
            yield pd.concat([carried, pages.astype({"pageNumber": "Int32"})], axis=1)

    return df.mapInPandas(run, schema)


def pdf_source(spark: SparkSession, path: str, stream: bool = False) -> DataFrame:
    """S1+S2+P1 composed: one row per page of each ``*.pdf`` file under
    ``path``, ``(fileName, pageNumber, text)``.

    ``fileName`` is the file's base name (the reference's blob name).  A
    file that does not decode as a PDF is quarantined by
    :func:`extract_pages`: it gives one row with a null page and no
    chunks, and the other files' pages still flow, so one bad upload
    neither fails a batch ingest nor stalls a stream that would replay
    the same failing micro-batch.
    """
    return extract_pages(read_binary_docs(spark, path, stream)).select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fileName"), "pageNumber", "text"
    )
