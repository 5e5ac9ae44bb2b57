"""Serving veneer — the query-side presentation operators
(SURVEY.md §2.3: Q5-Q8, S8), kept thin and set-oriented.

The reference drives these per-hit and per-token over SSE
(SSEOpenAIController.java:136-239); the engine's analog treats the
top-k result as a relation and derives prompts, summaries, links and
the SSE event stream as columns — the per-user demux (Q9) is a
serving-process concern with no analytic content and is intentionally
out of scope (SURVEY.md §2.3).

A hit relation carries the corpus's column names (SURVEY.md §1.1):
``id``, ``origntext``, ``fileName``, ``pageNumber``.  ``llm_extract``
adds ``summary`` and ``sse_events`` reads it; neither takes other names.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Q5 — SSEOpenAIController.java:151-155 (exact template; note the space
# between the closing triple-quote and the newlines, '""" \n\n' at :153)
PROMPT_TEMPLATE_PREFIX = '""" '
PROMPT_TEMPLATE_SUFFIX = (
    ' """ \n\nFrom the above document "{query}" Please extract the part that describes.'
)

# Q6 — the reference's fixed system prompt drives a GPT-4 call per hit
# (SSEOpenAIController.java:90-94, 158-184).  Outside the deterministic
# correctness surface: the default mock extracts a prefix.
MOCK_SUMMARY_LEN = 80

# Q8 — index.html:157 undoes this sentinel client-side
SSE_SPACE_SENTINEL = "<SPECIAL_WHITE_SPACE>"


def build_prompt(text_col: Column | str, query_text: str) -> Column:
    """Q5: the per-hit chat prompt as a column expression."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.concat(
        F.lit(PROMPT_TEMPLATE_PREFIX),
        c,
        F.lit(PROMPT_TEMPLATE_SUFFIX.replace("{query}", query_text)),
    )


def llm_extract(
    df: DataFrame,
    llm_fn: Callable[[list[str]], list[str]] | None = None,
) -> DataFrame:
    """Q6: per-hit summarize stage — adds ``summary`` from ``origntext``.

    ``llm_fn`` maps a batch of the hits' raw ``origntext`` (null as ``""``),
    not Q5 prompts (the hits carry no query text), to one summary each,
    in an Arrow-batched pandas UDF.  The default mock — first
    ``MOCK_SUMMARY_LEN`` chars + ellipsis — is a native column expression.
    """
    c = F.col("origntext")
    if llm_fn is None:
        mock = F.when(
            F.length(c) > MOCK_SUMMARY_LEN,
            F.concat(F.substring(c, 1, MOCK_SUMMARY_LEN), F.lit("...")),
        ).otherwise(c)
        return df.withColumn("summary", mock)

    @F.pandas_udf(T.StringType())
    def run(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            yield pd.Series(llm_fn(s.fillna("").tolist()))

    return df.withColumn("summary", run(c))


def blob_url(account_url: str, file_col: Column | str = "fileName", page_col: Column | str = "pageNumber") -> Column:
    """Q7: ``{account}/{fileName}#page={pageNumber}`` citation link
    (SSEOpenAIController.java:204-206)."""
    f = F.col(file_col) if isinstance(file_col, str) else file_col
    p = F.col(page_col) if isinstance(page_col, str) else page_col
    return F.concat(F.lit(account_url), f, F.lit("#page="), p)


def sse_escape(col: Column | str) -> Column:
    """Q8: the space sentinel applied to streamed token text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, " ", SSE_SPACE_SENTINEL)


def sse_events(hits: DataFrame, account_url: str) -> DataFrame:
    """S8: the three-event-per-hit SSE stream as a relation.

    The reference emits a tagged union — ``create`` area, ``createLink``,
    ``addMessage`` (entities/Create*.java, serialized at
    SSEOpenAIController.java:189-234) — per hit, in that order.  Here:
    one row per event ``(id, seq, event_json)``, ``seq`` making the
    per-hit ordering explicit, from one ``inline`` of the three events.
    Each ``event_json`` is one ``to_json`` of a struct whose fields
    follow the record's component order, so it is valid JSON whatever
    the hit's ``id``, ``fileName`` or ``summary`` hold: quotes,
    backslashes and control characters are escaped, as Gson escapes
    them.
    """
    create = F.struct(F.lit("create").alias("type"), "id")
    link = F.struct(
        F.lit("createLink").alias("type"),
        "id",
        blob_url(account_url).alias("link"),
        "pageNumber",
        "fileName",
    )
    message = F.struct(
        F.lit("addMessage").alias("type"), "id", sse_escape("summary").alias("content")
    )
    events = F.array(
        F.struct(F.lit(1).alias("seq"), F.to_json(create).alias("event_json")),
        F.struct(F.lit(2).alias("seq"), F.to_json(link).alias("event_json")),
        F.struct(F.lit(3).alias("seq"), F.to_json(message).alias("event_json")),
    )
    return hits.select("id", F.inline(events))


def expand_context(
    hits: DataFrame,
    corpus: DataFrame,
    window: int = 1,
    file_col: str = "fileName",
    page_col: str = "pageNumber",
    text_col: str = "origntext",
    sep: str = "\n\n",
) -> DataFrame:
    """Small-to-big retrieval: stitch each KNN hit's +/-``window``
    neighboring pages (same file) into one ``context`` string.

    The reference serves the matched chunk text alone as the LLM
    context (SSEOpenAIController.java:151-155 builds the prompt from
    the single hit row).  The standard RAG refinement retrieves SMALL
    units (precise vector match) but feeds the LLM BIG units (the hit
    plus its physical neighbors) — chunk boundaries routinely split a
    sentence's evidence across pages, and the expansion recovers it
    without blurring the search signal.

    Scale shape: ``hits`` is k rows; its exploded wanted-page relation
    (k * (2*window+1) rows) is broadcast, so the corpus side — the
    100 TB relation — is scanned once with NO shuffle, pruned to
    ``(file, page, text)``, and only matching neighbor rows survive to
    the (tiny) grouped stitch.  With the corpus bucketed by fileName
    (``ingest.write_corpus``) the broadcast hash join touches only the
    hit files' buckets.

    Output: one row per hit — ``(fileName, pageNumber, distance,
    n_parts, context)`` where ``n_parts`` counts the pages actually
    found (edge pages have fewer neighbors) and ``context`` is the
    found pages' text joined by ``sep`` in page order.
    """
    if window < 0:
        raise ValueError(f"window must be >= 0, got {window}")
    wanted = hits.select(
        F.col(file_col).alias("_hf"),
        F.col(page_col).alias("_hp"),
        "distance",
        F.explode(
            F.sequence(F.col(page_col) - window, F.col(page_col) + window)
        ).alias("_want"),
    )
    parts = F.broadcast(wanted).join(
        corpus.select(
            F.col(file_col).alias("_cf"),
            F.col(page_col).alias("_cp"),
            F.col(text_col).alias("_ct"),
        ),
        on=[F.col("_hf") == F.col("_cf"), F.col("_want") == F.col("_cp")],
        how="inner",
    )
    return (
        parts.groupBy("_hf", "_hp", "distance")
        .agg(F.array_sort(F.collect_list(F.struct("_cp", "_ct"))).alias("_ps"))
        .select(
            F.col("_hf").alias(file_col),
            F.col("_hp").alias(page_col),
            "distance",
            F.size("_ps").alias("n_parts"),
            F.array_join(F.transform("_ps", lambda s: s["_ct"]), sep).alias("context"),
        )
    )
