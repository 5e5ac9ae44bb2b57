"""The engine's public surface, as the benchmark calls it.  The one
module that names the package, so the rest of the benchmark reads as
calls into layers."""

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions.embed import (  # noqa: F401
    hash_embed_text,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ingest import (  # noqa: F401
    CORPUS_COLS,
    embed_chunks,
    ingest_pages,
    pages_to_chunks,
    write_corpus,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (  # noqa: F401
    knn,
    knn_join,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.serving import (  # noqa: F401
    llm_extract,
    sse_events,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.status import (  # noqa: F401
    completed_listing,
    failed_listing,
    status_upsert,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.session import (  # noqa: F401
    get_spark,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.sources.pdf import (  # noqa: F401
    pdf_source,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.sources.pdfcodec import (  # noqa: F401
    make_pdf,
)
