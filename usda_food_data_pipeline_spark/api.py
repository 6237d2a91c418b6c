"""User-facing facade mirroring the reference's application surface.

A user of the reference interacts with three things; each maps to one
function here:

1. ``execute_pipeline()`` (usda_branded_food_data_pipeline.py:131-165)
   → :func:`run_pipeline` — clean/join/pivot/threshold → quoted CSV.
2. The Pinecone index build (utils/upload_data_to_pinecone.py)
   → :func:`build_index` — embed + write a parquet index table.
3. ``similarity_search`` + ``get_food_nutrients``
   (usda-food-assistant/app.py:55-70,11-19) → :func:`retrieve` —
   embed the query text, cosine top-k against the index, return
   formatted metadata documents. Everything downstream of the
   retrieved documents (prompting, chat) is application code outside
   the engine, exactly as in the reference.

Each function materializes its result before returning, so each runs
inside its own :class:`~.session.QueryRun`: every cache the call
persists is released when it returns or raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.embed import embed_vector
from .operators.similarity import cosine_topk
from .plans.usda_pipeline import usda_pipeline
from .session import QueryRun
from .sources.sinks import build_embedding_index, write_quoted_csv
from .sources.tables import read_parquet, read_usda_csv


def run_pipeline(
    spark: SparkSession,
    landing_dir: str,
    output_path: str,
    fmt: str = "csv",
) -> None:
    """Reference ``execute_pipeline``: read the four staged USDA CSVs
    from ``landing_dir``, run the cleaning DAG, write the wide table."""
    def read(name: str) -> DataFrame:
        # explicit name-based schema (SURVEY §1.3; reference dtype override
        # utils/upload_data_to_pinecone.py:8) — no inference job, no
        # type drift between sampled and full reads
        return read_usda_csv(spark, f"{landing_dir}/{name}.csv", name)

    with QueryRun():
        out = usda_pipeline(
            read("branded_food"), read("food"), read("nutrient"), read("food_nutrient")
        )
        if fmt == "csv":
            write_quoted_csv(out, output_path)  # :160 QUOTE_NONNUMERIC analog
        else:
            out.write.mode("overwrite").parquet(output_path)


def build_index(
    spark: SparkSession,
    df: DataFrame,
    text_col: str,
    id_col: str,
    index_path: str,
    dim: int = 64,
) -> None:
    """Reference index build, self-contained: embeddings to parquet."""
    with QueryRun():
        build_embedding_index(df, text_col, id_col, index_path, dim)


def retrieve(
    spark: SparkSession,
    index_path: str,
    query_text: str,
    metadata_df: DataFrame | None = None,
    id_col: str = "doc_id",
    k: int = 10,
    dim: int = 64,
) -> list[dict]:
    """Reference ``similarity_search`` → ``get_food_nutrients``: embed
    the query, cosine top-k over the index, attach metadata, return a
    list of documents, best first (the k-row collect is the sanctioned
    one — app.py:63-68 does exactly this via Pinecone).

    The query is embedded on the driver (:func:`embed_vector`, the
    featurizer the index build applies per row) and scored as a literal
    vector: one scan of the index, no Python worker, no query broadcast.
    Each document carries ``id_col``, ``score`` and the non-NULL
    ``metadata_df`` columns; ``metadata_df`` must not have its own
    ``score`` column (``ValueError``). A query without tokens returns
    ``[]``.
    """
    if metadata_df is not None:
        clash = [c for c in metadata_df.columns if c.lower() == "score"]
        if clash:
            raise ValueError(
                f"metadata_df column {clash[0]!r} collides with the retrieval score column"
            )
    qvec = embed_vector(query_text, dim)
    with QueryRun():
        index = read_parquet(spark, index_path)
        top = cosine_topk(index, qvec, k=k, id_col=id_col)
        # a zero-vector query (empty/whitespace text) yields NULL cosines
        # (try_divide) — return nothing rather than k arbitrary rows
        top = top.filter(F.col("score").isNotNull())
        if metadata_df is not None:
            top = top.join(metadata_df, id_col, "left")
        rows = top.orderBy(F.col("score").desc(), F.col(id_col)).collect()
    return [
        {kk: vv for kk, vv in r.asDict().items() if vv is not None} for r in rows
    ]


def retrieve_hybrid(
    spark: SparkSession,
    index_path: str,
    docs_df: DataFrame,
    query_text: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    dim: int = 64,
    candidates: int = 20,
) -> list[dict]:
    """Hybrid retrieval: the reference's vector-only ``similarity_search``
    paired with a lexical BM25 side, fused by reciprocal rank.

    The query text is used twice — embedded for cosine over the index,
    whitespace-tokenized for BM25 over the corpus — and the two top-
    ``candidates`` lists merge via :func:`rrf_fuse`. A term or vector
    miss on one side only weakens, never excludes, a candidate. Returns
    the fused top-k with both ranks and the document text attached.
    """
    from pyspark.sql import Window

    from .functions.retrieval import bm25_topk, rrf_fuse

    terms = [t for t in query_text.lower().split() if t]
    if not terms:
        return []
    with QueryRun():
        lex = bm25_topk(docs_df, id_col, text_col, terms, k=candidates).select(
            id_col,
            F.row_number()
            .over(Window.orderBy(F.col("bm25").desc(), F.col(id_col)))
            .alias("rank"),
        )
        index = read_parquet(spark, index_path)
        vec = (
            cosine_topk(index, embed_vector(query_text, dim), k=candidates, id_col=id_col)
            .filter(F.col("score").isNotNull())
            .select(
                id_col,
                F.row_number()
                .over(Window.orderBy(F.col("score").desc(), F.col(id_col)))
                .alias("rank"),
            )
        )
        fused = rrf_fuse(lex, vec, id_col, k=k).join(
            docs_df.select(id_col, text_col), id_col, "left"
        )
        rows = fused.orderBy(F.col("rrf").desc(), F.col(id_col)).collect()
    return [r.asDict() for r in rows]
