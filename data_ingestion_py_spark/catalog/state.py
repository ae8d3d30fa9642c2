"""Engine state: the tables and schemas of the ingestion catalog.

Mirrors the reference's data model (SURVEY §1 / FIXTURES.md §A) with one
structural change: the flat ``snippets`` serving table is a
**deterministic derived view** — ``snippets = snippetize(pages ⋈
documents)`` — so every compensation saga in the reference (rollbacks at
data_ingestion.py:279,359,391,445,500,522) collapses into idempotent
recompute. Document status lives on the document row only and is joined
onto snippets at read/write time (the reference copies it onto every
snippet, :436/:443 — a denormalization we only materialize on write).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_py_spark.io import read_parquet
from data_ingestion_py_spark.operators.snippetize import snippetize

CATEGORY_SCHEMA = T.StructType(
    [
        T.StructField("category_id", T.IntegerType(), False),
        T.StructField("category_name", T.StringType(), False),
    ]
)

DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("document_id", T.LongType(), False),
        T.StructField("document_name", T.StringType(), False),
        T.StructField("category_id", T.IntegerType(), True),
        T.StructField("document_link", T.StringType(), True),
        T.StructField("document_tags", T.ArrayType(T.StringType()), True),
        T.StructField("document_expiryDate", T.DateType(), True),
        T.StructField(
            "document_metadata", T.MapType(T.StringType(), T.StringType()), True
        ),
        T.StructField("document_status", T.StringType(), False),
        T.StructField("date_uploaded", T.DateType(), False),
    ]
)

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("document_id", T.LongType(), False),
        T.StructField("page_number", T.IntegerType(), False),
        T.StructField("page_text", T.StringType(), True),
    ]
)

ACTION_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("action_code", T.IntegerType(), False),
        T.StructField("document_id", T.LongType(), True),
        T.StructField("category_id", T.IntegerType(), True),
        T.StructField("document_name", T.StringType(), True),
        T.StructField("file_link", T.StringType(), True),
        T.StructField("page_texts", T.ArrayType(T.StringType()), True),
        T.StructField("document_tags", T.ArrayType(T.StringType()), True),
        T.StructField("document_expiryDate", T.DateType(), True),
        T.StructField("category_name", T.StringType(), True),
    ]
)

#: action codes, data_ingestion.py:51-69
ACTION_REMOVE_DOC = 0
ACTION_UPLOAD_DOC = 1
ACTION_ADD_CATEGORY = 2
ACTION_REMOVE_CATEGORY = 3


@dataclass(frozen=True)
class CatalogState:
    """Immutable snapshot of the catalog; mutations return new states.

    At cluster scale each DataFrame is a partitioned Parquet/Delta table
    (documents/pages partitioned by category_id, snippets by
    category_id — making the cascade delete M7 a partition drop) and a
    mutation materializes via overwrite/MERGE; the pure-function shape
    is identical.
    """

    categories: DataFrame
    documents: DataFrame
    pages: DataFrame

    def with_(self, **kw) -> "CatalogState":
        return replace(self, **kw)

    def materialize(self, path: str | None = None) -> "CatalogState":
        """Cut lineage after a mutation batch — REQUIRED for long-running
        ingestion loops.

        Mutations are pure DataFrame chains; after N batches the plan is
        N layers deep and every anti-join recomputes the whole history
        (the driver would eventually OOM on plan size, not data). With
        ``path`` the tables are written to Parquet and read back — the
        production shape, where each batch commits an overwrite/MERGE.
        Without it, ``localCheckpoint`` truncates lineage in memory —
        the single-process shape used by streaming/pipeline.py.
        """
        if path is None:
            return CatalogState(
                categories=self.categories.localCheckpoint(eager=True),
                documents=self.documents.localCheckpoint(eager=True),
                pages=self.pages.localCheckpoint(eager=True),
            )
        spark = self.categories.sparkSession
        tables = {}
        for name in ("categories", "documents", "pages"):
            p = f"{path}/{name}"
            getattr(self, name).write.mode("overwrite").parquet(p)
            tables[name] = read_parquet(spark, p)
        return CatalogState(**tables)

    def snippets(self) -> DataFrame:
        """The flat serving table (reference ``snippets`` collection,
        data_ingestion.py:211-220), derived — never stored ahead of its
        inputs, so it cannot drift out of sync.
        """
        docs = self.documents.join(
            F.broadcast(self.categories), "category_id", "left"
        )
        joined = self.pages.join(docs, "document_id")
        sn = snippetize(
            joined,
            text_col="page_text",
            id_cols=("document_id", "page_number"),
            carry_cols=(
                "document_name",
                "category_id",
                "category_name",
                "document_tags",
                "document_link",
                "document_status",
            ),
        )
        return sn.select(
            "document_id",
            "document_name",
            "category_id",
            "category_name",
            "document_tags",
            "page_number",
            F.concat(
                F.coalesce(F.col("document_link"), F.lit("")),
                F.lit("#page="),
                F.col("page_number").cast("string"),
            ).alias("page_link"),
            "snippet_id",
            "snippet_text",
            "document_status",
        )


def empty_state(spark: SparkSession) -> CatalogState:
    return CatalogState(
        categories=spark.createDataFrame([], CATEGORY_SCHEMA),
        documents=spark.createDataFrame([], DOCUMENT_SCHEMA),
        pages=spark.createDataFrame([], PAGE_SCHEMA),
    )


def seed_categories(spark: SparkSession) -> DataFrame:
    """Reference seed dim (data_ingestion.py:29)."""
    return spark.createDataFrame(
        [(1, "Collective Agreements"), (2, "Benefits")], CATEGORY_SCHEMA
    )
