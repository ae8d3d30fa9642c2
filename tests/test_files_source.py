"""Semi-structured ingestion: JSONL/CSV quarantine + schema evolution."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestion_py_spark.plans import explain as E
from data_ingestion_py_spark.sources import files

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


def test_jsonl_quarantine_split(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "alpha", "lang": "en"}\n'
        '{"doc_id": 2, "text": "beta", "lang": "de"}\n'
        "{not json at all}\n"
        '{"doc_id": "NaN-ish", "text": 3}\n'  # untypeable doc_id
        '{"doc_id": 4, "text": "gamma", "lang": "fr"}\n'
    )
    good, quarantine = files.read_jsonl(spark, str(p), DOC_SCHEMA)
    assert sorted(r.doc_id for r in good.collect()) == [1, 2, 4]
    bad = [r.raw_record for r in quarantine.collect()]
    assert len(bad) == 2
    assert any("not json" in b for b in bad)
    # nothing silently dropped: good + quarantine == input lines
    assert good.count() + quarantine.count() == 5


def test_csv_quarantine_split(spark, tmp_path):
    p = tmp_path / "docs.csv"
    p.write_text(
        "doc_id,text,lang\n"
        "1,alpha,en\n"
        "not_a_number,beta,de\n"  # untypeable doc_id -> quarantine
        "3,gamma,fr\n"
    )
    good, quarantine = files.read_csv(spark, str(p), DOC_SCHEMA)
    assert sorted(r.doc_id for r in good.collect()) == [1, 3]
    assert quarantine.count() == 1
    assert "not_a_number" in quarantine.collect()[0].raw_record


def test_csv_good_rows_match_source_values(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("doc_id,text,lang\n7,hello world,en\n")
    good, _ = files.read_csv(spark, str(p), DOC_SCHEMA)
    row = good.collect()[0]
    assert (row.doc_id, row.text, row.lang) == (7, "hello world", "en")


def test_parquet_schema_evolution(spark, tmp_path):
    v1 = str(tmp_path / "v1")
    v2 = str(tmp_path / "v2")
    spark.createDataFrame(
        [(1, "alpha")], "doc_id long, text string"
    ).write.parquet(v1)
    spark.createDataFrame(
        [(2, "beta", 0.9)], "doc_id long, text string, quality double"
    ).write.parquet(v2)
    merged = files.read_parquet_evolving(spark, v1, v2)
    assert set(merged.columns) == {"doc_id", "text", "quality"}
    rows = {r.doc_id: r for r in merged.collect()}
    assert rows[1].quality is None  # old snapshot surfaces null
    assert rows[2].quality == 0.9


def test_quarantine_branch_prunes_from_same_scan(spark, tmp_path):
    """Both branches stay lazy scans; the good branch still prunes
    columns (ReadSchema excludes text when only doc_id is selected)."""
    p = tmp_path / "docs.jsonl"
    p.write_text('{"doc_id": 1, "text": "alpha", "lang": "en"}\n')
    good, _ = files.read_jsonl(spark, str(p), DOC_SCHEMA)
    df = good.select("doc_id")
    # Spark names a text file scan node "Scan text "
    assert E.count_ops(df, "Scan text ") == 1, E.executed_plan(df)
