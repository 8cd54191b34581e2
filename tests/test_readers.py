"""Source reader (SURVEY.md S1-S2): explicit-schema CSV reads of the
reference's quirky inputs (embedded newlines, quoted fields, NULL-ish
tokens), written as RFC-4180 CSV by Python's ``csv`` module."""

import csv

from cs588_data_science_bug_duplicate_detector_spark.sources.readers import (
    BUG_REPORTS_DDL,
    SPLIT_DDL,
    read_csv,
)

ROWS = [
    (1, "Firefox", "UI", "Linux", "P1", "Crash on start",
     'It crashes.\nWith a "newline" and quotes.', None, "2;3"),
    (2, None, "", "Mac", None, "Second", "Plain", "Enhanced", "NULL"),
]


def _write_csv(path, ddl, rows):
    header = [col.split()[0] for col in ddl.split(", ")]
    with open(path, "w", newline="", encoding="utf-8") as fh:
        writer = csv.writer(fh, lineterminator="\n")
        writer.writerow(header)
        writer.writerows(rows)


def test_csv_roundtrip_with_newlines_and_quotes(spark, tmp_path):
    p = str(tmp_path / "reports.csv")
    _write_csv(p, BUG_REPORTS_DDL, ROWS)
    back = read_csv(spark, p, BUG_REPORTS_DDL)
    got = {r["Issue_id"]: r for r in back.collect()}
    assert set(got) == {1, 2}
    assert got[1]["Description"] == 'It crashes.\nWith a "newline" and quotes.'
    assert got[2]["Product"] is None
    assert got[1]["Duplicate"] == "2;3"


def test_explicit_schema_not_inferred(spark, tmp_path):
    p = str(tmp_path / "split.csv")
    _write_csv(p, SPLIT_DDL, [(7, "8;9")])
    back = read_csv(spark, p, SPLIT_DDL)
    assert [f.dataType.simpleString() for f in back.schema.fields] == ["bigint", "string"]
