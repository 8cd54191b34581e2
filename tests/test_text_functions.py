"""Column-expression text functions vs reference semantics
(/root/reference/preprocess_data.py:20-90): tagged concat skips blank/null
fields; id-list parse drops ''/'NULL'/unparsable tokens and dedups."""

from cs588_data_science_bug_duplicate_detector_spark.functions.text import (
    language_guess,
    parse_id_list,
    quality_score,
    tagged_concat,
    token_count,
)

PAIRS = [
    ("PRODUCT", "Product"),
    ("COMPONENT", "Component"),
    ("SUMMARY", "Title"),
    ("DESCRIPTION", "Description"),
]


def test_tagged_concat_skips_blank_and_null(spark):
    rows = [
        (1, "Firefox", "UI", "Crash on start", "It crashes."),
        (2, "Firefox", None, "  ", "Only description."),
        (3, None, None, None, None),
        (4, " Core ", "", "Title here", "\n"),
    ]
    df = spark.createDataFrame(
        rows, "Issue_id long, Product string, Component string, Title string, Description string"
    )
    got = {
        r["Issue_id"]: r["aug"]
        for r in df.withColumn("aug", tagged_concat(PAIRS)).collect()
    }
    assert got[1] == "[PRODUCT] Firefox\n[COMPONENT] UI\n[SUMMARY] Crash on start\n[DESCRIPTION] It crashes."
    assert got[2] == "[PRODUCT] Firefox\n[DESCRIPTION] Only description."
    assert got[3] == ""
    assert got[4] == "[PRODUCT] Core\n[SUMMARY] Title here"


def test_parse_id_list_reference_semantics(spark):
    rows = [
        (1, "123;456;789"),
        (2, "123; 456 ;"),
        (3, "NULL"),
        (4, "null;123;NULL"),
        (5, None),
        (6, ""),
        (7, "12;bogus;34;12"),   # unparsable token dropped, dup dropped
    ]
    df = spark.createDataFrame(rows, "Issue_id long, Duplicate string")
    got = {
        r["Issue_id"]: sorted(r["ids"])
        for r in df.withColumn("ids", parse_id_list("Duplicate")).collect()
    }
    assert got[1] == [123, 456, 789]
    assert got[2] == [123, 456]
    assert got[3] == []
    assert got[4] == [123]
    assert got[5] == []
    assert got[6] == []
    assert got[7] == [12, 34]


def test_token_count_and_language_guess(spark):
    rows = [
        (1, "The cat sat on the mat, and the dog slept."),
        (2, "la casa de los gatos en el jardin de la abuela"),
        (3, "der hund und die katze sind mit dem ball im garten"),
        (4, ""),
        (5, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {
        r["id"]: (r["n"], r["lang"])
        for r in df.select(
            "id", token_count("text").alias("n"), language_guess("text").alias("lang")
        ).collect()
    }
    assert out[1] == (10, "en")
    assert out[2][1] == "es"
    assert out[3][1] == "de"
    assert out[4] == (0, "und")
    assert out[5][1] == "und"


def test_quality_score_orders_sensibly(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 20),
        (2, "$$$ ### !!! @@@ ^^^ &&& *** ((( )))"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["q"] for r in df.select("id", quality_score("text").alias("q")).collect()}
    assert 0.0 <= got[2] < got[1] <= 1.0
