"""The round-5 column-function families (cleanup, PII, Gopher rules,
decontamination grams) are stateless Catalyst expressions — prove they run
INSIDE a Structured Streaming query and emit byte-identical results to the
batch path. This is the composition a streaming ingest actually needs:
clean -> scrub -> quality-gate in-flight, before signatures."""

from pyspark.sql import functions as F

from cs588_data_science_bug_duplicate_detector_spark.functions.cleanup import clean_text
from cs588_data_science_bug_duplicate_detector_spark.functions.gopher import gopher_columns
from cs588_data_science_bug_duplicate_detector_spark.functions.pii import mask_pii

NBSP, ZW = chr(0x00A0), chr(0x200B)

ROWS = [
    ("u1", f"mail{ZW} me at a@b.co{NBSP}or call +4915123456789 " + "the be to of and that have with ok " * 8),
    ("u2", "short # noisy ### doc... with 10.0.0.1\n\n\n\n\n- bullet\n- bullet"),
    ("u3", None),
]


def _src(spark, tmp_path):
    d = str(tmp_path / "src")
    spark.createDataFrame(ROWS, "url string, text string").withColumn(
        "warc_ts", F.current_timestamp()
    ).withColumn("html", F.lit(None).cast("binary")).withColumn(
        "lang", F.lit("en")
    ).write.mode("overwrite").parquet(d)
    return d


def _transform(df):
    cleaned = clean_text("text")
    g = gopher_columns("text")
    return df.select(
        "url",
        mask_pii(cleaned).alias("scrubbed"),
        g["passes_gopher"].alias("passes_gopher"),
        g["n_words"].alias("n_words"),
    )


def test_cleanup_pii_gopher_run_in_stream_and_match_batch(spark, tmp_path):
    d = _src(spark, tmp_path)
    stream = _transform(
        spark.readStream.schema("url string, warc_ts timestamp, html binary, text string, lang string")
        .parquet(d)
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("fn_stream_t")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt_fn")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["url"]: r for r in spark.sql("SELECT * FROM fn_stream_t").collect()}
    want = {r["url"]: r for r in _transform(spark.read.parquet(d)).collect()}
    assert len(got) == len(ROWS)
    for u in got:
        assert got[u] == want[u], u
    # and the expressions actually did their jobs in-flight
    assert "<EMAIL>" in got["u1"]["scrubbed"] and "<PHONE>" in got["u1"]["scrubbed"]
    assert ZW not in got["u1"]["scrubbed"] and NBSP not in got["u1"]["scrubbed"]
    assert got["u1"]["passes_gopher"] is True
    assert got["u2"]["passes_gopher"] is False
    assert got["u3"]["scrubbed"] is None
