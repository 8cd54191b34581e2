"""Structured Streaming: the signature UDFs run inside a streaming query
and emit signatures identical to batch."""

import pandas as pd
import pytest

from cs588_data_science_bug_duplicate_detector_spark.config import DedupConfig
from cs588_data_science_bug_duplicate_detector_spark.datagen import generate_pages_pdf
from cs588_data_science_bug_duplicate_detector_spark.operators.minhash import with_minhash
from cs588_data_science_bug_duplicate_detector_spark.operators.simhash import with_simhash

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_src"))
    pages, _, _ = generate_pages_pdf(120, seed=42)
    # duplicate re-crawls of the first 10 urls, 1 minute later
    recrawl = pages.head(10).copy()
    recrawl["warc_ts"] = recrawl["warc_ts"] + pd.Timedelta(minutes=1)
    both = pd.concat([pages, recrawl], ignore_index=True)
    spark.createDataFrame(both, schema=PAGES_DDL).write.mode("overwrite").parquet(d)
    return d


def _run_stream(df, tmpdir, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ckpt_{name}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_stream_signatures_match_batch(spark, stream_dir, tmp_path):
    d = stream_dir
    cfg = DedupConfig()
    stream = spark.readStream.schema(PAGES_DDL).parquet(d)
    _run_stream(with_simhash(with_minhash(stream, "text", cfg), "text"), str(tmp_path), "signed_t")
    got = {
        r["url"]: (tuple(r["minhash"]), r["simhash"])
        for r in spark.sql("SELECT url, minhash, simhash FROM signed_t").collect()
    }
    batch = with_simhash(with_minhash(spark.read.parquet(d), "text", cfg), "text")
    for r in batch.select("url", "minhash", "simhash").collect():
        assert got[r["url"]] == (tuple(r["minhash"]), r["simhash"])
