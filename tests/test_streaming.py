"""Structured Streaming extraction: drains a file source, the sink's rows
equal batch ``extract_tables`` over the same input, and restart consumes only
new files (exactly-once sink)."""

import json

from img2table_spark.operators.extract import extract_tables
from img2table_spark.sources.transcripts import golden_transcripts_df
from img2table_spark.streaming.extract_stream import stream_extract_tables


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_stream_extract_matches_batch(spark, tmp_path):
    df, expected = golden_transcripts_df(spark, n_convs=4, turns_per_conv=8)
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df.write.parquet(inp)

    q = stream_extract_tables(spark, inp, out, ckpt)
    q.awaitTermination(300)

    got = spark.read.parquet(out)
    n_expected = sum(1 for v in expected.values() if v)
    assert got.count() == n_expected
    # batch ≡ stream: the sink holds exactly the rows extract_tables emits
    # over the same input
    assert _rows(got) == _rows(extract_tables(spark.read.parquet(inp)))

    # restart with no new files → nothing reprocessed
    q2 = stream_extract_tables(spark, inp, out, ckpt)
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == n_expected

    # new file lands → only it is processed on the next drain
    df2, expected2 = golden_transcripts_df(spark, n_convs=2, turns_per_conv=5)
    late = df2.selectExpr(
        "concat('late_', conv_id) AS conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    late.write.mode("append").parquet(inp)
    q3 = stream_extract_tables(spark, inp, out, ckpt)
    q3.awaitTermination(300)
    assert sum(json.loads(p.json)["numInputRows"] for p in q3.recentProgress) == late.count()
    n_expected2 = sum(1 for v in expected2.values() if v)
    assert spark.read.parquet(out).count() == n_expected + n_expected2
    assert _rows(spark.read.parquet(out)) == _rows(extract_tables(spark.read.parquet(inp)))
