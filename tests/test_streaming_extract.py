"""Flagship extraction as a stream: per-turn cell equality vs the golden
transcript generator's expected tables, ingested several files per
micro-batch, plus a restart-resume probe on the same checkpoint."""

import json

from img2table_spark.sources.transcripts import golden_transcripts_df
from img2table_spark.streaming.extract_stream import stream_extract_tables


def _expected_and_got(spark, out):
    rows = spark.read.parquet(out).collect()
    got: dict = {}
    for r in rows:
        got.setdefault((r.conv_id, int(r.turn_idx)), []).extend(
            (int(c.row), int(c.col), c.value) for c in r.cells
        )
    return got


def test_stream_extract_matches_golden(spark, tmp_path):
    df, expected = golden_transcripts_df(spark, n_convs=8, turns_per_conv=6)
    inp, out, ckpt = (str(tmp_path / d) for d in ("tin", "tout", "tckpt"))
    df.repartition(6).write.parquet(inp)  # 6 files → 3 batches at 2/trigger

    q = stream_extract_tables(
        spark, inp, out, ckpt, max_files_per_trigger=2, num_partitions=8
    )
    q.awaitTermination(300)
    progress = [json.loads(p.json) for p in q.recentProgress]
    assert len([p for p in progress if p["numInputRows"] > 0]) >= 3

    got = _expected_and_got(spark, out)
    n_cells = 0
    for key, cells in expected.items():
        want = sorted(map(tuple, cells))
        have = sorted(got.get(key, []))
        assert have == want, (key, want[:3], have[:3])
        n_cells += len(want)
    assert n_cells > 0

    # exactly-once on restart: rerunning over the same checkpoint with no
    # new files must add NOTHING to the sink
    q2 = stream_extract_tables(
        spark, inp, out, ckpt, max_files_per_trigger=2, num_partitions=8
    )
    q2.awaitTermination(300)
    total = sum(len(v) for v in _expected_and_got(spark, out).values())
    assert total == n_cells
