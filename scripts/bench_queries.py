"""Per-query wall measurement harness for optimization work (round 6).

Replicates bench.py's run_query_suite methodology EXACTLY (same session
config, same untimed warmups, noop sink, steady-state walls) but lets you
run a subset of queries and optionally dump .explain("formatted") plans.
bench.py itself is frozen for driver measurement; this file exists so
optimization iterations don't touch it (guide §1.4).

Usage:
  python scripts/bench_queries.py [--explain-dir plans/r06 --tag before] \
      [--no-warm-q14] [q08_minhash_lsh q74_curation_pipeline ...]

Prints one JSON line {"queries": {name: sec}, "total": sec}.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    args = sys.argv[1:]
    explain_dir = None
    tag = "before"
    warm_q14 = True
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--explain-dir":
            explain_dir = args[i + 1]
            i += 2
        elif a == "--tag":
            tag = args[i + 1]
            i += 2
        elif a == "--no-warm-q14":
            warm_q14 = False
            i += 1
        else:
            names.append(a)
            i += 1

    import __spark_entry__ as entrymod
    from img2table_spark.session import default_cores, get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cores()
    spark = get_spark(app_name="bench-queries-extra", cores=cpus)
    qs = entrymod.queries()
    if not names:
        names = list(qs)
    out: dict[str, float] = {}
    try:
        _force(entrymod.entry(spark))
        if warm_q14 and "q14_image_extract" in names:
            from img2table_spark.queries import _q14_corpus_rows

            _q14_corpus_rows()
            _force(qs["q14_image_extract"](spark, sf_dir))
        for name in names:
            fn = qs[name]
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            _force(fn(spark, sf_dir))
            out[name] = round(time.time() - t0, 3)
            if explain_dir:
                os.makedirs(explain_dir, exist_ok=True)
                mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
                txt = fn(spark, sf_dir)._jdf.queryExecution().explainString(mode)
                with open(
                    os.path.join(explain_dir, f"{name}_{tag}.txt"), "w"
                ) as f:
                    f.write(txt)
        spark.sparkContext.setJobDescription(None)
    finally:
        spark.stop()
    print(json.dumps({"queries": out, "total": round(sum(out.values()), 3)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
