"""Build the benchmark's inputs once per checkout (outside every measured run).

Writes under ``.perfbench_data/inputs``:

* ``orders.parquet``  — o_orderkey 0..149999, the sf0.1 key set the
  synthetic corpora and the closed-form oracles are keyed by;
* ``corpus/``         — ``corpus.materialized_images`` over those keys
  (150k raw/png/qnt tiles, cell-partitioned);
* ``days/``           — the same tiles with footprint columns, partitioned
  by ``day_slot = (i div 32) % 64``: the landing zone daily_drop commits from;
* ``corpus/.../docs_100000`` — ``corpus.materialized_docs_n`` for near_dup.

Inputs do not depend on the workload seed; the seed only chooses requests.
Run: ``python3 perfbench/prepare.py`` (run.py calls it when the marker is missing).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import reference  # noqa: E402


def main() -> int:
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ds_raster_pipelines_spark import corpus, native
    from ds_raster_pipelines_spark.session import get_spark

    t0 = time.perf_counter()
    if os.path.exists(common.INPUTS):
        shutil.rmtree(common.INPUTS)
    os.makedirs(common.INPUTS)
    pq.write_table(
        pa.table({"o_orderkey": np.arange(common.N_TILES, dtype=np.int64)}),
        os.path.join(common.INPUTS, "orders.parquet"),
    )
    native.get_lib()  # compile the kernel library once, before any timed session
    spark = get_spark(common.SPARK_APP + "-prepare", extra_conf=common.spark_conf())
    try:
        path = corpus.materialized_images(spark, common.INPUTS, cache_root=common.CORPUS_CACHE)
        days = corpus.footprint_cols_for_images(spark.read.parquet(path)).drop("pcell")
        days = days.withColumn(
            "day_slot", F.pmod(F.floor(F.col("i") / 32), F.lit(common.DAY_SLOTS)).cast("int")
        )
        days.repartition("day_slot").write.partitionBy("day_slot").parquet(
            os.path.join(common.INPUTS, "days")
        )
        docs = corpus.materialized_docs_n(spark, common.N_DOCS, cache_root=common.CORPUS_CACHE)
    finally:
        spark.stop()
    con = duckdb.connect(os.path.join(common.INPUTS, "near_dup.duckdb"))
    reference.build_near_dup_tables(con, docs)
    if not reference.split_oracle_agrees(con, docs, 40_000, 44_999):
        raise RuntimeError("window oracle disagrees with _MINHASH_VERIFIED_ORACLE")
    con.close()
    open(common.READY_MARKER, "w").close()
    print(f"perfbench inputs ready in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
