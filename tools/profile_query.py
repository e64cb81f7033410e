"""Split one bench query's wall time into fn() construction vs noop execution,
and count the generated classes each sample compiled (codegen cache misses).

Usage: python tools/profile_query.py <query> [query ...]   (2 samples each)
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from movie_genre_data_pipeline_spark.session import build_session, codegen_compiles
    from movie_genre_data_pipeline_spark.suite import all_queries

    spark = build_session(app_name="mgdp-profile")
    specs = all_queries()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    li.groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()

    for name in sys.argv[1:]:
        for _ in range(2):
            c0 = codegen_compiles(spark)
            t0 = time.time()
            df = specs[name].fn(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            print(
                f"{name}: total={t2 - t0:6.3f}  build={t1 - t0:6.3f}  "
                f"exec={t2 - t1:6.3f}  compiles={codegen_compiles(spark) - c0}"
            )


if __name__ == "__main__":
    main()
