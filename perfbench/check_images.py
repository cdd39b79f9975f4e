"""Confirms that perfbench/images.py reproduces images_df bit for bit.

    python3 perfbench/check_images.py [n_rows]

Builds both tables for a few seeds, with and without drift, in a local
Spark session and exits non-zero on the first differing column.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import ROOT, spark_session  # noqa: E402
from images import images_table  # noqa: E402

sys.path.insert(0, ROOT)


def main() -> None:
    from json_schema_clj_spark.sources.images import images_df

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    spark = spark_session("perfbench-check-images")
    try:
        for seed in (1, 42, 90210, -7, 2**31 + 5):
            for drift in (False, True):
                want = images_df(spark, n, seed=seed, drift=drift).toArrow()
                got = images_table(n, seed=seed, drift=drift)
                for name in want.column_names:
                    if want.column(name).to_pylist() != got.column(name).to_pylist():
                        raise SystemExit(f"seed={seed} drift={drift}: column {name} differs")
                print(f"seed={seed} drift={drift}: {n} rows identical")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
