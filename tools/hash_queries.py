"""Print a canonical md5 per registry query result — for A/B-proving
that an optimization left every declared query's rows bit-identical
(the driver hashes rows-only results too).

    python tools/hash_queries.py q1,q2,... [sf_dir]
"""
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as em
from tdataframe_spark.session import get_spark


def main() -> None:
    names = sys.argv[1].split(",")
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    spark = get_spark("hash-queries", cpus=16, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    Q = em.queries()
    for name in names:
        df = Q[name](spark, sf)
        pdf = df.toPandas().reindex(sorted(df.columns), axis=1)
        for c in pdf.columns:
            if pdf[c].dtype == object:
                pdf[c] = pdf[c].map(
                    lambda x: tuple(x) if isinstance(x, (list, tuple)) or hasattr(x, "tolist") and not isinstance(x, str) else x
                )
        pdf = pdf.sort_values(list(pdf.columns), ignore_index=True)
        h = hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()
        print(f"{name}: {h} ({len(pdf)} rows)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
