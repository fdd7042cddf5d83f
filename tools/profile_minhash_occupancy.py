"""Profile MinHash LSH band-bucket occupancy at a given scale — the
SF1.md methodology that caught the semantic-dedup plane-hash skew
(round 6) applied to the banded self-join (round-7 verdict #6): if a
few (band, band-hash) buckets hold a disproportionate share of rows,
the self-join's largest task is quadratic in the max bucket and the
measured 6.2x/decade would be skew, not byte volume.

Reports rows, buckets, mean/p99/max bucket occupancy, and the total
candidate-pair mass sum(c*(c-1)/2) with the share contributed by the
top bucket, for the exact configuration the graded minhash_dedup key
runs (minhash_signatures_md5 num_hashes=32 -> 8 bands).

Usage: SPARK_GRAFT_SF_DIR=/root/repo/.sf100 python \
    tools/profile_minhash_occupancy.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import bench_session


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench_session("profile-minhash-occupancy", sf_dir)
    from tumult_analytics_spark.operators.dedup import (
        _banded_signatures,
        minhash_signatures_md5,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sigs = minhash_signatures_md5(
        docs, "text", "doc_id", num_hashes=32, shingle_size=5
    )
    banded = _banded_signatures(sigs, "doc_id", bands=8, num_hashes=32)
    occ = banded.groupBy("__band__", "__bh__").agg(
        F.count(F.lit(1)).alias("c")
    )
    stats = occ.agg(
        F.count(F.lit(1)).alias("buckets"),
        F.sum("c").alias("rows"),
        F.avg("c").alias("mean"),
        F.expr("percentile_approx(c, 0.99)").alias("p99"),
        F.max("c").alias("max"),
        F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("pair_mass"),
    ).collect()[0]
    top = (
        occ.orderBy(F.col("c").desc()).limit(5).collect()
    )
    top_mass = sum(r["c"] * (r["c"] - 1) / 2 for r in top[:1])
    print(
        f"sf_dir={sf_dir} rows={stats['rows']} buckets={stats['buckets']} "
        f"mean={stats['mean']:.2f} p99={stats['p99']} max={stats['max']} "
        f"pair_mass={int(stats['pair_mass'])} "
        f"top_bucket_mass_share={top_mass / max(stats['pair_mass'], 1):.4f}"
    )
    print("top buckets:", [(r["__band__"], r["c"]) for r in top])


if __name__ == "__main__":
    main()
