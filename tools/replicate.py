"""Write an ~sfN fixture: N key-shifted copies of $SPARK_GRAFT_SF_DIR
(default: the sf0.1 fixture bench.py reads) unioned into parquet under
the temp dir, and print its directory. Feed it to bench.py to compare a
golden's scaling against the source fixture:

    python bench.py NAME...
    SPARK_GRAFT_SF_DIR=$(python tools/replicate.py 10) python bench.py NAME...

A healthy operator reads ~Nx wall clock, tasks and shuffle bytes. Two
caveats of a replica fixture:

* content is copied, not shifted: every document, name and event value
  exists N times, so pair-output operators (fuzzy and ER joins,
  self-joins, repeated-span and overlap detection) grow quadratically in
  the number of copies by construction;
* ``--sparse`` also shifts ``l_partkey`` and rotates each document
  replica's vowels, so replicas form disjoint co-purchase subgraphs and
  mostly distinct text (use it for graph and text goldens, e.g.
  ``triangle_counts_copurchase``).

An existing fixture is reused; region is written last, so its presence
marks a complete build.

Run: python tools/replicate.py N [--sparse]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mr_dice_spark.catalog import Catalog  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# (table, key columns to shift so replicas don't collide)
SHIFT = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    # dimensions stay single-copy: part/supplier/nation/region
}


def build_scaled(spark, factor: int, out_dir: str, sparse: bool = False) -> None:
    """``sparse=True`` builds the DENSITY-HONEST variant for graph/text
    probes: the default replication shifts lineitem order keys but not
    part keys, so the co-purchase graph gets factor-times DENSER over
    the same 2 000 parts (degrees — and wedge work — grow with the
    factor, which real TPC-H scaling does not do: parts scale with
    lineitem). The sparse build additionally shifts l_partkey (replicas
    become disjoint subgraphs, like real scale-out; joins to the
    single-copy part table dangle — graph/text probes don't use them)
    and ROTATES each document replica's vowels by the replica index so
    text content is mostly DISTINCT across replicas — modeling a bigger
    corpus instead of the total-duplication regime (content-pair
    operators like winnowing otherwise see quadratic-in-copies TRUE
    output by construction). A perf-harness transform only — never a
    correctness fixture."""
    cat = Catalog(spark, SF_DIR)
    for table, keys in SHIFT.items():
        src = cat.table(table)
        shift_keys = list(keys)
        if sparse and table == "lineitem":
            shift_keys.append("l_partkey")
        # key stride larger than any real key so replicas never collide
        stride = 10 ** 12
        copies = []
        for i in range(factor):
            c = src
            for k in shift_keys:
                c = c.withColumn(k, F.col(k) + F.lit(i * stride))
            if sparse and table == "documents" and i > 0:
                rot = "aeiou"[i % 5 :] + "aeiou"[: i % 5]
                c = c.withColumn("text", F.translate("text", "aeiou", rot))
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")
    for table in ["part", "supplier", "nation", "region"]:
        cat.table(table).write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("factor", type=int)
    ap.add_argument("--sparse", action="store_true")
    args = ap.parse_args()
    tag = f"mr_dice_scale_{'sparse_' if args.sparse else ''}x{args.factor}"
    out_dir = os.path.join(tempfile.gettempdir(), tag)
    if not os.path.exists(os.path.join(out_dir, "region.parquet")):
        from mr_dice_spark.session import get_spark

        spark = get_spark(app_name="replicate")
        spark.sparkContext.setLogLevel("ERROR")
        print(f"# building x{args.factor} fixture at {out_dir}", file=sys.stderr)
        build_scaled(spark, args.factor, out_dir, sparse=args.sparse)
    print(out_dir)


if __name__ == "__main__":
    main()
