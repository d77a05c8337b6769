"""Generate a LOCAL sf1 rehearsal dataset by scaling sf0.1 10× with
key-shifted copies. The source is the checkout's ``perfbench/data/sf0.1``
unless ``src_dir`` is given; the output goes to ``.scratch/sf1/`` in the
checkout that holds this script, unless ``out_dir`` is given.

Scaling strategy — 10 shifted copies, copy 0 = identity:
- dims (region, nation) stay single-copy: they are fixed-cardinality in
  TPC-H; scaling them would change join semantics.
- every fact/entity key shifts by copy*stride, CONSISTENTLY across
  referencing tables (orders.o_custkey shifts exactly like
  customer.c_custkey), so FK relationships, per-key cardinalities, skew
  shape, and modulo-based query slices (doc_id % 5, vec_id % 10 — strides
  are multiples of 10) are all preserved at 10× volume.
- documents copies >0 get every token suffixed "_c{i}": within-copy
  near-dup density is preserved while cross-copy pairs are impossible —
  an honest 10× of the dedup workload, not a 100× adversarial clone blast
  (3000-identical-doc stress lives in tests/test_robustness_r3.py).
- embeddings replicate unchanged (denser corpus, same geometry); query
  slices (vec_id < 20) stay in copy 0.

Usage: python tools/gen_scaled_testdata.py [copies=10] [out_dir] [src_dir]
    [--shared-tokens]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from data_integration_spark.session import get_spark
from data_integration_spark.sources.catalog import Catalog

K = 1_000_000       # entity-key stride (customer/supplier/part/doc/vec/user)
B = 10_000_000      # big-key stride (orderkey/event_id)

# table -> {column: stride}; copy i adds i*stride to each listed column
SHIFTS = {
    "customer": {"c_custkey": K},
    "supplier": {"s_suppkey": K},
    "part": {"p_partkey": K},
    "orders": {"o_orderkey": B, "o_custkey": K},
    "lineitem": {"l_orderkey": B, "l_partkey": K, "l_suppkey": K},
    "events": {"event_id": B, "user_id": K},
    "documents": {"doc_id": K},
    "embeddings": {"vec_id": K},
}
DIMS = ("region", "nation")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    copies = int(args[0]) if len(args) > 0 else 10
    out = args[1] if len(args) > 1 else os.path.join(REPO, ".scratch", "sf1")
    src = args[2] if len(args) > 2 else os.path.join(REPO, "perfbench", "data", "sf0.1")
    # --shared-tokens: copies keep the ORIGINAL token space (true Zipf hot
    # keys at scale — the skew-REALISTIC corpus for join experiments).
    # Near-dup queries are NOT meaningful on it: every copy is an exact
    # near-dup of copy 0.
    shared_tokens = "--shared-tokens" in sys.argv
    os.makedirs(out, exist_ok=True)
    spark = get_spark(app_name="gen_sf1")
    cat = Catalog(spark, src)
    for name in DIMS:
        cat[name].write.mode("overwrite").parquet(f"{out}/{name}.parquet")
        print(f"{name}: dim copied")
    for name, shifts in SHIFTS.items():
        base = cat[name]
        parts = []
        for i in range(copies):
            df = base
            for col, stride in shifts.items():
                df = df.withColumn(col, (F.col(col) + F.lit(i * stride)).cast("long"))
            if name == "documents" and i > 0 and not shared_tokens:
                # factory closure, NEVER a default-arg lambda: F.transform
                # treats a two-parameter lambda as (element, INDEX) and the
                # default silently never applies (the r6 minhash k-collapse
                # bug class — this site previously emitted accidental
                # "Column<...>"-repr suffixes that were only per-copy-unique
                # by luck of fresh lambda variable names)
                def _suffixer(tag):
                    return lambda x: F.concat(x, F.lit(tag))

                df = df.withColumn(
                    "text",
                    F.array_join(
                        F.transform(F.split("text", " "), _suffixer(f"_c{i}")),
                        " ",
                    ),
                ).withColumn("n_chars", F.length("text").cast("long"))
            parts.append(df)
        full = parts[0]
        for p in parts[1:]:
            full = full.unionByName(p)
        full.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
        print(f"{name}: x{copies} written")
    spark.stop()


if __name__ == "__main__":
    main()
