"""Synthesize the full ~sf1 (10x sf0.1) dataset for the whole-catalog sweep.

One directory with ALL TEN tables, one recipe per table family:

- ``documents``/``embeddings`` — 10 NEAR-duplicate copies per row (short
  per-copy text tag / one-dimension embedding offset): dedup keeps real
  work at every stage instead of trivially collapsing the corpus.
- ``events`` — 10x EXTENDED history (copy k shifts +31k days, re-ids):
  per-window event density constant, so a linear operator slopes ~10x in
  output, never superlinearly in comparisons.
- ``orders``/``lineitem`` — copy k re-keys orderkeys and shifts dates
  +7k days: per-customer purchase sequences EXTEND rather than duplicate
  in place.
- dimension tables (``part customer nation region supplier``) — symlinked
  unchanged: per-key fact density grows 10x, which is exactly the hot-key
  stress the skew-safe plans claim to survive.

Run:  python scripts/build_sf1.py   (writes /tmp/mdmp_sf1)
Then: SPARK_GRAFT_SF_DIR=/tmp/mdmp_sf1 SPARK_GRAFT_CPUS=32 python bench.py
      SPARK_GRAFT_SF_DIR=/tmp/mdmp_sf1 python -m tests.oracle_harness

Scaled tiers (r9): SPARK_GRAFT_SCALE_COPIES=50 SPARK_GRAFT_SCALE_OUT=/tmp/mdmp_sf5
builds an ≈sf5 fixture — 5× the sf1 corpus at CONSTANT near-dup density
(10-doc clusters; see CLUSTER below), the weak-scaling shape for the
heavy-family slope measurements.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
OUT = os.environ.get("SPARK_GRAFT_SCALE_OUT", "/tmp/mdmp_sf1")
COPIES = int(os.environ.get("SPARK_GRAFT_SCALE_COPIES", "10"))
#: near-dup CLUSTER size: copies within one group of 10 are mutual
#: near-dups (the " rev k" tag differs by ~2 tokens); copies in DIFFERENT
#: groups get every token prefixed with a group marker, so their shingle
#: sets are disjoint. With COPIES=10 there is a single group and the
#: fixture is byte-compatible with the original sf1 recipe; with
#: COPIES=50 (≈sf5) the corpus grows 5× at CONSTANT per-doc near-dup
#: density — weak scaling, the honest 100 TB shape. Without the grouping,
#: pair counts grow quadratically in COPIES and the jaccard stage's spill
#: measures fixture hostility, not operator scaling.
CLUSTER = 10

#: symlinked unchanged
DIMENSIONS = ("part", "customer", "nation", "region", "supplier")
TABLES = ("documents", "embeddings", "events", "orders", "lineitem") + DIMENSIONS


def build(spark, base: str, out: str, copies: int) -> None:
    """Write the ``copies``-times scaled fixture of ``base`` to ``out``
    (replaced if present). Every table keeps its base schema."""
    from pyspark.sql import functions as F

    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out, exist_ok=True)
    copy_ids = F.broadcast(spark.range(copies).withColumnRenamed("id", "copy"))

    def scaled(table: str, partitions: int, **cols) -> None:
        """``table`` crossed with the copy ids, the named columns recomputed
        and the rest carried, in the base column order."""
        df = spark.read.parquet(os.path.join(base, f"{table}.parquet"))
        (
            df.crossJoin(copy_ids)
            .select(*[cols[c].alias(c) if c in cols else c for c in df.columns])
            .repartition(partitions)
            .write.mode("overwrite")
            .parquet(os.path.join(out, f"{table}.parquet"))
        )
        print(f"{table} done", flush=True)

    def key_span(table: str, key: str) -> int:
        df = spark.read.parquet(os.path.join(base, f"{table}.parquet"))
        return df.agg(F.max(key)).collect()[0][0] + 1

    def rekey(key: str, span: int):
        return F.col(key) + F.col("copy") * span

    def shift_days(col: str, days: int):
        # timestampadd, NOT date_add: the base fixture ships its dates as
        # TIMESTAMP and date_add would silently degrade the scaled tiers to
        # DATE — cross-tier runs must see one schema
        return F.expr(f"timestampadd(DAY, CAST(copy * {days} AS INT), {col})")

    # documents: near-dup replication
    grp = (F.col("copy") / CLUSTER).cast("int")
    # group > 0: prefix every token with the group marker — shingle sets
    # across groups are disjoint, so near-dup clusters stay CLUSTER-sized.
    # The '·' separator keeps prefixes unambiguous at ANY tier: without it,
    # 'g1'+'1tok' == 'g11'+'tok' re-creates cross-group shared shingles at
    # COPIES > 100 and silently breaks the constant-density guarantee
    grouped_text = F.when(grp == 0, F.col("text")).otherwise(
        F.array_join(
            F.transform(
                F.split(F.col("text"), r"\s+"),
                lambda t: F.concat(F.lit("g"), grp.cast("string"), F.lit("·"), t),
            ),
            " ",
        )
    )
    scaled(
        "documents", 32,
        doc_id=rekey("doc_id", key_span("documents", "doc_id")),
        text=F.when(F.col("copy") == 0, F.col("text")).otherwise(
            F.concat(grouped_text, F.lit(" rev "), F.col("copy"))
        ),
    )
    # embeddings: one-dimension deterministic offset per copy
    scaled(
        "embeddings", 8,
        vec_id=rekey("vec_id", key_span("embeddings", "vec_id")),
        embedding=F.transform(
            "embedding",
            lambda x, i: F.when(
                i == 0, (x + F.col("copy") * F.lit(0.003)).cast("float")
            ).otherwise(x),
        ),
    )
    # events: extended history
    scaled(
        "events", 16,
        event_id=rekey("event_id", key_span("events", "event_id")),
        ts=shift_days("ts", 31),
    )
    # orders + lineitem: re-key + date shift (sequences extend). l_shipdate
    # takes the same +7*copy shift as o_orderdate, so every copy keeps its
    # line's order-to-ship gap (r8 ADVICE finding)
    n_ord = key_span("orders", "o_orderkey")
    scaled(
        "orders", 16,
        o_orderkey=rekey("o_orderkey", n_ord),
        o_orderdate=shift_days("o_orderdate", 7),
    )
    scaled(
        "lineitem", 32,
        l_orderkey=rekey("l_orderkey", n_ord),
        l_shipdate=shift_days("l_shipdate", 7),
    )
    for dim in DIMENSIONS:
        os.symlink(os.path.join(base, f"{dim}.parquet"), os.path.join(out, f"{dim}.parquet"))


def main() -> None:
    from market_data_mining_project_spark.session import get_spark

    spark = get_spark("mdmp-build-sf1", **{"spark.ui.enabled": "false"})
    build(spark, BASE, OUT, COPIES)
    for t in TABLES:
        n = spark.read.parquet(os.path.join(OUT, f"{t}.parquet")).count()
        print(f"{t}: {n} rows", flush=True)


if __name__ == "__main__":
    main()
