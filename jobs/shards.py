"""spark-submit entrypoint: kept corpus → training shards.

    spark-submit --py-files dist/who_focus_crawler_spark.zip \
        jobs/shards.py --input /path/kept --output /tmp/shards \
        --epoch 0 --shards 8 --pack-capacity 2048

The last mile of the training-data pipeline (crawl → corpus → SHARDS):
tokenize-count each kept document, pack documents into fixed-capacity
sequences (corpus/packing.py — start-fit in deterministic hash order,
two-phase distributed prefix sum), lay the packs out in a deterministic
per-epoch shuffle (corpus/sampling.py::epoch_order — shard + position as
a pure function of (seed, epoch, doc_id)), and write one partition per
shard ordered by position. Re-running with the same seed/epoch
reproduces the byte-identical layout on any cluster size; bumping
--epoch redraws the permutation.

Optional --curriculum quality orders each shard easy→hard by the
verified integer quality score while the hash key still shuffles within
a quality stage.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def run_shard_layout(
    docs: DataFrame,
    output: str | None = None,
    epoch: int = 0,
    n_shards: int = 8,
    pack_capacity: int = 2048,
    seed: str = "shards",
    curriculum: str | None = None,
) -> dict:
    """docs(doc_id, text[, quality, ...]) → sharded layout + stats.

    Output rows: (doc_id, n_tokens, pack_id, pack_offset, shard, pos),
    written partitioned by shard with rows ordered by pos inside each
    shard file.
    """
    from who_focus_crawler_spark.corpus.packing import pack_assign
    from who_focus_crawler_spark.corpus.sampling import epoch_order
    from who_focus_crawler_spark.corpus.text import tokens

    if curriculum is not None and curriculum not in docs.columns:
        raise ValueError(f"curriculum column {curriculum!r} not in input")
    sized = docs.withColumn(
        "n_tokens", F.size(tokens(F.col("text"))).cast("long")
    ).withColumn("_grp", F.lit("all"))
    packed = pack_assign(
        sized, capacity=pack_capacity, group_col="_grp", seed=seed
    ).drop("_grp")
    order = [F.col(curriculum).desc()] if curriculum else None
    laid = epoch_order(
        packed, "doc_id", epoch=epoch, n_shards=n_shards,
        seed=f"{seed}:{epoch}", curriculum=order,
    )
    out_cols = ["doc_id", "n_tokens", "pack_id", "pack_offset", "shard", "pos"]
    result = laid.select(*out_cols).persist()
    n_docs = result.count()
    agg = result.agg(
        F.sum("n_tokens").alias("tok"),
        F.countDistinct("pack_id").alias("packs"),
        F.countDistinct("shard").alias("shards"),
    ).collect()[0]
    if output:
        (
            result.repartition(n_shards, "shard")
            .sortWithinPartitions("shard", "pos")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(output)
        )
    stats = {
        "n_docs": n_docs,
        "n_tokens": int(agg["tok"] or 0),
        "n_packs": int(agg["packs"]),
        "n_shards_used": int(agg["shards"]),
        "epoch": epoch,
    }
    result.unpersist()
    return stats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="kept-corpus parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--epoch", type=int, default=0)
    ap.add_argument("--shards", type=int, default=8)
    ap.add_argument("--pack-capacity", type=int, default=2048)
    ap.add_argument("--seed", default="shards")
    ap.add_argument(
        "--curriculum", default=None,
        help="order each shard by this column desc (e.g. quality)",
    )
    args = ap.parse_args()
    from who_focus_crawler_spark.session import submit_spark

    spark = submit_spark("wfc-shards")
    docs = spark.read.parquet(args.input)
    stats = run_shard_layout(
        docs,
        output=args.output,
        epoch=args.epoch,
        n_shards=args.shards,
        pack_capacity=args.pack_capacity,
        seed=args.seed,
        curriculum=args.curriculum,
    )
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
