#!/usr/bin/env python3
"""Scale the driver testdata up by an integer factor for scale runs.

``/root/testdata`` is read-only and tops out at sf0.1; SCALE.md's
100-TB arguments deserve at least one measured point above the bench
default. This tool derives sf{0.1*k} deterministically from sf0.1 by
unioning k key-shifted copies of every non-fixed table:

- TPC-H keys (custkey/suppkey/partkey/orderkey, doc/vec/event/user
  ids) shift by ``copy * OFFSET`` so referential integrity holds
  within each copy and keys never collide across copies. ``region``
  and ``nation`` stay fixed (their size is SF-independent in TPC-H,
  and the copies' FKs still resolve).
- ``documents.text`` gets a per-copy suffix stamped on EVERY word
  (``w`` -> ``w§i``): copies are textually disjoint, so MinHash /
  SimHash / n-gram near-dup structure scales LINEARLY (10x groups of
  the original size) instead of super-linearly (10x-wide duplicate
  clusters and O(k^2) candidate pairs per group, which a naive
  verbatim copy would create). Vocabulary grows with the corpus, as
  in a real crawl.
- ``embeddings.embedding`` is rotated by ``copy`` positions: rotated
  vectors are far from their originals in cosine, so ANN / embedding
  near-dup candidate sets also scale linearly.

Output goes INSIDE the repo (gitignored) — never to /root/testdata.

Usage: python tools/make_sf.py [--src /root/testdata/sf0.1] \
         [--out /root/repo/.localdata/sf1] [--factor 10]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OFFSET = 100_000_000  # far above any sf0.1 key (lineitem max ~600k)

# table -> columns to shift by copy*OFFSET
SHIFT = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
FIXED = ["region", "nation"]


def scaled_copy(df, table: str, copy: int):
    from pyspark.sql import functions as F

    out = df
    for c in SHIFT[table]:
        out = out.withColumn(c, (F.col(c) + F.lit(copy * OFFSET)).cast("long"))
    if copy > 0 and table == "documents":
        # distinct text per copy (see module docstring); keep n_chars
        # honest so length-based quality filters see consistent stats.
        # The stamp must stay (a) pure ASCII — multimodal payloads
        # reuse text bytes and their oracles rely on byte==char
        # offsets (a 2-byte UTF-8 stamp broke audio_segments at sf1) —
        # and (b) ALPHANUMERIC, so the tokenizer keeps `wordq3` as ONE
        # token distinct from `word` (a separator stamp split into
        # [word, 3], leaking the original token stream back into every
        # copy and defeating the linear-dedup-structure goal)
        out = out.withColumn(
            "text", F.regexp_replace("text", r"(\w+)", f"$1q{copy}")
        ).withColumn("n_chars", F.length("text").cast("long"))
    if copy > 0 and table == "embeddings":
        # rotate left by `copy` positions — modulo the vector dim (64),
        # else copies >= dim would alias copy % dim exactly and plant
        # artificial duplicate embeddings. Copies past one full cycle
        # are NEGATED instead (cosine-opposite, maximally far), which
        # keeps every copy pairwise-distant up to factor 128. factor <=
        # 64 outputs (incl. the standing sf1) are bit-identical to the
        # pre-fix tool.
        n = copy % 64
        rotated = F.concat(
            F.slice("embedding", n + 1, 10_000), F.slice("embedding", 1, n)
        ) if n else F.col("embedding")
        if copy >= 64:
            rotated = F.transform(rotated, lambda x: -x)
        out = out.withColumn("embedding", rotated)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/root/repo/.localdata/sf1")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument(
        "--target-file-mb",
        type=int,
        default=128,
        help="approximate output parquet file size; the r5 default "
        "(one file per upstream partition) emitted ~4 MB single-row-"
        "group files at sf10, which neutralizes row-group pruning for "
        "every scan path and misrepresents a real lake's geometry "
        "(VERDICT r5 #3). 0 keeps the upstream partitioning.",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F  # noqa: F401
    from hbasewd_spark.fsutil import Fs
    from hbasewd_spark.session import get_spark
    from hbasewd_spark.sources.loaders import load_table

    spark = get_spark(app_name="make_sf")
    os.makedirs(args.out, exist_ok=True)

    for t in FIXED:
        load_table(spark, args.src, t).write.mode("overwrite").parquet(
            f"{args.out}/{t}.parquet"
        )
        print(f"{t}: copied")

    for t in SHIFT:
        base = load_table(spark, args.src, t)
        parts = [scaled_copy(base, t, i) for i in range(args.factor)]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        writer = u.write.mode("overwrite")
        if args.target_file_mb:
            size = Fs.du(spark, os.path.join(args.src, f"{t}.parquet"))
            # file count: target-sized files, FLOORED at one file per
            # local core (unless the table is truly tiny). A production
            # lake reaches core-count splits naturally (thousands of
            # files); a miniature that packs a main table into one
            # 59 MB file serializes every scan of it onto one task and
            # adds a full-text repartition shuffle the real layout
            # never pays (measured 5-8x on doc-heavy queries at sf10).
            # An unsizable source gets one file per core.
            cores = spark.sparkContext.defaultParallelism
            est = size * args.factor if size is not None else None
            n_files = cores if est is None else max(
                round(est / (args.target_file_mb * (1 << 20))),
                min(cores, max(1, est // (256 << 10))),
                1,
            )
            u = u.repartition(n_files)
            # multiple row groups per file: row groups are BOTH the
            # intra-file stat-pruning granularity and the smallest unit
            # a byte-range split can decode — a file holding ONE giant
            # row group collapses to a single task no matter how many
            # splits Spark plans
            writer = u.write.mode("overwrite").option(
                "parquet.block.size", max(1 << 20, (args.target_file_mb << 20) // 16)
            )
        writer.parquet(f"{args.out}/{t}.parquet")
        n = spark.read.parquet(f"{args.out}/{t}.parquet").count()
        print(f"{t}: {n} rows ({args.factor}x)")

    spark.stop()


if __name__ == "__main__":
    main()
