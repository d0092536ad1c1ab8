"""Distributed URL-seen set: partitioned Bloom/cuckoo sketches + exact
key table, exposed as DataFrame operators (SURVEY.md §2.1 J3, §7 step 4).

Data model (FIXTURES.md §3):
- ``seen_urls(url_hash: long, partition_id: int)`` — exact ground truth.
- ``sketches(partition_id: int, bloom_bytes: binary, cuckoo_bytes:
  binary)`` — one row per hash-bucket partition.

The reference probes MySQL per row before every insert
(/root/reference/app/service/vbpl.py:147-148 and 7 sibling sites); at
10^10 URLs that is the scaling wall. Here:

1. ``filter_unseen``: cogroup(frontier, sketches) by partition_id, batch
   Bloom membership inside an Arrow batch. Bloom-negative rows are
   *definitively new* and skip the exact join entirely; only
   Bloom-positive rows (seen + false positives) do the exact left-anti
   join. At a steady-state crawl most candidate URLs are already seen,
   so the exact join shrinks to the FP rate of the filter — and the
   final seen set stays exactly equal to the reference's.
2. ``add`` / ``delete``: the same cogroup shape updates sketch bytes;
   delete (cuckoo) is the retry-requeue primitive.

Partitioning: partition_id = pmod(url_hash, n_partitions) — the same
bucketing used by the exact table, so both joins are co-partitioned and
AQE can split skewed buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vbpl_web_crawl_spark.operators.sketches import BloomFilter, CuckooFilter

SKETCH_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("bloom_bytes", T.BinaryType(), True),
        T.StructField("cuckoo_bytes", T.BinaryType(), True),
    ]
)


SEEN_URLS_SCHEMA = "url_hash long, partition_id int"


def partition_of(url_hash_col, n_partitions: int):
    return F.pmod(url_hash_col, F.lit(n_partitions)).cast("int")


def empty_sketches(
    spark: SparkSession, n_partitions: int, bloom_bits: int = 1 << 20, cuckoo_buckets: int = 1 << 14
) -> DataFrame:
    rows = [
        (
            p,
            BloomFilter(bloom_bits).to_bytes(),
            CuckooFilter(cuckoo_buckets).to_bytes(),
        )
        for p in range(n_partitions)
    ]
    return spark.createDataFrame(rows, SKETCH_SCHEMA)


def _load(sk_pdf: pd.DataFrame) -> tuple[BloomFilter, CuckooFilter]:
    # exactly one sketch row per partition is an invariant (enforced by
    # the cogroup update shape); reading iloc[0] of >1 rows would be
    # nondeterministic, so fail loudly instead
    assert len(sk_pdf) == 1, f"sketch partition has {len(sk_pdf)} rows, expected 1"
    row = sk_pdf.iloc[0]
    return BloomFilter.from_bytes(bytes(row.bloom_bytes)), CuckooFilter.from_bytes(
        bytes(row.cuckoo_bytes)
    )


def filter_unseen(
    candidates: DataFrame,
    seen_urls: DataFrame,
    sketches: DataFrame,
    n_partitions: int,
    caches: list | None = None,
) -> DataFrame:
    """Rows of ``candidates`` (must carry ``url_hash``) whose hash is not
    in the seen set. Bloom prefilter -> exact anti-join on survivors.

    The cogrouped frame is persisted (two consumers). Pass ``caches`` (a
    list) to receive it for unpersisting once the output is consumed;
    with ``caches=None`` the cache lives until the caller clears it.
    """
    cand = candidates.withColumn("partition_id", partition_of(F.col("url_hash"), n_partitions))
    out_schema = T.StructType(
        cand.schema.fields + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )
    col_order = [f.name for f in out_schema.fields]

    def probe(key, cand_pdf: pd.DataFrame, sk_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(columns=col_order)
        if sk_pdf.empty:
            cand_pdf = cand_pdf.assign(maybe_seen=False)
        else:
            bloom, _ = _load(sk_pdf)
            cand_pdf = cand_pdf.assign(
                maybe_seen=bloom.contains(cand_pdf["url_hash"].to_numpy(dtype=np.int64))
            )
        return cand_pdf[col_order]

    flagged = (
        cand.groupBy("partition_id")
        .cogroup(sketches.groupBy("partition_id"))
        .applyInPandas(probe, out_schema)
        .persist()  # consumed twice below; avoids re-running the cogroup
    )
    if caches is not None:
        caches.append(flagged)
    definitely_new = flagged.filter(~F.col("maybe_seen"))
    # exact check only for bloom-positive rows (FPs + true seen)
    suspects = flagged.filter(F.col("maybe_seen"))
    confirmed_new = suspects.join(
        seen_urls.select("url_hash"), "url_hash", "left_anti"
    )
    return definitely_new.unionByName(confirmed_new).drop("maybe_seen", "partition_id")


def add_to_seen(
    new_hashes: DataFrame,
    seen_urls: DataFrame,
    sketches: DataFrame,
    n_partitions: int,
) -> tuple[DataFrame, DataFrame]:
    """Returns (new seen_urls, new sketches) with ``new_hashes``
    (column ``url_hash``) inserted. Both updates are co-partitioned
    cogroups — no driver-side collect."""
    hashes = (
        new_hashes.select("url_hash")
        .distinct()
        .withColumn("partition_id", partition_of(F.col("url_hash"), n_partitions))
    )

    def update(key, h_pdf: pd.DataFrame, sk_pdf: pd.DataFrame) -> pd.DataFrame:
        if sk_pdf.empty:
            bloom, cuckoo = BloomFilter(), CuckooFilter()
        else:
            bloom, cuckoo = _load(sk_pdf)
        keys = h_pdf["url_hash"].to_numpy(dtype=np.int64)
        bloom.add(keys)
        cuckoo.add(keys)
        return pd.DataFrame(
            {
                "partition_id": [int(key[0])],
                "bloom_bytes": [bloom.to_bytes()],
                "cuckoo_bytes": [cuckoo.to_bytes()],
            }
        )

    # the cogroup emits exactly one row per partition present on EITHER
    # side — a partition with no new keys re-emits its sketch unchanged
    # (update() with an empty hash frame is a no-op), so no anti-join
    # union of "untouched" rows: that union double-emitted cold
    # partitions, growing the checkpointed sketch table every round
    new_sketches = (
        hashes.groupBy("partition_id")
        .cogroup(sketches.groupBy("partition_id"))
        .applyInPandas(update, SKETCH_SCHEMA)
    )
    new_seen = seen_urls.unionByName(
        hashes.select("url_hash", "partition_id")
    ).dropDuplicates(["url_hash"])
    return new_seen, new_sketches


def apply_sketch_delta(
    add_hashes: DataFrame,
    del_hashes: DataFrame,
    sketches: DataFrame,
    n_partitions: int,
) -> DataFrame:
    """One cogroup applying a round's deletes (cuckoo) then adds
    (bloom+cuckoo) to every touched sketch partition. Combining the two
    passes halves the per-round shuffle count vs separate delete/add."""
    tagged = del_hashes.select("url_hash", F.lit(1).alias("is_del")).unionByName(
        add_hashes.select("url_hash", F.lit(0).alias("is_del"))
    )
    tagged = tagged.withColumn("partition_id", partition_of(F.col("url_hash"), n_partitions))

    def update(key, h_pdf: pd.DataFrame, sk_pdf: pd.DataFrame) -> pd.DataFrame:
        if sk_pdf.empty:
            bloom, cuckoo = BloomFilter(), CuckooFilter()
        else:
            bloom, cuckoo = _load(sk_pdf)
        dels = h_pdf.loc[h_pdf["is_del"] == 1, "url_hash"].to_numpy(dtype=np.int64)
        adds = h_pdf.loc[h_pdf["is_del"] == 0, "url_hash"].to_numpy(dtype=np.int64)
        if len(dels):
            cuckoo.delete(dels)
        if len(adds):
            bloom.add(adds)
            cuckoo.add(adds)
        return pd.DataFrame(
            {
                "partition_id": [int(key[0])],
                "bloom_bytes": [bloom.to_bytes()],
                "cuckoo_bytes": [cuckoo.to_bytes()],
            }
        )

    # one row per sketch partition, touched or not (see add_to_seen note)
    return (
        tagged.groupBy("partition_id")
        .cogroup(sketches.groupBy("partition_id"))
        .applyInPandas(update, SKETCH_SCHEMA)
    )


def delete_from_seen(
    del_hashes: DataFrame,
    seen_urls: DataFrame,
    sketches: DataFrame,
    n_partitions: int,
) -> tuple[DataFrame, DataFrame]:
    """Un-mark hashes (retry requeue): cuckoo delete + exact anti-join.

    The Bloom filter cannot delete — after a delete it may report a
    false positive for the removed key, which the exact anti-join then
    overrides, so re-admission is still correct (and the cuckoo filter,
    which *can* delete, is the membership source for retry accounting).
    """
    hashes = (
        del_hashes.select("url_hash")
        .distinct()
        .withColumn("partition_id", partition_of(F.col("url_hash"), n_partitions))
    )

    def update(key, h_pdf: pd.DataFrame, sk_pdf: pd.DataFrame) -> pd.DataFrame:
        if sk_pdf.empty:
            # delete aimed at a partition with no sketch: nothing to emit
            return pd.DataFrame(columns=[f.name for f in SKETCH_SCHEMA.fields])
        bloom, cuckoo = _load(sk_pdf)
        cuckoo.delete(h_pdf["url_hash"].to_numpy(dtype=np.int64))
        return pd.DataFrame(
            {
                "partition_id": [int(key[0])],
                "bloom_bytes": [bloom.to_bytes()],
                "cuckoo_bytes": [cuckoo.to_bytes()],
            }
        )

    # one row per sketch partition, touched or not (see add_to_seen note)
    new_sketches = (
        hashes.groupBy("partition_id")
        .cogroup(sketches.groupBy("partition_id"))
        .applyInPandas(update, SKETCH_SCHEMA)
    )
    new_seen = seen_urls.join(hashes.select("url_hash"), "url_hash", "left_anti")
    return new_seen, new_sketches
