"""Fixed-shape micro-benches of single operators (traced runs only).

Each input is built from the workload's own generated data, cached and
counted before timing; a bench times a noop-sink write of one operator over
it three times and reports rows per second of the median.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MICRO_ROWS = 100_000  # rows of the replicated URL-shaped inputs
DOC_ROWS = 10_000     # rows of the replicated documents input
REPS = 3


def _replicate(df: DataFrame, n_src: int, rows: int = MICRO_ROWS) -> DataFrame:
    """``df`` repeated to about ``rows`` rows, with a ``rep`` column."""
    k = max(1, rows // max(1, n_src))
    spark = df.sparkSession
    return df.crossJoin(F.broadcast(spark.range(k).withColumnRenamed("id", "rep")))


def _rows_per_s(r, name: str, src: DataFrame, op) -> None:
    src = src.repartition(2 * r.cores).persist()
    n = src.count()
    r.label(f"bench:micro:{name}")
    times = []
    for _ in range(REPS):
        t = time.monotonic()
        op(src).write.format("noop").mode("overwrite").save()
        times.append(time.monotonic() - t)
    r.label(None)
    src.unpersist()
    r.metrics[name] = n / statistics.median(times)


def urls_and_robots(r, pages: DataFrame, robots: DataFrame) -> None:
    from gh_crawler_spark.functions.urls import (
        canonicalize_url_expr, host_expr, registrable_domain_expr, url_hash_expr)
    from gh_crawler_spark.operators.politeness import robots_allowed_udf

    n = pages.count()
    _rows_per_s(r, "urls.canonicalize_rows_per_s", _replicate(pages.select("url"), n),
                lambda df: df.select(url_hash_expr(canonicalize_url_expr(F.col("url")))))
    canon = pages.select(canonicalize_url_expr(F.col("url")).alias("url"))
    with_rules = canon.withColumn(
        "registrable_domain", registrable_domain_expr(host_expr(F.col("url")))
    ).join(F.broadcast(robots), "registrable_domain", "left").select("url", "robots_rules")
    _rows_per_s(r, "politeness.robots_rows_per_s", _replicate(with_rules, n),
                lambda df: df.select(robots_allowed_udf(F.col("robots_rules"), F.col("url"))))


def extract(r, pages: DataFrame, n_py: int = 200) -> None:
    from gh_crawler_spark.functions.text import extract_page_py, extract_page_udf

    _rows_per_s(r, "text.extract_udf_rows_per_s", pages.select("html", "url"),
                lambda df: df.select(extract_page_udf(F.col("html"), F.col("url"))))
    rows = [(bytes(x["html"]), x["url"]) for x in pages.select("html", "url").limit(n_py).collect()]
    times = []
    for _ in range(REPS):
        t = time.monotonic()
        for html, url in rows:
            extract_page_py(html, url)
        times.append(time.monotonic() - t)
    r.metrics["text.extract_py_rows_per_s"] = len(rows) / statistics.median(times)


def rank_and_probe(r, pages: DataFrame, cfg) -> None:
    from gh_crawler_spark.functions.urls import (
        canonicalize_url_expr, host_expr, registrable_domain_expr, url_hash_expr)
    from gh_crawler_spark.operators.dedup import PartitionedBloom
    from gh_crawler_spark.operators.scheduling import rank_fetch_batch

    n = pages.count()
    canon = pages.select(canonicalize_url_expr(F.col("url")).alias("url"))
    eligible = _replicate(canon, n).select(
        F.xxhash64("url", "rep").alias("url_hash"),
        registrable_domain_expr(host_expr(F.col("url"))).alias("registrable_domain"),
        (F.pmod(F.xxhash64("rep", "url"), F.lit(1000)) / 10.0).alias("priority"),
        F.lit("2024-06-01 00:00:00").cast("timestamp").alias("next_fetch_ts"),
        F.lit(20).alias("host_budget"),
    )
    _rows_per_s(r, "scheduling.rank_rows_per_s", eligible,
                lambda df: rank_fetch_batch(df, n_salts=cfg.n_salts))

    keys = canon.select(url_hash_expr(F.col("url")).alias("url_hash"))
    bloom = PartitionedBloom.empty(
        n_buckets=cfg.n_buckets,
        expected_per_bucket=max(1000, cfg.bloom_expected_keys // cfg.n_buckets),
        fpp=cfg.bloom_fpp,
    )
    known = np.array([x["url_hash"] for x in keys.collect()], dtype=np.int64)
    bloom.add_np(known[::2])
    probe = bloom.might_contain_udf(r.spark)
    try:
        _rows_per_s(r, "dedup.bloom_probe_rows_per_s",
                    _replicate(keys, n).select(F.xxhash64("url_hash", "rep").alias("url_hash")),
                    lambda df: df.select(probe(F.col("url_hash"))))
    finally:
        bloom.close()


def shingle(r, docs: DataFrame) -> None:
    from gh_crawler_spark.operators.dedup_text import shingles_df

    src = _replicate(docs.select("doc_id", "text"), docs.count(), DOC_ROWS)
    _rows_per_s(r, "dedup_text.shingle_rows_per_s",
                src.select((F.col("doc_id") * 1_000_000 + F.col("rep")).alias("doc_id"), "text"),
                lambda df: shingles_df(df))
