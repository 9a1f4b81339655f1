"""The benchmark's workloads: polite_crawl and query_suite.

Each workload builds its inputs from the run's seed, times the engine's
public entry points (``Crawler.init_frontier / run_round / compact /
resume_round`` and the query registry), checks the outputs against an
independent reference, and fills the run's metrics. Traced runs also patch
spans around the table, Bloom and dedup layers and run the micro-benches.
"""

from __future__ import annotations

import os
import re
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import functions as F

from perfbench import micro, querydata, spec
from perfbench.trace import spans_outside_rounds

COUNTS = ("eligible", "fetched", "transient", "missing", "links", "new")
# Crawl delay of the hot domain: the generator draws 50-249 ms per seed, which
# moves the hot domain's per-round token cap (rate x token_capacity_s) by 5x
# between seeds. Pinned so the cap is ~510 URLs per round at every seed.
HOT_DELAY_MS = 235


@dataclass(frozen=True)
class CrawlShape:
    pages: int
    n_domains: int
    seeds: int


SHAPES = {"full": CrawlShape(pages=2000, n_domains=2000, seeds=600),
          "smoke": CrawlShape(pages=300, n_domains=50, seeds=20)}
PARAS = (5, 20)  # paragraphs per page: light pages, so extraction does little
QUERY_SF = {"full": 0.01, "smoke": 0.001}
MIN_PASSES = 2  # timed query passes per run, at the least
# Share of the exact-Jaccard pairs td_minhash_lsh must recover.
LSH_MIN_RECALL = 0.8


def crawl_config(root: str, cores: int):
    """Politeness binds: a 120 s token bucket over 600 s rounds caps the hot
    domain at ~510 URLs a round; 1 fetch in 13 fails transiently."""
    from gh_crawler_spark.crawler import CrawlConfig

    return CrawlConfig(
        root=root,
        n_buckets=8,  # frontier buckets sized to a few thousand URLs
        broadcast_fetch=True,
        max_rounds=2,
        transient_fail_mod=13,
        token_capacity_s=120.0,
        round_duration_s=600.0,
        empty_rounds_stop=1,
        n_salts=max(16, cores),
    )


# ------------------------------------------------------------------- crawls

def _layer_spans(r, n_buckets: int) -> None:
    """Spans around the table, Bloom and dedup layers (traced runs)."""
    import gh_crawler_spark.crawler as crawler_mod
    from gh_crawler_spark.operators.dedup import PartitionedBloom
    from gh_crawler_spark.tables import SnapshotTable

    table = lambda self, *a, **kw: {"table": self.name}  # noqa: E731
    for m in ("append", "append_local"):
        r.spans.wrap(SnapshotTable, m, "tables.append", attrs_fn=table)
    for m in ("read", "read_partitions"):
        r.spans.wrap(SnapshotTable, m, "tables.read", attrs_fn=table)
    r.spans.wrap(PartitionedBloom, "add_df", "dedup.bloom_add", result_fn=lambda res: {
        "keys": int(res[0] if isinstance(res, tuple) else res)})
    r.spans.wrap(PartitionedBloom, "build", "dedup.bloom_build")

    def suspects(flagged, loader, suspect_buckets, *a, **kw):
        return {"ratio": len(suspect_buckets) / n_buckets}

    r.spans.wrap(crawler_mod, "resolve_unseen", "dedup.resolve_unseen", attrs_fn=suspects)


def polite_crawl(r) -> None:
    from gh_crawler_spark.crawler import Crawler
    from gh_crawler_spark.sources.pages import (
        HOT_DOMAIN, generate_pages, generate_robots, generate_seeds)

    spark, shape = r.start_session(), SHAPES[r.size]
    cfg = crawl_config(os.path.join(r.work, "warehouse"), r.cores)

    def generate(prev):
        if prev is not None:
            prev.unpersist(blocking=True)
        pages = generate_pages(spark, shape.pages, seed=r.seed, n_domains=shape.n_domains,
                               n_partitions=2 * r.cores, paras=PARAS,
                               with_oracle_text=False).persist()
        pages.count()
        return pages

    r.label("bench:setup")
    pages = r.setup_reps("setup.gen_s", generate)
    t = time.monotonic()
    robots = generate_robots(spark, seed=r.seed, n_domains=shape.n_domains).withColumn(
        "crawl_delay_ms",
        F.when(F.col("registrable_domain") == HOT_DOMAIN, F.lit(HOT_DELAY_MS).cast("long"))
        .otherwise(F.col("crawl_delay_ms")),
    ).persist()
    robots.count()
    c = Crawler(spark, cfg, pages, robots)
    c.pages_idx.count()  # the fetch-index cache
    seeds = generate_seeds(spark, shape.pages, shape.seeds, seed=r.seed,
                           n_domains=shape.n_domains)
    r.label(None)
    r.setup_done(r.metrics["setup.gen_s"], time.monotonic() - t)
    r.mark("set up")

    sp = r.spans
    sp.wrap(c, "init_frontier", "init_frontier")
    sp.wrap(c, "run_round", "run_round", result_fn=lambda s: {
        "drained": bool(s.get("drained")), **{k: s[k] for k in COUNTS}})
    sp.wrap(c, "compact", "compact")
    if r.trace:
        _layer_spans(r, cfg.n_buckets)
    base_rdds = r.persistent_rdds()

    # ---- timed: init_frontier through the final compact
    t0 = time.monotonic()
    stats = r.op("crawl", c.run, seeds=seeds)
    wall = time.monotonic() - t0
    rounds, compacts = sp.named("run_round"), sp.named("compact")
    r.attempted += len(rounds) + len(compacts)
    r.mark("crawl done")

    r.metrics["crawler.pinned_rdds_leaked"] = len(r.persistent_rdds() - base_rdds)

    if stats is not None:
        tot = {k: sum(s[k] for s in stats) for k in COUNTS}
        active = [s.dur for s in rounds if not s.attrs["drained"]]
        r.metrics.update({
            "throughput_per_s": (tot["fetched"] + tot["links"] - tot["new"]) / wall,
            "crawler.round_p50_s": statistics.median(active),
            "crawler.round_max_s": max(active),
            "crawler.bootstrap_s": sp.named("init_frontier")[0].dur,
            "trace.wall_s": wall,
            "crawler.rounds": len(rounds),
            "crawler.compact_s": sum(s.dur for s in compacts),
            "crawler.fetch_ok_ratio": tot["fetched"] / max(1, tot["eligible"]),
            "crawler.dedup_ratio": (tot["links"] - tot["new"]) / max(1, tot["links"]),
        })
        r.metrics.update({f"crawler.{k}": v for k, v in tot.items()})
        r.label("bench:check")
        check_polite(r, c, cfg, pages, seeds, robots)
        r.mark("checked")
    if r.trace:
        if stats is not None:
            check_resume(r, cfg, pages, robots, stats)
        _crawl_layers(r, c, cfg, pages, robots)
    for df in (pages, robots, c.pages_idx):
        df.unpersist()


def check_resume(r, cfg, pages, robots, stats) -> None:
    """A fresh Crawler on the finished warehouse resumes after the last
    committed round (traced runs; timed as ``crawler.resume_s``)."""
    from gh_crawler_spark.crawler import Crawler

    r.label("resume")
    c2 = Crawler(r.spark, cfg, pages, robots)
    t = time.monotonic()
    nxt = r.op("resume_round", c2.resume_round)
    r.metrics["crawler.resume_s"] = time.monotonic() - t
    c2.pages_idx.unpersist()
    r.label(None)
    committed = [s["round"] for s in stats if not s.get("drained")]
    r.check("resume_next_round", nxt == max(committed) + 1, f"resume={nxt}")


def _crawl_layers(r, c, cfg, pages, robots) -> None:
    sp = r.spans
    rounds = sp.named("run_round")
    layer = [s for s in sp.spans if "." in s.name]
    r.check("spans_within_rounds", spans_outside_rounds(layer, rounds) == 0)
    for t in spec.TABLES:
        r.metrics[f"tables.append_s.{t}"] = sum(
            s.dur for s in sp.named("tables.append") if s.attrs["table"] == t)
    r.metrics["tables.read_s"] = sum(s.dur for s in sp.named("tables.read"))
    stats = {name: t.stats() for name, t in c.t.items()}
    for t in spec.TABLES:
        r.metrics[f"tables.files.{t}"] = stats[t]["n_files"]
        r.metrics[f"tables.mb.{t}"] = stats[t]["n_bytes"] / 1e6
    r.metrics["tables.bytes_per_result_byte"] = (
        sum(s["n_bytes"] for s in stats.values()) / max(1, stats["results"]["n_bytes"]))
    adds = sp.named("dedup.bloom_add")
    r.metrics["dedup.bloom_add_s"] = sum(s.dur for s in adds)
    r.metrics["dedup.bloom_keys"] = sum(s.attrs["keys"] for s in adds)
    r.metrics["dedup.bloom_build_s"] = sum(s.dur for s in sp.named("dedup.bloom_build"))
    ratios = [s.attrs["ratio"] for s in sp.named("dedup.resolve_unseen")]
    r.metrics["dedup.suspect_bucket_ratio"] = statistics.mean(ratios) if ratios else 0.0
    micro.urls_and_robots(r, pages, robots)
    micro.extract(r, pages)
    micro.rank_and_probe(r, pages, cfg)


def check_polite(r, c, cfg, pages, seeds, robots) -> None:
    """Engine (round, url_hash) fetch set and seen set == the simulator's on
    the same inputs and config."""
    from gh_crawler_spark.functions.hashing import xxhash64_py
    from gh_crawler_spark.functions.urls import canonicalize_url_py
    from gh_crawler_spark.simulator import SimCrawler

    sim_pages = {canonicalize_url_py(x["url"]): bytes(x["html"])
                 for x in pages.select("url", "html").toLocalIterator()}
    sim_robots = {x["registrable_domain"]: (x["robots_rules"], x["crawl_delay_ms"])
                  for x in robots.collect()}
    sim = SimCrawler(cfg, sim_pages, sim_robots)
    sim.seed([(x["url"], x["priority"]) for x in seeds.collect()])
    mod = cfg.transient_fail_mod
    sim.run(transient_fn=lambda url, att: xxhash64_py(url + str(att)) % mod == 0)
    fetched = {(x["round"], x["url_hash"])
               for x in c.t["results"].read(r.spark).select("round", "url_hash").collect()}
    seen = {x["url_hash"] for x in c.t["seen"].read(r.spark).select("url_hash").collect()}
    r.check("seen_equals_simulator", seen == sim.seen,
            f"engine={len(seen)} simulator={len(sim.seen)}")
    r.check("fetch_set_equals_simulator", fetched == set(sim.fetch_log),
            f"engine={len(fetched)} simulator={len(sim.fetch_log)}")


# -------------------------------------------------------------- query suite

def simhash_pairs_py(docs: list[tuple[int, str]], max_hamming: int = 3) -> set[tuple]:
    """Reference SimHash near-dup pairs ``(d1, d2, hamming)``, d1 < d2: per
    whitespace token of the lower-cased text, XXH64 (seed 42) votes +1/-1 on
    each of the 64 bits; a bit is set when its vote is positive."""
    from gh_crawler_spark.functions.hashing import xxhash64_bytes

    sigs = []
    for doc_id, text in docs:
        toks = [w for w in re.split(r"\s+", text.lower().strip()) if w]
        if not toks:
            continue
        votes = [0] * 64
        for h in (xxhash64_bytes(w.encode("utf-8")) for w in toks):
            for i in range(64):
                votes[i] += 1 if (h >> i) & 1 else -1
        sigs.append((doc_id, sum(1 << i for i in range(64) if votes[i] > 0)))
    sigs.sort()
    out = set()
    for i, (d1, s1) in enumerate(sigs):
        for d2, s2 in sigs[i + 1:]:
            ham = (s1 ^ s2).bit_count()
            if ham <= max_hamming:
                out.add((d1, d2, ham))
    return out


def _materialize(df) -> bool:
    df.write.mode("overwrite").format("noop").save()
    return True


def _rows(pdf) -> set[tuple]:
    return {tuple(x) for x in pdf[sorted(pdf.columns)].itertuples(index=False)}


def query_suite(r) -> None:
    import duckdb

    from gh_crawler_spark.queries import QUERIES, TABLES
    from tools.check_oracles import compare

    # The input tables are the benchmark's own, written before the session
    # starts: their generation is not program set-up (``setup.gen_s`` only).
    d = os.path.join(r.work, "sf")
    t = time.monotonic()
    querydata.generate(d, QUERY_SF[r.size], r.seed)
    r.metrics["setup.gen_s"] = time.monotonic() - t
    spark = r.start_session()

    def load(_prev):  # resolve every table's files and schema
        for name in TABLES:
            spark.read.parquet(f"{d}/{name}.parquet")

    r.label("bench:setup")
    r.setup_reps("setup.load_s", load)
    r.label(None)
    r.setup_done(r.metrics["setup.load_s"])
    r.mark("set up")
    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET threads={r.cores}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    base_rdds = r.persistent_rdds()

    # ---- cold pass: the first run of every query in the session, results
    # collected by `cores` concurrent clients, then checked against DuckDB or
    # a Python reference
    def collect(name):
        r.label(f"bench:cold:{name}")  # job descriptions are per thread
        return QUERIES[name][0](spark, d).toPandas()

    t = time.monotonic()
    with ThreadPoolExecutor(max_workers=r.cores) as pool:
        futures = {name: pool.submit(collect, name) for name in spec.HEADLINE}
        results = {name: r.op(name, f.result) for name, f in futures.items()}
    r.metrics["query.cold_pass_s"] = time.monotonic() - t
    oracle = {}
    for name, pdf in results.items():
        if pdf is None:
            continue
        if name == "td_minhash_lsh":
            # The full MinHash oracle costs minutes in DuckDB. LSH output must be
            # a subset of the exact-Jaccard pairs at the same threshold, with the
            # same verified values, and recover most of them.
            if "td_ngram_jaccard" not in oracle:
                oracle["td_ngram_jaccard"] = con.execute(QUERIES["td_ngram_jaccard"][1]).df()
            exact = _rows(oracle["td_ngram_jaccard"])
            got = _rows(pdf)
            recall = len(got & exact) / max(1, len(exact))
            r.mark(f"td_minhash_lsh recall {recall:.3f} of {len(exact)} exact pairs")
            r.check(f"oracle.{name}", not (got - exact) and recall >= LSH_MIN_RECALL,
                    f"rows={len(got)} not_in_exact={len(got - exact)} recall={recall:.3f}")
            continue
        if name == "td_simhash":
            # The SQL XXH64 oracle costs ~8 s here; the pure-Python spec is exact
            # and sub-second.
            want = simhash_pairs_py(con.execute("SELECT doc_id, text FROM documents").fetchall())
            got = _rows(pdf[["d1", "d2", "hamming"]])
            r.check(f"oracle.{name}", got == want and len(want) > 0,
                    f"spark={len(got)} reference={len(want)}")
            continue
        oracle[name] = con.execute(QUERIES[name][1]).df()
        problems = compare(pdf, oracle[name])
        r.check(f"oracle.{name}", not problems, "; ".join(problems))
    r.mark("cold pass checked")

    # ---- timed passes, one client, noop sink: at least MIN_PASSES, and more
    # until --seconds have elapsed. A query's time is its best pass. Single-
    # thread speed on a shared host swings by a third within seconds, and a
    # query at this size is mostly fixed per-query work (planning, job
    # launch), so the best of several interleaved passes is what repeats.
    samples: dict[str, list[float]] = {n: [] for n in spec.HEADLINE}
    t_start = time.monotonic()
    while len(samples[spec.HEADLINE[0]]) < MIN_PASSES or time.monotonic() - t_start < r.seconds:
        for name in spec.HEADLINE:
            fn = QUERIES[name][0]
            r.label(f"bench:q:{name}")
            t = time.monotonic()
            r.op(name, lambda: _materialize(fn(spark, d)))
            samples[name].append(time.monotonic() - t)
    r.label(None)
    r.mark("timed passes done: " + " ".join(
        f"{sum(v[i] for v in samples.values()):.2f}" for i in range(len(samples[spec.HEADLINE[0]]))))
    per_q = {n: min(v) for n, v in samples.items()}
    total = sum(per_q.values())
    r.metrics.update({
        "throughput_per_s": len(per_q) / total,
        "query.p50_s": statistics.median(per_q.values()),
        "query.max_s": max(per_q.values()),
        "query.total_s": total,
        "trace.wall_s": total,
        "queries.pinned_rdds_leaked": len(r.persistent_rdds() - base_rdds),
    })
    r.metrics.update({f"query.{n}_s": v for n, v in per_q.items()})
    if r.trace:
        micro.shingle(r, spark.read.parquet(f"{d}/documents.parquet"))
    con.close()


WORKLOADS = {"polite_crawl": polite_crawl, "query_suite": query_suite}
