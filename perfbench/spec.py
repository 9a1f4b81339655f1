"""What the benchmark measures: workloads, metrics and the layer map.

This module is the one source for metric names, units and directions. The
benchmark checks every run's output against it, and running it as a script
writes ``BENCHMARK.json`` (repo root) and ``perfbench/layers.json`` (which
layer metric should move which end-to-end metric, plus host sizing):

    python3 perfbench/spec.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from bench import HEADLINE  # noqa: E402  (the headline queries bench.py times)

# query_suite runs timed passes until this many seconds have passed (at least
# two passes, 10-14 s each on a 4-core host). A polite_crawl run always
# measures one whole crawl (~27 s there), whatever the value.
RUN_SECONDS = 20

# Every workload the CLI runs, with why it exists.
WORKLOADS = {
    "polite_crawl": (
        "Politeness-bound BFS over light pages: small rounds, so the per-round floor "
        "(planning, job launch, snapshot commits, Bloom add, host_state fold) dominates"
    ),
    "query_suite": (
        "The 17 headline analytics queries on seeded TPC-H-ish tables: operators no crawl "
        "touches (dedup_text, similarity, textops, multimodal, queries); read-only"
    ),
}
# name, unit, better, bound. Only metrics whose run-to-run spread (quartile
# distance over median, ten seeds) stayed near 0.1 on a shared 4-core host are
# end-to-end; round, query and bootstrap times spread up to 0.24 there and are
# per-layer. Every bound is the largest allowed.
END_TO_END = [
    ("throughput_per_s", "1/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
]

# What each end-to-end metric means on each workload.
E2E_MEANING = {
    "throughput_per_s": {
        "polite_crawl": "URLs fetched + deduped per second of crawl wall (init_frontier "
                        "through the final compact)",
        "query_suite": "17 / query.total_s, the sum of the queries' best noop-sink times "
                       "over the timed passes",
    },
    "setup_s": {
        "polite_crawl": "session start + median of 3 corpus generations (the engine's "
                        "sources.pages) + robots table and fetch-index cache, before t0",
        "query_suite": "session start + median of 3 resolutions (files and schema) of the "
                       "ten input tables; the benchmark's own table writer runs before the "
                       "session, untimed here",
    },
    "error_rate": "not a metric (it is 0 on a good run): failed / attempted in the result "
                  "line, where raised operations and failed output checks count as failed",
}

TABLES = ("frontier", "transitions", "seen", "results", "host_state")
PHASES = (
    "eligibility", "small_probe", "fetch_parse_dedup_probe", "stats", "discover",
    "commit_frontier", "commit_transitions", "commit_seen", "commit_results",
    "commit_host_state", "init_frontier", "compact",
)
P, Q = "polite_crawl", "query_suite"


def _per_layer() -> list[tuple[str, str, str, str, str]]:
    """(name, unit, better, moves-which-e2e, on-which-workload)."""
    m = [
        ("crawler.round_p50_s", "s", "lower", "throughput_per_s", P),
        ("crawler.round_max_s", "s", "lower", "throughput_per_s", P),
        ("crawler.bootstrap_s", "s", "lower", "throughput_per_s", P),
        ("crawler.rounds", "count", "lower", "crawler.round_p50_s", P),
        ("crawler.compact_s", "s", "lower", "throughput_per_s", P),
        ("crawler.jobs_per_round", "count", "lower", "crawler.round_p50_s", P),
        ("crawler.round_driver_gap_s", "s", "lower", "crawler.round_p50_s", P),
        ("crawler.resume_s", "s", "lower", "crawler.bootstrap_s", P),
        ("crawler.eligible", "count", "higher", "throughput_per_s", P),
        ("crawler.fetched", "count", "higher", "throughput_per_s", P),
        ("crawler.transient", "count", "lower", "throughput_per_s", P),
        ("crawler.missing", "count", "lower", "throughput_per_s", P),
        ("crawler.links", "count", "higher", "throughput_per_s", P),
        ("crawler.new", "count", "higher", "throughput_per_s", P),
        ("crawler.fetch_ok_ratio", "ratio", "higher", "throughput_per_s", P),
        ("crawler.dedup_ratio", "ratio", "higher", "throughput_per_s", P),
        ("crawler.pinned_rdds_leaked", "count", "lower", "session.jvm_peak_rss_mb", P),
    ]
    for ph in PHASES:
        target = (("throughput_per_s", P) if ph == "fetch_parse_dedup_probe"
                  else ("crawler.bootstrap_s", P) if ph == "init_frontier"
                  else ("crawler.round_p50_s", P))
        m += [
            (f"phase.{ph}.wall_s", "s", "lower", *target),
            (f"phase.{ph}.busy_core_s", "s", "lower", *target),
            (f"phase.{ph}.shuffle_mb", "MB", "lower", *target),
            (f"phase.{ph}.task_skew", "ratio", "lower", *target),
        ]
    for t in TABLES:
        m += [
            (f"tables.append_s.{t}", "s", "lower", "crawler.round_p50_s", P),
            (f"tables.files.{t}", "count", "lower", "crawler.round_p50_s", P),
            (f"tables.mb.{t}", "MB", "lower", "throughput_per_s", P),
        ]
    m += [
        ("tables.read_s", "s", "lower", "crawler.round_p50_s", P),
        ("tables.bytes_per_result_byte", "ratio", "lower", "throughput_per_s", P),
        ("dedup.bloom_add_s", "s", "lower", "crawler.round_p50_s", P),
        ("dedup.bloom_keys", "count", "higher", "crawler.bootstrap_s", P),
        ("dedup.suspect_bucket_ratio", "ratio", "lower", "crawler.round_p50_s", P),
        ("dedup.bloom_build_s", "s", "lower", "crawler.resume_s", P),
        ("urls.canonicalize_rows_per_s", "rows/s", "higher", "crawler.bootstrap_s", P),
        ("politeness.robots_rows_per_s", "rows/s", "higher", "crawler.bootstrap_s", P),
        ("text.extract_udf_rows_per_s", "rows/s", "higher", "throughput_per_s", P),
        ("text.extract_py_rows_per_s", "rows/s", "higher", "throughput_per_s", P),
        ("scheduling.rank_rows_per_s", "rows/s", "higher", "crawler.round_max_s", P),
        ("dedup.bloom_probe_rows_per_s", "rows/s", "higher", "crawler.round_max_s", P),
        ("dedup_text.shingle_rows_per_s", "rows/s", "higher", "throughput_per_s", Q),
    ]
    m += [(f"query.{q}_s", "s", "lower", "throughput_per_s", Q) for q in HEADLINE]
    m += [
        ("query.total_s", "s", "lower", "throughput_per_s", Q),
        ("query.p50_s", "s", "lower", "throughput_per_s", Q),
        ("query.max_s", "s", "lower", "throughput_per_s", Q),
        ("query.cold_pass_s", "s", "lower", "(first-run latency; no end-to-end metric)", Q),
        ("queries.pinned_rdds_leaked", "count", "lower", "session.jvm_peak_rss_mb", Q),
        ("session.jvm_peak_rss_mb", "MB", "lower", "setup_s", "all"),
        ("setup.session_s", "s", "lower", "setup_s", "all"),
        ("setup.gen_s", "s", "lower", "setup_s", P),
        ("setup.load_s", "s", "lower", "setup_s", Q),
        ("setup.warmup_s", "s", "lower", "setup_s", "all"),
        ("trace.wall_s", "s", "lower", "throughput_per_s", "all"),
    ]
    return m


PER_LAYER = _per_layer()


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": why} for n, why in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, *_ in PER_LAYER],
    }


def layers_json() -> dict:
    return {
        "workloads": WORKLOADS,
        "end_to_end": E2E_MEANING,
        "layer_moves": [
            {"metric": n, "moves": e2e, "workload": w} for n, _u, _b, e2e, w in PER_LAYER
        ],
        "not_applicable": "a per-layer metric of another workload prints 0; one the run's own "
                          "workload (or 'all') should report but did not measure fails a check",
        "host": {
            "master": "local[nproc]",
            "driver_heap": "3g (the benchmark's session; fits a 4-core, 15 GiB host)",
            "load_model": "closed loop, one client: one process drives the crawl or the timed "
                          "query passes (the untimed cold query pass uses nproc clients)",
        },
    }


def write() -> None:
    for path, doc in ((os.path.join(ROOT, "BENCHMARK.json"), benchmark_json()),
                      (os.path.join(HERE, "layers.json"), layers_json())):
        with open(path, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=2)
            f.write("\n")


if __name__ == "__main__":
    write()
