"""Event-log profiler: per-phase wall, driver gaps and stage packing.

The crawler labels every job with its phase (r<k>:eligibility /
fetch_parse_dedup_probe / stats / discover / commit:<table>, init_frontier,
compact). From a Spark event log (spark.eventLog.enabled=true) this prints:

  1. PHASES — per job description: merged wall time and job count.
  2. DRIVER GAPS — wall with no job running (Catalyst analysis, py4j
     round-trips, manifest IO), each attributed to the job that starts at
     the gap's end (its label says what was being planned).
  3. STAGE PACKING — per stage: wall, summed task time, max task, and the
     idle-slot waste wall*slots - task time (0 = perfectly packed waves).

Usage:
  SPARK_GRAFT_EXTRA_CONF='{"spark.eventLog.enabled":"true",
      "spark.eventLog.dir":"file:///tmp/spark-events"}' python bench.py
  python tools/phase_profile.py <decompressed-event-log-file> [slots]
(decompress rolling .zstd event logs with: zstd -d -c events_*.zstd > log)
"""

from __future__ import annotations

import collections
import json
import sys


def _merge(intervals):
    merged = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return merged


def main(path: str, slots: int) -> None:
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = collections.defaultdict(
        lambda: {"task_ms": 0, "max_task": 0, "n_tasks": 0}
    )
    with open(path, encoding="utf-8") as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"],
                    "desc": (ev.get("Properties") or {}).get("spark.job.description", "?"),
                }
            elif e == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                st = stages[si["Stage ID"]]
                st["name"] = si["Stage Name"][:70]
                st["wall"] = si.get("Completion Time", 0) - si.get(
                    "Submission Time", si.get("Completion Time", 0)
                )
            elif e == "SparkListenerTaskEnd":
                st = stages[ev["Stage ID"]]
                ti = ev.get("Task Info", {})
                dur = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                st["task_ms"] += dur
                st["n_tasks"] += 1
                st["max_task"] = max(st["max_task"], dur)

    done = sorted((j for j in jobs.values() if "end" in j), key=lambda j: j["start"])
    if not done:
        sys.exit("no completed jobs")
    t0 = done[0]["start"]
    total = (max(j["end"] for j in done) - t0) / 1000.0

    by = collections.defaultdict(list)
    for j in done:
        by[j["desc"]].append((j["start"], j["end"]))
    rows = sorted(
        ((sum(b - a for a, b in _merge(iv)) / 1000.0, len(iv), desc) for desc, iv in by.items()),
        reverse=True,
    )
    print(f"{'wall_s':>8} {'jobs':>5}  description")
    for wall, n, desc in rows[:40]:
        print(f"{wall:8.2f} {n:5d}  {desc[:100]}")

    merged = _merge((j["start"], j["end"]) for j in done)
    gaps = [
        (b[0] - a[1], a[1] - t0, next(j for j in done if j["start"] >= b[0])["desc"])
        for a, b in zip(merged, merged[1:])
    ]
    gap_total = sum(g[0] for g in gaps) / 1000.0
    by_next = collections.defaultdict(float)
    for dur, _, d in gaps:
        by_next[d] += dur / 1000.0
    print(f"\napp wall (first job start -> last job end): {total:.1f}s; "
          f"driver-gap total: {gap_total:.1f}s ({100 * gap_total / max(total, 1e-9):.1f}%)"
          "; by next-job description:")
    for d, s in sorted(by_next.items(), key=lambda kv: -kv[1])[:25]:
        print(f"{s:8.2f}  {d[:100]}")
    print("\ntop individual gaps:")
    for dur, at, d in sorted(gaps, reverse=True)[:20]:
        print(f"{dur / 1000:8.2f}s at +{at / 1000:7.1f}s  before: {d[:90]}")

    print(f"\nstage packing at {slots} slots (worst idle-slot waste first):")
    packing = sorted(
        ((st["wall"] * slots - st["task_ms"]) / 1000.0, sid, st)
        for sid, st in stages.items()
        if st.get("wall", 0) > 0 and st["task_ms"] > 0
    )
    for waste, sid, st in reversed(packing[-15:]):
        print(f"  stage {sid:4d} wall {st['wall'] / 1000:7.1f}s tasks {st['n_tasks']:4d} "
              f"task-sum {st['task_ms'] / 1000:8.1f}s max-task {st['max_task'] / 1000:6.1f}s "
              f"idle-slot-waste {waste:7.1f}core-s  {st['name']}")


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 8)
