"""Offline tools: the event-log profiler and the documented command list."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _events():
    """Two labelled jobs with a 1 s driver gap between them, one stage each:
    stage 0 packs 2 slots fully, stage 1 leaves one slot idle for 1 s."""
    def job(jid, desc, start, end, stage):
        return [
            {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start,
             "Stage IDs": [stage], "Properties": {"spark.job.description": desc}},
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
        ]

    def stage(sid, name, start, end, task_ms):
        return [
            {"Event": "SparkListenerTaskEnd", "Stage ID": sid,
             "Task Info": {"Launch Time": start, "Finish Time": start + ms}}
            for ms in task_ms
        ] + [{"Event": "SparkListenerStageCompleted",
              "Stage Info": {"Stage ID": sid, "Stage Name": name,
                             "Submission Time": start, "Completion Time": end}}]

    return (
        job(0, "r0:eligibility", 0, 2000, 0) + stage(0, "eligibility scan", 0, 2000, [2000, 2000])
        + job(1, "r0:commit:seen", 3000, 5000, 1) + stage(1, "seen append", 3000, 5000, [2000, 1000])
    )


def test_phase_profile_reports_phases_gaps_and_packing(tmp_path):
    log = tmp_path / "events"
    log.write_text("\n".join(json.dumps(e) for e in _events()) + "\nnot json\n")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "phase_profile.py"), str(log), "2"],
        capture_output=True, text=True, check=True,
    ).stdout
    assert re.search(r"^\s+2\.00\s+1\s+r0:eligibility$", out, re.M)
    assert re.search(r"^\s+2\.00\s+1\s+r0:commit:seen$", out, re.M)
    assert "driver-gap total: 1.0s (20.0%)" in out
    assert re.search(r"^\s+1\.00s at \+\s+2\.0s\s+before: r0:commit:seen$", out, re.M)
    packing = out.split("stage packing", 1)[1].splitlines()[1:]
    assert "stage    1" in packing[0] and "idle-slot-waste     1.0core-s" in packing[0]
    assert "stage    0" in packing[1] and "idle-slot-waste     0.0core-s" in packing[1]


def test_claude_md_commands_exist():
    """Every script the CLAUDE.md command block runs is still in the tree."""
    with open(os.path.join(REPO, "CLAUDE.md"), encoding="utf-8") as f:
        block = f.read().split("```bash", 1)[1].split("```", 1)[0]
    paths = set(re.findall(r"python (\S+\.py)", block))
    assert "tools/phase_profile.py" in paths
    missing = sorted(p for p in paths if not os.path.isfile(os.path.join(REPO, p)))
    assert not missing, f"CLAUDE.md names missing scripts: {missing}"
