"""Drill-down: every job of one arm label, with stage callsites/task counts.

  python tools/elog_jobs.py <eventlog_dir> <label_substring>
"""
import json, sys
from collections import defaultdict

from elog_profile import iter_lines


def main():
    path, want = sys.argv[1], sys.argv[2]
    jobs = {}
    stage_info = {}
    stage_wall = {}
    out = []
    for raw in iter_lines(path):
        try:
            e = json.loads(raw)
        except Exception:
            continue
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            label = (e.get("Properties") or {}).get(
                "spark.job.description") or "(none)"
            if want in label:
                sinfo = [(si["Stage ID"], si["Number of Tasks"],
                          si.get("Stage Name", "?")) for si in
                         e.get("Stage Infos", [])]
                jobs[e["Job ID"]] = (label, e["Submission Time"], sinfo)
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            sub, done = si.get("Submission Time"), si.get("Completion Time")
            if sub and done:
                stage_wall[si["Stage ID"]] = (done - sub) / 1000.0
        elif ev == "SparkListenerJobEnd":
            j = jobs.pop(e["Job ID"], None)
            if j:
                label, t0, sinfo = j
                wall = (e["Completion Time"] - t0) / 1000.0
                out.append((e["Job ID"], wall, sinfo))
    for jid, wall, sinfo in out:
        stages = "; ".join(
            f"s{sid}[{n}t,{stage_wall.get(sid, -1):.2f}s] {name[:60]}"
            for sid, n, name in sinfo)
        print(f"job {jid:5d} wall={wall:6.2f}s  {stages}")


if __name__ == "__main__":
    main()
