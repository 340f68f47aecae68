"""Per-arm event-log profile: job counts, wall, task counts, single-task
stage flags. Reads a (rolling, possibly zstd) Spark event-log dir.

  python tools/elog_profile.py <eventlog_dir_or_appdir> [arm_substring]

Aggregates SparkListenerJobStart/JobEnd by the job description label
("arm:<name>" from Bench, or any setJobDescription value) and prints, per
label: jobs, summed job wall (ms), tasks, max single-job wall, stages
whose task count is 1 and wall > 300 ms (the parallelism-collapse flag).
"""
import json, os, subprocess, sys
from collections import defaultdict


def iter_lines(path):
    files = []
    if os.path.isdir(path):
        for root, _dirs, names in os.walk(path):
            for n in sorted(names):
                if n.startswith("events_") or n.startswith("eventlog"):
                    files.append(os.path.join(root, n))
    else:
        files = [path]
    for f in sorted(files):
        if f.endswith(".zstd"):
            p = subprocess.Popen(["zstd", "-dc", "--long=31", f],
                                 stdout=subprocess.PIPE)
            for line in p.stdout:
                yield line
            p.wait()
        else:
            with open(f, "rb") as fh:
                for line in fh:
                    yield line


def main():
    path = sys.argv[1]
    want = sys.argv[2] if len(sys.argv) > 2 else None
    jobs = {}           # jobId -> (label, submitted)
    agg = defaultdict(lambda: [0, 0.0, 0, 0.0])  # label -> [jobs, wall, tasks, maxjob]
    stage_tasks = {}    # stageId -> numTasks (from job start)
    singles = defaultdict(list)  # label -> [(stageId, wall_s)]
    stage_label = {}
    for raw in iter_lines(path):
        try:
            e = json.loads(raw)
        except Exception:
            continue
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            label = (e.get("Properties") or {}).get(
                "spark.job.description") or "(none)"
            jobs[e["Job ID"]] = (label, e["Submission Time"])
            for si in e.get("Stage Infos", []):
                stage_tasks[si["Stage ID"]] = si["Number of Tasks"]
                stage_label[si["Stage ID"]] = label
        elif ev == "SparkListenerJobEnd":
            j = jobs.pop(e["Job ID"], None)
            if j:
                label, t0 = j
                wall = (e["Completion Time"] - t0) / 1000.0
                a = agg[label]
                a[0] += 1
                a[1] += wall
                a[3] = max(a[3], wall)
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            sid = si["Stage ID"]
            label = stage_label.get(sid, "(none)")
            n = si.get("Number of Tasks", 0)
            sub = si.get("Submission Time")
            done = si.get("Completion Time")
            if sub and done:
                wall = (done - sub) / 1000.0
                if n == 1 and wall > 0.3:
                    singles[label].append((sid, wall))
        elif ev == "SparkListenerTaskEnd":
            sid = e.get("Stage ID")
            label = stage_label.get(sid, "(none)")
            agg[label][2] += 1
    rows = sorted(agg.items(), key=lambda kv: -kv[1][1])
    for label, (nj, wall, tasks, mx) in rows:
        if want and want not in label:
            continue
        s = singles.get(label, [])
        flag = f"  SINGLE-TASK-STAGES>{0.3}s: " + ", ".join(
            f"s{sid}={w:.2f}s" for sid, w in s[:6]) if s else ""
        print(f"{label:50s} jobs={nj:4d} wall={wall:8.2f}s "
              f"tasks={tasks:6d} maxjob={mx:6.2f}s{flag}")


if __name__ == "__main__":
    main()
