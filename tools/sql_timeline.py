"""Where the driver's time goes between Spark jobs, from an event log.

usage: python3 sql_timeline.py EVENT_LOG_DIR [MATCH]

Prints one row per SQL execution, and one per job that runs outside
any execution (a checkpoint's count, a schema-inference read), in start
order:
  t_s     start, seconds from the first row printed
  gap     driver gap before it: time since everything that started
          earlier had ended (0 while another row is still running)
  plan    execution start to its first job (planning; the whole
          execution when it runs no job)
  jobs    number of jobs, and first job start to last job end
  commit  last job end to execution end (a write's file commit)
  site    the first `graft.` frame of its call site outside
          pipeline/package.scala
All times in ms. With MATCH, only the window from the first to the last
row whose call site contains MATCH is printed (e.g.
`IngestIncremental.op(` for the measured op of `ingest_incremental`);
rows started in that window on other threads are printed too, since
their call sites hold only their own thread's frames. Reads the
uncompressed `events_*` files that Spark 4 rolls into `eventlog_v2_*`
(or plain) directories.
"""
import glob
import json
import sys

SQL = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecution"


def site(details):
    return next((l.strip() for l in (details or "").splitlines()
                 if l.strip().startswith("graft.") and "(package.scala" not in l), "")


def load(path):
    execs, jobs, ends = {}, {}, {}
    for f in sorted(glob.glob(path + "/**/events_*", recursive=True)):
        for line in open(f):
            e = json.loads(line)
            ev = e.get("Event")
            if ev == SQL + "Start":
                execs[e["executionId"]] = dict(start=e["time"], end=None, jobs=[],
                                               details=e.get("details") or "")
            elif ev == SQL + "End" and e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
            elif ev == "SparkListenerJobStart":
                st = max(e["Stage Infos"], key=lambda s: s["Stage ID"])
                x = (e.get("Properties") or {}).get("spark.sql.execution.id")
                jobs[e["Job ID"]] = dict(start=e["Submission Time"], x=None if x is None else int(x),
                                         details=st.get("Details") or "")
            elif ev == "SparkListenerJobEnd":
                ends[e["Job ID"]] = e["Completion Time"]
    rows = []
    for j, job in jobs.items():
        job["end"] = ends.get(j, job["start"])
        if job["x"] in execs:
            execs[job["x"]]["jobs"].append(job)
        else:
            rows.append(dict(kind="job %d" % j, start=job["start"], end=job["end"],
                             jobs=[job], details=job["details"]))
    for x, ex in execs.items():
        rows.append(dict(kind="sql %d" % x, start=ex["start"], end=ex["end"] or ex["start"],
                         jobs=ex["jobs"], details=ex["details"]))
    return sorted(rows, key=lambda r: (r["start"], r["kind"]))


def main():
    rows = load(sys.argv[1])
    if len(sys.argv) > 2:
        hits = [i for i, r in enumerate(rows) if sys.argv[2] in r["details"]]
        if not hits:
            sys.exit("no row's call site contains %r" % sys.argv[2])
        last_end = max(rows[i]["end"] for i in hits)
        rows = [r for r in rows[hits[0]:] if r["start"] <= last_end]
    t0, busy = rows[0]["start"], rows[0]["start"]
    tot = dict(gap=0, plan=0, span=0, commit=0, jobs=0)
    print("%7s %-9s %6s %6s %4s %6s %6s  %s" % ("t_s", "row", "gap", "plan", "jobs", "span", "commit", "site"))
    for r in rows:
        gap = max(0, r["start"] - busy)
        busy = max(busy, r["end"])
        if r["jobs"]:
            first = min(j["start"] for j in r["jobs"])
            last = max(j["end"] for j in r["jobs"])
            plan, span, commit = max(0, first - r["start"]), last - first, max(0, r["end"] - last)
        else:
            plan, span, commit = r["end"] - r["start"], 0, 0
        if r["kind"].startswith("job"):
            plan = commit = 0
        for k, v in (("gap", gap), ("plan", plan), ("span", span), ("commit", commit),
                     ("jobs", len(r["jobs"]))):
            tot[k] += v
        print("%7.3f %-9s %6d %6d %4d %6d %6d  %s" % ((r["start"] - t0) / 1e3, r["kind"], gap, plan,
                                                     len(r["jobs"]), span, commit, site(r["details"])))
    print("wall %d ms over %d rows: gap %d, plan %d, %d jobs spanning %d, commit %d" % (
        busy - t0, len(rows), tot["gap"], tot["plan"], tot["jobs"], tot["span"], tot["commit"]))


if __name__ == "__main__":
    main()
