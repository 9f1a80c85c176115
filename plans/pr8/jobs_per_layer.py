"""Jobs per written layer in the first traced Runner.run of a perfbench trace.

    python3 plans/pr8/jobs_per_layer.py .bench_build/traces/trace_etl_build_7.json

Each job in the trace carries the output (or read) path of its SQL
execution and the Runner phase that path names. A path with more jobs
than its write needs (one per raw, staging and compact layer; range
sampling, shuffle map and write for a mart; shuffle map and write for
h3_stats) is being read back. Jobs with no path are parquet schema
inference.
"""
import collections
import json
import re
import sys

trace = json.load(open(sys.argv[1]))
run = next(s for s in trace["spans"] if s["name"] == "Runner.run")
jobs = [j for j in trace["jobs"] if run["start_ms"] <= j["start_ms"] <= run["end_ms"] + 1]
per = collections.Counter(
    (re.sub(r".*/etl_run_\d+/", "", j["path"] or ""), j["phase"] or "") for j in jobs)
print(f"{len(jobs)} jobs in the first traced Runner.run")
for (path, phase), n in sorted(per.items()):
    print(f"{n:3d}  {phase:13s} {path or '(schema inference)'}")
