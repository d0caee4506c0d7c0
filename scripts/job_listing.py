#!/usr/bin/env python3
"""One line per Spark job of a traced perfbench run, grouped per traced op.

    python3 scripts/job_listing.py <event-log> [<spans.jsonl>]

<event-log> is an uncompressed Spark event log: a file, or an
`eventlog_v2_*` directory (rolling logs; its `events_*` files are read in
order), or a directory holding exactly one of either. Record one with

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
      -Dspark.eventLog.dir=file:///tmp/ev -Dspark.eventLog.compress=false" \
      python3 perfbench/run.py --workload etl_sync --seed 1 --seconds 8 --trace 1

<spans.jsonl> is the run's span file (perfbench/out/trace-<workload>-seed<n>.jsonl);
it defaults to the only `trace-*.jsonl` under perfbench/out. It names each
job's `perfbench.span` tag and gives the op the span belongs to. Jobs with no
tag (untraced ops, set-up, warm-up) are left out.

Each line: job id, span name, the first stage's name (the call site), the
SQL execution's description, and the job's duration in ms. A stage that
adaptive execution submits from its own thread is named after that thread,
not the caller, and shows as `(adaptive stage)`: its description still names
the call site. A micro-batch's description is its batch id. Each op ends with
its job count and the job count per span name.
"""
import glob
import json
import os
import re
import signal
import sys
from collections import Counter, defaultdict

SPAN_KEY = "perfbench.span"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log_files(path):
    if os.path.isfile(path):
        return [path]
    events = sorted(glob.glob(os.path.join(path, "events_*")),
                    key=lambda f: int(os.path.basename(f).split("_")[1]))
    if events:
        return events
    inner = [os.path.join(path, n) for n in os.listdir(path) if not n.startswith(".")]
    if len(inner) != 1:
        sys.exit(f"job_listing: {path} holds {len(inner)} entries; name one event log")
    return log_files(inner[0])


def stage_name(name):
    return "(adaptive stage)" if "withThreadLocalCaptured" in name else name


def description(text):
    batch = re.search(r"\bbatch = (\d+)", text)
    if batch and text.lstrip().startswith("id = "):
        return f"stream batch {batch.group(1)}"
    return " ".join(text.split())


def read_spans(path):
    if path is None:
        found = glob.glob(os.path.join(ROOT, "perfbench", "out", "trace-*.jsonl"))
        if len(found) != 1:
            sys.exit("job_listing: name the span file (perfbench/out/trace-*.jsonl)")
        path = found[0]
    spans = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                s = json.loads(line)
                spans[str(s["id"])] = (s["name"], s["op"])
    return spans


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    spans = read_spans(argv[2] if len(argv) == 3 else None)
    sql, jobs = {}, {}
    for f in log_files(argv[1]):
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind.endswith("SQLExecutionStart"):
                    sql[str(e["executionId"])] = description(e.get("description", ""))
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    stages = sorted(e["Stage Infos"], key=lambda s: s["Stage ID"])
                    jobs[e["Job ID"]] = {
                        "span": props.get(SPAN_KEY),
                        "sql": props.get("spark.sql.execution.id"),
                        "stage": stage_name(stages[0]["Stage Name"]) if stages else "",
                        "start": e["Submission Time"], "end": None}
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"]
    per_op = defaultdict(list)
    for jid in sorted(jobs):
        j = jobs[jid]
        if j["span"] in spans:
            per_op[spans[j["span"]][1]].append((jid, j))
    if not per_op:
        sys.exit("job_listing: no job carries a span of the span file")
    for op in sorted(per_op):
        rows = per_op[op]
        print(f"== op {op}: {len(rows)} jobs")
        for jid, j in rows:
            name = spans[j["span"]][0]
            ms = "-" if j["end"] is None else str(j["end"] - j["start"])
            desc = sql.get(j["sql"], "") if j["sql"] is not None else ""
            print(f"{jid:>5}  {name:<18} {j['stage']:<34} {desc:<40} {ms:>6} ms")
        per_span = Counter(spans[j["span"]][0] for _, j in rows)
        print("   per span: " + ", ".join(f"{k} {v}" for k, v in per_span.items()))


if __name__ == "__main__":
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)  # quiet under `| head`
    main(sys.argv)
