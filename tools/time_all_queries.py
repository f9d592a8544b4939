"""Time registry queries (Spark side only) and count the Spark work each
one submits: one timed pass per lane after a shared session warm-up,
recording wall seconds plus the jobs, stages and tasks submitted while the
lane ran (construction + one ``.count()``, via the statusTracker job-group
API) and the py4j commands (Python -> JVM round trips) it sent
(``session.count_py4j``). Job counts don't drift with the box, seconds
do, so the ambient probe (``bench._ambient_control``) is sampled every
20 lanes and at the end, letting each timing be read against the
container phase it ran in.

    python tools/time_all_queries.py [sf_dir] [--out OUT.json] [lane ...]

With no lane names every registry lane runs, in name order. Job-floor-
bound lanes show up as many tiny jobs; shuffle-bound lanes as few jobs
with many stages/tasks.

Ranking tool for optimization work — NOT a correctness gate (use
tools/check_correctness.py for that) and NOT the bench of record
(bench.py). Single pass keeps the sweep short; treat small deltas as
noise and re-measure candidates min-of-N before acting.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AMBIENT_EVERY = 20


def run_lane(spark, fn, sf_dir: str, group: str) -> dict:
    """Wall seconds, rows, py4j commands and the jobs/stages/tasks
    submitted under ``group`` while ``fn(spark, sf_dir).count()`` runs."""
    from mcp_local_rag_spark.session import count_py4j

    sc = spark.sparkContext
    st = sc.statusTracker()
    sc.setJobGroup(group, group)
    with count_py4j(spark) as py4j:
        t0 = time.time()
        try:
            n, err = fn(spark, sf_dir).count(), None
        except Exception as ex:  # keep sweeping; the gate tool owns failures
            n, err = -1, f"{type(ex).__name__}: {ex}"[:200]
        finally:
            sc.setJobGroup(None, None)
        dt = round(time.time() - t0, 3)
    job_ids = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in job_ids:
        ji = st.getJobInfo(jid)
        if ji is None:
            continue
        for sid in ji.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    row = {"sec": dt, "rows": n, "py4j": py4j["commands"], "jobs": len(job_ids),
           "stages": stages, "tasks": tasks}
    if err:
        row["err"] = err
    return row


def main() -> None:
    argv = sys.argv[1:]
    out = None
    if "--out" in argv:
        i = argv.index("--out")
        out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = "/root/testdata/sf0.1"
    if argv and os.path.isdir(argv[0]):
        sf_dir = argv.pop(0)

    from bench import _ambient_control
    from mcp_local_rag_spark.queries import queries
    from mcp_local_rag_spark.session import get_spark

    spark = get_spark("time-all")
    spark.range(1000).selectExpr("sum(id)").collect()
    qs = queries()
    names = argv or sorted(qs)

    rows = []
    print(f"{'query':<40} {'sec':>8} {'py4j':>6} {'jobs':>5} {'stages':>7} {'tasks':>7}",
          file=sys.stderr)
    for i, name in enumerate(names):
        if i % AMBIENT_EVERY == 0:
            rows.append({"ambient": _ambient_control(spark)})
        spark.catalog.clearCache()
        row = {"query": name, **run_lane(spark, qs[name], sf_dir, f"sweep-{i}")}
        rows.append(row)
        print(
            f"{name:<40} {row['sec']:>8.3f} {row['py4j']:>6} {row['jobs']:>5} {row['stages']:>7}"
            f" {row['tasks']:>7}   rows={row['rows']}"
            + (f"  ERR {row['err']}" if "err" in row else ""),
            file=sys.stderr,
        )
    rows.append({"ambient": _ambient_control(spark)})

    doc = {"sf_dir": sf_dir, "rows": rows}
    if out:
        with open(out, "w") as f:
            json.dump(doc, f, indent=1)
    timed = [r for r in rows if "query" in r]
    timed.sort(key=lambda r: -r["sec"])
    print(json.dumps({"top": timed[:25]}, indent=1))


if __name__ == "__main__":
    main()
