"""One-off stage-level diagnosis for a single declared key (guide §1/§7).

Runs ONE noop materialization of $DIAG_KEY at $SPARK_GRAFT_SF_DIR with the
bench session conf plus eventLog enabled, then prints per-stage wall time,
task count, shuffle read/write bytes, spill, and the stage's callsite so
the dominant stage can be attributed to an operator. NOT a timing tool —
it exists to answer "where does the time go" with Spark's own metrics.

Usage: DIAG_KEY=private_join_count SPARK_GRAFT_SF_DIR=/root/repo/.sf100 \
       python tools/diag_eventlog.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    key = os.environ["DIAG_KEY"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = tempfile.mkdtemp(prefix="tas_evlog_")

    from bench import bench_session

    spark = bench_session(
        "tas-diag",
        sf_dir,
        **{
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            # one plain-text file, not Spark 4's rolling zstd directory
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        },
    )

    import __spark_entry__ as entry

    df = entry.queries()[key](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    spark.stop()

    # Parse the event log: stage submit/complete + accumulated metrics.
    stages = {}
    for fn in os.listdir(evdir):
        for line in open(os.path.join(evdir, fn)):
            try:
                ev = json.loads(line)
            except Exception:
                continue
            if ev.get("Event") == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                t0 = si.get("Submission Time")
                t1 = si.get("Completion Time")
                acc = {
                    a["Name"]: a.get("Value", 0)
                    for a in si.get("Accumulables", [])
                }

                def num(name):
                    v = acc.get(name, 0)
                    try:
                        return int(v)
                    except Exception:
                        return 0

                stages[sid] = {
                    # A stage without both timestamps has no wall time.
                    "wall_s": (
                        round((t1 - t0) / 1000.0, 2)
                        if t0 is not None and t1 is not None
                        else None
                    ),
                    "tasks": si.get("Number of Tasks") or 0,
                    "name": si.get("Stage Name", "")[:80],
                    "details": si.get("Details", "").split("\n")[0][:120],
                    "sh_read_mb": num(
                        "internal.metrics.shuffle.read.remoteBytesRead"
                    ) // (1 << 20)
                    + num(
                        "internal.metrics.shuffle.read.localBytesRead"
                    ) // (1 << 20),
                    "sh_write_mb": num(
                        "internal.metrics.shuffle.write.bytesWritten"
                    ) // (1 << 20),
                    "spill_disk_mb": num(
                        "internal.metrics.diskBytesSpilled"
                    ) // (1 << 20),
                    "spill_mem_mb": num(
                        "internal.metrics.memoryBytesSpilled"
                    ) // (1 << 20),
                    "cpu_s": num("internal.metrics.executorCpuTime")
                    // 10**9,
                    "run_s": num("internal.metrics.executorRunTime")
                    // 10**3,
                    "gc_s": num("internal.metrics.jvmGCTime") // 10**3,
                }
    for sid in sorted(stages, key=lambda s: -(stages[s]["wall_s"] or 0.0)):
        s = stages[sid]
        wall = "     n/a" if s["wall_s"] is None else f"{s['wall_s']:8.2f}"
        print(
            f"stage {sid:3d} wall {wall}s tasks {s['tasks']:4d} "
            f"cpu {s['cpu_s']:5d}s run {s['run_s']:5d}s gc {s['gc_s']:4d}s "
            f"shR {s['sh_read_mb']:6d}M shW {s['sh_write_mb']:6d}M "
            f"spill {s['spill_disk_mb']:6d}M | {s['name']}"
        )
    print("eventlog:", evdir)


if __name__ == "__main__":
    main()
