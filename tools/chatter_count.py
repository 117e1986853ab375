"""Deterministic driver-chatter profile: py4j round trips, Spark jobs and
the build/execute wall split per query.

Wall-clock swings run-to-run on a shared host, so before/after evidence
for driver-side optimizations uses DETERMINISTIC counters instead: the
number of py4j commands the calling thread sends (each pays one loopback
round trip) while (a) the query function builds its DataFrame and (b)
the noop sink executes it, plus the number of Spark jobs run. Each query
is built twice and the second, warm build is the one reported, so one-time
costs (JVM class loading, first table touch) stay out of the count. Only
the calling thread is counted: py4j's finalizer thread sends
object-release commands at its own pace, which made a class-wide count
differ between identical builds. The warm calling-thread counts repeat
exactly: two sweeps of the whole catalog on the sf0.01 fixtures at 4
cores matched query for query.

Each line: {"q", "rt_build", "rt_exec", "jobs", "build_s", "exec_s"};
the last line sums rt_build and build_s over the queries that ran.

Usage: python tools/chatter_count.py [sf_dir] [query_prefix ...]
"""

from __future__ import annotations

import json
import sys
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = sys.argv[2:]

    import py4j.clientserver as cs

    counter = {"n": 0}
    me = threading.get_ident()
    orig = cs.ClientServerConnection.send_command

    def counted(self, command):
        counter["n"] += threading.get_ident() == me
        return orig(self, command)

    cs.ClientServerConnection.send_command = counted

    from __spark_entry__ import queries

    from dabstract_spark.session import get_spark

    spark = get_spark("chatter")
    sc = spark.sparkContext
    qs = queries()
    names = [n for n in sorted(qs) if not only or any(n.startswith(p) for p in only)]

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    try:
        run(qs[names[0]](spark, sf_dir))
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("double")
        def _warm(s):
            return s

        run(spark.range(256).select(_warm(F.col("id").cast("double"))))
    except Exception:
        pass

    tracker = sc.statusTracker()
    total = {"queries": 0, "rt_build": 0, "build_s": 0.0}
    for name in names:
        fn = qs[name]
        sc.setJobDescription(name)
        try:
            fn(spark, sf_dir)  # cold build, not reported
            j0 = set(tracker.getJobIdsForGroup(None))
            n0 = counter["n"]
            t0 = time.time()
            df = fn(spark, sf_dir)
            n1 = counter["n"]
            t1 = time.time()
            run(df)
            n2 = counter["n"]
            t2 = time.time()
            jobs = len(set(tracker.getJobIdsForGroup(None)) - j0)
            print(
                json.dumps(
                    {
                        "q": name,
                        "rt_build": n1 - n0,
                        "rt_exec": n2 - n1,
                        "jobs": jobs,
                        "build_s": round(t1 - t0, 3),
                        "exec_s": round(t2 - t1, 3),
                    }
                ),
                flush=True,
            )
            total["queries"] += 1
            total["rt_build"] += n1 - n0
            total["build_s"] += t1 - t0
        except Exception as exc:  # noqa: BLE001
            print(json.dumps({"q": name, "err": str(exc)[:160]}), flush=True)
        sc.setJobDescription(None)
    total["build_s"] = round(total["build_s"], 2)
    print(json.dumps({"total": total}), flush=True)


if __name__ == "__main__":
    main()
