"""dedup_minhash_lsh bistability probe (VERDICT r14 next #2): the
query swung 11-36 s between same-tree passes in the r14 anchor data and
sign-flipped between the 32c and 8c driver runs. Attribute the swing:
per-rep wall next to the SUM of per-stage executor metrics
(executorRunTime, jvmGcTime, shuffle read/write, spill) pulled from the
Spark REST API, repeated N times in one warm session. If wall swings
while executorRunTime stays flat, the swing is host/scheduler; if
executorRunTime swings with jvmGcTime, it is GC; if one stage's shuffle
read swings, it is the band-join's bucket skew.

Usage: python scripts/minhash_probe_r15.py [reps] [query ...]
Appends a JSON block per run to /tmp/minhash_probe_r15.json.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def rest(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as r:
        return json.loads(r.read())


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    names = sys.argv[2:] or ["dedup_minhash_lsh"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from kafka_overwatch_spark import registry
    from kafka_overwatch_spark.session import builder

    # the probe needs the REST API: the engine's own session tuning, UI on
    spark = builder("minhash-probe").config("spark.ui.enabled", "true").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    base = f"http://localhost:{spark.sparkContext.uiWebUrl.rsplit(':', 1)[-1]}"
    app_id = spark.sparkContext.applicationId
    queries = registry.spark_queries()

    out: dict = {"sf_dir": sf_dir, "cpus": os.environ.get("SPARK_GRAFT_CPUS")}
    for name in names:
        q = queries[name]
        # warm pass: memos + plan compile, excluded from the reps
        q(spark, sf_dir).write.format("noop").mode("overwrite").save()
        rows = []
        for rep in range(reps):
            seen = {s["stageId"] for s in rest(base, f"/api/v1/applications/{app_id}/stages?status=complete")}
            load0 = os.getloadavg()[0]
            t0 = time.time()
            q(spark, sf_dir).write.format("noop").mode("overwrite").save()
            wall = round(time.time() - t0, 3)
            stages = [
                s
                for s in rest(base, f"/api/v1/applications/{app_id}/stages?status=complete")
                if s["stageId"] not in seen
            ]
            agg = {
                "wall": wall,
                "load1": round(load0, 2),
                "n_stages": len(stages),
                "executorRunTime_s": round(sum(s["executorRunTime"] for s in stages) / 1e3, 2),
                "jvmGcTime_s": round(sum(s["jvmGcTime"] for s in stages) / 1e3, 2),
                "shuffleReadBytes": sum(s["shuffleReadBytes"] for s in stages),
                "shuffleWriteBytes": sum(s["shuffleWriteBytes"] for s in stages),
                "spillBytes": sum(s["memoryBytesSpilled"] for s in stages),
                "top_stages": [
                    {
                        "name": s["name"].split("\n")[0][:60],
                        "run_s": round(s["executorRunTime"] / 1e3, 2),
                        "gc_s": round(s["jvmGcTime"] / 1e3, 2),
                        "read_mb": round(s["shuffleReadBytes"] / 1e6, 1),
                    }
                    for s in sorted(stages, key=lambda s: -s["executorRunTime"])[:4]
                ],
            }
            rows.append(agg)
            print(f"  {name} rep{rep}: wall={wall}s run={agg['executorRunTime_s']}s gc={agg['jvmGcTime_s']}s load1={load0:.1f}", file=sys.stderr)
        out[name] = rows
    path = "/tmp/minhash_probe_r15.json"
    existing = []
    if os.path.exists(path):
        existing = json.loads(Path(path).read_text())
    existing.append(out)
    Path(path).write_text(json.dumps(existing, indent=1))
    print(json.dumps({k: v for k, v in out.items() if k not in names}))
    spark.stop()


if __name__ == "__main__":
    main()
