"""``session.get_spark`` sizes shuffle partitions to the session's cores.

A stateful streaming exchange takes its partition count from
``spark.sql.shuffle.partitions`` at first start and AQE never coalesces
it, so the default count is the number of Python tasks and state-store
commits per trigger. The check runs in a subprocess: ``get_spark`` would
otherwise reuse the shared fixture session (America/New_York, 8
partitions).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import datetime as dt, json, sys
from flink_framework_spark.session import get_spark
from flink_framework_spark.streaming.drain import await_drain
from flink_framework_spark.streaming.stateful import funnel_conversions

src, ckpt = sys.argv[1], sys.argv[2]
spark = get_spark(app_name="test-session")
t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
rows = []
for u in range(10):  # view then purchase a minute later: converts
    rows += [(u, t0, "view"), (u, t0 + dt.timedelta(minutes=1), "purchase")]
rows.append((10, t0, "purchase"))  # purchase with no view
rows += [(11, t0, "view"), (11, t0 + dt.timedelta(minutes=31), "purchase")]
ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
ev.coalesce(1).write.parquet(src)
q = (
    funnel_conversions(spark.readStream.schema(ev.schema).parquet(src))
    .writeStream.format("memory").queryName("t_session_funnel")
    .outputMode("update").option("checkpointLocation", ckpt)
    .trigger(availableNow=True).start()
)
await_drain(q, "t_session_funnel", timeout_sec=120)
parts = [p["stateOperators"][0]["numShufflePartitions"]
         for p in q.recentProgress if p and p.get("stateOperators")]
out = spark.table("t_session_funnel").toPandas()
print("RESULT " + json.dumps({
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "state_partitions": sorted(set(parts)),
    "conversions": sorted(
        [int(u), str(ts)] for u, ts in zip(out["user_id"], out["purchase_ts"])
    ),
}))
spark.stop()
"""


def test_get_spark_sizes_shuffle_partitions_to_cores(tmp_path):
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (_REPO, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path / "src"), str(tmp_path / "ckpt")],
        env=env,
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-4000:]
    got = json.loads(lines[-1][len("RESULT "):])
    assert got["shuffle_partitions"] == "2"
    assert got["state_partitions"] == [2]
    assert got["conversions"] == [[u, "2024-01-01 12:01:00"] for u in range(10)]
