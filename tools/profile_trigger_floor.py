#!/usr/bin/env python
"""Where does the ~0.25 s/trigger streaming-machinery floor go?

Runs (a) a NO-OP foreachBatch and (b) a count-only foreachBatch over the
standard 3-chunk embedding replay, twice each (cold, warm), and prints
every trigger's durationMs breakdown from the StreamingQueryProgress
events: triggerExecution = latestOffset + getBatch + queryPlanning +
walCommit + addBatch + commitOffsets (+ unaccounted scheduling).

Usage: python tools/profile_trigger_floor.py
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    from sealnet_etl_spark.session import get_spark
    from sealnet_etl_spark.sources.store import remove, store_path
    from sealnet_etl_spark.streaming.incremental import _emb_drift_replay_dir

    sf_dir = "/root/testdata/sf0.1"
    spark = get_spark(app_name="profile-trigger-floor")
    replay = _emb_drift_replay_dir(spark, sf_dir)

    def run(tag: str, body) -> None:
        ckpt = store_path(spark, "scratch", sf_dir, f"floor_{tag}")
        remove(spark, ckpt)
        stream = (
            spark.readStream.schema(
                "vec_id long, label int, embedding array<float>"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )
        t0 = time.perf_counter()
        q = (
            stream.writeStream.foreachBatch(body)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        progress = [json.loads(p.json) for p in q.recentProgress]
        print(f"\n=== {tag}: wall={wall:.2f}s, {len(progress)} progress events")
        keys = [
            "latestOffset", "getBatch", "queryPlanning", "walCommit",
            "addBatch", "commitOffsets", "triggerExecution",
        ]
        print("batch  " + "  ".join(f"{k:>16s}" for k in keys))
        for p in progress:
            d = p.get("durationMs", {})
            print(
                f"{p.get('batchId', -1):5d}  "
                + "  ".join(f"{d.get(k, 0):16d}" for k in keys)
            )

    def noop(batch_df, batch_id):
        pass

    def count(batch_df, batch_id):
        batch_df.count()

    for i in range(2):
        run(f"noop{i}", noop)
    for i in range(2):
        run(f"count{i}", count)
    spark.stop()


if __name__ == "__main__":
    main()
