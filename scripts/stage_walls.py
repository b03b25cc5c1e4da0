"""Per-stage wall-time measurement at bench4 with count barriers.

Usage: python scripts/stage_walls.py <cpus> [scale]
Prints one JSON line: {"cpus": N, "stages": [{stage, rows_out, wall_ms}]}.
Used for the BENCH.md per-stage table and the 2-vs-8-core per-stage
scaling evidence (fresh JVM per invocation).
"""

from __future__ import annotations

import json
import os
import sys

# import from THIS script's repo checkout (A/B campaigns run the script
# from an old-commit worktree; a hardcoded /root/repo would silently
# measure the new code twice)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    cpus = int(sys.argv[1])
    scale = sys.argv[2] if len(sys.argv) > 2 else "bench4"
    from sbb_ned_spark.config import PipelineConfig
    from sbb_ned_spark.plans import pipeline as P
    from sbb_ned_spark.session import get_spark

    config = PipelineConfig(
        shuffle_partitions=max(32, cpus * 2),
        extra_spark_conf={"spark.driver.memory": f"{4 * cpus}g"},
    )
    spark = get_spark(f"stage-walls-{cpus}", master=f"local[{cpus}]", config=config)
    files = spark.read.parquet(f"/root/repo/.bench_data/files_{scale}.parquet")
    files.count()
    res = P.run_pipeline(files, config, light=False)
    res.clusters.count()
    print(json.dumps({"cpus": cpus, "scale": scale, "stages": res.metrics}, sort_keys=True))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
