"""State-partition x state-store-provider matrix for the stateful
streaming tiers (r13 verdict #2 + #6).

Every stateful tier in ``bench.STREAM_TIERS`` can be swept: ``watermark``
(exact dedup), ``session`` (session windows), ``enrich`` (windowed
aggregate after a stream-static join), ``inner`` and ``outer`` (the
stream-stream interval joins).  The RocksDB provider is A/B'd against
the default HDFS-backed store to tell store-commit sensitivity from
compute.

Usage:
    python tools/bench_streaming_matrix.py [sf_dir, default $SPARK_GRAFT_SF_DIR] \
        [--parts 4,8,16,32] [--providers hdfs,rocksdb] [--loops inner,outer] \
        [--rate 1]

``--rate N`` (r15 verdict #7) replays the matrix at N x the arrival rate:
the events table is replaced by its ``ensure_events_scale`` N x copy
(same timestamp span, N x rows per micro-batch), so the sweep measures
where the local 4-partition default stops being right as state per batch
grows — the crossover that turns SPARK_GRAFT_STATE_PARTITIONS guidance
from asserted into measured.

Each cell runs in its OWN SparkSession (provider is a session conf read
at query start) and hands its partition count to ``bench.run_stream_tier``.
Prints one JSON line per cell with mean_batch_sec, the partition count the
query ran with (read from its progress) and the per-batch state
commit/update latency series, then a summary table to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from asctb_ct_label_mapper_spark.session import get_spark  # noqa: E402

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
TIERS = {spec.name: spec for spec in bench.STREAM_TIERS if spec.stateful}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument(
        "sf_dir", nargs="?", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
        help="scale-factor data dir (default: $SPARK_GRAFT_SF_DIR)",
    )
    ap.add_argument("--parts", default="4,8,16,32")
    ap.add_argument("--providers", default="hdfs,rocksdb")
    ap.add_argument("--loops", default="inner,outer")
    ap.add_argument("--rate", type=int, default=1)
    args = ap.parse_args()
    if args.sf_dir is None:
        ap.error("give sf_dir or set SPARK_GRAFT_SF_DIR")
    parts = [int(p) for p in args.parts.split(",")]
    providers = args.providers.split(",")
    loops = args.loops.split(",")
    unknown = sorted(set(loops) - set(TIERS))
    if unknown:
        ap.error(f"unknown --loops {unknown}; stateful tiers: {sorted(TIERS)}")
    rate = args.rate
    sf_dir = args.sf_dir
    if rate != 1:
        sf_dir = bench.ensure_events_scale(sf_dir, rate)

    rows = []
    for provider in providers:
        for loop in loops:
            for n_parts in parts:
                spark = get_spark(f"ssmatrix-{provider}-{loop}-{n_parts}")
                if provider == "rocksdb":
                    spark.conf.set(
                        "spark.sql.streaming.stateStore.providerClass",
                        ROCKSDB,
                    )
                cell = {
                    "provider": provider,
                    "loop": loop,
                    "state_partitions": n_parts,
                }
                try:
                    tier = bench.run_stream_tier(
                        spark, TIERS[loop], sf_dir, state_partitions=n_parts
                    )
                    cell.update(
                        ran_state_partitions=tier["state_partitions"],
                        rate_factor=rate,
                        rows_in=tier["rows_in"],
                        mean_batch_sec=tier["mean_batch_sec"],
                        total_wall=tier["total_wall"],
                        matches_batch=tier["matches_batch"],
                        per_batch_sec=tier["per_batch_sec"],
                        state_commit_ms_per_batch=tier[
                            "state_commit_ms_per_batch"
                        ],
                        state_update_ms_per_batch=tier[
                            "state_update_ms_per_batch"
                        ],
                        state_rows_last=(
                            tier["state_rows_per_batch"] or [None]
                        )[-1],
                        disk_fsync_ms=bench._disk_fsync_ms(),  # noqa: SLF001
                    )
                except Exception as e:  # noqa: BLE001
                    cell["error"] = str(e)[:300]
                finally:
                    spark.stop()
                rows.append(cell)
                print(json.dumps(cell), flush=True)
    print("\nprovider loop      parts ran  mean_batch matches", file=sys.stderr)
    for c in rows:
        print(
            f"{c['provider']:8s} {c['loop']:9s} {c['state_partitions']:5d} "
            f"{c.get('ran_state_partitions', '-')!s:4s} "
            f"{c.get('mean_batch_sec', 'ERR')!s:10s} "
            f"{c.get('matches_batch')}",
            file=sys.stderr,
        )


if __name__ == "__main__":
    main()
