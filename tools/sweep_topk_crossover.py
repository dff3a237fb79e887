"""Time the flagship's two exact top-k rungs against each other at one
embedding width, to place ``similarity.EXACT_FLOP_BUDGET``.

    python tools/sweep_topk_crossover.py --dim 768 --refs 100,300,1000 \
        --queries 4,8,16,32,64,128 --reps 3

For every reference size C a seeded random reference is held in
``mapping.reference_projection`` (as repeated ``map_raw_labels`` calls
hold it), and for every query count q the same q labels are mapped with
``strategy="join"`` and ``strategy="blocked"``: one warm-up call each,
then the median wall time of ``--reps`` collected reports. One line per
(C, q) goes to stdout with q*C*dim and the faster rung.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from asctb_ct_label_mapper_spark.functions.vector import stub_encode_udf  # noqa: E402
from asctb_ct_label_mapper_spark.operators.mapping import (  # noqa: E402
    map_labels_to_reference,
    reference_projection,
)
from asctb_ct_label_mapper_spark.session import get_spark  # noqa: E402


def make_reference(spark, n_refs: int, dim: int, seed: int):
    rng = np.random.default_rng(seed)
    mat = rng.standard_normal((n_refs, dim)).astype(np.float32)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    names = [f"cell type {i}" for i in range(n_refs)]
    return spark.createDataFrame(
        pa.table(
            {
                "CT_ID": [f"CL:{i:07d}" for i in range(n_refs)],
                "CT_NAME": names,
                "definition": [f"definition {i}" for i in range(n_refs)],
                "all_text": names,
                "ct_name_cleaned": names,
                "embedding": pa.array(list(mat), pa.list_(pa.float32())),
            }
        )
    )


def time_call(labels, proj, dim: int, strategy: str, reps: int) -> float:
    def call() -> float:
        t0 = time.perf_counter()
        map_labels_to_reference(
            labels, proj, k=2, strategy=strategy,
            encoder=lambda c: stub_encode_udf(c, dim=dim),
        ).collect()
        return time.perf_counter() - t0

    call()  # warm-up
    return statistics.median(call() for _ in range(reps))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--dim", type=int, default=768)
    ap.add_argument("--refs", default="100,300,1000")
    ap.add_argument("--queries", default="4,8,16,32,64,128")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    spark = get_spark("topk-crossover")
    cores = spark.sparkContext.defaultParallelism
    print(f"cores={cores} dim={args.dim} reps={args.reps}")
    print("C\tq\tq*C*d\tjoin_s\tblocked_s\tfaster")
    for n_refs in (int(x) for x in args.refs.split(",")):
        ref = make_reference(spark, n_refs, args.dim, args.seed)
        with reference_projection(ref) as proj:
            for q in (int(x) for x in args.queries.split(",")):
                labels = spark.createDataFrame(
                    pa.table(
                        {
                            "source": ["sweep"] * q,
                            "raw_input_label": [f"query label {i}" for i in range(q)],
                        }
                    )
                )
                t_join = time_call(labels, proj, args.dim, "join", args.reps)
                t_blk = time_call(labels, proj, args.dim, "blocked", args.reps)
                faster = "join" if t_join < t_blk else "blocked"
                print(
                    f"{n_refs}\t{q}\t{q * n_refs * args.dim:.2e}\t"
                    f"{t_join:.3f}\t{t_blk:.3f}\t{faster}",
                    flush=True,
                )
    spark.stop()


if __name__ == "__main__":
    main()
