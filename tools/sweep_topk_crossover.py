"""Time the two exact top-k rungs of ``similarity_topk`` against each
other at one embedding width, to place ``similarity.EXACT_FLOP_BUDGET``
(the budget ``impl="auto"`` routes on).

    python tools/sweep_topk_crossover.py --dim 768 --refs 100,300,1000 \
        --queries 4,8,16,32,64,128 --reps 3

For every reference size C a seeded random reference is held in
``mapping.reference_projection`` (as repeated ``map_raw_labels`` calls
hold it), and for every query count q the same q stub-encoded labels are
ranked with ``similarity_topk(impl="join")`` and
``similarity_topk(impl="blocked")``, k=2: one warm-up call each, then
the median wall time of ``--reps`` collected results. One line per
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

from pyspark.sql import functions as F  # noqa: E402

from asctb_ct_label_mapper_spark.functions.vector import stub_encode_udf  # noqa: E402
from asctb_ct_label_mapper_spark.operators.mapping import reference_projection  # noqa: E402
from asctb_ct_label_mapper_spark.operators.similarity import similarity_topk  # noqa: E402
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


def time_call(queries, proj, impl: str, reps: int) -> float:
    def call() -> float:
        t0 = time.perf_counter()
        similarity_topk(
            queries, proj, k=2, query_id_cols=["source", "raw_input_label"],
            ref_id_col="CT_ID", impl=impl,
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
                queries = spark.createDataFrame(
                    pa.table(
                        {
                            "source": ["sweep"] * q,
                            "raw_input_label": [f"query label {i}" for i in range(q)],
                        }
                    )
                ).withColumn(
                    "embedding", stub_encode_udf(F.col("raw_input_label"), dim=args.dim)
                )
                t_join = time_call(queries, proj, "join", args.reps)
                t_blk = time_call(queries, proj, "blocked", args.reps)
                faster = "join" if t_join < t_blk else "blocked"
                print(
                    f"{n_refs}\t{q}\t{q * n_refs * args.dim:.2e}\t"
                    f"{t_join:.3f}\t{t_blk:.3f}\t{faster}",
                    flush=True,
                )
    spark.stop()


if __name__ == "__main__":
    main()
