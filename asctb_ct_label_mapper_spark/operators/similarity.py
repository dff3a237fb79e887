"""Top-k similarity join — the reference's core operator (J3+F13+A1+J4).

Reference behavior: a Python loop over input labels, each iteration stacking
the full reference matrix and calling sklearn ``cosine_similarity`` then
``np.argsort(-sims)[:k]`` (main.py:84-92, loop at :198-205). That is
O(L) jobs with O(L^2) masked writes.

Engine design (SURVEY §4 item 1) — one job, two exact physical strategies
behind one logical API:

1. ``top_k_similarity_join`` — broadcast cross join + native cosine
   expression + window top-k. Catalyst picks BroadcastNestedLoopJoin; the
   window shuffles on the query key. It needs no collect of the
   reference and is the rung the others are compared against;
   ``similarity_topk`` never picks it on its own (it lost every cell of
   the dim-768 sweep in SCALING.md).
2. ``top_k_similarity_blocked`` — ``mapInPandas`` over the (large) query
   side with the reference matrix broadcast once per executor as a numpy
   array: per Arrow batch, one blocked matmul + ``argpartition`` top-k, no
   window, no shuffle at all. Queries stream through executors, the
   reference stays resident, output is k rows per query.

Both produce identical rows: query id columns + ``ref_id`` + ``score`` +
``rank`` (rank 1..k, ties broken by ascending ref id — the engine's
deterministic replacement for the reference's argsort tie order, SURVEY §4
item 3). Every relational rung ranks through one tail (``_rank_tail``)
and the numpy kernels through one tie kernel (``_top_cols``).

``similarity_topk(impl='auto')`` routes on the reference alone, as the
flagship does: the blocked rung inside the broadcast budget, IVF past it;
the queries are never counted. ``lsh_bucketed_candidates`` adds the
approximate scale path: random hyperplane signatures bucket vectors so
candidate generation is an equi-join (shuffle on bucket id) instead of a
cross join.
"""

from __future__ import annotations

import weakref
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark import Broadcast
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from asctb_ct_label_mapper_spark.functions.vector import cosine_expr, dot_expr, norm_expr
from asctb_ct_label_mapper_spark.plans.partitioning import ensure_min_partitions


# The broadcast budget: past ~256 MiB of raw float64 the reference no longer
# ships as a per-executor resident matrix, the exact rungs are off the
# table and candidate generation must be a bucketed equi-join (IVF). Read at
# call time by ``_over_budget``, its one comparison.
REF_BROADCAST_BUDGET_BYTES: int = 256 << 20
# No package code routes on this: perfbench run records derive their
# ``crossover_q`` from it.
EXACT_FLOP_BUDGET: float = 1e7


def _over_budget(n_refs: int, dim: int) -> bool:
    """Whether a reference's float64 matrix is past the broadcast budget:
    the one test behind routing, resident state and the collect guard."""
    return n_refs * dim * 8 > REF_BROADCAST_BUDGET_BYTES


def _rank_tail(
    scored: DataFrame,
    query_id_cols: Sequence[str],
    k: int,
    score: str = "score",
    rank: str = "rank",
) -> DataFrame:
    """The ladder's one rank tail: ``rank`` is the row number per query in
    (``score`` DESC NULLS LAST, ``ref_id`` ASC) order, kept up to ``k``."""
    w = Window.partitionBy(*query_id_cols).orderBy(F.desc(score), F.asc("ref_id"))
    return scored.withColumn(rank, F.row_number().over(w)).filter(F.col(rank) <= k)


def _broadcast_pairs(
    queries: DataFrame,
    reference: DataFrame,
    ref_id_col: str,
    query_vec_col: str,
    ref_vec_col: str,
    ref_payload_cols: Sequence[str] = (),
) -> DataFrame:
    """Every (query, reference) pair of a broadcast cross join with its
    cosine ``score``: the exact relational scorer.

    Norms are precomputed ONCE PER SIDE before the join (projections, no
    shuffle): with q queries and c references, cosine inside the join would
    otherwise recompute norm(query) c times and norm(ref) q times — at
    q=1e4, c=1e3 that is 1e7 redundant O(d) reductions. After the hoist the
    per-pair work is one dot product and one division.

    Rows carry the query columns, ``ref_id``, the payload, ``score`` (NULL
    when either side has zero norm) and ``_has_dir`` (the query vector is
    non-NULL with a non-zero norm)."""
    ref = reference.select(
        F.col(ref_id_col).alias("ref_id"),
        F.col(ref_vec_col).alias("_ref_vec"),
        *[F.col(c) for c in ref_payload_cols],
    ).withColumn("_rnorm", norm_expr(F.col("_ref_vec")))
    # The broadcast cross join parallelizes over QUERY partitions: a narrow
    # dense scan (1-3 partitions) would evaluate the whole q x c product on
    # as many cores.
    q = ensure_min_partitions(queries).withColumn("_qnorm", norm_expr(F.col(query_vec_col)))
    denom = F.col("_qnorm") * F.col("_rnorm")
    return (
        q.crossJoin(F.broadcast(ref))
        .withColumn(
            "score",
            F.when(denom != 0, dot_expr(F.col(query_vec_col), F.col("_ref_vec")) / denom),
        )
        .withColumn("_has_dir", F.coalesce(F.col("_qnorm") > 0, F.lit(False)))
        .drop("_ref_vec", "_qnorm", "_rnorm")
    )


def top_k_similarity_join(
    queries: DataFrame,
    reference: DataFrame,
    k: int,
    query_id_cols: Sequence[str],
    ref_id_col: str,
    query_vec_col: str = "embedding",
    ref_vec_col: str = "embedding",
    ref_payload_cols: Sequence[str] = (),
) -> DataFrame:
    """Broadcast cross join (:func:`_broadcast_pairs`) + window top-k
    (exact, strategy 1).

    A query whose vector is NULL or zero-norm has no direction, so no
    neighbours: it gets ONE rank-1 row with NULL ``ref_id``, payload and
    ``score`` (the blocked rung emits the same row). A zero-norm
    reference row scores NULL and ranks after every scored row, ties by
    ascending ref id (``score DESC NULLS LAST, ref_id ASC``; the blocked
    rung ranks it the same way).
    """
    scored = _broadcast_pairs(
        queries, reference, ref_id_col, query_vec_col, ref_vec_col, ref_payload_cols
    )
    # a query without a direction keeps every ref pairing with ref, payload
    # and score nulled; the rank filter below keeps one of them
    for c in ("ref_id", *ref_payload_cols):
        scored = scored.withColumn(c, F.when(F.col("_has_dir"), F.col(c)))
    return (
        _rank_tail(scored, query_id_cols, k)
        .filter(F.col("_has_dir") | (F.col("rank") == 1))
        .drop(query_vec_col, "_has_dir")
    )


@dataclass(frozen=True)
class ResidentReference:
    """What the driver-resident rungs need of a reference, computed once:
    its row count and dim and, inside the broadcast budget, broadcasts of
    its ids and of its L2-normalised float64 matrix (None past it).
    ``payload`` is a caller's broadcast built from the same collect (the
    flagship report writer's table). ``pin_reference`` keeps one alive for
    the life of a handle, so repeated top-k calls run no reference job;
    without a pin the blocked rung builds one per call through the same
    helper, ``resident_reference``."""

    ref_id_col: str
    ref_vec_col: str
    n_refs: int
    dim: int
    ids: Broadcast | None = None
    unit: Broadcast | None = None
    payload: Broadcast | None = None

    def broadcasts(self, rung: str) -> tuple[Broadcast, Broadcast]:
        """(ids, unit matrix); past the budget there are none and ``rung``
        fails with the documented remediation."""
        if self.ids is None:
            _guard_ref_collect(self.n_refs, self.dim, rung)
        return self.ids, self.unit

    def release(self) -> None:
        for b in (self.ids, self.unit, self.payload):
            if b is not None:
                b.destroy()


# reference DataFrame -> its ResidentReference while ``pin_reference`` holds it
_PINNED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def reference_stats(reference: DataFrame, vec_col: str = "embedding") -> tuple[int, int]:
    """(row count, dim) of a reference, read off its pin when it has one,
    else one aggregate job (count fused with ``size(first(vec))``)."""
    pinned = _PINNED.get(reference)
    if pinned is not None and pinned.ref_vec_col == vec_col:
        return pinned.n_refs, pinned.dim
    row = reference.agg(
        F.count(F.lit(1)).alias("c"),
        F.first(F.size(vec_col)).alias("d"),
    ).collect()[0]
    return row["c"], row["d"] or 0


def _guard_ref_collect(n_refs: int, dim: int, rung: str) -> None:
    """Enforce the broadcast-budget contract BEFORE a driver collect of
    the reference: rungs whose shape is driver-resident (blocked, HNSW)
    must fail with the documented remediation instead of OOMing the
    driver when handed a beyond-broadcast reference (r13 ADVICE —
    ``impl='auto'`` never routes such a reference here, but explicit
    callers hit the collect directly)."""
    if _over_budget(n_refs, dim):
        raise ValueError(
            f"{rung}: reference exceeds the broadcast budget "
            f"(~{n_refs * dim * 8 >> 20} MiB > "
            f"{REF_BROADCAST_BUDGET_BYTES >> 20} MiB). Use "
            "similarity_topk(impl='ivf') — its bucketed candidate "
            "equi-join is the rung whose contract survives a "
            "reference that outgrows executor memory."
        )


def _unit_matrix(vecs: list, dim: int) -> np.ndarray:
    """L2-normalised float64 (rows, dim) matrix; zero-norm rows stay zero."""
    mat = np.array(vecs, dtype=np.float64).reshape(len(vecs), dim)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    return mat / norms[:, None]


def resident_reference(
    reference: DataFrame,
    ref_id_col: str,
    ref_vec_col: str = "embedding",
    payload_cols: Sequence[str] = (),
    payload: Callable[[dict[str, np.ndarray]], object] | None = None,
) -> ResidentReference:
    """The reference's pinned state for these columns, or a fresh one: one
    stats job, then, inside the broadcast budget only, one collect of the
    ids, vectors and ``payload_cols`` and broadcasts of the ids and the
    unit matrix. A reference past the budget is never collected; its
    state has no broadcasts.

    ``payload`` builds a caller's table from the same collect: it gets
    the id and ``payload_cols`` columns as arrays row-aligned with the
    unit matrix, and its result is broadcast as ``payload``. A pin
    without a payload is not reused for a caller that asks for one."""
    pinned = _PINNED.get(reference)
    if (
        pinned is not None
        and (pinned.ref_id_col, pinned.ref_vec_col) == (ref_id_col, ref_vec_col)
        and (payload is None or pinned.payload is not None or pinned.ids is None)
    ):
        return pinned
    n_refs, dim = reference_stats(reference, ref_vec_col)
    if _over_budget(n_refs, dim):
        return ResidentReference(ref_id_col, ref_vec_col, n_refs, dim)
    rows = reference.select(ref_id_col, ref_vec_col, *payload_cols).collect()
    ids = np.array([r[0] for r in rows])
    sc = reference.sparkSession.sparkContext
    table = None
    if payload is not None:
        cols = {c: np.array([r[i] for r in rows], dtype=object)
                for i, c in enumerate(payload_cols, start=2)}
        table = sc.broadcast(payload({ref_id_col: ids, **cols}))
    return ResidentReference(
        ref_id_col, ref_vec_col, n_refs, dim,
        sc.broadcast(ids), sc.broadcast(_unit_matrix([r[1] for r in rows], dim)), table,
    )


@contextmanager
def _held(reference: DataFrame, state: ResidentReference) -> Iterator[ResidentReference]:
    """Serve ``state`` as ``reference``'s pin for the block, then restore
    whatever pin it had; the broadcasts outlive the block."""
    prior = _PINNED.get(reference)
    _PINNED[reference] = state
    try:
        yield state
    finally:
        if prior is None:
            _PINNED.pop(reference, None)
        else:
            _PINNED[reference] = prior


@contextmanager
def pin_reference(
    reference: DataFrame,
    ref_id_col: str,
    ref_vec_col: str = "embedding",
    payload_cols: Sequence[str] = (),
    payload: Callable[[dict[str, np.ndarray]], object] | None = None,
) -> Iterator[ResidentReference]:
    """Keep ``reference``'s resident state (:func:`resident_reference`,
    with its optional ``payload``) for the block: routing stats and the
    blocked rungs read it instead of running reference jobs. Exit
    destroys the broadcasts; results must be materialised inside."""
    state = resident_reference(reference, ref_id_col, ref_vec_col, payload_cols, payload)
    try:
        with _held(reference, state):
            yield state
    finally:
        state.release()


def _top_cols(vals: np.ndarray, ids: np.ndarray, top: int) -> np.ndarray:
    """Column indices of each row's ``top`` largest ``vals`` in (value DESC,
    id ASC) order, ``ids`` naming the columns: the tie kernel of the
    numpy rungs, the window's ``row_number`` order."""
    # argpartition gets the top set in O(c); exact order + id tiebreak
    # resolved on the k-sized slice only — all rows at once (no per-row
    # Python in the common case).
    part = np.argpartition(-vals, top - 1, axis=1)[:, :top]
    sel = np.take_along_axis(vals, part, axis=1)
    kth = sel.min(axis=1)
    # Order each row's slice by (value DESC, id ASC): stable-argsort by id,
    # then stable-argsort by -value — equal values keep the id order.
    ord_id = np.argsort(ids[part], axis=1, kind="stable")
    ord_val = np.argsort(-np.take_along_axis(sel, ord_id, axis=1), axis=1, kind="stable")
    chosen = np.take_along_axis(part, np.take_along_axis(ord_id, ord_val, axis=1), axis=1)
    # argpartition cuts ties at the k-th value ARBITRARILY — when a row has
    # MORE than `top` values >= its k-th value, ids outside the slice may
    # deserve inclusion. Only those rows take the widened per-row path.
    tied = np.flatnonzero((vals >= kth[:, None]).sum(axis=1) > top)
    for row_i in tied:
        cand = np.flatnonzero(vals[row_i] >= kth[row_i])
        order = np.lexsort((ids[cand], -vals[row_i, cand]))
        chosen[row_i] = cand[order][:top]
    return chosen


def top_k_rows(
    vecs: pd.Series, unit: np.ndarray, ids: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact cosine top-k of one batch of query vectors against a resident
    unit matrix: the numpy core of the blocked rung and of the flagship's
    report writer. Returns ``(has_dir, rows, scores)``:

    - ``has_dir`` marks the queries with a direction; a NULL or zero-norm
      vector has none, so no neighbours;
    - for those queries, ``rows`` holds the reference row indices of the
      top ``min(k, c)`` in (score DESC, ref id ASC) order and ``scores``
      their cosines.

    A zero-norm reference row has no direction either: it scores NaN
    (NULL) and ranks after every scored row, ties by ascending ref id —
    the join rung's ``score DESC NULLS LAST, ref_id ASC``. An empty
    reference gives every query zero neighbours and, as the join rung's
    cross join with no rows, no direction-less placeholder: ``has_dir``
    is all True and ``rows``/``scores`` have no columns."""
    if len(ids) == 0:
        n = len(vecs)
        return np.ones(n, dtype=bool), np.zeros((n, 0), dtype=np.int64), np.zeros((n, 0))
    has_vec = vecs.notna().to_numpy()
    q = np.zeros((len(vecs), unit.shape[1]))
    if has_vec.any():
        q[has_vec] = np.array(vecs[has_vec].to_list(), dtype=np.float64)
    qn = np.linalg.norm(q, axis=1)
    has_dir = qn > 0.0
    sims = (q[has_dir] / qn[has_dir, None]) @ unit.T  # (queries, c)
    n_rows, n_ref = sims.shape
    top = min(k, n_ref)
    if top == 0:
        return has_dir, np.zeros((n_rows, 0), dtype=np.int64), np.zeros((n_rows, 0))
    dead_ref = ~unit.any(axis=1)
    sims[:, dead_ref] = -np.inf  # zero-norm rows rank after every scored row
    chosen = _top_cols(sims, ids, top)
    scores = np.take_along_axis(sims, chosen, axis=1)
    scores[dead_ref[chosen]] = np.nan
    return has_dir, chosen, scores


def top_k_similarity_blocked(
    queries: DataFrame,
    reference: DataFrame,
    k: int,
    query_id_cols: Sequence[str],
    ref_id_col: str,
    query_vec_col: str = "embedding",
    ref_vec_col: str = "embedding",
) -> DataFrame:
    """Blocked-matmul top-k via ``mapInPandas`` (exact, strategy 2).

    The reference matrix is collected once on the driver, L2-normalized, and
    shipped to executors via a broadcast variable; each Arrow batch of
    queries does one dense matmul + ``argpartition`` (:func:`top_k_rows`).
    Per-query cost is O(c*d) flops with zero shuffle — the Window shuffle
    of strategy 1 is gone, so the plan is scan -> mapInPandas -> done, and
    it scales linearly in the query count with the reference resident in
    executor memory. A reference held by ``pin_reference`` is scored
    against its resident broadcasts; any other reference is collected and
    broadcast per call. A NULL or zero-norm query vector gets one rank-1
    row with NULL ``ref_id`` and ``score``, as on the join rung; a
    zero-norm reference row scores NULL and ranks last, as there too.
    """
    b_ids, b_mat = resident_reference(reference, ref_id_col, ref_vec_col).broadcasts(
        "top_k_similarity_blocked"
    )

    id_fields = [queries.schema[c] for c in query_id_cols]
    out_schema = T.StructType(
        [*id_fields]
        + [
            T.StructField("ref_id", reference.schema[ref_id_col].dataType),
            T.StructField("score", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    # Matmul cost follows rows, not scan bytes: a small-but-dense embedding
    # file scans as 1 partition and would run the whole matmul on one core.
    narrowed = ensure_min_partitions(queries.select(*query_id_cols, query_vec_col))
    kk = k

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mat = b_mat.value
        ids = b_ids.value
        for pdf in batches:
            if pdf.empty:
                continue
            has_dir, rows, scores = top_k_rows(pdf[query_vec_col], mat, ids, kk)
            if not has_dir.all():
                # NULL or zero-norm query: one rank-1 row, NULL ref and score
                n_dead = int((~has_dir).sum())
                yield pd.DataFrame(
                    {
                        **{c: pdf[c].to_numpy()[~has_dir] for c in query_id_cols},
                        "ref_id": pd.Series([None] * n_dead, dtype=object),
                        "score": np.full(n_dead, np.nan),
                        "rank": np.ones(n_dead, dtype=np.int32),
                    }
                )
            if rows.size == 0:
                continue
            n_rows, top = rows.shape
            out = {
                c: np.repeat(pdf[c].to_numpy()[has_dir], top) for c in query_id_cols
            }
            out["ref_id"] = ids[rows].ravel()
            out["score"] = scores.ravel()
            out["rank"] = np.tile(np.arange(1, top + 1, dtype=np.int32), n_rows)
            yield pd.DataFrame(out)

    return narrowed.mapInPandas(score_batches, schema=out_schema)


def ivf_topk(
    queries: DataFrame,
    reference: DataFrame,
    k: int,
    query_id_cols: Sequence[str],
    ref_id_col: str,
    query_vec_col: str = "embedding",
    ref_vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 2,
    seed: int = 7,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    Train k-means centroids on the reference (MLlib, fixed seed), assign
    every reference vector to its nearest list, and have each query probe
    its ``n_probe`` nearest centroids — candidate generation becomes an
    equi-join on the list id (broadcast when the reference is small, hash
    shuffle otherwise). Classic IVF recall/cost trade: work per query drops
    from O(c) to O(c * n_probe / n_lists) plus the centroid scan.

    Pass ``centroids`` (e.g. ``seeded_centroids``) to skip training and use
    fixed spherical centroids with max-dot-product assignment — the
    data-independent flavor whose literals can be shared with a DuckDB
    oracle (same technique as the LSH hyperplanes), making the approximate
    result hash-checkable end-to-end. Trained k-means lists give better
    recall; seeded spherical lists give replayability.
    """
    index, cents, spherical = ivf_build_index(
        reference,
        ref_id_col,
        ref_vec_col=ref_vec_col,
        n_lists=n_lists,
        seed=seed,
        centroids=centroids,
    )
    return ivf_query_index(
        index,
        cents,
        spherical,
        queries,
        k,
        query_id_cols,
        query_vec_col=query_vec_col,
        n_probe=n_probe,
        # one-shot compose: reference was just handed to us whole, so the
        # small-index broadcast hint keeps the original fused plan
        broadcast_index=True,
    )


def _nearest_lists_expr(
    vec: Column, cents: list, spherical: bool, n: int
) -> Column:
    """ids of the n nearest centroids, as an array — a native expression
    over the broadcast centroid literals. Nearest = min squared L2 for
    trained centroids, max dot product for seeded spherical ones
    (equivalent on unit centroids up to the constant ||v||^2; dot is the
    form DuckDB replays as list_dot_product). array_sort on
    (key, list_id) structs gives the deterministic distance-then-id
    tie-break the oracle mirrors."""

    def key_expr(cent: list) -> Column:
        lit = F.lit([float(x) for x in cent])
        if spherical:
            return -F.aggregate(
                F.zip_with(vec, lit, lambda a, b: a.cast("double") * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        return F.aggregate(
            F.zip_with(
                vec, lit,
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    dists = F.array(
        *[
            F.struct(key_expr(cent).alias("dist"), F.lit(i).alias("list_id"))
            for i, cent in enumerate(cents)
        ]
    )
    return F.slice(F.array_sort(dists), 1, n).getField("list_id")


def ivf_build_index(
    reference: DataFrame,
    ref_id_col: str,
    ref_vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 7,
    centroids: np.ndarray | None = None,
) -> tuple[DataFrame, list, bool]:
    """Phase 1 of the production ANN flow: assign every reference vector
    to its inverted list ONCE and return (index_frame, centroid_lists,
    spherical_flag). The index frame is (_list, ref_id, _ref_vec) — the
    thing you persist, or at 100 TB write out partitioned/bucketed by
    ``_list`` so each query batch's probe join prunes to the probed
    lists' files (partition pruning on the list id — the on-disk analog
    of FAISS's inverted lists). ``ivf_topk`` composes build+query for
    the one-shot case; a serving pipeline calls this once and
    ``ivf_query_index`` per batch, which is the point of the split: the
    assignment scan of the corpus never re-runs per query batch."""
    ref = reference.select(
        F.col(ref_id_col).alias("ref_id"), F.col(ref_vec_col).alias("_ref_vec")
    )
    if centroids is None:
        # k-means fails on fewer rows than lists, and MLlib rejects k < 2:
        # cap the lists at the row count; 0 or 1 rows make one list
        n_refs, dim = reference_stats(reference, ref_vec_col)
        n_lists = min(n_lists, n_refs)
        if n_lists < 2:
            cents = [[0.0] * max(dim, 1)]
        else:
            from pyspark.ml.clustering import KMeans
            from pyspark.ml.functions import array_to_vector

            train = ref.select(array_to_vector(F.col("_ref_vec")).alias("features"))
            model = KMeans(k=n_lists, seed=seed, maxIter=20).fit(train)
            cents = [np.asarray(c).tolist() for c in model.clusterCenters()]
        spherical = False
    else:
        cents = [np.asarray(c, dtype=float).tolist() for c in centroids]
        assert len(cents) == n_lists
        spherical = True
    index = ref.withColumn(
        "_list", _nearest_lists_expr(F.col("_ref_vec"), cents, spherical, 1)[0]
    )
    return index, cents, spherical


def ivf_query_index(
    index: DataFrame,
    cents: list,
    spherical: bool,
    queries: DataFrame,
    k: int,
    query_id_cols: Sequence[str],
    query_vec_col: str = "embedding",
    n_probe: int = 2,
    broadcast_index: bool = False,
) -> DataFrame:
    """Phase 2: probe the prebuilt inverted lists. Each query expands to
    its ``n_probe`` nearest lists (native expression over the centroid
    literals — no UDF), candidates come from the equi-join on the list id,
    then exact cosine rescoring and the per-query top-k window.

    ``broadcast_index`` (default off) adds a broadcast hint for the
    small-index case. Leave it off for a real corpus index: a forced
    broadcast would collect the whole index to the driver (8GB hard
    limit, no fallback) AND a broadcast build side cannot be pruned — the
    hash-join path is what lets a list-partitioned on-disk index serve
    the probe join with only the probed lists' files read; AQE still
    converts to broadcast at runtime when the index turns out tiny."""
    q_assigned = queries.withColumn(
        "_list",
        F.explode(
            _nearest_lists_expr(F.col(query_vec_col), cents, spherical, n_probe)
        ),
    )
    idx = F.broadcast(index) if broadcast_index else index
    scored = (
        q_assigned.join(idx, "_list")
        .withColumn("score", cosine_expr(F.col(query_vec_col), F.col("_ref_vec")))
        .drop("_list", "_ref_vec")
    )
    return _rank_tail(scored, query_id_cols, k).drop(query_vec_col)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    return np.random.RandomState(seed).standard_normal((n_planes, dim))


def seeded_centroids(dim: int, n_lists: int, seed: int = 11) -> np.ndarray:
    """Deterministic unit-norm Gaussian directions — data-independent
    spherical IVF centroids shareable as literals with a SQL oracle."""
    c = np.random.RandomState(seed).standard_normal((n_lists, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def lsh_signature_expr(vec: Column, planes: np.ndarray) -> Column:
    """Sign-bit signature of ``vec`` against fixed hyperplanes, as ONE
    native integer expression (no UDF): bit_j = dot(vec, plane_j) > 0.

    For cosine similarity, P[bit match] = 1 - angle/pi (random hyperplane
    LSH) — vectors in the same bucket are likely neighbors.
    """
    sig = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                vec,
                F.lit(plane.astype(float).tolist()),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(dot > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0))
    return sig


def lsh_bucketed_topk(
    queries: DataFrame,
    reference: DataFrame,
    k: int,
    query_id_cols: Sequence[str],
    ref_id_col: str,
    query_vec_col: str = "embedding",
    ref_vec_col: str = "embedding",
    n_planes: int | None = 6,
    n_tables: int = 4,
    seed: int = 7,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k via MULTI-TABLE sign-LSH (OR-amplification).

    ``multiprobe`` > 0 additionally probes, PER TABLE, the ``multiprobe``
    buckets at Hamming distance 1 whose flipped plane has the SMALLEST
    query margin |q . plane| (Lv et al. 2007, multi-probe LSH): a near
    neighbor lost to one narrowly-decided sign bit is recovered from the
    adjacent bucket. Query-side only — the reference stays at one bucket
    per table, so the INDEX cost is unchanged and the candidate volume
    grows by at most (1 + multiprobe)x; trading probes for tables this
    way needs ~L/(1+m) tables for the same recall, i.e. an (1+m)x smaller
    index — the memory-bound regime's preferred knob.

    Each of ``n_tables`` hash tables buckets vectors by ``n_planes`` sign
    bits from its own hyperplane set; a (query, ref) pair is a candidate if
    they collide in ANY table — P[miss] = (1 - (1-theta/pi)^b)^L drops
    geometrically in L while candidate volume stays bounded by bucket
    collisions. Candidate generation is an equi-join on (table, bucket) —
    the 100x-scale ANN path; never a cross join. Recall < 1 by
    construction.

    ``n_planes=None`` auto-sizes the tables to the reference count
    (~32 refs per bucket, clamped to [4, 16] planes): with a FIXED plane
    count, bucket population — and therefore per-query candidate volume —
    grows linearly with the reference, and the "approximate" path
    degenerates toward the cross join it exists to avoid (measured 71 s vs
    the exact blocked path's 15 s at 180k vectors with the old fixed 64
    buckets); raise ``n_tables`` alongside if recall matters more than
    cost. The row count and dim come from :func:`reference_stats`: one
    aggregate job, none on a reference held by :func:`pin_reference`. An
    empty reference gives zero rows, as on the exact rungs.

    Candidate pairs are scored IMMEDIATELY on the equi-join output (Arrow-
    vectorized batch cosine) and only then deduped across tables: the
    dedup shuffle carries (query_id, ref_id, score) — a pair colliding in
    several tables is scored more than once, which is cheaper than
    shuffling both d-dim vectors per candidate just to score once (at d=64
    and 2M candidates that is ~2 GB of shuffle saved)."""
    n_refs, dim = reference_stats(reference, ref_vec_col)
    if n_refs == 0:
        return queries.select(
            *query_id_cols,
            F.lit(None).cast(reference.schema[ref_id_col].dataType).alias("ref_id"),
            F.lit(None).cast("double").alias("score"),
            F.lit(1).alias("rank"),
        ).filter(F.lit(False))
    if n_planes is None:
        n_planes = int(np.clip(np.ceil(np.log2(n_refs / 32.0)), 4, 16))

    # All T*P hyperplanes as ONE numpy tensor inside ONE Arrow-vectorized
    # UDF per side. The equivalent native formulation (T*P aggregate
    # expressions over 64-literal arrays) is correct but its expression
    # tree is ~3k nodes — measured 3.4s of DRIVER-side analysis per query
    # at T=4,P=6,d=64. Signature math is a (batch x d) @ (d x T*P) matmul.
    planes = np.stack(
        [random_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    )  # (T, P, D)
    flat = planes.reshape(n_tables * n_planes, dim).T  # (D, T*P)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    m = int(np.clip(multiprobe, 0, n_planes))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def bucket_ids(vecs: pd.Series) -> pd.Series:
        mat = np.array(vecs.to_list(), dtype=np.float64)  # (n, D)
        bits = (mat @ flat) > 0  # (n, T*P)
        per_table = bits.reshape(len(mat), n_tables, n_planes)  # (n, T, P)
        ids = (per_table * weights).sum(axis=2)  # (n, T)
        return pd.Series(list(ids))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def probe_ids(vecs: pd.Series) -> pd.Series:
        # base bucket + m Hamming-1 flips per table, flips ordered by
        # ascending |margin| (argsort is stable: equal margins flip the
        # lower plane index first — the tie order the oracle replays)
        mat = np.array(vecs.to_list(), dtype=np.float64)
        dots = (mat @ flat).reshape(len(mat), n_tables, n_planes)
        bits = dots > 0
        base = (bits * weights).sum(axis=2)  # (n, T)
        order = np.argsort(np.abs(dots), axis=2, kind="stable")[:, :, :m]  # (n,T,m)
        flips = base[:, :, None] ^ (1 << order)  # (n, T, m)
        out = np.concatenate([base[:, :, None], flips], axis=2)  # (n, T, 1+m)
        return pd.Series(list(out.reshape(len(mat), n_tables * (1 + m))))

    def with_buckets(
        df: DataFrame, vec: str, keep: Sequence[str], probe: bool = False
    ) -> DataFrame:
        if probe and m > 0:
            # posexplode over T*(1+m) probes; table = pos // (1+m)
            return df.select(
                *keep, vec,
                F.posexplode(probe_ids(F.col(vec))).alias("_pos", "bucket"),
            ).select(
                *keep, vec, "bucket",
                (F.col("_pos") / (1 + m)).cast("int").alias("table"),
            )
        # posexplode: position = table index, value = bucket id
        return df.select(
            *keep, vec, F.posexplode(bucket_ids(F.col(vec))).alias("table", "bucket")
        )

    q = with_buckets(
        ensure_min_partitions(queries), query_vec_col, query_id_cols, probe=True
    )
    r0 = reference.select(
        F.col(ref_id_col).alias("ref_id"), F.col(ref_vec_col).alias("_ref_vec")
    )
    r = with_buckets(r0, "_ref_vec", ["ref_id"])

    @F.pandas_udf(T.DoubleType())
    def pair_cosine(qv: pd.Series, rv: pd.Series) -> pd.Series:
        # Vectorized per-pair cosine: the native zip_with/aggregate dot is
        # interpreted per element (HOFs never enter codegen) — at 2M+
        # candidate pairs that interpretation dominated the whole query.
        qm = np.array(qv.to_list(), dtype=np.float64)
        rm = np.array(rv.to_list(), dtype=np.float64)
        num = np.einsum("ij,ij->i", qm, rm)
        den = np.linalg.norm(qm, axis=1) * np.linalg.norm(rm, axis=1)
        return pd.Series(np.where(den != 0, num / np.where(den == 0, 1.0, den), np.nan))

    scored = (
        q.join(F.broadcast(r), ["table", "bucket"])
        .withColumn("_raw", pair_cosine(F.col(query_vec_col), F.col("_ref_vec")))
        # NaN marks zero-norm pairs inside the UDF; surface them as NULL to
        # match the native strategies' F.when(denom != 0, ...) semantics.
        # (_raw is its own column so the UDF runs once per pair.)
        .withColumn("score", F.when(~F.isnan(F.col("_raw")), F.col("_raw")))
        .drop("_raw", "table", "bucket", query_vec_col, "_ref_vec")
        .dropDuplicates([*query_id_cols, "ref_id"])
    )
    return _rank_tail(scored, query_id_cols, k)


# --- product quantization (PQ) ANN -------------------------------------------


def seeded_subcentroids(
    dim: int, n_sub: int, n_codes: int, seed: int = 23
) -> np.ndarray:
    """Deterministic Gaussian sub-codebooks, shape (n_sub, n_codes,
    dim/n_sub) — data-independent PQ centroids whose literals a SQL
    oracle can replay (the seeded_centroids / LSH-plane technique).
    Trained codebooks (k-means per subspace) give better recall; seeded
    ones give end-to-end hash-checkability."""
    assert dim % n_sub == 0
    c = np.random.RandomState(seed).standard_normal((n_sub, n_codes, dim // n_sub))
    return c / np.linalg.norm(c, axis=2, keepdims=True)


def train_subcodebooks(
    reference: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_sub: int = 8,
    n_codes: int = 16,
    max_train: int = 16_384,
    iters: int = 12,
    seed: int = 23,
) -> np.ndarray:
    """TRAINED PQ sub-codebooks (VERDICT r6 #6): spherical k-means per
    subspace, seeded from :func:`seeded_subcentroids` so runs are
    deterministic given the same training rows.

    Spherical (unit-norm centroids, assignment by max dot) rather than
    plain k-means on purpose: the Arrow encoder (and the oracle's replay)
    pick codes by max dot product, which equals
    the L2-nearest centroid exactly when ``||c||`` is constant — so
    trained codebooks drop into the existing pipeline (and its oracle
    formulation) with zero encode-path changes. Empty clusters reseed to
    a random training subvector (seeded RNG).

    100 TB posture: PQ codebooks are ALWAYS trained on a bounded sample
    (the FAISS contract) — the collect here is capped at ``max_train``
    vectors (default 16k x dim x 8B = 8 MB driver memory), one
    ``limit()`` job, and training is a few numpy passes over that sample.
    The data-dependent result means no cross-engine hash oracle; the
    seeded flavor remains the registry's oracle anchor, trained is the
    recall upgrade (measured on a clustered fixture in
    tests/test_similarity.py)."""
    sub_dim = dim // n_sub
    rows = reference.select(vec_col).limit(max_train).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    if x.shape[0] < n_codes or x.shape[1] != dim:
        raise ValueError(
            f"train_subcodebooks: need >= {n_codes} {dim}-dim training "
            f"vectors, got {x.shape}"
        )
    rng = np.random.RandomState(seed)
    cb = seeded_subcentroids(dim, n_sub, n_codes, seed)
    out = np.empty_like(cb)
    for s in range(n_sub):
        xs = x[:, s * sub_dim : (s + 1) * sub_dim]
        cents = cb[s].copy()
        for _ in range(iters):
            assign = np.argmax(xs @ cents.T, axis=1)
            for c in range(n_codes):
                members = xs[assign == c]
                v = members.mean(axis=0) if len(members) else xs[rng.randint(len(xs))]
                n = np.linalg.norm(v)
                cents[c] = v / n if n > 0 else cb[s, c]
        out[s] = cents
    return out


def pq_topk(
    queries: DataFrame,
    reference: DataFrame,
    k: int,
    query_id_cols: Sequence[str],
    ref_id_col: str,
    query_vec_col: str = "embedding",
    ref_vec_col: str = "embedding",
    n_sub: int = 8,
    n_codes: int = 16,
    refine: int = 4,
    seed: int = 23,
    codebooks: np.ndarray | None = None,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k via product quantization with exact re-ranking.

    The memory-bound ANN regime: each reference vector compresses to an
    ``n_sub``-byte code (vs n_sub*sub_dim*4 bytes raw — 32x here), and
    query-time scoring is asymmetric distance computation (ADC): the
    query's per-subspace dots against every sub-centroid form a small
    lookup table, and a candidate's approximate dot is n_sub table
    lookups instead of a d-dim multiply. At 100 TB the codes table is
    the thing that fits in memory/cache when the vectors don't; the raw
    vectors are touched only for the ``k * refine`` survivors' exact
    rescore (broadcast-or-hash join back by id).

    With seeded codebooks the full pipeline (encode, ADC ranking, refine
    cut, exact rescore) is replayable by a generated DuckDB oracle.

    Encode, ADC and the refine cut run as ONE Arrow pass over the query
    stream with the (tiny) codes matrix broadcast — the actual 100 TB
    shape, sibling of ``top_k_similarity_blocked`` (broadcast contract:
    n_refs x n_sub bytes, 32x smaller than the raw vectors the blocked
    strategy ships). The reference is encoded once, distributed, and its
    codes collected (n_refs x n_sub uint8 — the thing PQ exists to make
    broadcastable); one mapInPandas over the query stream computes LUT +
    ADC + the k*refine cut per batch with numpy. Survivors join back to
    the raw vectors for the exact rescore — the only stage that touches
    uncompressed reference data. (The all-native expression formulation
    this replaced generated ~1k-term expressions past Janino's 64KB
    method limit, so whole-stage codegen fell back to interpreted.)

    Value parity with the oracle formulation: argmax/ADC compare dot
    products whose cross-engine float-fold differences are ~1e-16 — the
    same tolerance class the IVF/LSH oracles already rely on; the final
    scores are exact cosines rounded 6dp either way."""
    cb = (
        seeded_subcentroids(dim, n_sub, n_codes, seed)
        if codebooks is None
        else codebooks
    )
    b_cb = reference.sparkSession.sparkContext.broadcast(cb)

    # Encode DISTRIBUTED: only (id, 8-byte code) ever leaves the executors
    # — collecting raw vectors to encode driver-side would materialize
    # exactly the thing PQ exists to avoid holding uncompressed.
    enc_schema = T.StructType(
        [
            T.StructField("ref_id", reference.schema[ref_id_col].dataType),
            T.StructField("code", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cbk = b_cb.value
        ns, _nc, sd = cbk.shape
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(pdf[ref_vec_col].to_list(), dtype=np.float64)
            if mat.shape[1] != ns * sd:
                raise ValueError(
                    f"pq_topk: vectors are {mat.shape[1]}-dim but the "
                    f"codebooks cover {ns * sd} dims (pass dim=/codebooks=)"
                )
            code = np.empty((len(mat), ns), dtype=np.int64)
            for s in range(ns):
                code[:, s] = np.argmax(
                    mat[:, s * sd : (s + 1) * sd] @ cbk[s].T, axis=1
                )  # first max on ties = low code
            out = pd.DataFrame({"ref_id": pdf[ref_id_col].to_numpy()})
            out["code"] = list(code)
            yield out

    enc_rows = (
        ensure_min_partitions(reference.select(ref_id_col, ref_vec_col))
        .mapInPandas(encode_batches, schema=enc_schema)
        .collect()
    )
    id_fields = [queries.schema[c] for c in query_id_cols]
    out_schema = T.StructType(
        [*id_fields, T.StructField("ref_id", reference.schema[ref_id_col].dataType)]
    )
    if not enc_rows:
        # the numpy ADC pass can't shape a 0-row corpus: no survivors, and
        # the rescore tail below yields the correctly-typed empty frame
        surv = queries.sparkSession.createDataFrame([], out_schema)
    else:
        ref_ids = np.array([r["ref_id"] for r in enc_rows])
        # uint8 delivers the advertised n_refs x n_sub single-byte broadcast
        # (n_codes <= 256 by construction of the PQ code space)
        codes = np.array([r["code"] for r in enc_rows], dtype=np.uint8)

        sc = queries.sparkSession.sparkContext
        b_ids = sc.broadcast(ref_ids)
        b_codes = sc.broadcast(codes)  # b_cb already shipped for the encode
        cut = k * refine
        narrowed = ensure_min_partitions(
            queries.select(*query_id_cols, query_vec_col)
        )

        def survivors(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ids, cds, cbk = b_ids.value, b_codes.value, b_cb.value
            ns, nc, sd = cbk.shape
            for pdf in batches:
                if pdf.empty:
                    continue
                q = np.array(pdf[query_vec_col].to_list(), dtype=np.float64)
                nq = len(q)
                if q.shape[1] != ns * sd:
                    raise ValueError(
                        f"pq_topk: query vectors are {q.shape[1]}-dim but the "
                        f"codebooks cover {ns * sd} dims (pass dim=/codebooks=)"
                    )
                adc = np.zeros((nq, len(ids)))
                for s in range(ns):
                    lut = q[:, s * sd : (s + 1) * sd] @ cbk[s].T  # (nq, n_codes)
                    adc += lut[:, cds[:, s]]
                top = min(cut, len(ids))
                # ADC cut ties broken by ascending ref id, the window's order
                chosen = _top_cols(adc, ids, top)
                out = {c: np.repeat(pdf[c].to_numpy(), top) for c in query_id_cols}
                out["ref_id"] = ids[chosen].ravel()
                yield pd.DataFrame(out)

        surv = narrowed.mapInPandas(survivors, schema=out_schema)
    return _rescore_survivors(
        surv, queries, reference, k, query_id_cols, ref_id_col, query_vec_col, ref_vec_col
    )


def _rescore_survivors(
    surv: DataFrame,
    queries: DataFrame,
    reference: DataFrame,
    k: int,
    query_id_cols: Sequence[str],
    ref_id_col: str,
    query_vec_col: str,
    ref_vec_col: str,
) -> DataFrame:
    """Exact cosine top-k of the (query ids, ``ref_id``) survivors of a
    compressed-code cut: the PQ rungs' shared tail.

    Broadcast the SURVIVOR side (bounded at |Q| * k * refine id rows by
    construction), never the raw reference vectors: the corpus is the
    100-TB side and must stay a streamed scan. The join then touches raw
    vectors only for the survivors, which is the whole premise of the
    PQ-then-exact-rescore design."""
    ref = reference.select(
        F.col(ref_id_col).alias("ref_id"), F.col(ref_vec_col).alias("_ref_vec")
    )
    rescored = ref.join(F.broadcast(surv), "ref_id").join(
        queries.select(*query_id_cols, query_vec_col), list(query_id_cols)
    )
    scored = rescored.withColumn(
        "score", cosine_expr(F.col(query_vec_col), F.col("_ref_vec"))
    )
    return _rank_tail(scored, query_id_cols, k).drop("_ref_vec", query_vec_col)


def mmr_rerank(
    candidates: DataFrame,
    reference: DataFrame,
    k: int = 3,
    lam: float = 0.7,
    query_id_cols: Sequence[str] = ("vec_id",),
    ref_id_col: str = "vec_id",
    ref_vec_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998) —
    the diversification pass RAG retrieval needs: plain top-k returns
    near-duplicate passages; MMR greedily picks the candidate maximizing
    ``lam * relevance - (1 - lam) * max_cosine_to_already_selected``, so
    redundant candidates are penalized exactly by their similarity to
    what is already in the answer set.

    Inputs: ``candidates`` = any strategy's top-pool (query ids, ref_id,
    relevance score — run the base ANN with a pool a few times ``k``);
    ``reference`` supplies candidate vectors. Scale shape: one
    candidate-proportional equi-join to attach vectors (the pool is
    |Q| * pool_k rows, never the corpus), then ONE ``applyInPandas``
    grouped by query — each group is a pool_k-row greedy loop, pure
    numpy, embarrassingly parallel across queries. Ties break by
    ascending ref_id at every step (same contract as the top-k window),
    and the first pick's penalty term is 0, so ``mmr_score`` of rank 1 is
    ``lam * score``.

    Returns (query ids, ref_id, score, mmr_score, mmr_rank) — scores as
    raw doubles (round at the consumer; both engines' round semantics
    then agree).
    """
    qcols = list(query_id_cols)
    ref = reference.select(
        F.col(ref_id_col).alias("ref_id"), F.col(ref_vec_col).alias("_rv")
    )
    # null relevance (zero-norm vectors) is droppable, not rankable: a NaN
    # would otherwise poison the greedy argmax (NaN comparisons are all
    # False) and seat a garbage candidate at rank 1
    pool = candidates.filter(F.col(score_col).isNotNull()).join(ref, "ref_id")

    out_schema = T.StructType(
        [
            *[candidates.schema[c] for c in qcols],
            T.StructField("ref_id", candidates.schema["ref_id"].dataType),
            T.StructField("score", T.DoubleType()),
            T.StructField("mmr_score", T.DoubleType()),
            T.StructField("mmr_rank", T.IntegerType()),
        ]
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        vecs = np.array(pdf["_rv"].to_list(), dtype=np.float64)
        norms = np.linalg.norm(vecs, axis=1)
        scores = pdf[score_col].to_numpy(dtype=np.float64)
        ids = pdf["ref_id"].to_numpy()
        # ONE pool x pool similarity matrix per group (BLAS), then a
        # running max-sim vector per pick — O(pool^2 d) once + O(k * pool)
        # updates, vs per-pair Python dots in the loop (measured concern
        # at pool=32, k=10 over millions of queries). Same arithmetic as
        # the oracle: dot / (norm_i * norm_j), zero-norm pairs -> 0.
        denom = np.outer(norms, norms)
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = np.where(denom > 0, (vecs @ vecs.T) / denom, 0.0)
        order = np.lexsort((ids,))  # id order: np.argmax's first-max tie-break
        remaining = list(order)
        # maxsim starts as None, NOT zeros: cosine penalties can be
        # NEGATIVE, and a zero floor would silently erase them (the first
        # pick's penalty is 0 by definition; later picks take the true
        # running max, whatever its sign)
        maxsim = None
        rows = []
        while remaining and len(rows) < k:
            penalty = maxsim if maxsim is not None else np.zeros(len(ids))
            m = lam * scores - (1.0 - lam) * penalty
            ridx = np.array(remaining)
            best_i = int(ridx[np.argmax(m[ridx])])  # first max = lowest id
            remaining.remove(best_i)
            col = sim[:, best_i]
            maxsim = col.copy() if maxsim is None else np.maximum(maxsim, col)
            rows.append(
                {
                    **{c: pdf.iloc[0][c] for c in qcols},
                    "ref_id": ids[best_i],
                    "score": float(scores[best_i]),
                    # raw double: Python's round() is banker's rounding —
                    # callers round with F.round (SQL semantics) instead
                    "mmr_score": float(m[best_i]),
                    "mmr_rank": len(rows) + 1,
                }
            )
        return pd.DataFrame(rows, columns=[*qcols, "ref_id", "score", "mmr_score", "mmr_rank"])

    return pool.groupBy(*qcols).applyInPandas(pick, schema=out_schema)


def ivfpq_topk(
    queries: DataFrame,
    reference: DataFrame,
    k: int,
    query_id_cols: Sequence[str],
    ref_id_col: str,
    query_vec_col: str = "embedding",
    ref_vec_col: str = "embedding",
    n_lists: int = 8,
    n_probe: int = 2,
    n_sub: int = 8,
    n_codes: int = 16,
    refine: int = 4,
    seed_lists: int = 11,
    seed_cb: int = 23,
    dim: int = 64,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """IVF-PQ: the composite index (FAISS's workhorse) that fixes BOTH
    parents' scale ceilings at once.

    - Plain PQ broadcasts the full codes matrix (n_refs x n_sub bytes):
      at 10^9+ vectors even 32x-compressed codes outgrow a broadcast.
      Here codes live in a DATAFRAME keyed by inverted-list id — never
      collected, never broadcast.
    - Plain IVF rescores every probed candidate with full-width vectors.
      Here probed candidates are scored by ADC over 8-byte codes first,
      and raw vectors are touched only for the ``k * refine`` survivors.

    Plan shape: list assignment and probing are native expressions over
    centroid literals (one equi-join on list id restricts candidates to
    ``n_probe / n_lists`` of the corpus); ADC is one Arrow pass over the
    join output (per-batch LUT einsum + take_along_axis — no per-row
    Python); the exact rescore broadcasts the SURVIVOR ids against the
    reference scan (the r7 PQ-rescore contract). Every shuffle is an
    equi-join or a per-query window — nothing quadratic, nothing
    collected beyond k*refine ids per query.

    Seeded centroids/codebooks (the default) make the whole pipeline —
    assignment, encoding, probing, ADC cut, rescore — replayable by a
    generated DuckDB oracle; pass trained ``centroids=`` /
    ``codebooks=`` (e.g. :func:`train_subcodebooks`) for recall.
    """
    cents = seeded_centroids(dim, n_lists, seed_lists) if centroids is None else centroids
    cb = (
        seeded_subcentroids(dim, n_sub, n_codes, seed_cb)
        if codebooks is None
        else codebooks
    )
    # user-supplied geometry must satisfy the spherical contracts the
    # native assignment/encode paths assume: list assignment and PQ
    # encode both pick by MAX DOT, which equals L2-nearest only on
    # unit-norm centroids (train_subcodebooks produces these; plain
    # k-means centers would silently bias toward large norms)
    if centroids is not None and not np.allclose(
        np.linalg.norm(np.asarray(cents), axis=1), 1.0, atol=1e-6
    ):
        raise ValueError(
            "ivfpq_topk: centroids must be unit-norm (spherical max-dot "
            "assignment); normalize rows or use seeded_centroids"
        )
    if cb.shape != (n_sub, n_codes, dim // n_sub):
        raise ValueError(
            f"ivfpq_topk: codebooks shape {cb.shape} != "
            f"({n_sub}, {n_codes}, {dim // n_sub}) from n_sub/n_codes/dim"
        )
    if codebooks is not None and not np.allclose(
        np.linalg.norm(cb, axis=2), 1.0, atol=1e-6
    ):
        raise ValueError(
            "ivfpq_topk: sub-codebooks must be unit-norm (max-dot encode); "
            "train_subcodebooks/seeded_subcentroids produce these"
        )
    cents_list = [c.tolist() for c in cents]

    sc = queries.sparkSession.sparkContext
    b_cb = sc.broadcast(cb)

    # --- index build: (list_id, ref_id, code) — distributed, one pass ---
    ref_assigned = reference.select(
        F.col(ref_id_col).alias("ref_id"),
        F.col(ref_vec_col).alias("_rv"),
        F.element_at(
            _nearest_lists_expr(F.col(ref_vec_col), cents_list, True, 1), 1
        ).alias("lid"),
    )
    enc_schema = T.StructType(
        [
            T.StructField("ref_id", reference.schema[ref_id_col].dataType),
            T.StructField("lid", T.IntegerType()),
            T.StructField("code", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cbk = b_cb.value
        ns, _nc, sd = cbk.shape
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(pdf["_rv"].to_list(), dtype=np.float64)
            if mat.shape[1] != ns * sd:
                raise ValueError(
                    f"ivfpq_topk: vectors are {mat.shape[1]}-dim but the "
                    f"codebooks cover {ns * sd} dims"
                )
            code = np.empty((len(mat), ns), dtype=np.int64)
            for s in range(ns):
                code[:, s] = np.argmax(mat[:, s * sd : (s + 1) * sd] @ cbk[s].T, axis=1)
            out = pd.DataFrame(
                {"ref_id": pdf["ref_id"].to_numpy(), "lid": pdf["lid"].to_numpy()}
            )
            out["code"] = list(code)
            yield out

    index = ensure_min_partitions(ref_assigned).mapInPandas(encode, schema=enc_schema)

    # --- query: probe n_probe lists, equi-join the code table ---
    q_probed = ensure_min_partitions(
        queries.select(*query_id_cols, query_vec_col)
    ).select(
        *query_id_cols,
        query_vec_col,
        F.explode(
            _nearest_lists_expr(F.col(query_vec_col), cents_list, True, n_probe)
        ).alias("lid"),
    )
    cand = q_probed.join(index, "lid")

    adc_schema = T.StructType(
        [
            *[queries.schema[c] for c in query_id_cols],
            T.StructField("ref_id", reference.schema[ref_id_col].dataType),
            T.StructField("_adc", T.DoubleType()),
        ]
    )

    def adc_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cbk = b_cb.value
        ns, _nc, sd = cbk.shape
        for pdf in batches:
            if pdf.empty:
                continue
            # the join emits one row per (query, candidate): build each
            # query's LUT ONCE (factorize to unique queries), then gather
            # per candidate — c candidates per query cost c lookups, not
            # c LUT matmuls
            if len(query_id_cols) == 1:
                key = pdf[query_id_cols[0]]
            else:
                key = pd.Series(
                    list(zip(*[pdf[c] for c in query_id_cols])), index=pdf.index
                )
            qcode, _uniques = pd.factorize(key)
            _, first_pos = np.unique(qcode, return_index=True)
            qu = np.array(
                pdf[query_vec_col].iloc[first_pos].to_list(), dtype=np.float64
            )
            # first_pos is sorted by unique VALUE (0..nu-1 here since
            # factorize codes are dense in first-appearance order)
            codes = np.array(pdf["code"].to_list(), dtype=np.int64)  # (n, ns)
            adc = np.zeros(len(pdf))
            for s in range(ns):
                lut = qu[:, s * sd : (s + 1) * sd] @ cbk[s].T  # (nu, n_codes)
                adc += lut[qcode, codes[:, s]]
            out = {c: pdf[c].to_numpy() for c in query_id_cols}
            out["ref_id"] = pdf["ref_id"].to_numpy()
            out["_adc"] = adc
            yield pd.DataFrame(out)

    scored_cands = cand.mapInPandas(adc_batches, schema=adc_schema)
    surv = _rank_tail(
        scored_cands, query_id_cols, k * refine, score="_adc", rank="_arank"
    ).select(*query_id_cols, "ref_id")
    return _rescore_survivors(
        surv, queries, reference, k, query_id_cols, ref_id_col, query_vec_col, ref_vec_col
    )


def hard_negatives_topk(
    queries: DataFrame,
    reference: DataFrame,
    k: int,
    query_id_cols: Sequence[str],
    ref_id_col: str,
    lo: float = 0.30,
    hi: float = 0.90,
    query_vec_col: str = "embedding",
    ref_vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k reference neighbors whose cosine lands in the
    [lo, hi) band — similar enough to be informative negatives, below
    the near-duplicate ceiling that would make them false negatives
    (the standard dense-retrieval / contrastive-pair recipe; hi is the
    same kind of threshold the dedup ladder uses as a DUP floor).

    Physically this is the join rung's broadcast-reference exact scorer
    (:func:`_broadcast_pairs` — norms hoisted per side, per-pair work
    one dot product) with the band filter applied BEFORE
    the per-query window, so banded-out pairs never enter the rank
    shuffle. Banding and ranking use the 6dp-ROUNDED score: the band
    edge and tie decisions are then identical across engines (raw
    doubles differ in summation order at the last ulp).

    Scale path: swap the exact scorer for any rung of the ANN ladder
    (LSH/IVF) upstream — the band filter and window are unchanged.

    Returns (query ids, ref_id, score, rank ≤ k)."""
    scored = (
        _broadcast_pairs(queries, reference, ref_id_col, query_vec_col, ref_vec_col)
        .withColumn("score", F.round("score", 6))
        .filter((F.col("score") >= lo) & (F.col("score") < hi))
        .drop("_has_dir")
    )
    return _rank_tail(scored, query_id_cols, k).drop(query_vec_col)


def silhouette_seeded(
    df: DataFrame,
    dim: int = 64,
    n_lists: int = 8,
    seed: int = 11,
    vec_col: str = "embedding",
) -> DataFrame:
    """Simplified (centroid-distance) silhouette over the SEEDED
    centroid set the IVF family uses: per vector, a = cosine distance
    to its nearest centroid, b = distance to the second-nearest,
    s = (b − a)/max(a, b) — the cluster-quality gauge that tells you
    whether the IVF list count actually fits the corpus geometry
    before you commit the index layout.

    Centroid-distance silhouette (Pampalk's simplified variant), not
    the pairwise-point original: the classic needs all intra/inter
    pair distances (quadratic); against fixed centroids it is ONE
    narrow projection — exactly the statistic that scales and exactly
    what an IVF layout decision needs.

    Plan: per-row struct-array sort over n_lists literal dot products
    (whole-stage codegen, zero shuffle), then a list-grain fold.
    Returns (list_id, n, avg_silhouette), 6dp; ties between equidistant
    centroids break to the lower list id (the IVF assignment rule);
    degenerate a=b=0 rows degrade to NULL and drop from the average."""
    cents = seeded_centroids(dim, n_lists, seed)
    v = F.col(vec_col)
    vnorm = norm_expr(v)
    dists = F.array_sort(
        F.array(
            *[
                F.struct(
                    (
                        1.0
                        - F.try_divide(
                            dot_expr(
                                v,
                                F.array(
                                    *[F.lit(float(x)) for x in c]
                                ),
                            ),
                            vnorm,
                        )
                    ).alias("d"),
                    F.lit(i).alias("lid"),
                )
                for i, c in enumerate(cents)
            ]
        )
    )
    a = F.col("_ds")[0]["d"]
    b = F.col("_ds")[1]["d"]
    lid = F.col("_ds")[0]["lid"]
    scored = df.select(dists.alias("_ds")).select(
        lid.alias("list_id"),
        F.try_divide(b - a, F.greatest(a, b)).alias("s"),
    )
    return scored.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("s"), 6).alias("avg_silhouette"),
    )


def sql_silhouette_seeded(
    dim: int = 64,
    n_lists: int = 8,
    seed: int = 11,
    table: str = "embeddings",
) -> str:
    """DuckDB replay of :func:`silhouette_seeded`: the SAME seeded
    centroids as float literals in per-centroid UNION branches (the
    _ivf_topk_oracle technique), distances ranked (d ASC, lid) per
    vector, a = rank 1, b = rank 2."""
    cents = seeded_centroids(dim, n_lists, seed)
    parts = []
    for i, c in enumerate(cents):
        lit = "[" + ", ".join(repr(float(x)) for x in c) + "]"
        parts.append(
            f"SELECT vec_id, {i} AS lid,\n"
            f"       1.0 - list_dot_product(e, {lit})\n"
            f"             / NULLIF(sqrt(list_dot_product(e, e)), 0.0) AS d\n"
            f"  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e\n"
            f"        FROM {table})"
        )
    branches = "\n    UNION ALL\n    ".join(parts)
    return f"""
    WITH dists AS (
        {branches}
    ), ranked AS (
        SELECT vec_id, lid, d,
            row_number() OVER (PARTITION BY vec_id ORDER BY d, lid) AS rn
        FROM dists
    ), ab AS (
        SELECT a.vec_id, a.lid AS list_id, a.d AS a_d, b.d AS b_d
        FROM ranked a JOIN ranked b
            ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2
    )
    SELECT list_id, count(*) AS n,
        round(avg((b_d - a_d) / NULLIF(greatest(a_d, b_d), 0.0)), 6)
            AS avg_silhouette
    FROM ab
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# impl='auto': the top-k ladder routed on the reference alone
# ---------------------------------------------------------------------------


def choose_similarity_impl(n_queries: int, n_refs: int, dim: int) -> str:
    """The rung ``similarity_topk(impl='auto')`` takes for a reference of
    ``n_refs`` x ``dim``, as a pure function: ``'blocked'`` inside the
    broadcast budget (one resident matrix + BLAS matmul per Arrow batch,
    zero shuffle), ``'ivf'`` past it (nothing full-width is broadcast;
    candidates come from a list-id equi-join, the only rung whose contract
    survives a reference that outgrows executor memory).

    ``n_queries`` is not read: routing never counts the queries. It stays
    because perfbench's workloads call this positionally."""
    return "ivf" if _over_budget(n_refs, dim) else "blocked"


def similarity_topk(
    queries: DataFrame,
    reference: DataFrame,
    k: int,
    query_id_cols: Sequence[str],
    ref_id_col: str,
    query_vec_col: str = "embedding",
    ref_vec_col: str = "embedding",
    impl: str = "auto",
    n_lists: int = 16,
    n_probe: int = 2,
    seed: int = 7,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """One logical top-k cosine operator over the ladder's rungs
    (``impl='join'|'blocked'|'ivf'``).

    ``impl='auto'`` routes on the reference alone, as
    ``map_labels_to_reference`` does: it reads the reference's resident
    state once (:func:`resident_reference` — the pin, else one stats
    aggregate and, inside the broadcast budget, one collect), scores on
    the blocked rung from that state inside the budget and takes IVF past
    it (the rule :func:`choose_similarity_impl` states). The queries are
    never counted.

    The exact rungs return identical rows (hash-proven against one
    oracle); the IVF rung is approximate — auto only reaches it past
    broadcast scale, where exact is off the table anyway.
    """
    if impl == "auto":
        state = resident_reference(reference, ref_id_col, ref_vec_col)
        # the chosen rung reads the state just built instead of the reference
        with _held(reference, state):
            return similarity_topk(
                queries, reference, k, query_id_cols, ref_id_col,
                query_vec_col=query_vec_col, ref_vec_col=ref_vec_col,
                impl="ivf" if state.ids is None else "blocked",
                n_lists=n_lists, n_probe=n_probe, seed=seed, centroids=centroids,
            )
    if impl == "join":
        return top_k_similarity_join(
            queries, reference, k, query_id_cols, ref_id_col,
            query_vec_col=query_vec_col, ref_vec_col=ref_vec_col,
        )
    if impl == "blocked":
        return top_k_similarity_blocked(
            queries, reference, k, query_id_cols, ref_id_col,
            query_vec_col=query_vec_col, ref_vec_col=ref_vec_col,
        )
    if impl == "ivf":
        return ivf_topk(
            queries, reference, k, query_id_cols, ref_id_col,
            query_vec_col=query_vec_col, ref_vec_col=ref_vec_col,
            n_lists=n_lists, n_probe=n_probe, seed=seed,
            centroids=centroids,
        )
    raise ValueError(f"unknown impl {impl!r}")


# ---------------------------------------------------------------------------
# r13 (verdict #6): the HNSW rung — driver-built graph, broadcast probe
# ---------------------------------------------------------------------------
#
# SCALING.md's standing argument holds: HNSW's QUERY path is sequential
# pointer-chasing through a neighbor graph — the opposite of Spark's
# bulk-synchronous immutable scans — so there is no distributed-native
# formulation worth pretending at.  What IS Spark-shaped is the
# IVF-indexed precedent: build the index ONCE on the driver over a
# broadcast-sized reference, ship it to executors as a read-only
# broadcast, and stream queries through mapInPandas.  That is exactly
# the regime HNSW serves (reference fits one machine, query volume is
# the scale axis), so the rung ships in that shape: numpy-only
# construction (no hnswlib in the container), deterministic under
# (seed, insertion order), recall gauged against the exact rung.


def hnsw_build_index(
    ref_unit: np.ndarray,
    m: int = 8,
    ef_construction: int = 64,
    seed: int = 7,
) -> dict:
    """Construct an HNSW graph (Malkov & Yashunin 2016, simplified
    neighbor selection: top-M by similarity, no diversity heuristic)
    over L2-NORMALIZED reference rows.  Returns {"layers": [adj0,
    adj1, ...], "entry": int, "m": int} where adj is a list of int
    arrays (adj[i] = neighbors of node i on that layer; nodes absent
    from a layer carry None).  Deterministic: layer draws come from a
    seeded Generator, and every candidate ordering ties on ascending
    node id."""
    rng = np.random.default_rng(seed)
    n = ref_unit.shape[0]
    ml = 1.0 / np.log(m)
    levels = np.minimum(
        (-np.log(rng.random(n)) * ml).astype(np.int64), 32
    )
    max_level = -1
    entry = -1
    layers: list[list] = []

    def _search_layer(q, ep, ef, adj):
        """Beam search on one layer from entry points ``ep`` —
        returns candidate ids sorted best-first.  Heap-based (r13
        review of the first cut: list re-sorts + min() scans inside
        the expansion loop made construction O(ef²)-ish — 9.1 s →
        ~2 s for the 1.8k-vector build).  Tie determinism: candidates
        pop by (-sim, id); the beam evicts by (sim, -id), i.e. equal
        similarities evict the LARGER id — identical to the previous
        (-sim, id) top-ef cut."""
        import heapq

        visited = set(ep)
        sims = {c: float(ref_unit[c] @ q) for c in ep}
        cand = [(-sims[c], c) for c in ep]
        heapq.heapify(cand)
        beam = [(sims[c], -c) for c in ep]
        heapq.heapify(beam)
        while len(beam) > ef:
            heapq.heappop(beam)
        while cand:
            negs, c = heapq.heappop(cand)
            if len(beam) >= ef and -negs < beam[0][0]:
                break
            for nb in adj[c]:
                nb = int(nb)
                if nb in visited:
                    continue
                visited.add(nb)
                s = float(ref_unit[nb] @ q)
                sims[nb] = s
                if len(beam) < ef or s > beam[0][0]:
                    heapq.heappush(cand, (-s, nb))
                    heapq.heappush(beam, (s, -nb))
                    if len(beam) > ef:
                        heapq.heappop(beam)
        best = sorted((b for b in beam), key=lambda x: (-x[0], -x[1]))
        return [-b[1] for b in best], sims

    for i in range(n):
        li = int(levels[i])
        while len(layers) <= li:
            layers.append([None] * n)
        for lvl in range(li + 1):
            if layers[lvl][i] is None:
                layers[lvl][i] = []
        if entry < 0:
            entry, max_level = i, li
            continue
        q = ref_unit[i]
        ep = [entry]
        # greedy descent through layers above the node's level
        for lvl in range(max_level, li, -1):
            found, _ = _search_layer(q, ep, 1, layers[lvl])
            ep = found[:1] or ep
        # connect on each shared layer
        for lvl in range(min(li, max_level), -1, -1):
            cand, sims = _search_layer(
                q, ep, ef_construction, layers[lvl]
            )
            m_max = m if lvl > 0 else 2 * m
            nbrs = cand[:m]
            layers[lvl][i] = list(nbrs)
            for nb in nbrs:
                lst = layers[lvl][nb]
                lst.append(i)
                if len(lst) > m_max:
                    # prune to the m_max most-similar (to nb), id ties asc
                    ns = ref_unit[lst] @ ref_unit[nb]
                    order = np.lexsort((np.array(lst), -ns))
                    layers[lvl][nb] = [lst[j] for j in order[:m_max]]
            ep = cand[:1] or ep
        if li > max_level:
            max_level, entry = li, i
    packed = [
        [np.asarray(a, dtype=np.int64) if a is not None else None
         for a in layer]
        for layer in layers
    ]
    return {"layers": packed, "entry": int(entry), "m": int(m)}


def _hnsw_search(index: dict, ref_unit: np.ndarray, q: np.ndarray,
                 k: int, ef_search: int) -> list[int]:
    layers = index["layers"]
    ep = [index["entry"]]
    sims = {}

    def sim(c):
        if c not in sims:
            sims[c] = float(ref_unit[c] @ q)
        return sims[c]

    for lvl in range(len(layers) - 1, 0, -1):
        adj = layers[lvl]
        improved = True
        cur = ep[0]
        while improved:
            improved = False
            if adj[cur] is None:
                break
            for nb in adj[cur]:
                nb = int(nb)
                if sim(nb) > sim(cur) or (
                    sim(nb) == sim(cur) and nb < cur
                ):
                    cur, improved = nb, True
        ep = [cur]
    import heapq

    adj0 = layers[0]
    visited = set(ep)
    cand = [(-sim(c), c) for c in ep]
    heapq.heapify(cand)
    beam = [(sim(c), -c) for c in ep]
    heapq.heapify(beam)
    while len(beam) > ef_search:
        heapq.heappop(beam)
    while cand:
        negs, c = heapq.heappop(cand)
        if len(beam) >= ef_search and -negs < beam[0][0]:
            break
        if adj0[c] is None:
            continue
        for nb in adj0[c]:
            nb = int(nb)
            if nb in visited:
                continue
            visited.add(nb)
            s = sim(nb)
            if len(beam) < ef_search or s > beam[0][0]:
                heapq.heappush(cand, (-s, nb))
                heapq.heappush(beam, (s, -nb))
                if len(beam) > ef_search:
                    heapq.heappop(beam)
    best = sorted(beam, key=lambda x: (-x[0], -x[1]))
    return [-b[1] for b in best[:k]]


def hnsw_topk(
    queries: DataFrame,
    reference: DataFrame,
    k: int,
    query_id_cols: Sequence[str],
    ref_id_col: str,
    query_vec_col: str = "embedding",
    ref_vec_col: str = "embedding",
    m: int = 8,
    ef_construction: int = 64,
    ef_search: int = 48,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k via the driver-built HNSW graph: read the
    reference's ids and unit matrix from :func:`resident_reference`
    (bounded by the broadcast budget — the same contract as the exact
    blocked rung; no reference job on a :func:`pin_reference` pin),
    build the graph on the driver in ascending-id insertion order,
    broadcast it with that permutation, and probe per Arrow batch inside
    ``mapInPandas`` — zero shuffle, linear in query count, O(ef·log
    c)-ish distance evaluations per query instead of the blocked rung's
    O(c) flops.

    Not SQL-replayable (graph construction has no relational replay),
    so the registry gates it with the recall-envelope pattern
    (`cos_topk_hnsw`): exact spine hash-matched, recall bound asserted
    as a boolean — the `distinct_users_sketch` precedent."""
    b_ids, b_unit = resident_reference(reference, ref_id_col, ref_vec_col).broadcasts(
        "hnsw_topk"
    )
    order = np.argsort(b_ids.value)  # deterministic insertion order
    index = hnsw_build_index(
        b_unit.value[order], m=m, ef_construction=ef_construction, seed=seed
    )
    b_index = queries.sparkSession.sparkContext.broadcast({**index, "order": order})

    id_fields = [queries.schema[c] for c in query_id_cols]
    out_schema = T.StructType(
        [*id_fields]
        + [
            T.StructField("ref_id", reference.schema[ref_id_col].dataType),
            T.StructField("score", T.DoubleType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )
    narrowed = ensure_min_partitions(
        queries.select(*query_id_cols, query_vec_col)
    )
    kk, efs = k, ef_search

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx = b_index.value
        # graph node i is the reference row order[i]
        ids = b_ids.value[idx["order"]]
        unit = b_unit.value[idx["order"]]
        for pdf in batches:
            if pdf.empty:
                continue
            out_rows: dict[str, list] = {c: [] for c in query_id_cols}
            out_rows.update({"ref_id": [], "score": [], "rank": []})
            # column-wise access (guide §4.2): iterrows allocated a pandas
            # Series per query row, which dominated the per-row cost around
            # the O(ef·log c) graph walk; same values, same order.
            id_vals = {c: pdf[c].to_numpy() for c in query_id_cols}
            vecs = pdf[query_vec_col].to_numpy()
            for i in range(len(pdf)):
                q = np.asarray(vecs[i], dtype=np.float64)
                qn = np.linalg.norm(q)
                q = q / qn if qn else q
                found = _hnsw_search(idx, unit, q, kk, efs)
                # exact rank order within the found set: (-score, id)
                scs = unit[found] @ q
                o = np.lexsort((ids[found], -scs))
                for r, j in enumerate(o[:kk], start=1):
                    for c in query_id_cols:
                        out_rows[c].append(id_vals[c][i])
                    out_rows["ref_id"].append(ids[found[j]])
                    out_rows["score"].append(float(scs[j]))
                    out_rows["rank"].append(r)
            yield pd.DataFrame(out_rows)

    return narrowed.mapInPandas(probe, schema=out_schema)
