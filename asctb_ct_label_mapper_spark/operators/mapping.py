"""The flagship mapping pipeline: raw labels -> ASCT+B translation report.

Reference: ``map_raw_labels_to_asctb`` (main.py:171-221) — a per-label Python
loop calling ``get_top_k_asctb_label_matches`` (main.py:67-100), scattering
results with masked writes (main.py:206-211), then
``overwrite_exact_asctb_matches`` (main.py:126-166).

Engine: ONE lazy DataFrame plan (SURVEY §3.2), routed on the reference
alone. Inside the broadcast budget the cosine top-k (J3/F13), top-k (A1),
rank pivot (A2) and exact overwrite (J1, J2) are one ``mapInPandas``
that scores each Arrow batch against the reference's resident unit
matrix and writes the finished report rows from its resident table:

    LocalTableScan -> [Coalesce] -> clean (F8) -> encode (F12) -> MapInPandas

so a call on a ``reference_projection`` handle with a list of labels is
one Spark job of one stage, one task per ``LABELS_PER_TASK`` labels.
Past the budget the approximate IVF rung runs relationally:

    seed -> clean -> encode -> IVF top-k -> payload join -> pivot (A2)
         -> exact-overwrite left join (J1) + rank>1 null-out (J2)

Divergences from the reference, both deliberate (SURVEY §4 item 3):
- tie-breaking is deterministic (ORDER BY score DESC, CT_ID ASC) where the
  reference inherits argsort order (main.py:91);
- when several reference rows share a cleaned name, the exact-overwrite
  picks the minimum CT_ID, where the reference takes ``.values[0]`` —
  an arbitrary row (main.py:119; collisions are real in the golden CSV).

The DEFAULT cleaner is the full six-step pipeline (``clean_text_full_udf``)
matching the reference's ``execute_nlp_pipeline`` (nlp_preprocessing.py:
42-70) — plural labels ('basal cells') exact-match singular CT_NAMEs
('basal cell') via the rstrip('s') step, as the reference does (ADVICE r4).
Pass ``clean=clean_text_expr`` for the codegen-only fast path when the
corpus has no contractions/numerics/plural variance.
"""

from __future__ import annotations

import weakref
from contextlib import contextmanager
from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from asctb_ct_label_mapper_spark.functions.nlp import clean_text_full_udf
from asctb_ct_label_mapper_spark.functions.vector import stub_encode_udf
from asctb_ct_label_mapper_spark.operators.similarity import (
    ResidentReference,
    _held,
    pin_reference,
    resident_reference,
    similarity_topk,
    top_k_rows,
)
# not called here: perfbench/run.py traces these names on this module
from asctb_ct_label_mapper_spark.operators.similarity import (  # noqa: F401
    choose_similarity_impl,
    top_k_similarity_join,
)

Encoder = Callable[[Column], Column]

# The narrowed reference projection every mapping consumer reads.
_REF_PROJ_COLS = (
    "CT_ID", "CT_NAME", "definition", "all_text", "ct_name_cleaned", "embedding"
)
_QUERY_COLS = ("source", "raw_input_label", "cleaned_input_label")
# reference columns the report writer keeps resident
_PAYLOAD_COLS = ("CT_NAME", "all_text", "definition", "ct_name_cleaned")

# Distinct labels per task of a driver-local seed. A task costs ~35-40 ms
# of CPU whatever its size (a JVM launch and two Python runners, 4 cores),
# more than 16 labels' clean, encode and score. 256 was chosen from a
# noise band: 64 to 512 measured within noise of each other on
# ``map_many_small`` (SCALING.md, "Flagship: label seed width follows
# rows").
LABELS_PER_TASK = 256

# seeds ``label_seed`` built: already distinct, taken as they are
_SEEDS: weakref.WeakSet = weakref.WeakSet()


def _is_persisted(df: DataFrame) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


@contextmanager
def reference_projection(reference: DataFrame):
    """Persist the narrowed reference projection for one or many
    ``map_labels_to_reference`` calls and keep it resident, releasing it
    deterministically on exit — the handle multi-organ loops need so
    per-call cache entries don't accumulate executor memory:

        with reference_projection(reference) as ref:
            for organ_labels in organs:
                map_labels_to_reference(organ_labels, ref, ...).write...

    Entry runs one stats job and, for a broadcast-sized reference, one
    collect, once: the ids, the L2-normalised matrix and the report
    writer's table (:func:`_report_table`), all broadcast. Each call then
    writes its report from those broadcasts, so building a report runs no
    job on the reference; a list of labels maps in one job of one stage.
    A reference past the budget is never collected: the handle keeps its
    count and dim only, and calls route to IVF. Exit destroys the
    broadcasts and unpersists.

    Results must be MATERIALIZED inside the block (the lazy plans read the
    cache and the broadcasts)."""
    proj = reference.select(*_REF_PROJ_COLS).persist()
    try:
        with pin_reference(
            proj, "CT_ID", payload_cols=_PAYLOAD_COLS, payload=_report_table
        ):
            yield proj
    finally:
        proj.unpersist()


def _report_table(cols: dict[str, np.ndarray]) -> tuple:
    """The report writer's table from a reference's resident
    collect: ``CT_ID``, ``CT_NAME``, ``all_text`` and ``definition``
    row-aligned with the unit matrix, each with a trailing None that index
    -1 reads, and the exact-match table {``ct_name_cleaned``: row of its
    min ``CT_ID``}, as ``overwrite_exact_matches`` resolves collisions."""
    ids = cols["CT_ID"]
    exact: dict = {}
    for i, name in enumerate(cols["ct_name_cleaned"]):
        if name is not None and (name not in exact or ids[i] < ids[exact[name]]):
            exact[name] = i
    return tuple(
        np.append(cols[c].astype(object), None)
        for c in ("CT_ID", "CT_NAME", "all_text", "definition")
    ) + (exact,)


def _local_seed(spark: SparkSession, table: pa.Table) -> DataFrame:
    """A ``LocalTableScan`` of the distinct (source, raw_input_label)
    rows in ``table``, coalesced to ``ceil(rows / LABELS_PER_TASK)``
    partitions where that is narrower than the scan's own ``min(rows,
    defaultParallelism)``. The coalesce is narrow, so the call stays one
    stage; an empty table keeps its empty scan."""
    seed = spark.createDataFrame(table)
    rows = table.num_rows
    cores = spark.sparkContext.defaultParallelism
    width = min(-(-rows // LABELS_PER_TASK), cores)
    if width < min(rows, cores):
        seed = seed.coalesce(width)
    return seed


def label_seed(spark: SparkSession, source: str, labels: Iterable) -> DataFrame:
    """The (source, raw_input_label) seed of a driver-local list of
    labels: ``str(x)`` per element (so ``None`` is the label 'None'),
    deduplicated in first-occurrence order into one Arrow table, which
    plans as a ``LocalTableScan`` the JVM reads, one task per
    ``LABELS_PER_TASK`` labels (:func:`_local_seed`).
    :func:`map_labels_to_reference` takes it as it is, with no second
    dedup."""
    texts = list(dict.fromkeys(str(x) for x in labels))
    seed = _local_seed(
        spark,
        pa.table(
            {
                "source": pa.array([source] * len(texts), pa.string()),
                "raw_input_label": pa.array(texts, pa.string()),
            }
        ),
    )
    _SEEDS.add(seed)
    return seed


def _distinct_labels(labels: DataFrame) -> DataFrame:
    """The distinct (source, raw_input_label) rows. A seed of
    :func:`label_seed` (what ``map_raw_labels`` builds from a list) is
    already distinct and is taken as it is. Any other driver-local
    relation (``isLocal``) is deduplicated on the driver — collecting it
    runs no job — and comes back as a :func:`_local_seed` of the distinct
    rows. Any other frame is hash-repartitioned to the session's
    parallelism and deduplicated above that one Exchange, so the matmul
    downstream runs that many tasks wide and building the plan runs no
    job. The hash is on the label alone: it still clusters every (source,
    label) pair, and a literal ``source`` folded into the partitioning
    would not, so Spark would plan a second Exchange for the aggregate."""
    if labels in _SEEDS:
        return labels
    pairs = labels.select("source", "raw_input_label")
    if not labels.isLocal():
        width = labels.sparkSession.sparkContext.defaultParallelism
        return pairs.repartition(width, "raw_input_label").dropDuplicates()
    rows = list(dict.fromkeys(pairs.collect()))
    table = pa.Table.from_pylist(
        [r.asDict() for r in rows], schema=to_arrow_schema(pairs.schema)
    )
    return _local_seed(labels.sparkSession, table)


def map_labels_to_reference(
    labels: DataFrame,
    reference: DataFrame,
    k: int = 2,
    encoder: Encoder = stub_encode_udf,
    clean: Callable[[Column], Column] = clean_text_full_udf,
    strategy: str = "auto",
) -> DataFrame:
    """Translate ``labels(source, raw_input_label)`` against
    ``reference(CT_ID, CT_NAME, definition, all_text, ct_name_cleaned,
    embedding)`` producing the reference's report schema
    (FIXTURES §1.5): one row per input label with ``match_score_i``,
    ``matched_asctb_id_i``, ``matched_asctb_label_i``,
    ``matched_asctb_text_i`` for i=1..k.

    ``encoder`` defaults to the deterministic stub (tests / oracle); a real
    SentenceTransformer slots in as an iterator pandas UDF loading the model
    once per worker — same plan, different F12 expression.

    ``strategy`` routes on the reference alone, from its resident state
    (:func:`reference_projection`'s pin, else one stats job and, inside
    the broadcast budget, one collect). "auto" (default) writes the report
    exactly while the reference fits the broadcast budget and takes the
    approximate IVF rung past it, where a resident matrix would OOM.
    "blocked" pins the exact report (raising past the budget) and "ivf"
    pins IVF; any other value raises ``ValueError``.

    The exact report's plan is ``LocalTableScan → [Coalesce] → clean →
    encode → MapInPandas`` for a driver-local relation, one task per
    ``LABELS_PER_TASK`` distinct labels (one hash Exchange and
    ``dropDuplicates`` in place of the scan otherwise): one
    ``mapInPandas`` scores each Arrow batch against the resident unit
    matrix and writes each label's finished row, k match columns with
    the exact overwrite applied, from the resident table. Each match
    carries the ``CT_NAME``/``all_text`` of the row it scored, also when
    reference rows share a ``CT_ID``; a
    zero-norm reference row scores NULL and ranks after every scored row,
    and an empty reference leaves every match column NULL. With k larger
    than the reference's C rows, ranks 1..C are the exact top-k and the
    match columns of ranks C+1..k are NULL; an exact hit still reports
    rank 1 alone. On the IVF
    rung the CT_NAME/all_text payload joins back by CT_ID afterward —
    broadcast while the reference fits the budget, a plain equi-join past
    it — then the ranks pivot into columns and
    :func:`overwrite_exact_matches` applies the overwrite under the same
    budget flag.

    Degenerate label inputs: the report has one row per distinct
    (source, raw_input_label), so an all-duplicate input gives one row,
    and an empty input gives zero rows with the 3 + 4k report columns.
    A NULL label, or one whose embedding is NULL or zero-norm, keeps its
    row with every match column NULL (the exact overwrite still applies);
    ``map_raw_labels`` takes ``None`` in a list as the label 'None'. The
    empty label '' is scored like any other label.
    """
    if strategy not in ("auto", "blocked", "ivf"):
        raise ValueError(f"unknown strategy {strategy!r}")
    seed = _distinct_labels(labels)
    cleaned = seed.withColumn("cleaned_input_label", clean(F.col("raw_input_label")))
    encoded = cleaned.withColumn("embedding", encoder(F.col("cleaned_input_label")))

    # The reference feeds several consumers (resident collect, and on IVF
    # the top-k, payload join and exact-overwrite aggregate); it is
    # broadcast-sized by construction (10^2-10^4 rows, SURVEY §1.3), so
    # persist the narrowed projection once instead of re-running its
    # encode/clean UDF chain per consumer (measured 1.55s -> 0.88s at
    # sf0.1). A caller-persisted exact projection (the
    # ``reference_projection`` context manager) is used as-is — the caller
    # owns its lifetime, so multi-organ loops release executor memory
    # deterministically instead of accumulating one LRU-evictable cache
    # entry per call.
    owned = not (
        list(reference.columns) == list(_REF_PROJ_COLS)
        and _is_persisted(reference)
    )
    if owned:
        reference = reference.select(*_REF_PROJ_COLS).persist()

    state = resident_reference(
        reference, "CT_ID", payload_cols=_PAYLOAD_COLS, payload=_report_table
    )
    in_budget = state.ids is not None
    if strategy == "blocked" or (strategy == "auto" and in_budget):
        if owned:
            # the report reads only the state's broadcasts
            reference.unpersist()
        return _blocked_report(encoded, reference, state, k)

    # IVF sizes its lists from the state just read, not a second stats job
    with _held(reference, state):
        topk = similarity_topk(
            encoded,
            reference,
            k=k,
            query_id_cols=list(_QUERY_COLS),
            ref_id_col="CT_ID",
            impl="ivf",
        )
    payload = reference.select("CT_ID", "CT_NAME", "all_text")
    if in_budget:
        payload = F.broadcast(payload)
    topk = topk.join(payload, topk["ref_id"] == payload["CT_ID"], "left").drop("CT_ID")

    # A2: rank -> columns. first() per (group, rank) is deterministic because
    # row_number makes (group, rank) unique.
    wide = (
        topk.groupBy("source", "raw_input_label", "cleaned_input_label")
        .pivot("rank", list(range(1, k + 1)))
        .agg(
            F.first("score").alias("match_score"),
            F.first("ref_id").alias("matched_asctb_id"),
            F.first("CT_NAME").alias("matched_asctb_label"),
            F.first("all_text").alias("matched_asctb_text"),
        )
    )
    # pivot names columns "1_match_score" etc; normalize to reference names.
    for i in range(1, k + 1):
        for src, tgt in (
            ("match_score", f"match_score_{i}"),
            ("matched_asctb_id", f"matched_asctb_id_{i}"),
            ("matched_asctb_label", f"matched_asctb_label_{i}"),
            ("matched_asctb_text", f"matched_asctb_text_{i}"),
        ):
            wide = wide.withColumnRenamed(f"{i}_{src}", tgt)

    return overwrite_exact_matches(wide, reference, k=k, broadcast_exact=in_budget)


def _blocked_report(
    queries: DataFrame, reference: DataFrame, state: ResidentReference, k: int
) -> DataFrame:
    """The exact report: one ``mapInPandas`` over the encoded labels
    writes one row per label (:func:`_write_report`) from the reference's
    resident ``state``."""
    b_ids, b_unit = state.broadcasts("map_labels_to_reference")
    b_table = state.payload
    ref = reference.schema
    schema = T.StructType(
        [queries.schema[c] for c in _QUERY_COLS]
        + [
            field
            for i in range(1, k + 1)
            for field in (
                T.StructField(f"match_score_{i}", T.DoubleType()),
                T.StructField(f"matched_asctb_id_{i}", ref["CT_ID"].dataType),
                T.StructField(f"matched_asctb_label_{i}", ref["CT_NAME"].dataType),
                T.StructField(f"matched_asctb_text_{i}", ref["all_text"].dataType),
            )
        ]
    )

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _write_report(batches, b_ids.value, b_unit.value, b_table.value, k)

    return queries.select(*_QUERY_COLS, "embedding").mapInPandas(write, schema=schema)


def _write_report(
    batches: Iterator[pd.DataFrame],
    ids: np.ndarray,
    unit: np.ndarray,
    table: tuple,
    k: int,
) -> Iterator[pd.DataFrame]:
    """Report rows for batches of encoded labels: the top-k of
    :func:`top_k_rows` as ``match_score_i``/``matched_asctb_*_i`` (NULL
    past the reference's size, and all NULL for a label without a
    direction), then the exact overwrite of ``overwrite_exact_matches``:
    a label whose cleaned text is a ``ct_name_cleaned`` gets score 1.0 and
    the min-``CT_ID`` row's id, ``CT_NAME`` and ``definition`` at rank 1,
    and NULL at ranks >= 2. Module-level, so unpickling a report task
    imports the package on the Python worker."""
    out_ids, names, texts, definitions, exact = table
    for pdf in batches:
        if pdf.empty:
            continue
        n = len(pdf)
        has_dir, rows, scores = top_k_rows(pdf["embedding"], unit, ids, k)
        top = rows.shape[1]
        score = np.full((n, k), np.nan)
        score[has_dir, :top] = scores
        idx = np.full((n, k), -1)  # -1 reads the tables' trailing None
        idx[has_dir, :top] = rows
        hit = np.array([exact.get(c, -1) for c in pdf["cleaned_input_label"]], dtype=np.int64)
        is_hit = hit >= 0
        score[is_hit] = np.nan
        score[is_hit, 0] = 1.0
        idx[is_hit] = -1
        idx[is_hit, 0] = hit[is_hit]
        text = texts[idx]
        text[is_hit, 0] = definitions[hit[is_hit]]
        out = {c: pdf[c].to_numpy() for c in _QUERY_COLS}
        for i in range(k):
            out[f"match_score_{i + 1}"] = score[:, i]
            out[f"matched_asctb_id_{i + 1}"] = out_ids[idx[:, i]]
            out[f"matched_asctb_label_{i + 1}"] = names[idx[:, i]]
            out[f"matched_asctb_text_{i + 1}"] = text[:, i]
        yield pd.DataFrame(out)


def overwrite_exact_matches(
    report: DataFrame,
    reference: DataFrame,
    k: int,
    broadcast_exact: bool = True,
) -> DataFrame:
    """J1+J2 as one broadcast left join (replaces main.py:126-166's
    4x isin-mask + per-row lookup) — the IVF rung's overwrite; the exact
    report applies the same rule in its writer (:func:`_write_report`).

    Exact rows get rank-1 columns overwritten with the reference's values
    and score 1.0; ranks >= 2 are nulled. Collisions on ``ct_name_cleaned``
    resolve to the min CT_ID row (deterministic; see module docstring).

    ``broadcast_exact``: the exact-match aggregate is reference-grain;
    past the broadcast budget the flagship passes False and the
    overwrite becomes a plain equi-join (same rows, shuffled build).
    """
    exact = (
        reference.groupBy("ct_name_cleaned")
        .agg(
            F.min_by(
                F.struct(
                    F.col("CT_ID").alias("x_id"),
                    F.col("CT_NAME").alias("x_label"),
                    F.col("definition").alias("x_text"),
                ),
                F.col("CT_ID"),
            ).alias("x")
        )
        .select("ct_name_cleaned", "x.x_id", "x.x_label", "x.x_text")
    )

    if broadcast_exact:
        exact = F.broadcast(exact)
    joined = report.join(
        exact,
        report["cleaned_input_label"] == exact["ct_name_cleaned"],
        "left",
    )
    matched = F.col("x_id").isNotNull()
    out = (
        joined.withColumn(
            "match_score_1", F.when(matched, F.lit(1.0)).otherwise(F.col("match_score_1"))
        )
        .withColumn(
            "matched_asctb_id_1", F.when(matched, F.col("x_id")).otherwise(F.col("matched_asctb_id_1"))
        )
        .withColumn(
            "matched_asctb_label_1",
            F.when(matched, F.col("x_label")).otherwise(F.col("matched_asctb_label_1")),
        )
        .withColumn(
            "matched_asctb_text_1",
            F.when(matched, F.col("x_text")).otherwise(F.col("matched_asctb_text_1")),
        )
    )
    for i in range(2, k + 1):
        for c in (
            f"match_score_{i}",
            f"matched_asctb_id_{i}",
            f"matched_asctb_label_{i}",
            f"matched_asctb_text_{i}",
        ):
            out = out.withColumn(c, F.when(matched, F.lit(None)).otherwise(F.col(c)))
    return out.drop("ct_name_cleaned", "x_id", "x_label", "x_text")
