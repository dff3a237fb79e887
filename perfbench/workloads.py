"""The workloads: set-up, one timed round, output checks, and the
traced-only layer breakdown.

A round is one call of a workload; round ``i`` makes the call at position
``i % cycle``, and the measured phase runs at least one whole cycle. Every
round at a position does the same amount of work whatever the seed: the
seed changes contents and order, never sizes.

Lazy layers are timed by materialising cumulative prefixes of the plan to
Spark's ``noop`` sink; a layer's ``*_exec_s`` is the difference between
consecutive prefixes.
"""

from __future__ import annotations

import random
import time
from contextlib import ExitStack
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from asctb_ct_label_mapper_spark import pipeline
from asctb_ct_label_mapper_spark.functions.nlp import (
    clean_text_full_udf,
    embedding_text_expr,
)
from asctb_ct_label_mapper_spark.functions.vector import stub_encode_udf
from asctb_ct_label_mapper_spark.operators import dedup, mapping, similarity
from asctb_ct_label_mapper_spark.operators.enrich import enrich_with_definitions
from asctb_ct_label_mapper_spark.operators.unpivot import ct_triplet_unpivot
from asctb_ct_label_mapper_spark.sources import sinks

import checks
import gen
from hostmon import tree_cpu_s

DIM = 768  # the paper's embedding width
K = 2
SAMPLE = 200  # labels per run whose top-k is recomputed with numpy
RECALL_FLOOR = 0.9
PURITY_FLOOR = 0.95
QUERY_IDS = ["source", "raw_input_label", "cleaned_input_label"]

# map reference: C ~ 10^3 rows (1000 CTs plus their level-10 variants)
# from a 20-organ sheet with 10 CT levels
MAP_CTS, MAP_ORGANS, MAP_ROWS_PER_ORGAN = 1000, 20, 20
DEDUP_DOCS, DEDUP_GROUPS, DEDUP_CORPORA = 1000, 100, 1


def encoder(col):
    return stub_encode_udf(col, dim=DIM)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def write_table(path: Path, columns: dict) -> str:
    pq.write_table(pa.table(columns), str(path))
    return str(path)


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


@dataclass
class Ctx:
    spark: object
    work: Path
    seed: int
    tracer: object
    info: dict = field(default_factory=dict)  # digests and properties for the run record


@dataclass
class Call:
    latency_s: float
    errors: list[str]


@dataclass
class Round:
    wall_s: float
    items: int
    calls: list[Call]
    # process-tree CPU time over the same interval, without and with only
    # the JVM's JIT compiler threads
    cpu_s: float = 0.0
    jit_s: float = 0.0


def _span(ctx: Ctx, name: str, fn, *args, **kwargs):
    with ctx.tracer.span(name):
        return fn(*args, **kwargs)


def _prefixes(ctx: Ctx, steps, clear: bool = True) -> dict[str, dict]:
    """Materialise each cumulative (name, build) prefix to noop under its
    own span, from a cleared cache unless ``clear`` is False. The sequence
    runs twice and each prefix keeps its faster time: the JVM is still
    warming up, so a single pass can time a longer prefix below a shorter
    one. ``build`` may run eager jobs itself and return None."""
    out: dict[str, dict] = {}
    for _ in range(2):
        for name, build in steps:
            if clear:
                ctx.spark.catalog.clearCache()
            t0 = time.perf_counter()
            with ctx.tracer.span(f"prefix.{name}") as rec:
                df = build()
                if df is not None:
                    noop(df)
            el = time.perf_counter() - t0
            if name not in out or el < out[name]["s"]:
                out[name] = {"s": el, "span": rec}
        ctx.tracer.attach_counters([v["span"] for v in out.values()])
    return out


def _py_bytes(prefix: dict) -> int:
    c = prefix["span"]["counters"]
    return c["python_sent_bytes"] + c["python_recv_bytes"]


class Workload:
    name = ""
    items = ""  # what items_per_s counts
    cycle = 1  # call positions a round cycles through

    def __init__(self):
        # resources set-up holds until teardown (a persisted reference)
        self._stack = ExitStack()

    def setup(self, ctx: Ctx) -> list[Call]:
        """Make the inputs and warm up; returns the checked calls it made."""
        raise NotImplementedError

    def round(self, ctx: Ctx, i: int) -> Round:
        raise NotImplementedError

    def layers(self, ctx: Ctx) -> dict:
        """Traced-only per-layer figures that the round spans do not give."""
        return {}

    def teardown(self) -> None:
        self._stack.close()


def _write_sheet(ctx: Ctx, sheet: gen.Sheet):
    cols = {c: [r[i] for r in sheet.rows] for i, c in enumerate(sheet.columns)}
    sp = write_table(ctx.work / "sheet.parquet", cols)
    fp = write_table(
        ctx.work / "fixture.parquet",
        {
            "ct_id_normalized": [f[0] for f in sheet.fixture],
            "definition": [f[1] for f in sheet.fixture],
        },
    )
    ctx.info["sheet"] = {
        "digest": gen.digest([sheet.rows, sheet.fixture]),
        "rows": len(sheet.rows),
        "cts": len(sheet.cts),
        "distinct_triplets": len(sheet.expected_triplets),
        "fixture_id_coverage": round(sheet.fixture_ids / max(1, sheet.distinct_ids), 4),
    }
    return ctx.spark.read.parquet(sp), ctx.spark.read.parquet(fp)


class MapManySmall(Workload):
    """Sequential map_raw_labels calls with Python lists of labels against
    one reference held in reference_projection; each report is collected
    to the driver. Set-up builds that reference through the package
    (parquet cache, CSV export, count of the read-back) and checks it."""

    name = "map_many_small"
    items = "distinct labels mapped"
    cycle = len(gen.CALL_SIZES)

    def build_reference(self, ctx: Ctx, rng: random.Random) -> list[Call]:
        self.sheet = gen.make_sheet(rng, MAP_CTS, MAP_ORGANS, MAP_ROWS_PER_ORGAN)
        self.sheet_df, self.fx_df = _write_sheet(ctx, self.sheet)
        cache = str(ctx.work / "map_ref_cache")
        t0 = time.perf_counter()
        self.ref = pipeline.build_reference_embeddings(
            ctx.spark, self.sheet_df, cache_path=cache, ontology_fixture=self.fx_df,
            encoder=encoder, csv_export_path=str(ctx.work / "map_ref_csv"),
        )
        n = self.ref.count()
        build_s = time.perf_counter() - t0
        tab = pq.read_table(cache).to_pydict()
        errs = self.check_reference(tab, n)
        self.ref_np = checks.Reference(
            tab["CT_ID"], tab["CT_NAME"], tab["ct_name_cleaned"], tab["embedding"]
        )
        ctx.info["reference"] = {
            "C": len(tab["CT_ID"]),
            "dim": DIM,
            "crossover_q": int(similarity.EXACT_FLOP_BUDGET / (len(tab["CT_ID"]) * DIM)),
            "build_s": build_s,
            "fixture_hit_ratio": sum(d != "NaN" for d in tab["definition"]) / max(1, n),
            "parquet_bytes": dir_bytes(Path(cache)),
            "digest": gen.digest(sorted(
                zip(tab["CT_ID"], tab["CT_NAME"], tab["ct_name_cleaned"], tab["definition"])
            )),
        }
        return [Call(build_s, errs)]

    def check_reference(self, tab: dict, n: int) -> list[str]:
        """Distinct CT rows equal the generator's, the read-back count
        equals the built count, and every embedding is 768-d unit-norm."""
        errs = []
        want = self.sheet.expected_triplets
        got = set(zip(tab["CT_ID"], tab["CT_NAME"], tab["CT_LABEL"]))
        if got != want or len(tab["CT_ID"]) != len(want):
            errs.append(f"built CT rows differ: {len(tab['CT_ID'])} rows, {len(got ^ want)} mismatched")
        if n != len(tab["CT_ID"]):
            errs.append(f"read-back count {n} != {len(tab['CT_ID'])} built rows")
        emb = np.array(tab["embedding"], dtype=np.float64)
        if emb.shape != (len(want), DIM):
            errs.append(f"embedding shape {emb.shape}")
        elif np.abs(np.linalg.norm(emb, axis=1) - 1.0).max() > 1e-5:
            errs.append("embedding not unit-norm")
        return errs

    def build_layers(self, ctx: Ctx) -> dict:
        """Reference-build breakdown: cumulative prefixes unpivot, +enrich,
        +clean, +encode, +write, then one build call and its CSV export."""
        unpivot_plan = []

        def unpivot():
            t0 = time.perf_counter()
            df = ct_triplet_unpivot(self.sheet_df)
            unpivot_plan.append(time.perf_counter() - t0)
            return df

        enrich = lambda: enrich_with_definitions(unpivot(), fixture=self.fx_df)
        clean = lambda: enrich().withColumn("ct_name_cleaned", clean_text_full_udf(F.col("CT_NAME")))
        # the encode step build_reference_embeddings runs
        enc = lambda: (
            clean()
            .withColumn("_embed_text", embedding_text_expr(F.col("all_text"), 150))
            .withColumn("embedding", encoder(F.col("_embed_text")))
            .drop("_embed_text")
        )
        write = lambda: sinks.write_parquet(enc(), str(ctx.work / "prefix_cache"))
        p = _prefixes(ctx, [
            ("unpivot", unpivot), ("enrich", enrich), ("clean", clean),
            ("encode", enc), ("write", write),
        ])
        d = {n: p[n]["s"] for n in p}
        # an existing cache path short-circuits the build: use a fresh one
        cache = str(ctx.work / "layers_cache")
        t0 = time.perf_counter()
        pipeline.build_reference_embeddings(
            ctx.spark, self.sheet_df, cache_path=cache, ontology_fixture=self.fx_df, encoder=encoder
        )
        t1 = time.perf_counter()
        sinks.write_csv_utf8_sig(
            ctx.spark.read.parquet(cache).drop("embedding"), str(ctx.work / "layers_csv")
        )
        t2 = time.perf_counter()
        ref = ctx.info["reference"]
        return {
            "pipeline.build_call_s": t1 - t0,
            "unpivot.plan_s": min(unpivot_plan),
            "unpivot.exec_s": d["unpivot"],
            "unpivot.rows_in": len(self.sheet.rows),
            "unpivot.rows_out": ref["C"],
            "enrich.exec_s": d["enrich"] - d["unpivot"],
            "enrich.fixture_hit_ratio": ref["fixture_hit_ratio"],
            "nlp.ref_clean_exec_s": d["clean"] - d["enrich"],
            "vector.ref_encode_exec_s": d["encode"] - d["clean"],
            "sinks.parquet_write_s": d["write"] - d["encode"],
            "sinks.parquet_bytes": ref["parquet_bytes"],
            "sinks.csv_write_s": t2 - t1,
        }

    @staticmethod
    def plan_labels(labels: list[gen.Label]):
        """Expected keys, planted exact matches and nomatch keys."""
        distinct = {(x.source, x.text): x for x in labels}
        planted = {k: x.ct.name for k, x in distinct.items() if x.ct is not None}
        nomatch = sorted(k for k, x in distinct.items() if x.ct is None)
        return set(distinct), planted, nomatch

    def check(self, rows, keys, planted, sample) -> list[str]:
        return checks.check_report_rows(rows, keys, self.ref_np, sample, planted, K, DIM)

    def setup(self, ctx: Ctx) -> list[Call]:
        rng = random.Random(f"{ctx.seed}/map_many_small")
        built = self.build_reference(ctx, rng)
        self.proj = self._stack.enter_context(mapping.reference_projection(self.ref))
        self.proj.count()
        self.calls, every = [], []
        for size in gen.CALL_SIZES:
            # map_raw_labels takes one source name per list
            src = rng.choice(gen.SOURCES)
            labels = [
                gen.Label(src, x.text, x.kind, x.ct)
                for x in gen.make_labels(rng, self.sheet.cts, size)
            ]
            every += labels
            keys, planted, nomatch = self.plan_labels(labels)
            self.calls.append((src, [x.text for x in labels], keys, planted, nomatch))
        ctx.info["labels"] = {
            **gen.label_properties(every),
            "call_sizes": gen.CALL_SIZES,
            "digest": gen.digest([c[:2] for c in self.calls]),
        }
        # the top-k sample is spread over the calls in proportion to size
        n_nomatch = sum(len(c[4]) for c in self.calls)
        self.samples = [
            set(rng.sample(c[4], min(len(c[4]), -(-SAMPLE * len(c[4]) // n_nomatch))))
            for c in self.calls
        ]
        self.outputs = {}  # position -> (report digest, exact-hit flags)
        # warm-up: one call, on the join rung, whose JVM-side plan is the
        # slower and less steady one to run cold; the blocked rung's work
        # is mostly in the Python workers, which the reference build warmed
        warm = [f"warm up label {i}" for i in range(gen.CALL_SIZES[0])]
        pipeline.map_raw_labels(ctx.spark, warm, self.proj, k=K, encoder=encoder).collect()
        return built

    def round(self, ctx: Ctx, i: int) -> Round:
        pos = i % self.cycle
        src, texts, keys, planted, _ = self.calls[pos]
        c0, t0 = tree_cpu_s(), time.perf_counter()
        report = _span(
            ctx, "pipeline.map_raw_labels", pipeline.map_raw_labels,
            ctx.spark, texts, self.proj, source_name=src, k=K, encoder=encoder,
        )
        rows = _span(ctx, "report.collect", report.collect)
        wall = time.perf_counter() - t0
        cpu, jit = (b - a for a, b in zip(c0, tree_cpu_s()))
        rows = [r.asDict() for r in rows]
        errs = self.check(rows, keys, planted, self.samples[pos])
        self.outputs[pos] = (
            checks.report_digest(rows, K), [r["match_score_1"] == 1.0 for r in rows]
        )
        done = [self.outputs[p] for p in sorted(self.outputs)]
        ctx.info["output_digest"] = gen.digest([d for d, _ in done])
        hits = [h for _, flags in done for h in flags]
        ctx.info["exact_hit_ratio"] = sum(hits) / max(1, len(hits))
        return Round(wall, len(keys), [Call(wall, errs)], cpu, jit)

    def layers(self, ctx: Ctx) -> dict:
        """The mapping plan split by cumulative prefixes seed, +clean,
        +encode, +top-k, +pivot/overwrite over the largest call's labels,
        then the reference-build breakdown."""
        src, texts, keys, *_ = max(self.calls, key=lambda c: len(c[1]))
        labels = ctx.spark.createDataFrame(
            [(src, t) for t in texts], "source string, raw_input_label string"
        )
        rung = similarity.choose_similarity_impl(len(keys), len(self.ref_np.ids), DIM)
        seed = lambda: labels.select("source", "raw_input_label").dropDuplicates()
        clean = lambda: seed().withColumn(
            "cleaned_input_label", clean_text_full_udf(F.col("raw_input_label"))
        )
        enc = lambda: clean().withColumn("embedding", encoder(F.col("cleaned_input_label")))

        def topk():
            if rung == "join":
                return similarity.top_k_similarity_join(
                    enc(), self.proj, K, QUERY_IDS, "CT_ID",
                    ref_payload_cols=["CT_NAME", "all_text"],
                )
            return similarity.similarity_topk(enc(), self.proj, K, QUERY_IDS, "CT_ID", impl=rung)

        report = lambda: mapping.map_labels_to_reference(
            labels, self.proj, k=K, encoder=encoder, strategy=rung
        )
        # nothing here persists; the reference projection stays cached
        p = _prefixes(ctx, [
            ("seed", seed), ("clean", clean), ("encode", enc), ("topk", topk),
            ("pivot_overwrite", report),
        ], clear=False)
        d = {n: p[n]["s"] for n in p}
        return {
            "mapping.exact_hit_ratio": ctx.info["exact_hit_ratio"],
            "nlp.clean_exec_s": d["clean"] - d["seed"],
            "vector.encode_exec_s": d["encode"] - d["clean"],
            "vector.python_bytes": _py_bytes(p["encode"]) - _py_bytes(p["clean"]),
            "similarity.topk_exec_s": d["topk"] - d["encode"],
            "mapping.pivot_overwrite_exec_s": d["pivot_overwrite"] - d["topk"],
            **self.build_layers(ctx),
        }


class DedupDocs(Workload):
    """minhash_dedup_pairs -> duplicate_groups -> group_representatives over
    corpora with planted near-duplicate groups; a cycle dedups each of
    ``DEDUP_CORPORA`` corpora once, so one run measures several pipeline
    passes at a fixed amount of work."""

    name = "dedup_docs"
    items = "documents deduplicated"
    cycle = DEDUP_CORPORA

    def setup(self, ctx: Ctx) -> list[Call]:
        rng = random.Random(f"{ctx.seed}/dedup_docs")
        self.corpora = [gen.make_corpus(rng, DEDUP_DOCS, DEDUP_GROUPS) for _ in range(self.cycle)]
        self.docs_dfs = []
        for i, corpus in enumerate(self.corpora):
            docs = corpus.docs
            path = write_table(
                ctx.work / f"docs{i}.parquet",
                {
                    "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                    "text": [d[1] for d in docs],
                    "n_chars": pa.array([d[2] for d in docs], pa.int64()),
                },
            )
            self.docs_dfs.append(ctx.spark.read.parquet(path))
        ctx.info["corpus"] = {
            "corpora": len(self.corpora),
            "docs": DEDUP_DOCS,
            "planted_groups": DEDUP_GROUPS,
            "planted_docs": [sum(len(g) for g in c.groups) for c in self.corpora],
            "digest": gen.digest([c.docs for c in self.corpora]),
        }
        self.results = {}  # position -> (recall, purity, output digest)
        # warm-up: one pass at full size; the first pass is much slower
        # (Python workers starting, JIT)
        self._pipeline(ctx, self.docs_dfs[0])
        ctx.spark.catalog.clearCache()
        return []

    def _pipeline(self, ctx: Ctx, docs):
        pairs = _span(ctx, "dedup.minhash_dedup_pairs", dedup.minhash_dedup_pairs, docs, "text", "doc_id")
        groups = _span(
            ctx, "dedup.duplicate_groups", dedup.duplicate_groups, pairs, all_ids=docs, id_col="doc_id"
        )
        reps = _span(ctx, "dedup.group_representatives", dedup.group_representatives, groups, docs)
        members = _span(ctx, "groups.collect", groups.filter(F.col("group_size") > 1).collect)
        chosen = _span(ctx, "representatives.collect", reps.filter(F.col("group_size") > 1).collect)
        return members, chosen

    def round(self, ctx: Ctx, i: int) -> Round:
        pos = i % self.cycle
        c0, t0 = tree_cpu_s(), time.perf_counter()
        members, chosen = self._pipeline(ctx, self.docs_dfs[pos])
        wall = time.perf_counter() - t0
        cpu, jit = (b - a for a, b in zip(c0, tree_cpu_s()))
        ctx.spark.catalog.clearCache()
        corpus = self.corpora[pos]
        errs, self.results[pos] = self._check(corpus, members, chosen)
        done = [self.results[p] for p in sorted(self.results)]
        ctx.info["recall"] = min(r[0] for r in done)
        ctx.info["purity"] = min(r[1] for r in done)
        ctx.info["output_digest"] = gen.digest([r[2] for r in done])
        return Round(wall, len(corpus.docs), [Call(wall, errs)], cpu, jit)

    @staticmethod
    def _check(corpus: gen.Corpus, members, chosen):
        """Errors, and (planted-pair recall, group purity, output digest)."""
        errs = []
        doc_group = {r["doc_id"]: r["group_id"] for r in members}
        recall = checks.pair_recall(corpus.groups, doc_group)
        planted_of = {d: gi for gi, g in enumerate(corpus.groups) for d in g}
        out_groups: dict = {}
        for d, g in doc_group.items():
            out_groups.setdefault(g, []).append(d)
        pure = sum(
            len({planted_of.get(d, ("x", d)) for d in m}) == 1 for m in out_groups.values()
        ) / max(1, len(out_groups))
        n_chars = {d[0]: d[2] for d in corpus.docs}
        want_rep = {
            g: min(m, key=lambda d: (-n_chars[d], d)) for g, m in out_groups.items()
        }
        got_rep = {r["group_id"]: r["doc_id"] for r in chosen}
        if recall < RECALL_FLOOR:
            errs.append(f"planted-pair recall {recall:.3f} < {RECALL_FLOOR}")
        if pure < PURITY_FLOOR:
            errs.append(f"group purity {pure:.3f} < {PURITY_FLOOR}")
        if got_rep != want_rep:
            errs.append(f"representatives differ on {len(set(got_rep.items()) ^ set(want_rep.items()))} groups")
        return errs, (recall, pure, gen.digest(sorted(doc_group.items())))

    def layers(self, ctx: Ctx) -> dict:
        docs = self.docs_dfs[0]
        counts = {}

        def candidates():
            c = dedup.minhash_lsh_candidates(docs, "text", "doc_id")
            counts["candidates"] = c.count()
            return None

        # the signature family and size minhash_dedup_pairs uses by default
        signatures = lambda: dedup.minhash_signatures_frame(
            docs, "text", "doc_id", n_hashes=32, family="siphash"
        )
        verified = lambda: dedup.minhash_dedup_pairs(docs, "text", "doc_id")
        groups = lambda: dedup.duplicate_groups(verified(), all_ids=docs, id_col="doc_id")
        reps = lambda: dedup.group_representatives(groups(), docs)
        p = _prefixes(ctx, [
            ("signatures", signatures), ("candidates", candidates),
            ("verified", verified), ("groups", groups), ("representatives", reps),
        ])
        d = {n: p[n]["s"] for n in p}
        pairs = dedup.minhash_dedup_pairs(docs, "text", "doc_id").select("id_a", "id_b").collect()
        ctx.spark.catalog.clearCache()
        return {
            "dedup.signature_exec_s": d["signatures"],
            "dedup.candidate_pairs": counts["candidates"],
            "dedup.verified_pairs": len(pairs),
            "dedup.lsh_precision": len(pairs) / max(1, counts["candidates"]),
            "dedup.lp_iterations": lp_iterations([(r[0], r[1]) for r in pairs]),
            "dedup.groups_exec_s": d["groups"] - d["verified"],
            "dedup.representatives_exec_s": d["representatives"] - d["groups"],
        }


def lp_iterations(pairs: list[tuple[int, int]], max_iter: int = 15) -> int:
    """Rounds duplicate_groups' min-label propagation runs on these pairs,
    replayed in Python: it stops after the first round that changes no
    label."""
    nbrs: dict[int, set] = {}
    for a, b in pairs:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    label = {n: n for n in nbrs}
    for it in range(1, max_iter + 1):
        new = {n: min([label[n]] + [label[m] for m in nbrs[n]]) for n in nbrs}
        if new == label:
            return it
        label = new
    return max_iter


WORKLOADS = {w.name: w for w in (MapManySmall, DedupDocs)}
