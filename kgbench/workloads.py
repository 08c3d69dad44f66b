"""The benchmark's three workloads. Each one materializes its inputs from
the seed, runs one operation at a time (a closed loop with one client) and
checks what the program produced.

- crawl: synthetic crawl pages → `run_pipeline(..., output_dir=...)`
  writing the three sinks, then a seed-chosen set of bucket directories
  is deleted, detected with `failed_buckets`, replayed and re-verified.
- dup_dense: synthetic pages, each copied ×4 under distinct urls,
  → `run_pipeline` with no sinks, forcing `triples` and `entities`.
- headline_queries: the ten HEADLINE entries of `bench.py` on seeded
  TPC-H-like tables, timed with `.count()`; the seed also permutes
  the query order.

The traced operation calls the package's public functions itself, in
the order and at the checkpoints of `run_pipeline`, with one span (and
Spark job group) per call; the signature and edge checkpoints are filled
eagerly there so that each layer's work runs inside its own span.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import tables
from harness import StatusSnapshot, Tracer, median, node_rows, root_rows, span_metrics

PIPELINE_SPANS = (
    "triples",
    "linking.signatures",
    "linking.score_blocks",
    "canonicalize.components",
    "canonicalize.window",
    "materialize.triples",
    "materialize.entities",
    "materialize.edges",
    "materialize.resume",
)
RESUME_STEPS = ("detect", "replay", "verify")
# run_pipeline's three sinks: (table, bucketing key)
SINKS = (("triples", "subj"), ("entities", "mention_id"), ("edges", "a"))
HEADLINE = (
    "pricing_summary",
    "top_customers",
    "region_revenue",
    "sessionize",
    "top_words",
    "exact_dedup",
    "minhash_buckets",
    "ngram_jaccard_consecutive",
    "cosine_topk",
    "triples_phrases",
)
PINNED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pinned.json")


@dataclass
class OpResult:
    wall: float  # the operation's timed wall
    parts: dict[str, float] = field(default_factory=dict)  # named sub-timings
    failures: list[str] = field(default_factory=list)


class Workload:
    name = ""
    warmup_ops = 1

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.attempted = 0
        self.outputs: dict[str, tuple[int, int]] = {}  # table -> (rows, content_sum)

    def materialize(self) -> None:
        raise NotImplementedError

    def warmup(self) -> list[str]:
        """Full operations, untimed: the first one after a cold start
        pays for the JIT and the Python workers' start."""
        return [f for _ in range(self.warmup_ops) for f in self.op(Tracer(None, False)).failures]

    def op(self, tracer: Tracer) -> OpResult:
        """One operation of the closed loop, with its per-operation checks."""
        self.attempted += 1
        return self._op(tracer)

    def _op(self, tracer: Tracer) -> OpResult:
        raise NotImplementedError

    def check(self) -> list[str]:
        """Untimed output checks, once per invocation."""
        return []

    def op_s(self, ops: list[OpResult]) -> float:
        """The end-to-end latency of one operation (the `op_s` metric)."""
        return median([o.wall for o in ops])

    def report(self, ops: list[OpResult]) -> dict[str, tuple[float, str]]:
        """The end-to-end figures in the workload's own terms: name →
        (value, unit)."""
        raise NotImplementedError

    def layer_metrics(self, tracer: Tracer, snap: StatusSnapshot) -> dict[str, float]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# KG pipeline workloads
# ---------------------------------------------------------------------------

def _sink_frames(out: dict) -> dict:
    """The frames run_pipeline hands to write_partitioned."""
    from pyspark.sql import functions as F

    return {
        "triples": out["triples"],
        "entities": out["entities"],
        "edges": out["edges"].withColumn("url", F.col("a")),
    }


def traced_pipeline(spark, pages, tracer: Tracer, output_dir: str | None, force: bool) -> dict:
    """run_pipeline's calls, one span per call (see the module docstring)."""
    from pyspark.sql import functions as F

    from trainable_entity_extractor_spark.kg.canonicalize import canonical_entities
    from trainable_entity_extractor_spark.kg.linking import minhash_signatures, score_blocks
    from trainable_entity_extractor_spark.kg.materialize import write_partitioned
    from trainable_entity_extractor_spark.kg.triples import extract_triples
    from trainable_entity_extractor_spark.pipeline import default_options
    from trainable_entity_extractor_spark.sources.segmentation import pages_to_segments

    with tracer.span("triples"):
        segments = pages_to_segments(pages)
        slim = (
            extract_triples(segments, default_options(spark), "mentions_phrase")
            .drop("segment_text")
            .localCheckpoint(eager=False)
        )
        triples = slim.withColumn("segment_text", F.col("obj_text")).select(
            "subj", "pred", "obj_id", "obj_label", "obj_text", "segment_text", "page"
        )
        mentions = triples.select(
            F.concat_ws("#", "subj", "obj_id").alias("mention_id"),
            F.concat_ws(" ", "obj_label", "obj_text").alias("mention"),
        )
        if force:
            triples.count()
    with tracer.span("linking.signatures"):
        sigs = minhash_signatures(mentions).select("mention_id", "sig").localCheckpoint(eager=True)
    with tracer.span("linking.score_blocks"):
        edges = score_blocks(sigs, 0.9).localCheckpoint(eager=True)
    with tracer.span("canonicalize.components"):
        entities = canonical_entities(mentions, edges, pre_materialized=True)
    out = {"segments": segments, "triples": triples, "edges": edges, "entities": entities}
    if force:
        with tracer.span("canonicalize.window"):
            entities.count()
    if output_dir:
        frames = _sink_frames(out)
        for table, key in SINKS:
            with tracer.span(f"materialize.{table}"):
                write_partitioned(frames[table], f"{output_dir}/{table}", key)
    return out


def table_stats(df, key: str) -> tuple[int, int]:
    """(rows, content_sum) with the manifests' own fingerprint."""
    from trainable_entity_extractor_spark.kg.materialize import content_stats, with_bucket

    rows = content_stats(with_bucket(df, key)).collect()
    return sum(int(r["rows"]) for r in rows), sum(int(r["content_sum"] or 0) for r in rows)


def _load_pinned() -> dict:
    with open(PINNED_PATH) as f:
        return json.load(f)


class PipelineWorkload(Workload):
    n_pages = 0
    files = 16

    def __init__(self, spark, work_dir, seed):
        super().__init__(spark, work_dir, seed)
        self.pages_path = os.path.join(work_dir, "pages.parquet")
        self.last: dict | None = None
        self.first_counts: dict | None = None

    def pages_df(self):
        raise NotImplementedError

    def materialize(self) -> None:
        self.pages_df().write.mode("overwrite").parquet(self.pages_path)

    def pages(self):
        return self.spark.read.parquet(self.pages_path)

    def _same_as_first(self, counts: dict) -> list[str]:
        if self.first_counts is None:
            self.first_counts = counts
            return []
        if counts != self.first_counts:
            return [f"{self.name}: outputs differ between identical runs: {counts} vs {self.first_counts}"]
        return []

    def layer_metrics(self, tracer: Tracer, snap: StatusSnapshot) -> dict[str, float]:
        m: dict[str, float] = {}
        for name in PIPELINE_SPANS:
            m.update(span_metrics(tracer, snap, name, with_self=name == "materialize.resume"))

        tri = [e for e in snap.executions_in("triples") if node_rows([e], "Generate")]
        segs = sum(node_rows(tri, "Generate"))
        rows_out = sum(root_rows(e) for e in tri)
        m["segmentation.segments_out"] = segs
        m["triples.rows_out"] = rows_out
        m["triples.match_ratio"] = rows_out / segs if segs else 0.0

        sig_rows = sum(node_rows(snap.executions_in("linking.signatures"), "ArrowEvalPython"))
        scorer = [e for e in snap.executions_in("linking.score_blocks") if node_rows([e], "MapInArrow")]
        banded = max(node_rows(scorer, "Generate"), default=0)
        scorer_in = sum(node_rows(scorer, "Join"))
        m["linking.banded_rows"] = banded
        m["linking.qualifying_rows"] = sum(node_rows(scorer, "Filter"))
        m["linking.scorer_rows_in"] = scorer_in
        m["linking.prefilter_keep_ratio"] = scorer_in / banded if banded else 0.0
        m["linking.edges_pre_distinct"] = sum(node_rows(scorer, "MapInArrow"))
        m["linking.edges"] = sum(root_rows(e) for e in scorer)
        m["linking.python_rows_in"] = sig_rows + scorer_in
        m["linking.signatures.python_wait_s"] = (
            m["linking.signatures.executor_run_s"] - m["linking.signatures.executor_cpu_s"]
        )

        comp = snap.executions_in("canonicalize.components")
        m["canonicalize.edges_in"] = root_rows(comp[0]) if comp else 0
        m["canonicalize.driver_uf_s"] = m["canonicalize.components.driver_only_s"]
        sizes = self.last["entities"].groupBy("entity_id").count()
        m["canonicalize.entities"] = sizes.count()
        m["canonicalize.components"] = sizes.filter("count > 1").count()

        for table, _ in SINKS:
            span = f"materialize.{table}"
            m[f"{span}.upstream_evals"] = len(snap.executions_in(span))
            m[f"{span}.bytes_written"] = sum(
                st.output_bytes for st in snap.stages_of(snap.jobs_in(span))
            )
        steps = {s: tracer.get(f"materialize.resume.{s}") for s in RESUME_STEPS}
        m["materialize.verify_s"] = sum(steps[s].wall for s in ("detect", "verify") if steps[s])
        m["materialize.replay_s"] = steps["replay"].wall if steps["replay"] else 0.0
        return m

    def check(self) -> list[str]:
        """Invariants that hold for every seed, and the pinned
        (rows, content_sum) per table, on the last operation's outputs."""
        from pyspark.sql import functions as F

        out, fails = self.last, []
        frames = _sink_frames(out)
        stats = self.outputs = {t: table_stats(frames[t], key) for t, key in SINKS}
        if stats["triples"][0] == 0 or stats["edges"][0] == 0:
            fails.append(f"{self.name}: empty outputs {stats}")
        if stats["triples"][0] != stats["entities"][0]:
            fails.append(f"{self.name}: {stats['triples'][0]} triples but {stats['entities'][0]} entity rows")
        bad_edges = out["edges"].filter((F.col("a") >= F.col("b")) | (F.col("jaccard") < 0.9)).count()
        if bad_edges:
            fails.append(f"{self.name}: {bad_edges} edges unordered or under the 0.9 threshold")
        # an entity is named after the smallest mention id of its component
        bad_ids = out["entities"].filter(F.col("entity_id") > F.col("mention_id")).count()
        if bad_ids:
            fails.append(f"{self.name}: {bad_ids} entity ids larger than their mention id")
        pinned = _load_pinned().get(self.name, {}).get(str(self.seed), {})
        for t, (rows, csum) in pinned.items():
            if stats[t] != (rows, int(csum)):
                fails.append(f"{self.name}: {t} (rows, content_sum) {stats[t]} != pinned {(rows, csum)}")
        return fails


class Crawl(PipelineWorkload):
    name = "crawl"
    n_pages = 6_000
    lost_per_table = 2

    def __init__(self, spark, work_dir, seed):
        super().__init__(spark, work_dir, seed)
        rng = random.Random(seed)
        # bucket ids to lose per table: chosen among the buckets the
        # manifest lists, in this seeded order
        self.loss_order = {t: rng.sample(range(16), 16) for t, _ in SINKS}

    def pages_df(self):
        from trainable_entity_extractor_spark.sources.synth_pages import synth_pages

        return synth_pages(self.spark, self.n_pages, seed=self.seed, partitions=self.files)

    def _op(self, tracer: Tracer) -> OpResult:
        from trainable_entity_extractor_spark.kg.materialize import failed_buckets, write_partitioned
        from trainable_entity_extractor_spark.pipeline import run_pipeline

        out_dir = os.path.join(self.work, "out")
        shutil.rmtree(out_dir, ignore_errors=True)
        paths = {t: f"{out_dir}/{t}" for t, _ in SINKS}

        t0 = time.time()
        with tracer.span("pipeline"):
            if tracer.enabled:
                out = traced_pipeline(self.spark, self.pages(), tracer, out_dir, force=False)
            else:
                out = run_pipeline(self.spark, self.pages(), output_dir=out_dir)
            build = time.time() - t0

            manifests = {t: self._manifest(p) for t, p in paths.items()}
            lost = {}
            for t, p in paths.items():
                present = [b for b in self.loss_order[t] if str(b) in manifests[t]]
                lost[t] = sorted(present[: self.lost_per_table])
                for b in lost[t]:
                    shutil.rmtree(f"{p}/bucket={b}")

            t1 = time.time()
            frames = _sink_frames(out)
            with tracer.span("materialize.resume"):
                with tracer.span("materialize.resume.detect"):
                    found = {t: sorted(failed_buckets(self.spark, p)) for t, p in paths.items()}
                with tracer.span("materialize.resume.replay"):
                    for t, key in SINKS:
                        if found[t]:
                            write_partitioned(frames[t], paths[t], key, buckets=found[t])
                with tracer.span("materialize.resume.verify"):
                    still = {t: failed_buckets(self.spark, p) for t, p in paths.items()}
            resume = time.time() - t1

        fails = []
        if found != lost:
            fails.append(f"crawl: failed_buckets found {found}, lost {lost}")
        if any(still.values()):
            fails.append(f"crawl: manifests do not verify after the resume: {still}")
        after = {t: self._manifest(p) for t, p in paths.items()}
        if after != manifests:
            fails.append("crawl: replayed buckets differ from the first write")
        self.manifest_totals = {
            t: (sum(r["rows"] for r in m.values()), sum(int(r["content_sum"]) for r in m.values()))
            for t, m in manifests.items()
        }
        fails += self._same_as_first(self.manifest_totals)
        self.last, self.detected = out, sum(len(v) for v in found.values())
        return OpResult(build + resume, {"build": build, "resume": resume}, fails)

    @staticmethod
    def _manifest(path: str) -> dict:
        with open(os.path.join(path, "_manifest.json")) as f:
            parts = json.load(f)["partitions"]
        return {b: {"rows": r["rows"], "content_sum": r["content_sum"]} for b, r in parts.items()}

    def check(self) -> list[str]:
        fails = super().check()
        if self.outputs != self.manifest_totals:
            fails.append(f"crawl: manifests {self.manifest_totals} disagree with the outputs {self.outputs}")
        return fails

    def report(self, ops):
        build = median([o.parts["build"] for o in ops])
        return {
            "pages_per_s": (self.n_pages / build, "1/s"),
            "build_s": (build, "s"),
            "resume_s": (median([o.parts["resume"] for o in ops]), "s"),
        }

    def layer_metrics(self, tracer, snap):
        m = super().layer_metrics(tracer, snap)
        m["materialize.buckets_detected"] = self.detected
        return m


class DupDense(PipelineWorkload):
    name = "dup_dense"
    n_pages = 8_000  # after the ×4 copy
    copies = 4
    # its Python stages (MinHash UDF, pair scorer) settle one operation
    # later than crawl's: over 10 seeds op_s spread 0.19-0.21 with one
    # warmup operation and ~0.10 with two
    warmup_ops = 2

    def pages_df(self):
        from pyspark.sql import functions as F

        from trainable_entity_extractor_spark.sources.synth_pages import synth_pages

        base = synth_pages(self.spark, self.n_pages // self.copies, seed=self.seed, partitions=self.files)
        copy = self.spark.range(self.copies).select(F.col("id").cast("int").alias("copy"))
        return (
            base.crossJoin(copy)
            .withColumn("url", F.concat("url", F.lit("?copy="), F.col("copy").cast("string")))
            .drop("copy")
        )

    def _op(self, tracer: Tracer) -> OpResult:
        from trainable_entity_extractor_spark.pipeline import run_pipeline

        t0 = time.time()
        with tracer.span("pipeline"):
            if tracer.enabled:
                out = traced_pipeline(self.spark, self.pages(), tracer, None, force=True)
            else:
                out = run_pipeline(self.spark, self.pages())
                out["triples"].count()
                out["entities"].count()
        wall = time.time() - t0
        self.last = out
        # untimed re-counts of the checkpointed outputs
        counts = {k: out[k].count() for k in ("triples", "entities", "edges")}
        return OpResult(wall, {}, self._same_as_first(counts))

    def check(self) -> list[str]:
        fails = super().check()
        if self.outputs["triples"][0] % self.copies:
            fails.append(f"dup_dense: {self.outputs['triples'][0]} triples is not a multiple of {self.copies}")
        return fails

    def report(self, ops):
        return {"pages_per_s": (self.n_pages / self.op_s(ops), "1/s")}


# ---------------------------------------------------------------------------
# headline queries
# ---------------------------------------------------------------------------

class HeadlineQueries(Workload):
    name = "headline_queries"
    sf = 0.05

    def __init__(self, spark, work_dir, seed):
        super().__init__(spark, work_dir, seed)
        import __spark_entry__ as entrymod

        self.tables_dir = os.path.join(work_dir, "tables")
        self.fns = entrymod.queries()
        self.oracles = entrymod.oracle_sql()
        self.order = list(HEADLINE)
        random.Random(seed).shuffle(self.order)
        self.expected_rows: dict[str, int] = {}

    def materialize(self) -> None:
        tables.generate(self.tables_dir, self.sf, self.seed)

    def warmup(self) -> list[str]:
        """One collect per query, compared with its DuckDB oracle; the
        Spark side is the warmup pass."""
        import duckdb

        from tools.verify_oracles import norm_rows

        fails = []
        con = duckdb.connect()
        try:
            for t in tables.TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables_dir}/{t}.parquet'")
            for name in self.order:
                self.attempted += 1
                sdf = self.fns[name](self.spark, self.tables_dir)
                srows = [tuple(r) for r in sdf.collect()]
                rel = con.sql(self.oracles[name])
                orows = rel.fetchall()
                self.expected_rows[name] = len(orows)
                if sorted(sdf.columns) != sorted(rel.columns):
                    fails.append(f"{name}: columns {sdf.columns} vs oracle {rel.columns}")
                elif norm_rows(sdf.columns, srows) != norm_rows(rel.columns, orows):
                    fails.append(f"{name}: {len(srows)} rows differ from the oracle's {len(orows)}")
        finally:
            con.close()
        return fails

    def _op(self, tracer: Tracer) -> OpResult:
        times, fails = {}, []
        t0 = time.time()
        with tracer.span("pipeline"):
            for name in self.order:
                with tracer.span(f"entry.{name}"):
                    t = time.time()
                    n = self.fns[name](self.spark, self.tables_dir).count()
                    times[name] = time.time() - t
                if n != self.expected_rows[name]:
                    fails.append(f"{name}: count {n}, oracle has {self.expected_rows[name]} rows")
        return OpResult(time.time() - t0, times, fails)

    def op_s(self, ops):
        """Geometric mean over the queries of each query's median time."""
        per_query = [median([o.parts[q] for o in ops]) for q in HEADLINE]
        return math.exp(sum(math.log(t) for t in per_query) / len(per_query))

    def report(self, ops):
        return {"query_geomean_s": (self.op_s(ops), "s"), "pass_s": (median([o.wall for o in ops]), "s")}

    def layer_metrics(self, tracer, snap):
        m = {}
        for q in HEADLINE:
            span = f"entry.{q}"
            s = tracer.get(span)
            jobs = snap.jobs_in(span)
            stages = snap.stages_of(jobs)
            m[f"{span}.wall_s"] = s.wall if s else 0.0
            m[f"{span}.jobs"] = len(jobs)
            m[f"{span}.scan_tasks"] = sum(st.num_tasks for st in stages if st.input_bytes > 0)
            m[f"{span}.shuffle_write_bytes"] = sum(st.shuffle_write_bytes for st in stages)
        return m


WORKLOADS = {w.name: w for w in (Crawl, DupDense, HeadlineQueries)}
