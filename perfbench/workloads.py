"""The benchmark's workloads. Each is a single-process closed loop with
one client: the next operation starts when the previous one returns.

A workload generates its inputs (untimed, before the session starts),
runs timed operations, and checks every output afterwards. ``op`` is the
timed unit and returns its raw result; ``record`` turns that result into
what the checks need, outside the timed region; ``check`` returns one
verdict per output check, each an operation of its own in the failure
accounting.

Both workloads are one-shot jobs, as a scheduled Spark job runs: the
first op of a run is timed cold, so it includes plan compilation, the
JIT and Python worker start-up, which such a job pays on every run. A
run cannot afford a cold warm-up pass plus several warm ops, and one
warm op spread more between processes than a cold one: over five seeds
on a 4-vCPU VM, IQR/median 0.27 against 0.04-0.09.
"""

from __future__ import annotations

import contextlib
import importlib
import os
import shutil

import pandas as pd

from perfbench import gen

# Sizes are set by the run budget: every invocation starts its own JVM,
# and the driver's whole set of runs must fit in under an hour at
# local[4]. At these sizes per-job fixed cost and plan compilation
# dominate both workloads; a pipeline run is ~290 Spark jobs whatever the
# corpus size.
BUILD_TURNS = 3600  # turns in the build corpus (about 500 conversations)
BOOTSTRAP_ROUNDS = 1  # a second round re-runs the first round's plans
QUERY_DOCS = 100
QUERY_VECS = 400
DELTA_TURNS = 720  # turns in one landed delta file (about 100 conversations)
# delta files one serve op lands, then compacts. A compaction folds only
# when two batch directories besides the newest exist, so with three even
# the first op folds.
BATCHES_PER_OP = 3
SERVE_MAX_OPS = 8  # delta files are generated for this many ops

# registry query -> layer module that owns the work (span prefix). The
# graph-analytic queries (kg_pagerank, kg_components, ...) are left out:
# each costs seconds of per-job overhead and its DuckDB oracle seconds
# more; graph_analytics is measured on the build workload instead.
QUERY_MIX = {
    "kg_gold_triples_by_doc": "fused",
    "kg_pred_triples_by_doc": "fused",
    "kg_edges_by_doc": "graph",
    "dedup_lsh_pairs": "textops",
    "text_fingerprint": "textops",
    "sim_cosine_topk": "similarity",
}

# pipeline-level calls into layers, as (module holding the name, name, span)
BUILD_SPANS = [
    ("denrl_spark.plans.pipeline", "build_instances", "tagging.build_instances"),
    ("denrl_spark.plans.pipeline", "score_instances", "scoring.score_instances"),
    ("denrl_spark.plans.pipeline", "assemble_triples", "spans.assemble_triples"),
    ("denrl_spark.plans.pipeline", "run_bootstrap", "bootstrap.run_bootstrap"),
    ("denrl_spark.plans.pipeline", "triple_metrics", "evaluate.triple_metrics"),
    ("denrl_spark.plans.pipeline", "materialize_graph", "graph.materialize_graph"),
    ("denrl_spark.operators.graph_analytics", "degrees", "graph_analytics.degrees"),
    (
        "denrl_spark.operators.graph_analytics",
        "pagerank_fixedpoint",
        "graph_analytics.pagerank_fixedpoint",
    ),
    ("denrl_spark.sources.io", "write_table", "io.write_table"),
]
PIPELINE_SPAN = "pipeline.run_kg_pipeline"
# spans whose call returns no frame and whose jobs write no records, so
# they have no rows_out
ROWLESS_SPANS = {PIPELINE_SPAN, "bootstrap.run_bootstrap", "evaluate.triple_metrics"}

# the streaming layer's spans on the serve workload. process_batch runs
# on the stream's own thread, whose jobs Spark groups under the query's
# run id; the tracer maps that group to the span.
INGEST_SPANS = [
    "ingest.process_batch",
    "ingest.graph_edges_view",
    "ingest.compact_graph_deltas",
]
EDGE_COLS = [
    "src_id", "src_surface", "pred", "dst_id", "dst_surface",
    "n_obs", "n_sents", "first_sent_id", "last_sent_id",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Row-order- and column-order-free form of a result frame (the same
    normalization the contract check applies)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if len(a) != len(b) or sorted(a.columns) != sorted(b.columns):
        return False
    return normalize(a).equals(normalize(b))


def notag_f1(pred: pd.DataFrame, gold: pd.DataFrame, key: str) -> float:
    """DENRL's untagged triple F1 (evaluate.triple_metrics' ``f1``),
    recomputed in pandas: TP counts pred rows, duplicates included, whose
    (key, ent1, ent2, ent2_tag) is among the gold rows."""
    cols = [key, "ent1", "ent2", "ent2_tag"]
    gold_set = set(gold[cols].itertuples(index=False, name=None))
    tp = sum(t in gold_set for t in pred[cols].itertuples(index=False, name=None))
    p = tp / len(pred) if len(pred) else 0.0
    r = tp / len(gold) if len(gold) else 0.0
    return 2 * p * r / (p + r) if (p or r) else 0.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


class Workload:
    name = ""
    ops = 1  # operations in one timed unit, for the failure accounting
    max_ops: int | None = None  # timed units the inputs allow, None: any

    def bind(self, spark, tracer) -> None:
        self.spark = spark
        self.tracer = tracer

    @contextlib.contextmanager
    def traced_layers(self):
        """Routes calls into the layers through spans while active."""
        yield

    def layer_counts(self) -> dict[str, float]:
        """Per-layer counts of the last recorded timed unit."""
        return {}


class Build(Workload):
    """Batch KG construction: ``run_kg_pipeline`` over a seeded
    conversational corpus, with a bootstrap round, checkpoints and
    parquet KG writes."""

    name = "build"

    def __init__(self, work: str, seed: int):
        self.work = work
        self.corpus = os.path.join(work, "transcripts.parquet")
        gen.write_transcripts(self.corpus, seed, BUILD_TURNS)
        self.n_ops = 0
        self.outputs: list[dict] = []

    @contextlib.contextmanager
    def traced_layers(self):
        saved = []
        for mod_name, attr, span in BUILD_SPANS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, self.tracer.wrap(span, fn))
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def op(self) -> tuple[dict, str, str]:
        from denrl_spark.plans.pipeline import run_kg_pipeline

        self.n_ops += 1
        ck = os.path.join(self.work, f"ck{self.n_ops}")
        out = os.path.join(self.work, f"out{self.n_ops}")
        report = self.tracer.call(
            PIPELINE_SPAN,
            run_kg_pipeline,
            self.spark,
            transcripts=self.spark.read.parquet(self.corpus),
            bootstrap_rounds=BOOTSTRAP_ROUNDS,
            checkpoint_dir=ck,
            output_dir=out,
        )
        return report, ck, out

    def record(self, result: tuple[dict, str, str]) -> None:
        report, ck, out = result
        self.tracer.release()
        stats = report["bootstrap_stats"]
        self.outputs.append(
            {
                "report": report,
                "edges": self.spark.read.parquet(os.path.join(out, "edges")).toPandas(),
                "checkpoint_bytes": dir_bytes(ck),
                "trust_ratio": sum(s["n_trust"] for s in stats)
                / max(1, sum(s["n_selected"] for s in stats)),
            }
        )
        shutil.rmtree(ck)
        shutil.rmtree(out)

    def check(self) -> list[bool]:
        """Every run's edge table equals an independent rebuild's (fused
        pred extraction -> materialize_graph) over the same corpus, and
        its F1 equals the F1 recomputed in pandas from the fused pred and
        gold triples."""
        from denrl_spark.operators.fused import extract_triples_fused
        from denrl_spark.operators.graph import materialize_graph

        tr = self.spark.read.parquet(self.corpus)
        pred = extract_triples_fused(tr, mode="pred").cache()
        gold = extract_triples_fused(tr, mode="gold").toPandas()
        _, edges = materialize_graph(pred, eager="edges")
        want_edges = edges.toPandas()
        want_f1 = notag_f1(pred.toPandas(), gold, "sent_id")
        pred.unpersist()
        verdicts = []
        for o in self.outputs:
            verdicts.append(frames_equal(o["edges"], want_edges))
            verdicts.append(o["report"]["f1"] == want_f1)
        return verdicts

    def layer_counts(self) -> dict[str, float]:
        o = self.outputs[-1]
        r = o["report"]
        return {
            "tagging.instances_per_turn": r["n_instances"] / r["n_turns"],
            "bootstrap.trust_ratio": o["trust_ratio"],
            "checkpoints.bytes_written": o["checkpoint_bytes"],
        }


class Serve(Workload):
    """Reads beside writes, as a scheduled KG refresh job runs them. One
    op runs the analytic read mix (oracled registry queries over a seeded entity-dense documents +
    embeddings corpus), then incremental KG maintenance: it lands
    ``BATCHES_PER_OP`` seeded transcript files one at a time, waits for
    ``stream_graph_deltas`` to commit each (``processAllAvailable``),
    reads ``graph_edges_view`` after each, stops the stream and runs
    ``compact_graph_deltas``, which must not run beside a writer."""

    name = "serve"
    # a timed unit is one op: each query, micro-batch, view read and
    # compaction is an operation
    ops = len(QUERY_MIX) + 2 * BATCHES_PER_OP + 1
    max_ops = SERVE_MAX_OPS

    def __init__(self, work: str, seed: int):
        self.work = work
        gen.write_documents(os.path.join(work, "documents.parquet"), seed, QUERY_DOCS)
        gen.write_embeddings(os.path.join(work, "embeddings.parquet"), seed, QUERY_VECS)
        staged = os.path.join(work, "staged")
        os.makedirs(staged)
        self.staged = gen.write_transcript_files(
            staged, seed, SERVE_MAX_OPS * BATCHES_PER_OP, DELTA_TURNS
        )
        self.landing = os.path.join(work, "landing")
        os.makedirs(self.landing)
        self.sink = os.path.join(work, "sink")
        self.stream_ck = os.path.join(work, "stream_ck")
        self.landed = 0
        self.passes: list[dict[str, pd.DataFrame]] = []
        self.ingest_stats: list[dict[str, float]] = []

    def _query(self, q: str) -> pd.DataFrame:
        from denrl_spark.plans.driver_queries import QUERIES

        return QUERIES[q](self.spark, self.work).toPandas()

    def _land_and_commit(self, stream) -> None:
        path = self.staged[self.landed]
        os.rename(path, os.path.join(self.landing, os.path.basename(path)))
        self.landed += 1
        stream.processAllAvailable()

    def _view_rows(self) -> int:
        from denrl_spark.streaming.ingest import graph_edges_view

        return graph_edges_view(self.spark, self.sink).count()

    def op(self) -> tuple[dict[str, pd.DataFrame], int]:
        from denrl_spark.streaming.ingest import (
            compact_graph_deltas,
            stream_graph_deltas,
            stream_transcripts,
        )

        results = {
            q: self.tracer.call(f"{mod}.{q}", self._query, q)
            for q, mod in QUERY_MIX.items()
        }
        stream = stream_graph_deltas(
            stream_transcripts(self.spark, self.landing, max_files_per_trigger=1),
            self.sink,
            self.stream_ck,
        )
        self.tracer.group_alias(stream.runId, "ingest.process_batch")
        try:
            for _ in range(BATCHES_PER_OP):
                self.tracer.call("ingest.process_batch", self._land_and_commit, stream)
                self.tracer.call("ingest.graph_edges_view", self._view_rows)
        finally:
            stream.stop()
        delta_files = parquet_files(self.sink)  # the most the log holds
        self.tracer.call(
            "ingest.compact_graph_deltas", compact_graph_deltas, self.spark, self.sink
        )
        return results, delta_files

    def record(self, result: tuple[dict[str, pd.DataFrame], int]) -> None:
        results, delta_files = result
        self.passes.append(results)
        self.ingest_stats.append(
            {
                "ingest.delta_files_max": delta_files,
                "ingest.compact_bytes_rewritten": sum(
                    dir_bytes(os.path.join(self.sink, part, "batch_id=-1"))
                    for part in os.listdir(self.sink)
                ),
                "ingest.sink_bytes_per_turn": dir_bytes(self.sink)
                / (self.landed * DELTA_TURNS),
            }
        )

    def check(self) -> list[bool]:
        """Each query result of every pass matches its DuckDB oracle, and
        the compacted edge view equals ``materialize_graph`` over every
        landed file."""
        import duckdb

        from denrl_spark.operators.fused import extract_triples_fused
        from denrl_spark.operators.graph import materialize_graph
        from denrl_spark.plans.driver_queries import ORACLES
        from denrl_spark.streaming.ingest import graph_edges_view

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.work, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            want = {q: con.execute(ORACLES[q]).df() for q in QUERY_MIX}
        finally:
            con.close()
        verdicts = [frames_equal(p[q], want[q]) for p in self.passes for q in QUERY_MIX]

        trips = extract_triples_fused(self.spark.read.parquet(self.landing)).cache()
        _, edges = materialize_graph(trips, eager="edges")
        want_edges = edges.select(EDGE_COLS).toPandas()
        trips.unpersist()
        got = graph_edges_view(self.spark, self.sink).select(EDGE_COLS).toPandas()
        verdicts.append(frames_equal(got, want_edges))
        return verdicts

    def layer_counts(self) -> dict[str, float]:
        return self.ingest_stats[-1]


WORKLOADS = {w.name: w for w in (Build, Serve)}
