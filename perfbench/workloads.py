"""The benchmark's workloads: inputs, the timed operation, correctness checks
and the layer instrumentation of the traced run.

Every workload is closed-loop with one client and one operation at a time.
Every operation is timed, the session's first too: it pays the whole-stage
code generation and JIT compilation that every ``cli link`` process and
every fresh consumer of ``queries()`` pays. JVM and session start and the
inputs are set-up. ``items`` counts the inputs of an operation, for
``items_per_s``. Only the engine's stable public entry points are called:
``cli.main``, ``data.synth``, the public
``operators.*``/``plans.*`` functions (wrapped, never replaced, in the traced
run) and ``__spark_entry__.queries()``/``oracle_sql()``.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import sys
import time

import pandas as pd
import pyarrow.parquet as pq

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
QUERIES_DATA = os.path.join(BENCH_DIR, "data", "sf0.01")

LINK_LAYERS = (
    "blocking.normalize", "blocking.profile", "blocking.block",
    "pairs.candidates", "scoring.score", "clustering.cluster",
    "resolve.resolve", "sources.write",
)
# One bench.py HEADLINE query per engine module that link_batch does not
# run (substring_join, dedup, ann, text_analysis), plus the multimodal
# decode. Every query adds its code generation to the first pass, and a run
# of a workload has about a minute, so the headline ER queries (which re-run
# link_batch's layers) and the second dedup and text queries are left out.
QUERIES = (
    "er_substring_block", "dedup_minhash_lsh", "ann_cosine_topk",
    "text_quality", "multimodal_features",
)


def pairwise_f1(pred: pd.DataFrame, truth: pd.DataFrame) -> float:
    """Pairwise F1 of ``pred`` (conv_id, cluster_id) against ``truth``."""
    m = pred.merge(truth, on="conv_id", suffixes=("_p", "_t"), how="outer")
    if m.isna().any().any():
        return 0.0

    def pairs(sizes: pd.Series) -> int:
        return int((sizes * (sizes - 1) // 2).sum())

    tp = pairs(m.groupby(["cluster_id_p", "cluster_id_t"]).size())
    pred_pairs = pairs(m.groupby("cluster_id_p").size())
    true_pairs = pairs(m.groupby("cluster_id_t").size())
    if pred_pairs + true_pairs == 0:
        return 1.0
    return 2 * tp / (pred_pairs + true_pairs)


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from its footers (no Spark job)."""
    if not os.path.isdir(path):
        return 0
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def frame_hash(df: pd.DataFrame) -> str:
    """Order-free value hash of a query output, the same for Spark and DuckDB.

    Columns sort by name and rows by value. Floats round to 9 decimals, so
    the two engines' last-bit differences do not count; an integer still
    hashes differently from a float, as tests/test_oracle_parity.py requires.
    """
    cols = {}
    for c in sorted(df.columns):
        s = df[c]
        if s.dtype.kind == "f":
            s = s.round(9) + 0.0  # + 0.0 folds -0.0 into 0.0
        elif s.dtype.kind == "M":
            s = s.astype("datetime64[us]")
        elif s.dtype.kind == "O":
            s = s.map(lambda v: repr(list(v)) if hasattr(v, "__len__") and not isinstance(v, str) else v)
        cols[c] = s
    canon = pd.DataFrame(cols)
    canon = canon.sort_values(list(canon.columns), ignore_index=True)
    return hashlib.sha256(canon.to_csv(index=False).encode()).hexdigest()


@contextlib.contextmanager
def _patched(targets):
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, wrapper in targets:
            setattr(owner, attr, wrapper)
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


class LinkBatch:
    """``cli link`` over a stored synthetic transcripts parquet, empty registry.

    Why: this is ROADMAP's end-to-end definition (read to clusters and
    registry written), and it runs every pipeline layer, so ROADMAP B
    (profile and block parallelism), C (driver time and job counts) and the
    resolve and write path all show here.
    """

    name = "link_batch"
    n_convs = 300

    def __init__(self, ctx):
        self.ctx = ctx
        self.truth = None
        self.detail: dict = {}

    def setup(self) -> dict:
        from addressparser_spark.data.synth import synth_transcripts

        self.input = os.path.join(self.ctx.work, "transcripts")
        synth_transcripts(self.ctx.spark, self.n_convs, seed=self.ctx.seed).write.parquet(self.input)
        ids = pq.read_table(self.input, columns=["conv_id"]).column("conv_id").to_pandas()
        self.items = int(ids.nunique())
        return {"synth_convs": self.n_convs, "conv_ids": self.items, "turns": len(ids)}

    def op(self, i) -> str:
        from addressparser_spark import cli

        out = os.path.join(self.ctx.work, f"link-{i}")
        with contextlib.redirect_stdout(sys.stderr):
            cli.main(["link", "--input", self.input, "--output", out])
        return out

    def check(self, out: str) -> list[str]:
        from addressparser_spark.data.synth import synth_truth

        if self.truth is None:
            self.truth = synth_truth(self.ctx.spark.read.parquet(self.input)).toPandas()
        pred = pq.read_table(os.path.join(out, "clusters")).to_pandas()
        with open(os.path.join(out, "metrics.json")) as f:
            m = json.load(f)
        shutil.rmtree(out, ignore_errors=True)
        problems = []
        f1 = pairwise_f1(pred[["conv_id", "cluster_id"]], self.truth)
        if f1 != 1.0:
            problems.append(f"pairwise F1 {f1} != 1.0")
        sizes = pred.groupby("cluster_id")["conv_id"].transform("size")
        merged_d1 = pred[pred["conv_id"].str.endswith("_d1") & (sizes > 1)]
        if len(merged_d1):
            problems.append(f"{len(merged_d1)} _d1 distractors merged")
        if m.get("resolve_stages") != {"new": self.items}:
            problems.append(f"resolve_stages {m.get('resolve_stages')} on an empty registry")
        self.detail = {
            "pairwise_f1": f1,
            "candidate_pairs": m.get("pairs.candidates", 0),
            "matched_edges": m.get("scored.matches", 0),
        }
        return problems

    def instrument(self, tracer):
        """Wrap each layer's public function in a span that materialises its
        output; writes are actions already and are only timed."""
        from addressparser_spark.operators import blocking, resolve, scoring
        from addressparser_spark.plans import pipeline
        from addressparser_spark.sources.registry_writer import ParquetRegistryWriter
        from addressparser_spark.sources.tables import TableStore

        def layer(layer_name, fn):
            def wrapped(*args, **kwargs):
                with tracer.span(layer_name) as rec:
                    df = fn(*args, **kwargs).cache()
                    rec["rows_out"] += df.count()
                return df
            return wrapped

        def write(fn, table_of):
            def wrapped(*args, **kwargs):
                with tracer.span("sources.write") as rec:
                    fn(*args, **kwargs)
                rec["rows_out"] += parquet_rows(table_of(*args))
            return wrapped

        return _patched([
            (blocking, "normalize_turns", layer("blocking.normalize", blocking.normalize_turns)),
            (blocking, "conv_profiles", layer("blocking.profile", blocking.conv_profiles)),
            (blocking, "block_table", layer("blocking.block", blocking.block_table)),
            (pipeline, "heavy_pairs", layer("pairs.candidates", pipeline.heavy_pairs)),
            (scoring, "score_pairs", layer("scoring.score", scoring.score_pairs)),
            (pipeline, "funnel_clusters_from", layer("clustering.cluster", pipeline.funnel_clusters_from)),
            (resolve, "resolve_cascade", layer("resolve.resolve", resolve.resolve_cascade)),
            (resolve, "cascade_registry_additions",
             layer("resolve.resolve", resolve.cascade_registry_additions)),
            (TableStore, "write", write(TableStore.write, lambda s, name, *_: os.path.join(s.base, name))),
            (ParquetRegistryWriter, "merge",
             write(ParquetRegistryWriter.merge, lambda w, *_: os.path.join(w.store.base, w.name))),
        ])

    def useful_ratio(self) -> float:
        cand = self.detail.get("candidate_pairs", 0)
        return self.detail.get("matched_edges", 0) / cand if cand else 0.0


class QueriesSf001:
    """``QUERIES`` over the fixed seed-42 sf0.01 testdata, each output
    collected and hashed.

    Why: the only workload that runs ``substring_join``, ``dedup``, ``ann``,
    ``text_analysis`` and ``multimodal`` (ROADMAP B and E). It is bound by
    per-query overhead, so it is the regression tripwire for driver-side
    cost (ROADMAP C). Its input is fixed; the seed does not apply.
    """

    name = "queries_sf0.01"

    def __init__(self, ctx):
        self.ctx = ctx
        self.detail: dict = {}

    def setup(self) -> dict:
        import __spark_entry__ as entry

        self.queries = {n: entry.queries()[n] for n in QUERIES}
        self.oracle = oracle_hashes(self.ctx.cache_dir)
        self.items = pq.read_metadata(os.path.join(QUERIES_DATA, "documents.parquet")).num_rows
        return {"documents": self.items}

    def op(self, i: int) -> dict:
        """Each query runs into a ``noop`` sink; its output stays cached so
        the check can collect it after the timed region without rerunning."""
        outs, self.detail = {}, {}
        for name in QUERIES:
            t0 = time.monotonic()
            with self.ctx.span(f"queries.{name}"):
                df = self.queries[name](self.ctx.spark, QUERIES_DATA).cache()
                df.write.format("noop").mode("overwrite").save()
            self.detail[f"{name}_s"] = time.monotonic() - t0
            outs[name] = df
        return outs

    def check(self, outs: dict) -> list[str]:
        return [
            f"{n}: output hash differs from its DuckDB twin"
            for n, df in outs.items()
            if frame_hash(df.toPandas()) != self.oracle[n]
        ]

    def instrument(self, tracer):
        return contextlib.nullcontext()

    def useful_ratio(self) -> float:
        return 0.0


def oracle_hashes(cache_dir: str) -> dict[str, str]:
    """DuckDB twin output hashes of ``QUERIES``, cached per input and SQL.

    The DuckDB pass takes up to half a minute, so it runs once per checkout
    and is kept under ``cache_dir`` keyed by the oracle SQL text, the input
    files and the DuckDB version; any change to those recomputes it.
    """
    import duckdb

    import __spark_entry__ as entry

    sql = {n: entry.oracle_sql()[n] for n in QUERIES}
    key = hashlib.sha256(duckdb.__version__.encode())
    key.update(json.dumps(sql, sort_keys=True).encode())
    for t in ("documents", "embeddings"):
        with open(os.path.join(QUERIES_DATA, f"{t}.parquet"), "rb") as f:
            key.update(f.read())
    path = os.path.join(cache_dir, f"oracle-{key.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{QUERIES_DATA}/{t}.parquet')"
            )
        hashes = {n: frame_hash(con.execute(q).df()) for n, q in sql.items()}
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(hashes, f)
    os.replace(tmp, path)
    return hashes


WORKLOADS = {w.name: w for w in (LinkBatch, QueriesSf001)}
