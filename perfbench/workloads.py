"""Benchmark workloads: corpus set-up, one op, its output check, and the
layer-by-layer traced composition of the same op.

One op is ``read_pages_table -> run_linkage -> evaluate_linkage``, with
the evaluation row collected.  The traced composition calls the public
functions of each linkage module in the order ``run_linkage`` does, with
a materialization after each layer, every layer in its own job group.
Its evaluation row must equal the untraced one.
"""

from __future__ import annotations

import inspect
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# --seed selects one of N_VARIANTS corpora per workload, so every corpus
# a run can meet has a recorded fingerprint and evaluation row.
N_VARIANTS = 4
MIN_F1 = 0.99
EVAL_KEYS = ("p_num", "p_den", "r_num", "r_den")
LAYERS = ("mentions", "blocking", "pairs", "cc", "metrics")


@dataclass(frozen=True)
class Workload:
    name: str
    base_seed: int
    n_pages: int
    n_entities: int
    n_families: int
    partitions: int
    salted: bool                  # the traced run must see salted blocks
    distributed_cc: bool          # ... and CC's distributed path
    family_zipf: float | None = None
    corpus: dict = field(default_factory=dict)   # extra synth_pages kwargs
    linkage: dict = field(default_factory=dict)  # run_linkage kwargs

    def corpus_seed(self, seed: int) -> int:
        return self.base_seed + seed % N_VARIANTS


WORKLOADS = {
    # Mention-grain work: a 150-entity vocabulary, long filler gaps.
    # CC takes the driver-side small path and no block is salted.  At
    # this size blocking's fixed cost (22 jobs over 300 forms) is still
    # its largest layer.
    "link-scan": Workload(
        name="link-scan", base_seed=42, n_pages=5_000, n_entities=150,
        n_families=7, partitions=8, salted=False, distributed_cc=False,
        corpus=dict(mentions_per_page=8, gap_words=10),
        linkage=dict(type_scorer="stub"),
    ),
    # Form-grain work: Zipf families and Zipf mention choice over a
    # large vocabulary (the tools/skew_scaling_bench.py shape), with the
    # thresholds set so that salting and the distributed CC path run.
    # Its ops are mostly fixed per-job cost, so a small corpus keeps
    # three timed ops within a run of about a minute.
    "link-skew": Workload(
        name="link-skew", base_seed=77, n_pages=1_000, n_entities=1_000,
        n_families=250, partitions=8, salted=True, distributed_cc=True,
        family_zipf=0.6,
        corpus=dict(mentions_per_page=8, mention_zipf=1.05),
        linkage=dict(type_scorer="stub", matcher="set", hot_threshold=16,
                     target_cell=8, cc_small_graph_threshold=128),
    ),
}


# --- set-up -------------------------------------------------------------

@dataclass
class Corpus:
    pages_path: str
    gold_path: str
    lexicon: object       # pandas alias table
    entity_types: object  # Spark DataFrame
    fingerprint: dict


def table_fingerprint(df) -> tuple[int, str]:
    """Row count and an order-insensitive content digest of ``df``."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


def make_dimensions(spark, wl: Workload):
    from medtype_spark.datagen.pages import build_lexicon, entity_types_df

    lex = build_lexicon(wl.n_entities, wl.n_families, family_zipf=wl.family_zipf)
    etypes = entity_types_df(spark, wl.n_entities, wl.n_families,
                             family_zipf=wl.family_zipf)
    return lex, etypes


def write_corpus(spark, wl: Workload, seed: int, workdir: str) -> tuple[str, str, dict]:
    """Generate the seeded corpus, write it as the pages table plus a
    gold parquet under ``workdir``, and fingerprint what was written."""
    from medtype_spark.datagen.pages import synth_pages
    from medtype_spark.sources.pages_table import read_pages_table, write_pages_table

    pages, gold = synth_pages(
        spark, wl.n_pages, n_entities=wl.n_entities, seed=wl.corpus_seed(seed),
        n_families=wl.n_families, family_zipf=wl.family_zipf,
        partitions=wl.partitions, **wl.corpus,
    )
    pages_path = os.path.join(workdir, "pages")
    gold_path = os.path.join(workdir, "gold")
    write_pages_table(pages, pages_path)
    gold.write.mode("overwrite").parquet(gold_path)
    p_rows, p_digest = table_fingerprint(read_pages_table(spark, pages_path))
    g_rows, g_digest = table_fingerprint(spark.read.parquet(gold_path))
    fp = {"corpus_seed": wl.corpus_seed(seed), "pages_rows": p_rows,
          "pages_digest": p_digest, "gold_rows": g_rows, "gold_digest": g_digest}
    return pages_path, gold_path, fp


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024.0 * 1024.0)


# --- output checks ----------------------------------------------------------

def check_fingerprint(fp: dict, expected: dict | None) -> list[str]:
    if expected is None:
        return ["no recorded fingerprint for this corpus"]
    return [f"{k}: {fp.get(k)!r} != recorded {v!r}"
            for k, v in expected.items() if k in fp and fp[k] != v]


def check_eval(row: dict, expected: dict | None) -> list[str]:
    """Problems with one evaluation row: the exact pair counts must
    match the recording and F1 must reach MIN_F1."""
    problems = []
    if expected is None:
        problems.append("no recorded evaluation row for this corpus")
    else:
        problems += [f"{k}: {row.get(k)!r} != recorded {expected[k]!r}"
                     for k in EVAL_KEYS if row.get(k) != expected[k]]
    f1 = row.get("fscore")
    if f1 is None or not f1 >= MIN_F1:
        problems.append(f"fscore {f1!r} < {MIN_F1}")
    return problems


def check_emphasis(wl: Workload, counters: dict) -> list[str]:
    """The workload must have the layer emphasis it exists for: hot blocks
    in the blocking input, and CC's distributed path as CC reports it."""
    problems = []
    if (counters["blocking.salted_blocks"] > 0) != wl.salted:
        problems.append(f"blocking.salted_blocks = {counters['blocking.salted_blocks']}")
    if counters["cc.distributed"] != int(wl.distributed_cc):
        problems.append(f"cc.distributed = {counters['cc.distributed']}")
    return problems


def check_same_eval(a: dict, b: dict) -> list[str]:
    return [f"{k}: traced {b.get(k)!r} != untraced {a.get(k)!r}"
            for k in (*EVAL_KEYS, "fscore") if a.get(k) != b.get(k)]


# --- one op -----------------------------------------------------------------

def run_op(spark, wl: Workload, corpus: Corpus) -> dict:
    """read_pages_table -> run_linkage -> evaluate_linkage, row collected."""
    from medtype_spark.pipeline import evaluate_linkage, run_linkage
    from medtype_spark.sources.pages_table import read_pages_table

    pages = read_pages_table(spark, corpus.pages_path)
    gold = spark.read.parquet(corpus.gold_path)
    result = run_linkage(pages, corpus.lexicon, corpus.entity_types, **wl.linkage)
    try:
        return evaluate_linkage(result["clusters"], gold).collect()[0].asDict()
    finally:
        for df in result["persisted_frames"]:
            df.unpersist()


# --- the traced composition ---------------------------------------------------

def linkage_params(wl: Workload) -> dict:
    """run_linkage's defaults overlaid with the workload's arguments, so
    the traced glue uses exactly the thresholds the op uses."""
    from medtype_spark.pipeline import run_linkage

    params = {k: p.default for k, p in inspect.signature(run_linkage).parameters.items()
              if p.default is not inspect.Parameter.empty}
    params.update(wl.linkage)
    return params


@contextmanager
def job_group(spark, group: str, walls: dict | None = None):
    """Run the body's Spark jobs under ``group``; record its wall time."""
    spark.sparkContext.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        yield
    finally:
        if walls is not None:
            walls[group] = time.perf_counter() - t0


def traced_op(spark, wl: Workload, corpus: Corpus, rep: str) -> tuple[dict, dict, dict]:
    """The op, layer by layer.  Layer ``L`` runs under job group
    ``f"{rep}.{L}"``; the counters are computed afterwards under
    ``f"{rep}.stats"`` so they never add jobs to a layer.

    Returns (evaluation row, {group: wall seconds}, counters).
    """
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from medtype_spark.operators.blocking import block_pairs
    from medtype_spark.operators.cc import connected_components
    from medtype_spark.operators.mentions import fused_mention_scan
    from medtype_spark.operators.pairs import jaro_winkler_udf
    from medtype_spark.pipeline import evaluate_linkage
    from medtype_spark.sources.pages_table import read_pages_table

    p = linkage_params(wl)
    if p["type_scorer"] != "stub" or p["pair_grain"] != "form" or not p["fused"]:
        raise ValueError("traced composition covers the fused, form-grain, stub-scored op")
    mem_disk = StorageLevel.MEMORY_AND_DISK
    walls: dict[str, float] = {}
    held = []

    def hold(df):
        held.append(df)
        return df

    try:
        with job_group(spark, f"{rep}.mentions", walls):
            pages = read_pages_table(spark, corpus.pages_path)
            mentions = hold(fused_mention_scan(
                pages, corpus.lexicon, None, matcher=p["matcher"]).persist(mem_disk))
            n_mentions = mentions.count()

        with job_group(spark, f"{rep}.blocking", walls):
            # form units, as run_linkage builds them at pair_grain="form"
            units = (
                mentions.select("block_key", "norm_form",
                                F.explode_outer("pred_type").alias("_ty"))
                .groupBy("block_key", "norm_form")
                .agg(F.array_sort(F.collect_set("_ty")).alias("pred_type"))
            )
            pairs = hold(block_pairs(
                units, key_col="block_key", id_col="norm_form",
                hot_threshold=p["hot_threshold"], target_cell=p["target_cell"],
                extra_cols=["pred_type"], persist_registry=held,
            ).persist(mem_disk))
            n_pairs = pairs.count()

        with job_group(spark, f"{rep}.pairs", walls):
            scored = pairs.withColumn(
                "score", F.round(jaro_winkler_udf(F.col("a_norm_form"),
                                                  F.col("b_norm_form")), 3))
            cond = F.col("score") >= F.lit(p["score_threshold"])
            if p["require_type_agreement"]:
                cond = cond & (
                    (F.size("a_pred_type") == 0)
                    | (F.size("b_pred_type") == 0)
                    | (F.size(F.array_intersect("a_pred_type", "b_pred_type")) > 0)
                )
            edges = hold(scored.where(cond).select(
                F.col("a_norm_form").alias("src"), F.col("b_norm_form").alias("dst"),
            ).persist(mem_disk))
            n_edges = edges.count()

        cc_stats: dict = {}
        with job_group(spark, f"{rep}.cc", walls):
            comps = hold(connected_components(
                edges, vertices=units.select(F.col("norm_form").alias("node")),
                small_graph_threshold=p["cc_small_graph_threshold"], stats=cc_stats,
            ).persist(mem_disk))
            comps.count()

        with job_group(spark, f"{rep}.metrics", walls):
            clusters = (
                mentions.select("mention_key", "norm_form")
                .join(comps.withColumnRenamed("node", "norm_form"), "norm_form")
                .select("mention_key", F.col("component").alias("entity_cluster"))
            )
            gold = spark.read.parquet(corpus.gold_path)
            row = evaluate_linkage(clusters, gold).collect()[0].asDict()

        with job_group(spark, f"{rep}.stats"):
            # "salted" counts the input blocks above hot_threshold, the ones
            # block_pairs' rule salts; it does not observe that salting ran
            blocks = units.groupBy("block_key").count().agg(
                F.sum("count").alias("units"),
                F.max("count").alias("max_units"),
                F.sum((F.col("count") > p["hot_threshold"]).cast("long")).alias("salted"),
            ).collect()[0]
            n_components = comps.select("component").distinct().count()
    finally:
        for df in held:
            df.unpersist()
        spark.sparkContext.setJobGroup(f"{rep}.done", f"{rep}.done")

    counters = {
        "mentions.rows_out": n_mentions,
        "mentions.input_mb": dir_mb(corpus.pages_path),
        "blocking.units": int(blocks["units"] or 0),
        "blocking.max_block_units": int(blocks["max_units"] or 0),
        "blocking.salted_blocks": int(blocks["salted"] or 0),
        "blocking.pairs_out": n_pairs,
        "pairs.edges_out": n_edges,
        "pairs.edge_yield": n_edges / n_pairs if n_pairs else 0.0,
        "cc.distributed": int(cc_stats.get("path") == "distributed"),
        "cc.rounds": int(cc_stats.get("rounds", 0)),
        "cc.components": n_components,
        "metrics.pairwise_f1": row["fscore"],
    }
    return row, walls, counters
