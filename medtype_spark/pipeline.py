"""The flagship record-linkage pipeline, end-to-end.

One path, four named stages (``run_linkage`` composes them, and
plans/checkpoints.py:run_linkage_checkpointed runs the same functions
as resumable stages):

1. ``scan_mentions`` — ONE fused mapInPandas hop over ``pages(url,
   html, ...)``: byte-identical text extraction → dictionary mention
   detection + candidate generation → normalized form / blocking key
   (head token) → semantic-type prediction (broadcast alias→type
   lookup or the deterministic stub scorer).  ``type_scorer="batched"``
   adds the MedType-style batched transformer seam as a second hop.
2. ``form_units`` — distinct normalized surface forms per block, with
   the union of their mentions' predicted types (and optional alias
   embeddings).
3. ``form_edges`` — skew-aware salted within-block pairs of forms,
   Jaro-Winkler scoring (optionally blended with alias-embedding
   cosine), and the type-agreement prune (the MedType filter,
   .../server/__init__.py:524-544, applied as type-filtered blocking).
4. ``form_clusters`` — connected components over the form graph,
   projected back onto mentions: the cluster table
   (mention_key, entity_cluster), evaluated by pairwise F1 vs gold.

This restates the reference's serving dataflow (SURVEY.md §3.1) as one
declarative Spark plan per stage; every process boundary of the
ZMQ ventilator/worker/sink design collapses into a shuffle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType
from pyspark.storagelevel import StorageLevel

from medtype_spark.metrics.clustering import pairwise
from medtype_spark.operators.blocking import block_pairs
from medtype_spark.operators.cc import connected_components
from medtype_spark.operators.mentions import fused_mention_scan, normalize_form_py
from medtype_spark.operators.pairs import score_pairs


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Extract body text from page html, byte-identical per url.

    The per-row invariant of the north rule (analogue of the
    length-preserving clean_text asserted at
    medtype-trainer/dump_linkers_output.py:147,195).
    """
    from medtype_spark.operators.mentions import EXTRACT_RE

    decoded = html.str.decode("utf-8", errors="replace").fillna("")
    return decoded.str.extract(EXTRACT_RE, expand=False).fillna("")


def extract_pages(pages: DataFrame) -> DataFrame:
    return pages.withColumn("extracted_text", extract_text_udf(F.col("html")))


def alias_types(lexicon: pd.DataFrame) -> dict[str, list[str]]:
    """normalized alias → sorted coarse types, keyed exactly as the
    scan looks forms up (``normalize_form_py``)."""
    a2t: dict[str, set] = {}
    for alias, ty in zip(lexicon["alias"], lexicon["type"]):
        a2t.setdefault(normalize_form_py(alias), set()).add(ty)
    return {k: sorted(v) for k, v in a2t.items()}


# --- the four stages ---------------------------------------------------

def scan_mentions(
    pages: DataFrame, lexicon: pd.DataFrame, type_scorer: str, matcher: str
) -> DataFrame:
    """Stage 1: mentions with mention_key, norm_form, block_key and
    pred_type, from the fused single-hop scan.

    ``type_scorer``: "dict" (broadcast alias→type lookup), "stub"
    (deterministic md5 linear head), or "batched" — the MedType-style
    batched transformer path: token-window assembly (P4), length-sorted
    padded batches (W5), a REAL learned 2-layer checkpoint loaded once
    per worker (S12, tools/train_type_model.py), sigmoid threshold +
    type decode (P8/P9), joined back per mention.
    """
    if type_scorer == "dict":
        a2t = alias_types(lexicon)
    elif type_scorer == "stub":
        a2t = None  # the scan's built-in stub scorer
    elif type_scorer == "batched":
        a2t = {}  # empty pred_type from the scan, replaced below
    else:
        raise ValueError(type_scorer)
    mentions = fused_mention_scan(pages, lexicon, a2t, matcher=matcher)
    if type_scorer != "batched":
        return mentions
    from medtype_spark.operators.batching import batched_type_predictions

    # the windows need page text; extract_pages applies the scan's
    # EXTRACT_RE, so the mention offsets line up
    preds = batched_type_predictions(mentions, extract_pages(pages))
    return mentions.drop("pred_type").join(preds, "mention_key", "left").withColumn(
        "pred_type", F.coalesce(F.col("pred_type"), F.array().cast("array<string>"))
    )


def form_units(mentions: DataFrame, alias_embeddings: DataFrame | None) -> DataFrame:
    """Stage 2: one row per (block_key, norm_form).

    pred_type at form grain is the UNION over the form's mention
    instances: deterministic (unlike first()), and for contextual
    scorers a union only widens type agreement — a pair is pruned only
    when NO instance contexts of the two forms share a type.  explode +
    collect_set, NOT collect_list-of-arrays: collect_set partially
    aggregates map-side (≤24 types per form per map partition cross the
    shuffle), where collect_list would move every mention's array into
    the form's single reducer — a hot surface form (15% of a corpus)
    becomes a straggler task.  explode_outer keeps all-empty forms
    alive (collect_set skips the null → empty set).

    ``alias_embeddings`` (norm_form, embedding), when given, is
    broadcast-joined as ``alias_vec``.
    """
    units = (
        mentions.select(
            "block_key", "norm_form", F.explode_outer("pred_type").alias("_ty")
        )
        .groupBy("block_key", "norm_form")
        .agg(F.array_sort(F.collect_set("_ty")).alias("pred_type"))
    )
    if alias_embeddings is None:
        return units
    emb = alias_embeddings.select("norm_form", F.col("embedding").alias("alias_vec"))
    return units.join(F.broadcast(emb), "norm_form", "left")


def form_edges(
    units: DataFrame,
    score_threshold: float,
    hot_threshold: int,
    target_cell: int,
    require_type_agreement: bool,
    jw_weight: float,
    persist_registry: list,
) -> DataFrame:
    """Stage 3: form graph edges (src, dst) — salted within-block pairs
    scored by Jaro-Winkler (blended with alias-embedding cosine when
    ``units`` carries ``alias_vec``; forms without an embedding fall
    back to pure JW), kept at ``score >= score_threshold``.

    ``require_type_agreement`` prunes pairs whose predicted type sets
    are both non-empty and disjoint (MedType's filter semantics: an
    empty prediction never prunes, __init__.py:530-536).
    ``persist_registry`` receives block_pairs' persisted input; the
    caller unpersists it once the edges are consumed.
    """
    vec = "alias_vec" in units.columns
    pairs = block_pairs(
        units,
        key_col="block_key",
        id_col="norm_form",
        hot_threshold=hot_threshold,
        target_cell=target_cell,
        extra_cols=["pred_type", "alias_vec"] if vec else ["pred_type"],
        persist_registry=persist_registry,
    )
    scored = score_pairs(
        pairs, a_text="a_norm_form", b_text="b_norm_form",
        a_vec="a_alias_vec" if vec else None, b_vec="b_alias_vec" if vec else None,
        jw_weight=jw_weight,
    )
    cond = F.col("score") >= F.lit(score_threshold)
    if require_type_agreement:
        cond = cond & (
            (F.size("a_pred_type") == 0)
            | (F.size("b_pred_type") == 0)
            | (F.size(F.array_intersect("a_pred_type", "b_pred_type")) > 0)
        )
    return scored.where(cond).select(
        F.col("a_norm_form").alias("src"), F.col("b_norm_form").alias("dst")
    )


def form_clusters(
    mentions: DataFrame,
    edges: DataFrame,
    cc_small_graph_threshold: int | None,
    cc_stats: dict | None,
) -> DataFrame:
    """Stage 4: connected components of the form graph, projected back
    onto mentions as (mention_key, entity_cluster).  Same mention
    clusters as scoring mention pairs (the score is a pure function of
    the normalized form, and same-form mentions are trivially
    JW=1.0-linked) at a fraction of the cost: the within-block
    quadratic runs over the form *vocabulary* (Zipf — sublinear in
    corpus size), not mention instances."""
    comps = connected_components(
        edges,
        vertices=mentions.select(F.col("norm_form").alias("node")),
        small_graph_threshold=cc_small_graph_threshold,
        stats=cc_stats,
    )
    return (
        mentions.select("mention_key", "norm_form")
        .join(comps.withColumnRenamed("node", "norm_form"), "norm_form")
        .select("mention_key", F.col("component").alias("entity_cluster"))
    )


def check_single_path(pair_grain: str, fused: bool) -> None:
    """``pair_grain`` and ``fused`` have one value each; they stay in
    ``run_linkage``'s signature only because the frozen benchmark
    (perfbench/workloads.py) reads them by name."""
    if pair_grain != "form" or fused is not True:
        raise ValueError(
            f"only pair_grain='form', fused=True exist (got {pair_grain!r}, {fused!r})"
        )


# --- the full pipeline -------------------------------------------------

def run_linkage(
    pages: DataFrame,
    lexicon: pd.DataFrame,
    entity_types: DataFrame,
    score_threshold: float = 0.92,
    hot_threshold: int = 10000,
    target_cell: int = 2000,
    require_type_agreement: bool = True,
    pair_grain: str = "form",
    type_scorer: str = "dict",
    fused: bool = True,
    alias_embeddings: DataFrame | None = None,
    jw_weight: float = 0.5,
    cc_small_graph_threshold: int | None = 1_000_000,
    cc_stats: dict | None = None,
    matcher: str = "trie",
) -> dict[str, DataFrame]:
    """Run the four stages; returns mentions, edges, clusters and
    ``persisted_frames``.

    The caller owns the caches: consume the result (e.g. evaluate a
    downstream row), then unpersist every frame in
    ``result["persisted_frames"]``.  Folding eval into the final job
    this way saves a whole materialization of the mention-grain cluster
    table when only a derived aggregate is needed.

    ``entity_types`` is unused (the type filter acts at pair level via
    pred_type); it stays positional because the frozen benchmark passes
    it.  ``pair_grain`` ("form") and ``fused`` (True) accept one value
    each, for the same reason; anything else raises ValueError.

    ``type_scorer``: see ``scan_mentions``.  ``alias_embeddings`` /
    ``jw_weight``: optional (norm_form, embedding: array<double>)
    dimension blended into the pair score (the north star's
    "Jaro-Winkler + alias-embedding pairwise scores within salted
    blocks").  ``matcher``: "trie" (regex automaton, the general path)
    or "set" (broadcast hash-set gazetteer, token-boundary contract —
    see operators/mentions.py:iter_set_matches).
    ``cc_small_graph_threshold`` / ``cc_stats`` pass through to
    connected_components (stats records which CC path executed).
    """
    check_single_path(pair_grain, fused)
    # the mention table feeds form units, CC vertices and the cluster
    # projection — persist so the python scan executes exactly once
    mentions = scan_mentions(pages, lexicon, type_scorer, matcher).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    persisted: list[DataFrame] = [mentions]
    units = form_units(mentions, alias_embeddings)
    edges = form_edges(
        units, score_threshold, hot_threshold, target_cell,
        require_type_agreement, jw_weight, persisted,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    persisted.append(edges)
    clusters = form_clusters(mentions, edges, cc_small_graph_threshold, cc_stats)
    return {
        "mentions": mentions,
        "edges": edges,
        "clusters": clusters,
        "persisted_frames": persisted,
    }


def evaluate_linkage(clusters: DataFrame, gold: DataFrame) -> DataFrame:
    """Pairwise linkage P/R/F vs gold planted clusters (the acceptance
    metric, coref_metrics.py:605-611)."""
    gold_clusters = gold.select(
        F.concat_ws("#", F.col("url"), F.col("start_offset").cast("string")).alias("mention"),
        F.col("entity_id").alias("cluster"),
    )
    pred_clusters = clusters.select(
        F.col("mention_key").alias("mention"), F.col("entity_cluster").alias("cluster")
    )
    return pairwise(gold_clusters, pred_clusters)


def partition_metrics(df: DataFrame) -> DataFrame:
    """Per-partition metrics table (rows per partition) — the batch
    analogue of the reference's ServerStatistic
    (.../server/__init__.py:605-673)."""
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.col("_pid").alias("partition_id"), "n_rows")
    )
