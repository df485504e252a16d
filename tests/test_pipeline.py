"""End-to-end flagship pipeline: the acceptance metric on planted data.

Gold clusters are the planted entity ids; the pipeline must recover
them at pairwise F1 ≥ 0.99 (BASELINE.json metric), including with a
planted hot surface form forcing the salted pair path, and results
must be invariant to input partitioning (the sandbox stand-in for
cluster-size invariance).
"""

import pytest
from pyspark.sql import functions as F

from medtype_spark.datagen.pages import (
    build_lexicon,
    entity_types_df,
    synth_pages,
)
from medtype_spark.pipeline import evaluate_linkage, run_linkage

N_PAGES = 300
N_ENTITIES = 40


@pytest.fixture(scope="module")
def corpus(spark):
    pages, gold = synth_pages(spark, N_PAGES, n_entities=N_ENTITIES, seed=42)
    lex = build_lexicon(N_ENTITIES)
    etypes = entity_types_df(spark, N_ENTITIES)
    return pages.cache(), gold.cache(), lex, etypes


def one_page(spark, text):
    """A one-row pages table whose html wraps ``text`` in <p>…</p>."""
    html = f"<html><body><p>{text}</p></body></html>".encode()
    return spark.createDataFrame(
        [("u1", None, html, text, "en")],
        "url:string, warc_ts:timestamp, html:binary, text:string, lang:string",
    )


def test_extraction_byte_identical(spark, corpus):
    pages, _, _, _ = corpus
    from medtype_spark.pipeline import extract_pages

    mismatches = (
        extract_pages(pages)
        .where(F.col("extracted_text") != F.col("text"))
        .count()
    )
    assert mismatches == 0


def test_extraction_multiline_both_paths(spark):
    """A <p>…</p> spanning newlines must extract identically through
    extract_text_udf (the batched scorer's page text) and the fused
    scan — guards the shared EXTRACT_RE (re.S) against flag drift."""
    from medtype_spark.operators.mentions import fused_mention_scan
    from medtype_spark.pipeline import extract_pages

    text = "line one corp0 avalanche0 here\nline two follows"
    pages = one_page(spark, text)
    got = extract_pages(pages).select("extracted_text").collect()[0][0]
    assert got == text  # extract_text_udf sees across the newline

    lex = build_lexicon(5)
    fused = fused_mention_scan(pages, lex, {})
    surfaces = {r["mention"] for r in fused.collect()}
    assert "corp0 avalanche0" in surfaces  # fused path scanned same text


def test_gold_mentions_recovered(spark, corpus):
    pages, gold, lex, _ = corpus
    from medtype_spark.operators.mentions import fused_mention_scan

    mentions = fused_mention_scan(pages, lex, {})
    # every planted span must be detected exactly
    g = gold.select("url", "start_offset", "end_offset", "mention")
    m = mentions.select("url", "start_offset", "end_offset", "mention")
    missing = g.exceptAll(m).count()
    assert missing == 0


def test_dict_scorer_types_non_ascii_alias(spark):
    """The alias→type map is keyed by the same normalization the scan
    looks forms up with, so an alias with a non-ASCII letter (dropped
    by the normalization) still gets its type."""
    import pandas as pd

    text = "intro Café Corp end"
    pages = one_page(spark, text)
    lex = pd.DataFrame([("Café Corp", "E1", 1.0, "Anatomy")],
                       columns=["alias", "eid", "score", "type"])
    etypes = spark.createDataFrame([("E1", ["Anatomy"])], "eid:string, types:array<string>")
    r = run_linkage(pages, lex, etypes)
    got = [(row["norm_form"], row["pred_type"]) for row in r["mentions"].collect()]
    for df in r["persisted_frames"]:
        df.unpersist()
    assert got == [("caf corp", ["Anatomy"])]


def test_flagship_f1(spark, corpus):
    pages, gold, lex, etypes = corpus
    result = run_linkage(pages, lex, etypes, hot_threshold=50, target_cell=25)
    row = evaluate_linkage(result["clusters"], gold).collect()[0]
    assert row["fscore"] >= 0.99, dict(row.asDict())


@pytest.fixture(scope="module")
def blend_case(spark):
    """Two aliases of one entity whose surface strings are too far apart
    for JW alone at threshold 0.85, with identical alias embeddings."""
    import pandas as pd

    from medtype_spark.operators.pairs import jaro_winkler

    a1, a2 = "corp9 alphaname", "corp9 zzguvwxyq"
    assert jaro_winkler(a1, a2) < 0.85  # JW alone is below the threshold

    text = f"intro {a1} middle {a2} end"
    pages = one_page(spark, text)
    lex = pd.DataFrame(
        [(a1, "E1", 1.0, "Anatomy"), (a2, "E1", 0.9, "Anatomy")],
        columns=["alias", "eid", "score", "type"],
    )
    etypes = spark.createDataFrame([("E1", ["Anatomy"])], "eid:string, types:array<string>")
    vec = [1.0, 0.0, 0.5]
    emb = spark.createDataFrame(
        [(a1, vec), (a2, vec)], "norm_form:string, embedding:array<double>"
    )
    return pages, lex, etypes, emb


def mention_groups(clusters):
    """The mention partition, independent of component labels."""
    groups: dict = {}
    for row in clusters.collect():
        groups.setdefault(row["entity_cluster"], set()).add(row["mention_key"])
    return {frozenset(g) for g in groups.values()}


def test_alias_embedding_blend_links_dissimilar_strings(spark, blend_case):
    """Two aliases of one entity whose surface strings are too far for
    JW alone must still link when their alias embeddings agree (the
    north star's JW + alias-embedding blended pair score)."""
    pages, lex, etypes, emb = blend_case

    def groups_of(**kw):
        r = run_linkage(pages, lex, etypes, score_threshold=0.85, **kw)
        return mention_groups(r["clusters"])

    assert len(groups_of()) == 2  # JW alone keeps them apart
    blended = groups_of(alias_embeddings=emb, jw_weight=0.3)
    assert len(blended) == 1  # embedding agreement links


def test_checkpointed_runner_matches_run_linkage(spark, blend_case, tmp_path):
    """The resumable runner runs the same stages as run_linkage, so it
    yields the same mention partition — including the embedding blend
    and the type-agreement prune."""
    from medtype_spark.plans.checkpoints import run_linkage_checkpointed

    pages, lex, etypes, emb = blend_case
    kw = dict(score_threshold=0.85, alias_embeddings=emb, jw_weight=0.3)
    direct = run_linkage(pages, lex, etypes, **kw)
    want = mention_groups(direct["clusters"])
    for df in direct["persisted_frames"]:
        df.unpersist()
    got = mention_groups(
        run_linkage_checkpointed(spark, pages, lex, etypes, str(tmp_path), **kw)
    )
    assert got == want and len(got) == 1


def test_single_path_options_rejected(spark, blend_case):
    pages, lex, etypes, _ = blend_case
    for kw in ({"pair_grain": "mention"}, {"fused": False}):
        with pytest.raises(ValueError):
            run_linkage(pages, lex, etypes, **kw)


def test_partitioning_invariance(spark, corpus):
    """Same clusters regardless of parallelism — the determinism
    prerequisite for the two-cluster-size scaling acceptance."""
    pages, gold, lex, etypes = corpus
    r1 = run_linkage(pages.repartition(2), lex, etypes)
    r2 = run_linkage(pages.repartition(16), lex, etypes)
    c1 = {(r["mention_key"], r["entity_cluster"]) for r in r1["clusters"].collect()}
    c2 = {(r["mention_key"], r["entity_cluster"]) for r in r2["clusters"].collect()}
    assert c1 == c2


def test_flagship_f1_batched_scorer(spark, corpus):
    """The flagship with the REAL learned transformer-seam scorer
    (type_scorer='batched': P4 window assembly → W5 length-sorted
    batches → S12 checkpoint load → P8/P9 threshold/decode) must hit
    the same F1 ≥ 0.99 acceptance bar as the dict scorer — the learned
    type predictions feed the pair-level type-agreement prune."""
    pages, gold, lex, etypes = corpus
    result = run_linkage(
        pages, lex, etypes, hot_threshold=50, target_cell=25,
        type_scorer="batched",
    )
    row = evaluate_linkage(result["clusters"], gold).collect()[0]
    assert row["fscore"] >= 0.99, dict(row.asDict())

    # and the learned model actually predicts the planted types: every
    # mention's prediction set contains its gold entity's type
    mentions = result["mentions"].select("mention", "pred_type")
    lex_types = {row_["alias"]: row_["type"] for _, row_ in lex.iterrows()}
    bad = [
        (r["mention"], r["pred_type"])
        for r in mentions.collect()
        if lex_types.get(r["mention"]) not in (r["pred_type"] or [])
    ]
    assert len(bad) <= 0.02 * mentions.count(), bad[:5]
