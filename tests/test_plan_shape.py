"""Plan-shape regression gates: the scale discipline as assertions.

SCALE.md's design claims are checkable on the physical plan — one wide
exchange feeding the whole extract chain, broadcast dictionary joins,
column-pruned + filter-pushed page scans, and no quadratic join
operators anywhere. These tests freeze those properties so a future
edit that silently drops a broadcast hint or widens the scan fails CI,
not a 100 TB run.
"""

import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _exchange_ids(plan: str) -> set[str]:
    """Distinct physical hash exchanges (the tree printer repeats a
    reused exchange once per consuming branch — dedup by plan_id)."""
    return set(
        re.findall(r"Exchange hashpartitioning\([^\n]*\[plan_id=(\d+)\]", plan)
    )


def test_kg_plan_shape(spark, tmp_path):
    from theoremkb_spark.pipeline.extract import load_pages
    from theoremkb_spark.pipeline.runner import build_kg, load_entity_dict

    pages_path = str(tmp_path / "pages.parquet")
    load_pages(spark, 24).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    plan = _plan(build_kg(spark, pages, load_entity_dict(spark, 24)))

    # page scan: pruned to exactly (url, html, lang), english filter pushed
    scans = re.findall(r"FileScan parquet \[([^\]]*)\][^\n]*", plan)
    page_scans = [s for s in scans if "html" in s]
    assert page_scans, plan
    for s in page_scans:
        cols = {c.split("#")[0] for c in s.split(",")}
        assert cols == {"url", "html", "lang"}, cols
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan

    # exactly ONE wide repartition (the url-hash exchange) feeds every
    # branch; the only other hash exchanges are the final triple rollup
    # and the tiny dico dedup
    repart = {
        pid
        for pid in re.findall(
            r"Exchange hashpartitioning\([^\n]*REPARTITION_BY_NUM[^\n]*\[plan_id=(\d+)\]",
            plan,
        )
    }
    assert len(repart) == 1, plan
    assert len(_exchange_ids(plan)) <= 4, _exchange_ids(plan)

    # map-only extraction: the Arrow UDF consumes the scan directly and
    # the repartition consumes the UDF's (40x smaller) output — in the
    # printed tree the Exchange sits ABOVE the first MapInPandas. The
    # inverted order would mean the html corpus shuffles before
    # extraction (the round-1 plan, measured 1.6-2.7x slower).
    assert plan.index("REPARTITION_BY_NUM") < plan.index("MapInPandas"), (
        "pages are being shuffled before extraction"
    )

    # dictionary joins broadcast; nothing quadratic anywhere
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # round 6: the broadcast-regime fused path assembles triples in ONE
    # pass (conditional-explode + a single dico join) and the rollup
    # groupBy(subj, pred, obj, url) reuses the url repartition's
    # HashPartitioning — a regression that re-shuffles the triples by
    # their full key shows up as a hashpartitioning on subj
    assert "hashpartitioning(subj" not in plan, "triple rollup re-shuffles"
    # ONE explode, over the two-element array of conditional triples
    # (statement_of / cites first, proved_in / defined_in second)
    (gen,) = [ln for ln in plan.splitlines() if "Generate " in ln]
    head, tail = gen.split(" END, CASE WHEN ")  # exactly two CASE elements
    assert "Generate explode(array(CASE WHEN " in head, gen
    assert "statement_of" in head and "proved_in" in tail and "defined_in" in tail


def test_fuzzy_link_plan_broadcasts_dictionary(spark):
    from theoremkb_spark.pipeline.link import fuzzy_link_lsh

    mentions = spark.createDataFrame(
        [(i, f"mention text number {i}") for i in range(50)], "id long, key string"
    )
    dictionary = spark.createDataFrame(
        [(i, f"dictionary text number {i}") for i in range(50)], "id long, key string"
    )
    plan = _plan(fuzzy_link_lsh(mentions, dictionary))
    # the bucket join broadcasts the banded dictionary rows (round 6:
    # NARROW id/band/sig rows — the sz/sset arrays attach to the deduped
    # candidate pairs afterwards, guide-§8 style). The two attach joins
    # plan as SortMergeJoin statically because the candidate-pair
    # cardinality is unknowable pre-execution; AQE rewrites both to
    # broadcast at runtime (asserted on the executed plan below in
    # test_fuzzy_link_runtime_joins_are_broadcast), so only candidate
    # generation is pinned here.
    assert plan.count("BroadcastHashJoin") >= 1
    assert plan.count("SortMergeJoin") <= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_link_runtime_joins_are_broadcast(spark):
    """The executed (AQE-final) plan must contain no SortMergeJoin: the
    attach joins' candidate side is runtime-small and AQE converts both
    to broadcast once actual sizes are known."""
    from theoremkb_spark.pipeline.link import fuzzy_link_lsh

    mentions = spark.createDataFrame(
        [(i, f"mention text number {i}") for i in range(50)], "id long, key string"
    )
    dictionary = spark.createDataFrame(
        [(i, f"dictionary text number {i}") for i in range(50)], "id long, key string"
    )
    df = fuzzy_link_lsh(mentions, dictionary)
    df.write.mode("overwrite").format("noop").save()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in executed, executed


def test_scan_pruning_on_docs_queries(spark):
    """The text-stats query projects 3 derived columns from `text` —
    the scan must not read the other document columns."""
    from theoremkb_spark.queries_docs import q_text_stats

    plan = _plan(q_text_stats(spark, "/root/testdata/sf0.001"))
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert scans, plan
    for s in scans:
        cols = {c.split("#")[0] for c in s.split(",")}
        assert "html" not in cols and "embedding" not in cols, cols


# ---- frozen plan invariants for EVERY headline query (VERDICT r2 #8) ----
#
# Upper bounds, not exact counts: a Spark upgrade may legally merge
# exchanges, but a regression that ADDS a shuffle, drops a broadcast, or
# sneaks in a quadratic join must fail here, not in a 100 TB run.
# ann_cosine_topk is the one deliberate exception: its nested-loop join
# IS the documented brute-force baseline (scale paths: ann_bucketed /
# ann_ivf, both equi-join only).

import pytest

# query -> (max_exchanges, max_smj, max_cartesian)
_HEADLINE_BOUNDS = {
    "agg_pricing_summary": (3, 0, 0),
    "join_broadcast_revenue": (2, 0, 0),
    "join_range_containment": (2, 0, 0),
    "win_gaps_islands": (2, 0, 0),
    "win_deltas": (2, 0, 0),
    "sort_argmax": (2, 0, 0),
    "text_stats": (1, 0, 0),
    # round 5: hot add-back fused into the per-id rollup (no LeftOuter
    # SMJ), shingles hashed to longs, both wide exchanges width-pinned
    "dedup_ngram_jaccard": (5, 0, 0),
    # round 6: +1 COUNTED exchange — the docs spread switched from
    # round-robin (RoundRobinPartitioning, invisible to this counter,
    # and paying a sort-before-repartition pass over the text column)
    # to doc_id-hash (counted, cheaper); the physical exchange count is
    # unchanged
    "dedup_minhash_lsh": (8, 0, 0),
    # round 6: +1 exchange — the doc_id-hash spread of the single-row-
    # group documents scan, so the Arrow SimHash stage runs full-width
    # instead of one python worker per parquet row group
    "dedup_simhash": (3, 0, 0),
    "ann_cosine_topk": (2, 0, 1),
    # round 6: the band join moved to narrow rows + a candidate-pair
    # dedup, and the sz/sset arrays attach afterwards — two more (tiny)
    # exchanges in the static plan, and the attach joins show as SMJ
    # until AQE's runtime broadcast rewrite (gated by
    # test_fuzzy_link_runtime_joins_are_broadcast)
    "link_fuzzy_lsh": (5, 2, 0),
}


@pytest.mark.parametrize("name", sorted(_HEADLINE_BOUNDS))
def test_headline_plan_invariants(spark, name):
    from theoremkb_spark.plancheck import plan_facts, plan_string
    from theoremkb_spark.queries import QUERIES_CORE
    from theoremkb_spark.queries_docs import QUERIES_DOCS

    registry = {**QUERIES_CORE, **QUERIES_DOCS}
    df = registry[name][0](spark, "/root/testdata/sf0.001")
    f = plan_facts(plan_string(df))
    max_ex, max_smj, max_cart = _HEADLINE_BOUNDS[name]
    assert f["exchanges"] <= max_ex, (name, f)
    assert f["sort_merge_joins"] <= max_smj, (name, f)
    assert f["cartesian"] <= max_cart, (name, f)
    # document scans must never drag the heavy unused columns
    for cols, _pf in f["scans"]:
        assert "html" not in cols, (name, cols)


def test_segment_tokens_plan_shape(spark):
    """Distributed U-Net inference is page-local by construction: the
    ONLY exchange is the (url, page) group hash, the input projection
    is pruned to the 11 raster columns, and no join operator of any
    kind appears (weights ride a broadcast VARIABLE, not a join)."""
    import os

    import pytest

    from theoremkb_spark.operators.segmentation import (
        default_weights_path, segment_tokens,
    )
    from theoremkb_spark.pipeline.extract import extract_tokens, load_pages

    if not os.path.exists(default_weights_path()):
        pytest.skip("full-training U-Net artifact not shipped")
    plan = _plan(segment_tokens(extract_tokens(load_pages(spark, 2))))
    assert len(_exchange_ids(plan)) == 1, plan
    assert "FlatMapGroupsInPandas" in plan
    for op in ("Join", "Cartesian", "SortMergeJoin", "BroadcastHashJoin"):
        assert op not in plan, op


def test_link_resolve_auto_strategy_regimes(spark, tmp_path):
    """VERDICT r4 #2: the LINK dictionary join must pick its physical
    strategy from the dictionary's size estimate, not a hardcoded hint.
    Small regime -> broadcast hash join, no salt machinery; forced-large
    regime (file-backed dict, 1-byte threshold) -> the salted path (key
    spread over salt partitions, dim exploded). Driver-created local
    frames have no Catalyst stats (Long.MaxValue sentinel) and are
    treated as broadcast-sized BY CONSTRUCTION — they already sit in
    driver memory; the at-scale inputs are always file-backed and carry
    real file-size estimates."""
    from theoremkb_spark.pipeline.link import _resolve
    from theoremkb_spark.plancheck import plan_facts, plan_string

    dico_local = spark.createDataFrame(
        [("u1", "T1", "c1")], "url string, tag string, pdf_to_canon string"
    )
    dpath = str(tmp_path / "dico.parquet")
    dico_local.write.parquet(dpath)
    dico = spark.read.parquet(dpath)
    facts = spark.createDataFrame(
        [("u1", "T1", "x"), ("u1", "T2", "y")], "url string, tag string, other string"
    )

    for d in (dico, dico_local):  # file-backed small AND stats-unknown local
        small = plan_string(_resolve(facts, d, "auto", salt=4))
        assert "_salt" not in small
        assert plan_facts(small)["broadcast_joins"] >= 1

    large = plan_string(_resolve(facts, dico, "auto", salt=4, broadcast_max_bytes=1))
    assert "_salt" in large

    # both regimes resolve the same rows (the strategy is physical only)
    a = sorted(map(tuple, _resolve(facts, dico, "broadcast", 4).collect()))
    b = sorted(map(tuple, _resolve(facts, dico, "salted", 4).collect()))
    assert a == b


def test_fuzzy_link_auto_broadcast_regimes(spark, tmp_path):
    """fuzzy_link_lsh auto-selects its bucket-join strategy from the
    dictionary size estimate. Small regime: the banded dictionary is
    broadcast (no exchange keyed on band/sig). Forced-large regime
    (file-backed dict under a 1-byte threshold): the bucket join rides
    a (band, sig) hash exchange instead — the shape that scales past
    broadcast memory. Same rows either way."""
    from theoremkb_spark.pipeline.link import fuzzy_link_lsh
    from theoremkb_spark.plancheck import plan_string

    m = spark.createDataFrame(
        [(1, "lattice kernel meadow"), (2, "vortex plume quartz")],
        "id long, key string",
    )
    dpath = str(tmp_path / "fuzzy_dico.parquet")
    spark.createDataFrame(
        [(10, "lattice kernel meadows"), (11, "unrelated text entirely")],
        "id long, key string",
    ).write.parquet(dpath)
    d = spark.read.parquet(dpath)

    small = plan_string(fuzzy_link_lsh(m, d))
    assert not re.search(r"Exchange hashpartitioning\(band", small), small

    rows_small = sorted(map(tuple, fuzzy_link_lsh(m, d).collect()))

    large_df = fuzzy_link_lsh(m, d, broadcast_max_bytes=1)
    large = plan_string(large_df)
    assert re.search(r"Exchange hashpartitioning\(band", large), large
    assert sorted(map(tuple, large_df.collect())) == rows_small
    assert rows_small and rows_small[0][0] == 1 and rows_small[0][1] == 10


def test_sim_tfidf_broadcast_regimes(spark, monkeypatch):
    """q_sim_tfidf_topk's vocabulary-derived frames (per-term df, probe
    weights) must not be FORCE-broadcast past the size threshold
    (round-5 verdict #5): above it only the planner/AQE may broadcast,
    from real sizes."""
    import theoremkb_spark.queries_docs as qd

    sf = "/root/testdata/sf0.01"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_small = _plan(qd.q_sim_tfidf_topk(spark, sf))
        monkeypatch.setattr(qd, "SIM_TFIDF_BROADCAST_MAX_BYTES", -1)
        plan_large = _plan(qd.q_sim_tfidf_topk(spark, sf))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # small regime: the df_/probes hints fire as broadcast HASH joins on
    # term; large regime: none remain (the always-tiny n_docs count
    # frame keeps its BroadcastNestedLoopJoin crossJoin in both)
    assert plan_small.count("BroadcastHashJoin") >= 2, plan_small
    assert "BroadcastHashJoin" not in plan_large, plan_large
    assert "BroadcastNestedLoopJoin" in plan_large
