"""End-to-end pipeline gates (SURVEY §5.2): byte-identical extraction,
triple P/R vs the reference-semantics oracle, two-run determinism,
window-vs-Arrow labeler agreement."""

import pytest

from theoremkb_spark.corpus.generator import build_corpus, entity_dict_rows
from theoremkb_spark.corpus.oracle import oracle_triples
from theoremkb_spark.pipeline.extract import extract_text, extract_tokens, load_pages
from theoremkb_spark.pipeline.label import label_tokens, label_tokens_arrow
from theoremkb_spark.pipeline.runner import build_kg, load_entity_dict

N_DOCS = 40


@pytest.fixture(scope="module")
def pages(spark):
    return load_pages(spark, N_DOCS).cache()


@pytest.fixture(scope="module")
def entity_dict(spark):
    return load_entity_dict(spark, N_DOCS).cache()


def test_byte_identical_extraction(spark, pages):
    """The per-url invariant from BASELINE.json input_hint."""
    got = {r.url: r.text for r in extract_text(pages).collect()}
    want = {r.url: r.text for r in pages.select("url", "text").collect()}
    assert got == want  # bytewise equality, all urls


def test_triple_parity(spark, pages, entity_dict):
    """Triple P/R >= 0.95 gate — we hold it at exactly 1.0."""
    got = {
        (r.subj, r.pred, r.obj, r.url)
        for r in build_kg(spark, pages, entity_dict).collect()
    }
    exp = oracle_triples(list(build_corpus(N_DOCS)), entity_dict_rows(N_DOCS))
    fp, fn = got - exp, exp - got
    assert not fp, f"false positives: {sorted(fp)[:5]}"
    assert not fn, f"false negatives: {sorted(fn)[:5]}"
    assert len(got) > 100  # sanity: non-trivial corpus


def test_two_run_determinism(spark, pages, entity_dict):
    t1 = build_kg(spark, pages, entity_dict)
    t2 = build_kg(spark, pages, entity_dict)
    assert t1.exceptAll(t2).isEmpty()
    assert t2.exceptAll(t1).isEmpty()


def test_window_and_arrow_labelers_agree(spark, pages):
    tokens = extract_tokens(pages).cache()
    a = label_tokens(tokens).select(
        "url", "page", "block", "line", "word", "label", "group"
    )
    b = label_tokens_arrow(tokens).select(
        "url", "page", "block", "line", "word", "label", "group"
    )
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    tokens.unpersist()


def test_arrow_labeler_with_shipped_model_artifact(spark, pages, tmp_path):
    """The M1 artifact path: export params, register via sc.addFile,
    load per-executor inside the Arrow UDF — same labels as builtin."""
    from theoremkb_spark.pipeline.label import export_model_artifact

    art = tmp_path / "rule_model.json"
    export_model_artifact(str(art))
    spark.sparkContext.addFile(str(art))

    tokens = extract_tokens(pages).cache()
    cols = ["url", "page", "block", "line", "word", "label", "group"]
    a = label_tokens_arrow(tokens).select(*cols)
    b = label_tokens_arrow(tokens, model_file="rule_model.json").select(*cols)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    tokens.unpersist()


def test_fused_and_window_paths_emit_identical_triples(spark, pages, entity_dict):
    """The fused single-Arrow-pass front end and the window-function
    pipeline are alternative physical plans of the same logical job."""
    fused = build_kg(spark, pages, entity_dict, labeler="fused")
    window = build_kg(spark, pages, entity_dict, labeler="window")
    assert fused.exceptAll(window).isEmpty()
    assert window.exceptAll(fused).isEmpty()


def test_non_english_filtered(spark, pages):
    langs = {r.lang for r in pages.select("lang").distinct().collect()}
    tokens = extract_tokens(pages, english_only=True)
    token_urls = {r.url for r in tokens.select("url").distinct().collect()}
    non_en = {r.url for r in pages.filter("lang <> 'en'").select("url").collect()}
    assert not (token_urls & non_en)
    if len(langs) > 1:
        assert non_en  # corpus does contain non-en rows at this size


def test_window_path_regexes_case_insensitive(spark):
    """ADVICE round-1: the JVM regex constants must match the frozen
    Python twins (re.IGNORECASE) on lowercase/uppercase inputs, e.g.
    'proof. [Proof of theorem 2]' or an 'OPEN Problem 4' head."""
    from theoremkb_spark.functions.text import find_thm_proof, find_thm_start
    from theoremkb_spark.pipeline.mentions import resolve_span_names

    rows = [
        ("u", 1, "lemma", "OPEN Problem 4 holds trivially."),
        ("u", 2, "proof", "Proof. [Proof of theorem 2] qed"),
        ("u", 3, "proof", "proof OF Lemma 1.2. direct."),
    ]
    spans = spark.createDataFrame(rows, "url string, group long, label string, text string")
    got = {r.group: r.own_name for r in resolve_span_names(spans).collect()}
    want = {
        1: (find_thm_start(rows[0][3]) or "").lower() or None,
        2: (find_thm_proof(rows[1][3]) or "").lower() or None,
        3: (find_thm_proof(rows[2][3]) or "").lower() or None,
    }
    assert got[1] == want[1] == "open problem 4"
    assert got[2] == want[2] == "theorem 2"
    assert got[3] == want[3] == "lemma 1.2"


@pytest.mark.parametrize(
    "labeler, join_strategy",
    [("fused", "auto"), ("fused", "salted"), ("window", "auto")],
)
def test_triple_groups_match_sequential_oracle(
    spark, pages, entity_dict, labeler, join_strategy
):
    """Provenance groups (min span group per triple) must match the
    sequential oracle — the surface behind the kg_triples DuckDB gate —
    on every labeler route and dictionary-join regime."""
    from theoremkb_spark.corpus.oracle import oracle_triples_grouped

    got = {
        (r.subj, r.pred, r.obj, r.url): r.group
        for r in build_kg(
            spark, pages, entity_dict, labeler=labeler, join_strategy=join_strategy
        ).collect()
    }
    exp = oracle_triples_grouped(list(build_corpus(N_DOCS)), entity_dict_rows(N_DOCS))
    assert got == exp


def test_span_rows_match_sequential_oracle(spark, pages):
    """Span-level (url, group, label, n_tokens) parity vs the sequential
    labeler-semantics + GOLD-segmentation oracle — the surface behind
    the kg_spans gate (label layer, then the parent-class constraint)."""
    from pyspark.sql import functions as F

    from theoremkb_spark.corpus.oracle import oracle_doc_spans
    from theoremkb_spark.pipeline.segment import apply_parent_constraint

    tokens = extract_tokens(pages)
    labeled = apply_parent_constraint(label_tokens(tokens), tokens)
    got = {
        (r.url, r.group, r.label, r.n_tokens)
        for r in labeled.filter(F.col("label") != "O")
        .groupBy("url", "group", "label")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
        .collect()
    }
    exp = {
        (doc.url, g, lbl, n)
        for doc, _t in build_corpus(N_DOCS)
        for g, lbl, n in oracle_doc_spans(doc)
    }
    assert got == exp
