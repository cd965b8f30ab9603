"""Stage 6 — TRIPLES + end-to-end orchestration.

``build_kg`` wires the six stages into one lazy DataFrame plan:

    pages --map-only Arrow extract--> fused
      --repartition(url)--> one dictionary join (canonicalized via CC)
      --conditional explode + rollup--> triples

Triple vocabulary (north star): statement_of, proved_in, cites,
defined_in — mapped from the reference's graph tables
(graph_results/graph_intra_extra, extract_graph.py:298-307) as frozen in
FIXTURES.md §6, in ONE place: ``build_triples_fused``. Every labeler
route and join regime feeds it a table of span, mention and cite rows
in the ``extract.SPANS_FUSED_SCHEMA`` shape. Output is distinct on
(subj, pred, obj, url) with group = min provenance span.

In the fused (production) path the html NEVER shuffles: extraction is a
map-only Arrow pass over the byte-balanced source scan, and the
explicit url-hash repartition (north rule) lands on the ~40x smaller
fused span table, whose HashPartitioning the triple rollup reuses. The
dictionary join is broadcast, or salted past BROADCAST_DICT_MAX_BYTES;
the CC loop runs on the tiny alias-edge table only. The token paths
(window rules, or a pickled sequence model) invert the choice — there
the token table is the big one, so the pages repartition before
tokenization is the cheap side — and union their spans, mentions and
citations into the fused shape before assembly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plancheck import fits_broadcast
from .canon import canonicalize_dict
from .extract import extract_tokens
from .label import label_tokens, label_tokens_arrow
from .link import BROADCAST_DICT_MAX_BYTES, _resolve
from .mentions import assemble_spans, mine_mentions, paper_citations, resolve_span_names

TRIPLE_COLS = ["subj", "pred", "obj", "url", "group"]


def load_entity_dict(spark: SparkSession, n_docs: int, seed: int = 42) -> DataFrame:
    from ..corpus.generator import entity_dict_rows

    rows = entity_dict_rows(n_docs, seed)
    return spark.createDataFrame(
        [(r["url"], r["tag"], r["pdf_to"], r["title"], r["norm_title"]) for r in rows],
        schema="url string, tag string, pdf_to string, title string, norm_title string",
    )


def load_dico(spark: SparkSession, dict_rows) -> DataFrame:
    """Canonicalize a broadcast-sized dictionary driver-side and wrap it
    as the (url, tag, pdf_to_canon) DataFrame the LINK stage consumes.
    Same output as ``canonicalize_dict(load_entity_dict(...))`` without
    the half-dozen tiny Spark jobs (see canon.canonicalize_rows)."""
    from .canon import canonicalize_rows

    return spark.createDataFrame(
        canonicalize_rows(dict_rows),
        schema="url string, tag string, pdf_to_canon string",
    )


def _entity(url_col, name_col):
    return F.concat(url_col, F.lit("#"), name_col)


def build_triples_fused(
    fused: DataFrame, dico: DataFrame, join_strategy: str = "broadcast"
) -> DataFrame:
    """The one triples assembly: a table of span, mention and cite rows
    (``extract.SPANS_FUSED_SCHEMA``) -> (subj, pred, obj, url, group).

    Each row emits its triples through a conditional-array explode; the
    dictionary is attached by ONE left join on (url, tag) through
    ``link._resolve`` (``join_strategy``: broadcast, salted or auto).

    In the broadcast regime over the url-hash-partitioned fused table
    there are zero shuffles downstream of the repartition: broadcast
    preserves the stream side's partitioning, and the final
    groupBy(subj, pred, obj, url) reuses HashPartitioning(url) — url is
    a subset of the grouping keys — so the rollup needs NO exchange. The
    salted regime (dictionary past BROADCAST_DICT_MAX_BYTES) shuffles
    the join and the rollup instead, with the hot dictionary keys spread
    over the salt (operators.joins.salted_join).
    """
    url, own = F.col("url"), F.col("own_name")
    kind, ref_kind = F.col("kind"), F.col("ref_kind")
    rel = fused.filter(
        (kind == "cite")
        | ((kind == "span") & own.isNotNull())
        | ((kind == "mention") & own.isNotNull() & ref_kind.isin("intra", "extra"))
    ).select(
        "url",
        "kind",
        "group",
        "label",
        "own_name",
        "ref_name",
        "ref_kind",
        # one join key column for both dictionary consumers: cite rows
        # carry their anchor tag, extra-mention rows their mined ref_tag;
        # span and intra rows get NULL (an equi-join never matches NULL,
        # so they pass through the left join untouched)
        F.when(kind == "cite", F.col("tag"))
        .when((kind == "mention") & (ref_kind == "extra"), F.col("ref_tag"))
        .alias("tag"),
    )
    joined = _resolve(rel, dico, join_strategy, salt=8)

    own_ent = _entity(url, own)
    target = F.coalesce(
        F.col("pdf_to_canon"), F.concat(F.lit("unresolved:"), F.col("tag"))
    )

    def _t(subj, pred, obj, grp):
        return F.struct(
            subj.alias("subj"),
            F.lit(pred).alias("pred"),
            obj.alias("obj"),
            grp.cast("long").alias("group"),
        )

    grp = F.col("group")
    e1 = (
        F.when(kind == "span", _t(own_ent, "statement_of", url, grp))
        .when(
            (kind == "mention") & (ref_kind == "intra"),
            _t(own_ent, "cites", _entity(url, F.col("ref_name")), grp),
        )
        .when(
            (kind == "mention") & (ref_kind == "extra"),
            _t(own_ent, "cites", _entity(target, F.col("ref_name")), grp),
        )
        .when(kind == "cite", _t(url, "cites", target, F.lit(-1)))
    )
    e2 = F.when(
        (kind == "span") & (F.col("label") == "proof"),
        _t(own_ent, "proved_in", url, grp),
    ).when(
        (kind == "span") & (F.col("label") == "definition"),
        _t(own_ent, "defined_in", url, grp),
    )
    return (
        joined.select("url", F.explode(F.array(e1, e2)).alias("_t"))
        .filter(F.col("_t").isNotNull())
        # coalesce against a non-null literal keeps pred's schema flag
        # non-nullable (a struct field out of a `when` chain is not) —
        # value-neutral, pred is never NULL in surviving rows
        .select(
            "_t.subj",
            F.coalesce(F.col("_t.pred"), F.lit("")).alias("pred"),
            "_t.obj",
            "url",
            "_t.group",
        )
        .groupBy("subj", "pred", "obj", "url")
        .agg(F.min("group").alias("group"))
    )


def release_caches(registry: list[DataFrame]) -> None:
    """Unpersist every intermediate collected in a ``cache_registry``.

    Call AFTER the terminal action on the triples plan: long-lived
    incremental sessions (streaming foreachBatch, run_incremental in a
    loop) otherwise accumulate cached blocks for the session lifetime —
    a slow memory/disk leak on a shared cluster."""
    for df in registry:
        df.unpersist()
    registry.clear()


def build_kg(
    spark: SparkSession,
    pages: DataFrame,
    entity_dict: DataFrame | None = None,
    n_partitions: int | None = None,
    labeler: str = "fused",
    join_strategy: str = "auto",
    dico: DataFrame | None = None,
    model_file: str | None = None,
    cache_registry: list[DataFrame] | None = None,
    stages_out: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """pages + entity_dict -> triples DataFrame (lazy).

    Pass ``dico`` (pre-canonicalized (url, tag, pdf_to_canon)) to skip
    the canonicalization stage — e.g. from ``load_dico`` when the
    dictionary rows are already driver-resident.

    Pass ``cache_registry`` (a list) to collect the cached stage
    intermediates; hand it to ``release_caches`` after the terminal
    action so looped callers don't leak cached blocks.

    Pass ``stages_out`` (a dict) to receive the intermediate stage
    DataFrames (materialization stage first, then spans / mentions /
    citations) — the hook ``stage_lineage`` uses to commit per-stage,
    per-partition lineage rows through the checkpoint store.
    """

    def _cached(df: DataFrame) -> DataFrame:
        df = df.cache()
        if cache_registry is not None:
            cache_registry.append(df)
        return df

    if model_file and model_file.endswith(".pkl") and labeler == "fused":
        # a pickled TRAINED sequence model replaces the labeling logic
        # itself, which the fused rule pass cannot express — route
        # through the Arrow inference stage (label_tokens_arrow), where
        # the model is Viterbi-applied per document (M1).
        labeler = "arrow"

    # Fused path: the repartitioned table is the ~40x-reduced span table
    # (tens of MB at bench scale), so partitions = cores — every extra
    # partition only adds tasks downstream (4x cores measured 768 tasks
    # and 8.9 s min-of-5 vs 5.2 s at 1x; see BENCH/RECONCILE_r03.md).
    # Skew is already handled upstream: the map-only extraction balances
    # html by byte-bounded scan splits, and url-hash spreads documents
    # evenly. Token paths: the repartition lands on the PAGES feeding a
    # ~40x larger token table, where scheduler slack around document
    # skew still pays — keep 4x there. At cluster scale the caller sizes
    # this by target partition bytes (~128-512 MB) instead.
    if n_partitions is None:
        mult = 1 if labeler == "fused" else 4
        n_partitions = mult * spark.sparkContext.defaultParallelism

    if labeler == "fused":
        # single Arrow pass: parse + label + span assembly + name
        # resolution + mention mining per document (extract.extract_spans),
        # MAP-ONLY over the source scan: one page row is one whole
        # document, so the per-doc UDF needs no co-location, and the
        # scan's byte-bounded splits (spark.sql.files.maxPartitionBytes)
        # already balance the html across tasks — shuffling the full html
        # corpus before extraction was pure cost (measured 1.6x wall at
        # 9600 docs; at 100 TB it is the difference between shuffling
        # 100 TB and shuffling the ~40x smaller span table). The explicit
        # url-hash repartition (north rule) is applied to the FUSED output
        # instead, where it is nearly free and hands the triple rollup a
        # reusable HashPartitioning.
        from .extract import extract_spans

        fused = extract_spans(
            pages, english_only=True, model_file=model_file
        ).repartition(n_partitions, F.col("url"))
        # the assembly consumes fused exactly ONCE — caching there is
        # pure overhead, and skipping it keeps the repartition's
        # HashPartitioning(url) statically visible so the broadcast-regime
        # rollup plans with NO exchange (a cached plan hides its
        # partitioning behind AdaptiveSparkPlan until materialized). Only
        # the lineage hook scans fused repeatedly — cache for it.
        if stages_out is not None:
            fused = _cached(fused)
            stages_out.update(
                fused=fused,
                spans=fused.filter(F.col("kind") == "span").select(
                    "url", "group", "label", "text", "own_name"
                ),
                mentions=fused.filter(F.col("kind") == "mention").select(
                    "url",
                    "group",
                    "label",
                    "own_name",
                    "ref_name",
                    F.col("ref_kind").alias("kind"),
                    "ref_tag",
                ),
                citations=fused.filter(F.col("kind") == "cite").select("url", "tag"),
            )
    else:
        # token path: the token table is ~40x LARGER than the pages, so
        # here the cheap place for the explicit url-hash exchange is the
        # pages — the downstream Window.partitionBy("url")/groupBy
        # recognize the HashPartitioning (raw `url` column, not
        # xxhash64(url)) and the token stream never re-shuffles.
        pages = pages.repartition(n_partitions, F.col("url"))
        # window-function path (cross-check implementation): tokens feed
        # the span pipeline and the paper citations, and spans feed the
        # assembly and mention mining — cache both so the extract/label
        # chain runs once, not once per consumer. On a real cluster these
        # are the materialized intermediate Iceberg tables (SURVEY §4).
        tokens = _cached(extract_tokens(pages, english_only=True))
        labeled = (
            label_tokens(tokens)
            if labeler == "window"
            else label_tokens_arrow(tokens, model_file=model_file)
        )
        # parent-class constraint (P4 wiring): result spans are valid
        # only in segmentation {body, annex} — semi-join the labeled
        # span tokens against the 8-label segmenter's allowed blocks.
        # The fused path applies the identical state machine inside its
        # Arrow pass; both are gated to emit identical triples.
        from .segment import apply_parent_constraint

        labeled = apply_parent_constraint(labeled, tokens)
        spans = _cached(resolve_span_names(assemble_spans(labeled)))
        mentions = mine_mentions(spans)
        citations = paper_citations(tokens)
        if stages_out is not None:
            stages_out.update(
                tokens=tokens, spans=spans, mentions=mentions, citations=citations
            )
        # the same span/mention/cite rows (by name) the fused Arrow
        # pass emits, missing columns NULL
        fused = (
            spans.select(
                "url", "group", "label", "text", "own_name", F.lit("span").alias("kind")
            )
            .unionByName(
                mentions.withColumnRenamed("kind", "ref_kind").withColumn(
                    "kind", F.lit("mention")
                ),
                allowMissingColumns=True,
            )
            .unionByName(
                citations.withColumn("group", F.lit(-1).cast("long")).withColumn(
                    "kind", F.lit("cite")
                ),
                allowMissingColumns=True,
            )
        )

    if join_strategy == "auto":
        # decide from the RAW dictionary input: the canonicalized dico's
        # own plan runs through the CC joins, whose Catalyst stats
        # multiply into a useless overestimate, while canonicalization
        # only ever SHRINKS the dictionary — so the pre-canon size is the
        # conservative-correct broadcast basis.
        basis = entity_dict if entity_dict is not None else dico
        join_strategy = (
            "broadcast"
            if fits_broadcast(basis, BROADCAST_DICT_MAX_BYTES)
            else "salted"
        )
    if dico is None:
        # cache the canonicalized dictionary so the CC canonicalization
        # runs once, not once per action on the triples
        dico = _cached(canonicalize_dict(entity_dict))
    return build_triples_fused(fused, dico, join_strategy=join_strategy)


def lineage_rows(df: DataFrame, stage: str) -> DataFrame:
    """Per-partition lineage/metrics rows (north rule): row counts and
    distinct-url counts per physical partition for a stage."""
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.approx_count_distinct("url").alias("urls"),
        )
        .select(
            F.lit(stage).alias("stage"),
            F.col("_pid").alias("partition_id"),
            "rows",
            "urls",
        )
    )


LINEAGE_SCHEMA = "stage string, partition_id int, rows long, urls long, wall_ms long"


def stage_lineage(spark: SparkSession, stages: dict[str, DataFrame]) -> DataFrame:
    """Materialize per-partition lineage for every exposed stage, with a
    per-stage wall-ms measured around that stage's lineage action.

    Attribution note: stages is insertion-ordered with the cached
    materialization stage ('fused'/'tokens') FIRST, so its wall-ms
    carries the extraction cost and the later stages' wall-ms measure
    only their own branch work over the warm cache. Output is tiny
    (#stages x #partitions rows), assembled driver-side so the measured
    walls ride along exactly."""
    import time

    rows = []
    for name, df in stages.items():
        t0 = time.time()
        part = lineage_rows(df, name).collect()
        wall = int((time.time() - t0) * 1000)
        rows.extend((name, r.partition_id, r.rows, r.urls, wall) for r in part)
    return spark.createDataFrame(rows, LINEAGE_SCHEMA)
