"""The traced layer sweep (``--trace 1``).

One process, the Spark event log on (uncompressed), every layer call
labelled with ``setJobDescription``. The sweep calls each layer's public
function at its boundary, forcing it (noop sink, cache materialization
or commit), and times it from the benchmark; the event log is then
folded, per label, into shuffle, spill, input bytes and task skew.
Self time is a span's wall minus the part its child layers cover, as
the layer table in perfbench/README.md defines for each metric.

Every trace run sweeps all layers (kg batch, catalog, dedup and fuzzy
link) over the seed's inputs, so every run reports the same metric set;
``trace.overhead_frac`` is for the named workload: the traced sum of
that workload's self times against one untraced repetition of it in
the same process.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from . import inputs
from .common import Run, cpu_seconds, descendants, force
from .workloads import (
    DOCS_BASE,
    DOCS_REPLICAS,
    KG_BATCH_DOCS,
    SIMJOIN_QUERIES,
    kg_batch_rep,
    simjoin_call,
    simjoin_ok,
)

# blocking/verify parameters of the three registered queries
# (queries_docs.py; LINK_* from corpus/dedup_oracle.py)
DEDUP_N, DEDUP_CAP, MH_HASHES, MH_BANDS = 3, 50, 32, 8


class Tracer:
    """Labels jobs, times layer calls and remembers the walls."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.wall: dict[str, float] = {}

    @contextmanager
    def span(self, label: str):
        self.sc.setJobDescription(label)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[label] = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.job.description", None)


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job-description label: tasks, shuffle write/read, spill,
    input/output bytes, executor CPU and GC, and the task skew (max /
    median task ms) of the label's busiest stage."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    stage_label: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                label = (ev.get("Properties") or {}).get("spark.job.description")
                if label:
                    for sid in ev.get("Stage IDs", []):
                        stage_label[sid] = label
            elif kind == "SparkListenerTaskEnd":
                tasks.setdefault(ev["Stage ID"], []).append(ev)
    out: dict[str, dict] = {}
    for sid, evs in tasks.items():
        label = stage_label.get(sid)
        if label is None:
            continue
        agg = out.setdefault(
            label,
            {"tasks": 0, "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
             "input_bytes": 0, "output_bytes": 0, "cpu_s": 0.0, "gc_s": 0.0,
             "_busiest": (0, [])},
        )
        durs = []
        for ev in evs:
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            durs.append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            agg["tasks"] += 1
            agg["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            agg["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            agg["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            agg["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            agg["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            agg["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        if sum(durs) > agg["_busiest"][0]:
            agg["_busiest"] = (sum(durs), durs)
    for agg in out.values():
        durs = agg.pop("_busiest")[1]
        med = statistics.median(durs) if durs else 0
        agg["task_skew"] = max(durs) / med if med else 1.0
    return out


def _file_bytes(df) -> int:
    """On-disk bytes of the files a plan scans (the event log's input
    metrics miss reads that parquet issues from its own I/O threads)."""
    return sum(os.path.getsize(f.removeprefix("file://")) for f in df.inputFiles())


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class _Cpu:
    """CPU seconds of the JVM and its Python workers over a block."""

    def __enter__(self):
        self.t0 = cpu_seconds(descendants(os.getpid()))
        return self

    def __exit__(self, *exc):
        self.s = cpu_seconds(descendants(os.getpid())) - self.t0


# ------------------------------------------------------------ kg layers


def _kg_layers(run: Run, tr: Tracer, pages, dico, m: dict) -> dict:
    """extract -> runner -> link -> catalog.commit over the batch corpus.
    -> the cached objects the catalog sweep reuses."""
    from pyspark.sql import functions as F

    from theoremkb_spark.io.catalog import CheckpointedTripleStore
    from theoremkb_spark.pipeline.extract import extract_spans
    from theoremkb_spark.pipeline.runner import build_triples_fused, lineage_rows

    spark = run.spark
    n = spark.sparkContext.defaultParallelism
    with tr.span("extract.scan"):
        force(pages.select("url", "html", "lang"))
    with _Cpu() as cpu, tr.span("extract"):
        force(extract_spans(pages, english_only=True))
    with tr.span("runner.repartition"):
        fused = extract_spans(pages, english_only=True).repartition(n, F.col("url")).cache()
        force(fused)
    with tr.span("runner.assembly"):
        triples = build_triples_fused(fused, dico).cache()
        force(triples)
    with tr.span("runner.lineage"):
        force(lineage_rows(triples, "triples"))
    store_dir = run.path("trace-batch-store")
    store = CheckpointedTripleStore(store_dir)
    with tr.span("catalog.commit_batch"):
        store.commit_batch(triples, pages.select("url"), lineage_rows(triples, "triples"))

    w = tr.wall
    m["extract.scan_s"] = w["extract.scan"]
    m["extract.scan_bytes"] = _file_bytes(pages)
    m["extract.self_s"] = w["extract"] - w["extract.scan"]
    m["extract.cpu_s"] = cpu.s
    m["runner.repartition_s"] = w["runner.repartition"] - w["extract"]
    m["runner.assembly_s"] = w["runner.assembly"]
    m["runner.lineage_s"] = w["runner.lineage"]
    m["catalog.commit_s"] = w["catalog.commit_batch"] - w["runner.lineage"]
    kg_self = (
        m["extract.scan_s"] + m["extract.self_s"] + m["runner.repartition_s"]
        + m["runner.assembly_s"] + m["runner.lineage_s"] + m["catalog.commit_s"]
    )

    # counts, off the clock
    docs = pages.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(((F.col("lang") == "en") & F.col("html").isNotNull()).cast("int")).alias("en"),
    ).first()
    m["extract.docs_in"] = docs["n"]
    m["extract.docs_skipped"] = docs["n"] - docs["en"]
    kinds = {r["kind"]: r["count"] for r in fused.groupBy("kind").count().collect()}
    for kind in ("span", "mention", "cite"):
        m[f"extract.rows_{kind}"] = kinds.get(kind, 0)
    preds = {r["pred"]: r["count"] for r in triples.groupBy("pred").count().collect()}
    m["runner.triples_out"] = sum(preds.values())
    for pred in ("statement_of", "proved_in", "cites", "defined_in"):
        m[f"runner.triples_{pred}"] = preds.get(pred, 0)
    linkable = fused.filter(
        (F.col("kind") == "cite")
        | ((F.col("kind") == "mention") & (F.col("ref_kind") == "extra"))
    ).select("url", F.coalesce("tag", "ref_tag").alias("tag"))
    link = linkable.join(dico, ["url", "tag"], "left").agg(
        F.count(F.lit(1)).alias("n"), F.count("pdf_to_canon").alias("resolved")
    ).first()
    m["link.resolved_ratio"] = link["resolved"] / max(link["n"], 1)
    written = _du(store_dir)
    m["catalog.bytes_written"] = written
    m["catalog.bytes_per_triple"] = written / max(m["runner.triples_out"], 1)
    shutil.rmtree(store_dir)
    return {"fused": fused, "triples": triples, "kg_self": kg_self}


# ------------------------------------------------------- catalog layers


def _catalog_layers(run: Run, tr: Tracer, pages, triples, ents, oracle, m: dict) -> None:
    """An incremental store over the batch corpus: 15 url-disjoint
    snapshots (lineage-free, to keep the sweep short), then one fully
    traced batch (ledger anti-join, pending scan, per-batch
    canonicalization, commit), the compaction it triggers (16
    snapshots) and the forced read, whose rows must equal the oracle.
    (The superseding re-crawl read is kg_incremental's; it does not fit
    the traced run's time limit.)"""
    from pyspark.sql import functions as F

    from theoremkb_spark.io.catalog import CheckpointedTripleStore
    from theoremkb_spark.pipeline.canon import canonicalize_dict
    from theoremkb_spark.pipeline.runner import lineage_rows

    spark = run.spark
    batches = 16
    store_dir = run.path("trace-incr-store")
    store = CheckpointedTripleStore(store_dir)
    part = F.abs(F.xxhash64("url")) % batches
    urls = pages.select("url")
    with tr.span("catalog.fill"):
        for k in range(batches - 1):
            store.commit_batch(triples.filter(part == k), urls.filter(part == k))

    last = batches - 1
    limit = urls.filter(part == last).count()
    m["catalog.ledger_paths"] = len(store.manifests())
    with tr.span("catalog.ledger"):
        done = store.processed_urls(spark)
        todo = pages.join(done, "url", "left_anti")
        force(todo.select("url"))
    with tr.span("catalog.pending_scan"):
        todo_urls = todo.select("url").orderBy("url").limit(limit)
        force(pages.join(F.broadcast(todo_urls), "url", "left_semi"))
    m["catalog.pending_scan_bytes"] = _file_bytes(todo)
    with tr.span("canon.spark"):
        canon = canonicalize_dict(ents)
        force(canon)
    t = triples.filter(part == last)
    with tr.span("catalog.commit"):
        store.commit_batch(t, urls.filter(part == last), lineage_rows(t, "triples"))
    before = _du(store_dir)
    with tr.span("catalog.compact"):
        compactions = int(store.compact_url_ledger(spark)) + int(store.compact_triples(spark))
    m["catalog.compactions"] = compactions
    m["catalog.compact_bytes_rewritten"] = _du(store_dir) - before
    m["canon.dict_rows"] = ents.count()
    m["canon.entities"] = canon.select("pdf_to_canon").distinct().count()

    with tr.span("catalog.read"):
        current = store.read_triples(spark)
        force(current)
    m["catalog.read_files"] = len(current.inputFiles())
    got = {(r.subj, r.pred, r.obj, r.url): r.group for r in current.collect()}
    run.op(got == oracle)
    live_dir = run.path("trace-live")
    current.write.parquet(live_dir)
    m["catalog.space_amp"] = _du(store_dir) / _du(live_dir)
    shutil.rmtree(live_dir)
    shutil.rmtree(store_dir)

    w = tr.wall
    m["catalog.ledger_s"] = w["catalog.ledger"]
    m["catalog.pending_scan_s"] = w["catalog.pending_scan"]
    m["canon.spark_s"] = w["canon.spark"]
    m["catalog.compact_s"] = w["catalog.compact"]
    m["catalog.read_s"] = w["catalog.read"]


# -------------------------------------------------- dedup / fuzzy link


def _simjoin_layers(run: Run, tr: Tracer, table_dir: str, expected: dict, m: dict) -> float:
    """shingle -> df-cap -> block stages of each similarity join through
    the public stage functions, then the full registered query; verify
    is the query's wall minus the stages before it. -> traced sum."""
    from pyspark.sql import functions as F

    from theoremkb_spark.corpus.dedup_oracle import (
        LINK_BANDS,
        LINK_DICT_PREFIX,
        LINK_MENTION_PREFIX,
        LINK_N,
        LINK_NUM_HASHES,
    )
    from theoremkb_spark.operators.dedup import (
        banded_signatures,
        capped_shingles,
        minhash_signatures,
        ngram_jaccard_candidates,
        shingles,
    )
    from theoremkb_spark.pipeline.link import char_shingles

    spark = run.spark
    n = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{table_dir}/documents.parquet").repartition(n, F.col("doc_id"))

    def hot_count(sh, key):
        return sh.groupBy(key).count().filter(F.col("count") > DEDUP_CAP).count()

    def band_pairs(banded, a="id_a", b="id_b"):
        left = banded.select(F.col("id").alias(a), "band", "sig")
        right = banded.select(F.col("id").alias(b), "band", "sig")
        return left.join(right, ["band", "sig"]).filter(F.col(a) < F.col(b)).select(a, b).distinct()

    caches = []

    def cached(df):
        df = df.cache()
        caches.append(df)
        force(df)
        return df

    total = 0.0
    for metric, name in SIMJOIN_QUERIES:
        op = metric[: -len("_s")]
        if op == "minhash":
            with tr.span(f"{op}.shingle"):
                sh = cached(shingles(docs, "doc_id", "text", DEDUP_N).withColumn("hs", F.xxhash64("shingle")))
            with tr.span(f"{op}.cap"):
                capped = cached(capped_shingles(sh, DEDUP_CAP, source=docs, key="hs"))
            with tr.span(f"{op}.block"):
                rows = MH_HASHES // MH_BANDS
                banded = banded_signatures(minhash_signatures(capped, MH_HASHES), MH_BANDS, rows)
                cand = cached(band_pairs(banded))
            m[f"{op}.hot_shingles"] = hot_count(sh, "hs")
        elif op == "ngram":
            with tr.span(f"{op}.shingle"):
                sh = cached(shingles(docs, "doc_id", "text", DEDUP_N))
            with tr.span(f"{op}.cap"):
                cached(capped_shingles(sh, DEDUP_CAP))
            with tr.span(f"{op}.block"):
                cand = cached(ngram_jaccard_candidates(sh, DEDUP_CAP))
            tr.wall[f"{op}.block"] -= tr.wall[f"{op}.cap"]  # the candidates re-cap
            m[f"{op}.hot_shingles"] = hot_count(sh, "shingle")
        else:
            keys = docs.select(
                "doc_id",
                F.lower(F.substring(F.regexp_replace("text", "[^A-Za-z ]", ""), 1,
                                    LINK_DICT_PREFIX)).alias("key"),
            ).filter(F.col("key") != "")
            mentions = keys.select("doc_id", F.substring("key", 1, LINK_MENTION_PREFIX).alias("key"))
            with tr.span(f"{op}.shingle"):
                sh = cached(
                    char_shingles(mentions, "doc_id", "key", LINK_N).withColumn("_m", F.lit(1))
                    .unionByName(char_shingles(keys, "doc_id", "key", LINK_N).withColumn("_m", F.lit(0)))
                    .withColumn("shingle", F.xxhash64("shingle"))
                )
            # fuzzy linking has no document-frequency cap stage
            m[f"{op}.hot_shingles"] = hot_count(sh, "shingle")
            with tr.span(f"{op}.block"):
                rows = LINK_NUM_HASHES // LINK_BANDS

                def side(flag, alias):
                    sig = minhash_signatures(sh.filter(F.col("_m") == flag), LINK_NUM_HASHES)
                    banded = banded_signatures(sig, LINK_BANDS, rows)
                    return banded.select(F.col("id").alias(alias), "band", "sig")

                cand = cached(
                    side(1, "src").join(side(0, "dst"), ["band", "sig"]).select("src", "dst").distinct()
                )
        m[f"{op}.shingle_rows"] = sh.count()
        m[f"{op}.candidates"] = cand.count()
        for df in caches:
            df.unpersist()
        caches.clear()
        with tr.span(op):
            wall, out = simjoin_call(spark, name, table_dir)
        run.op(simjoin_ok(out, expected[name]))
        w = tr.wall
        stages = [f"{op}.shingle", f"{op}.cap", f"{op}.block"]
        for stage in stages:
            if stage in w:
                m[f"{stage}_s"] = w[stage]
        m[f"{op}.verify_s"] = wall - sum(w.get(stage, 0.0) for stage in stages)
        m[f"{op}.pairs_out"] = len(out)
        m[f"{op}.verify_yield"] = len(out) / max(m[f"{op}.candidates"], 1)
        total += wall
    return total


# ----------------------------------------------------------------- sweep


def traced(run: Run, workload: str) -> dict:
    """-> per-layer metrics name -> (value, unit)."""
    from theoremkb_spark.pipeline.runner import load_dico, load_entity_dict
    from theoremkb_spark.session import warm_python_workers

    # the documents inputs build while the kg inputs and the session start
    # (nothing is timed before the session is up and its workers warm)
    with ThreadPoolExecutor(1) as pool:
        docs_f = pool.submit(inputs.docs_inputs, run.root, run.seed, DOCS_BASE, DOCS_REPLICAS)
        kg = inputs.kg_inputs(run.root, run.seed, KG_BATCH_DOCS, run.cpus)
        log_dir = run.path("eventlog")
        spark = run.start_spark(event_log_dir=log_dir)
        warm_python_workers(spark, run.cpus)
        docs = docs_f.result()
    tr = Tracer(spark)
    m: dict = {}

    with tr.span("canon.load_dico"):
        dico = load_dico(spark, kg["dict_rows"]).cache()
        dico.count()
    m["canon.load_dico_s"] = tr.wall["canon.load_dico"]
    pages = spark.read.parquet(kg["pages"])

    # warm passes, then untraced repetitions of the workload's operation
    # (the base of trace.overhead_frac); the kg one brackets the kg layer
    # sweep, because kg reps keep getting faster for several repetitions
    from pyspark.sql import functions as F

    kg_batch_rep(spark, pages.filter(F.abs(F.xxhash64("url")) % 4 == 0), dico,
                 run.path("warm-store"))
    for _, name in SIMJOIN_QUERIES:
        simjoin_call(spark, name, docs["warm_dir"])
    untraced_kg = kg_batch_rep(spark, pages, dico, run.path("untraced-store-0"))
    if workload == "simjoin":
        untraced_sj = sum(simjoin_call(spark, name, docs["dir"])[0] for _, name in SIMJOIN_QUERIES)

    kgc = _kg_layers(run, tr, pages, dico, m)
    ents = load_entity_dict(spark, KG_BATCH_DOCS, run.seed)
    _catalog_layers(run, tr, pages, kgc["triples"], ents, kg["oracle"], m)
    got = {(r.subj, r.pred, r.obj, r.url): r.group for r in kgc["triples"].collect()}
    run.op(got == kg["oracle"])
    # unpersist first: a cached plan would otherwise serve the rep
    kgc["triples"].unpersist()
    kgc["fused"].unpersist()
    untraced_kg = (untraced_kg + kg_batch_rep(spark, pages, dico, run.path("untraced-store-1"))) / 2
    sj_sum = _simjoin_layers(run, tr, docs["dir"], docs["expected"], m)
    dico.unpersist()
    m["runner.persisted_rdds_after"] = run.persisted_rdds()

    m["trace.kg_batch_selfsum_frac"] = kgc["kg_self"] / untraced_kg
    base, traced_sum = (
        (untraced_kg, kgc["kg_self"]) if workload != "simjoin" else (untraced_sj, sj_sum)
    )
    m["trace.overhead_frac"] = (traced_sum - base) / base

    print("trace walls: " + ", ".join(f"{k} {v:.3f}" for k, v in tr.wall.items()))
    run.stop_spark()
    ev = fold_event_log(log_dir)
    for label, agg in sorted(ev.items()):
        print(f"layer {label}: " + ", ".join(
            f"{k} {v:.3f}" if isinstance(v, float) else f"{k} {v}" for k, v in agg.items()
        ))

    def counter(label, key):
        return ev.get(label, {}).get(key, 0)

    m["extract.task_skew"] = ev.get("extract", {}).get("task_skew", 1.0)
    m["runner.shuffle_bytes"] = counter("runner.repartition", "shuffle_write")
    m["runner.assembly_shuffle_bytes"] = counter("runner.assembly", "shuffle_write")
    for metric, _ in SIMJOIN_QUERIES:
        op = metric[: -len("_s")]
        m[f"{op}.shuffle_bytes"] = counter(op, "shuffle_write")
        m[f"{op}.spill_bytes"] = counter(op, "spill")
        m[f"{op}.task_skew"] = ev.get(op, {}).get("task_skew", 1.0)
    return {k: (v, unit_of(k)) for k, v in sorted(m.items())}


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written") or name.endswith(
        "bytes_rewritten"
    ):
        return "bytes"
    if name.endswith("bytes_per_triple"):
        return "bytes/triple"
    if name.endswith(("_frac", "_ratio", "_yield", "_skew", "_amp")):
        return "ratio"
    return "count"
