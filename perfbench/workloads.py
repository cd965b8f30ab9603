"""The untraced workloads. Each one sets up, repeats its timed operation
until the run's measuring window has passed, checks every operation's
output against the sequential oracle, and returns its end-to-end
metrics (name -> (value, unit)).

The repeated operations are exactly the production calls:

* kg_batch: ``build_kg`` with the driver-canonicalized dictionary
  (``load_dico``), committed as one snapshot through
  ``CheckpointedTripleStore.commit_batch`` plus ``lineage_rows`` — the
  calls ``stream_pages_to_store``'s batch handler makes;
* kg_incremental: ``run_incremental(..., limit=batch)`` until it returns
  -1 (``run_kg.py --store --batch-size``), then ``recommit_urls`` over
  one batch's worth of urls and a forced ``read_triples``;
* simjoin: the registered ``dedup_minhash_lsh``, ``dedup_ngram_jaccard``
  and ``link_fuzzy_lsh`` queries, each forced with the noop writer.
"""

from __future__ import annotations

import os
import shutil
import time

from . import inputs
from .common import Run, force, median, tail

KG_BATCH_DOCS = 800
# 17 batches of 20 documents cross compaction's 16-batch threshold
KG_INCR_DOCS = 340
KG_INCR_BATCH = 20
DOCS_BASE = 400
DOCS_REPLICAS = 2
SIMJOIN_QUERIES = (
    ("minhash_s", "dedup_minhash_lsh"),
    ("ngram_s", "dedup_ngram_jaccard"),
    ("fuzzy_link_s", "link_fuzzy_lsh"),
)
# Timed repetitions per run, at least. The first ones are still warming
# (the JVM keeps compiling for several repetitions), so a count that
# varied with machine speed would move the median; these floors outlast
# the measuring window, which only adds repetitions on a fast machine.
KG_MIN_REPS = 4
SIMJOIN_MIN_ROUNDS = 2


def _triples_dict(rows) -> dict:
    return {(r.subj, r.pred, r.obj, r.url): r.group for r in rows}


# --------------------------------------------------------------- kg_batch


def kg_batch_rep(spark, pages, dico, store_dir: str) -> float:
    """One timed whole-corpus pass: build_kg + one snapshot commit."""
    from theoremkb_spark.io.catalog import CheckpointedTripleStore
    from theoremkb_spark.pipeline.runner import build_kg, lineage_rows, release_caches

    store = CheckpointedTripleStore(store_dir)
    t0 = time.perf_counter()
    caches: list = []
    triples = build_kg(spark, pages, dico=dico, cache_registry=caches).cache()
    caches.append(triples)
    try:
        store.commit_batch(triples, pages.select("url"), lineage_rows(triples, "triples"))
    finally:
        release_caches(caches)
    return time.perf_counter() - t0


def kg_batch_setup(run: Run, warm_frac: int = 4):
    """Session, workers, dictionary and a warm pass over 1/warm_frac of
    the corpus -> (pages, dico, inputs)."""
    from pyspark.sql import functions as F

    from theoremkb_spark.pipeline.runner import load_dico
    from theoremkb_spark.session import warm_python_workers

    inp = inputs.kg_inputs(run.root, run.seed, KG_BATCH_DOCS, run.cpus)
    run.excluded += inp["gen_s"]
    run.phase("inputs")
    spark = run.start_spark()
    run.phase("session")
    warm_python_workers(spark, run.cpus)
    run.phase("workers")
    dico = load_dico(spark, inp["dict_rows"]).cache()
    dico.count()
    run.phase("dictionary")
    pages = spark.read.parquet(inp["pages"])
    warm = pages.filter(F.abs(F.xxhash64("url")) % warm_frac == 0)
    kg_batch_rep(spark, warm, dico, run.path("warm-store"))
    shutil.rmtree(run.path("warm-store"))
    run.phase("warm pass")
    return pages, dico, inp


def kg_batch(run: Run) -> dict:
    from theoremkb_spark.io.catalog import CheckpointedTripleStore

    pages, dico, inp = kg_batch_setup(run)
    spark = run.spark
    setup_s = run.setup_done()
    walls, rates = [], []
    while run.more(len(walls), KG_MIN_REPS):
        store_dir = run.path(f"store-{len(walls)}")
        try:
            wall = kg_batch_rep(spark, pages, dico, store_dir)
            got = _triples_dict(CheckpointedTripleStore(store_dir).read_triples(spark).collect())
            ok = got == inp["oracle"]
        except Exception as exc:  # a failed rep is a failed operation
            print(f"kg_batch rep failed: {exc!r}")
            wall, ok, got = time.perf_counter() - run.t_measure, False, {}
        run.op(ok)
        walls.append(wall)
        rates.append(len(got) / wall)
        shutil.rmtree(store_dir, ignore_errors=True)
    p50 = median(walls)
    print(f"kg_batch: {inp['n_docs']} docs, {len(inp['oracle'])} oracle triples, "
          f"reps {[round(w, 3) for w in walls]}")
    print(f"runner.persisted_rdds_after {run.persisted_rdds()} count "
          "(the benchmark's own cached dictionary is 1)")
    return {
        "setup_s": (setup_s, "s"),
        "rep_p50_s": (p50, "s"),
        "work_per_s": (median(rates), "1/s"),
        "triples_per_s": (median(rates), "triples/s"),
    }


# --------------------------------------------------------- kg_incremental


def kg_incremental(run: Run) -> dict:
    from pyspark.sql import functions as F

    from theoremkb_spark.io.catalog import (
        CheckpointedTripleStore,
        recommit_urls,
        run_incremental,
    )
    from theoremkb_spark.pipeline.runner import load_entity_dict
    from theoremkb_spark.session import warm_python_workers

    inp = inputs.kg_inputs(run.root, run.seed, KG_INCR_DOCS, run.cpus)
    run.excluded += inp["gen_s"]
    run.phase("inputs")
    spark = run.start_spark()
    run.phase("session")
    warm_python_workers(spark, run.cpus)
    run.phase("workers")
    # the raw dictionary: run_incremental canonicalizes it once per batch
    ents = load_entity_dict(spark, KG_INCR_DOCS, run.seed).cache()
    ents.count()
    run.phase("dictionary")
    pages = spark.read.parquet(inp["pages"])
    warm_store = CheckpointedTripleStore(run.path("warm-store"))
    for _ in range(2):
        run_incremental(spark, pages, ents, warm_store, limit=KG_INCR_BATCH)
    shutil.rmtree(run.path("warm-store"))
    run.phase("warm pass")
    setup_s = run.setup_done()

    store = CheckpointedTripleStore(run.path("store"))
    batches: list[float] = []
    t0 = time.perf_counter()
    while True:
        tb = time.perf_counter()
        try:
            bid = run_incremental(spark, pages, ents, store, limit=KG_INCR_BATCH)
        except Exception as exc:
            print(f"kg_incremental batch failed: {exc!r}")
            run.op(False)
            break
        if bid < 0:
            break
        batches.append(time.perf_counter() - tb)
        run.op(True)
    drain_s = time.perf_counter() - t0
    recrawl = pages.select("url").orderBy("url").limit(KG_INCR_BATCH)
    t1 = time.perf_counter()
    try:
        recommit_urls(spark, pages, ents, store, urls=recrawl)
        run.op(True)
    except Exception as exc:
        print(f"kg_incremental re-crawl failed: {exc!r}")
        run.op(False)
    recrawl_s = time.perf_counter() - t1
    t2 = time.perf_counter()
    current = store.read_triples(spark)
    force(current)
    read_s = time.perf_counter() - t2
    got = _triples_dict(current.collect())

    per_batch: dict[int, int] = {}
    for r in store.read_lineage(spark).filter(F.col("stage") == "triples").collect():
        per_batch[r.batch_id] = per_batch.get(r.batch_id, 0) + r.rows
    drained = sum(v for k, v in per_batch.items() if k < len(batches))
    ok = got == inp["oracle"] and drained == len(got)
    run.op(ok)
    comp = sorted(p for p in ("url_ledger_compaction.json", "triples_compaction.json")
                  if os.path.exists(run.path("store", p)))
    p_tail, pct = tail(batches)
    print(f"kg_incremental: {inp['n_docs']} docs, {len(batches)} batches of "
          f"{KG_INCR_BATCH}, compaction pointers {comp}, read {len(got)} triples, "
          f"lineage drained {drained}")
    print(f"batch_tail_s is the p{pct} of {len(batches)} batches" if pct else
          f"batch_tail_s: fewer than 11 batches ({len(batches)}), reported as the max")
    print(f"runner.persisted_rdds_after {run.persisted_rdds()} count "
          "(the benchmark's own cached dictionary is 1)")
    return {
        "setup_s": (setup_s, "s"),
        "triples_per_s": (drained / drain_s, "triples/s"),
        "batch_p50_s": (median(batches), "s"),
        "batch_tail_s": (p_tail if p_tail is not None else max(batches), "s"),
        "recrawl_s": (recrawl_s, "s"),
        "read_s": (read_s, "s"),
    }


# ---------------------------------------------------------------- simjoin


def simjoin_call(spark, name: str, table_dir: str):
    """One forced call of a registered query; -> (wall, result rows).
    The result is cached under the timed noop write so the oracle check
    reads it without recomputing (the outputs are a few hundred rows)."""
    from theoremkb_spark.queries_docs import QUERIES_DOCS

    t0 = time.perf_counter()
    df = QUERIES_DOCS[name][0](spark, table_dir).cache()
    force(df)
    wall = time.perf_counter() - t0
    rows = df.collect()
    df.unpersist()
    return wall, rows


def simjoin_ok(rows, expected) -> bool:
    return sorted((r[0], r[1], round(r[2], 6)) for r in rows) == sorted(
        (e[0], e[1], round(e[2], 6)) for e in expected
    )


def simjoin_setup(run: Run):
    from theoremkb_spark.session import warm_python_workers

    inp = inputs.docs_inputs(run.root, run.seed, DOCS_BASE, DOCS_REPLICAS)
    run.excluded += inp["gen_s"]
    run.phase("inputs")
    spark = run.start_spark()
    run.phase("session")
    warm_python_workers(spark, run.cpus)
    run.phase("workers")
    for _, name in SIMJOIN_QUERIES:
        simjoin_call(spark, name, inp["warm_dir"])
    run.phase("warm pass")
    return inp


def simjoin(run: Run) -> dict:
    inp = simjoin_setup(run)
    spark = run.spark
    setup_s = run.setup_done()
    per: dict[str, list[float]] = {m: [] for m, _ in SIMJOIN_QUERIES}
    rounds: list[float] = []
    while run.more(len(rounds), SIMJOIN_MIN_ROUNDS):
        total = 0.0
        for metric, name in SIMJOIN_QUERIES:
            try:
                wall, rows = simjoin_call(spark, name, inp["dir"])
                ok = simjoin_ok(rows, inp["expected"][name])
            except Exception as exc:
                print(f"simjoin {name} failed: {exc!r}")
                wall, ok = 0.0, False
            run.op(ok)
            per[metric].append(wall)
            total += wall
        rounds.append(total)
    print(f"simjoin: {inp['n_docs']} docs, expected rows "
          + ", ".join(f"{n} {len(inp['expected'][n])}" for _, n in SIMJOIN_QUERIES)
          + f", rounds {[round(r, 3) for r in rounds]}")
    print(f"runner.persisted_rdds_after {run.persisted_rdds()} count")
    out = {
        "setup_s": (setup_s, "s"),
        "rep_p50_s": (median(rounds), "s"),
        "work_per_s": (inp["n_docs"] / median(rounds), "1/s"),
    }
    out.update({m: (median(v), "s") for m, v in per.items()})
    return out


WORKLOADS = {"kg_batch": kg_batch, "kg_incremental": kg_incremental, "simjoin": simjoin}
