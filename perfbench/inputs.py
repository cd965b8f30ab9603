"""Seeded benchmark inputs and their sequential-oracle answers.

Everything here is derived from the workload seed alone and cached under
``<checkout>/.perfbench_cache/`` (git-ignored), keyed on the seed, the
input size and ``CORPUS_VERSION`` / ``DOCS_VERSION``: a second run with
the same seed reuses the files and the oracle answers. The program under
test only ever sees the generated parquet; the oracle answers stay in the
benchmark process.

Inputs:

* kg pages: ``write_pages_parquet(seed=...)`` (the generator's ~1% of
  30x-long documents, ~5% non-English documents and the hot external
  cited by ~30% of documents are all part of every corpus), the entity
  dictionary rows, and ``oracle_triples_grouped`` over the same corpus.
* documents: a seeded twin of the bench-scale ``documents`` table (the
  table itself is not part of the checkout), written in
  ``scripts/make_scale_dir.py``'s replica layout — one parquet file per
  replica, doc ids offset per replica, replicas k>0 rewritten by a
  seed-chosen caesar rotation of [a-zA-Z], rows in seed-chosen order —
  with the expected rows of ``minhash_lsh_expected``,
  ``fuzzy_link_expected`` and the duckdb run of ``SQL_DEDUP_NGRAM``.
"""

from __future__ import annotations

import multiprocessing
import os
import pickle
import random
import shutil
import subprocess
import sys
import time
import uuid

CACHE_DIR = ".perfbench_cache"

# bump when the documents generator below changes its output
DOCS_VERSION = 2
# rows per replica in the small table the simjoin warm pass runs on
WARM_ROWS = 100

# the bench-scale documents table's shape: 30 words drawn uniformly,
# 10-100 words per document, 5% near-duplicates (an earlier document
# plus one marker token), five language labels, 20 sources
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
DOC_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
DOC_DUP_FRAC = 0.05
DOC_SOURCES = 20


def cache_root(root: str) -> str:
    return os.path.join(root, CACHE_DIR)


def _publish(tmp: str, final: str) -> None:
    """Atomically expose a finished cache entry (a killed run leaves only
    a ``.tmp-`` directory, which the next run ignores and overwrites)."""
    if os.path.exists(final):
        shutil.rmtree(tmp)
        return
    os.replace(tmp, final)


def _fresh_tmp(parent: str) -> str:
    path = os.path.join(parent, f".tmp-{uuid.uuid4().hex}")
    os.makedirs(path)
    return path


# ------------------------------------------------------------ kg pages


def _oracle_chunk(task) -> dict:
    """Grouped oracle triples for documents [lo, hi) of one corpus."""
    lo, hi, n_docs, seed = task
    from theoremkb_spark.corpus.generator import (
        _doc_cite_targets,
        build_doc,
        entity_dict_rows,
        externals,
    )
    from theoremkb_spark.corpus.oracle import oracle_triples_grouped

    exts = externals(seed)
    docs = []
    for i in range(lo, hi):
        targets = _doc_cite_targets(i, seed, exts, n_docs)
        entries = [(t, title) for t, _, title in targets]
        docs.append((build_doc(i, seed, cite_entries=entries), targets))
    return oracle_triples_grouped(docs, entity_dict_rows(n_docs, seed))


def _kg_dir(root: str, seed: int, n_docs: int) -> str:
    from theoremkb_spark.corpus.generator import CORPUS_VERSION

    return os.path.join(cache_root(root), f"kg-v{CORPUS_VERSION}-s{seed}-n{n_docs}")


def build_kg(root: str, seed: int, n_docs: int, jobs: int) -> None:
    from theoremkb_spark.pipeline.extract import write_pages_parquet

    tmp = _fresh_tmp(cache_root(root))
    write_pages_parquet(os.path.join(tmp, "pages"), n_docs, seed=seed, jobs=jobs)
    per = -(-n_docs // jobs)
    tasks = [(lo, min(lo + per, n_docs), n_docs, seed) for lo in range(0, n_docs, per)]
    oracle: dict = {}
    with multiprocessing.get_context("spawn").Pool(jobs) as pool:
        for part in pool.map(_oracle_chunk, tasks):
            for t, g in part.items():
                if t not in oracle or g < oracle[t]:
                    oracle[t] = g
    with open(os.path.join(tmp, "oracle.pkl"), "wb") as f:
        pickle.dump(oracle, f)
    _publish(tmp, _kg_dir(root, seed, n_docs))


def kg_inputs(root: str, seed: int, n_docs: int, jobs: int) -> dict:
    """-> {"pages": parquet dir, "dict_rows": [...], "oracle": {triple:
    group}, "gen_s": seconds spent generating (0 on a cache hit)}."""
    from theoremkb_spark.corpus.generator import entity_dict_rows

    final = _kg_dir(root, seed, n_docs)
    gen_s = _ensure(root, final, "kg", seed, n_docs, jobs)
    with open(os.path.join(final, "oracle.pkl"), "rb") as f:
        oracle = pickle.load(f)
    return {
        "pages": os.path.join(final, "pages"),
        "dict_rows": entity_dict_rows(n_docs, seed),
        "oracle": oracle,
        "n_docs": n_docs,
        "gen_s": gen_s,
    }


# ----------------------------------------------------------- documents


def base_documents(seed: int, n_docs: int) -> list[tuple[int, str, str, str]]:
    """(doc_id, text, lang, source) rows of one replica."""
    rng = random.Random(f"{seed}/documents")
    langs, weights = zip(*DOC_LANGS)
    rows = []
    for i in range(n_docs):
        if i > 0 and rng.random() < DOC_DUP_FRAC:
            text = rows[rng.randrange(i)][1] + " dup"
        else:
            text = " ".join(rng.choice(DOC_VOCAB) for _ in range(rng.randint(10, 100)))
        rows.append(
            (i, text, rng.choices(langs, weights)[0], f"src{i % DOC_SOURCES}")
        )
    return rows


def _caesar(k: int) -> dict[int, int]:
    lower = {97 + i: 97 + (i + k) % 26 for i in range(26)}
    upper = {65 + i: 65 + (i + k) % 26 for i in range(26)}
    return {**lower, **upper}


def replicated_documents(seed: int, n_base: int, replicas: int) -> list[list[tuple]]:
    """Replica tables in make_scale_dir.py's layout: doc ids offset per
    replica, replicas k>0 caesar-rotated by a seed-chosen distinct shift
    (every word 3-gram and char 5-gram maps to a replica-unique one, so
    each replica's near-duplicate structure mirrors the base), and each
    replica's rows in a seed-chosen order."""
    base = base_documents(seed, n_base)
    rng = random.Random(f"{seed}/replicas")
    shifts = [0] + rng.sample(range(1, 26), replicas - 1)
    out = []
    for k, shift in enumerate(shifts):
        tr = _caesar(shift)
        rows = [
            (i + k * n_base, t.translate(tr) if shift else t, lang, src)
            for i, t, lang, src in base
        ]
        rng.shuffle(rows)
        out.append(rows)
    return out


def _ngram_expected(docs_dir: str) -> list[tuple]:
    import duckdb

    from theoremkb_spark.queries_docs import SQL_DEDUP_NGRAM

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{docs_dir}/*.parquet')"
        )
        return [tuple(r) for r in con.execute(SQL_DEDUP_NGRAM).fetchall()]
    finally:
        con.close()


def _fuzzy_expected(docs) -> list[tuple]:
    from theoremkb_spark.corpus.dedup_oracle import fuzzy_link_expected, link_fuzzy_keys

    return fuzzy_link_expected(*link_fuzzy_keys(docs))


def _docs_dir(root: str, seed: int, n_base: int, replicas: int) -> str:
    return os.path.join(
        cache_root(root), f"docs-v{DOCS_VERSION}-s{seed}-n{n_base}x{replicas}"
    )


def build_docs(root: str, seed: int, n_base: int, replicas: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from theoremkb_spark.corpus.dedup_oracle import minhash_lsh_expected

    tmp = _fresh_tmp(cache_root(root))
    table_dir = os.path.join(tmp, "documents.parquet")
    os.makedirs(table_dir)
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    docs, warm = [], []
    for k, rows in enumerate(replicated_documents(seed, n_base, replicas)):
        ids, texts, langs, sources = zip(*rows)
        tbl = pa.table(
            [ids, texts, langs, sources, [len(t) for t in texts]], schema=schema
        )
        pq.write_table(tbl, os.path.join(table_dir, f"part-{k:02d}.parquet"))
        docs.extend(zip(ids, texts))
        warm.append(tbl.slice(0, WARM_ROWS))
    warm_dir = os.path.join(tmp, "warm", "documents.parquet")
    os.makedirs(warm_dir)
    pq.write_table(pa.concat_tables(warm), os.path.join(warm_dir, "part-00.parquet"))
    with multiprocessing.get_context("spawn").Pool(3) as pool:
        tasks = {
            name: pool.apply_async(fn, args)
            for name, fn, args in (
                ("dedup_minhash_lsh", minhash_lsh_expected, (docs,)),
                ("dedup_ngram_jaccard", _ngram_expected, (table_dir,)),
                ("link_fuzzy_lsh", _fuzzy_expected, (docs,)),
            )
        }
        expected = {name: t.get() for name, t in tasks.items()}
    with open(os.path.join(tmp, "expected.pkl"), "wb") as f:
        pickle.dump(expected, f)
    _publish(tmp, _docs_dir(root, seed, n_base, replicas))


def docs_inputs(root: str, seed: int, n_base: int, replicas: int) -> dict:
    """-> {"dir": table dir for QUERIES_DOCS (holds documents.parquet/),
    "warm_dir": the same layout with a few rows per replica, "n_docs",
    "expected": {query name: expected rows}, "gen_s"}."""
    final = _docs_dir(root, seed, n_base, replicas)
    gen_s = _ensure(root, final, "docs", seed, n_base, replicas)
    with open(os.path.join(final, "expected.pkl"), "rb") as f:
        expected = pickle.load(f)
    return {
        "dir": final,
        "warm_dir": os.path.join(final, "warm"),
        "n_docs": n_base * replicas,
        "expected": expected,
        "gen_s": gen_s,
    }


def _ensure(root: str, final: str, kind: str, *args: int) -> float:
    """Build a missing cache entry in a child process (its worker pools
    and their helper processes end with it); -> seconds spent."""
    t0 = time.perf_counter()
    if not os.path.exists(final):
        os.makedirs(cache_root(root), exist_ok=True)
        subprocess.run(
            [sys.executable, "-m", "perfbench.inputs", root, kind, *map(str, args)],
            cwd=root,
            check=True,
        )
    return time.perf_counter() - t0


if __name__ == "__main__":
    _root, _kind, *_args = sys.argv[1:]
    {"kg": build_kg, "docs": build_docs}[_kind](_root, *map(int, _args))
