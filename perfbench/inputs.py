"""Seeded benchmark inputs, written in the production row-group layout.

Extraction corpora come from the program's own generators
(``generate_corpus`` for regular documents, ``write_mega_corpus_parquet``
for the mega-document corpus); curation documents come from a generator
here with the measured shape of the repo's sf0.1 ``documents`` test
table.  Every table is rewritten with ``tools/make_sf.py``'s row-group
rule so the scan sees the layout production ingest writes, and the
reference extractor (``oracle.extract_document``) runs once per seed
over the same documents.  Results are cached per (workload, seed) under
the work directory; nothing here starts Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SPAN_IN = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
SPAN_OUT = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("order", pa.int32()),
    ]
)
STATUS = pa.struct([("ok", pa.bool_()), ("reason", pa.string())])
CAND_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("offset", pa.int32()),
        ("engine", pa.string()),
        ("text", pa.string()),
        ("confidence", pa.float64()),
    ]
)
DOC_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_IN))])
ORACLE_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("spans", pa.list_(SPAN_OUT)), ("status", STATUS)]
)

# regular documents are generated in this many independent sub-corpora,
# one per worker process; each sub-corpus has its own doc_id prefix
GEN_PARTS = 4


def rows_per_group(n_rows: int) -> int:
    """tools/make_sf.py's ingest rule: at least 64 row groups per table,
    each between 2,048 and 122,880 rows."""
    return max(2048, min(122_880, n_rows // 64))


def write_table(table: pa.Table, path: str) -> dict:
    pq.write_table(table, path, row_group_size=rows_per_group(table.num_rows))
    meta = pq.ParquetFile(path).metadata
    return {
        "rows": table.num_rows,
        "row_groups": meta.num_row_groups,
        "bytes": os.path.getsize(path),
    }


def _oracle_rows(docs: list[dict], cands: list[dict]) -> list[dict]:
    from collections import defaultdict

    from ocr_project_spark import oracle

    by_key: dict = defaultdict(list)
    for c in cands:
        by_key[(c["doc_id"], c["offset"])].append(c)
    rows = []
    for d in docs:
        out = oracle.extract_document(d, by_key)
        ok, reason = out["status"]
        rows.append(
            {"doc_id": out["doc_id"], "spans": out["spans"],
             "status": {"ok": ok, "reason": reason}}
        )
    return rows


PART_KINDS = ("docs", "cands", "oracle")


def _regular_part(n_docs: int, base_seed: int, prefix: str, out: str) -> None:
    """One sub-corpus: generate_corpus output with prefixed doc ids,
    plus its reference extraction, written as ``out``-{docs,cands,oracle}
    parquet files.  Runs in a worker process (see __main__ below)."""
    from ocr_project_spark.sources.generate import generate_corpus

    docs, cands = generate_corpus(n_docs=n_docs, base_seed=base_seed)
    for d in docs:
        d["doc_id"] = prefix + d["doc_id"]
    for c in cands:
        c["doc_id"] = prefix + c["doc_id"]
    tables = (
        pa.Table.from_pylist(docs, DOC_SCHEMA),
        pa.Table.from_pylist(cands, CAND_SCHEMA),
        pa.Table.from_pylist(_oracle_rows(docs, cands), ORACLE_SCHEMA),
    )
    for kind, table in zip(PART_KINDS, tables):
        pq.write_table(table, f"{out}-{kind}.parquet")


def _run_parts(jobs: list[tuple[int, int, str]], out_dir: str) -> list[pa.Table]:
    """Runs _regular_part for each job in its own worker process and
    returns the concatenated docs, cands and oracle tables.  On every
    path out, each worker has ended and been waited for."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)}
    outs = [os.path.join(out_dir, f"part{j}") for j in range(len(jobs))]
    procs = []
    try:
        for (n, base_seed, prefix), out in zip(jobs, outs):
            procs.append(subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), str(n), str(base_seed),
                 prefix, out], cwd=root, env=env, stdin=subprocess.DEVNULL))
        codes = [p.wait() for p in procs]
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    if any(codes):
        raise RuntimeError(f"input generation workers exited with {codes}")
    tables = [
        pa.concat_tables([pq.read_table(f"{out}-{kind}.parquet") for out in outs])
        for kind in PART_KINDS
    ]
    for out in outs:
        for kind in PART_KINDS:
            os.remove(f"{out}-{kind}.parquet")
    return tables


def _cached(out_dir: str) -> dict | None:
    path = os.path.join(out_dir, "inputs.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return None


def _fresh(out_dir: str) -> None:
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)


def _commit(out_dir: str, meta: dict) -> dict:
    tmp = os.path.join(out_dir, "inputs.json.part")
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, os.path.join(out_dir, "inputs.json"))
    return meta


def _write_extraction(out_dir: str, seed: int, docs_t, cands_t, oracle_t) -> dict:
    """Writes the three tables of an extraction input and commits its
    record (paths, sizes, row groups, bytes)."""
    spans = pc.list_value_length(docs_t["spans"]).to_numpy(zero_copy_only=False)
    meta = {
        "seed": seed,
        "n_docs": docs_t.num_rows,
        "n_spans": int(spans.sum()),
        "max_spans_per_doc": int(spans.max()),
        "n_candidates": cands_t.num_rows,
        "documents": write_table(docs_t, os.path.join(out_dir, "documents.parquet")),
        "candidates": write_table(cands_t, os.path.join(out_dir, "candidates.parquet")),
    }
    pq.write_table(oracle_t, os.path.join(out_dir, "oracle.parquet"))
    return _commit(out_dir, meta)


def corpus_inputs(out_dir: str, seed: int, n_docs: int) -> dict:
    """documents.parquet, candidates.parquet and oracle.parquet for one
    seed: ``n_docs`` generate_corpus documents, made as GEN_PARTS
    sub-corpora in parallel worker processes."""
    meta = _cached(out_dir)
    if meta is not None:
        return meta
    _fresh(out_dir)
    per = -(-n_docs // GEN_PARTS)
    jobs = [
        (min(per, n_docs - j * per), (seed * GEN_PARTS + j) * 1_000_000, f"p{j}-")
        for j in range(GEN_PARTS)
        if n_docs - j * per > 0
    ]
    return _write_extraction(out_dir, seed, *_run_parts(jobs, out_dir))


# regular documents next to the mega document, as bench.py's mega corpus
MEGA_NEIGHBOURS = 50


def mega_inputs(out_dir: str, seed: int, n_spans: int) -> dict:
    """The same three tables for write_mega_corpus_parquet's corpus:
    one document of ``n_spans`` spans next to MEGA_NEIGHBOURS regular
    ones."""
    from ocr_project_spark.sources.generate import write_mega_corpus_parquet

    meta = _cached(out_dir)
    if meta is not None:
        return meta
    _fresh(out_dir)
    doc_path, cand_path = write_mega_corpus_parquet(
        os.path.join(out_dir, "raw"), mega_span_count=n_spans,
        n_regular=MEGA_NEIGHBOURS, base_seed=seed,
    )
    docs_t = pq.read_table(doc_path).cast(DOC_SCHEMA)
    cands_t = pq.read_table(cand_path).cast(CAND_SCHEMA)
    oracle_t = pa.Table.from_pylist(
        _oracle_rows(docs_t.to_pylist(), cands_t.to_pylist()), ORACLE_SCHEMA
    )
    shutil.rmtree(os.path.join(out_dir, "raw"))
    return _write_extraction(out_dir, seed, docs_t, cands_t, oracle_t)


# The shape of the repo's sf0.1 ``documents`` test table (5,000 rows,
# 270,704 tokens), measured column by column: token counts uniform on
# 10..100 (median 54), words drawn uniformly from these 30 (8,829 to
# 9,182 uses each), 250 documents (5%) another document's text plus
# " dup" -- a few of them copies of a document that is itself one, 8
# pairs equal -- no e-mail address or phone number, languages en 41%,
# zh/es/fr/de 15% each, sources src0..src19 round robin.
CURATE_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
NEAR_DUP_SHARE = 0.05
LANG_SHARES = {"en": 0.4118, "zh": 0.1506, "es": 0.1488, "fr": 0.1484, "de": 0.1404}


def curate_inputs(out_dir: str, seed: int, n_docs: int) -> dict:
    """documents.parquet (doc_id, text, lang, source, n_chars) with the
    measured shape of the sf0.1 ``documents`` test table (see above),
    drawn afresh from ``seed``."""
    meta = _cached(out_dir)
    if meta is not None:
        return meta
    _fresh(out_dir)
    rng = np.random.default_rng(seed)
    vocab = np.array(CURATE_VOCAB)
    lengths = rng.integers(10, 101, size=n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=int(k))]) for k in lengths]
    near = rng.choice(n_docs, size=round(NEAR_DUP_SHARE * n_docs), replace=False)
    for i in near:  # in random order, so a source may already be a near duplicate
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(list(LANG_SHARES), size=n_docs,
                                        p=list(LANG_SHARES.values()))),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    meta = {
        "seed": seed,
        "n_docs": n_docs,
        "n_tokens": int(sum(len(t.split()) for t in texts)),
        "near_duplicates": len(near),
        "documents": write_table(table, os.path.join(out_dir, "documents.parquet")),
    }
    return _commit(out_dir, meta)


if __name__ == "__main__":
    # worker process of _run_parts: n_docs base_seed prefix out
    _regular_part(int(sys.argv[1]), int(sys.argv[2]), sys.argv[3], sys.argv[4])
